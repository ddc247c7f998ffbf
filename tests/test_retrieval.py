"""BM25 retrieval (kg/stages/retrieval.py): hand-computed scores on
a 3-doc fixture, ranking/tie semantics, and the TakeOrdered plan pin.
The DuckDB hash certificate over sf0.01 lives in the `bm25_topk`
contract entry."""

from __future__ import annotations

import math

import pytest

from kg.stages.retrieval import B, K1, bm25_topk


@pytest.fixture(scope="module")
def out(spark):
    docs = spark.createDataFrame(
        [(1, "join join hash x"),          # both query terms, tf 2+1
         (2, "join y z w"),                # one term once
         (3, "a b c d e f")],              # no query terms
        "doc_id long, text string")
    res = bm25_topk(docs, ["join", "hash"], k=10)
    return {r["doc_id"]: r.asDict() for r in res.collect()}


def _bm25(tf, df, n, dl, avgdl):
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    return round(idf * tf * (K1 + 1.0)
                 / (tf + K1 * ((1.0 - B) + B * (dl / avgdl))), 6)


def test_scores_match_hand_formula(out):
    n, avgdl = 3, (4 + 4 + 6) / 3
    d1 = round(_bm25(2, 2, n, 4, avgdl)     # join: df 2
               + _bm25(1, 1, n, 4, avgdl), 6)  # hash: df 1
    d2 = round(_bm25(1, 2, n, 4, avgdl), 6)
    assert out[1]["score"] == pytest.approx(d1, abs=1e-9)
    assert out[2]["score"] == pytest.approx(d2, abs=1e-9)


def test_ranking_and_zero_match_excluded(out):
    assert out[1]["rank"] == 1 and out[2]["rank"] == 2
    assert 3 not in out          # no query term → not retrieved


def test_topk_plan_is_take_ordered_not_global_sort(spark):
    # the scale contract (module docstring): global top-k must be
    # TakeOrdered(AndProject), never an Exchange SinglePartition sort
    docs = spark.createDataFrame(
        [(i, "join hash") for i in range(50)], "doc_id long, text string")
    executed = (bm25_topk(docs, ["join", "hash"], k=10)
                ._jdf.queryExecution().executedPlan())
    assert "TakeOrderedAndProject" in executed.toString()
    # the rank over the k survivors must not be a Window without a
    # partition spec (Spark warns "No Partition Defined for Window"
    # and moves all data to one partition)
    assert _unpartitioned_windows(executed) == 0


def _unpartitioned_windows(node) -> int:
    """Window operators with an empty partition spec in a physical
    plan, walking through AQE wrappers and query stages."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return _unpartitioned_windows(node.executedPlan())
    if name.endswith("QueryStage"):
        return _unpartitioned_windows(node.plan())
    n = int(name == "Window" and node.partitionSpec().isEmpty())
    kids = node.children()
    return n + sum(_unpartitioned_windows(kids.apply(i))
                   for i in range(kids.size()))
