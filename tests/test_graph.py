"""kg/stages/graph.py — PageRank power iteration vs an independent
dense numpy reference (no shared code path: the reference builds the
full transition matrix and multiplies), on both branches of the
driver gate, and the driver branch against the distributed one."""
from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kg.stages import graph

_MAX_NODES = graph.DRIVER_GRAPH_MAX_NODES
_MATERIALIZE = graph._materialize


def _on_branch(mp, distributed: bool) -> list:
    """Set the node bound so the next calls take the driver branch or
    the distributed one (-1 is below any row count, so even an empty
    node table overflows it), and return a list recording each
    ``_materialize`` call: only the distributed branch makes them."""
    mp.setattr(graph, "DRIVER_GRAPH_MAX_NODES",
               -1 if distributed else _MAX_NODES)
    calls: list = []

    def spy(df):
        calls.append(1)
        return _MATERIALIZE(df)

    mp.setattr(graph, "_materialize", spy)
    return calls


def _numpy_pagerank(n, edge_list, iters):
    M = np.zeros((n, n))
    outdeg = np.zeros(n)
    for s, d in edge_list:
        outdeg[s] += 1
    for s, d in edge_list:
        M[d, s] += 1.0 / outdeg[s]
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        pr = graph.TELEPORT / n + graph.DAMP * (M @ pr)
    return pr


def _edges(spark, edge_list):
    return spark.createDataFrame(edge_list, "src long, dst long")


def test_pagerank_matches_dense_reference(spark, monkeypatch):
    # a 6-node graph with a hub, a 2-cycle, and an in-degree-0 node
    # (node 5 only points outward — it must keep teleport mass only)
    edge_list = [(0, 1), (0, 2), (0, 3), (1, 0), (2, 0), (3, 4),
                 (4, 3), (5, 0)]
    n = 6
    nodes = spark.range(n).select(F.col("id").alias("node"))
    for distributed in (False, True):
        calls = _on_branch(monkeypatch, distributed)
        for iters in (1, 3, 7):
            got = dict(graph.pagerank(nodes, _edges(spark, edge_list),
                                      iters=iters)
                       .collect())
            want = _numpy_pagerank(n, edge_list, iters)
            for i in range(n):
                assert abs(got[i] - want[i]) < 1e-12, (iters, i)
        assert bool(calls) == distributed


def test_pagerank_mass_conserved_on_symmetric_graph(spark, monkeypatch):
    # symmetrized ring: every node has out-edges, so each iteration
    # maps total mass 1 -> TELEPORT + DAMP*1 = 1 exactly
    n = 40
    half = [(i, (i + 1) % n) for i in range(n)]
    edge_list = half + [(d, s) for s, d in half]
    nodes = spark.range(n).select(F.col("id").alias("node"))
    for distributed in (False, True):
        calls = _on_branch(monkeypatch, distributed)
        pr = graph.pagerank(nodes, _edges(spark, edge_list), iters=4,
                            checkpoint_every=2)
        mass = pr.agg(F.sum("pr")).collect()[0][0]
        assert abs(mass - 1.0) < 1e-12
        # ring symmetry: every node identical
        vals = [r["pr"] for r in pr.collect()]
        assert max(vals) - min(vals) < 1e-15
        assert bool(calls) == distributed


def test_pagerank_dangling_nodes_keep_teleport_only(spark, monkeypatch):
    # documented simplified variant: a node with no out-edges loses
    # its mass; a node with no IN-edges holds exactly TELEPORT/n
    edge_list = [(0, 1), (1, 2), (2, 0), (3, 0)]  # 3 has no in-edges
    nodes = spark.range(4).select(F.col("id").alias("node"))
    for distributed in (False, True):
        calls = _on_branch(monkeypatch, distributed)
        got = dict(graph.pagerank(nodes, _edges(spark, edge_list),
                                  iters=3).collect())
        assert abs(got[3] - graph.TELEPORT / 4) < 1e-15
        assert bool(calls) == distributed


def _numpy_khop_min(n, edge_list, iters):
    """Independent reference: label(v,t) = min over {v} ∪ in-nbrs of
    label(·, t-1), computed densely."""
    lab = list(range(n))
    for _ in range(iters):
        nxt = list(lab)
        for s, d in edge_list:
            nxt[d] = min(nxt[d], lab[s])
        lab = nxt
    return lab


def test_min_label_propagation_matches_dense_reference(spark, monkeypatch):
    # directed graph incl. a node with no in-edges (keeps own label)
    edge_list = [(3, 0), (0, 1), (1, 2), (4, 2), (2, 4), (5, 4)]
    n = 6
    nodes = spark.range(n).select(
        F.col("id").cast("string").alias("node"))
    edges = spark.createDataFrame(
        [(str(s), str(d)) for s, d in edge_list],
        "src string, dst string")
    for distributed in (False, True):
        calls = _on_branch(monkeypatch, distributed)
        for iters in (1, 2, 4):
            got = dict(graph.min_label_propagation(
                nodes, edges, iters=iters).collect())
            want = _numpy_khop_min(n, edge_list, iters)
            for v in range(n):
                assert got[str(v)] == str(want[v]), (iters, v)
        assert bool(calls) == distributed


def test_min_label_propagation_fixpoint_is_cc_min(spark, monkeypatch):
    # symmetrized 2-component graph; diameter 3 -> 3 rounds converge
    half = [(0, 1), (1, 2), (2, 3), (5, 6), (6, 4)]
    edge_list = half + [(d, s) for s, d in half]
    nodes = spark.range(7).select(
        F.col("id").cast("string").alias("node"))
    edges = spark.createDataFrame(
        [(str(s), str(d)) for s, d in edge_list],
        "src string, dst string")
    for distributed in (False, True):
        calls = _on_branch(monkeypatch, distributed)
        got = dict(graph.min_label_propagation(nodes, edges, iters=3,
                                               checkpoint_every=2)
                   .collect())
        assert got == {"0": "0", "1": "0", "2": "0", "3": "0",
                       "4": "4", "5": "4", "6": "4"}
        assert bool(calls) == distributed


#: id encodings: strings mix one- and two-byte UTF-8 characters, whose
#: byte order the driver branch's sort must share with Spark's
_IDS = {"int": int, "long": int,
        "string": lambda v: "\u00f1" * (v % 3) + str(v)}
_OPS = (graph.pagerank, graph.min_label_propagation)


def _frames(spark, node_ids, edge_list, id_type):
    enc = _IDS[id_type]

    def e(v):
        return None if v is None else enc(v)

    nodes = spark.createDataFrame([(e(v),) for v in node_ids],
                                  f"node {id_type}")
    edges = spark.createDataFrame([(e(s), e(d)) for s, d in edge_list],
                                  f"src {id_type}, dst {id_type}")
    return nodes, edges


def _run(spark, op, node_ids, edge_list, id_type, iters, distributed):
    """(schema, sorted rows, whether the distributed branch ran)."""
    nodes, edges = _frames(spark, node_ids, edge_list, id_type)
    with pytest.MonkeyPatch.context() as mp:
        calls = _on_branch(mp, distributed)
        out = op(nodes, edges, iters=iters)
        rows = sorted(map(tuple, out.collect()),
                      key=lambda r: (r[0] is None, r[0]))
        return out.schema, rows, bool(calls)


def _assert_same_rows(op, got, want):
    assert [r[0] for r in got] == [r[0] for r in want]
    if op is graph.pagerank:   # sums in another order: ulps apart
        np.testing.assert_allclose([r[1] for r in got],
                                   [r[1] for r in want],
                                   rtol=1e-12, atol=0)
    else:
        assert got == want


@given(n=st.integers(0, 12),
       edge_list=st.lists(st.tuples(st.integers(0, 11),
                                    st.integers(0, 11)), max_size=30),
       id_type=st.sampled_from(sorted(_IDS)), iters=st.integers(0, 4))
@example(n=0, edge_list=[], id_type="long", iters=0)       # empty graph
@example(n=6, edge_list=[], id_type="string", iters=1)     # no edges
@example(n=12, edge_list=[(0, j) for j in range(1, 12)]   # hub, self-
         + [(3, 3), (4, 5), (4, 5), (5, 4)],              # loop, dups
         id_type="int", iters=4)
@settings(max_examples=6, deadline=None)
def test_driver_branch_equals_distributed(spark_prop, n, edge_list,
                                          id_type, iters):
    """Well-formed graphs (nodes ⊇ every endpoint; node ids past the
    edges are isolated nodes): the driver branch gives the forced
    distributed branch's schema and rows."""
    node_ids = sorted(set(range(n)) | {v for e in edge_list for v in e})
    for op in _OPS:
        d_schema, d_rows, d_ran = _run(spark_prop, op, node_ids,
                                       edge_list, id_type, iters, False)
        s_schema, s_rows, s_ran = _run(spark_prop, op, node_ids,
                                       edge_list, id_type, iters, True)
        assert (d_ran, s_ran) == (False, True)
        assert d_schema == s_schema, op.__name__
        _assert_same_rows(op, d_rows, s_rows)


@pytest.mark.parametrize("node_ids, edge_list", [
    ([0, 1, 2, 2], [(0, 1), (1, 2), (2, 0)]),          # duplicate node
    ([0, 1, None], [(0, 1), (None, 0)]),                # null id
    ([0, 1, 2], [(0, 1), (1, 7), (7, 2)]),              # endpoint ∉ nodes
], ids=["duplicate_node", "null_id", "missing_endpoint"])
def test_malformed_graphs_take_distributed_branch(spark, node_ids,
                                                  edge_list):
    """Inside the bounds a malformed graph still runs the distributed
    plan, so both settings of the gate give the same output."""
    for op in _OPS:
        got = _run(spark, op, node_ids, edge_list, "long", 2, False)
        want = _run(spark, op, node_ids, edge_list, "long", 2, True)
        assert got[2] and want[2], op.__name__
        assert got[0] == want[0], op.__name__
        _assert_same_rows(op, got[1], want[1])


def _brute_triangles(nodes, edge_set):
    import itertools

    per = {v: 0 for v in nodes}
    for a, b, c in itertools.combinations(sorted(nodes), 3):
        if ((a, b) in edge_set and (b, c) in edge_set
                and (a, c) in edge_set):
            for v in (a, b, c):
                per[v] += 1
    return {v: k for v, k in per.items() if k}


#: No triangles. Packing int ids with a 32-bit shift masks the shift
#: to a no-op (key = a + c), so edge (1, 21) closed the wedge
#: 10→11→12 (1 + 21 == 10 + 12): a phantom triangle {10, 11, 12}.
_SQUARE_PLUS_EDGE = {(10, 11), (11, 12), (12, 13), (10, 13), (1, 21)}


def test_triangle_counts_matches_bruteforce(spark):
    """Exact per-node counts vs brute force, for both 32- and 64-bit
    id columns (the broadcast closing probe packs ids into one long)."""
    import random

    rng = random.Random(7)
    n = 25
    random_set = {(a, b) for a in range(n) for b in range(a + 1, n)
                  if rng.random() < 0.25}
    for id_type in ("int", "long"):
        for edge_set in (random_set, _SQUARE_PLUS_EDGE):
            edges = spark.createDataFrame(
                sorted(edge_set), f"src {id_type}, dst {id_type}")
            got = dict(graph.triangle_counts(edges).collect())
            nodes = {v for e in edge_set for v in e}
            assert got == _brute_triangles(nodes, edge_set), id_type
    assert sum(_brute_triangles(range(n), random_set).values()) > 0


def test_triangle_counts_bipartite_is_empty(spark):
    # complete bipartite K_{3,3}: odd cycles impossible -> 0 rows
    for id_type in ("int", "long"):
        edges = spark.createDataFrame(
            [(a, b) for a in range(3) for b in range(10, 13)],
            f"src {id_type}, dst {id_type}")
        assert graph.triangle_counts(edges).count() == 0, id_type
