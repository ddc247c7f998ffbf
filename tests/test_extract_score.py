"""B1–B5 Spark-stage tests: extraction, scoring with the committed
weights, type filtering, dictionary linking (SURVEY.md §5.1)."""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from kg import schemas, spec
from kg.stages import extract, link, score


# Reference implementations of B4 and B5 as separate DataFrame steps.
# Production runs them fused into one pass
# (score.extract_and_score_fused and its cross-turn twin); the
# equivalence tests below compare the fused pass against these.

def score_instances(instances: DataFrame, weights_bc,
                    threshold: float = spec.REL_THRESHOLD,
                    type_filter: bool = True) -> DataFrame:
    """T3 → T4: classify every instance, drop NA and sub-threshold
    rows, optionally enforce the relation type signature."""
    rels = np.array(spec.RELATIONS)

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = None
        for pdf in it:
            if p is None:
                p = score._unpack_once(weights_bc)
            if len(pdf) == 0:
                yield pdf.assign(rel=pd.Series(dtype=str),
                                 score=pd.Series(dtype="float32"))
                continue
            ids = [list(x) for x in pdf["token_ids"]]
            lab, prob = score._predict(
                p, ids, pdf["head_pos"].to_numpy(),
                pdf["tail_pos"].to_numpy())
            out = pdf.copy()
            out["rel"] = rels[lab]
            out["score"] = prob.astype(np.float32)
            keep = (lab != spec.REL_TO_ID[spec.NA_RELATION]) & \
                   (prob >= threshold)
            yield out[keep]

    scored = instances.mapInPandas(score_batches, schema=schemas.SCORED)
    if type_filter:
        scored = score.apply_type_signature(scored)
    return scored


def link_exact(df: DataFrame, dict_df: DataFrame, norm_col: str,
               out_col: str) -> DataFrame:
    """Left broadcast-join ``norm_col`` against the dictionary; adds
    ``out_col`` (nullable canonical entity) and ``out_col + '_score'``
    (1.0 exact / null)."""
    d = F.broadcast(dict_df.select(
        F.col("norm").alias(norm_col),
        F.col("entity").alias(out_col)))
    return (df.join(d, on=norm_col, how="left")
              .withColumn(f"{out_col}_score",
                          F.when(F.col(out_col).isNotNull(), F.lit(1.0))))


def link_instances(scored: DataFrame, dict_df: DataFrame) -> DataFrame:
    """T4 → T4 ⊕ (head_entity, tail_entity): two broadcast joins."""
    df = link_exact(scored, dict_df, "head_norm", "head_entity")
    return link_exact(df, dict_df, "tail_norm", "tail_entity")

ROWS = [
    ("c1", 0, "user", "Ann Barard works at Acme Corp according to the report",
     None, datetime(2024, 1, 1)),
    ("c1", 1, "assistant", "no entities here at all", None,
     datetime(2024, 1, 1)),
    ("c2", 0, "user", "Ann Barard met Boris Barben at the conference",
     None, datetime(2024, 1, 1)),
]


def _t0(spark):
    return spark.createDataFrame(ROWS, schema=schemas.TRANSCRIPTS)


def test_extract_instances(spark):
    inst = extract.extract_instances(_t0(spark)).collect()
    # 2 entity-bearing turns × 2 ordered pairs
    assert len(inst) == 4
    fwd = [r for r in inst if r["conv_id"] == "c1"
           and r["head_norm"] == "ann barard"][0]
    assert fwd["tail_norm"] == "acme corp"
    assert fwd["head_pos"] == 0 and fwd["tail_pos"] == 4
    assert all(isinstance(i, int) for i in fwd["token_ids"])


def test_detect_mentions_ids_deterministic(spark):
    a = extract.detect_mentions(_t0(spark))
    b = extract.detect_mentions(_t0(spark).repartition(3))
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.where(F.col("mention_id").isNull()).isEmpty()


def test_score_keeps_relation_drops_na(spark):
    bc = score.broadcast_weights(spark)
    inst = extract.extract_instances(_t0(spark))
    out = score_instances(inst, bc).collect()
    got = {(r["head_norm"], r["rel"], r["tail_norm"]) for r in out}
    assert ("ann barard", "employed_by", "acme corp") in got
    # the NA conference sentence must not survive
    assert not any(r["conv_id"] == "c2" for r in out)
    assert all(r["score"] >= spec.REL_THRESHOLD for r in out)


def test_type_filter_blocks_signature_violations(spark):
    bc = score.broadcast_weights(spark)
    inst = extract.extract_instances(_t0(spark))
    # force a wrong-type head by relabeling mtypes before the filter
    typed = score_instances(inst, bc, type_filter=False) \
        .withColumn("head_mtype", F.lit("tool"))
    sig = score.TYPE_SIG["employed_by"]
    assert sig == ("person", "org")
    filtered = score_instances(inst, bc, type_filter=True)
    assert filtered.where(
        (F.col("rel") == "employed_by") &
        (F.col("head_mtype") != "person")).isEmpty()
    assert typed.count() >= filtered.count()


def test_cross_turn_instances(spark):
    rows = [
        ("c1", 0, "user", "we should ask Ann Barard about it", None,
         datetime(2024, 1, 1)),
        ("c1", 1, "assistant", "she joined Acme Corp last spring", None,
         datetime(2024, 1, 1)),
        ("c1", 3, "user", "also Dataquill is relevant", None,
         datetime(2024, 1, 1)),  # 2 turns after → outside k=1
    ]
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    out = extract.cross_turn_instances(df, k=1).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["head_norm"], r["tail_norm"]) == ("ann barard", "acme corp")
    # tail position offset past head turn + separator
    toks_head = 7  # "we should ask Ann Barard about it"
    assert r["head_pos"] == 3 and r["tail_pos"] > toks_head
    # token at tail_pos is the first token of the tail mention
    from kg import spec
    vocab_inv = {v: k for k, v in spec.vocabulary().items()}
    assert vocab_inv[r["token_ids"][r["tail_pos"]]] == "acme"


def test_link_exact_broadcast(spark):
    df = spark.createDataFrame(
        [("acme corp",), ("unknown thing",)], "head_norm string")
    out = link_exact(df, link.dictionary_df(spark),
                          "head_norm", "head_entity").collect()
    by = {r["head_norm"]: r for r in out}
    assert by["acme corp"]["head_entity"] == "Acme Corp"
    assert by["acme corp"]["head_entity_score"] == 1.0
    assert by["unknown thing"]["head_entity"] is None


def test_stream_groups_state_machine():
    """The shared streaming group-by (kg/stages/grouped.py) behind
    cross_turn_instances and score_bags: groups spanning Arrow batch
    boundaries stay whole, the output buffer flushes at group CLOSE
    (bounded even within one dense batch), a flush never splits a
    group, and an empty partition yields one empty correctly-columned
    frame."""
    import pandas as pd

    from kg.stages.grouped import stream_groups

    def frames():
        # group 'a' spans both frames; 'b' lives in frame 2
        yield pd.DataFrame({"g": ["a", "a"], "v": [1, 2]})
        yield pd.DataFrame({"g": ["a", "b", "b"], "v": [3, 4, 5]})

    def close(key, items):
        return [(key[0], sum(v[0] for v in items), len(items))]

    out = pd.concat(list(stream_groups(
        frames(), ["g", "v"], 1, close, ["g", "s", "n"])))
    got = {r.g: (r.s, r.n) for r in out.itertuples()}
    assert got == {"a": (6, 3), "b": (9, 2)}

    # flush bound: with flush_rows=1, every group close flushes, and
    # no frame ever contains a partially-closed group
    chunks = list(stream_groups(
        frames(), ["g", "v"], 1, close, ["g", "s", "n"], flush_rows=1))
    assert [len(c) for c in chunks] == [1, 1]
    assert list(pd.concat(chunks)["g"]) == ["a", "b"]

    # empty input: one empty frame with the right columns
    empty = list(stream_groups(
        iter([]), ["g", "v"], 1, close, ["g", "s", "n"]))
    assert len(empty) == 1 and list(empty[0].columns) == ["g", "s", "n"]
    assert empty[0].empty


def test_cross_turn_partitioning_independence(spark):
    """The streaming group-by path must produce the identical instance
    multiset under any shuffle-partition count — a group is never
    split across partitions (repartition on the full group key) and
    never truncated at an Arrow batch boundary (stream_groups buffers
    the open group)."""
    from kg import datagen, schemas
    from kg.stages import extract

    pdf, _ = datagen.generate(n_conversations=40, seed=42)
    t0 = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)

    def multiset(n_parts):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        try:
            rows = extract.cross_turn_instances(
                t0.repartition(n_parts), k=1).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        return sorted((r["conv_id"], r["turn_idx"], r["head_norm"],
                       r["tail_norm"], r["head_pos"], r["tail_pos"])
                      for r in rows)

    a, b = multiset(3), multiset(17)
    assert a == b and a


def test_cross_turn_fused_equals_composed_path(spark):
    """r5 fused cross-turn scorer ≡ the r4 composed path
    (cross_turn_instances → score_instances → link_instances) — the
    SAME equivalence claim the intra-turn fused extractor carries,
    now pinned for the cross-turn window too. Threshold dropped to 0
    so every non-NA score survives on both sides (the intra-turn-
    trained scorer labels most cross-turn pairs NA — 300 conversations
    yield a handful of survivors, enough to catch any wiring, offset,
    rename or filter divergence; the pairing itself is the SHARED
    xt_group_pairs close function, equal by construction)."""
    from kg import datagen

    pdf, _ = datagen.generate(n_conversations=300, seed=7)
    t0 = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    bc = score.broadcast_weights(spark)
    fused = score.extract_and_score_cross_turn_fused(
        t0, bc, k=1, threshold=0.0)
    inst = extract.cross_turn_instances(t0, k=1)
    composed = link_instances(
        score_instances(inst, bc, threshold=0.0),
        link.dictionary_df(spark)).select(
        [f.name for f in score.FUSED_SCHEMA.fields])

    def key_rows(df):
        return sorted(
            (r["conv_id"], r["turn_idx"], r["head_norm"], r["tail_norm"],
             r["head_pos"], r["tail_pos"], r["rel"],
             round(float(r["score"]), 5),
             r["head_entity"], r["tail_entity"])
            for r in df.collect())

    a, b = key_rows(fused), key_rows(composed)
    assert len(a) > 0
    assert a == b


def test_clustered_input_equals_shuffle_path(spark, tmp_path):
    """r5 clustered-input fast path: on a conv-bucketed layout (every
    conversation wholly inside one scan partition — here a parquet
    written via repartition(4, conv_id)), skipping the exchange must
    change NOTHING about the cross-turn instance multiset. This is
    the optimization's entire correctness claim; the layout contract
    itself is documented in extract.cross_turn_prepared."""
    from kg import datagen

    pdf, _ = datagen.generate(n_conversations=60, seed=11)
    t0 = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    path = str(tmp_path / "bucketed")
    t0.repartition(4, "conv_id").write.parquet(path)
    t_bucketed = spark.read.parquet(path)

    def multiset(clustered):
        rows = extract.cross_turn_instances(
            t_bucketed, k=1, clustered_input=clustered).collect()
        return sorted((r["conv_id"], r["turn_idx"], r["head_norm"],
                       r["tail_norm"], r["head_pos"], r["tail_pos"])
                      for r in rows)

    a, b = multiset(True), multiset(False)
    assert a == b and a

    # and through the fused scorer + full pipeline wiring
    from kg import pipeline
    from kg.stages import score as score_mod

    bc = score_mod.broadcast_weights(spark)
    fa = score_mod.extract_and_score_cross_turn_fused(
        t_bucketed, bc, k=1, threshold=0.0, clustered_input=True)
    fb = score_mod.extract_and_score_cross_turn_fused(
        t_bucketed, bc, k=1, threshold=0.0, clustered_input=False)

    def key_rows(df):
        return sorted(
            (r["conv_id"], r["turn_idx"], r["head_norm"], r["tail_norm"],
             r["head_pos"], r["tail_pos"], r["rel"],
             round(float(r["score"]), 5))
            for r in df.collect())

    assert key_rows(fa) == key_rows(fb)


def test_clustered_layout_ok_guard(spark, tmp_path):
    """clustered_layout_ok: True for small local files and in-memory
    frames; False once any input file exceeds maxPartitionBytes (the
    regime where Spark splits files mid-conversation and the
    clustered fast path would silently drop pairs)."""
    from kg import datagen
    from kg.stages.extract import clustered_layout_ok

    pdf, _ = datagen.generate(n_conversations=20, seed=5)
    t0 = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    assert clustered_layout_ok(t0)  # no files: nothing checkable

    path = str(tmp_path / "small")
    t0.repartition(2, "conv_id").write.parquet(path)
    small = spark.read.parquet(path)
    assert clustered_layout_ok(small)

    old = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        assert not clustered_layout_ok(spark.read.parquet(path))
    finally:
        if old is None:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        else:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_conv_fused_equals_intra_union_cross(spark, tmp_path):
    """pipeline.extract_and_score with cross_turn_k ≥ 1 is ONE
    conversation-grouped pass that scores each turn's intra-turn pairs
    beside its ±k pairs. It returns the rows of the shuffle-free
    intra-turn scorer ∪ the cross-only fused scorer: every column but
    ``score`` exactly, ``score`` within float32 rounding (the two
    sides batch the forward pass differently). For k ∈ {1, 2}, with
    and without clustered_input, on a layout holding one conversation
    longer than XT_CHUNK turns."""
    import math

    from kg import datagen, pipeline

    pdf, _ = datagen.generate(n_conversations=80, seed=13, skew_factor=40,
                              pct_cross_turn=0.3)
    assert pdf.groupby("conv_id").size().max() > extract.XT_CHUNK
    path = str(tmp_path / "bucketed")
    spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS) \
        .repartition(4, "conv_id").write.parquet(path)
    t0 = spark.read.parquet(path)
    bc = score.broadcast_weights(spark)
    keys = [f.name for f in score.FUSED_SCHEMA.fields if f.name != "score"]

    def rows(df):
        # (is None, value): sortable with NULL entity slots
        return sorted((tuple((r[c] is None, "" if r[c] is None else r[c])
                             for c in keys),
                       r["score"]) for r in df.collect())

    intra = rows(score.extract_and_score_fused(t0, bc))
    for k in (1, 2):
        for clustered in (False, True):
            cross = rows(score.extract_and_score_cross_turn_fused(
                t0, bc, k=k, clustered_input=clustered))
            want = sorted(intra + cross)
            got = rows(pipeline.extract_and_score(
                spark, t0, bc, cross_turn_k=k, clustered_input=clustered))
            assert cross and len(got) == len(want), (k, clustered)
            assert [g[0] for g in got] == [w[0] for w in want], (k, clustered)
            for (key, g), (_, w) in zip(got, want):
                assert math.isclose(g, w, rel_tol=1e-6), (k, key, g, w)


def test_cross_turn_instances_stay_cross_only(spark):
    """extract.cross_turn_instances keeps its cross-only MENTION_PAIRS
    output: a turn with two mentions adds no intra-turn pair."""
    rows = [
        ("c1", 0, "user", "Ann Barard joined Acme Corp", None,
         datetime(2024, 1, 1)),
        ("c1", 1, "assistant", "she uses Dataquill daily", None,
         datetime(2024, 1, 1)),
    ]
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    out = extract.cross_turn_instances(df, k=1).collect()
    assert {(r["head_norm"], r["tail_norm"]) for r in out} == {
        ("ann barard", "dataquill"), ("acme corp", "dataquill")}
    assert len(out) == 2
