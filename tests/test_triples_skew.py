"""D1–D4 + E3/E4 tests: dedup aggregation, adjacency, salted
aggregation equivalence (SURVEY.md §5.1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg.stages import skew, triples


def _raw(spark):
    rows = [
        ("A", "uses", "T", 0.9, "c1", 0),
        ("A", "uses", "T", 0.7, "c2", 3),
        ("A", "uses", "T", 0.8, "c1", 5),
        ("B", "part_of", "C", 0.99, "c3", 1),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, score float, "
              "conv_id string, turn_idx int")


def test_dedup_aggregate(spark):
    out = {(r["subj"], r["pred"], r["obj"]): r
           for r in triples.dedup_aggregate(_raw(spark)).collect()}
    a = out[("A", "uses", "T")]
    assert a["n_support"] == 3
    assert abs(a["confidence"] - 0.9) < 1e-6
    # provenance sorted + deterministic
    assert [(p["conv_id"], p["turn_idx"]) for p in a["provenance"]] == \
        [("c1", 0), ("c1", 5), ("c2", 3)]


def test_provenance_cap(spark):
    rows = [("A", "uses", "T", 0.5, f"c{i}", i) for i in range(50)]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, score float, "
              "conv_id string, turn_idx int")
    out = triples.dedup_aggregate(df, provenance_cap=5).collect()[0]
    assert out["n_support"] == 50 and len(out["provenance"]) == 5


def test_adjacency_sorted(spark):
    t8 = triples.dedup_aggregate(_raw(spark))
    adj = {r["subj"]: r for r in triples.build_adjacency(t8).collect()}
    assert adj["A"]["out_degree"] == 1
    assert adj["A"]["out_edges"][0]["obj"] == "T"


def test_salted_count_equals_plain(spark, tiny_transcripts):
    """E3 two-phase salted aggregation ≡ plain groupBy count —
    the semantic equivalence that lets us salt hot keys freely."""
    t0, _ = tiny_transcripts
    hot = skew.detect_hot_keys(t0, "conv_id", threshold=5)
    salted = {r["conv_id"]: r["count"]
              for r in skew.salted_count(t0, "conv_id", hot, n_salt=8)
              .collect()}
    plain = {r["conv_id"]: r["count"]
             for r in t0.groupBy("conv_id").count().collect()}
    assert salted == plain


def test_hot_key_detection(spark):
    from kg import datagen, schemas

    pdf, _ = datagen.generate(n_conversations=20, mean_turns=5, seed=1,
                              skew_factor=50)
    df = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    hot = skew.detect_hot_keys(df, "conv_id", threshold=100).collect()
    assert [r["conv_id"] for r in hot] == ["c00000000"]
