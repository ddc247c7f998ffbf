"""A2/A3 tests: stable turn ordering + per-turn text preservation —
the per-row invariant of BASELINE.json:15 (SURVEY.md §5.2a/b)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from kg import schemas
from kg.stages.reassemble import reassemble_conversations

ROWS = [
    ("c1", 2, "user", "third turn", None, datetime(2024, 1, 1, 0, 0, 2)),
    ("c1", 0, "user", "first turn", None, datetime(2024, 1, 1, 0, 0, 0)),
    ("c2", 0, "user", "solo", None, datetime(2024, 1, 1, 0, 1, 0)),
    ("c1", 1, "assistant", "second turn", "sql", datetime(2024, 1, 1, 0, 0, 1)),
]


def test_reassemble_orders_by_turn_idx(spark):
    df = spark.createDataFrame(ROWS, schema=schemas.TRANSCRIPTS)
    out = {r["conv_id"]: r for r in reassemble_conversations(df).collect()}
    assert out["c1"]["n_turns"] == 3
    assert [t["turn_idx"] for t in out["c1"]["turns"]] == [0, 1, 2]
    assert [t["text"] for t in out["c1"]["turns"]] == [
        "first turn", "second turn", "third turn"]
    assert out["c2"]["n_turns"] == 1


def test_reassemble_permutation_invariant(spark, tiny_transcripts):
    """Any input row order yields byte-identical conversations."""
    t0, _ = tiny_transcripts
    a = reassemble_conversations(t0)
    b = reassemble_conversations(
        t0.orderBy(F.desc("text"), F.asc("ts")).coalesce(1))
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_reassemble_preserves_text_bytes(spark, tiny_transcripts):
    t0, _ = tiny_transcripts
    original = t0.select("conv_id", "turn_idx", "text")
    back = (reassemble_conversations(t0)
            .select("conv_id", F.explode("turns").alias("t"))
            .select("conv_id", F.col("t.turn_idx").alias("turn_idx"),
                    F.col("t.text").alias("text")))
    assert original.exceptAll(back).isEmpty()
    assert back.exceptAll(original).isEmpty()
