"""A2 — conversation reassembly (SURVEY.md §2 A).

A3, bounded chunks per conversation, is the ``turn_idx // XT_CHUNK``
grouping key of kg.stages.extract.cross_turn_prepared.

The stable-turn-ordering invariant (BASELINE.json:15) is enforced here:
``sort_array`` over structs whose FIRST field is ``turn_idx`` gives a
deterministic order regardless of shuffle nondeterminism —
``collect_list`` order alone is NOT a contract in Spark.

Scale notes: one shuffle on ``conv_id`` (the natural partition key);
at 10^12 turns this is the pipeline's first big exchange, so project
down to needed columns BEFORE the aggregation (column pruning helps
the scan, this helps the shuffle). Hot conversations are handled by
the caller via kg.stages.skew when turn counts are pathological.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def reassemble_conversations(transcripts: DataFrame) -> DataFrame:
    """A2: T0 → T1. One row per conversation with turns ordered by
    turn_idx (ties impossible: (conv_id, turn_idx) is unique)."""
    turn = F.struct("turn_idx", "role", "text", "tool", "ts")
    return (
        transcripts
        .groupBy("conv_id")
        .agg(F.sort_array(F.collect_list(turn)).alias("turns"))
        .withColumn("n_turns", F.size("turns").cast("int"))
    )
