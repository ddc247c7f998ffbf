"""D1–D4 — triple materialization and graph tables (SURVEY.md §2 D).

All aggregation arrays pass through ``sort_array`` so outputs are
deterministic under shuffle (``collect_list`` order is not a
contract). Aggregations are plain hash aggregates — Spark performs
partial (map-side) + final aggregation automatically, so the shuffle
carries pre-combined groups, which is the behavior that survives a
100× scale-up on (subj, pred, obj) keys.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

PROVENANCE_CAP = 16


def noisy_or_udaf():
    """Grouped-agg pandas UDAF (SURVEY.md §2-F): noisy-or confidence
    merge, 1 − ∏(1 − sᵢ) — the probabilistic-OR of independent
    extraction evidences. Arrow ships each group's scores as one
    Series; the reduction is a vectorized pandas prod, no per-row
    Python. Built lazily: pandas_udf parses its return type at
    decoration time, which needs an active SparkContext (module import
    happens before session creation under spark-submit)."""
    @F.pandas_udf("double")
    def noisy_or(scores: pd.Series) -> float:
        return float(1.0 - (1.0 - scores).prod())
    return noisy_or


def emit_triples(linked: DataFrame) -> DataFrame:
    """D1: scored+linked instances → raw triple occurrences."""
    return linked.select(
        F.col("head_entity").alias("subj"),
        F.col("rel").alias("pred"),
        F.col("tail_entity").alias("obj"),
        F.col("score"),
        "conv_id", "turn_idx",
    ).where(F.col("subj").isNotNull() & F.col("obj").isNotNull()
            & (F.col("subj") != F.col("obj")))


def dedup_aggregate(raw: DataFrame,
                    provenance_cap: int = PROVENANCE_CAP) -> DataFrame:
    """D2: raw occurrences → T8. confidence = max score, n_support =
    occurrence count, provenance = first ``cap`` (conv_id, turn_idx)
    witnesses in sorted order.

    Single-pass hash aggregate (partial+final automatic). The slice
    bounds the OUTPUT row size only: ``collect_list`` buffers EVERY
    witness of a triple before ``sort_array`` + ``slice``, so a hot
    triple with millions of supporting turns holds all of them in one
    aggregation buffer. Ranking and capping the witnesses before the
    array aggregation (a row_number window) bounds the buffers but
    costs an extra sort shuffle, which measured SLOWER here
    (interleaved A/B at 1.5M occurrences: 2.5–5 s vs 10–23 s).
    """
    return (raw.groupBy("subj", "pred", "obj").agg(
        F.max("score").cast("double").alias("confidence"),
        F.count("*").alias("n_support"),
        F.slice(F.sort_array(F.collect_list(F.struct("conv_id", "turn_idx"))),
                1, provenance_cap).alias("provenance")))


def build_adjacency(triples: DataFrame) -> DataFrame:
    """D3: T8 → T9. Sorted out-edge arrays per subject."""
    return (triples.groupBy("subj").agg(
        F.sort_array(F.collect_list(F.struct("pred", "obj")))
         .alias("out_edges"))
        .withColumn("out_degree", F.size("out_edges").cast("int")))
