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


def dedup_aggregate_noisy_or(raw: DataFrame,
                             provenance_cap: int = PROVENANCE_CAP
                             ) -> DataFrame:
    """D2 variant: confidence = noisy-or over supporting scores via the
    grouped-agg pandas UDAF instead of max. Spark disallows mixing
    pandas UDAFs with built-in aggregates in one agg, so the UDAF runs
    in its own aggregation and joins the count/provenance stats — two
    shuffles on the same key. Default D2 stays
    :func:`dedup_aggregate` (single-pass, JVM-only).

    The UDAF side repartitions EXPLICITLY first: grouped-agg pandas
    UDAFs have no partial aggregation (raw rows shuffle, Python runs
    entirely post-shuffle), so the stage is Python-CPU-bound and AQE's
    bytes-based coalescing starves it — measured r5: a 64 KB shuffle
    folded to ONE task carrying all the per-group Python (same
    mismatch skew.cpu_stage_partitions documents). The explicit
    exchange satisfies the agg's distribution requirement, so no
    second shuffle appears. The JVM stats side is left alone — partial
    aggregation there is worth more than fixed fan-out."""
    from kg.stages.skew import cpu_stage_partitions

    key = ["subj", "pred", "obj"]
    conf = (raw.repartition(cpu_stage_partitions(raw), *key)
            .groupBy(*key).agg(
                noisy_or_udaf()("score").alias("confidence")))
    stats = raw.groupBy(*key).agg(
        F.count("*").alias("n_support"),
        F.slice(F.sort_array(F.collect_list(F.struct("conv_id", "turn_idx"))),
                1, provenance_cap).alias("provenance"))
    return conf.join(stats, key)


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
