"""E3/E4 — skew defusal and explicit repartitioning (SURVEY.md §2 E).

AQE's skew handling only splits *join* partitions; groupBy-key skew
(the hot conversation with 1000× the turns, BASELINE.json:6) needs the
classic two-phase salted aggregation: partial-aggregate on
(key, salt), then merge on (key). The helpers here keep that pattern
in one place so every skew-prone aggregation uses the same discipline.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F


def detect_hot_keys(df: DataFrame, key: str, threshold: int) -> DataFrame:
    """Cheap pre-pass: keys whose row count exceeds ``threshold``.
    At scale this runs on a sample or on partial per-partition counts;
    the aggregate itself is map-side combined so it is one narrow
    shuffle of (key, count) pairs."""
    return (df.groupBy(key).agg(F.count("*").alias("n"))
              .where(F.col("n") > threshold))


def with_salt(df: DataFrame, key: str, hot: DataFrame, n_salt: int,
              salt_col: str = "_salt") -> DataFrame:
    """Append a salt column: hot keys get ``hash(row) % n_salt``,
    cold keys get 0 — so cold-key aggregation stays single-phase
    cheap and only the hot keys fan out."""
    hot_flag = F.broadcast(hot.select(key).withColumn("_is_hot", F.lit(True)))
    return (df.join(hot_flag, key, "left")
            .withColumn(
                salt_col,
                F.when(F.col("_is_hot").isNotNull(),
                       F.pmod(F.xxhash64(*df.columns), F.lit(n_salt)))
                .otherwise(F.lit(0)).cast("int"))
            .drop("_is_hot"))


def salted_count(df: DataFrame, key: str, hot: DataFrame,
                 n_salt: int = 32) -> DataFrame:
    """Two-phase salted count(*) by ``key`` — equivalent to
    ``df.groupBy(key).count()`` but immune to hot-key stragglers."""
    salted = with_salt(df, key, hot, n_salt)
    partial = salted.groupBy(key, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").alias("count"))


@contextmanager
def aqe_skew_conf(spark, threshold_bytes: int = 16 * 1024,
                  advisory_bytes: int = 8 * 1024,
                  factor: float = 2.0,
                  shuffle_partitions: int | None = None):
    """E3b: AQE skew-join splitting for joins THROUGH a hot key.

    Salting (above) covers groupBy skew; a *join* through the ×100-hot
    conv_id is the other skew shape (BASELINE.json hot conversation),
    and there Spark's own mechanism is the right tool: AQE observes
    the actual shuffle-partition sizes at runtime and splits any
    partition > max(skewedPartitionThresholdInBytes,
    skewedPartitionFactor × median) into advisory-sized pieces, each
    joined against a duplicated copy of the other side — no manual
    salting of the join keys.

    The byte thresholds/factor here are scaled DOWN from the
    256 MB / 5× production defaults so the mechanism fires (and is
    plan-pinned, test_plans.py) on test/bench-sized corpora; at
    cluster scale the defaults are the right ones — delete this
    override, keep skewJoin.enabled. Auto-broadcast is disabled
    inside the scope because at 10^12-turn scale BOTH join sides are
    large (a broadcast would dodge the SortMergeJoin being
    exercised).

    Two OptimizeSkewedJoin preconditions worth knowing (measured, not
    folklore — Spark only pattern-matches SMJ(Sort(ShuffleStage),
    Sort(ShuffleStage))):
    - the dim side must arrive through a BARE exchange: a same-key
      aggregate's final HashAggregate sits between the stage and the
      join and disables the rule — materialize the dim first
      (localCheckpoint / a parquet round-trip), as
      :func:`hot_key_join` callers do;
    - the skew must be PARTITION-level: the hot key's rows must
      exceed factor × median partition size, so at small corpus
      sizes raise ``shuffle_partitions`` until the median partition
      is small relative to the hot key.
    """
    keys = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            str(threshold_bytes),
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor":
            str(factor),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            str(advisory_bytes),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    if shuffle_partitions is not None:
        keys["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    old = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def hot_key_join(turns: DataFrame, per_key: DataFrame,
                 key: str = "conv_id") -> DataFrame:
    """The skew-prone join shape: per-turn facts (hot ``key``) ⋈
    per-key stats. Plain equi-join by design — the skew defusal is
    AQE's runtime split (wrap the ACTION in :func:`aqe_skew_conf`),
    not a rewrite of the join. Pass a MATERIALIZED ``per_key``
    (localCheckpoint or a table read): an unmaterialized same-key
    aggregate keeps its final HashAggregate above the shuffle stage
    and Spark's OptimizeSkewedJoin then never matches (see
    :func:`aqe_skew_conf`)."""
    return turns.join(per_key, key)


def cpu_stage_partitions(df: DataFrame) -> int:
    """Partition count for a Python-CPU-bound post-shuffle stage
    (streaming mapInPandas extract/score/bag): the session's
    configured ``spark.sql.shuffle.partitions``, floored at the
    scheduler's default parallelism.

    Used to pass an EXPLICIT count to ``repartition(n, cols)`` so AQE
    cannot coalesce the exchange by bytes: advisory partition sizing
    targets ~64 MB of shuffle data per task, which undersizes stages
    whose cost is Python CPU per row rather than bytes (measured r5:
    the cross-turn exchange at sf0.1 coalesced 32 → 3 tasks, leaving
    29 cores idle under ~5 s of single-core NLP work)."""
    spark = df.sparkSession
    conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(conf, spark.sparkContext.defaultParallelism)

