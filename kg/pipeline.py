"""Pipeline composition (SURVEY.md §3.1): pure DataFrame functions,
A1 → B1..B5 → C1..C4 → D1..D3, lazily composed; optional checkpointed
execution for kill/resume (E2/A5).

Dataflow at scale (the plan you'd want on 1000 executors):

    scan T0 (pruned to conv_id, turn_idx, text)
      → mapInPandas extract+score+link (B1–B5 fused; narrow, no
        shuffle, broadcast model, Arrow-capped; the exact dictionary
        resolves in-UDF). With cross_turn_k ≥ 1 it is instead ONE
        (conv_id, chunk) exchange → a streaming mapInPandas that
        tokenizes each turn once and scores its intra-turn pairs and
        its ±k cross-turn pairs together (no exchange at all on a
        clustered_input layout)
      → [checkpointed runs: bucketed parquet commit; per-bucket stats
         ride the write as an Observation]
      → [distinct dictionary-miss norms, collected when they fit the
         driver bound → char-3-gram hashes, minhash/LSH/verify,
         union-find and naming on the driver, or the distributed
         minhash/LSH/CC plan above it]
      → groupBy(subj,pred,obj) agg (D2; the ONE unavoidable shuffle,
        map-side combined)
      → groupBy(subj) agg (D3; second shuffle, key-clustered sink)

The default extraction path is shuffle-free: per-turn work needs no
co-location, so 10^12 turns parallelize embarrassingly; the only
exchanges are the final aggregations over already-tiny triple
occurrences (plus the conv-keyed one of the cross-turn window).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from kg.stages import canon, checkpoint, link, metrics, score, triples


def resolve_entities(scored: DataFrame, dict_df: DataFrame) -> DataFrame:
    """C1–C4 over the dictionary-miss tail: ``scored`` comes from the
    fused extractors, which already resolve the exact dictionary
    in-UDF (B5) into head_entity/tail_entity; the NULL slots are
    canonicalized via minhash/LSH + connected components.

    The distinct tail is collected once through Arrow, at most
    ``canon.DRIVER_CANON_MAX_NODES`` + 1 norms: the only Spark work
    before the final join. An empty tail returns ``scored`` itself:
    every mention linked exactly, so the whole canon side plan is
    skipped. A tail inside the node bound goes to canon as one
    driver-built frame of the tail ∪ the dictionary norms, and inside
    the other canon bounds C1–C4 then run on the driver with no
    further Spark job; a larger tail goes as its lazy plan.

    Callers must pass a MATERIALIZED ``scored`` frame (checkpointed or
    parquet-backed): this function scans it more than once (the tail
    probe, the final join, and a large tail's canon input), and
    re-running the scoring UDF per scan would multiply the Python-path
    cost.
    """
    # single scan for BOTH miss sides: explode the two nullable slots
    # and keep the null ones
    missed = (scored.select(F.explode(F.array(
                  F.when(F.col("head_entity").isNull(), F.col("head_norm")),
                  F.when(F.col("tail_entity").isNull(), F.col("tail_norm"))))
              .alias("norm"))
              .where(F.col("norm").isNotNull())
              .distinct())
    tail = missed.limit(canon.DRIVER_CANON_MAX_NODES + 1).toPandas()
    if tail.empty:
        return scored
    # The cluster graph must CONTAIN the dictionary norms, or a typo
    # variant can never share a component with a linked member and
    # C4's "cluster inherits the canonical of its linked member" is
    # dead code — every miss would fall back to its cluster-min norm.
    # The dictionary is a few hundred rows: adding it to the node set
    # costs nothing. Inside the bound the union is built here, as one
    # local relation canon probes without a Spark job.
    dict_norms = dict_df.select("norm")
    if len(tail) <= canon.DRIVER_CANON_MAX_NODES:
        norms = sorted(set(tail["norm"])
                       | {r[0] for r in dict_norms.collect()})
        node_set = scored.sparkSession.createDataFrame(
            pd.DataFrame({"norm": norms}), "norm string")
    else:
        node_set = missed.union(dict_norms)
    mapping = canon.canonicalize_norms(node_set, dict_df)
    # the mapping also names the dictionary norms; that is harmless: a
    # dictionary norm's slot is already resolved in `scored`, and the
    # coalesce below keeps that entity. The dictionary-miss tail plus
    # the dictionary is small by construction → broadcast
    h = F.broadcast(mapping.select(F.col("norm").alias("head_norm"),
                                   F.col("entity").alias("_h_ent")))
    t = F.broadcast(mapping.select(F.col("norm").alias("tail_norm"),
                                   F.col("entity").alias("_t_ent")))
    return (scored.join(h, "head_norm", "left").join(t, "tail_norm", "left")
            .withColumn("head_entity",
                        F.coalesce("head_entity", "_h_ent", "head_norm"))
            .withColumn("tail_entity",
                        F.coalesce("tail_entity", "_t_ent", "tail_norm"))
            .drop("_h_ent", "_t_ent"))


def extract_and_score(spark: SparkSession, transcripts: DataFrame,
                      weights_bc=None,
                      cross_turn_k: int = 0,
                      clustered_input: bool = False) -> DataFrame:
    """B1–B5 extraction. ``cross_turn_k > 0`` additionally scores
    mention pairs spanning ≤ k turns within a conversation (B3's ±k
    window): the whole extraction then runs in one conv-keyed pass,
    score.extract_and_score_cross_turn_fused with its intra-turn pairs,
    pairing/scoring/exact-linking fused into that pass's single
    streaming mapInPandas; the frozen scorers were trained on
    intra-turn instances, so cross-turn pairs score conservatively
    (mostly NA) — the wiring is the capability, a cross-turn-trained
    checkpoint is the tuning knob."""
    if weights_bc is None:
        weights_bc = score.broadcast_weights(spark)
    if not cross_turn_k:
        return score.extract_and_score_fused(transcripts, weights_bc)
    # ONE pass tokenizes each turn once. The union of a shuffle-free
    # intra-turn scan with the cross-turn pass was measured ~25% faster
    # on local[32] while AQE coalesced the conv-keyed exchange to 3
    # tasks; the exchange now keeps the configured fan-out
    # (extract.cross_turn_prepared), so that no longer holds. On 4
    # cores this pass alone took 4.2 / 4.8 s vs the union's 5.5 / 5.1 s
    # on 65k turns (best of 3, two alternating pairs), and a resumed
    # kg_noisy_resume pass gained 1.48k → 1.86k turns/s (10 of 10 ABBA
    # pairs, with the commit's and canon's dropped jobs). On 260k
    # turns (tools/stress_kg.py --cross-turn-k 1) the pairs were mixed.
    # clustered_input: the caller vouches the storage layout contains
    # each conversation in one scan partition (conv-bucketed write /
    # Iceberg bucket(conv_id)); the pass then runs with NO exchange at
    # all — at 10^12 turns that is the whole corpus not shuffled. See
    # extract.cross_turn_prepared for the contract.
    return score.extract_and_score_cross_turn_fused(
        transcripts, weights_bc, k=cross_turn_k,
        clustered_input=clustered_input, intra_turn=True)


def run(spark: SparkSession, transcripts: DataFrame,
        weights_bc=None, checkpoint_root: str | None = None,
        n_buckets: int = 16,
        snapshot_id: str | None = None,
        cross_turn_k: int = 0,
        clustered_input: bool = False) -> dict[str, DataFrame]:
    """The full pipeline. Returns {'triples': T8, 'adjacency': T9,
    'scored': T4-narrow, 'observations': {stage: Observation}} — the
    observations fill for free when the caller's first action runs
    (E1). With ``checkpoint_root``, extraction+scoring runs under the
    bucket-commit protocol and a rerun resumes from the manifest
    (E2/A5)."""
    if weights_bc is None:
        weights_bc = score.broadcast_weights(spark)

    def _extract_fn(df: DataFrame) -> DataFrame:
        return extract_and_score(spark, df, weights_bc,
                                 cross_turn_k=cross_turn_k,
                                 clustered_input=clustered_input)

    if checkpoint_root:
        snap = snapshot_id or snapshot_id_of(transcripts)
        scored_df = checkpoint.run_checkpointed(
            spark, checkpoint_root, "scored", snap, transcripts,
            _extract_fn, bucket_key="conv_id", n_buckets=n_buckets)
    else:
        # materialize the scorer output ONCE: everything downstream
        # (miss-detection, dedup, adjacency) scans it several times,
        # and the scoring UDF is the dominant cost of the whole
        # pipeline. Project to the columns the rest of the pipeline
        # needs before checkpointing — surfaces/mtypes/positions are
        # extraction metadata that would double the materialized size.
        # The checkpointed branch above gets the same effect from its
        # parquet commit.
        narrow = _extract_fn(transcripts).select(
            "conv_id", "turn_idx", "head_norm", "tail_norm",
            "rel", "score", "head_entity", "tail_entity")
        scored_df = narrow.localCheckpoint(eager=True)

    dict_df = link.dictionary_df(spark)
    resolved = resolve_entities(scored_df, dict_df)
    raw = triples.emit_triples(resolved)
    # E1: free-riding row counters — collected when the caller's
    # action runs; read via out["observations"][stage].get.
    # Observation names must be session-unique, hence the sequence.
    global _RUN_SEQ
    _RUN_SEQ += 1
    raw, obs_raw = metrics.observed(raw, f"occurrences_{_RUN_SEQ}")
    t8 = triples.dedup_aggregate(raw)
    t8, obs_t8 = metrics.observed(t8, f"triples_{_RUN_SEQ}")
    t9 = triples.build_adjacency(t8)
    return {"scored": scored_df, "triples": t8, "adjacency": t9,
            "observations": {"occurrences": obs_raw, "triples": obs_t8}}


_RUN_SEQ = 0


#: bump when a checkpointed stage's semantics change — old manifests
#: must not satisfy a resume of the new code
STAGE_VERSION = "v2"


def snapshot_id_of(df: DataFrame) -> str:
    """Deterministic input snapshot id: hash of (stage version, input
    file list) — the Parquet stand-in for an Iceberg snapshot id.

    Raises for in-memory inputs (no files): two different local frames
    with the same schema would otherwise share an id and a resume
    would silently serve stale buckets. Callers with non-file inputs
    must pass an explicit ``snapshot_id`` to :func:`run`."""
    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    if not files:
        raise ValueError(
            "input has no files to derive a snapshot id from; pass an "
            "explicit snapshot_id to checkpointed runs of in-memory "
            "inputs")
    basis = STAGE_VERSION + "|" + "|".join(files)
    return hashlib.sha256(basis.encode()).hexdigest()[:16]
