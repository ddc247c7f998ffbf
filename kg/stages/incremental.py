"""Incremental near-dup dedup: match a NEW batch of documents against
an existing corpus without rescanning or re-hashing the corpus
(SURVEY.md §2 training-data extras — the day-2 shape of dedup at
100 TB: the corpus is already deduped and indexed; every ingest batch
must be checked against it and against itself, then appended).

Index representation is APPEND-ONLY — two plain tables:

- ``feats``  (node, norm, f: array<long>)  — one row per distinct doc
- ``bands``  (node, band, bhash)           — the LSH banding fan-out

A batch commit appends its own (new_feats, new_bands) rows; no
regroup, no rewrite of existing data — exactly what an Iceberg/parquet
append supports. Bucket grouping happens only on the buckets a batch
TOUCHES, never over the whole index.

Scale shape: the batch's distinct (band, bhash) key set is tiny
relative to the index and is broadcast, so selecting touched index
rows is a map-side semi-join — the index is never shuffled; the only
shuffles are the batch-local grouping of touched buckets and the
id-pair dedup, both O(batch), not O(corpus). With the index stored
partitioned by band, partition pruning cuts the scan further.

Evidence (tests/test_incremental.py): the incremental edge set equals
one-shot near_duplicate_edges(old ∪ new) restricted to pairs touching
a new node — EXACTLY, including the hot-bucket regime where the
block cap binds (touched buckets are reconstructed with their
combined old+new membership, so the cap drops the same buckets the
one-shot path drops); with caps not binding this implies
index(old) ∪ incremental(new) == one-shot(old ∪ new). Re-ingested
duplicates are anti-joined out; the no-shuffle index consumption is
pinned in the plan."""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kg import spec
from kg.stages import canon

__all__ = ["build_dedup_index", "incremental_near_dup_edges",
           "release_batch"]


def release_batch(new_feats: DataFrame, new_bands: DataFrame) -> None:
    """Unpersist the per-batch cached tables returned by
    :func:`incremental_near_dup_edges` — call after the edges are
    materialized and the (new_feats, new_bands) rows are appended to
    the index store. Without this, a long-lived session ingesting
    many batches accumulates cached blocks (ADVICE r3)."""
    new_feats.unpersist()
    new_bands.unpersist()


def build_dedup_index(norms: DataFrame, feature: str = "char"):
    """One-time (or first-batch) index build → (feats, bands).

    Unlike the self-dedup path, bands rows are kept for SINGLETON
    buckets too: a bucket holding one node today is exactly where a
    future near-duplicate will land. No cap is applied at build —
    caps belong to the query side, where drops can be observed per
    batch (canon.capped_blocks)."""
    feats = canon.node_features(norms, feature=feature)
    bands = canon.lsh_bands(canon.minhash_signatures(feats))
    return feats, bands


#: above this many distinct batch bucket keys, skip the broadcast hint
#: (a first-load batch with an empty index is O(batch × bands) keys —
#: forcing that through a broadcast would OOM the driver where a plain
#: shuffle join plans fine).
MAX_BROADCAST_KEYS = 2_000_000


def incremental_near_dup_edges(new_norms: DataFrame,
                               index_feats: DataFrame,
                               index_bands: DataFrame,
                               tau: float = spec.TAU_DUP,
                               feature: str = "char",
                               block_cap: int = spec.BLOCK_CAP,
                               obs=None,
                               persist_batch: bool = True,
                               carry: str | None = None,
                               batch_count_hint: int | None = None):
    """Near-dup edges (src, dst, sim) where at least one side is from
    the new batch — new-vs-corpus AND new-vs-new — plus the batch's
    own (new_feats, new_bands) for the caller to APPEND to the index
    after committing. Returns (edges, new_feats, new_bands).

    Re-ingested exact duplicates (a norm already in the index) are
    anti-joined out up front: they produce no pair and no index
    growth.

    Cap semantics — EXACT parity with the one-shot path: each touched
    bucket is reconstructed with its COMBINED membership (index nodes
    + batch nodes — byte-identical to the bucket
    canon.candidate_pairs would see on old ∪ new), the same
    :func:`canon.capped_blocks` rule caps that combined size, and only
    pairs touching a new node are emitted. Guarantee (pinned in
    test_incremental.py, hot-bucket regime included):

        incremental edges == one-shot(old ∪ new) edges
                              ∩ {pairs with ≥ 1 new node}

    The only asymmetry an append-only index permits: old-old pairs
    EMITTED BY EARLIER BATCHES are never retracted when a bucket later
    grows past the cap — those pairs are Jaccard-verified true
    near-dups regardless (precision is exact always; the cap is a
    recall heuristic). ``obs`` observes combined over-cap buckets
    (canon.capped_blocks).

    ``persist_batch=False`` skips the per-batch persists entirely
    (each batch table then recomputes at each of its ~2 plan uses —
    right for one-shot evaluations in a shared long-lived session,
    e.g. the driver-contract run, where caller-side unpersisting is
    impossible); with the default ``True``, call
    :func:`release_batch` on the returned (new_feats, new_bands)
    after committing the append. ``batch_count_hint``: an upper bound
    on the batch's row count — lets the broadcast-safety guard use
    hint × bands instead of running an O(batch) count job (an ingest
    job always knows its batch size). It must be a TRUE upper bound:
    a hint derived from id arithmetic (e.g. ``n_total - split``) is
    only valid when ids are dense 0..n-1 — with gapped or sparse ids
    a ``where(id >= split)`` batch can hold more rows than the
    difference, the guard would under-count keys, and an oversized
    key set could be broadcast. When density is not guaranteed, pass
    the batch's actual count or leave the hint None and pay the count
    job."""
    new_feats = (canon.node_features(new_norms, feature=feature)
                 .join(index_feats.select("node"), "node", "left_anti"))
    if persist_batch:
        new_feats = new_feats.persist()
    new_bands = canon.lsh_bands(canon.minhash_signatures(new_feats))
    if persist_batch:
        new_bands = new_bands.persist()

    # Touched index buckets only: broadcast the batch's key set so the
    # index side is a map-side semi-join — the index never shuffles.
    # The broadcast-safety guard needs |keys|; callers that know the
    # batch size (an ingest job always does) pass batch_count_hint and
    # the guard becomes the free upper bound hint × MINHASH_BANDS —
    # |distinct (band, bhash)| ≤ |batch rows| × bands — skipping the
    # O(batch) count job. Without a hint, keys.count() guards it; the
    # persist exists only to keep that count from recomputing the
    # distinct and is released immediately after — the later join
    # recomputes the O(batch) distinct from new_bands rather than
    # holding cached blocks for the session.
    keys = new_bands.select("band", "bhash").distinct()
    if batch_count_hint is not None:
        n_keys = batch_count_hint * spec.MINHASH_BANDS
    else:
        keys = keys.persist()
        n_keys = keys.count()
        keys.unpersist()
    if n_keys <= MAX_BROADCAST_KEYS:
        keys = F.broadcast(keys)
    touched = (index_bands.join(keys, ["band", "bhash"])
               .select("band", "bhash", "node",
                       F.lit(False).alias("is_new")))
    batch = new_bands.select("band", "bhash", "node",
                             F.lit(True).alias("is_new"))

    # ONE combined grouping — the bucket the one-shot path would see —
    # so the cap binds identically, and one expansion emits cross AND
    # within-batch pairs (single id-pair dedup shuffle).
    grouped = canon.capped_blocks(touched.unionByName(batch),
                                  ["band", "bhash"],
                                  F.struct("node", "is_new"), block_cap,
                                  obs)
    cands = (canon.block_pairs(grouped,
                               "least(x.node, y.node) AS src, "
                               "greatest(x.node, y.node) AS dst, "
                               "(x.is_new OR y.is_new) AS any_new")
             .where(F.col("p.any_new"))
             .select("p.src", "p.dst")
             .where(F.col("src") != F.col("dst"))
             .dropDuplicates(["src", "dst"]))

    # carry (see canon.verify_pairs): ride a feats column through the
    # verify joins to the edge output — callers needing e.g.
    # fingerprint keys on edges get them without re-joining
    cols = ["node", "f"] + ([carry] if carry else [])
    all_feats = (index_feats.select(*cols).union(new_feats.select(*cols)))
    edges = canon.verify_pairs(cands, all_feats, tau=tau, carry=carry)
    return edges, new_feats, new_bands
