"""Distributed k-means (Lloyd) iterations on an embedding column
(SURVEY.md §2-G, round 5). kmeans_assign / kmeans_update in the
contract certify ONE assignment and ONE update against DuckDB; this
module composes them into the actual iterative algorithm, the same
way kg/stages/graph.py turns one join-aggregate round into PageRank.

Per iteration, the only shuffle is the centroid update's
groupBy(cluster, pos) — K×dim cells, kilobytes at any corpus size.
The assignment stays map-only: centroids fold into ONE
array-of-structs row broadcast via a 1-row cross join, argmin =
array_min over (dist, cid) structs (struct ordering is the
deterministic tie-break) — see contract._kmeans_assignment, which
pins this plan shape against the driver oracle.

Scale: the data pass is O(n·K·dim) map work + a K×dim-row shuffle per
iteration — the canonical 1000-executor k-means. The embedding table
is localCheckpointed once so the unrolled multi-iteration plan reads
the materialized scan instead of re-deriving it per iteration (the
graph.py discipline); centroid lineage nests one full data pass per
iteration, so convergence-driven runs should keep the default
per-iteration centroid checkpoint (tiny: K×dim values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kg.stages.graph import _materialize


def _nearest(v, cmat):
    """Shared distance/argmin kernel for :func:`assign` and
    :func:`assign_update` — ONE definition so the two paths can never
    drift: the accumulator adds (v[j]−c[j])² in the same index order
    as the Catalyst zip_with/aggregate left fold, np.sqrt is the same
    IEEE correctly-rounded op, and np.argmin's first-minimum
    tie-break equals the (dist, cid) struct ordering because centroid
    rows arrive cid-sorted from :func:`fold_centroids`."""
    import numpy as np

    n = len(v)
    d = np.empty((n, len(cmat)))
    for k in range(len(cmat)):
        acc = np.zeros(n)
        for j in range(cmat.shape[1]):
            t = v[:, j] - cmat[k, j]
            acc += t * t
        d[:, k] = np.sqrt(acc)
    return np.argmin(d, axis=1), d


def _centroid_matrix(cents):
    """(cids, cmat) of one broadcast ``cents`` list: the centroid ids
    as int64 and their vectors stacked into a float64 (K, dim)
    matrix, both in list order (cid-sorted by
    :func:`fold_centroids`)."""
    import numpy as np

    return (np.array([c["cid"] for c in cents], dtype=np.int64),
            np.stack([np.asarray(c["cv"], dtype=np.float64)
                      for c in cents]))


def fold_centroids(long_cents: DataFrame) -> DataFrame:
    """(cluster, pos, val) long form → ONE row with
    ``cents: array<struct<cid, cv:array<double>>>`` sorted by cid —
    the broadcastable shape :func:`assign` consumes. sort_array on
    (pos, val) structs rebuilds each vector in position order; the
    outer sort_array fixes centroid order, so the fold is
    deterministic under any partitioning."""
    return (long_cents
            .groupBy(F.col("cluster").alias("cid"))
            .agg(F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "val"))),
                lambda s: s["val"]).alias("cv"))
            .agg(F.sort_array(F.collect_list(F.struct("cid", "cv")))
                 .alias("cents")))


def assign(emb: DataFrame, cent_row: DataFrame) -> DataFrame:
    """Map-only Lloyd assignment: nearest centroid per vector.
    ``emb``: (vec_id, v: array<double>); ``cent_row``: the 1-row
    frame from :func:`fold_centroids`. Returns (vec_id, v, cluster,
    dist) — dist unrounded Euclidean.

    The distance argmin is one vectorized numpy pass per Arrow batch
    (:func:`_nearest`), not interpreted higher-order SQL functions
    (zip_with + aggregate run per ELEMENT without codegen: K·dim
    interpreted ops and a K-struct alloc per vector). The result is
    BIT-IDENTICAL to that expression form, not merely close — see
    :func:`_nearest` for why. The centroids ride a broadcast 1-row
    cross join: the plan stays map-only, with no collect, and the
    iteration stays one lazy declarative chain."""
    import numpy as np
    import pandas as pd

    def batches(it):
        cids = cmat = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if cmat is None:
                cids, cmat = _centroid_matrix(pdf["cents"].iloc[0])
            v = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            n = len(v)
            best, d = _nearest(v, cmat)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "v": pdf["v"],
                                "cluster": cids[best],
                                "dist": d[np.arange(n), best]})

    return (emb.crossJoin(F.broadcast(cent_row))
            .select("vec_id", "v", "cents")
            .mapInPandas(batches,
                         schema="vec_id long, v array<double>, "
                                "cluster long, dist double"))


def assign_update(emb: DataFrame, cent_row: DataFrame,
                  round_to: int | None = None) -> DataFrame:
    """Fused Lloyd iteration data pass (r6, guide §2.3/§4.2):
    assignment AND per-batch partial centroid sums in ONE mapInPandas,
    emitting (cluster, pos, psum, pcnt) — K×dim rows PER ARROW BATCH
    into the update aggregate instead of returning every vector
    through Arrow and posexploding n×dim value rows into the shuffle.
    The mean is then sum(psum)/sum(pcnt).

    Same distance/argmin arithmetic as :func:`assign` (shared helper).
    The mean's floating-point summation ORDER changes (numpy column
    sums per batch, then a sum over batch partials, vs Spark's avg
    over shuffled rows) — summation order was already partition-
    dependent and engine-dependent, which is exactly why every
    consumer rounds each iteration's means (``round_to``); the ~1e-15
    order drift sits 9+ digits under that grain. Certified against
    the DuckDB oracle (kmeans_iter3) and the lloyd(1) ≡ update∘assign
    pin like the unfused path."""
    import numpy as np
    import pandas as pd

    def batches(it):
        cids = cmat = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if cmat is None:
                cids, cmat = _centroid_matrix(pdf["cents"].iloc[0])
            v = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            best = _nearest(v, cmat)[0]
            dim = cmat.shape[1]
            out_c, out_p, out_s, out_n = [], [], [], []
            for k in range(len(cmat)):
                mask = best == k
                n = int(mask.sum())
                if n == 0:
                    continue
                s = v[mask].sum(axis=0)
                out_c.append(np.full(dim, cids[k], dtype=np.int64))
                out_p.append(np.arange(dim, dtype=np.int32))
                out_s.append(s)
                out_n.append(np.full(dim, n, dtype=np.int64))
            yield pd.DataFrame({"cluster": np.concatenate(out_c),
                                "pos": np.concatenate(out_p),
                                "psum": np.concatenate(out_s),
                                "pcnt": np.concatenate(out_n)})

    m = F.sum("psum") / F.sum("pcnt")
    if round_to is not None:
        m = F.round(m, round_to)
    # pos as int matches update()'s posexplode output type, so the
    # fused and unfused paths produce schema-identical centroids
    return (emb.crossJoin(F.broadcast(cent_row))
            .select("v", "cents")
            .mapInPandas(batches,
                         schema="cluster long, pos int, "
                                "psum double, pcnt long")
            .groupBy("cluster", "pos")
            .agg(m.alias("val")))


def update(assigned: DataFrame,
           round_to: int | None = None) -> DataFrame:
    """Lloyd update: component-wise centroid means, (cluster, pos,
    val) long form. The iteration's one shuffle, keyed (cluster, pos)
    so K×dim cells spread instead of K hot groups. A cluster that
    lost every member simply disappears (both engines drop it the
    same way — no imputation). ``round_to`` rounds each mean — the
    cross-engine determinism grain the oracle replay needs (avg
    summation order differs between engines by ~1e-15; unrounded,
    that drift compounds through later assignment argmins)."""
    m = F.avg("val")
    if round_to is not None:
        m = F.round(m, round_to)
    return (assigned
            .select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(m.alias("val")))


def lloyd(emb: DataFrame, seed_cents: DataFrame, iters: int = 3,
          round_to: int | None = None) -> DataFrame:
    """``iters`` full Lloyd iterations from ``seed_cents`` (long
    form: cluster, pos, val). Returns the final centroids in long
    form, unrounded. Each iteration's centroid table is a K×dim-value
    aggregate — checkpointing it would add a job per iteration to
    save kilobytes of lineage, so unlike LPA (whose per-round state
    is O(nodes)) the unrolled lazy plan is kept: depth grows linearly
    in ``iters`` because each round reads the prior centroids exactly
    once (the pagerank regime, not the LPA one). ``emb`` is
    materialized once (graph._materialize), since every iteration
    scans it."""
    emb = _materialize(emb)
    cents = seed_cents
    for _ in range(iters):
        cents = assign_update(emb, fold_centroids(cents),
                              round_to=round_to)
    return cents
