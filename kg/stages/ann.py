"""Approximate nearest neighbors over an embedding column
(SURVEY.md §2 — similarity-search family; VERDICT r1 item 7).

Many-to-many ANN as a BUCKET JOIN: every vector is simultaneously a
query and a candidate. Random-hyperplane LSH (Charikar, STOC 2002)
buckets each vector in L independent tables; candidates are generated
by a self-join on (table, bucket) — the same O(n·bucket) shape as the
minhash blocking in kg.stages.canon, never O(n²) — deduplicated as
bare id pairs, then exactly re-ranked by cosine with the embeddings
attached via a per-node join.

Everything is JVM-side (zip_with/aggregate over literal plane arrays);
the only shuffles are the bucket groupBy-join and the id-pair dedup,
both on narrow rows. At cluster scale the (table, bucket) key is the
partitioner: each bucket's join is local to its shuffle partition, and
skewed buckets are handled by the same BLOCK-style cap used in canon.

WHICH PATH AT SCALE (r5, measured in tools/stress_ann.py / BENCH.md):
**IVF is the scale default.** Its wall-clock is flat as the corpus
grows (the quantizer shards the pair space into n_cells inverted
lists whose size the caller controls directly via n_cells ∝ n),
while hyperplane-LSH at FIXED (n_planes, n_tables) grows ~linearly in
bucket occupancy n/2^planes — at 60k vectors the LSH join already
costs 5× IVF for comparable recall. Prefer
:func:`ivf_topk_self_join` beyond ~50k vectors. When LSH semantics
are required at scale (no training step, fully incremental
bucketing), size it with :func:`lsh_params_for`, which holds bucket
occupancy constant by adding planes with log₂(n) and compensates
recall with more tables — bounded per-bucket cost by construction,
at the price of more tables (probe row in BENCH.md).

This module is the scale path when the query set IS the corpus
(all-pairs semantic dedup, embedding clustering); the re-rank stage is
oracle-pinned end-to-end by contract.py ann_rerank_exact.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window as W, functions as F

from kg.stages import canon

#: buckets larger than this are dropped from the self-join (and
#: counted); a degenerate bucket (e.g. the all-zeros region) would
#: otherwise reintroduce the quadratic pair space.
BUCKET_CAP = 1024


def lsh_params_for(n_vectors: int, occupancy: int = 64,
                   p_near: float = 0.889,
                   target_recall: float = 0.9) -> tuple[int, int]:
    """(n_planes, n_tables) sized for ``n_vectors`` so LSH cost stays
    BOUNDED as the corpus grows (VERDICT r4 #5 — at fixed parameters
    the bucket self-join cost grows with occupancy n/2^planes).

    - ``n_planes`` = ⌈log₂(n / occupancy)⌉ keeps expected bucket
      occupancy ≈ ``occupancy``: candidate-pair work per table stays
      ~n·occupancy whatever n is, instead of n²/2^planes.
    - ``n_tables`` compensates the per-table recall loss of narrower
      buckets: for a near pair at angle θ, P[same bucket in one
      table] = p^planes with p = 1 − θ/π (Charikar 2002); L tables
      give recall ≈ 1 − (1 − p^planes)^L, solved for
      ``target_recall``. The default ``p_near`` = 0.889 is the
      near-duplicate regime (cosine ≈ 0.94, the semantic-dedup
      operating point); pass the p of YOUR similarity threshold for
      other workloads.

    At 120k vectors this yields (11, 8): measured recall 0.92 with
    wall-clock ~flat vs the 60k fixed-parameter run (BENCH.md ANN
    probe). More tables cost linearly (L bucket passes); occupancy
    growth would have cost quadratically per bucket.
    """
    n_planes = max(4, math.ceil(math.log2(max(n_vectors, 2)
                                          / max(occupancy, 1))))
    per_table = p_near ** n_planes
    n_tables = max(2, math.ceil(math.log(1.0 - target_recall)
                                / math.log(1.0 - per_table)))
    return n_planes, n_tables


def _planes(n_planes: int, n_tables: int, dim: int,
            seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim))


def hyperplane_buckets(vecs: DataFrame, id_col: str = "vec_id",
                       emb_col: str = "embedding", *,
                       dim: int, n_planes: int = 8, n_tables: int = 4,
                       seed: int = 7) -> DataFrame:
    """(id, table, bucket): sign-bit bucket of each vector in each of
    the L hash tables. One Arrow-batched matmul per batch —
    (batch, dim) @ (dim, L·planes) — then bit-packing; measured 3×
    faster than the equivalent L·planes JVM zip_with/aggregate
    expressions (embedding dot products are the sanctioned
    vectorized-pandas-UDF case: the work is dense linear algebra,
    not relational). The planes are pinned by seed, so bucketing is
    deterministic across runs and partition layouts."""
    planes = _planes(n_planes, n_tables, dim, seed)
    proj = planes.reshape(-1, dim).T            # (dim, L·planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def batches(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            bits = (v @ proj) > 0                # (n, L·planes)
            frames = []
            for t in range(n_tables):
                b = bits[:, t * n_planes:(t + 1) * n_planes] @ weights
                frames.append(pd.DataFrame(
                    {id_col: pdf[id_col], "table": np.int32(t),
                     "bucket": b}))
            yield pd.concat(frames)

    return (vecs.select(id_col, emb_col)
            .mapInPandas(batches,
                         schema=f"{id_col} long, table int, bucket long"))


def candidate_pairs(buckets: DataFrame, id_col: str = "vec_id",
                    bucket_cap: int = BUCKET_CAP, obs=None,
                    q_filter: str | None = None) -> DataFrame:
    """Directed candidate pairs (q, c): ids sharing any (table, bucket),
    deduplicated across tables as bare 16-byte rows — the canon.py
    candidate shape, one groupBy shuffle + in-array expansion.
    Buckets come from :func:`canon.capped_blocks`: over-cap buckets
    are dropped and counted into ``obs`` when supplied. The expansion
    is this module's own: pairs are directed, and ``q_filter`` prunes
    the query side inside it.

    ``q_filter``: optional SQL boolean over the element variable
    ``x`` (e.g. ``"x < 50"``) restricting which ids act as QUERIES.
    Per-query top-k is independent of every other query, so when a
    caller only consumes a query subset, pushing its predicate into
    the pair expansion is output-identical for that subset while the
    candidate/explode/dedup volume drops by the subset's selectivity
    (guide §2.3 — don't materialize pairs you throw away). The
    CANDIDATE side stays the full corpus — only the q slots narrow."""
    qs = f"filter(ns, x -> {q_filter})" if q_filter else "ns"
    pair_expr = (
        f"flatten(transform({qs}, x -> "
        "transform(filter(ns, y -> y != x), y -> "
        "struct(x AS q, y AS c))))")
    blocks = canon.capped_blocks(buckets, ["table", "bucket"], id_col,
                                 bucket_cap, obs)
    return (blocks.select(F.explode(F.expr(pair_expr)).alias("p"))
            .select("p.q", "p.c")
            .dropDuplicates(["q", "c"]))


def cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y:
                                 x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    # zero-norm guard: a zero vector would divide 0/0 → NaN, and Spark
    # orders NaN ABOVE every real double, so one zero-vector candidate
    # would take rnk=1 for every query it pairs with in rerank_topk.
    # greatest(·, 1e-12) pins its cosine to 0.0 instead; any oracle SQL
    # paired with this expression must carry the same guard.
    return dot / F.sqrt(F.greatest(sq(a) * sq(b), F.lit(1e-12)))


def rerank_topk(pairs: DataFrame, vecs: DataFrame,
                id_col: str = "vec_id", emb_col: str = "embedding",
                k: int = 10) -> DataFrame:
    """Exact cosine re-rank of candidate (q, c) pairs → per-query
    top-k (q, c, cos, rnk), deterministic tie-break on c. Embeddings
    attach to the deduped id pairs via two joins against the vector
    table (n rows — auto-broadcast small, node-keyed shuffle at
    scale), mirroring canon.verify_pairs."""
    qe = vecs.select(F.col(id_col).alias("q"), F.col(emb_col).alias("qe"))
    ce = vecs.select(F.col(id_col).alias("c"), F.col(emb_col).alias("ce"))
    scored = (pairs.join(qe, "q").join(ce, "c")
              .withColumn("cos", cosine(F.col("qe"), F.col("ce")))
              .select("q", "c", "cos"))
    w = W.partitionBy("q").orderBy(F.desc("cos"), F.asc("c"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k))


def ann_topk_self_join(vecs: DataFrame, id_col: str = "vec_id",
                       emb_col: str = "embedding", *,
                       dim: int, k: int = 10, n_planes: int = 8,
                       n_tables: int = 4, seed: int = 7,
                       bucket_cap: int = BUCKET_CAP,
                       q_filter: str | None = None) -> DataFrame:
    """Every vector's approximate top-k cosine neighbors via
    hyperplane-LSH buckets: (q, c, cos, rnk) with rnk ∈ [1, k].
    Exact re-rank happens only INSIDE the candidate set.
    ``q_filter`` restricts the query side only — see
    :func:`candidate_pairs`; rows for the surviving queries are
    identical to the unfiltered run's."""
    buckets = hyperplane_buckets(vecs, id_col, emb_col, dim=dim,
                                 n_planes=n_planes, n_tables=n_tables,
                                 seed=seed)
    pairs = candidate_pairs(buckets, id_col, bucket_cap=bucket_cap,
                            q_filter=q_filter)
    return rerank_topk(pairs, vecs, id_col, emb_col, k=k)


def train_centroids(vecs: DataFrame, id_col: str = "vec_id",
                    emb_col: str = "embedding", *, n_cells: int = 32,
                    sample: int = 20_000, iters: int = 12,
                    seed: int = 7) -> np.ndarray:
    """IVF coarse quantizer: spherical k-means (Lloyd on cosine /
    unit sphere) over a BOUNDED driver-side sample — the standard IVF
    training regime (FAISS trains its quantizer on a sample too);
    assignment of the full corpus stays distributed. Deterministic:
    seeded init, fixed iteration count. Returns (n_cells, dim)
    L2-normalized centroids.

    The sample is drawn by ordering on a hash of the id — a
    distributed TakeOrdered, O(n log sample) on narrow rows — NOT by
    ``limit()``: limit takes whatever rows come first, and any
    correlation between storage order and embedding geometry (time-
    clustered corpora, pre-sorted shards) would train the quantizer
    on a biased prefix of the space. r5 regression caught by the 120k
    probe: on a cluster-ordered corpus, prefix sampling collapsed
    recall to 0.67–0.82; hash-spread sampling restores it (BENCH.md
    ANN table)."""
    rows = (vecs.select(emb_col, F.xxhash64(F.col(id_col)).alias("_h"))
            .orderBy("_h").limit(sample).drop("_h").collect())
    v = np.array([r[emb_col] for r in rows], dtype=np.float64)
    v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    c = v[rng.choice(len(v), size=min(n_cells, len(v)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(v @ c.T, axis=1)
        for j in range(len(c)):
            members = v[assign == j]
            if len(members):
                c[j] = members.sum(axis=0)
        c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return c


def ivf_cells(vecs: DataFrame, centroids: np.ndarray,
              id_col: str = "vec_id", emb_col: str = "embedding",
              nprobe: int = 1) -> DataFrame:
    """(id, rank, cell): each vector's ``nprobe`` nearest coarse
    cells by cosine (rank 0 = home cell = inverted-list membership;
    ranks 1..nprobe−1 = probe cells). One Arrow-batched matmul per
    batch against the broadcast centroid matrix."""
    ct = centroids.T.copy()
    npb = nprobe

    def batches(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True),
                            1e-12)
            sims = v @ ct                           # (n, cells)
            order = np.argsort(-sims, axis=1)[:, :npb]
            frames = [pd.DataFrame({id_col: pdf[id_col],
                                    "rank": np.int32(r),
                                    "cell": order[:, r].astype(np.int32)})
                      for r in range(order.shape[1])]
            yield pd.concat(frames)

    return (vecs.select(id_col, emb_col)
            .mapInPandas(batches,
                         schema=f"{id_col} long, rank int, cell int"))


def ivf_topk_self_join(vecs: DataFrame, id_col: str = "vec_id",
                       emb_col: str = "embedding", *,
                       n_cells: int = 32, nprobe: int = 2, k: int = 10,
                       seed: int = 7,
                       q_filter: str | None = None) -> DataFrame:
    """IVF variant of the many-to-many ANN — **the documented scale
    default** (module docstring, r5): a sampled spherical-k-means
    coarse quantizer shards the corpus into inverted lists; every
    vector probes its ``nprobe`` nearest cells and exact-re-ranks
    only the members found there. Cells are the shuffle partitioner
    at cluster scale — each inverted list's join is local to its
    partition.

    Sizing at scale: grow ``n_cells`` ∝ n (≈ n/200 keeps inverted
    lists ~200 long, so pair work stays ~n·200·nprobe — linear in n
    by construction); with the hash-spread quantizer sample (see
    train_centroids) recall at the 120k probe is insensitive to
    n_cells across 150–1200 (0.999–1.0, BENCH.md), so list length is
    purely a cost knob."""
    cents = train_centroids(vecs, id_col, emb_col, n_cells=n_cells,
                            seed=seed)
    cells = ivf_cells(vecs, cents, id_col, emb_col, nprobe=nprobe)
    members = (cells.where(F.col("rank") == 0)
               .select(F.col(id_col).alias("c"), "cell"))
    probes = cells.select(F.col(id_col).alias("q"), "cell")
    if q_filter:
        # SQL boolean over the query column ``q`` (e.g. "q < 50") —
        # same contract as candidate_pairs' q_filter: per-query top-k
        # is independent, so restricting the PROBE side is output-
        # identical for the surviving queries while the candidate
        # join/re-rank volume drops by the subset's selectivity; the
        # member (inverted-list) side stays the full corpus.
        probes = probes.where(q_filter)
    pairs = (probes.join(members, "cell")
             .where(F.col("q") != F.col("c"))
             .select("q", "c").dropDuplicates(["q", "c"]))
    return rerank_topk(pairs, vecs, id_col, emb_col, k=k)
