"""C1–C4 — entity canonicalization on DataFrames (SURVEY.md §2 C).

- C1: minhash signatures over hashed feature sets (Broder 1997).
  Features are computed and hashed ENTIRELY JVM-side (higher-order
  ``transform`` + ``xxhash64``): char-3-grams for short entity norms,
  w-word shingles for documents. Granularity matters at scale: on
  natural text with a shared vocabulary, char-3-gram Jaccard between
  UNRELATED documents is 0.3–0.4, so banding degenerates to
  near-all-pairs (round 1 measured 673k candidate pairs from 4,793
  docs — 83% of the whole bench); word-shingle Jaccard between
  unrelated documents is ≈0, so candidates stay O(n·near_dups).
  The minhash itself is a single vectorized numpy pass
  (concatenate + minimum.reduceat) — zero per-row Python.
- C1c: candidate pairs are deduplicated as BARE (src, dst) int64 ids —
  the band fan-out shuffle carries 16-byte rows, never feature arrays.
- C2: verify joins the per-NODE feature table (n rows, not pairs) onto
  the deduped pairs and computes exact Jaccard in the JVM
  (``array_intersect``; |A∪B| = |A|+|B|−|A∩B|).
- C3: iterative connected components, hash-to-min message passing
  (GraphFrames-style on plain DataFrames; Kiveris et al. SoCC 2014
  family). Driver loop with ``localCheckpoint`` per iteration to
  truncate lineage — without it the plan grows exponentially.
- C4: cluster naming, one rule — a norm keeps its own dictionary
  entity, else inherits the entity of its cluster's
  lexicographically-first dictionary-linked member, else its cluster's
  lexicographically-first norm (fully deterministic). It has two
  forms, pinned equal in tests/test_canon.py: ``_name_cluster`` on the
  driver, and one window aggregate per component
  (``_name_components``) on the engine, whose buffer spills to disk
  instead of holding a whole component in one Python list.

Inside the driver bounds (``DRIVER_CANON_MAX_NODES`` nodes,
``DRIVER_CANON_MAX_FEATURES`` features in all,
``DRIVER_CANON_MAX_EDGES`` distinct candidate pairs), C1–C2 run on
the driver: the same minhash function, a numpy replica of the JVM band
hash, the same blocking cap and exact Jaccard — the same edges without
the Spark stages' fixed cost. :func:`near_duplicate_edges` collects
the JVM feature table through one probe (:func:`_driver_probe`);
:func:`canonicalize_norms` collects only the norms and hashes their
char-3-grams on the driver with a replica of the JVM string hash, then
runs C3–C4 there too (a union-find and :func:`_name_cluster`).
:func:`components_auto` runs C3 on the driver inside the node and edge
bounds. Above the bounds the steps above run distributed.

Node ids are ``xxhash64(norm)`` — deterministic across runs and
partition layouts, unlike ``monotonically_increasing_id``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window, functions as F

from kg import spec
from kg.stages import graph

_MERSENNE = (1 << 61) - 1


def _perm_coeffs() -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(spec.MINHASH_SEED)
    a = rng.integers(1, _MERSENNE, size=spec.MINHASH_H, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=spec.MINHASH_H, dtype=np.int64)
    return a, b


_NGRAMS_SQL = (
    "array_distinct(transform(sequence(0, greatest(length({p}) - {n}, 0)), "
    "i -> substr({p}, i + 1, {n})))"
)

#: w-word shingles over a space-split token array, each shingle hashed
#: to int64 in the same expression — no string arrays materialize. The
#: hash is taken over the token SLICE: tokens are space-free, so a
#: slice identifies the same shingle as its space-joined string,
#: without building ~|tokens| short strings per document just to hash
#: and discard them. The hash draw randomizes LSH banding, not the
#: verified output: candidates are exact-Jaccard-verified, and true
#: near-dup pairs sit at J ≥ 0.9, where the b=32/r=4 miss probability
#: is ~1e-15 under any hash draw.
_SHINGLES_SQL = (
    "array_distinct(transform("
    "sequence(1, greatest(size({t}) - {wm1}, 1)), "
    "i -> xxhash64(slice({t}, i, {w}))))"
)


def with_ngrams(df: DataFrame, norm_col: str, out_col: str) -> DataFrame:
    """Padded char-3-gram array, computed fully JVM-side (codegen)."""
    padded = f"concat('^', {norm_col}, '$')"
    return df.withColumn(
        out_col, F.expr(_NGRAMS_SQL.format(p=padded, n=spec.CHAR_NGRAM)))


def capped_blocks(rows: DataFrame, keys: list[str], member, cap: int,
                  obs=None) -> DataFrame:
    """The blocking rule of every capped LSH path (minhash bands,
    simhash blocks, incremental touched buckets, ANN buckets): group
    ``rows`` on ``keys`` into ``ns = collect_list(member)``, drop
    blocks of fewer than 2 members, and drop blocks of more than
    ``cap`` members. Returns (*keys, ns).

    Drops are counted when ``obs`` (a ``pyspark.sql.Observation``) is
    supplied: ``dropped_buckets`` = over-cap blocks, ``dropped_nodes``
    = member SLOTS inside them, summed across bands/blocks/tables — a
    node dropped in k blocks counts k times, so it is an UPPER BOUND
    on the distinct-node recall exposure (a distinct count would cost
    an extra shuffle on the hot path). Singletons are never counted.

    Caveat (measured, Spark 4.1): if the query's FINAL result is
    empty, AQE can prune the observed subtree and ``obs.get`` raises
    instead of returning zeros — read the metrics only after an
    action that produced rows, or wrap the read in try/except."""
    blocks = (rows.groupBy(*keys).agg(F.collect_list(member).alias("ns"))
              .where(F.size("ns") >= 2))
    if obs is not None:
        over = F.size("ns") > cap
        blocks = blocks.observe(
            obs,
            F.sum(F.when(over, 1).otherwise(0)).alias("dropped_buckets"),
            F.sum(F.when(over, F.size("ns")).otherwise(0))
             .alias("dropped_nodes"))
    return blocks.where(F.size("ns") <= cap)


def block_pairs(blocks: DataFrame, fields: str) -> DataFrame:
    """The in-array pair expansion of a block table: for every
    unordered member pair (x, y) of ``ns`` (x before y in the list),
    one ``struct(<fields>)`` — ``fields`` is a SQL field list over
    the lambda variables ``x`` and ``y`` — exploded into column
    ``p``. Bounded by |ns|² per block, with no self-join."""
    return blocks.select(F.explode(F.expr(
        "flatten(transform(ns, (x, i) -> "
        "transform(slice(ns, i + 2, size(ns)), "
        f"y -> struct({fields}))))")).alias("p"))


def node_features(norms: DataFrame, feature: str = "char",
                  shingle_w: int = spec.SHINGLE_W) -> DataFrame:
    """C1a: distinct ``norm`` column → (node, norm, f: array<long>) —
    the hashed feature set, entirely JVM-side.

    ``feature='char'``: char-3-grams — right for SHORT strings (entity
    surface norms), where word shingles barely exist.
    ``feature='word'``: ``shingle_w``-word shingles — right for
    documents; between unrelated natural-text documents the shingle
    Jaccard is ≈0 (vs 0.3–0.4 for char-3-grams), which is what keeps
    LSH candidate generation O(n) instead of O(n²)."""
    d = norms.select("norm").distinct()
    if feature == "char":
        d = with_ngrams(d, "norm", "f")
        d = d.withColumn("f", F.transform("f", lambda x: F.xxhash64(x)))
    elif feature == "word":
        d = d.withColumn("_t", F.split("norm", " "))
        d = d.withColumn("f", F.expr(_SHINGLES_SQL.format(
            t="_t", w=shingle_w, wm1=shingle_w - 1))).drop("_t")
    else:
        raise ValueError(f"unknown feature mode {feature!r}")
    return d.withColumn("node", F.xxhash64("norm"))


def _feature_chunks(feats: list, max_feats: int):
    """Row chunks for the vectorized reduceat passes (minhash,
    simhash): yields (row, end, flat, offsets, lens) where rows
    [row, end) hold at most ``max_feats`` features in total (a single
    larger row gets a chunk of its own), ``flat`` is their
    concatenated features, ``offsets`` each row's start in ``flat``
    and ``lens`` each row's feature count. Bounds the per-chunk
    (features × lanes) temp matrix."""
    lens = np.fromiter((len(f) for f in feats), dtype=np.int64,
                       count=len(feats))
    row = 0
    while row < len(feats):
        end = row
        total = 0
        while end < len(feats) and (total == 0
                                    or total + lens[end] <= max_feats):
            total += lens[end]
            end += 1
        offsets = np.zeros(end - row, dtype=np.int64)
        np.cumsum(lens[row:end - 1] if end - row > 1 else [],
                  out=offsets[1:])
        yield row, end, np.concatenate(feats[row:end]), offsets, \
            lens[row:end]
        row = end


def _minhash(feats: list[np.ndarray]) -> np.ndarray:
    """Vectorized minhash of pre-hashed feature arrays → (rows, H)
    int64 signatures: one (H, total_features) universal-hash matrix
    per chunk, updated in place, per-row min via
    ``np.minimum.reduceat`` along the contiguous feature axis — no
    per-row Python, no string ops. Chunked so the temp matrix stays
    ≤ ~64 MB."""
    a, b = _perm_coeffs()
    au = a.astype(np.uint64)[:, None]
    bu = b.astype(np.uint64)[:, None]
    m64 = np.uint64(_MERSENNE)
    max_feats = 64_000  # 128 × 64k × 8 B ≈ 64 MB temp
    feats = [np.asarray(f, dtype=np.int64).view(np.uint64) for f in feats]
    sigs = np.empty((len(feats), spec.MINHASH_H), dtype=np.int64)
    for row, end, flat, offsets, _ in _feature_chunks(feats, max_feats):
        h = au * flat[None, :]
        h += bu
        h %= m64
        sigs[row:end] = np.minimum.reduceat(h, offsets, axis=1).T
    return sigs


def _minhash_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The minhash UDF: (node, f) Arrow batches → (node, sig)."""
    for pdf in it:
        yield pd.DataFrame({"node": pdf["node"],
                            "sig": list(_minhash(list(pdf["f"])))})


def minhash_signatures(feats: DataFrame) -> DataFrame:
    """C1a: the (node, f) feature table of :func:`node_features` →
    (node, sig[H]).

    Only (node, f) crosses the Arrow boundary, never the norm string
    (a full document for word-feature callers): every consumer keys
    on node, and callers needing the node → norm map read it off the
    feature table they already hold."""
    return (feats.select("node", "f")
            .mapInPandas(_minhash_batches,
                         schema="node long, sig array<long>"))


def lsh_bands(signed: DataFrame) -> DataFrame:
    """C1b: slice each signature into b bands of r rows, hash each band
    JVM-side → (node, band, bhash) — 24-byte rows into the block join,
    no payload columns ride the fan-out.

    Each band hashes its r signature lanes as r SCALAR xxhash64
    arguments (element_at), so no per-band sub-array is allocated
    (32 slices/row at H=128). The band array is parsed from one SQL
    string: built column by column, its ~3k Py4J calls cost the driver
    ~0.5 s per plan (now ~0.09 s)."""
    r = spec.MINHASH_ROWS
    bands = ", ".join(
        f"struct({i} AS band, xxhash64("
        + ", ".join(f"element_at(sig, {i * r + j + 1})" for j in range(r))
        + ") AS bhash)" for i in range(spec.MINHASH_BANDS))
    return (signed.select("node", F.explode(F.expr(f"array({bands})"))
                          .alias("bb"))
            .select("node", "bb.band", "bb.bhash"))


#: the primes of Spark's XXH64 (org.apache.spark.sql.catalyst.expressions)
_XXH_P1, _XXH_P2, _XXH_P3, _XXH_P4, _XXH_P5 = (np.uint64(p) for p in (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5))


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    """XXH64's final avalanche, in place."""
    h ^= h >> np.uint64(33)
    h *= _XXH_P2
    h ^= h >> np.uint64(29)
    h *= _XXH_P3
    h ^= h >> np.uint64(32)
    return h


def _xxhash64_longs(lanes: np.ndarray) -> np.ndarray:
    """Spark SQL's ``xxhash64(c1, …, ck)`` over k int64 columns,
    vectorized: (rows, k) int64 → (rows,) int64. Spark starts from
    seed 42 and hashes each column with ``XXH64.hashLong``, seeded
    with the hash of the columns before it. uint64 arithmetic wraps
    as Java's long does."""
    h = np.full(len(lanes), 42, dtype=np.uint64)
    for col in lanes.astype(np.uint64).T:
        h = h + _XXH_P5 + np.uint64(8)
        h ^= _rotl64(col * _XXH_P2, 31) * _XXH_P1
        h = _rotl64(h, 27) * _XXH_P1 + _XXH_P4
        h = _fmix(h)
    return h.view(np.int64)


def _xxhash64_utf8(strings: list[str]) -> np.ndarray:
    """Spark SQL's ``xxhash64(s)`` of each string, vectorized → (n,)
    int64: ``XXH64.hashUnsafeBytes`` over the UTF-8 bytes with seed
    42 — 32-byte stripes of four little-endian lanes, then 8-byte
    words, one 4-byte word and single bytes, then the avalanche. Each
    string is padded with zero bytes to a whole number of words that
    leaves room for its tail word; the padding is never hashed."""
    enc = [x.encode() for x in strings]
    n = len(enc)
    lens = np.fromiter(map(len, enc), np.int64, n)
    width = 8 * (int(lens.max(initial=0)) // 8 + 1)
    words = np.frombuffer(b"".join(e.ljust(width, b"\0") for e in enc),
                          dtype="<u8").reshape(n, width // 8) \
        .astype(np.uint64)
    rows = np.arange(n)
    seed, mask = 42, (1 << 64) - 1
    stripes = np.where(lens >= 32, (lens - 32) // 32 + 1, 0)
    h = np.full(n, seed + int(_XXH_P5), dtype=np.uint64)
    big = np.flatnonzero(stripes)
    if len(big):
        v = [np.full(len(big), x & mask, dtype=np.uint64) for x in (
            seed + int(_XXH_P1) + int(_XXH_P2), seed + int(_XXH_P2),
            seed, seed - int(_XXH_P1))]
        for s in range(int(stripes.max())):
            m = stripes[big] > s
            for lane in range(4):
                x = v[lane][m] + words[big[m], 4 * s + lane] * _XXH_P2
                v[lane][m] = _rotl64(x, 31) * _XXH_P1
        acc = (_rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12)
               + _rotl64(v[3], 18))
        for lane in range(4):
            acc ^= _rotl64(v[lane] * _XXH_P2, 31) * _XXH_P1
            acc = acc * _XXH_P1 + _XXH_P4
        h[big] = acc
    h += lens.astype(np.uint64)
    first = 4 * stripes
    n_words = lens // 8 - first
    for w in range(int(n_words.max(initial=0))):
        m = n_words > w
        k1 = words[rows[m], first[m] + w]
        x = h[m] ^ (_rotl64(k1 * _XXH_P2, 31) * _XXH_P1)
        h[m] = _rotl64(x, 27) * _XXH_P1 + _XXH_P4
    tail = words[rows, lens // 8]
    rem = lens % 8
    m = rem >= 4
    x = h[m] ^ ((tail[m] & np.uint64(0xFFFFFFFF)) * _XXH_P1)
    h[m] = _rotl64(x, 23) * _XXH_P2 + _XXH_P3
    start = np.where(m, 4, 0)
    for j in range(3):
        m = rem - start > j
        byte = (tail[m] >> ((start[m] + j) * 8).astype(np.uint64)) \
            & np.uint64(0xFF)
        h[m] = _rotl64(h[m] ^ (byte * _XXH_P5), 11) * _XXH_P1
    return _fmix(h).view(np.int64)


def _char_features(norms: list[str]) -> list[np.ndarray]:
    """:func:`node_features`' char-3-gram ``f`` of each norm, on the
    driver: the padded norm's distinct n-grams in first-seen order,
    each hashed by :func:`_xxhash64_utf8` — equal to the JVM's arrays
    (pinned in tests/test_canon.py). Each distinct gram is hashed
    once."""
    n = spec.CHAR_NGRAM
    grams = []
    for norm in norms:
        p = f"^{norm}$"
        grams.append(list(dict.fromkeys(
            p[i:i + n] for i in range(max(len(p) - n, 0) + 1))))
    uniq = list(dict.fromkeys(g for gs in grams for g in gs))
    hashed = dict(zip(uniq, _xxhash64_utf8(uniq).tolist()))
    return [np.array([hashed[g] for g in gs], dtype=np.int64)
            for gs in grams]


def _driver_band_hashes(sigs: np.ndarray) -> np.ndarray:
    """:func:`lsh_bands` on the driver: (rows, H) signatures →
    (rows, b) band hashes, equal to the ``bhash`` the JVM computes for
    the same signature lanes (pinned in tests/test_canon.py), so both
    branches of :func:`near_duplicate_edges` and
    :func:`canonicalize_norms` bucket identically."""
    n, r = len(sigs), spec.MINHASH_ROWS
    return _xxhash64_longs(sigs.reshape(n * spec.MINHASH_BANDS, r)) \
        .reshape(n, spec.MINHASH_BANDS)


def candidate_pairs(banded: DataFrame,
                    block_cap: int = spec.BLOCK_CAP,
                    obs=None) -> DataFrame:
    """C1c: nodes sharing an LSH bucket, as distinct bare (src, dst)
    int64 ids with src < dst. Buckets come from :func:`capped_blocks`
    on (band, bhash): over-cap buckets (super-common surfaces) are
    dropped and counted into ``obs`` when supplied, so recall loss
    from hot buckets is observable, not silent.

    One shuffle: the per-bucket ``collect_list(node)`` is the only
    exchange before the id-pair dedup, and the src < dst expansion
    happens in-array (:func:`block_pairs`). Ids only by design: a
    pair that collides in k bands is emitted k times, so the dedup
    shuffle moves 16-byte rows; feature arrays attach after the dedup
    (:func:`verify_pairs`)."""
    blocks = capped_blocks(banded, ["band", "bhash"], "node", block_cap,
                           obs)
    return (block_pairs(blocks,
                        "least(x, y) AS src, greatest(x, y) AS dst")
            .select("p.src", "p.dst")
            .where(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"]))


def verify_pairs(pairs: DataFrame, feats: DataFrame,
                 tau: float = spec.TAU_DUP,
                 carry: str | None = None) -> DataFrame:
    """C2: exact feature-set Jaccard, JVM-side; keep sim ≥ τ → T6.

    ``pairs``: deduped (src, dst) ids. ``feats``: the (node, f) table
    from :func:`node_features` — n rows, joined twice (auto-broadcast
    when small; a node-keyed shuffle join at cluster scale). Integer
    ``array_intersect`` with |A∪B| = |A|+|B|−|A∩B| so array_union
    never materializes.

    ``carry``: optional feats column to ride the two joins through to
    the output as ``src_<carry>``/``dst_<carry>`` — callers that need
    a node → payload map on the edges (e.g. fingerprint keys) get it
    here instead of re-joining the edge set afterwards. The f arrays
    dominate the join width, so the passenger column is noise."""
    extra1 = [F.col(carry).alias(f"src_{carry}")] if carry else []
    extra2 = [F.col(carry).alias(f"dst_{carry}")] if carry else []
    g1 = feats.select(F.col("node").alias("src"),
                      F.col("f").alias("g1"), *extra1)
    g2 = feats.select(F.col("node").alias("dst"),
                      F.col("f").alias("g2"), *extra2)
    df = pairs.join(g1, "src").join(g2, "dst")
    inter = F.size(F.array_intersect("g1", "g2")).cast("double")
    union = F.size("g1") + F.size("g2") - inter
    out = ([f"src_{carry}", f"dst_{carry}"] if carry else [])
    return (df.withColumn("sim", inter / union)
              .where(F.col("sim") >= tau)
              .select("src", "dst", "sim", *out))


def near_duplicate_edges(norms: DataFrame,
                         tau: float = spec.TAU_DUP,
                         feature: str = "char",
                         obs=None,
                         return_feats: bool = False,
                         block_cap: int = spec.BLOCK_CAP,
                         handles: list | None = None,
                         carry: str | None = None):
    """C1+C2: near-duplicate edges (src, dst, sim) with src < dst and
    sim ≥ ``tau``; node = xxhash64(norm). The (node, norm, f) feature
    table is computed in the JVM and persisted, then one gate picks a
    branch:

    - Driver: if :func:`_driver_probe` fits the table in the driver
      bounds and the kept LSH blocks hold at most
      ``DRIVER_CANON_MAX_EDGES`` distinct candidate pairs, C1–C2 run
      in :func:`_driver_near_duplicates` with the same ``tau`` and
      ``block_cap``, and the edges come back as a local relation.
    - Distributed: otherwise the minhash UDF, :func:`lsh_bands`,
      :func:`candidate_pairs` and :func:`verify_pairs`, lazily, over
      the same persisted features. The banded frame is persisted too:
      it feeds both the bucket-size filter and the pair join.

    Both branches give the same edges (tested). This function is
    EAGER, as :func:`components_auto` is: the probe collects up to
    ``DRIVER_CANON_MAX_NODES`` + 1 feature rows at call time.

    ``obs`` (a ``pyspark.sql.Observation``) receives the
    :func:`capped_blocks` drop counts on either branch: on the driver
    branch it is filled before this function returns.

    ``return_feats=True`` additionally returns the persisted
    (node, norm, f) table as ``(edges, feats)`` so callers needing a
    node → norm map (e.g. fingerprint output keys) reuse the cached
    distinct scan instead of re-reading the corpus.

    ``handles``: pass a list and the internally-persisted frames are
    appended to it so the CALLER can ``unpersist()`` them once the
    edges are materialized — in a long-lived session the caches
    otherwise outlive the computation. The driver branch releases the
    feature table itself unless ``return_feats`` is set.

    ``carry``: a feature-table column to ride through to the edges as
    ``src_<carry>``/``dst_<carry>`` (see :func:`verify_pairs`)."""
    feats = node_features(norms, feature=feature).persist()
    if handles is not None:
        handles.append(feats)
    probe = _driver_probe(feats, carry)
    near = None if probe is None else _driver_near_duplicates(
        probe.column("f").to_numpy(zero_copy_only=False), tau, block_cap)
    if near is not None:
        pairs, dropped_buckets, dropped_nodes = near
        edges = _local_edges(feats.sparkSession, probe, pairs, carry)
        if obs is not None:
            feats.sparkSession.createDataFrame(
                [(dropped_buckets, dropped_nodes)],
                "dropped_buckets long, dropped_nodes long").observe(
                obs, F.sum("dropped_buckets").alias("dropped_buckets"),
                F.sum("dropped_nodes").alias("dropped_nodes")).collect()
        if return_feats:
            return edges, feats
        feats.unpersist()
        return edges
    banded = lsh_bands(minhash_signatures(feats)).persist()
    if handles is not None:
        handles.append(banded)
    edges = verify_pairs(
        candidate_pairs(banded, block_cap=block_cap, obs=obs),
        feats, tau=tau, carry=carry)
    if return_feats:
        return edges, feats
    return edges


#: SimHash signature width: md5_60's first 15 hex digits of md5(word)
SIMHASH_BITS = 60


def simhash64(docs: DataFrame) -> DataFrame:
    """Word-feature SimHash (Charikar 2002) of (doc_id, text): per-word
    hash JVM-side, the per-bit ±1 majority vote as one vectorized
    numpy pass per Arrow batch. → (doc_id, simhash).

    Signatures are ``SIMHASH_BITS`` = 60 wide, from the first 15 hex
    digits of md5(word) (the md5_60 rule): md5 and base conversion are
    portable, so an EXTERNAL engine (the DuckDB driver oracle) can
    recompute every signature bit for bit. The majority vote is
    duplicate-sensitive: a word's hash votes once per occurrence."""
    hashes = F.transform(
        F.split(F.lower("text"), " "),
        lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10)
                   .cast("long"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one vectorized pass per chunk (0/1 integer sums via
        # add.reduceat); chunked so the bit matrix stays ~32 MB
        shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
        max_feats = 64_000
        for pdf in it:
            feats = [np.asarray(hs, dtype=np.int64).view(np.uint64)
                     for hs in pdf["hashes"]]
            out = np.empty(len(feats), dtype=np.int64)
            for row, end, flat, offsets, lens in _feature_chunks(
                    feats, max_feats):
                bits = (flat[:, None] >> shifts) & np.uint64(1)
                sums = np.add.reduceat(bits, offsets, axis=0) \
                    .astype(np.int64)
                # signed: uint64 would wrap negative vote sums
                votes = sums * 2 - lens[:, None]
                out[row:end] = ((votes > 0).astype(np.uint64)
                                << shifts).sum(axis=1).astype(np.int64)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    return (docs.select("doc_id", hashes.alias("hashes"))
            .where(F.size("hashes") > 0)
            .mapInPandas(batches, schema="doc_id long, simhash long"))


#: Hamming radius of :func:`simhash_near_pairs`; at most
#: ``SIMHASH_BLOCKS`` − 1, so the pigeonhole guarantee covers it
SIMHASH_MAX_HAMMING = 3

#: blocks the signature splits into; divides ``SIMHASH_BITS`` so the
#: blocks tile the signature exactly
SIMHASH_BLOCKS = 4


def simhash_near_pairs(sims: DataFrame) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤
    ``SIMHASH_MAX_HAMMING`` (Manku, Jain & Das Sarma, WWW 2007,
    single-permutation block variant): split the ``SIMHASH_BITS``-bit
    signature into ``SIMHASH_BLOCKS`` blocks — any pair within Hamming
    distance ``SIMHASH_BLOCKS`` − 1 shares at least one INTACT block
    (pigeonhole), so candidates come from a block-value equi-join,
    never an all-pairs scan. The 8-byte signature rides the block
    shuffle, so verification (``bit_count(x ^ y)``) is in-line JVM
    work with no re-join.

    Precision-oriented complement to the minhash path
    (:func:`near_duplicate_edges` is the recall workhorse): wider
    blocks ⇒ fewer false candidates but only a d ≤ blocks − 1
    guarantee. Blocks come from :func:`capped_blocks`: blocks of more
    than ``spec.BLOCK_CAP`` members are dropped. Returns
    (src, dst, hamming), src < dst."""
    width = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << width) - 1
    blocks = F.array(*[
        F.struct(F.lit(b).alias("blk"),
                 F.shiftright("simhash", b * width)
                  .bitwiseAND(F.lit(mask)).alias("bval"))
        for b in range(SIMHASH_BLOCKS)])
    banded = (sims.select(F.col("doc_id").alias("id"), "simhash",
                          F.explode(blocks).alias("bb"))
              .select("id", "simhash", "bb.blk", "bb.bval"))
    grouped = capped_blocks(banded, ["blk", "bval"],
                            F.struct("id", "simhash"), spec.BLOCK_CAP)
    return (block_pairs(grouped,
                        "least(x.id, y.id) AS src, "
                        "greatest(x.id, y.id) AS dst, "
                        "bit_count(x.simhash ^ y.simhash) AS hamming")
            .select("p.src", "p.dst", "p.hamming")
            .where((F.col("hamming") <= SIMHASH_MAX_HAMMING)
                   & (F.col("src") != F.col("dst")))
            .dropDuplicates(["src", "dst"]))


def connected_components(nodes: DataFrame, edges: DataFrame,
                         max_iter: int = 64) -> DataFrame:
    """C3: hash-to-min label propagation to a fixpoint.

    ``nodes``: (node) — every vertex, including singletons.
    ``edges``: (src, dst). Returns (node, component) with component =
    min node id of the true component (deterministic). An edge
    endpoint outside ``nodes`` gets a row once a label reaches it,
    carrying the least label that reaches it, but never seeds a label
    of its own (pinned in tests/test_canon.py).

    Each round is :func:`graph.min_label_round` over the
    :func:`graph.label_adjacency` of the symmetrized edges — the same
    hash-min round as :func:`graph.min_label_propagation`, iterated to
    a fixpoint: ONE join of two O(nodes) tables + ONE aggregate per
    round, and the O(edges) list is grouped once, never re-shuffled.
    Converges in O(diameter) rounds; entity-variant clusters are tiny,
    so 2–4 rounds in practice. localCheckpoint per round keeps the
    plan flat (SURVEY.md §4).

    Convergence is read off an exact decimal(38) aggregate of the
    checkpointed labels: labels never increase (a node's message set
    includes its own label, and an outside endpoint only gains
    senders), so (sum, count) unchanged across a round ⟺ no label
    changed — a columnar scan of cached blocks, no join. Raises
    RuntimeError after ``max_iter`` rounds without a fixpoint rather
    than return stale labels."""
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    adj = graph.label_adjacency(nodes, sym).localCheckpoint()
    labels = nodes.select("node", F.col("node").alias("label"))
    labels = labels.localCheckpoint()

    def _sig(lab: DataFrame) -> tuple:
        r = lab.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n")).first()
        return (r["s"], r["n"])

    prev = _sig(labels)
    for _ in range(max_iter):
        labels = graph.min_label_round(adj, labels).localCheckpoint()
        cur = _sig(labels)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} "
            "rounds (graph diameter exceeds max_iter); raise max_iter")
    return labels.withColumnRenamed("label", "component")


#: node count up to which :func:`canonicalize_norms` runs C1–C4,
#: :func:`near_duplicate_edges` C1–C2 and :func:`components_auto` C3
#: on the driver. Small inputs make the
#: Spark stages pure fixed cost — the iterative CC loop alone is
#: O(rounds) driver-scheduled jobs on kilobytes of data, which caps
#: strong scaling (Amdahl). The driver C1–C4 was still faster at this
#: bound (98,956 norms on 4 cores: 12.9 s vs 19.2 s median, ~600 MB
#: driver RSS), so the bound caps driver memory; the crossover above
#: it is unmeasured. Above it the distributed path runs — identical
#: output (tested).
DRIVER_CANON_MAX_NODES = 100_000

#: the edge bound of the same driver paths: node count alone doesn't
#: bound the edge set (100k near-identical norms under block_cap=64 ×
#: 32 bands can emit ~10⁸ pairs — enough to OOM the driver).
#: :func:`components_auto` collects at most this many +1 edges; the
#: driver C1–C2 admits at most this many distinct candidate pairs (at
#: 888,608 of them the driver branch of :func:`canonicalize_norms`
#: took 20.9 s vs 31.9 s distributed). One more and the distributed
#: branch runs instead.
DRIVER_CANON_MAX_EDGES = 1_000_000

#: summed feature count (one int64 hash each) up to which the driver
#: C1–C2 of :func:`near_duplicate_edges` and :func:`canonicalize_norms`
#: run: documents carry orders of magnitude more word shingles than
#: entity norms carry char-3-grams, so the node bound alone does not
#: bound the driver's feature sets.
DRIVER_CANON_MAX_FEATURES = 2_000_000


def _union_find(ids, pairs) -> dict:
    """``{id: component}`` over ``ids``, component = the min id of its
    connected set: a union-find with path halving where the smaller
    root wins. A pair with an endpoint outside ``ids`` is skipped."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in pairs:
        if s in parent and d in parent:
            a, b = find(s), find(d)
            if a != b:
                parent[max(a, b)] = min(a, b)
    return {i: find(i) for i in parent}


def components_auto(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Same contract as :func:`connected_components` — (node) +
    (src, dst) → (node, component = min member id) — but when both
    Arrow probes fit (at most ``DRIVER_CANON_MAX_NODES`` node rows,
    then at most ``DRIVER_CANON_MAX_EDGES`` edge rows — the edge probe
    matters, a dense graph can emit orders more edges than nodes), run
    :func:`_union_find` on the driver instead of the iterative
    distributed loop, killing the O(rounds) driver-scheduled job storm
    that is pure fixed cost on small graphs (Amdahl tail at bench
    scale). Both bounds are read at call time, and the node bound
    counts rows before duplicate node rows collapse. Above either
    bound, the distributed hash-to-min path runs. Output identical on
    every WELL-FORMED graph — edge endpoints ⊆ nodes, as every in-repo
    caller guarantees (pinned in test_canon.py); on malformed input
    the driver branch IGNORES edges with an endpoint outside
    ``nodes`` while the distributed branch propagates labels into
    such endpoints — neither crashes, but keep edges ⊆ nodes if you
    need branch-identical output.

    NOTE this function is EAGER: the probes collect up to
    ``DRIVER_CANON_MAX_NODES`` node rows (+1) and
    ``DRIVER_CANON_MAX_EDGES`` edge rows (+1) at call time — size
    driver memory accordingly."""
    ids = nodes.select("node").limit(DRIVER_CANON_MAX_NODES + 1).toArrow()
    if ids.num_rows > DRIVER_CANON_MAX_NODES:
        return connected_components(nodes, edges)
    pairs = (edges.select("src", "dst")
             .limit(DRIVER_CANON_MAX_EDGES + 1).toArrow())
    if pairs.num_rows > DRIVER_CANON_MAX_EDGES:
        return connected_components(nodes, edges)
    # to_pylist keeps int ids and nulls as they are (pandas would turn
    # a nullable long into float); the union-find dict drops duplicates
    comp = _union_find(ids["node"].to_pylist(),
                       zip(pairs["src"].to_pylist(),
                           pairs["dst"].to_pylist()))
    return nodes.sparkSession.createDataFrame(
        pd.DataFrame({"node": list(comp), "component": list(comp.values())}),
        nodes.select("node", F.col("node").alias("component")).schema)


def _name_cluster(members: list[tuple[str, str | None]]
                  ) -> list[tuple[str, str]]:
    """C4 for one cluster: its (norm, own dictionary entity or None)
    pairs → (norm, entity) pairs. A norm keeps its own dictionary
    entity; otherwise it takes the entity of the cluster's
    lexicographically-first linked norm; otherwise the cluster's
    lexicographically-first norm. The result depends on the member
    set only, not on its order."""
    linked = [m for m in members if m[1] is not None]
    name = min(linked)[1] if linked else min(n for n, _ in members)
    return [(n, name if e is None else e) for n, e in members]


def _name_components(linked: DataFrame) -> DataFrame:
    """:func:`_name_cluster` over every component of a (component,
    norm, entity) frame at once → (norm, entity), as one window
    aggregate per component: the least (norm, entity) struct among the
    linked norms names the others, else the least norm does."""
    w = Window.partitionBy("component")
    lk = F.when(F.col("entity").isNotNull(), F.struct("norm", "entity"))
    return linked.select("norm", F.coalesce(
        "entity", F.min(lk).over(w)["entity"], F.min("norm").over(w))
        .alias("entity"))


def _driver_probe(feats: DataFrame, carry: str | None = None):
    """The driver gate of :func:`near_duplicate_edges`: at most
    ``DRIVER_CANON_MAX_NODES`` + 1 rows of a persisted (node, f[,
    carry]) feature table, collected through Arrow as a
    ``pyarrow.Table`` — or None if they exceed
    ``DRIVER_CANON_MAX_NODES`` rows or ``DRIVER_CANON_MAX_FEATURES``
    features in all. The Arrow batch is 8 bytes per feature; the
    bounds are checked before any of it becomes Python objects."""
    probe = (feats.select("node", "f", *([carry] if carry else []))
             .limit(DRIVER_CANON_MAX_NODES + 1).toArrow())
    n_feats = pc.sum(pc.list_value_length(probe.column("f")), min_count=0)
    if probe.num_rows > DRIVER_CANON_MAX_NODES \
            or n_feats.as_py() > DRIVER_CANON_MAX_FEATURES:
        return None
    return probe


def _driver_near_duplicates(feats: list, tau: float = spec.TAU_DUP,
                            block_cap: int = spec.BLOCK_CAP):
    """C1–C2 of :func:`near_duplicate_edges` on the driver, over the
    int64 feature arrays of distinct nodes: :func:`_minhash`, the
    :func:`_driver_band_hashes` banding, :func:`capped_blocks`'s rule
    (keep the (band, bhash) blocks of 2..``block_cap`` rows), the pair
    dedup of :func:`candidate_pairs`, and :func:`verify_pairs`' exact
    Jaccard ≥ ``tau``, with |A∩B| counted over distinct hashes as
    ``array_intersect`` does.

    Returns ({(i, j): sim} over the verified row-index pairs, i < j,
    dropped_buckets, dropped_nodes), the drop counts as
    :func:`capped_blocks` observes them — or None, before any Jaccard
    is computed, once the kept blocks hold more than
    ``DRIVER_CANON_MAX_EDGES`` distinct candidate pairs."""
    n = len(feats)
    codes = np.empty(0, dtype=np.int64)  # pair (i, j) as i·n + j
    dropped_buckets = dropped_nodes = 0
    for col in _driver_band_hashes(_minhash(feats)).T:
        order = np.argsort(col, kind="stable")
        keys = col[order]
        starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
        sizes = np.diff(np.r_[starts, n])
        keep = (sizes >= 2) & (sizes <= block_cap)
        over = (sizes >= 2) & ~keep
        dropped_buckets += int(over.sum())
        dropped_nodes += int(sizes[over].sum())
        # a band's blocks are disjoint, so its pairs are distinct: one
        # band over the budget is over it without building its pairs
        if (sizes[keep] * (sizes[keep] - 1) // 2).sum() \
                > DRIVER_CANON_MAX_EDGES:
            return None
        band = [codes]
        for k in np.unique(sizes[keep]):
            members = np.sort(order[starts[keep & (sizes == k)][:, None]
                                    + np.arange(k)], axis=1)
            i, j = np.triu_indices(k, 1)
            band.append((members[:, i] * n + members[:, j]).ravel())
        codes = np.unique(np.concatenate(band))
        if len(codes) > DRIVER_CANON_MAX_EDGES:
            return None
    # Python int sets: intersections hash ints, not numpy scalars
    sets = [set(f.tolist()) for f in feats]
    src, dst = divmod(codes, n)
    pairs = {}
    for i, j in zip(src.tolist(), dst.tolist()):
        x = len(sets[i] & sets[j])
        if (sim := x / (len(feats[i]) + len(feats[j]) - x)) >= tau:
            pairs[i, j] = sim
    return pairs, dropped_buckets, dropped_nodes


def _local_edges(spark, probe, pairs: dict, carry: str | None) -> DataFrame:
    """The driver branch's verified row-index pairs over the probe
    table as the local relation :func:`verify_pairs` would give: (src,
    dst, sim[, src_<carry>, dst_<carry>]) with src < dst by node id,
    sorted. Column types follow the probe's Arrow types."""
    node = probe.column("node").to_numpy()
    ij = np.array(list(pairs), dtype=np.int64).reshape(-1, 2)
    ij = np.where((node[ij[:, 0]] > node[ij[:, 1]])[:, None],
                  ij[:, ::-1], ij)
    order = np.lexsort((node[ij[:, 1]], node[ij[:, 0]]))
    src, dst = ij[order].T
    cols = {"src": node[src], "dst": node[dst],
            "sim": np.fromiter(pairs.values(), np.float64,
                               len(pairs))[order]}
    if carry:
        c = probe.column(carry)
        cols[f"src_{carry}"], cols[f"dst_{carry}"] = c.take(src), c.take(dst)
    return spark.createDataFrame(pa.table(cols))


def canonicalize_norms(norms: DataFrame, dict_df: DataFrame) -> DataFrame:
    """C1→C4 end-to-end over a non-null ``norm`` column → (norm,
    entity): every distinct norm named by the C4 rule over its
    component.

    One bounded probe collects at most ``DRIVER_CANON_MAX_NODES`` + 1
    norm rows (the node bound counts rows before duplicate norms
    collapse). A collect, not an Arrow batch: on a local relation it
    runs no Spark job (Arrow's does), and plain strings pickle cheaply
    (100k norms: 0.5 s vs 0.3 s warm on 4 cores). One gate then picks
    one of two whole branches:

    - Driver: inside the node bound, ``DRIVER_CANON_MAX_FEATURES``
      char-3-grams (counted from the norm lengths, before any hashing)
      and ``DRIVER_CANON_MAX_EDGES`` distinct candidate pairs, the
      features are :func:`_char_features`, C1–C2
      :func:`_driver_near_duplicates`, C3 :func:`_union_find` and C4
      :func:`_name_cluster` per cluster, output sorted, with no Spark
      job after the probe. Features and banding are bit-identical to
      :func:`node_features` and :func:`lsh_bands`, so both branches
      compare the same pairs.
    - Distributed: above any bound, :func:`node_features` in the JVM,
      C1–C2 the steps of :func:`near_duplicate_edges` over the
      persisted feature table, C3 the hash-to-min loop of
      :func:`connected_components`, and C4 :func:`_name_components`,
      one window aggregate over the component-keyed exchange. Its
      window buffer spills to disk, so per-task memory stays bounded
      however large a component grows.

    Every DataFrame this function caches is released before it
    returns: the distributed branch's output is localCheckpointed
    first, because it reads the cached features."""
    probe = norms.select("norm").limit(DRIVER_CANON_MAX_NODES + 1).collect()
    rows = list(dict.fromkeys(r[0] for r in probe))
    if None in rows:
        raise ValueError("canonicalize_norms: null norm")
    n = spec.CHAR_NGRAM
    near = None
    if len(probe) <= DRIVER_CANON_MAX_NODES and sum(
            max(len(x) + 2 - n, 0) + 1 for x in rows) \
            <= DRIVER_CANON_MAX_FEATURES:
        near = _driver_near_duplicates(_char_features(rows))
    if near is not None:
        comp = _union_find(range(len(rows)), near[0])
        entity_of = dict(dict_df.select("norm", "entity").collect())
        clusters: dict[int, list] = {}
        for i, norm in enumerate(rows):
            clusters.setdefault(comp[i], []).append(
                (norm, entity_of.get(norm)))
        mapping = sorted(row for members in clusters.values()
                         for row in _name_cluster(members))
        return norms.sparkSession.createDataFrame(
            pd.DataFrame(mapping, columns=["norm", "entity"]),
            "norm string, entity string")
    feats = node_features(norms).persist()
    banded = lsh_bands(minhash_signatures(feats)).persist()
    try:
        edges = verify_pairs(candidate_pairs(banded), feats)
        # an inner join keeps every norm: connected_components labels
        # every node it is given
        linked = (feats.select("norm", "node")
                  .join(connected_components(feats.select("node"), edges),
                        "node")
                  .join(F.broadcast(dict_df.select("norm", "entity")),
                        "norm", "left"))
        return _name_components(linked).localCheckpoint(eager=True)
    finally:
        banded.unpersist()
        feats.unpersist()
