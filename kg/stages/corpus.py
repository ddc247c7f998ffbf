"""End-to-end training-corpus preparation pipeline (SURVEY.md §2
training-data extras, composed): quality filter → language filter →
exact dedup → near-dup dedup → deterministic sample → sequence
packing, as ONE composed DataFrame program over the documents
table (mostly lazy; the components step runs eager size probes —
see below).

Every stage is the same logic its standalone oracle-paired contract
entry pins (text_quality_score / lang_id_heuristic /
distinct_dedup-shape / minhash_lsh_dedup + CC / corpus_sample_hash /
token_pack_greedy) — this module contributes the composition, the
keep-the-minimum-doc tie-breaking, and the stage counters.

Scale shape: stages 1–2 are map-only scalar expressions; exact dedup
is one groupBy on the normalized text (localCheckpointed — it feeds
the LSH features and the final keep-join); near-dup dedup reuses the
banded LSH machinery (canon.near_duplicate_edges — capped buckets,
id-narrow shuffles) with components through canon.components_auto.
Both are EAGER: near_duplicate_edges probes the feature table at
call time and, inside canon's driver bounds (nodes, total shingles,
candidate pairs), runs minhash → LSH → verify on the driver and
returns a local edge relation; components_auto probes node/edge
counts and runs a bounded driver union-find on small graphs (≤100k
nodes / ≤1M edges collected). Above the bounds both run
distributed (the lazy LSH plan, the hash-to-min loop).
Sampling is a map-only md5 rule; packing is a per-shard window.
Determinism is partitioning-independent (pinned in
tests/test_corpus.py) because every decision keys on content hashes
or min-ids, never on row order.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kg import spec
from kg.stages import canon

__all__ = ["corpus_pipeline", "gopher_quality_cols",
           "drop_boilerplate_turns", "c4_page_stats",
           "stratified_sample", "sample_bucket", "pack", "stopword_ratio"]

STOPWORDS = spec.STOPWORDS  # one shared definition, no drift

#: Gopher/MassiveText quality-rule bounds (Rae et al. 2021, §A1.1):
#: mean word length within [3, 10] characters; symbol-to-word ratio
#: ('#' or '...') ≤ 0.1; ≤ 90% of lines starting with a bullet;
#: ≤ 30% of lines ending with an ellipsis; ≥ 80% of words containing
#: at least one alphabetic character.
GOPHER_MEAN_WORD_LEN = (3.0, 10.0)
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8


def gopher_quality_cols(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the Gopher/MassiveText document-quality battery (Rae et
    al. 2021, §A1.1) as five measured columns plus the composite
    ``gopher_keep`` flag: ``mean_word_len``, ``symbol_ratio``,
    ``bullet_line_frac``, ``ellipsis_line_frac``, ``alpha_word_frac``,
    each rounded to 4 decimals (the keep flag compares the ROUNDED
    values, so an external engine recomputing the battery reaches the
    identical decision at every boundary).

    All five rules are JVM-side scalar/array expressions (split +
    higher-order filter/transform) — no UDF, no shuffle, pure map
    work that composes with any scan. Complements the repetition QC
    (duplicate-3-gram rule, contract.doc_repetition_filter): that one
    kills degenerate REPETITION, this battery kills degenerate
    CHARACTER/LAYOUT shapes (keyboard mash, bullet spam, ellipsis
    teasers, symbol noise)."""
    words = F.split(F.col(text_col), " ")
    lines = F.split(F.col(text_col), "\n")
    n_words = F.greatest(F.size(words), F.lit(1))
    n_lines = F.greatest(F.size(lines), F.lit(1))
    sum_len = F.aggregate(F.transform(words, F.length),
                          F.lit(0), lambda a, x: a + x)
    txt = F.col(text_col)
    n_sym = ((F.length(txt) - F.length(F.expr(
                  f"replace({text_col}, '#', '')")))
             + (F.length(txt) - F.length(F.expr(
                   f"replace({text_col}, '...', '')"))) / 3)
    n_bullet = F.size(F.filter(
        lines, lambda l: l.startswith("- ") | l.startswith("* ")
        | l.startswith("• ")))
    n_ellipsis = F.size(F.filter(
        lines, lambda l: l.endswith("...") | l.endswith("…")))
    # contains-an-ASCII-letter via translate length delta (r6): same
    # boolean as rlike("[A-Za-z]") — translate strips exactly those
    # 52 chars, so the length shrinks iff at least one is present —
    # without running the regex engine once per word (the oracle
    # keeps regexp_matches and hash-verifies the equivalence)
    _alpha = ("abcdefghijklmnopqrstuvwxyz"
              "ABCDEFGHIJKLMNOPQRSTUVWXYZ")
    n_alpha = F.size(F.filter(
        words, lambda w: F.length(w) != F.length(
            F.translate(w, _alpha, ""))))
    out = df.withColumns({
        "mean_word_len": F.round(sum_len / n_words, 4),
        "symbol_ratio": F.round(n_sym / n_words, 4),
        "bullet_line_frac": F.round(n_bullet / n_lines, 4),
        "ellipsis_line_frac": F.round(n_ellipsis / n_lines, 4),
        "alpha_word_frac": F.round(n_alpha / n_words, 4),
    })
    lo, hi = GOPHER_MEAN_WORD_LEN
    return out.withColumn(
        "gopher_keep",
        F.col("mean_word_len").between(lo, hi)
        & (F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("bullet_line_frac") <= GOPHER_MAX_BULLET_FRAC)
        & (F.col("ellipsis_line_frac") <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_FRAC))


#: C4 cleaning rules (Raffel et al. 2020, §2.2): a retained line must
#: end in terminal punctuation and carry at least 5 words; a page is
#: dropped outright if it contains a curly brace (code) or the
#: "lorem ipsum" placeholder, or retains fewer than 3 lines.
C4_TERMINAL = (".", "!", "?", '"')
C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3


def c4_line_keep(line_col: str = "line"):
    """The C4 LINE rule as one boolean JVM expression: terminal
    punctuation AND ≥ C4_MIN_LINE_WORDS words. Page-level rules
    (brace / lorem ipsum / kept-line floor) live in
    :func:`c4_page_stats` — C4 applies them to the whole page, not
    per line."""
    l = F.col(line_col)
    ends = None
    for p in C4_TERMINAL:
        e = l.endswith(p)
        ends = e if ends is None else (ends | e)
    return ends & (F.size(F.split(l, " ")) >= C4_MIN_LINE_WORDS)


def c4_page_stats(lines: DataFrame, page_cols: list[str],
                  line_col: str = "line") -> DataFrame:
    """C4 page filtering (Raffel et al. 2020, §2.2) over a table of
    (page-key, line) rows: per page, count total and rule-passing
    lines and flag the page-level drop conditions (any brace, any
    'lorem ipsum'); ``c4_keep`` = ≥ C4_MIN_KEPT_LINES retained lines
    and neither flag. One groupBy on the page key — the line rule is
    a pure map expression, so partial aggregation combines map-side
    and the shuffle carries O(pages) rows, not O(lines). Returns one
    row per page: page_cols + (n_lines, n_kept, kept_frac, has_brace,
    has_lorem, c4_keep)."""
    l = F.col(line_col)
    flagged = lines.withColumns({
        "_keep": c4_line_keep(line_col),
        "_brace": l.contains("{") | l.contains("}"),
        "_lorem": F.lower(l).contains("lorem ipsum"),
    })
    agg = flagged.groupBy(*page_cols).agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("_keep").cast("int")).alias("n_kept"),
        F.max("_brace").alias("has_brace"),
        F.max("_lorem").alias("has_lorem"))
    return agg.select(
        *page_cols, "n_lines", "n_kept",
        F.round(F.col("n_kept") / F.col("n_lines"), 4)
        .alias("kept_frac"),
        "has_brace", "has_lorem",
        ((F.col("n_kept") >= C4_MIN_KEPT_LINES)
         & ~F.col("has_brace") & ~F.col("has_lorem"))
        .alias("c4_keep"))


def drop_boilerplate_turns(turns: DataFrame,
                           text_col: str = "text",
                           conv_col: str = "conv_id",
                           max_convs: int = 19) -> DataFrame:
    """Remove boilerplate turns from a transcripts table: a turn is
    boilerplate when its exact text occurs in MORE than ``max_convs``
    distinct conversations (system preambles, canned greetings,
    templated tool banners — the transcripts-native analog of C4's
    repeated-span removal: cross-document repetition is structure,
    not signal).

    Scale shape: one groupBy over the turn texts' xxhash64
    fingerprints (r6 — the aggregation shuffle carries 16-byte
    (hash, conv) rows instead of full turn strings; hash-as-identity
    is the repo's standing content-key model, see canon.py node ids)
    countDistinct(conv) builds the hot set — by construction it is
    tiny (a text needs > max_convs conversations, so |hot| ≤
    turns/max_convs keys), so it is BROADCAST into a left_anti join
    keyed on the same fingerprint and the filter itself is map-only:
    the 10^12-turn table is never shuffled."""
    hot = (turns.groupBy(F.xxhash64(text_col).alias("_h"))
           .agg(F.countDistinct(conv_col).alias("_nconv"))
           .where(F.col("_nconv") > max_convs)
           .select("_h"))
    return turns.join(F.broadcast(hot),
                      F.xxhash64(turns[text_col]) == hot["_h"],
                      "left_anti")


def stratified_sample(df: DataFrame, strata_cols: list[str],
                      frac: float, id_col: str,
                      salt: str = "strat") -> DataFrame:
    """Deterministic per-stratum sampling with EXACT quotas:
    within each stratum keep ceil(frac × stratum_size) rows, chosen
    by md5 rank over a salted id (engine- and partitioning-
    independent — the same rule corpus_sample_hash pins, but with an
    exact per-group quota instead of a global hash threshold, so
    small strata are never rounded away).

    Shape: one window over the stratum key (rank + count ride the
    same partitioning — a single shuffle). The stratum count is
    O(groups) map-side combined. At 100 TB with few giant strata the
    window sort dominates; switch to the two-pass variant then:
    aggregate exact stratum sizes (tiny), broadcast per-stratum hash
    thresholds from quantiles, and fall back to this exact-quota
    window only for strata near the quota boundary."""
    from pyspark.sql import Window

    key = F.md5(F.concat(F.lit(salt + ":"),
                         F.col(id_col).cast("string")))
    w = Window.partitionBy(*strata_cols).orderBy(key, F.col(id_col))
    wc = Window.partitionBy(*strata_cols)
    return (df.withColumns({"_rk": F.row_number().over(w),
                            "_n": F.count("*").over(wc)})
            .where(F.col("_rk") <= F.ceil(F.lit(frac) * F.col("_n")))
            .drop("_rk", "_n"))


def temperature_mix_sample(df: DataFrame, strata_cols: list[str],
                           id_col: str, target_total: int,
                           alpha: float = 0.5,
                           salt: str = "mix") -> DataFrame:
    """Temperature-weighted corpus mixing (the multilingual-LM
    sampling rule, e.g. Conneau & Lample 2019 §3.1): stratum ``g``
    with ``n_g`` rows gets quota ``min(n_g, ceil(T · n_g^α / Σ
    n^α))`` — α < 1 up-samples small strata relative to their raw
    share, α = 1 is proportional. Rows within a stratum are chosen by
    the same salted-md5 rank rule as :func:`stratified_sample`
    (engine- and partitioning-independent).

    Shape: a tiny groupBy for stratum counts; the weight
    normalizer Σ n^α is summed over a SORTED collect_list (left fold
    in stratum order — both engines add in the same order, so the
    double is bit-identical and the ceil can't flip on summation
    ulp); quotas broadcast-join back (O(strata) rows — languages /
    sources, not documents); one window on the stratum key ranks the
    data side. Same single-exchange cost as stratified_sample, same
    giant-stratum escape hatch documented there."""
    from pyspark.sql import Window

    counts = df.groupBy(*strata_cols).agg(F.count("*").alias("_n"))
    wsum = counts.agg(F.aggregate(
        F.sort_array(F.collect_list(F.struct(
            *strata_cols, F.pow("_n", F.lit(alpha)).alias("_w")))),
        F.lit(0.0), lambda acc, s: acc + s["_w"]).alias("_wsum"))
    quotas = (counts.crossJoin(F.broadcast(wsum))
              .select(*strata_cols,
                      F.least(
                          F.col("_n"),
                          F.ceil(F.lit(float(target_total))
                                 * F.pow("_n", F.lit(alpha))
                                 / F.col("_wsum"))).alias("_quota")))
    key = F.md5(F.concat(F.lit(salt + ":"),
                         F.col(id_col).cast("string")))
    w = Window.partitionBy(*strata_cols).orderBy(key, F.col(id_col))
    return (df.join(F.broadcast(quotas), strata_cols)
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= F.col("_quota"))
            .drop("_rk", "_quota"))


def stopword_ratio(words):
    """The share of the token-array Column ``words`` that is in
    ``STOPWORDS``, as a double. Membership is ``isin``: with 12
    literals, above the In→InSet threshold, each token is one hash-set
    probe."""
    return (F.size(F.filter(words, lambda x: x.isin(*STOPWORDS)))
            .cast("double") / F.size(words))


def _qc_cols(df: DataFrame) -> DataFrame:
    words = F.split("text", " ")
    return df.withColumns({
        "n_tokens": F.size(words),
        "stopword_ratio": stopword_ratio(words),
        "norm": F.lower(F.regexp_replace("text", r"\s+", " ")),
    })


def corpus_pipeline(docs: DataFrame,
                    min_tokens: int = 5,
                    min_stopword_ratio: float = 0.05,
                    tau: float = 0.5,
                    sample_mod: int | None = None,
                    pack_ctx: int = 2048,
                    n_shards: int = 8,
                    block_cap: int | None = None,
                    obs=None,
                    gopher: bool = False) -> DataFrame:
    """documents(doc_id, text) → surviving rows with
    (doc_id, n_tokens, shard, pack_id, pack_offset).

    - QC: ≥ ``min_tokens`` whitespace tokens AND stopword density >
      ``min_stopword_ratio`` (the lang-id heuristic's 'en' rule).
    - Exact dedup: one survivor per normalized text — the MINIMUM
      doc_id (deterministic under any partitioning).
    - Near-dup dedup: minhash/LSH word-shingle edges at Jaccard ≥ τ →
      connected components over distinct norms → ONE survivor per
      component: the member with the minimum doc_id — a rule a user
      can predict and an external engine can replicate, since it never
      references the internal hash ids.
    - Sample: keep iff :func:`sample_bucket` (``sample_mod``) == 0
      (skipped when None — sampling is policy, not hygiene).
    - Pack: :func:`pack` into ``n_shards`` shards of
      ``pack_ctx``-token windows.
    - ``gopher=True`` additionally applies the Gopher/MassiveText
      character/layout battery (:func:`gopher_quality_cols`) in the
      same QC map stage — still zero extra shuffles."""
    qc = (_qc_cols(docs)
          .where((F.col("n_tokens") >= min_tokens)
                 & (F.col("stopword_ratio") > min_stopword_ratio)))
    if gopher:
        qc = (gopher_quality_cols(qc)
              .where("gopher_keep")
              .drop("mean_word_len", "symbol_ratio", "bullet_line_frac",
                    "ellipsis_line_frac", "alpha_word_frac",
                    "gopher_keep"))

    # min(struct) — NOT first(): docs with different raw text can
    # normalize equally with different n_tokens, and first() is
    # partitioning-dependent. min(struct) ties n_tokens to the
    # winning (minimum) doc_id deterministically.
    # localCheckpoint, not persist: the survivor table has TWO
    # consumers on either side of the eager components probe (LSH
    # features before, the keep-join after). A persist must either
    # leak for the session or be released before the
    # keep-join materializes — paying the QC+groupBy scan twice.
    # localCheckpoint materializes once, truncates the lineage, and
    # its blocks are reclaimed when the DataFrame is GC'd, so neither
    # cost applies. Not fault-tolerant — at real scale stage this
    # table to parquet/Iceberg instead (same plan shape).
    exact = (qc.groupBy("norm")
             .agg(F.min(F.struct("doc_id", "n_tokens")).alias("m"))
             .select("norm", F.col("m.doc_id").alias("doc_id"),
                     F.col("m.n_tokens").alias("n_tokens"))
             .localCheckpoint())

    # block_cap/obs: at extreme duplication (many near-dup variants
    # of one document) LSH buckets can exceed the cap and drop —
    # recall degrades OBSERVABLY (obs counts dropped buckets/nodes),
    # never silently; raise block_cap when the duplication profile
    # warrants it (tools/stress_corpus.py demonstrates both regimes).
    handles: list = []
    edges, feats = canon.near_duplicate_edges(
        exact.select("norm"), tau=tau, feature="word",
        return_feats=True, handles=handles,
        block_cap=block_cap if block_cap is not None else spec.BLOCK_CAP,
        obs=obs)
    # node set from the PERSISTED feature table — not a recompute of
    # the QC + groupBy chain (the probe in components_auto is an
    # eager collect, so this reuse matters)
    comp = canon.components_auto(feats.select("node"), edges)
    # components_auto consumed feats (and, on the distributed LSH
    # branch, banded and the lazy edges) EAGERLY (driver union-find
    # collect, or localCheckpoint on the distributed branch), so comp
    # no longer references them — release the LSH caches now instead
    # of leaking them for the session (`exact` itself is a
    # localCheckpoint, see above — nothing to release and nothing
    # recomputes).
    for h in handles:
        h.unpersist()
    # Survivor = min doc_id per near-dup component (min(struct) ties
    # n_tokens to the winning doc deterministically; the internal
    # component label never reaches the output).
    keep = (exact.withColumn("node", F.xxhash64("norm"))
            .join(comp, "node")
            .groupBy("component")
            .agg(F.min(F.struct("doc_id", "n_tokens")).alias("m"))
            .select(F.col("m.doc_id").alias("doc_id"),
                    F.col("m.n_tokens").alias("n_tokens")))

    if sample_mod is not None:
        keep = keep.where(sample_bucket(sample_mod) == 0)
    return pack(keep, n_shards, pack_ctx)


def sample_bucket(mod: int):
    """The deterministic sample rule as a column over ``doc_id``:
    int(md5('s42:' || doc_id)[:8], 16) % ``mod``; a sample keeps the
    rows where it is 0. md5 and base conversion are portable, so the
    sample is the same on every engine, run and partitioning (unlike
    rand(seed)); the salt re-draws it without touching the data."""
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit("s42:"), F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long") % mod)


def pack(docs: DataFrame, n_shards: int, pack_ctx: int) -> DataFrame:
    """Sequence packing: (doc_id, n_tokens) → (doc_id, n_tokens,
    shard, pack_id, pack_offset). Per shard (doc_id % ``n_shards``),
    documents in doc_id order are laid head-to-tail into
    ``pack_ctx``-token windows: pack_id is the window a document
    STARTS in and pack_offset its start position there (documents may
    span a boundary — concat-then-chunk, not bin packing). The window
    is partitioned by shard, so there is no global sort and no
    single-partition window."""
    from pyspark.sql import Window as W

    w = (W.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, -1))
    packed = docs.withColumn("shard", F.col("doc_id") % n_shards)
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return packed.select(
        "doc_id", "n_tokens", "shard",
        F.floor(cum / pack_ctx).cast("long").alias("pack_id"),
        (cum % pack_ctx).cast("long").alias("pack_offset"))
