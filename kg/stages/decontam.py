"""Benchmark decontamination (SURVEY.md §2 training-data extras,
round 5): remove training documents that overlap an evaluation set.

The operator every serious LM data pipeline runs last: given a
benchmark/eval corpus, find training docs sharing any word n-gram
with it and flag or drop them, so downstream eval numbers measure
generalization rather than memorization (Brown et al. 2020 appendix C
run 13-gram decontamination; Dodge et al. 2021 measure exactly this
leakage in C4). Here n is a parameter (the contract entry uses n=5 —
the synthetic docs are shorter than web pages; the operator is
n-agnostic).

Shape, and why it holds at 100 TB: the benchmark side is an EVAL
SUITE — MBs, not TBs — so its distinct n-gram set is always
broadcastable. The training side is then map-only (split → slide →
explode) into a BroadcastHashJoin against that set, followed by one
partial-agg shuffle on doc_id. No shuffle ever touches the full gram
stream keyed by gram — the naive gram⋈gram shuffle join would move
~n× the corpus over the wire and skew on stopword-heavy grams. If a
benchmark ever outgrew the broadcast threshold, drop the
F.broadcast hint and Spark falls back to the shuffle join unchanged
(AQE picks the strategy); the semantics don't move.

Near-duplicates of eval docs are the actual catch (verbatim copies
are rare; paraphrases and partial quotes share long n-gram runs) —
which is why the contract fixture is non-vacuous: the corpus's
planted near-dup docs of benchmark members are exactly what gets
flagged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["word_ngram_hashes", "benchmark_ngrams", "decontaminate"]


def word_ngram_hashes(ws_col: str, n: int):
    """Sliding word n-grams of the token-array column ``ws_col`` as
    xxhash64 fingerprints of each n-word SLICE (an empty array when
    there are fewer than n tokens). Gram identity is decided by
    hashing the token sub-array directly, so no joined gram string is
    ever built (at sf1.0 that would be ~10M ~30-byte strings, probed
    and discarded). Space-joined strings and token slices identify
    the same grams because tokens come from split(text, ' ') and
    contain no spaces. Hash-as-identity is the repo's standing trust
    model for content keys (canon.py node = xxhash64(norm), shingles
    = xxhash64 of the token slice); a cross-gram collision against
    the benchmark set is ~|corpus grams|·|bench grams|/2^64 ≈ 1e-8 at
    sf1.0."""
    return F.when(
        F.size(ws_col) >= n,
        F.expr(f"transform(sequence(1, size({ws_col}) - {n - 1}), "
               f"i -> xxhash64(slice({ws_col}, i, {n})))")
    ).otherwise(F.array().cast("array<bigint>"))


def benchmark_ngrams(bench: DataFrame, n: int,
                     text_col: str = "text") -> DataFrame:
    """Distinct word n-grams of the benchmark corpus (column ``g`` —
    xxhash64 gram fingerprints since r6, see
    :func:`word_ngram_hashes`; both sides of the overlap join use the
    same function, so a match still means the SAME surface text).
    Lower-cased, whitespace-split — the same normalization the
    training side applies. The distinct is an exchange on the tiny
    eval side only."""
    return (bench
            .withColumn("_ws", F.split(F.lower(text_col), " "))
            .select(F.explode(word_ngram_hashes("_ws", n)).alias("g"))
            .distinct())


def decontaminate(docs: DataFrame, bench_grams: DataFrame, n: int,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document contamination stats against a benchmark n-gram
    set: (id, n_grams, n_dirty, dirty_frac, keep) with keep = zero
    overlapping grams — the strict GPT-3-style policy (any collision
    disqualifies; use dirty_frac for a softer threshold). Docs with
    fewer than n words have no grams and keep=true.

    explode_outer keeps gram-less docs in the single aggregation
    pass; the benchmark set joins broadcast (see module docstring for
    the scale argument)."""
    dg = (docs
          .withColumn("_ws", F.split(F.lower(text_col), " "))
          .select(id_col, word_ngram_hashes("_ws", n).alias("gs"))
          .select(id_col, F.explode_outer("gs").alias("g")))
    hit = (dg.join(F.broadcast(bench_grams.withColumn(
        "_dirty", F.lit(1))), "g", "left")
        .groupBy(id_col)
        .agg(F.count("g").alias("n_grams"),
             F.count("_dirty").alias("n_dirty")))
    frac = F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
        F.col("n_dirty").cast("double") / F.col("n_grams"))
    return hit.select(
        id_col, "n_grams", "n_dirty",
        F.round(frac, 4).alias("dirty_frac"),
        (F.col("n_dirty") == 0).alias("keep"))
