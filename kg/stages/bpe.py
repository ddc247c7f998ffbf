"""Learned-BPE token counting at scale (SURVEY.md §2 training-data
extras; VERDICT r2 #4 scale path).

`contract.token_count_bpe_merges` proves merge application as a
rank-ordered replace() chain — exact for kg.spec.BPE_MERGES, fully
JVM-side, but structurally bounded: a chain is one nested expression
per merge, so a real learned vocabulary (GPT-2: 50k merges) cannot
compile that way. This module is the unbounded path: TRUE byte-pair
encoding (iteratively merge the lowest-rank adjacent pair, re-checking
after every merge — not per-rank exhaustive rewriting) inside an
Arrow-batched iterator pandas UDF, with the ranked merge table shipped
once per executor as a Spark broadcast and a per-batch unique-word
cache so the per-word merge loop amortizes over the Zipfian word
distribution exactly the way production tokenizers (GPT-2's lru_cache
per word) do.

On the frozen spec.BPE_MERGES table, true BPE and the replace() chain
provably agree (every replacement is a private-use sentinel that no
earlier-rank pair contains, so no merge can create a lower-rank pair
— kg/spec.py scope note); tests/test_bpe.py pins that agreement by
hypothesis AND pins a counter-table where the two semantics DIVERGE,
so the UDF is verified to implement real BPE, not the rewriting
shortcut. The driver certifies the path end-to-end: the
token_count_bpe_merges entry emits this UDF's count as its own column,
hash-compared against the DuckDB chain oracle on every document.

Scale shape (100 TB): map-only — no shuffle, no collect; the merge
table is a broadcast (a 50k-merge GPT-2 table is ~1 MB); cost is one
Python worker pass per input partition, the same cost class as the
tokenizer/scorer UDFs (PLANS.md 'UDF cost ledger')."""
from __future__ import annotations

from typing import Iterator

import pandas as pd

from kg import spec

__all__ = ["encode_word", "bpe_count_series", "with_bpe_symbol_count",
           "learned_merge_ranks", "parse_merge_table"]


def learned_merge_ranks() -> dict[tuple[str, str], int]:
    """Rank table from the committed 600-merge learned artifact
    (kg/bpe_merges_learned.tsv, produced deterministically by
    tools/learn_bpe.py from the sf0.01 documents + datagen corpora).
    Unlike the frozen 8-entry spec.BPE_MERGES (which certifies merge
    SEMANTICS via the driver-hashed chain agreement), this table
    exercises the merge loop in its production regime: chains up to
    12 characters deep, rank scans over hundreds of pairs, heavy
    unique-word cache reuse. Loaded via importlib.resources so it
    resolves inside dist/kg.zip on executors, same as weights.npz."""
    from importlib.resources import files

    return parse_merge_table(
        (files("kg") / "bpe_merges_learned.tsv")
        .read_text(encoding="utf-8").splitlines())


def parse_merge_table(lines) -> dict[tuple[str, str], int]:
    """Strict merge-table parser (ADVICE r4): a degenerate regenerated
    artifact fails LOUDLY at load instead of silently corrupting merge
    order. Comment = a full '#'-led line WITHOUT a tab — a real merge
    whose left symbol starts with '#' always carries the tab separator
    and must load (the committed artifact has no such merge, but a
    regenerated one could). A duplicate pair would reassign the pair
    to a later rank without advancing other ranks → raise."""
    ranks: dict[tuple[str, str], int] = {}
    for line in lines:
        if not line or (line.startswith("#") and "\t" not in line):
            continue
        left, right = line.split("\t")
        if (left, right) in ranks:
            raise ValueError(
                f"duplicate merge pair {(left, right)!r} in merge "
                "table — regenerate with tools/learn_bpe.py")
        ranks[(left, right)] = len(ranks)
    return ranks


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> tuple[str, ...]:
    """TRUE BPE for one word: start from characters, repeatedly merge
    the adjacent pair with the LOWEST rank until no pair is in the
    table. Deterministic leftmost-first among equal-rank ties (the
    min() scan returns the first minimal pair; merging proceeds
    left-to-right within one pass over that pair)."""
    syms = tuple(word)
    while len(syms) > 1:
        best = None
        best_rank = None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = pair, r
        if best is None:
            break
        merged: list[str] = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                merged.append(syms[i] + syms[i + 1])
                i += 2
            else:
                merged.append(syms[i])
                i += 1
        syms = tuple(merged)
    return syms


def bpe_count_series(texts: pd.Series,
                     ranks: dict[tuple[str, str], int]) -> pd.Series:
    """Merged-symbol count per text (spaces excluded, lowercased —
    the same normalization as the reference count in
    tests/test_bpe.py). Unique-word cache per batch: each distinct
    word is encoded once, then counts are recombined per row — the
    standard tokenizer amortization.
    NULL text propagates as NULL (nullable Int64), matching what the
    JVM replace() chain and the DuckDB oracle do with NULL — a
    nullable corpus must not kill the task."""
    cache: dict[str, int] = {}

    def count_one(text) -> int | None:
        if not isinstance(text, str):
            return None
        total = 0
        for w in text.lower().split(" "):
            if not w:
                continue
            n = cache.get(w)
            if n is None:
                n = len(encode_word(w, ranks))
                cache[w] = n
            total += n
        return total

    return texts.map(count_one).astype("Int64")


def with_bpe_symbol_count(df, text_col: str, out_col: str,
                          ranks: dict[tuple[str, str], int] | None = None):
    """Append `out_col` = true-BPE merged-symbol count of `text_col`.

    Map-only mapInPandas (iterator form: the rank dict is built once
    per partition from the broadcast, not once per batch). The ranks
    default to the frozen spec table, whose pairs with a sentinel on
    the left are re-expressed through the sentinel expansion so the
    character-level merge loop sees real pairs (spec stores chained
    merges as (sentinel+char) for the replace() path). Pass ``ranks``
    (a prebuilt (left, right) → rank dict, e.g.
    :func:`learned_merge_ranks`) to skip the sentinel re-expression —
    learned tables store natural symbol pairs."""
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    if ranks is None:
        ranks = spec.merge_ranks(spec.BPE_MERGES)
    bc = spark.sparkContext.broadcast(ranks)
    cols = [f.name for f in df.schema.fields]
    # Fresh StructType — StructType.add would MUTATE the cached
    # df.schema in place and corrupt the input's schema view.
    schema = StructType(list(df.schema.fields)
                        + [StructField(out_col, LongType())])

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ranks = None
        for pdf in it:
            if ranks is None:
                ranks = bc.value
            out = pdf[cols].copy()
            out[out_col] = bpe_count_series(pdf[text_col], ranks)
            yield out

    return df.mapInPandas(run, schema=schema)
