"""True-BPE merge loop (kg/stages/bpe.py) — semantics, agreement with
the frozen-table replace() chain, and the Spark integration the driver
certifies via the token_count_bpe_merges hash."""
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kg import spec
from kg.stages import bpe


def bpe_symbol_count(text: str) -> int:
    """Reference (pure-Python) merged-symbol count for a lowercased
    text: rank-ordered exhaustive rewriting, spaces excluded. The
    Spark and DuckDB expressions in contract.token_count_bpe_merges
    must agree with this on every input."""
    s = text.lower()
    for pat, rep in spec.BPE_MERGES:
        s = s.replace(pat, rep)
    return len(s.replace(" ", ""))


def test_merge_ranks_expands_chained_sentinels():
    ranks = spec.merge_ranks(spec.BPE_MERGES)
    assert ranks[("t", "h")] == 0
    assert ranks[("th", "e")] == 1       # e resolved through 
    assert ranks[("in", "g")] == 3
    assert len(ranks) == len(spec.BPE_MERGES)


def test_encode_word_frozen_table_examples():
    ranks = spec.merge_ranks(spec.BPE_MERGES)
    assert bpe.encode_word("the", ranks) == ("the",)
    assert bpe.encode_word("thing", ranks) == ("th", "ing")
    assert bpe.encode_word("banner", ranks) == ("b", "an", "n", "er")
    assert bpe.encode_word("x", ranks) == ("x",)
    assert bpe.encode_word("", ranks) == ()


@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz THE.,!?ing ",
               max_size=120))
@settings(max_examples=120, deadline=None)
def test_true_bpe_equals_chain_on_frozen_table(text):
    """On spec.BPE_MERGES every replacement is a sentinel no earlier
    pattern contains, so true BPE == rank-exhaustive rewriting ==
    bpe_symbol_count — the property that makes the DuckDB chain
    a valid oracle for the UDF column."""
    ranks = spec.merge_ranks(spec.BPE_MERGES)
    got = int(bpe.bpe_count_series(pd.Series([text]), ranks).iloc[0])
    assert got == bpe_symbol_count(text)


def test_true_bpe_diverges_from_naive_rewriting():
    """A forward-referencing table where the two semantics DIFFER:
    rank-0 pair ("a","bc") only exists after rank-1 merges b+c, so a
    rank-ordered rewriting pass (already past rank 0) leaves "a"+"bc"
    unmerged, while true BPE re-checks and merges it. Pins that
    encode_word implements real BPE, not the rewriting shortcut."""
    table = [("a", ""), ("bc", "")]
    ranks = spec.merge_ranks(table)
    assert ranks == {("a", "bc"): 0, ("b", "c"): 1}
    assert bpe.encode_word("abc", ranks) == ("abc",)       # true BPE: 1 symbol
    s = "abc"
    for pat, rep in table:                                  # naive chain: 2
        s = s.replace(pat, rep)
    assert len(s) == 2


def test_lowest_rank_wins_not_leftmost():
    """With ("b","c") ranked below ("a","b"), true BPE merges bc first
    even though ab is leftmost — order sensitivity the chain shares
    only by construction."""
    table = [("bc", ""), ("ab", "")]
    ranks = spec.merge_ranks(table)
    assert bpe.encode_word("abc", ranks) == ("a", "bc")


def test_unique_word_cache_counts():
    """Batch path: repeated words hit the cache; counts match the
    per-word reference; empty strings, runs of spaces, and NULLs are
    safe (NULL text → NULL count, like the chain/oracle)."""
    ranks = spec.merge_ranks(spec.BPE_MERGES)
    texts = pd.Series(["the thing the thing", "", "   ", "on er an"])
    got = bpe.bpe_count_series(texts, ranks)
    assert list(got) == [bpe_symbol_count(t) for t in texts]
    assert got.dtype == "Int64"
    withnull = bpe.bpe_count_series(pd.Series(["the", None]), ranks)
    assert withnull.iloc[0] == 1
    assert pd.isna(withnull.iloc[1])


def test_null_text_propagates_in_spark(spark):
    """A nullable corpus must not kill the mapInPandas task: NULL in,
    NULL out — exactly what the JVM chain and DuckDB produce."""
    df = spark.createDataFrame([(1, "the"), (2, None)],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r["n"]
            for r in bpe.with_bpe_symbol_count(df, "text", "n").collect()}
    assert rows[1] == 1
    assert rows[2] is None


def test_with_bpe_symbol_count_matches_jvm_chain(spark):
    """Spark integration at sf0.001: the mapInPandas true-BPE column
    equals the whole-stage-codegen replace() chain on every document —
    locally what the driver's value hash asserts at sf0.01."""
    from pyspark.sql import functions as F

    from kg.contract import _t

    docs = _t(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    merged = F.lower(F.col("text"))
    for pat, rep in spec.BPE_MERGES:
        merged = F.replace(merged, F.lit(pat), F.lit(rep))
    chain = F.length(F.replace(merged, F.lit(" "), F.lit("")))
    out = (bpe.with_bpe_symbol_count(docs, "text", "n_udf")
           .withColumn("n_chain", chain))
    bad = out.where("n_udf <> n_chain").count()
    assert bad == 0
    assert out.count() > 0


def test_plan_is_map_only(spark):
    """No Exchange: the BPE count is a map-only stage (PLANS.md)."""
    from kg.contract import _t

    docs = _t(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    plan = bpe.with_bpe_symbol_count(docs, "text", "n")._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


# --- learned 600-merge table (kg/bpe_merges_learned.tsv) ------------


def test_learned_table_loads_natural_pairs():
    ranks = bpe.learned_merge_ranks()
    assert len(ranks) == 600
    assert list(ranks.values()) == list(range(600))
    # natural symbol pairs — no private-use sentinel characters
    # (the spec.BPE_MERGES replace()-chain encoding), and every
    # multi-char symbol must be buildable from an earlier merge
    merged = {left + right for left, right in ranks}
    for left, right in ranks:
        assert not any("" <= ch <= "" for ch in left + right)
        for sym in (left, right):
            assert len(sym) == 1 or sym in merged, sym
    # deep chains exist: some merged symbol is ≥ 8 chars
    assert max(len(l + r) for l, r in ranks) >= 8


def test_learned_encode_roundtrips_learner_segmentation():
    """Apply-time == learn-time segmentation for in-vocabulary words:
    encoding with the lowest-rank-first loop must reproduce exactly
    the segmentation the learner produced by applying merges in rank
    order (the standard BPE tokenizer property — Sennrich 2016). A
    failure here means the committed table and the runtime encoder
    disagree about what a 'token' is."""
    ranks = bpe.learned_merge_ranks()
    merges = [p for p, _ in sorted(ranks.items(), key=lambda kv: kv[1])]

    def learner_apply(word: str) -> tuple[str, ...]:
        syms = tuple(word)
        for best in merges:  # rank order, exhaustive per rank
            merged, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                    merged.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            syms = tuple(merged)
        return syms

    import duckdb

    from kg import datagen

    # the learner's own corpora: documents (31-word vocab, dominant
    # by frequency) + datagen transcripts (557 words, the long tail)
    words = set()
    for (t,) in duckdb.sql(
            "SELECT text FROM read_parquet("
            "'/root/testdata/sf0.01/documents.parquet') "
            "ORDER BY doc_id").fetchall():
        words.update(w for w in t.lower().split(" ") if w)
    pdf, _ = datagen.generate(n_conversations=200, seed=42)
    for t in pdf["text"]:
        words.update(w for w in t.lower().split(" ") if w)
    assert len(words) > 400
    for w in sorted(words):
        assert bpe.encode_word(w, ranks) == learner_apply(w), w


def test_learned_table_chains_fire_on_corpus():
    """The regime the table exists for: on real corpus words, chained
    merges collapse whole words — at least one corpus word must
    encode to a SINGLE symbol of ≥ 6 chars, and counts must be
    non-trivial (not every word hits 1 symbol — table is unsaturated)."""
    import duckdb

    from kg import datagen

    ranks = bpe.learned_merge_ranks()
    words = set()
    for (t,) in duckdb.sql(
            "SELECT text FROM read_parquet("
            "'/root/testdata/sf0.001/documents.parquet') "
            "ORDER BY doc_id LIMIT 100").fetchall():
        words.update(w for w in t.lower().split(" ") if w)
    encs = {w: bpe.encode_word(w, ranks) for w in words}
    # top-frequency document words collapse through deep chains
    assert any(len(e) == 1 and len(w) >= 6 for w, e in encs.items())
    # ...but the table is NOT saturated: tail-vocabulary words (the
    # datagen long tail the table was also learned on) still split
    pdf, _ = datagen.generate(n_conversations=50, seed=42)
    tail = set()
    for t in pdf["text"]:
        tail.update(w for w in t.lower().split(" ") if w)
    tail_encs = [bpe.encode_word(w, ranks) for w in tail]
    assert any(len(e) >= 3 for e in tail_encs)


def test_with_learned_ranks_in_spark(spark):
    ranks = bpe.learned_merge_ranks()
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, None), (3, "")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r["n"]
            for r in bpe.with_bpe_symbol_count(
                df, "text", "n", ranks=ranks).collect()}
    expect = sum(len(bpe.encode_word(w, ranks))
                 for w in "the quick brown fox".split())
    assert rows[1] == expect
    assert rows[2] is None
    assert rows[3] == 0


def test_parse_merge_table_degenerate_inputs():
    """ADVICE r4: duplicate pairs raise (silent rank reassignment
    corrupted relative merge order); a merge whose LEFT symbol starts
    with '#' is a merge, not a comment; tab-free '#' lines stay
    comments."""
    import pytest

    ok = bpe.parse_merge_table(["# header comment", "", "a\tb", "ab\tc"])
    assert ok == {("a", "b"): 0, ("ab", "c"): 1}
    # '#'-led line WITH a tab is a real merge
    hashed = bpe.parse_merge_table(["#\t#", "##\t!"])
    assert hashed == {("#", "#"): 0, ("##", "!"): 1}
    with pytest.raises(ValueError, match="duplicate merge pair"):
        bpe.parse_merge_table(["a\tb", "c\td", "a\tb"])


def test_committed_merge_table_is_clean():
    """The shipped artifact parses under the strict rules (no dupes,
    600 merges)."""
    assert len(bpe.learned_merge_ranks()) == 600
