"""Unit tests: tokenizer (B1), mentions (B2), pairing (B3), minhash
math — no Spark needed (SURVEY.md §5.1/5.2)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kg import nlp, spec
from test_bpe import bpe_symbol_count


def test_tokenizer_golden_pairs():
    cases = [
        ("Ann Barard works at Acme Corp.",
         ["Ann", "Barard", "works", "at", "Acme", "Corp", "."]),
        ("hello,world", ["hello", ",", "world"]),
        ("a  b\tc\nd", ["a", "b", "c", "d"]),
        ("v2.0-rc1", ["v2", ".", "0", "-", "rc1"]),
        ("", []),
    ]
    for text, expected in cases:
        assert spec.tokenize(text) == expected


def test_normalize_surface():
    assert spec.normalize_surface("Acme Corp.") == "acme corp"
    assert spec.normalize_surface("  ACME-C ") == "acme c"
    assert spec.normalize_surface("...") == ""


def test_vocab_reserved_ids():
    v = spec.vocabulary()
    assert v[spec.PAD_TOKEN] == 0 and v[spec.UNK_TOKEN] == 1
    assert spec.token_ids(["zzz_not_in_vocab"]) == [1]


def test_find_mentions_gazetteer_and_spans():
    toks = spec.tokenize("Ann Barard works at Acme Corp according to x")
    mens = nlp.find_mentions(toks)
    assert [(m["canonical"], m["span_start"], m["span_end"])
            for m in mens] == [("Ann Barard", 0, 2), ("Acme Corp", 4, 6)]
    # surfaces preserve original casing
    assert mens[0]["surface"] == "Ann Barard"


def test_find_mentions_longest_match_and_unknown():
    # "the Acme corp" is a 3-token variant — must win over shorter hits
    toks = spec.tokenize("we met the Acme corp team and Zorblax Prime")
    mens = nlp.find_mentions(toks)
    cans = [m["canonical"] for m in mens]
    assert "Acme Corp" in cans
    unk = [m for m in mens if m["mtype"] == "unk"]
    assert len(unk) == 1 and unk[0]["surface"] == "Zorblax Prime"


def test_pair_instances_ordered_and_capped():
    toks = spec.tokenize("Ann Barard works at Acme Corp")
    mens = nlp.find_mentions(toks)
    pairs = nlp.pair_instances(toks, mens)
    assert len(pairs) == 2  # both orders
    fwd = [p for p in pairs if p["head_canonical"] == "Ann Barard"][0]
    assert (fwd["head_pos"], fwd["tail_pos"]) == (0, 4)
    assert nlp.pair_instances(toks, mens * 6, cap=5) and \
        len(nlp.pair_instances(toks, mens * 6, cap=5)) == 5


@given(st.sets(st.text(alphabet="abcdef", min_size=1, max_size=8),
               min_size=1, max_size=30),
       st.sets(st.text(alphabet="abcdef", min_size=1, max_size=8),
               min_size=1, max_size=30))
@settings(max_examples=60, deadline=None)
def test_minhash_estimates_jaccard(sa, sb):
    """Property (SURVEY.md §5.2d): minhash signature agreement ≈
    Jaccard within a generous ε for h=128."""
    import zlib

    from kg.stages.canon import _MERSENNE, _perm_coeffs

    a, b = _perm_coeffs()
    au, bu = a.astype(np.uint64), b.astype(np.uint64)

    def sig(s):
        h = np.array([zlib.crc32(g.encode()) for g in sorted(s)],
                     dtype=np.uint64)
        m = (h[:, None] * au[None, :] + bu[None, :]) % np.uint64(_MERSENNE)
        return m.min(axis=0)

    est = float((sig(sa) == sig(sb)).mean())
    true = nlp.jaccard(sa, sb)
    assert abs(est - true) < 0.30


def test_char_ngrams_padded():
    assert nlp.char_ngrams("ab") == {"^ab", "ab$"}
    assert nlp.char_ngrams("a") == {"^a$"}
    assert nlp.char_ngrams("abc") == {"^ab", "abc", "bc$"}


def test_pcnn_scores_batch_invariant():
    """A row's score must not depend on which batch it rides in
    (Arrow batch boundaries are an execution detail, not semantics)."""
    from kg import model

    p = model.load_default_params()
    short = [3, 4, 5, 6, 7]
    long = list(range(3, 40))
    alone = model.predict(p, [short], [0], [3])
    batched = model.predict(p, [short, long], [0, 0], [3, 3])
    assert alone[0].argmax() == batched[0].argmax()
    assert np.abs(alone[0] - batched[0]).max() < 1e-6


@pytest.mark.parametrize("n", [1, 7, 40])
def test_pcnn_forward_shapes_and_grad(n):
    """Numerical gradient check on a tiny batch — the backward pass
    that trained the committed weights is correct."""
    from kg import model

    rng = np.random.default_rng(0)
    p = model.init_params(0)
    ids_l = [list(rng.integers(1, 50, size=rng.integers(4, 12)))
             for _ in range(n)]
    heads = [0] * n
    tails = [2] * n
    ids, h, t, lens = model.pad_batch(ids_l, heads, tails)
    probs = model.forward(p, ids, h, t, lens)
    assert probs.shape == (n, model.N_REL)
    assert np.allclose(probs.sum(axis=1), 1.0, atol=1e-5)
    if n != 7:
        return
    y = rng.integers(0, model.N_REL, size=n)
    probs, cache = model.forward(p, ids, h, t, lens, want_cache=True)
    grads = model.backward(p, cache, probs, y)
    # numerical check on a few W_out entries
    eps = 1e-3
    for (i, j) in [(0, 0), (5, 3), (100, 6)]:
        p["W_out"][i, j] += eps
        lp = -np.log(model.forward(p, ids, h, t, lens)[np.arange(n), y]
                     + 1e-12).mean()
        p["W_out"][i, j] -= 2 * eps
        lm = -np.log(model.forward(p, ids, h, t, lens)[np.arange(n), y]
                     + 1e-12).mean()
        p["W_out"][i, j] += eps
        num = (lp - lm) / (2 * eps)
        assert abs(num - grads["W_out"][i, j]) < 1e-3


def test_bpe_merge_table_is_wellformed():
    """Sentinels are unique PUA chars, appear in no EARLIER pair (the
    no-cascade-backwards property the scope note relies on), and every
    pair is exactly two symbols."""
    from kg import spec

    sentinels = [rep for _, rep in spec.BPE_MERGES]
    assert len(set(sentinels)) == len(sentinels)
    assert all(0xE000 <= ord(s) <= 0xF8FF and len(s) == 1
               for s in sentinels)
    for i, (pat, rep) in enumerate(spec.BPE_MERGES):
        assert len(pat) == 2, pat          # two symbols per merge
        earlier = {r for _, r in spec.BPE_MERGES[:i]}
        allowed = set("abcdefghijklmnopqrstuvwxyz") | earlier
        assert set(pat) <= allowed, (i, pat)
        # a sentinel never appears in an EARLIER pair
        assert all(rep not in p for p, _ in spec.BPE_MERGES[:i])


def test_bpe_symbol_count_matches_spark_and_duckdb(spark):
    """The contract entry's Spark replace() chain and DuckDB oracle
    chain must both equal the pure-Python reference rewriting."""
    import duckdb

    from kg import spec
    from kg.contract import Q, _bpe_chain_sql

    texts = ["The thin thing rang on",
             "there is another thing in the engine",
             "reran the thing again and again",
             "punctuation, too! ingrained...",
             "", "th", "the", "the the the"]
    rows = [(i, t) for i, t in enumerate(texts)]
    want = {i: bpe_symbol_count(t) for i, t in rows}

    import os
    import tempfile
    d = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(d, "documents.parquet"))
    got_spark = {r["doc_id"]: r["n_bpe_symbols"]
                 for r in Q["token_count_bpe_merges"][0](spark, d)
                 .collect()}
    assert got_spark == want

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{d}/documents.parquet/*.parquet'")
    got_duck = dict(con.execute(
        f"SELECT doc_id, length(replace({_bpe_chain_sql('lower(text)')},"
        f" ' ', '')) FROM documents").fetchall())
    assert got_duck == want


def test_cross_templates_in_vocab():
    """CROSS_TEMPLATES must not grow the frozen vocabulary: every
    token of every part (entities aside) is already induced by
    TEMPLATES + FILLER_VOCAB, so committed checkpoints keep their
    token-id mapping."""
    from kg import spec

    vocab = spec.vocabulary()
    for rel, (st, ot, tpls) in spec.CROSS_TEMPLATES.items():
        assert rel in spec.TEMPLATES
        for pa, pb in tpls:
            assert "{A}" in pa and "{B}" not in pa
            assert "{B}" in pb and "{A}" not in pb
            clean = (pa + " " + pb).replace("{A}", " ").replace("{B}", " ")
            for tok in spec.tokenize(clean):
                assert tok.lower() in vocab, (rel, tok)


def test_cross_training_instances_shape():
    """Positives carry the template label; distractor NA pairs exist;
    every instance uses the joined-text construction (tail position
    past the head turn's tokens)."""
    from kg import datagen, spec

    insts = datagen.cross_training_instances(n_per_template=5,
                                             n_distractor=10)
    labels = {lab for _, _, _, lab in insts}
    assert spec.REL_TO_ID[spec.NA_RELATION] in labels
    assert len(labels) == len(spec.RELATIONS)  # every rel represented
    assert all(hp < tp for _, hp, tp, _ in insts)


@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz ETHING.,!? ",
               max_size=120))
@settings(max_examples=80, deadline=None)
def test_bpe_rewriting_duckdb_property(text):
    """Property: the DuckDB replace() chain equals the pure-Python
    reference on arbitrary text (cases/punct/spaces included) — the
    cross-engine semantics of the merge rewriting don't depend on the
    fixture."""
    import duckdb

    from kg import spec
    from kg.contract import _bpe_chain_sql

    con = duckdb.connect()
    got = con.execute(
        f"SELECT length(replace({_bpe_chain_sql('lower(?)')}, ' ', ''))",
        [text]).fetchone()[0]
    assert got == bpe_symbol_count(text)


def test_lang_id_ngram_discriminates(spark):
    """The trigram profiles actually discriminate: English-shaped text
    → 'en', German-shaped text → 'de' (the fixture corpus is all
    English-shaped, so the driver entry alone can't show this)."""
    df = spark.createDataFrame(
        [(1, "the meeting was for handling the ongoing automation"),
         (2, "der richter und die einige schule sind schnell und gut"),
         (3, "")],
        "doc_id long, text string")
    # the registry entry reads the documents table; rebuild the SAME
    # expressions (spec.LANG_TRIGRAMS) on a crafted frame instead
    from kg import spec
    from pyspark.sql import functions as F

    def hits(lang):
        t = F.lower(F.col("text"))
        total = None
        for tg in spec.LANG_TRIGRAMS[lang]:
            cnt = (F.length(t) - F.length(F.replace(t, F.lit(tg),
                                                    F.lit("")))) / 3
            total = cnt if total is None else total + cnt
        return total.cast("long")

    en, de = hits("en"), hits("de")
    got = {r["doc_id"]: r["lang_pred"] for r in df.select(
        "doc_id", F.when(en >= de, "en").otherwise("de")
        .alias("lang_pred")).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "en"      # tie (0 >= 0) breaks to en, both engines
