"""C1–C4 tests: LSH blocking, Jaccard verify, connected components
(vs a pure-Python union-find oracle AND DuckDB WITH RECURSIVE,
SURVEY.md §5.2c/5.3), cluster naming."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kg import schemas, spec
from kg.stages import canon
from kg.stages.link import dictionary_df

# known graph: chain of 5 (forces ≥3 propagation rounds), a triangle,
# and singleton node 99 (FIXTURES.md F2 edges_tiny)
EDGES = [(1, 2, 0.9), (2, 3, 0.9), (3, 4, 0.9), (4, 5, 0.9),
         (10, 11, 0.8), (11, 12, 0.8), (10, 12, 0.8)]
NODES = [1, 2, 3, 4, 5, 10, 11, 12, 99]


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {n: find(n) for n in nodes}


def test_cc_known_graph(spark):
    nodes = spark.createDataFrame([(n,) for n in NODES], "node long")
    edges = spark.createDataFrame(EDGES, schema=schemas.EDGES)
    got = {r["node"]: r["component"]
           for r in canon.connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 99: 99}


def test_cc_matches_duckdb_recursive(spark):
    """DuckDB WITH RECURSIVE as an independent tiny-scale oracle."""
    con = duckdb.connect()
    con.execute("CREATE TABLE e(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)",
                    [(s, d) for s, d, _ in EDGES])
    con.execute("CREATE TABLE n(node BIGINT)")
    con.executemany("INSERT INTO n VALUES (?)", [(n,) for n in NODES])
    oracle = dict(con.execute("""
        WITH RECURSIVE sym AS (
            SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        reach(node, lab) AS (
            SELECT node, node FROM n
            UNION
            SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.node)
        SELECT node, min(lab) FROM reach GROUP BY node
    """).fetchall())
    nodes = spark.createDataFrame([(n,) for n in NODES], "node long")
    edges = spark.createDataFrame(EDGES, schema=schemas.EDGES)
    got = {r["node"]: r["component"]
           for r in canon.connected_components(nodes, edges).collect()}
    assert got == oracle


@given(st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)), max_size=25))
@settings(max_examples=12, deadline=None)
def test_cc_property_vs_union_find(spark_prop, edges_raw):
    edges = [(min(a, b), max(a, b), 1.0) for a, b in edges_raw if a != b]
    nodes = sorted({n for e in edges for n in e[:2]} | {0, 14})
    expect = _union_find(nodes, [(s, d) for s, d, _ in edges])
    ndf = spark_prop.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark_prop.createDataFrame(edges or [(0, 0, 1.0)],
                                     schema=schemas.EDGES) \
        .where("src != dst")
    got = {r["node"]: r["component"]
           for r in canon.connected_components(ndf, edf).collect()}
    assert got == expect


def test_cc_endpoints_outside_nodes(spark):
    """Edges may name endpoints missing from ``nodes``: such an
    endpoint gets a row once a label reaches it, with the least label
    that does, and never seeds a label of its own."""
    cases = [
        ([0, 1, 2, 10], [(1, 7), (7, 2), (10, 11), (11, 3)],
         {0: 0, 1: 1, 2: 1, 3: 10, 7: 1, 10: 10, 11: 10}),
        ([5, 6], [(9, 5), (8, 9), (6, 4), (4, 3), (3, 2)],
         {2: 6, 3: 6, 4: 6, 5: 5, 6: 6, 8: 5, 9: 5}),
        ([20], [(1, 2), (2, 3)], {20: 20}),
    ]
    for node_ids, edge_list, want in cases:
        nodes = spark.createDataFrame([(n,) for n in node_ids],
                                      "node long")
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        got = {r["node"]: r["component"]
               for r in canon.connected_components(nodes, edges)
               .collect()}
        assert got == want, node_ids


def test_capped_blocks_at_its_bound(spark):
    """A block of exactly ``cap`` members is kept; one of cap + 1 is
    dropped and counted; a singleton is neither kept nor counted."""
    from pyspark.sql import Observation

    cap = 3
    rows = ([("kept", i) for i in range(cap)]
            + [("over", i) for i in range(cap + 1)] + [("single", 0)])
    df = spark.createDataFrame(rows, "k string, m long")
    obs = Observation("capped_blocks")
    got = {r["k"]: sorted(r["ns"])
           for r in canon.capped_blocks(df, ["k"], "m", cap, obs)
           .collect()}
    assert got == {"kept": [0, 1, 2]}
    assert obs.get == {"dropped_buckets": 1, "dropped_nodes": cap + 1}


def test_lsh_blocks_variant_pairs(spark):
    """Variant surfaces of the same entity must land in a shared LSH
    bucket and survive Jaccard verification; unrelated entities must
    not merge."""
    norms = spark.createDataFrame(
        [("acme corp",), ("the acme corp",), ("dataquill",),
         ("dataquill io",), ("granite labs",)], "norm string")
    feats = canon.node_features(norms)
    signed = canon.minhash_signatures(feats)
    edges = canon.verify_pairs(
        canon.candidate_pairs(canon.lsh_bands(signed)), feats, tau=0.5)
    norm_of = {r["node"]: r["norm"]
               for r in feats.select("node", "norm").collect()}
    pairs = {tuple(sorted((norm_of[r["src"]], norm_of[r["dst"]])))
             for r in edges.collect()}
    assert ("acme corp", "the acme corp") in pairs
    assert ("dataquill", "dataquill io") in pairs
    assert not any("granite labs" in p for p in pairs)


def test_canonicalize_norms_end_to_end(spark):
    """Dictionary-linked norms name their whole cluster; fully unknown
    clusters fall back to their lexicographically-first norm."""
    norms = spark.createDataFrame(
        [("acme corp",),         # dictionary hit
         ("acme corpp",),        # typo → cluster with the hit
         ("zzzz wobbleplex",), ("zzzz wobbleplexx",)],  # unknown cluster
        "norm string")
    mapping = {r["norm"]: r["entity"]
               for r in canon.canonicalize_norms(
                   norms, dictionary_df(spark)).collect()}
    assert mapping["acme corp"] == "Acme Corp"
    assert mapping["acme corpp"] == "Acme Corp"      # inherited via CC
    assert mapping["zzzz wobbleplex"] == mapping["zzzz wobbleplexx"] \
        == "zzzz wobbleplex"


def test_name_cluster_rule(spark):
    """C4 on one cluster: a norm keeps its own dictionary entity; the
    others take the entity of the lexicographically-first LINKED norm
    (not of a later linked one, nor of the first norm overall); with
    no linked norm, every member takes the minimum norm. The window
    form the distributed branch runs (``_name_components``) names the
    same three clusters, as components of one frame, the same way."""
    clusters = [
        [("zeta", "Zeta Inc"), ("acme corpp", None), ("beta", "Beta Co"),
         ("aaa", None)],
        [("wobble x", None), ("wobble", None)],
        [("solo", None)]]
    want = [{"zeta": "Zeta Inc", "beta": "Beta Co",
             "acme corpp": "Beta Co", "aaa": "Beta Co"},
            {"wobble x": "wobble", "wobble": "wobble"},
            {"solo": "solo"}]
    assert [dict(canon._name_cluster(c)) for c in clusters] == want
    assert canon._name_cluster([("solo", None)]) == [("solo", "solo")]
    linked = spark.createDataFrame(
        [(k, n, e) for k, c in enumerate(clusters) for n, e in c],
        "component long, norm string, entity string")
    got = {r["norm"]: r["entity"]
           for r in canon._name_components(linked).collect()}
    assert got == {n: e for w in want for n, e in w.items()}


def test_canonicalize_driver_path_equals_distributed(spark, monkeypatch):
    """The driver-side C1–C4 branch (small node sets) must be
    byte-identical to the distributed minhash/LSH + hash-to-min +
    window-naming branch."""
    norms = spark.createDataFrame(
        [("acme corp",), ("acme corpp",), ("the acme corp",),
         ("dataquill",), ("dataquill io",), ("zzzz wobbleplex",),
         ("zzzz wobbleplexx",), ("granite labs",)], "norm string")
    d = dictionary_df(spark)
    fast = {(r["norm"], r["entity"])
            for r in canon.canonicalize_norms(norms, d).collect()}
    monkeypatch.setattr(canon, "DRIVER_CANON_MAX_NODES", 0)
    dist = {(r["norm"], r["entity"])
            for r in canon.canonicalize_norms(norms, d).collect()}
    assert fast == dist and len(fast) == 8


def test_canonicalize_norms_releases_its_caches(spark, monkeypatch):
    """canonicalize_norms persists its feature and band tables; both
    branches must release them before returning, so a long-lived
    session does not gain cached DataFrames per call. Counted in the
    JVM CacheManager (``getPersistentRDDs`` would also count the
    localCheckpoints, which are not session caches)."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    d = dictionary_df(spark)
    for max_nodes in (canon.DRIVER_CANON_MAX_NODES, 0):
        monkeypatch.setattr(canon, "DRIVER_CANON_MAX_NODES", max_nodes)
        # a fresh input plan per call: persist() on a plan another
        # test already cached would not add an entry
        norms = spark.createDataFrame(
            [("acme corp",), ("acme corpp",), ("zzzz wobbleplex",),
             ("zzzz wobbleplexx",)], "norm string").localCheckpoint(
                eager=True)
        before = cache.numCachedEntries()
        out = canon.canonicalize_norms(norms, d)
        assert cache.numCachedEntries() == before, max_nodes
        assert dict(map(tuple, out.collect()))["acme corpp"] \
            == "Acme Corp", max_nodes


def test_resolve_entities_typo_inherits_dict_entity(spark, monkeypatch):
    """ADVICE r1: a dictionary-MISS typo variant must inherit the
    canonical entity of its dictionary-linked cluster-mate through
    connected components — which requires the dict norms to be part of
    the CC node set (they are not themselves misses). Holds for a tail
    inside the driver bound and for one above it."""
    from kg import pipeline, schemas
    from pyspark.sql import types as T

    fields = [f for f in schemas.SCORED.fields if f.name != "token_ids"]
    schema = T.StructType(fields + [
        T.StructField("head_entity", T.StringType()),
        T.StructField("tail_entity", T.StringType())])
    row = {f.name: None for f in schema.fields}
    row.update(conv_id="c0", turn_idx=0,
               head_surface="Acme Corpp", head_norm="acme corpp",
               head_mtype="org", head_pos=0,
               tail_surface="Dataquill", tail_norm="dataquill",
               tail_mtype="tool", tail_pos=3,
               rel="located_in", score=0.9,
               head_entity=None, tail_entity="Dataquill")
    scored = spark.createDataFrame(
        [tuple(row[f.name] for f in schema.fields)], schema)
    for max_nodes in (canon.DRIVER_CANON_MAX_NODES, 0):
        monkeypatch.setattr(canon, "DRIVER_CANON_MAX_NODES", max_nodes)
        out = pipeline.resolve_entities(scored,
                                        dictionary_df(spark)).collect()
        # via CC, not cluster-min
        assert out[0]["head_entity"] == "Acme Corp", max_nodes
        assert out[0]["tail_entity"] == "Dataquill", max_nodes


def test_resolve_entities_empty_tail_returns_scored(spark):
    """Every slot already linked: no dictionary-miss tail, so
    resolve_entities hands back ``scored`` itself."""
    from kg import pipeline

    scored = spark.createDataFrame(
        [("acme corp", "Acme Corp", "dataquill", "Dataquill")],
        "head_norm string, head_entity string, "
        "tail_norm string, tail_entity string")
    assert pipeline.resolve_entities(scored, dictionary_df(spark)) is scored


def test_snapshot_id_requires_files(spark):
    from kg import pipeline
    import pytest as _pt

    df = spark.createDataFrame([(1,)], "x int")
    with _pt.raises(ValueError):
        pipeline.snapshot_id_of(df)


def test_simhash_near_pairs_block_cap(spark, monkeypatch):
    """Identical docs all share every block: a small cap must drop the
    degenerate bucket rather than emit O(n²) pairs."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(40)],
        "doc_id long, text string")
    sims = canon.simhash64(docs)
    monkeypatch.setattr(spec, "BLOCK_CAP", 8)
    assert canon.simhash_near_pairs(sims).count() == 0
    monkeypatch.setattr(spec, "BLOCK_CAP", 64)
    full = canon.simhash_near_pairs(sims).count()
    assert full == 40 * 39 // 2


def test_minhash_deterministic(spark):
    feats = canon.node_features(spark.createDataFrame(
        [("acme corp",), ("dataquill",)], "norm string"))
    a = {r["node"]: r["sig"] for r in canon.minhash_signatures(feats).collect()}
    b = {r["node"]: r["sig"] for r in canon.minhash_signatures(feats).collect()}
    assert a == b
    assert len(a) == 2
    assert all(len(s) == 128 for s in a.values())
    # the vectorized kernel against per-row references: Python ints
    # over int64 extremes (a·x + b wraps mod 2⁶⁴, then mod 2⁶¹−1), and
    # numpy per row over rows that span the kernel's feature chunks
    ca, cb = canon._perm_coeffs()
    m = (1 << 61) - 1
    rows = [[-2**63, 2**63 - 1], [-1, 0, 1], [2**62, -2**62 - 1, 7], [5]]
    assert canon._minhash(rows).tolist() == [
        [min((int(ak) * (x % 2**64) + int(bk)) % 2**64 % m for x in r)
         for ak, bk in zip(ca, cb)] for r in rows]
    rng = np.random.default_rng(0)
    big = [rng.integers(-2**63, 2**63 - 1, size=k, dtype=np.int64,
                        endpoint=True) for k in (50_000, 1, 30_000, 9)]
    au, bu = ca.astype(np.uint64), cb.astype(np.uint64)
    assert np.array_equal(canon._minhash(big), np.stack([
        ((au[:, None] * f.view(np.uint64) + bu[:, None]) % np.uint64(m))
        .min(axis=1).astype(np.int64) for f in big]))


def test_minhash_batches_empty_batch():
    """An empty Arrow batch yields one zero-row (node, sig) frame."""
    empty = pd.DataFrame({"node": pd.Series(dtype=np.int64),
                          "f": pd.Series(dtype=object)})
    out = list(canon._minhash_batches(iter([empty])))
    assert len(out) == 1 and len(out[0]) == 0
    assert list(out[0].columns) == ["node", "sig"]


def test_lsh_hash_draw_is_pinned(spark):
    """The hash draw behind LSH blocking, pinned on two tiny docs: the
    word-shingle hashes of node_features and the first three band
    bucket hashes. A refactor that silently changes either
    re-randomizes which pairs every near-dup consumer compares."""
    docs = spark.createDataFrame(
        [("the quick brown fox jumps",), ("a lazy dog naps",)],
        "norm string")
    feats = canon.node_features(docs, feature="word")
    assert {r["norm"]: (r["node"], list(r["f"]))
            for r in feats.collect()} == {
        "the quick brown fox jumps": (
            -5711067284744493187,
            [-7314051219899227670, 1044920856434521801,
             7655045852675767553]),
        "a lazy dog naps": (
            7301889154956114882,
            [-5212147014743506981, -1957631117775061530])}
    pinned = [
        (-5711067284744493187, 0, 3537194632241836254),
        (-5711067284744493187, 1, -2295364682965291779),
        (-5711067284744493187, 2, 4356539368976473354),
        (7301889154956114882, 0, -5472558438430359950),
        (7301889154956114882, 1, 318720250448410204),
        (7301889154956114882, 2, -7763618613656695973)]
    banded = canon.lsh_bands(canon.minhash_signatures(feats))
    assert sorted((r["node"], r["band"], r["bhash"])
                  for r in banded.where("band < 3").collect()) == pinned
    # the driver branch of canonicalize_norms draws the same buckets
    rows = feats.collect()
    bands = canon._driver_band_hashes(canon._minhash([r["f"] for r in rows]))
    assert sorted((r["node"], b, int(bands[i, b]))
                  for i, r in enumerate(rows) for b in range(3)) == pinned


def test_driver_char_features_are_pinned(spark):
    """The driver C1 hashes its char-3-grams with a replica of Spark's
    ``xxhash64`` over UTF-8 bytes (seed 42). Its feature arrays equal
    ``node_features(...).f`` element for element on the dictionary
    norms, one-letter typos of them, "", 1–2-character norms,
    40-character norms, non-ASCII norms and emoji; and the string hash
    itself equals the JVM's at every byte length up to 80, across the
    32-byte stripe path."""
    from pyspark.sql import functions as F

    norms = list(_DICT_NORMS)
    norms += [_typo(n, i, ch) for i, n in enumerate(_DICT_NORMS)
              for ch in "xé"]
    norms += ["", "a", "ab", "é", "üï", "x" * 40,
              "the quick brown fox jumps over the lazy", "müller ïsland",
              "東京大学", "北京 清华大学", "café ☕", "🙂", "a🙂b", "🇩🇪 team",
              "zoë 😀😀 straße 40 chars long norm text"]
    norms = list(dict.fromkeys(norms))
    jvm = {r["norm"]: list(r["f"]) for r in canon.node_features(
        spark.createDataFrame([(n,) for n in norms], "norm string"))
        .collect()}
    assert len(jvm) == len(norms)
    drv = canon._char_features(norms)
    assert {n: f.tolist() for n, f in zip(norms, drv)} == jvm

    strings = ["é" * (i // 2) + "a" * (i % 2) for i in range(81)] \
        + ["🙂" * i for i in range(21)]
    df = spark.createDataFrame([(x,) for x in strings], "s string")
    assert [r[0] for r in df.select(F.xxhash64("s")).collect()] \
        == canon._xxhash64_utf8(strings).tolist()


def test_driver_canon_bounds_gate_before_hashing(spark, monkeypatch):
    """DRIVER_CANON_MAX_NODES and DRIVER_CANON_MAX_FEATURES gate the
    driver C1–C4: at each bound the driver branch runs, one under it
    the distributed branch does, with the same mapping. The feature
    count comes from the norm lengths (one gram per position of the
    padded norm) before any gram is hashed."""
    rows = ["acme corp", "acme corpp", "zzzz wobbleplex",
            "zzzz wobbleplexx", "a"]
    norms = spark.createDataFrame([(n,) for n in rows], "norm string")
    d = dictionary_df(spark)
    n_feats = sum(max(len(n) + 2 - spec.CHAR_NGRAM, 0) + 1 for n in rows)
    calls = _distributed_spy(monkeypatch)
    hashed: list = []
    real = canon._char_features
    monkeypatch.setattr(canon, "_char_features",
                        lambda ns: hashed.append(1) or real(ns))
    driver = _mapping(norms, d)
    assert not calls and hashed
    for bound, at in (("DRIVER_CANON_MAX_NODES", len(rows)),
                      ("DRIVER_CANON_MAX_FEATURES", n_feats)):
        with monkeypatch.context() as mp:
            mp.setattr(canon, bound, at)
            hashed.clear()
            assert _mapping(norms, d) == driver and not calls, bound
            mp.setattr(canon, bound, at - 1)
            hashed.clear()
            assert _mapping(norms, d) == driver and calls, bound
            assert not hashed, bound
            calls.clear()


def test_near_duplicate_edges_matches_bruteforce(spark, monkeypatch):
    """The WHOLE dedup path (word-shingle features → minhash → LSH
    banding → id-dedup → verify join) against an exact all-pairs
    DuckDB oracle at sf0.001, on the driver branch and on the forced
    distributed one: the planted document near-dups sit at
    shingle-Jaccard ≥ 0.9, where the b=32/r=4 banding miss probability
    is ~1e-15, so the edge SET must match exactly — recall 1.0 and
    precision 1.0, not just ≥0.95 (VERDICT r1 item 4). The carried
    norms match the feature table's node → norm map on both."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet") \
        .select((canon.F.lower("text")).alias("norm"))
    feats = canon.node_features(docs, feature="word")
    norm_of = {r["node"]: r["norm"]
               for r in feats.select("node", "norm").collect()}

    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet'")
    exact = con.execute("""
        WITH t AS (SELECT DISTINCT lower(text) AS norm FROM documents),
        w AS (SELECT norm, string_split(norm, ' ') AS toks FROM t),
        s AS (SELECT norm, list_distinct(
                  [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS ws
              FROM w)
        SELECT a.norm, b.norm FROM s a JOIN s b ON a.norm < b.norm
        WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
              / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws)))
              >= 0.5
    """).fetchall()
    want = {tuple(sorted(p)) for p in exact}
    assert want, "oracle produced no near-dup pairs — test is vacuous"
    for max_nodes in (canon.DRIVER_CANON_MAX_NODES, 0):
        monkeypatch.setattr(canon, "DRIVER_CANON_MAX_NODES", max_nodes)
        rows = canon.near_duplicate_edges(docs, tau=0.5, feature="word",
                                          carry="norm").collect()
        assert all(r["src"] < r["dst"] for r in rows), max_nodes
        assert all((norm_of[r["src"]], norm_of[r["dst"]])
                   == (r["src_norm"], r["dst_norm"]) for r in rows)
        assert {tuple(sorted((r["src_norm"], r["dst_norm"])))
                for r in rows} == want, max_nodes


def test_candidate_pairs_stay_linear_on_natural_text(spark):
    """Regression for the round-1 scale-killer: on a natural-text
    corpus the LSH candidate-pair count must stay O(n·k), not O(n²).
    500 docs → 124,750 possible pairs; require < 8·n candidates."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet") \
        .select((canon.F.lower("text")).alias("norm"))
    feats = canon.node_features(docs, feature="word").persist()
    banded = canon.lsh_bands(canon.minhash_signatures(feats))
    n = feats.count()
    n_pairs = canon.candidate_pairs(banded).count()
    assert n_pairs < 8 * n, (n_pairs, n)


def test_candidate_pairs_drop_count_observable(spark):
    """ADVICE r2: over-cap buckets must be droppable WITH an
    observable count — 70 identical norms under block_cap=64 form one
    over-cap bucket per band; the Observation reports the drops and
    the pair set comes back empty."""
    from pyspark.sql import Observation

    norms = spark.createDataFrame([("acme corp",)] * 70 + [("zzz",)],
                                  "norm string")
    feats = canon.node_features(norms)
    banded = canon.lsh_bands(canon.minhash_signatures(feats))
    obs = Observation("lsh_drops")
    pairs = canon.candidate_pairs(banded, block_cap=64, obs=obs)
    assert pairs.count() == 0          # node_features dedups: 1 hot node
    # 70 identical norms collapse to ONE node -> no over-cap bucket;
    # build a real hot bucket from distinct-but-near-identical norms
    hot = [(f"shared prefix token run variant {i:03d}",)
           for i in range(70)]
    feats2 = canon.node_features(
        spark.createDataFrame(hot, "norm string"))
    banded2 = canon.lsh_bands(canon.minhash_signatures(feats2))
    obs2 = Observation("lsh_drops2")
    pairs2 = canon.candidate_pairs(banded2, block_cap=8, obs=obs2)
    pairs2.count()
    got = obs2.get
    assert got["dropped_buckets"] and got["dropped_buckets"] > 0
    assert got["dropped_nodes"] >= 9 * got["dropped_buckets"]


def _distributed_spy(monkeypatch) -> list:
    """Record each call of the distributed C3, so a test can tell which
    branch of canonicalize_norms ran."""
    calls: list = []
    real = canon.connected_components

    def spy(*args, **kw):
        calls.append(1)
        return real(*args, **kw)

    monkeypatch.setattr(canon, "connected_components", spy)
    return calls


def _mapping(norms, dict_df) -> list:
    return sorted(map(tuple, canon.canonicalize_norms(norms, dict_df)
                      .collect()))


def _typo(norm: str, pos: int, ch: str) -> str:
    i = pos % len(norm)
    return norm[:i] + ch + norm[i + 1:]


_DICT_NORMS = sorted(spec.linking_dictionary())


@given(st.lists(st.tuples(st.sampled_from(_DICT_NORMS),
                          st.integers(0, 40),
                          st.sampled_from("aeiouxyz "),
                          st.booleans()),
                min_size=1, max_size=12))
@settings(max_examples=5, deadline=None)
def test_canonicalize_driver_equals_distributed_on_typos(spark_prop, draws):
    """Property: on a random set of dictionary norms and one-letter
    typos of them (each typo with or without its source norm), the
    driver C1–C4 branch and the forced-distributed branch give the
    same mapping."""
    rows = set()
    for norm, pos, ch, keep_source in draws:
        rows.add(_typo(norm, pos, ch))
        if keep_source:
            rows.add(norm)
    norms = spark_prop.createDataFrame(sorted((r,) for r in rows),
                                       "norm string")
    d = dictionary_df(spark_prop)
    with pytest.MonkeyPatch.context() as mp:
        calls = _distributed_spy(mp)
        driver = _mapping(norms, d)
        assert not calls
        mp.setattr(canon, "DRIVER_CANON_MAX_NODES", 0)
        distributed = _mapping(norms, d)
        assert calls
    assert driver == distributed
    assert {n for n, _ in driver} == rows


def _over_cap_norms(spark):
    """70 near-identical long norms: one-letter variants of a
    600-character string, which fill some band buckets past
    ``BLOCK_CAP``."""
    import random

    rng = random.Random(0)
    base = "".join(rng.choices("abcdefghijklmnopqrstuvwxyz ", k=600))
    return spark.createDataFrame([(_typo(base, 5 * i, "#"),)
                                  for i in range(70)], "norm string")


def test_canonicalize_over_cap_bucket_matches_distributed(spark,
                                                          monkeypatch):
    """On the over-cap input both branches drop the over-cap buckets:
    they verify the same edges and give the same mapping."""
    norms = _over_cap_norms(spark)
    feats = canon.node_features(norms).collect()
    bands = canon._driver_band_hashes(canon._minhash([r["f"] for r in feats]))
    biggest = max(np.unique(col, return_counts=True)[1].max()
                  for col in bands.T)
    assert biggest > spec.BLOCK_CAP, biggest
    nodes = [r["node"] for r in feats]
    pairs, _, _ = canon._driver_near_duplicates(
        [np.array(r["f"]) for r in feats])
    driver_edges = {tuple(sorted((nodes[i], nodes[j]))) for i, j in pairs}
    d = dictionary_df(spark)
    driver = _mapping(norms, d)
    monkeypatch.setattr(canon, "DRIVER_CANON_MAX_NODES", 0)
    jvm_edges = {(r["src"], r["dst"]) for r in canon.near_duplicate_edges(
        norms).collect()}
    assert driver_edges == jvm_edges and jvm_edges
    assert _mapping(norms, d) == driver
    assert len({e for _, e in driver}) < len(driver)


def test_near_duplicate_edges_driver_gate(spark, monkeypatch):
    """near_duplicate_edges on the over-cap input: the driver branch
    returns the edges of the distributed one, forced by either the
    node or the feature bound, and an Observation reads the same
    dropped_buckets and dropped_nodes on every branch. The driver
    branch leaves no cached DataFrame behind."""
    from pyspark.sql import Observation

    norms = _over_cap_norms(spark).localCheckpoint(eager=True)
    cache = spark._jsparkSession.sharedState().cacheManager()
    calls: list = []
    real = canon.candidate_pairs
    monkeypatch.setattr(canon, "candidate_pairs",
                        lambda *a, **kw: calls.append(1) or real(*a, **kw))
    got = []
    for i, bound in enumerate((None, "DRIVER_CANON_MAX_NODES",
                               "DRIVER_CANON_MAX_FEATURES")):
        with monkeypatch.context() as mp:
            if bound:
                mp.setattr(canon, bound, 0)
            obs = Observation(f"near_dup_gate_{i}")
            before = cache.numCachedEntries()
            edges = canon.near_duplicate_edges(norms, obs=obs)
            if bound is None:
                assert cache.numCachedEntries() == before
            rows = sorted(map(tuple, edges.collect()))
            got.append((rows, obs.get))
            assert bool(calls) == bool(bound), bound
            calls.clear()
    assert got[0] == got[1] == got[2]
    rows, drops = got[0]
    assert rows and drops["dropped_buckets"] > 0
    assert drops["dropped_nodes"] > spec.BLOCK_CAP * drops["dropped_buckets"]


def test_canonicalize_pair_budget_gates_the_driver_branch(spark,
                                                          monkeypatch):
    """The driver branch admits exactly ``DRIVER_CANON_MAX_EDGES``
    distinct candidate pairs, as many as :func:`candidate_pairs`
    emits. A near-duplicate pair shares many bands, so the kept
    blocks' summed pair slots (k(k−1)/2 per block of k) exceed that
    count and do not gate. At the JVM's distinct count the driver
    branch runs; one pair under it, the distributed branch does, with
    the same mapping."""
    from pyspark.sql import functions as F

    norms = spark.createDataFrame(
        [("acme corp",), ("acme corpp",), ("acme corporation",),
         ("the acme corp",), ("dataquill",), ("dataquill io",),
         ("zzzz wobbleplex",), ("zzzz wobbleplexx",)], "norm string")
    banded = canon.lsh_bands(
        canon.minhash_signatures(canon.node_features(norms)))
    slots = canon.capped_blocks(banded, ["band", "bhash"], "node",
                                spec.BLOCK_CAP).select(
        F.sum(F.size("ns") * (F.size("ns") - 1) / 2)).first()[0]
    distinct = canon.candidate_pairs(banded).count()
    assert slots > distinct > 0, (slots, distinct)
    d = dictionary_df(spark)
    calls = _distributed_spy(monkeypatch)
    monkeypatch.setattr(canon, "DRIVER_CANON_MAX_EDGES", distinct)
    driver = _mapping(norms, d)
    assert not calls
    monkeypatch.setattr(canon, "DRIVER_CANON_MAX_EDGES", distinct - 1)
    assert _mapping(norms, d) == driver
    assert calls


def test_canonicalize_edge_bound_falls_back_distributed(spark, monkeypatch):
    """ADVICE r2 (medium): the driver branch must bound the candidate
    pairs, not just the nodes — with DRIVER_CANON_MAX_EDGES=1 a
    clustered norm set exceeds the pair budget and the distributed
    branch runs, producing identical output to the driver path."""
    rows = [("acme corp",), ("acme corporation",), ("acme corp.",),
            ("dataquill",), ("dataquill.io",), ("solben",)]
    norms = spark.createDataFrame(rows, "norm string")
    dict_df = spark.createDataFrame(
        [("acme corp", "Acme Corp"), ("dataquill", "Dataquill")],
        "norm string, entity string")
    via_driver = canon.canonicalize_norms(norms, dict_df)
    monkeypatch.setattr(canon, "DRIVER_CANON_MAX_EDGES", 1)
    via_dist = canon.canonicalize_norms(norms, dict_df)
    assert sorted(map(tuple, via_driver.collect())) \
        == sorted(map(tuple, via_dist.collect()))


def test_components_auto_parity(spark, monkeypatch):
    """components_auto: driver union-find output == distributed
    hash-to-min output on the same multi-component graph, and the
    edge-bound forces the distributed branch (probe discipline). A
    duplicated node row collapses to one output row, and int ids keep
    their type."""
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(0, 30, 3)]      # 10 chains
        + [(100, 103, 1.0), (103, 106, 1.0)], schema=schemas.EDGES)
    nodes = spark.createDataFrame(
        [(i,) for i in range(0, 32)] + [(100,), (103,), (106,), (999,)],
        "node long")

    def comps(df):
        rows = df.collect()
        assert len(rows) == len({r["node"] for r in rows})
        return {(r["node"], r["component"]) for r in rows}

    fast = comps(canon.components_auto(nodes, edges))
    dist = comps(canon.connected_components(nodes, edges))
    dup = comps(canon.components_auto(nodes.union(nodes.limit(3)), edges))
    ints = canon.components_auto(nodes.selectExpr("int(node) AS node"),
                                 edges)
    assert ints.schema.simpleString() == \
        "struct<node:int,component:int>"
    monkeypatch.setattr(canon, "DRIVER_CANON_MAX_EDGES", 1)
    forced = comps(canon.components_auto(nodes, edges))
    assert fast == dist == forced == dup == comps(ints)
    assert (999, 999) in fast            # singleton keeps itself


def test_simhash_md5_60_variant_exact_and_portable(spark):
    """The md5_60 signatures: (a) the Manku block join finds EVERY
    pair within its Hamming guarantee (d ≤ n_blocks−1) and emits
    nothing beyond max_hamming — checked against exact all-pairs
    Hamming; (b) every signature is reproducible OUTSIDE Spark from
    md5 + the ±1 vote — the property that makes the contract entry
    hash-verifiable by an external engine."""
    import hashlib

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sims = canon.simhash64(docs).persist()
    sh = {r["doc_id"]: r["simhash"] for r in sims.collect()}
    # (b) independent python recomputation, bit for bit
    for r in docs.select("doc_id", "text").limit(20).collect():
        hs = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
              for w in r["text"].lower().split(" ")]
        sig = sum(1 << i for i in range(60)
                  if sum(1 if (h >> i) & 1 else -1 for h in hs) > 0)
        assert sh[r["doc_id"]] == sig
    # (a) block-join exactness
    got = {(r["src"], r["dst"]): r["hamming"]
           for r in canon.simhash_near_pairs(sims).collect()}
    ids = sorted(sh)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(sh[a] ^ sh[b]).count("1")
            if d <= 3:
                want[(a, b)] = d
    assert got == want and want
    sims.unpersist()
