"""Seeded benchmark inputs with the gold each workload is checked against.

Every input is a pure function of (workload, size, seed): the same
triple always yields byte-identical files. Inputs are generated once
and cached under ``.perfbench/cache/`` in the checkout; ``ensure``
returns the cached directory and the SHA-256 over its files, so two
checkouts (parent and change) can show they read identical bytes.

Gold is fixed at generation time and never derived from the program
under test:

- ``kg_noisy_resume``: the relation triples ``kg.datagen`` rendered
  into the transcripts (canonical entities).
- ``corpus_dedup``: the survivor set, known by construction (see
  :func:`_corpus`).
- ``graph_hub``: PageRank and min-label-propagation computed by an
  independent numpy reference (:func:`numpy_pagerank`,
  :func:`numpy_lpa`).
"""
from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

import numpy as np
import pandas as pd

#: files per parquet table: conversations / edges are hash-split so
#: the scan has parallelism without depending on the host's core count
N_FILES = 8

#: (workload, size) → generation parameters. ``tiny`` is the
#: self-test size; ``bench`` is the size the benchmark measures.
SIZES = {
    ("kg_noisy_resume", "bench"): {"convs": 600},
    ("kg_noisy_resume", "tiny"): {"convs": 120},
    ("corpus_dedup", "bench"): {"base": 1200, "replicas": 5},
    ("corpus_dedup", "tiny"): {"base": 200, "replicas": 4},
    ("graph_hub", "bench"): {"nodes": 110000, "edges": 200000,
                             "hub": 100000},
    ("graph_hub", "tiny"): {"nodes": 500, "edges": 2000, "hub": 200},
}

#: hot conversation = skew × mean turns (exercises the skewed
#: conversation in the scan and the cross-turn exchange)
KG_SKEW = 100
#: share of turn slots that start a two-turn cross-turn relation
NOISY_CROSS_TURN = 0.1
#: share of person full-name mentions rewritten with a one-letter typo
NOISY_TYPO_SHARE = 0.3
#: rounds of PageRank / label propagation (the library defaults)
GRAPH_ITERS = 3


def ensure(root: str, workload: str, size: str, seed: int) -> tuple[str, str]:
    """Generate (once) and return (input directory, content sha256).
    Each generator returns the row count of its main table, which is
    kept in the directory's meta.json."""
    params = SIZES[(workload, size)]
    d = os.path.join(root, ".perfbench", "cache",
                     f"{workload}-{size}-s{seed}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rows = GENERATORS[workload](tmp, seed, **params)
        meta = {"workload": workload, "size": size, "seed": seed,
                "params": params, "rows": rows,
                "sha256": content_hash(tmp)}
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, sort_keys=True)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(meta_path) as f:
        meta = json.load(f)
    digest = content_hash(d)
    if digest != meta["sha256"]:
        raise RuntimeError(f"cached input {d} changed since generation "
                           f"({digest} != {meta['sha256']})")
    return d, digest


def content_hash(d: str) -> str:
    """SHA-256 over (relative path, bytes) of every file except meta."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(d):
        dirnames.sort()
        for name in sorted(filenames):
            if name == "meta.json":
                continue
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, d).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _write_split(pdf: pd.DataFrame, out: str, key: np.ndarray) -> None:
    """Write ``pdf`` as N_FILES parquet files, row i to file key[i]."""
    os.makedirs(out)
    for i in range(N_FILES):
        part = pdf[key % N_FILES == i]
        part.to_parquet(os.path.join(out, f"part-{i:02d}.parquet"),
                        index=False)


def _write_transcripts(pdf: pd.DataFrame, out: str) -> None:
    # Spark rejects pandas' default nanosecond parquet timestamps
    pdf = pdf.astype({"ts": "datetime64[us]"})
    conv_num = pdf["conv_id"].str[1:].astype(np.int64).to_numpy()
    _write_split(pdf, out, conv_num)


def _write_gold_triples(d: str, gold) -> None:
    with open(os.path.join(d, "gold.json"), "w") as f:
        json.dump([list(t) for t in gold], f)


def typo_table() -> dict[str, list[str]]:
    """person full name → one-letter typo variants of its surname.

    A typo doubles one letter of the surname. Only typos that are not
    a linking-dictionary norm and whose padded char-3-gram Jaccard
    with the true surname clears the canonicalizer's threshold are
    kept: a typo the design cannot recover would measure the
    threshold, not the implementation."""
    from kg import nlp, spec

    dictionary = spec.linking_dictionary()
    table: dict[str, list[str]] = {}
    for e in spec.entity_inventory():
        if e["mtype"] != "person":
            continue
        first, last = e["canonical"].split(" ", 1)
        grams = nlp.char_ngrams(last.lower())
        typos = []
        for i in range(1, len(last)):
            t = last[:i] + last[i] + last[i:]
            if (t.lower() not in dictionary and t not in typos
                    and nlp.jaccard(grams, nlp.char_ngrams(t.lower()))
                    >= spec.TAU_DUP):
                typos.append(t)
        if typos:
            table[e["canonical"]] = [f"{first} {t}" for t in typos]
    return table


def _kg_noisy(d: str, seed: int, convs: int) -> int:
    from kg import datagen

    pdf, gold = datagen.generate(n_conversations=convs, seed=seed,
                                 skew_factor=KG_SKEW,
                                 pct_cross_turn=NOISY_CROSS_TURN)
    rng = np.random.default_rng([seed, 1])
    table = typo_table()
    names = re.compile(r"\b(" + "|".join(
        re.escape(n) for n in sorted(table, key=len, reverse=True))
        + r")\b")

    def noisy(m: re.Match) -> str:
        if rng.random() >= NOISY_TYPO_SHARE:
            return m.group(0)
        variants = table[m.group(0)]
        return variants[int(rng.integers(len(variants)))]

    pdf["text"] = [names.sub(noisy, t) for t in pdf["text"]]
    _write_transcripts(pdf, os.path.join(d, "transcripts"))
    _write_gold_triples(d, gold)
    return len(pdf)


_CORPUS_WORDS = (
    "batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query key window row table stream "
    "merge data big join vector customer").split()
_STOP = ("the", "a", "of", "to", "and", "in", "is", "for")


def _corpus(d: str, seed: int, base: int, replicas: int) -> int:
    """Documents with a survivor set known by construction.

    Base corpus (ids 0..base-1), built in id order:
    - 10% fail QC: no stopwords (stopword density 0 — appending a
      non-stopword word never makes them pass);
    - 15% copy an EARLIER QC-passing root: half exactly, half with
      one appended word (3-shingle Jaccard ≥ 0.8 for ≥10 words, far
      above τ and the LSH miss region);
    - the rest are fresh roots: 10–100 random words, stopword
      density high enough to pass QC even with one word appended.

    Replicas follow tools/stress_corpus.py: replica r of doc d has id
    d + r·base and is an exact copy unless (d + r) % 10 == 0, when
    ' xr<r>' is appended. Every copy lands in its root's near-dup
    component, whose minimum doc_id is the root, so the survivors are
    exactly the QC-passing roots. Fresh roots share a 3-shingle with
    each other only by chance (~0.05 shingles per pair), nowhere near
    the τ = 0.5 merge threshold."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(_CORPUS_WORDS)
    stop = np.array(_STOP)
    texts: list[str] = []
    roots: list[int] = []
    survivors: list[int] = []
    for i in range(base):
        u = rng.random()
        if u < 0.10:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(words, n)))
        elif u < 0.25 and roots:
            r = roots[int(rng.integers(len(roots)))]
            t = texts[r]
            texts.append(t if rng.random() < 0.5 else f"{t} v{i}")
        else:
            n = int(rng.integers(10, 101))
            while True:
                toks = np.where(rng.random(n) < 0.3,
                                rng.choice(stop, n), rng.choice(words, n))
                if np.isin(toks, stop).sum() / (n + 1) > 0.06:
                    break
            texts.append(" ".join(toks))
            roots.append(i)
            survivors.append(i)
    ids, out = [], []
    for r in range(replicas):
        for doc, t in enumerate(texts):
            ids.append(doc + r * base)
            out.append(t if r == 0 or (doc + r) % 10 != 0
                       else f"{t} xr{r}")
    pdf = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64),
                        "text": out})
    pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    _write_split(pdf, os.path.join(d, "documents"),
                 pdf["doc_id"].to_numpy())
    with open(os.path.join(d, "gold.json"), "w") as f:
        json.dump(sorted(survivors), f)
    return len(pdf)


def _graph(d: str, seed: int, nodes: int, edges: int, hub: int) -> int:
    """Directed power-law graph: sources drawn Zipf-like (a few
    high-out-degree nodes), destinations uniform, plus node 0 as a hub
    with ``hub`` distinct out-neighbours. Self-loops and duplicate
    edges are dropped; every endpoint is in the node table."""
    rng = np.random.default_rng([seed, 3])
    rank = np.minimum(rng.zipf(1.6, edges), nodes) - 1
    src = rng.permutation(nodes)[rank]
    dst = rng.integers(0, nodes, edges)
    hub_dst = rng.choice(np.arange(1, nodes), hub, replace=False)
    src = np.concatenate([np.zeros(hub, dtype=np.int64), src])
    dst = np.concatenate([hub_dst, dst])
    e = np.unique(np.stack([src, dst], axis=1)[src != dst], axis=0)
    e = e[rng.permutation(len(e))]
    pdf = pd.DataFrame({"src": e[:, 0].astype(np.int64),
                        "dst": e[:, 1].astype(np.int64)})
    _write_split(pdf, os.path.join(d, "edges"), pdf["src"].to_numpy())
    os.makedirs(os.path.join(d, "nodes"))
    pd.DataFrame({"node": np.arange(nodes, dtype=np.int64)}).to_parquet(
        os.path.join(d, "nodes", "part-00.parquet"), index=False)
    np.savez(os.path.join(d, "gold.npz"),
             pr=numpy_pagerank(nodes, e, GRAPH_ITERS),
             label=numpy_lpa(nodes, e, GRAPH_ITERS))
    return len(e)


def numpy_pagerank(n: int, e: np.ndarray, iters: int) -> np.ndarray:
    """Reference for kg.stages.graph.pagerank: no dangling-mass
    redistribution, pr₀ = 1/n, pr' = 0.15/n + 0.85·Σ pr[u]/outdeg[u]."""
    src, dst = e[:, 0], e[:, 1]
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        s = np.zeros(n)
        np.add.at(s, dst, pr[src] / outdeg[src])
        pr = 0.15 / n + 0.85 * s
    return pr


def numpy_lpa(n: int, e: np.ndarray, iters: int) -> np.ndarray:
    """Reference for kg.stages.graph.min_label_propagation:
    label(v) ← min(label(v), min over in-neighbours u of label(u))."""
    lab = np.arange(n, dtype=np.int64)
    for _ in range(iters):
        nxt = lab.copy()
        np.minimum.at(nxt, e[:, 1], lab[e[:, 0]])
        lab = nxt
    return lab


GENERATORS = {
    "kg_noisy_resume": _kg_noisy,
    "corpus_dedup": _corpus,
    "graph_hub": _graph,
}
