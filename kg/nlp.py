"""Pure-Python/numpy NLP core shared by the Spark extraction stage
(B1–B3, called batch-wise inside pandas UDFs) and the offline trainer.

Keeping tokenize/mention/pair logic in ONE module guarantees the
pipeline and the golden-fixture generator agree by construction
(SURVEY.md §5.4). No Spark imports here — executors get it via
--py-files; the gazetteer is derived from kg.spec at import time on
each worker (module-level cache ≡ one copy per executor process).
"""

from __future__ import annotations

import re
from functools import lru_cache

from kg import spec

_CAP_RE = re.compile(r"^[A-Z][a-zA-Z]*$")


@lru_cache(maxsize=1)
def _gazetteer() -> dict[str, list[tuple[tuple[str, ...], str, str, str]]]:
    """first-lower-token → [(variant_lower_tokens, norm, mtype, canonical)],
    longest variants first so scanning is greedy-longest."""
    gaz: dict[str, list] = {}
    for e in spec.entity_inventory():
        for v in e["variants"]:
            toks = tuple(t.lower() for t in spec.tokenize(v))
            if not toks:
                continue
            norm = spec.normalize_surface(v)
            gaz.setdefault(toks[0], []).append(
                (toks, norm, e["mtype"], e["canonical"]))
    for k in gaz:
        gaz[k].sort(key=lambda r: -len(r[0]))
    return gaz


def find_mentions(tokens: list[str]) -> list[dict]:
    """B2: greedy longest-match gazetteer scan + capitalized-sequence
    fallback (mtype='unk', canonical=None). Non-overlapping,
    left-to-right. Spans are token indices [start, end).
    """
    gaz = _gazetteer()
    low = [t.lower() for t in tokens]
    out: list[dict] = []
    i, n = 0, len(tokens)
    while i < n:
        hit = None
        for cand, norm, mtype, canon in gaz.get(low[i], ()):
            m = len(cand)
            if i + m <= n and tuple(low[i:i + m]) == cand:
                hit = (m, norm, mtype, canon)
                break  # longest-first order
        if hit:
            m, norm, mtype, canon = hit
            out.append({
                "surface": " ".join(tokens[i:i + m]), "norm": norm,
                "mtype": mtype, "canonical": canon,
                "span_start": i, "span_end": i + m,
            })
            i += m
            continue
        # fallback: maximal run of Capitalized tokens not in gazetteer
        if _CAP_RE.match(tokens[i]) and low[i] not in spec.vocabulary():
            j = i + 1
            while j < n and _CAP_RE.match(tokens[j]) and low[j] not in gaz:
                j += 1
            surf = " ".join(tokens[i:j])
            out.append({
                "surface": surf, "norm": spec.normalize_surface(surf),
                "mtype": "unk", "canonical": None,
                "span_start": i, "span_end": j,
            })
            i = j
            continue
        i += 1
    return out


def pair_instances(
    tokens: list[str],
    mentions: list[dict],
    cap: int = 20,
) -> list[dict]:
    """B3: all ordered mention pairs within the turn (≤ cap), with the
    PCNN instance payload: token ids + head/tail first-token positions
    (Zeng et al. 2015 §3.3 position features)."""
    ids = spec.token_ids(tokens)
    out: list[dict] = []
    for a in mentions:
        for b in mentions:
            if a is b or len(out) >= cap:
                continue
            out.append({
                "head_surface": a["surface"], "tail_surface": b["surface"],
                "head_norm": a["norm"], "tail_norm": b["norm"],
                "head_mtype": a["mtype"], "tail_mtype": b["mtype"],
                "head_canonical": a["canonical"],
                "tail_canonical": b["canonical"],
                "token_ids": ids,
                "head_pos": a["span_start"], "tail_pos": b["span_start"],
            })
    return out


def char_ngrams(norm: str, n: int = spec.CHAR_NGRAM) -> set[str]:
    """C1/C2 blocking unit: padded character n-grams of a normalized
    surface."""
    s = f"^{norm}$"
    if len(s) <= n:
        return {s}
    return {s[i:i + n] for i in range(len(s) - n + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 1.0
    u = len(a | b)
    return len(a & b) / u if u else 0.0
