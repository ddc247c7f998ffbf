"""The pinned spec: every constant the pipeline's semantics depend on.

SURVEY.md §0: the reference checkout (``/root/reference``) was empty at
survey time, so the tokenizer rules, relation inventory, and thresholds
below are pinned HERE and form this repo's frozen oracle (SURVEY.md
§5.4). If the reference ever materializes, re-verify this module
against it first — nothing else in the repo hard-codes semantics.

Semantics sources: BASELINE.json:6 ("the reference's tokenizer +
relation-classifier (PCNN/BERT-style scorer)"), Zeng et al. EMNLP 2015
(PCNN), FIXTURES.md (entity/relation inventory shape).

Everything is deterministic: no wall-clock, no RNG outside
``numpy.random.default_rng`` with pinned seeds.
"""

from __future__ import annotations

import re
from functools import lru_cache

# ---------------------------------------------------------------------------
# B1 tokenizer — deterministic regex tokenizer (SURVEY.md §2 B1)
# ---------------------------------------------------------------------------

#: Word runs or single non-space punctuation. Case-preserving split;
#: vocabulary lookup lowercases (OOV → <unk>).
TOKEN_PATTERN = r"\w+|[^\w\s]"
TOKEN_RE = re.compile(TOKEN_PATTERN)

PAD_TOKEN = "<pad>"
UNK_TOKEN = "<unk>"


def tokenize(text: str) -> list[str]:
    """Reference tokenizer: regex split, case preserved."""
    return TOKEN_RE.findall(text)


def normalize_surface(surface: str) -> str:
    """Mention normalization: lowercase, drop punctuation tokens,
    collapse whitespace. Used for linking (B5) and blocking (C1)."""
    toks = [t.lower() for t in tokenize(surface) if re.match(r"\w", t)]
    return " ".join(toks)


# ---------------------------------------------------------------------------
# Relation inventory (FIXTURES.md F1) — index 0 is NA by convention
# ---------------------------------------------------------------------------

NA_RELATION = "NA"
RELATIONS = [
    NA_RELATION,
    "employed_by",
    "located_in",
    "created",
    "uses",
    "part_of",
    "reports_to",
]
REL_TO_ID = {r: i for i, r in enumerate(RELATIONS)}

#: Post-softmax acceptance threshold for non-NA predictions (B4).
REL_THRESHOLD = 0.60
#: Jaccard threshold for C2 pair verification.
TAU_DUP = 0.60

# ---------------------------------------------------------------------------
# Minhash / LSH parameters (C1) — Broder 1997, SparkER EDBT 2019
# ---------------------------------------------------------------------------

MINHASH_H = 128        # signature length
MINHASH_BANDS = 32     # bands (rows per band = 4)
MINHASH_ROWS = MINHASH_H // MINHASH_BANDS
MINHASH_SEED = 42
CHAR_NGRAM = 3         # feature='char' — short entity norms
SHINGLE_W = 3          # feature='word' — documents (w-word shingles)
BLOCK_CAP = 64         # C2: blocks larger than this are logged + dropped

# ---------------------------------------------------------------------------
# Frozen BPE merge table (token budgeting — SURVEY.md §2 training-data
# extras; VERDICT r2 #4). Learned-BPE token counting = apply the merge
# table in RANK ORDER, each merge exhaustively left-to-right, then
# count residual symbols. Every symbol is one character (original char
# or a private-use-area sentinel standing for a merged pair), so merge
# application is exactly rank-ordered string rewriting — expressible
# as a nested replace() chain identically in Spark (JVM, codegen) and
# DuckDB (the oracle). The table is FROZEN, not trained (this sandbox
# ships no tokenizer corpus): it demonstrates the merge-application
# machinery, including rank chaining (th+e→the, in+g→ing). A learned
# table of any size plugs into the same rewriting — or, past ~100
# merges, a broadcast merges-dict inside an Arrow-batched pandas UDF.
# Scope note (honest): rewriting is per-rank exhaustive; real BPE
# re-checks lower ranks after each merge. The two differ only when a
# later merge creates an earlier merge's pair — impossible here
# because sentinels appear in no earlier pair.
# ---------------------------------------------------------------------------

BPE_MERGES: list[tuple[str, str]] = [
    ("th", "\ue000"),
    ("\ue000e", "\ue001"),   # th + e → the
    ("in", "\ue002"),
    ("\ue002g", "\ue003"),   # in + g → ing
    ("an", "\ue004"),
    ("er", "\ue005"),
    ("on", "\ue006"),
    ("re", "\ue007"),
]


#: shared by the quality/lang-id contract entries (kg/contract.py)
#: and the composed corpus pipeline (kg/stages/corpus.py) — one
#: definition so the composed QC can never drift from the
#: oracle-paired entries.
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "was", "for",
             "on", "at", "by")


#: Frozen character-trigram profiles for the n-gram language-ID
#: heuristic (contract.lang_id_ngram; Cavnar–Trenkle-style profile
#: overlap, reduced to a fixed top-trigram set per language so the
#: score is a pure scalar expression both engines compute
#: identically). 'de' exists to make discrimination TESTABLE — the
#: synthetic corpus is English-shaped, so the entry's fixture output
#: is 'en'; pytest pins that German-shaped text flips the argmax.
LANG_TRIGRAMS = {
    "en": ("the", "ing", "and", "ion", "ent", "tio", "for", "has",
           "ate", "ers"),
    "de": ("der", "ein", "ich", "sch", "und", "die", "che", "ung",
           "gen", "den"),
}


def merge_ranks(table: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
    """Re-express a (pattern, sentinel) merge table as TRUE-BPE pair
    ranks over concatenation symbols: each 2-symbol pattern becomes
    the pair of its sentinel-expanded sides, ranked by table order —
    e.g. ("\\ue000e", …) after ("th", "\\ue000") becomes ("th", "e").
    Sentinel references are resolved recursively in either direction,
    so chained tables (spec.BPE_MERGES) and forward-referencing test
    tables both map. Consumed by kg.stages.bpe.encode_word."""
    rep_pat = {rep: pat for pat, rep in table}

    def expand(sym: str) -> str:
        pat = rep_pat.get(sym)
        if pat is None:
            return sym
        return "".join(expand(c) for c in pat)

    out: dict[tuple[str, str], int] = {}
    for rank, (pat, _) in enumerate(table):
        assert len(pat) == 2, pat
        out[(expand(pat[0]), expand(pat[1]))] = rank
    return out


# ---------------------------------------------------------------------------
# PCNN hyperparameters (B4) — Zeng et al. 2015 §3
# ---------------------------------------------------------------------------

EMB_DIM = 50           # word embedding size
POS_DIM = 5            # each position embedding size (×2: to head, to tail)
POS_MAX = 30           # relative positions clipped to [-POS_MAX, POS_MAX]
N_FILTERS = 128        # 1-D conv filters
CONV_WINDOW = 3
MAX_LEN = 64           # token truncation length for scoring
MODEL_SEED = 42
ARROW_BATCH = 2048     # spark.sql.execution.arrow.maxRecordsPerBatch for B4

# ---------------------------------------------------------------------------
# Entity inventory (FIXTURES.md F1): 200 persons, 100 orgs, 50 tools,
# each with 1–3 surface variants. Generated from syllable lists so the
# inventory is reproducible without committing a data file.
# ---------------------------------------------------------------------------

_FIRST = [
    "Ann", "Boris", "Carla", "Dmitri", "Elena", "Farid", "Greta", "Hugo",
    "Iris", "Jonas", "Katya", "Liam", "Mara", "Nils", "Oona", "Pavel",
    "Quinn", "Rosa", "Sven", "Tala",
]
_SYL_A = ["Bar", "Cor", "Dal", "Fen", "Gar", "Hol", "Kel", "Lan", "Mor",
          "Nes", "Pol", "Ram", "Sol", "Tor", "Vel"]
_SYL_B = ["ard", "ben", "cott", "dale", "field", "gren", "holm", "kin",
          "land", "mont", "ros", "stein", "ton", "wick"]
_ORG_STEM = ["Acme", "Borealis", "Cobalt", "Dynamo", "Ember", "Fathom",
             "Granite", "Halcyon", "Ion", "Juniper", "Krypton", "Lumen",
             "Meridian", "Nimbus", "Onyx", "Pinnacle", "Quartz", "Riven",
             "Summit", "Tundra"]
_ORG_SUFFIX = ["Corp", "Labs", "Systems", "Group", "Industries"]
_TOOL_STEM = ["quill", "forge", "lens", "pilot", "graph", "deck", "scope",
              "flow", "mesh", "vault"]
_TOOL_PREFIX = ["data", "spark", "code", "query", "sync"]


@lru_cache(maxsize=1)
def entity_inventory() -> list[dict]:
    """200 persons + 100 orgs + 50 tools; each entry::

        {"canonical": str, "mtype": "person|org|tool",
         "variants": [surface, ...]}  # 1–3 surfaces incl. canonical

    Variants are distinct in normalized space (exercise C1–C4 / B5).
    """
    ents: list[dict] = []
    # 200 persons: 20 first names × 10 unique last names each.
    lasts = [a + b for a in _SYL_A for b in _SYL_B]  # 210 unique
    for i in range(200):
        first, last = _FIRST[i % 20], lasts[i]
        canonical = f"{first} {last}"
        variants = [canonical, last]  # bare unique surname
        if i % 3 == 0:
            variants.append(f"{first[0]}. {last}")
        ents.append({"canonical": canonical, "mtype": "person",
                     "variants": variants})
    # 100 orgs: 20 stems × 5 suffixes.
    for i in range(100):
        stem, suf = _ORG_STEM[i % 20], _ORG_SUFFIX[i // 20]
        canonical = f"{stem} {suf}"
        variants = [canonical, f"{stem.upper()}-{suf[0]}"]
        if i % 2 == 0:
            variants.append(f"the {stem} {suf.lower()}")
        ents.append({"canonical": canonical, "mtype": "org",
                     "variants": variants})
    # 50 tools: 5 prefixes × 10 stems.
    for i in range(50):
        name = _TOOL_PREFIX[i // 10] + _TOOL_STEM[i % 10]
        canonical = name.capitalize()
        variants = [canonical, f"{canonical}.io"]
        ents.append({"canonical": canonical, "mtype": "tool",
                     "variants": variants})
    return ents


@lru_cache(maxsize=1)
def linking_dictionary() -> dict[str, tuple[str, str]]:
    """B5 dictionary: normalized variant surface → (canonical, mtype).

    Broadcast to executors; ambiguous norms (shared by ≥2 entities)
    are dropped so exact linking is never wrong.
    """
    seen: dict[str, tuple[str, str]] = {}
    bad: set[str] = set()
    for e in entity_inventory():
        for v in e["variants"]:
            n = normalize_surface(v)
            if n in seen and seen[n][0] != e["canonical"]:
                bad.add(n)
            else:
                seen[n] = (e["canonical"], e["mtype"])
    for n in bad:
        seen.pop(n, None)
    return seen


# ---------------------------------------------------------------------------
# Relation templates (datagen + trainer). "{A}"/"{B}" are replaced by
# entity surfaces; gold triple is (canonical(A), rel, canonical(B))
# unless rel == NA. Type constraints per relation keep the data
# plausible and give the model a typed signal.
# ---------------------------------------------------------------------------

#: rel -> (subject mtype, object mtype, [templates])
TEMPLATES: dict[str, tuple[str, str, list[str]]] = {
    "employed_by": ("person", "org", [
        "{A} works at {B} according to the report",
        "{A} is employed by {B}",
        "{A} joined {B} last spring",
        "as we discussed , {A} works for {B}",
    ]),
    "located_in": ("org", "org", [
        "{A} is located in the {B} campus",
        "{A} is based in the {B} building now",
        "the office of {A} sits inside {B}",
    ]),
    "created": ("person", "tool", [
        "{A} created {B} last year",
        "{A} built {B} from scratch",
        "{B} was created by {A}",
    ]),
    "uses": ("person", "tool", [
        "{A} uses {B} for the analysis",
        "{A} relies on {B} daily",
        "{A} ran {B} on the cluster yesterday",
    ]),
    "part_of": ("org", "org", [
        "{A} is part of {B}",
        "{A} belongs to {B}",
        "{A} is a division of {B}",
    ]),
    "reports_to": ("person", "person", [
        "{A} reports to {B} every week",
        "{A} reports directly to {B}",
        "{B} manages {A} this quarter",
    ]),
    NA_RELATION: ("any", "any", [
        "{A} and {B} were both mentioned in the meeting",
        "{A} met {B} at the conference",
        "the notes mention {A} as well as {B}",
    ]),
}

#: Cross-turn relation templates (B3 ±k window; VERDICT r2 #6): the
#: relation is asserted across TWO adjacent turns — part_a names the
#: subject, part_b names the object — and is only recoverable by the
#: cross-turn extractor (each turn alone has <2 mentions). Every word
#: is drawn from the vocabulary the intra-turn TEMPLATES + FILLER
#: already induce, so the frozen token-id mapping is UNCHANGED
#: (pinned by test_spec_nlp.test_cross_templates_in_vocab).
#: rel -> (subject mtype, object mtype, [(part_a, part_b), ...])
CROSS_TEMPLATES: dict[str, tuple[str, str, list[tuple[str, str]]]] = {
    "employed_by": ("person", "org", [
        ("we discussed {A} today", "works at {B} now"),
        ("check {A} again please", "employed by {B} now"),
    ]),
    "located_in": ("org", "org", [
        ("the office of {A}", "sits inside {B} now"),
        ("{A} is based", "in the {B} building now"),
    ]),
    "created": ("person", "tool", [
        ("{A} is done now", "created {B} last year"),
        ("{A} ran the test", "and built {B} from scratch"),
    ]),
    "uses": ("person", "tool", [
        ("{A} ran the query", "uses {B} daily"),
        ("we should check {A}", "relies on {B} daily"),
    ]),
    "part_of": ("org", "org", [
        ("{A} is a division", "of {B} now"),
        ("{A} belongs", "to {B} now"),
    ]),
    "reports_to": ("person", "person", [
        ("{A} reports directly", "to {B} every week"),
        ("check {A} today", "reports to {B} now"),
    ]),
    NA_RELATION: ("any", "any", [
        ("the notes mention {A}", "as well as {B}"),
        ("{A} met", "{B} at the conference"),
    ]),
}

#: filler vocabulary for non-entity turns
FILLER_VOCAB = (
    "the a of to and in we should check again deploy rollback metric "
    "latency throughput query plan shuffle partition join scan table "
    "run test fix bug patch review merge commit branch release alert "
    "dashboard log trace error retry timeout cache disk memory cpu "
    "please thanks ok sure maybe later today tomorrow now done next"
).split()


@lru_cache(maxsize=1)
def vocabulary() -> dict[str, int]:
    """Pinned model vocabulary: lowercase token → id.

    ids 0/1 are reserved for <pad>/<unk>. Built from the template
    words, filler vocab, and every entity-variant token — sorted, so
    the mapping is order-independent and reproducible.
    """
    words: set[str] = set(FILLER_VOCAB)
    for _, (_, _, tpls) in TEMPLATES.items():
        for t in tpls:
            clean = t.replace("{A}", " ").replace("{B}", " ")
            words.update(tok.lower() for tok in tokenize(clean))
    for e in entity_inventory():
        for v in e["variants"]:
            words.update(tok.lower() for tok in tokenize(v))
    vocab = {PAD_TOKEN: 0, UNK_TOKEN: 1}
    for w in sorted(words):
        vocab[w] = len(vocab)
    return vocab


def token_ids(tokens: list[str]) -> list[int]:
    v = vocabulary()
    unk = v[UNK_TOKEN]
    return [v.get(t.lower(), unk) for t in tokens]
