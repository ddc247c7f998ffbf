"""B1–B3 — tokenize, detect mentions, build classifier instances
(SURVEY.md §2 B). One Arrow round-trip: a single ``mapInPandas`` does
tokenize → gazetteer scan → intra-turn pair combinatorics per batch,
so each turn's text crosses the JVM↔Python boundary exactly once.

The gazetteer is rebuilt from :mod:`kg.spec` on each executor process
(module-level cache — shipped via --py-files, zero serialization), per
SURVEY.md §2 B2. No per-row Python at the DataFrame level
(BASELINE.json:15); inside the batch the scan is a tight tokens loop —
the same cost class as any tokenizer.
"""

from __future__ import annotations

from collections.abc import Iterator
from operator import itemgetter

import pandas as pd
from pyspark.sql import DataFrame

from kg import schemas


#: mention-pair payload: the MENTION_PAIRS columns plus the gazetteer
#: canonicals (consumed only by the fused scorers — extract_instances
#: and cross_turn_instances slice them off so their schema stays
#: MENTION_PAIRS)
XT_PAIR_COLS = ["conv_id", "turn_idx", "head_surface", "tail_surface",
                "head_norm", "tail_norm", "head_mtype", "tail_mtype",
                "token_ids", "head_pos", "tail_pos",
                "head_canonical", "tail_canonical"]

#: the nlp.pair_instances dict fields, in XT_PAIR_COLS order
_PAIR_FIELDS = itemgetter(*XT_PAIR_COLS[2:])

#: cross-turn pairing keeps at most this many mentions per turn, which
#: bounds a turn pair's fan-out at XT_MENTION_CAP²
XT_MENTION_CAP = 8

#: cross-turn groups are (conv_id, turn_idx // XT_CHUNK): the hot
#: conversation never lands in one task
XT_CHUNK = 256


def intra_turn_pairs(pdf: pd.DataFrame) -> list[tuple]:
    """XT_PAIR_COLS tuples for every intra-turn mention pair of one
    (conv_id, turn_idx, text) batch — the B1–B3 rule shared by
    :func:`extract_instances` and the fused scorer in
    kg/stages/score.py. Turns with fewer than two mentions emit
    nothing."""
    # imports inside the worker: keeps the closure tiny
    from kg import nlp, spec

    rows: list[tuple] = []
    for conv_id, turn_idx, text in zip(
            pdf["conv_id"].to_numpy(), pdf["turn_idx"].to_numpy(),
            pdf["text"].to_numpy()):
        toks = spec.tokenize(text or "")
        rows.extend(_turn_pairs(conv_id, turn_idx, toks,
                                nlp.find_mentions(toks)))
    return rows


def _turn_pairs(conv_id, turn_idx, toks: list[str],
                mens: list[dict]) -> list[tuple]:
    """One turn's intra-turn pairs over all its mentions
    (``nlp.pair_instances``) as XT_PAIR_COLS tuples."""
    from kg import nlp

    if len(mens) < 2:
        return []
    key = (conv_id, int(turn_idx))
    return [key + _PAIR_FIELDS(p) for p in nlp.pair_instances(toks, mens)]


def _extract_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    n_pair = len(XT_PAIR_COLS) - 2  # slice off the canonical slots
    for pdf in it:
        yield pd.DataFrame([r[:n_pair] for r in intra_turn_pairs(pdf)],
                           columns=XT_PAIR_COLS[:n_pair])


def extract_instances(transcripts: DataFrame) -> DataFrame:
    """T0 → T3 (mention-pair instances). Narrow projection first so
    only (conv_id, turn_idx, text) reaches Python."""
    narrow = transcripts.select("conv_id", "turn_idx", "text")
    return narrow.mapInPandas(_extract_batches, schema=schemas.MENTION_PAIRS)


def _mention_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from kg import nlp, spec

    cols = ["conv_id", "turn_idx", "surface", "norm",
            "span_start", "span_end", "mtype"]
    for pdf in it:
        rows: list[tuple] = []
        for conv_id, turn_idx, text in zip(
                pdf["conv_id"].to_numpy(), pdf["turn_idx"].to_numpy(),
                pdf["text"].to_numpy()):
            for m in nlp.find_mentions(spec.tokenize(text or "")):
                rows.append((conv_id, int(turn_idx), m["surface"],
                             m["norm"], m["span_start"], m["span_end"],
                             m["mtype"]))
        yield pd.DataFrame(rows, columns=cols)


def cross_turn_instances(transcripts: DataFrame, k: int = 1,
                         clustered_input: bool = False) -> DataFrame:
    """B3 cross-turn variant: mention pairs spanning turns ≤ k apart
    within a conversation (SURVEY.md §2 B3 "±k turn window").

    Instance text = head turn ⊕ '.' ⊕ tail turn (the separator is an
    in-vocab punctuation token, so the frozen PCNN vocabulary is
    unchanged).

    Execution: repartition on (conv_id, chunk) +
    sortWithinPartitions + a STREAMING mapInPandas that detects group
    boundaries in-stream — one shuffle on the conversation key, and
    each task processes hundreds of conversations per Arrow batch
    instead of one pandas frame PER GROUP (a groupBy.applyInPandas
    pays per-group overhead that dominates at transcript shape,
    ~20-turn conversations: 12.7 s vs ~1 s for 8k conversations at
    sf0.1). A group can span Arrow batch boundaries; the stream
    buffers the open group across batches.

    Off the default pipeline path: the frozen scorer was trained on
    intra-turn instances, so cross-turn pairs are scored conservatively
    (mostly NA) until a cross-turn-trained checkpoint ships.

    Boundedness: groups are (conv_id, turn_idx // XT_CHUNK) so the
    hot conversation (10^9-turn worst case) never lands in one task;
    pairs that span a chunk boundary (≤ k/XT_CHUNK of the total) are
    dropped — the documented cap, not a silent truncation. Each turn
    pairs at most its first XT_MENTION_CAP mentions.
    """

    n_pair = len(XT_PAIR_COLS) - 2  # slice off the canonical slots

    def stream(it):
        from kg.stages.grouped import stream_groups

        yield from stream_groups(
            it, ["conv_id", "_chunk", "turn_idx", "text"], 2,
            lambda key, items: [r[:n_pair] for r in xt_group_pairs(
                key[0], items, k)],
            XT_PAIR_COLS[:n_pair])

    return (cross_turn_prepared(transcripts, clustered_input)
            .mapInPandas(stream, schema=schemas.MENTION_PAIRS))


def xt_group_pairs(conv_id, items: list, k: int,
                   intra_turn: bool = False) -> list:
    """One conversation-chunk's cross-turn pairs (the stream_groups
    close function shared by cross_turn_instances and the fused
    scorer in kg/stages/score.py): tokenize each turn once, pair each
    turn's first XT_MENTION_CAP mentions across turns ≤ k apart, emit
    XT_PAIR_COLS tuples. ``intra_turn=True`` also emits each turn's
    intra-turn pairs over all its mentions, as
    :func:`intra_turn_pairs` does, from the same tokenize and mention
    scan."""
    from kg import nlp, spec

    turns = []
    rows = []
    for turn_idx, text in items:
        toks = spec.tokenize(text or "")
        mens = nlp.find_mentions(toks)
        if intra_turn:
            rows.extend(_turn_pairs(conv_id, turn_idx, toks, mens))
        if mens:
            turns.append((int(turn_idx), toks, mens[:XT_MENTION_CAP]))
    for i, (ti, toks_i, mens_i) in enumerate(turns):
        for tj, toks_j, mens_j in turns[i + 1:]:
            if tj - ti > k:
                break
            joined = toks_i + ["."] + toks_j
            ids = spec.token_ids(joined)
            off = len(toks_i) + 1
            for a in mens_i:
                for b in mens_j:
                    rows.append((conv_id, ti,
                                 a["surface"], b["surface"],
                                 a["norm"], b["norm"],
                                 a["mtype"], b["mtype"],
                                 ids, a["span_start"],
                                 b["span_start"] + off,
                                 a["canonical"], b["canonical"]))
    return rows


def _parse_bytes_conf(v: str) -> int:
    """Spark size confs come back as '134217728b', '128MB', or a bare
    number; normalize to bytes."""
    s = v.strip().lower()
    for suffix, mult in (("tb", 2**40), ("gb", 2**30), ("mb", 2**20),
                         ("kb", 2**10), ("t", 2**40), ("g", 2**30),
                         ("m", 2**20), ("k", 2**10), ("b", 1)):
        if s.endswith(suffix):
            return int(s[: -len(suffix)]) * mult
    return int(s)


def clustered_layout_ok(df: DataFrame) -> bool:
    """Cheap local check of clause (2) of the clustered-input contract
    (see :func:`cross_turn_prepared`): no input file of ``df`` exceeds
    ``spark.sql.files.maxPartitionBytes``, i.e. Spark will not split
    any file — and splitting is what cuts a conversation across scan
    partitions even on a correctly bucket-written table. Returns True
    for non-file inputs and non-local URIs (nothing checkable — the
    write-side guarantee is then the caller's responsibility, clause
    (1) always is)."""
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return True
    if not files:
        return True
    limit = _parse_bytes_conf(df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728b"))
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return True  # remote store: can't stat cheaply from here
        try:
            if os.path.getsize(u.path) > limit:
                return False
        except OSError:
            return True
    return True


def cross_turn_prepared(transcripts: DataFrame,
                        clustered_input: bool = False) -> DataFrame:
    """The shared exchange under both cross-turn consumers: narrow
    projection + ONE shuffle on (conv_id, turn_idx // XT_CHUNK) +
    in-partition sort, ready for a streaming mapInPandas over group
    boundaries.

    The partition count is EXPLICIT (the session's configured shuffle
    partitions, via :func:`kg.stages.skew.cpu_stage_partitions`), not
    AQE's choice: AQE coalesces post-shuffle partitions by BYTES, and
    transcript text is tiny per unit of extraction CPU (~KB/turn vs
    ~100 µs/turn of tokenize+mention+score Python), so at sf0.1 AQE
    folded the 32-way exchange to 3 tasks and serialized ~5 s of
    single-core Python onto 3 cores (measured; the whole cross-turn
    stage is CPU-bound, never byte-bound). Partitioning a Python-CPU
    stage by the configured parallelism is the right call at every
    scale — a 1000-executor deployment sets shuffle.partitions to its
    core budget and gets exactly that fan-out.

    ``clustered_input=True`` skips the exchange entirely: an
    in-partition sort feeds the stream directly off the scan. Only
    correct when the storage layout already CONTAINS each conversation
    in a single scan partition. The precise contract (stricter than
    "bucketed by conv_id"): (1) every conversation's
    turns live in ONE FILE — a single-commit hash-repartitioned write
    gives this (kg.datagen does); an Iceberg table partitioned by
    bucket(conv_id) gives it only after per-bucket compaction, since
    multi-commit appends spread one conversation across a bucket's
    files and different files land in different scan partitions; and
    (2) no file exceeds ``spark.sql.files.maxPartitionBytes`` (a split
    file cuts a conversation in two; Spark COMBINING small files is
    fine — whole files are preserved). :func:`clustered_layout_ok`
    checks (2) cheaply — callers on local storage should gate on it
    (bench does); (1) is a write-side discipline only the writer can
    guarantee. At 10^12-turn scale this is the difference between
    shuffling the whole corpus and shuffling nothing; the equivalence
    against the shuffle path on a conv-bucketed input is pinned in
    tests/test_extract_score.py. When the contract is violated, pairs
    that span the partition cut are dropped — same failure class as
    the documented chunk-boundary drop, NOT wrong pairs — but don't
    do that; the flag is an explicit opt-in."""
    from pyspark.sql import functions as F

    from kg.stages.skew import cpu_stage_partitions

    base = (transcripts.select("conv_id", "turn_idx", "text")
            .withColumn("_chunk",
                        F.floor(F.col("turn_idx") / XT_CHUNK)
                        .cast("int")))
    if clustered_input:
        return base.sortWithinPartitions("conv_id", "_chunk", "turn_idx")
    n = cpu_stage_partitions(transcripts)
    return (base.repartition(n, "conv_id", "_chunk")
            .sortWithinPartitions("conv_id", "_chunk", "turn_idx"))


def detect_mentions(transcripts: DataFrame) -> DataFrame:
    """T0 → T2 (standalone B2 surface, used by canonicalization and
    tests). mention_id is a deterministic hash — NOT
    monotonically_increasing_id, which is partition-layout-dependent."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    out_schema = T.StructType([f for f in schemas.MENTIONS.fields
                               if f.name != "mention_id"])
    df = (transcripts.select("conv_id", "turn_idx", "text")
          .mapInPandas(_mention_batches, schema=out_schema))
    return df.withColumn(
        "mention_id",
        F.xxhash64("conv_id", "turn_idx", "span_start")).select(
        [f.name for f in schemas.MENTIONS.fields])
