"""B4 — relation scoring with the broadcast numpy PCNN
(SURVEY.md §2 B4; Zeng et al. 2015).

Spark-first design: the frozen weights are ``sparkContext.broadcast``
ONCE per job as compressed npz bytes; each executor's Python workers
unpack them on first batch and keep them module-cached for the rest of
the process lifetime ("broadcast model per executor",
BASELINE.json:6). Scoring is a ``mapInPandas`` over Arrow batches —
the forward pass is a fully vectorized numpy matmul chain, zero
per-row Python. Batch size is capped via
``spark.sql.execution.arrow.maxRecordsPerBatch`` (kg.session) so long
transcripts cannot blow Python-worker memory.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from kg import model, model_attn, schemas, spec
from kg.stages import extract

#: relation → required (head_mtype, tail_mtype); typed precision filter
TYPE_SIG = {rel: (st, ot) for rel, (st, ot, _) in spec.TEMPLATES.items()
            if rel != spec.NA_RELATION}

_WORKER_PARAMS: dict[int, dict] = {}


def _unpack_once(bc) -> dict:
    """Unpack broadcast weights once per Python worker process.

    Keyed on a CONTENT checksum of the broadcast bytes, not id(bc):
    in a reused worker a new broadcast can be allocated at the id of
    a GC'd one and would silently receive the stale weights. crc32 of
    the npz bytes is ~100 µs per Arrow batch — noise next to the
    batch matmul."""
    import zlib

    key = zlib.crc32(bc.value)
    p = _WORKER_PARAMS.get(key)
    if p is None:
        p = model.params_from_bytes(bc.value)
        _WORKER_PARAMS.clear()
        _WORKER_PARAMS[key] = p
    return p


def predict_probs(p, token_ids, heads, tails) -> np.ndarray:
    """Encoder dispatch: the broadcast params decide whether the PCNN
    (lookup-table fast path) or the BERT-style self-attention encoder
    (kg/model_attn.py) scores the batch — same (B, N_REL) softmax
    contract, so the whole UDF/pipeline plumbing (bags included) is
    shared."""
    enc = model_attn if model_attn.is_attn_params(p) else model
    return enc.predict(p, token_ids, heads, tails)


def _predict(p, token_ids, heads, tails):
    """(pred_label[B], prob_of_pred[B]) of :func:`predict_probs`."""
    probs = predict_probs(p, token_ids, heads, tails)
    lab = probs.argmax(axis=1)
    return lab, probs[np.arange(len(lab)), lab]


def apply_type_signature(scored: DataFrame) -> DataFrame:
    """The typed precision filter shared by every scoring surface:
    unknown mention types pass through; known types must match the
    relation's (head, tail) signature."""
    sig = F.create_map(*[
        x for rel, (st, ot) in TYPE_SIG.items()
        for x in (F.lit(rel), F.array(F.lit(st), F.lit(ot)))])
    return scored.where(
        ((F.col("head_mtype") == F.lit("unk")) |
         (F.col("head_mtype") == sig[F.col("rel")][0])) &
        ((F.col("tail_mtype") == F.lit("unk")) |
         (F.col("tail_mtype") == sig[F.col("rel")][1])))


FUSED_SCHEMA = T.StructType(
    [f for f in schemas.SCORED.fields if f.name != "token_ids"]
    + [T.StructField("head_entity", T.StringType()),
       T.StructField("tail_entity", T.StringType())])


def extract_and_score_fused(
    transcripts: DataFrame,
    weights_bc,
    threshold: float = spec.REL_THRESHOLD,
) -> DataFrame:
    """B1–B4 (+ B5's exact path) in ONE mapInPandas pass: tokenize →
    mentions → pairs → PCNN scoring inside a single Python worker per
    task, emitting the gazetteer-resolved canonical entity directly
    (the gazetteer and the B5 exact dictionary are the same pinned
    inventory, so in-UDF resolution ≡ the broadcast dictionary join;
    dictionary-miss mentions come out with NULL entity and flow to the
    C1–C4 long-tail canonicalizer).

    Why fused: two chained mapInPandas operators run TWO Python
    workers per task (the stages pipeline-stream), doubling the
    process count and shipping the token_ids arrays — the widest
    column — through an extra JVM↔Python Arrow round-trip; the
    downstream linking joins then re-scanned the scored table. The
    unfused stages remain for unit tests and the driver contract.
    """
    out_cols = [f.name for f in FUSED_SCHEMA.fields]

    def batches(it):
        p = None
        for pdf in it:
            if p is None:
                p = _unpack_once(weights_bc)
            yield pd.DataFrame(
                _score_pair_rows(p, extract.intra_turn_pairs(pdf),
                                 threshold),
                columns=out_cols)

    narrow = transcripts.select("conv_id", "turn_idx", "text")
    scored = narrow.mapInPandas(batches, schema=FUSED_SCHEMA)
    return apply_type_signature(scored)


def extract_and_score_cross_turn_fused(
    transcripts: DataFrame,
    weights_bc,
    k: int = 1,
    threshold: float = spec.REL_THRESHOLD,
    clustered_input: bool = False,
    intra_turn: bool = False,
) -> DataFrame:
    """B1–B5 for the ±k cross-turn window in ONE streaming
    mapInPandas: pairing, PCNN scoring and exact gazetteer linking
    fused into the same Python worker that walks the conversation
    stream. ``intra_turn=True`` (the pipeline's cross-turn path) also
    scores every turn's intra-turn pairs in the same pass: the close
    function emits them from the same tokenize and mention scan that
    feeds the ±k pairs, so each turn is tokenized once, and the output
    is :func:`extract_and_score_fused` ∪ this scorer's cross-only
    output (scores equal up to float32 rounding of the batch
    composition).

    The pair stream never leaves Python before scoring, so token_ids
    (the widest column by far) never crosses the JVM↔Python Arrow
    boundary and no second chained mapInPandas or linking join runs:
    one (conv_id, chunk) exchange → stream_groups with
    extract.xt_group_pairs building XT_PAIR_COLS pair tuples → a
    flush_transform that scores each ≤flush_rows buffer (20k rows — a
    full matmul batch, not per-conversation slivers) in one vectorized
    forward pass → FUSED_SCHEMA frames → the type-signature filter.
    The gazetteer canonical IS the exact dictionary entity (same pinned
    inventory — the equivalence extract_and_score_fused already relies
    on, pinned in tests/test_extract_score.py for this path too).
    """
    from kg.stages.grouped import stream_groups

    out_cols = [f.name for f in FUSED_SCHEMA.fields]

    def close(key, items):
        return extract.xt_group_pairs(key[0], items, k, intra_turn)

    def stream(it):
        state: dict = {}

        def ft(rows):
            if rows and "p" not in state:
                state["p"] = _unpack_once(weights_bc)
            return _score_pair_rows(state.get("p"), rows, threshold)

        yield from stream_groups(
            it, ["conv_id", "_chunk", "turn_idx", "text"], 2,
            close, out_cols, flush_transform=ft)

    scored = (extract.cross_turn_prepared(transcripts, clustered_input)
              .mapInPandas(stream, schema=FUSED_SCHEMA))
    return apply_type_signature(scored)


def _score_pair_rows(p, rows: list, threshold: float) -> list:
    """One batched forward pass over XT_PAIR_COLS tuples (intra- or
    cross-turn) → FUSED_SCHEMA tuples (NA and sub-threshold rows
    dropped, gazetteer canonical emitted as the exact entity). Raw
    tuples in, raw tuples out: token_ids (the widest column) lives
    only in this Python list and never crosses into a pandas object
    column."""
    if not rows:
        return []
    rels = np.array(spec.RELATIONS)
    na_id = spec.REL_TO_ID[spec.NA_RELATION]
    lab, prob = _predict(p, [r[8] for r in rows],
                         [r[9] for r in rows], [r[10] for r in rows])
    return [
        (r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7], r[9], r[10],
         rels[lb], np.float32(pb), r[11], r[12])
        for r, lb, pb in zip(rows, lab, prob)
        if lb != na_id and pb >= threshold]


def broadcast_weights(spark, encoder: str = "pcnn"):
    """Broadcast the frozen model once per job (npz-compressed bytes).

    ``encoder``: 'pcnn' (default — lookup-table fast path) or 'attn'
    (the BERT-style self-attention encoder, kg/model_attn.py); the
    scoring UDF dispatches on the params content, nothing else in the
    pipeline changes."""
    params = (model_attn.load_default_params() if encoder == "attn"
              else model.load_default_params())
    return spark.sparkContext.broadcast(model.params_to_bytes(params))
