"""Bag-level relation scoring with selective attention
(SURVEY.md §2 B4 "bag-level option"; Lin et al., ACL 2016).

Distant-supervision semantics: all instances sharing an entity pair
form a bag; the bag's relation is scored by attention-weighting the
instances instead of trusting any single sentence. This
implementation runs at inference over either frozen encoder (the
scoring UDF's dispatch, kg.stages.score.predict_probs): per-relation
attention weights α_ik = softmax_i(logit_ik), bag logit
L_k = Σ_i α_ik · logit_ik, prediction = softmax(L). (Lin16 learns the
attention query jointly; with a frozen instance model the instance
logits themselves are the natural query — the standard
inference-time reduction.)

Dataflow: ONE fused mapInPandas emits per-instance logits (7 floats —
far narrower than the pooled features) for the intra-turn pairs of
kg.stages.extract.intra_turn_pairs, then one exchange on the entity
pair and a streaming pass (kg.stages.grouped.stream_groups) run the
numpy attention per bag. Bags are naturally small; the exchange
moves only (entity-pair, logits) rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from kg import spec

_LOGIT_SCHEMA = ("conv_id string, turn_idx int, head_norm string, "
                 "tail_norm string, head_entity string, "
                 "tail_entity string, logits array<float>")

BAG_SCHEMA = ("head_norm string, tail_norm string, head_entity string, "
              "tail_entity string, rel string, score float, "
              "bag_size long")


def _instance_logits(transcripts: DataFrame, weights_bc) -> DataFrame:
    def batches(it):
        from kg.stages.extract import intra_turn_pairs
        from kg.stages.score import _unpack_once, predict_probs

        p = None
        cols = ["conv_id", "turn_idx", "head_norm", "tail_norm",
                "head_entity", "tail_entity", "logits"]
        for pdf in it:
            if p is None:
                p = _unpack_once(weights_bc)
            # XT_PAIR_COLS tuples: conv_id, turn_idx 0-1, norms 4-5,
            # token_ids, head_pos, tail_pos 8-10, canonicals 11-12
            rows = intra_turn_pairs(pdf)
            if not rows:
                yield pd.DataFrame(columns=cols)
                continue
            probs = predict_probs(p, [r[8] for r in rows],
                                  [r[9] for r in rows],
                                  [r[10] for r in rows])
            logits = np.log(probs + 1e-12).astype(np.float32)
            yield pd.DataFrame(
                [(r[0], r[1], r[4], r[5], r[11], r[12], lg.tolist())
                 for r, lg in zip(rows, logits)], columns=cols)

    return (transcripts.select("conv_id", "turn_idx", "text")
            .mapInPandas(batches, schema=_LOGIT_SCHEMA))


def score_bags(transcripts: DataFrame, weights_bc,
               threshold: float = spec.REL_THRESHOLD) -> DataFrame:
    """Bag-level T4: one row per (head, tail) entity pair with the
    attention-aggregated relation. NA bags and sub-threshold bags are
    dropped."""
    inst = _instance_logits(transcripts, weights_bc)

    out_cols = ["head_norm", "tail_norm", "head_entity", "tail_entity",
                "rel", "score", "bag_size"]
    na_id = spec.REL_TO_ID[spec.NA_RELATION]

    def bag_row(key, meta, logits):
        # one attention distribution over the bag's instances, query =
        # each instance's strongest non-NA evidence (Lin16's learned
        # query collapses to exactly this "relationness" signal when
        # the instance model is frozen); NA-dominated instances get
        # exponentially small weight
        L = np.array(logits, dtype=np.float32)            # (n, K)
        q = L[:, 1:].max(axis=1)                          # (n,)
        a = np.exp(q - q.max())
        alpha = a / a.sum()
        bag_logit = alpha @ L                             # (K,)
        z = bag_logit - bag_logit.max()
        probs = np.exp(z) / np.exp(z).sum()
        k = int(probs.argmax())
        if k == na_id or probs[k] < threshold:
            return None
        return (key[0], key[1], meta[0], meta[1],
                spec.RELATIONS[k], float(probs[k]), len(logits))

    # bags are TINY (1–5 instances): group boundaries are detected
    # in-stream, with no pandas frame per bag
    def close(key, items):
        meta = (items[0][0], items[0][1])
        logits = [np.asarray(x[2], dtype=np.float32) for x in items]
        row = bag_row(key, meta, logits)
        return [row] if row is not None else []

    def stream(it):
        from kg.stages.grouped import stream_groups

        yield from stream_groups(
            it, ["head_norm", "tail_norm", "head_entity",
                 "tail_entity", "logits"], 2, close, out_cols)

    from kg.stages.skew import cpu_stage_partitions

    # explicit count: AQE's bytes-based coalescing would starve this
    # CPU-bound stage at small shuffle sizes (see cpu_stage_partitions)
    n = cpu_stage_partitions(inst)
    return (inst.repartition(n, "head_norm", "tail_norm")
            .sortWithinPartitions("head_norm", "tail_norm")
            .mapInPandas(stream, schema=BAG_SCHEMA))
