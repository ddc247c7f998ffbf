"""BERT-style self-attention encoder (kg/model_attn.py): gradcheck,
batch invariance, frozen-weight accuracy, scorer-dispatch parity."""

from __future__ import annotations

import numpy as np

from kg import datagen, model, model_attn


def _loss(p, ids, h, t, lens, y):
    pr = model_attn.forward(p, ids, h, t, lens)
    return -np.log(pr[np.arange(len(y)), y] + 1e-12).mean()


def test_attn_gradcheck_all_tensors():
    """Float64 numerical gradient vs analytic backward, a few entries
    of EVERY parameter tensor (attention, both LayerNorms, FFN,
    embeddings) — stricter than the PCNN's W_out-only check."""
    rng = np.random.default_rng(0)
    p = model_attn.init_params(0, d_model=16, d_ff=24)
    p = {k: v.astype(np.float64) for k, v in p.items()}
    n = 5
    ids_l = [list(rng.integers(1, 50, size=rng.integers(4, 10)))
             for _ in range(n)]
    ids, h, t, lens = model.pad_batch(ids_l, [0] * n, [2] * n)
    y = rng.integers(0, model_attn.N_REL, size=n)
    probs, cache = model_attn.forward(p, ids, h, t, lens, want_cache=True)
    grads = model_attn.backward(p, cache, probs, y)
    eps = 1e-5
    for name in sorted(p):
        flat, gflat = p[name].reshape(-1), grads[name].reshape(-1)
        for i in rng.choice(len(flat), size=min(3, len(flat)),
                            replace=False):
            orig = flat[i]
            flat[i] = orig + eps
            lp = _loss(p, ids, h, t, lens, y)
            flat[i] = orig - eps
            lm = _loss(p, ids, h, t, lens, y)
            flat[i] = orig
            num = (lp - lm) / (2 * eps)
            err = abs(num - gflat[i]) / max(1e-8, abs(num) + abs(gflat[i]))
            assert err < 1e-4 or abs(num - gflat[i]) < 1e-7, \
                (name, i, num, gflat[i])


def test_attn_batch_invariant():
    """Scores must not depend on batch composition (pad length): the
    same instance scored alone and inside a batch with a much longer
    neighbor yields identical probabilities."""
    p = model_attn.load_default_params()
    short = list(np.random.default_rng(1).integers(1, 50, size=6))
    long = list(np.random.default_rng(2).integers(1, 50, size=40))
    prob_a = model_attn.predict(p, [short], [0], [2])
    prob_b = model_attn.predict(p, [short, long], [0, 0], [2, 5])
    assert prob_a[0].argmax() == prob_b[0].argmax()
    assert np.abs(prob_a[0] - prob_b[0]).max() < 1e-5


def test_attn_frozen_weights_accuracy():
    """The committed weights_attn.npz classifies the pinned validation
    slice ≥ 0.95 (same split protocol as kg/train_attn.py)."""
    insts = datagen.training_instances(n_per_template=120)
    rng = np.random.default_rng(model_attn.spec.MODEL_SEED)
    order = rng.permutation(len(insts))
    val = order[:max(len(insts) // 10, 1)]
    p = model_attn.load_default_params()
    ids, h, t, lens = model.pad_batch(
        [insts[i][0] for i in val], [insts[i][1] for i in val],
        [insts[i][2] for i in val])
    y = np.array([insts[i][3] for i in val])
    acc = float((model_attn.forward(p, ids, h, t, lens)
                 .argmax(1) == y).mean())
    assert acc >= 0.95, acc


def test_attn_params_dispatch_marker():
    assert model_attn.is_attn_params(model_attn.init_params(0))
    assert not model_attn.is_attn_params(model.init_params(0))


def test_attn_scorer_in_pipeline(spark):
    """The fused extraction UDF with attn weights produces scored
    instances with the same schema and plausible relations — and the
    two encoders agree on most of the (high-signal) template data."""
    from kg import schemas
    from kg.stages import score

    pdf, _ = datagen.generate(n_conversations=30, seed=42)
    t0 = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    bc_a = score.broadcast_weights(spark, encoder="attn")
    bc_p = score.broadcast_weights(spark)
    a = score.extract_and_score_fused(t0, bc_a)
    p = score.extract_and_score_fused(t0, bc_p)
    assert a.schema == p.schema
    key = ["conv_id", "turn_idx", "head_norm", "tail_norm", "rel"]
    na = a.select(*key).distinct()
    np_ = p.select(*key).distinct()
    inter = na.intersect(np_).count()
    union = na.unionByName(np_).distinct().count()
    assert union > 0 and inter / union >= 0.9, (inter, union)
