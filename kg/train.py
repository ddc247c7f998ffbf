"""Offline trainer for both relation encoders (SURVEY.md §7 M3).

Runs ONCE on the driver (never inside Spark) to produce the pinned,
committed weights: ``kg/weights.npz`` for the PCNN (kg/model.py) and,
via kg/train_attn.py, ``kg/weights_attn.npz`` for the self-attention
encoder (kg/model_attn.py). Deterministic: fixed seeds, fixed instance
set from :func:`kg.datagen.training_instances` plus the cross-turn
instances, plain-numpy Adam. The pipeline only ever loads + broadcasts
the frozen weights.

Usage: ``python -m kg.train`` (writes kg/weights.npz, prints accuracy).
"""

from __future__ import annotations

import os
from types import ModuleType

import numpy as np

from kg import datagen, model, spec

WEIGHTS_PATH = os.path.join(os.path.dirname(__file__), "weights.npz")


def _adam_step(p, grads, m, v, t, lr=1e-3, b1=0.9, b2=0.999, eps=1e-8):
    for k, g in grads.items():
        m[k] = b1 * m[k] + (1 - b1) * g
        v[k] = b2 * v[k] + (1 - b2) * g * g
        mh = m[k] / (1 - b1 ** t)
        vh = v[k] / (1 - b2 ** t)
        p[k] -= (lr * mh / (np.sqrt(vh) + eps)).astype(np.float32)
    p["E_word"][0] = 0.0


def train(
    encoder: ModuleType, epochs: int = 12, batch_size: int = 128,
    lr: float = 1e-3, seed: int = spec.MODEL_SEED,
    n_per_template: int = 120, n_per_cross: int = 120,
) -> tuple[dict[str, np.ndarray], float]:
    """Train ``encoder`` (:mod:`kg.model` or :mod:`kg.model_attn`:
    anything with ``init_params``, ``forward`` and ``backward``).
    ``n_per_cross`` > 0 mixes in the cross-turn instances +
    composite-NA distractors, so the frozen checkpoint is
    cross-turn-aware; the vocabulary is the intra-turn one."""
    insts = datagen.training_instances(n_per_template=n_per_template)
    if n_per_cross > 0:
        insts = insts + datagen.cross_training_instances(
            n_per_template=n_per_cross)
    rng = np.random.default_rng(seed)
    order = rng.permutation(len(insts))
    n_val = max(len(insts) // 10, 1)
    val_idx, trn_idx = order[:n_val], order[n_val:]

    def batch(idx):
        ids, h, t, lens = model.pad_batch(
            [insts[i][0] for i in idx], [insts[i][1] for i in idx],
            [insts[i][2] for i in idx])
        y = np.array([insts[i][3] for i in idx])
        return ids, h, t, lens, y

    p = encoder.init_params(seed)
    m = {k: np.zeros_like(v) for k, v in p.items()}
    v = {k: np.zeros_like(x) for k, x in p.items()}
    step = 0
    for ep in range(epochs):
        rng.shuffle(trn_idx)
        losses = []
        for s in range(0, len(trn_idx), batch_size):
            ids, h, t, lens, y = batch(trn_idx[s:s + batch_size])
            probs, cache = encoder.forward(p, ids, h, t, lens,
                                           want_cache=True)
            losses.append(-np.log(probs[np.arange(len(y)), y] + 1e-12).mean())
            grads = encoder.backward(p, cache, probs, y)
            step += 1
            _adam_step(p, grads, m, v, step, lr=lr)
        ids, h, t, lens, y = batch(val_idx)
        acc = float((encoder.forward(p, ids, h, t, lens).argmax(1) == y)
                    .mean())
        print(f"epoch {ep + 1}: loss={np.mean(losses):.4f} val_acc={acc:.4f}")
    return p, acc


def main() -> None:
    p, acc = train(model)
    model.save_params(WEIGHTS_PATH, p)
    print(f"saved {WEIGHTS_PATH} (val_acc={acc:.4f})")


if __name__ == "__main__":
    main()
