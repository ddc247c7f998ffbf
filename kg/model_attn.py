"""Numpy self-attention relation encoder — the spec's "BERT-style"
alternative to the PCNN (SURVEY.md §2 B4: "PCNN/BERT-style scorer",
BASELINE.json:6; architecture family per Devlin et al. 2019 / the
R-BERT line `P:WuHe19`, reduced to what the sandbox can train:
single block, single head, no pretraining — torch is not installed,
so forward AND backward are plain numpy, like kg/model.py).

The embedding init, the input features (word embedding ⊕ two
relative-position embeddings), the pooling head and the embedding
gradient are kg/model.py's own (init_embeddings, _embed, pool_head,
_embed_grads), so the two encoders are drop-in alternatives behind
the same scoring UDF:

    X (B,T,60) → W_in → H0 (B,T,D)
    H1 = LayerNorm(H0 + SelfAttn(H0) @ W_ao)      # residual + LN
    H2 = LayerNorm(H1 + FFN(H1))                  # residual + LN
    piecewise max-pool over the 3 head/tail segments (Zeng15 §3.3,
    model.pool_head) → tanh → linear softmax

Attention masks PAD keys (every query may only attend to real
tokens); pooling masks already exclude PAD queries from the loss
path. The forward is fully vectorized over the batch — zero per-row
Python — and the backward is gradchecked in tests/test_attn.py.
"""

from __future__ import annotations

import numpy as np

from kg import spec
from kg.model import (
    IN_DIM, N_REL, _embed, _embed_grads, _segment_masks, glorot,
    init_embeddings, pad_batch, params_from_bytes, pool_head)

D_MODEL = 64
D_FF = 128
_NEG = np.float32(-1e30)
_LN_EPS = 1e-5


def init_params(seed: int = spec.MODEL_SEED, d_model: int = D_MODEL,
                d_ff: int = D_FF) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed + 1)  # distinct stream from PCNN
    p = init_embeddings(rng)
    p.update({
        "W_in": glorot(rng, IN_DIM, d_model),
        "b_in": np.zeros(d_model, dtype=np.float32),
        "Wq": glorot(rng, d_model, d_model),
        "Wk": glorot(rng, d_model, d_model),
        "Wv": glorot(rng, d_model, d_model),
        "Wo": glorot(rng, d_model, d_model),
        "g1": np.ones(d_model, dtype=np.float32),
        "be1": np.zeros(d_model, dtype=np.float32),
        "W1": glorot(rng, d_model, d_ff),
        "b1": np.zeros(d_ff, dtype=np.float32),
        "W2": glorot(rng, d_ff, d_model),
        "b2": np.zeros(d_model, dtype=np.float32),
        "g2": np.ones(d_model, dtype=np.float32),
        "be2": np.zeros(d_model, dtype=np.float32),
        "W_out": glorot(rng, 3 * d_model, N_REL),
        "b_out": np.zeros(N_REL, dtype=np.float32),
    })
    return p


def _layernorm(x, gamma, beta):
    mu = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    inv = 1.0 / np.sqrt(var + _LN_EPS)
    xhat = (x - mu) * inv
    return xhat * gamma + beta, (xhat, inv)


def _layernorm_backward(dy, gamma, cache):
    xhat, inv = cache
    dgamma = (dy * xhat).sum(axis=tuple(range(dy.ndim - 1)))
    dbeta = dy.sum(axis=tuple(range(dy.ndim - 1)))
    dxhat = dy * gamma
    m = dxhat.mean(axis=-1, keepdims=True)
    mx = (dxhat * xhat).mean(axis=-1, keepdims=True)
    dx = inv * (dxhat - m - xhat * mx)
    return dx, dgamma, dbeta


def forward(p, ids, heads, tails, lens, want_cache=False):
    """Softmax probabilities (B, N_REL); with want_cache also the
    intermediates for backward."""
    X, emb = _embed(p, ids, heads, tails, lens)
    B, T, _ = X.shape
    valid = emb["valid"]
    H0 = X @ p["W_in"] + p["b_in"]                      # (B,T,D)
    D = H0.shape[-1]
    Q, K, V = H0 @ p["Wq"], H0 @ p["Wk"], H0 @ p["Wv"]
    S = (Q @ K.transpose(0, 2, 1)) / np.sqrt(np.float32(D))
    S = np.where(valid[:, None, :], S, _NEG)            # mask PAD keys
    S64 = S.astype(np.float64)
    A = np.exp(S64 - S64.max(axis=-1, keepdims=True))
    A /= A.sum(axis=-1, keepdims=True)
    A = A.astype(H0.dtype)                              # (B,T,T)
    Z = A @ V
    AO = Z @ p["Wo"]
    H1, ln1 = _layernorm(H0 + AO, p["g1"], p["be1"])
    U = H1 @ p["W1"] + p["b1"]
    R = np.maximum(U, 0)
    FF = R @ p["W2"] + p["b2"]
    H2, ln2 = _layernorm(H1 + FF, p["g2"], p["be2"])
    masks = _segment_masks(T, heads, tails, lens)       # (B,3,T)
    out = pool_head(H2, masks, p["W_out"], p["b_out"], want_cache)
    if not want_cache:
        return out
    probs, head = out
    return probs, {**emb, **head, "H0": H0, "Q": Q, "K": K, "V": V,
                   "A": A, "Z": Z, "ln1": ln1, "H1": H1, "U": U, "R": R,
                   "ln2": ln2}


def backward(p, cache, probs, labels):
    """Cross-entropy gradients for every parameter, mean over batch."""
    B, T, D = cache["H0"].shape
    dt = cache["H0"].dtype
    dlogits = probs.copy()
    dlogits[np.arange(B), labels] -= 1.0
    dlogits /= B
    g = cache["g"]
    grads = {"W_out": (g.T @ dlogits).astype(dt),
             "b_out": dlogits.sum(axis=0).astype(dt)}
    dg = (dlogits @ p["W_out"].T).astype(dt)
    dpooled = (dg * (1.0 - g * g)).reshape(B, 3, D)
    nonempty = cache["masks"].any(axis=2)
    dpooled = dpooled * nonempty[:, :, None]
    dH2 = np.zeros((B, T, D), dtype=dt)
    b_idx = np.arange(B)[:, None, None]
    d_idx = np.arange(D)[None, None, :]
    np.add.at(dH2, (b_idx + 0 * cache["arg"], cache["arg"],
                    d_idx + 0 * cache["arg"]), dpooled)
    # LN2
    dres2, grads["g2"], grads["be2"] = _layernorm_backward(
        dH2, p["g2"], cache["ln2"])
    # FFN
    dFF = dres2
    grads["W2"] = cache["R"].reshape(-1, p["W2"].shape[0]).T \
        @ dFF.reshape(-1, D)
    grads["b2"] = dFF.sum(axis=(0, 1))
    dR = dFF @ p["W2"].T
    dU = dR * (cache["U"] > 0)
    grads["W1"] = cache["H1"].reshape(-1, D).T @ dU.reshape(-1, dU.shape[-1])
    grads["b1"] = dU.sum(axis=(0, 1))
    dH1 = dres2 + dU @ p["W1"].T
    # LN1
    dres1, grads["g1"], grads["be1"] = _layernorm_backward(
        dH1, p["g1"], cache["ln1"])
    # attention out-proj
    dAO = dres1
    grads["Wo"] = cache["Z"].reshape(-1, D).T @ dAO.reshape(-1, D)
    dZ = dAO @ p["Wo"].T
    A, V, Q, K = cache["A"], cache["V"], cache["Q"], cache["K"]
    dV = A.transpose(0, 2, 1) @ dZ
    dA = dZ @ V.transpose(0, 2, 1)
    dS = A * (dA - (dA * A).sum(axis=-1, keepdims=True))
    dS = dS / np.sqrt(np.float32(D))
    dQ = dS @ K
    dK = dS.transpose(0, 2, 1) @ Q
    H0 = cache["H0"]
    H0f = H0.reshape(-1, D)
    grads["Wq"] = H0f.T @ dQ.reshape(-1, D)
    grads["Wk"] = H0f.T @ dK.reshape(-1, D)
    grads["Wv"] = H0f.T @ dV.reshape(-1, D)
    dH0 = (dres1 + dQ @ p["Wq"].T + dK @ p["Wk"].T + dV @ p["Wv"].T)
    grads["W_in"] = cache["X"].reshape(-1, IN_DIM).T @ dH0.reshape(-1, D)
    grads["b_in"] = dH0.sum(axis=(0, 1))
    dX = (dH0 @ p["W_in"].T) * cache["valid"][:, :, None]
    grads.update(_embed_grads(p, cache, dX))
    return {k: v.astype(dt) for k, v in grads.items()}


def predict(p, token_ids, heads, tails) -> np.ndarray:
    """Same contract as kg.model.predict: probabilities (B, N_REL)."""
    ids, h, t, lens = pad_batch(token_ids, heads, tails)
    return forward(p, ids, h, t, lens)


def is_attn_params(p: dict) -> bool:
    """Dispatch marker for the scoring UDF: attention params carry Wq."""
    return "Wq" in p


def load_default_params() -> dict[str, np.ndarray]:
    from importlib import resources

    data = resources.files("kg").joinpath("weights_attn.npz").read_bytes()
    return params_from_bytes(data)
