"""Numpy PCNN relation classifier (SURVEY.md §2 B4).

Architecture per Zeng et al., EMNLP 2015 §3: word embedding ⊕ two
relative-position embeddings → 1-D convolution (window 3, same
padding) → piecewise max-pooling over the three segments cut at the
head/tail entity positions → tanh → linear softmax over the relation
inventory (NA at index 0).

Torch is not available in this environment (SURVEY.md §7), so both the
forward pass (used inside the Spark scoring UDF on executors) and the
backward pass (used only by the offline trainer, kg/train.py) are
plain numpy. The forward pass is fully vectorized over the batch —
zero per-row Python — which is exactly what the Arrow-batched UDF
needs (BASELINE.json:15 "no per-row Python").

The embedding init, input features, pooling head and embedding
gradient are shared with the self-attention encoder (kg/model_attn.py);
only the encoder body between them differs.
"""

from __future__ import annotations

import io

import numpy as np

from kg import spec

N_POS = 2 * spec.POS_MAX + 1          # relative-position buckets
IN_DIM = spec.EMB_DIM + 2 * spec.POS_DIM
COL_DIM = spec.CONV_WINDOW * IN_DIM
N_REL = len(spec.RELATIONS)

_NEG = -1e30


def glorot(rng: np.random.Generator, *shape) -> np.ndarray:
    lim = np.sqrt(6.0 / sum(shape))
    return rng.uniform(-lim, lim, size=shape).astype(np.float32)


def init_embeddings(rng: np.random.Generator) -> dict[str, np.ndarray]:
    """The input features both encoders share: word and two
    relative-position embeddings, drawn first from ``rng`` (<pad>
    pinned to zero)."""
    def normal(*shape):
        return (0.1 * rng.standard_normal(shape)).astype(np.float32)

    p = {"E_word": normal(len(spec.vocabulary()), spec.EMB_DIM),
         "E_p1": normal(N_POS, spec.POS_DIM),
         "E_p2": normal(N_POS, spec.POS_DIM)}
    p["E_word"][0] = 0.0
    return p


def init_params(seed: int = spec.MODEL_SEED) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    p = init_embeddings(rng)
    p.update({
        "W_conv": glorot(rng, COL_DIM, spec.N_FILTERS),
        "b_conv": np.zeros(spec.N_FILTERS, dtype=np.float32),
        "W_out": glorot(rng, 3 * spec.N_FILTERS, N_REL),
        "b_out": np.zeros(N_REL, dtype=np.float32),
    })
    return p


def pad_batch(
    token_ids: list[list[int]], heads: list[int], tails: list[int],
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Truncate to MAX_LEN, pad to the batch max. Returns
    (ids[B,T] int32, head[B], tail[B], length[B])."""
    L = spec.MAX_LEN
    lens = np.array([min(len(t), L) for t in token_ids], dtype=np.int32)
    T = max(int(lens.max()), spec.CONV_WINDOW) if len(lens) else 1
    ids = np.zeros((len(token_ids), T), dtype=np.int32)
    for i, t in enumerate(token_ids):
        ids[i, :lens[i]] = t[:lens[i]]
    h = np.minimum(np.asarray(heads, dtype=np.int32), lens - 1)
    t_ = np.minimum(np.asarray(tails, dtype=np.int32), lens - 1)
    return ids, h, t_, lens


def _rel_positions(T, heads, tails):
    """Relative-position buckets (B,T) of every slot to head and tail."""
    idx = np.arange(T, dtype=np.int32)[None, :]
    r1 = np.clip(idx - heads[:, None], -spec.POS_MAX, spec.POS_MAX) + spec.POS_MAX
    r2 = np.clip(idx - tails[:, None], -spec.POS_MAX, spec.POS_MAX) + spec.POS_MAX
    return r1, r2


def _embed(p, ids, heads, tails, lens):
    """Input features X (B,T,IN_DIM) with ALL channels zeroed beyond
    each row's length: otherwise the position embeddings of pad slots
    bleed into the last real token and scores depend on the batch's
    max length (i.e. on Arrow batch boundaries)."""
    r1, r2 = _rel_positions(ids.shape[1], heads, tails)
    X = np.concatenate(
        [p["E_word"][ids], p["E_p1"][r1], p["E_p2"][r2]], axis=-1)
    valid = (np.arange(ids.shape[1])[None, :] < lens[:, None])
    X = X * valid[:, :, None]
    return X, {"X": X, "r1": r1, "r2": r2, "ids": ids, "valid": valid}


def _embed_grads(p, cache, dX) -> dict[str, np.ndarray]:
    """Scatter dX (B,T,IN_DIM) back onto the three embedding tables."""
    D, P = spec.EMB_DIM, spec.POS_DIM
    dE_word = np.zeros_like(p["E_word"])
    np.add.at(dE_word, cache["ids"], dX[:, :, :D])
    dE_word[0] = 0.0
    dE_p1 = np.zeros_like(p["E_p1"])
    np.add.at(dE_p1, cache["r1"], dX[:, :, D:D + P])
    dE_p2 = np.zeros_like(p["E_p2"])
    np.add.at(dE_p2, cache["r2"], dX[:, :, D + P:])
    return {"E_word": dE_word, "E_p1": dE_p1, "E_p2": dE_p2}


def _im2col(X: np.ndarray) -> np.ndarray:
    """(B,T,D) → (B,T,W*D) windows with same-padding (pad (W-1)//2)."""
    B, T, D = X.shape
    w = spec.CONV_WINDOW
    pad = (w - 1) // 2
    Xp = np.pad(X, ((0, 0), (pad, pad), (0, 0)))
    cols = np.empty((B, T, w, D), dtype=X.dtype)
    for k in range(w):
        cols[:, :, k, :] = Xp[:, k:k + T, :]
    return cols.reshape(B, T, w * D)


def _segment_masks(T, heads, tails, lens):
    idx = np.arange(T, dtype=np.int32)[None, :]
    p1 = np.minimum(heads, tails)[:, None]
    p2 = np.maximum(heads, tails)[:, None]
    valid = idx < lens[:, None]
    m1 = (idx <= p1) & valid
    m2 = (idx > p1) & (idx <= p2) & valid
    m3 = (idx > p2) & valid
    return np.stack([m1, m2, m3], axis=1)  # (B,3,T)


def pool_head(H, masks, W_out, b_out, want_cache=False):
    """The head both encoders share (Zeng15 §3.3): piecewise max-pool
    of H (B,T,F) over the three head/tail segments → tanh → linear
    softmax, in float64 for numerically stable probabilities. Returns
    probs (B, N_REL); with want_cache also {"arg", "g", "masks"} for
    backward (the argmax is only taken then).

    One contiguous (B,T,F) temp per segment: a single (B,3,T,F) masked
    tensor upcast to float64 costs ~400MB/batch and dominated the
    scorer's runtime."""
    B, _, Fn = H.shape
    neg = np.float32(_NEG)
    pooled = np.empty((B, 3, Fn), dtype=H.dtype)
    arg = np.empty((B, 3, Fn), dtype=np.int64) if want_cache else None
    for s in range(3):
        off = np.where(masks[:, s, :], np.float32(0), neg)[:, :, None]
        tmp = H + off                                 # (B,T,F)
        if want_cache:
            a = tmp.argmax(axis=1)                    # (B,F)
            arg[:, s, :] = a
            pooled[:, s, :] = np.take_along_axis(
                tmp, a[:, None, :], axis=1)[:, 0, :]
        else:
            pooled[:, s, :] = tmp.max(axis=1)
    pooled = np.where(pooled <= neg / 2, pooled.dtype.type(0), pooled)
    g = np.tanh(pooled.reshape(B, -1))                # (B,3F)
    logits = (g @ W_out + b_out).astype(np.float64)
    z = logits - logits.max(axis=1, keepdims=True)
    ez = np.exp(z)
    probs = ez / ez.sum(axis=1, keepdims=True)
    if not want_cache:
        return probs
    return probs, {"arg": arg, "g": g, "masks": masks}


def forward(p, ids, heads, tails, lens, want_cache=False):
    """Returns softmax probabilities (B, N_REL); with want_cache, also
    the intermediates needed for backward."""
    X, cache = _embed(p, ids, heads, tails, lens)
    cols = _im2col(X)                                 # (B,T,COL)
    conv = cols @ p["W_conv"] + p["b_conv"]           # (B,T,F) float32
    masks = _segment_masks(ids.shape[1], heads, tails, lens)
    out = pool_head(conv, masks, p["W_out"], p["b_out"], want_cache)
    if not want_cache:
        return out
    probs, head = out
    return probs, {**cache, **head, "cols": cols}


def backward(p, cache, probs, labels):
    """Cross-entropy gradient for every parameter. Mean over batch."""
    B, T, _ = cache["X"].shape
    F_ = spec.N_FILTERS
    dlogits = probs.copy()
    dlogits[np.arange(B), labels] -= 1.0
    dlogits /= B
    g = cache["g"]
    grads = {
        "W_out": g.T @ dlogits,
        "b_out": dlogits.sum(axis=0),
    }
    dg = dlogits @ p["W_out"].T                        # (B,3F)
    dpooled = (dg * (1.0 - g * g)).reshape(B, 3, F_)
    # scatter back through the piecewise argmax (only where segment
    # was non-empty: pooled stayed > _NEG/2 there)
    nonempty = cache["masks"].any(axis=2)              # (B,3)
    dpooled = dpooled * nonempty[:, :, None]
    dconv = np.zeros((B, T, F_), dtype=np.float32)
    b_idx = np.arange(B)[:, None, None]
    s_idx = np.arange(3)[None, :, None]
    f_idx = np.arange(F_)[None, None, :]
    np.add.at(dconv, (b_idx + 0 * s_idx, cache["arg"], f_idx + 0 * s_idx),
              dpooled)
    grads["W_conv"] = cache["cols"].reshape(-1, COL_DIM).T @ dconv.reshape(-1, F_)
    grads["b_conv"] = dconv.sum(axis=(0, 1))
    dcols = (dconv @ p["W_conv"].T).reshape(B, T, spec.CONV_WINDOW, IN_DIM)
    # fold the window offsets back onto dX (inverse of _im2col)
    pad = (spec.CONV_WINDOW - 1) // 2
    dXp = np.zeros((B, T + 2 * pad, IN_DIM), dtype=np.float32)
    for k in range(spec.CONV_WINDOW):
        dXp[:, k:k + T, :] += dcols[:, :, k, :]
    dX = dXp[:, pad:pad + T, :] * cache["valid"][:, :, None]
    grads.update(_embed_grads(p, cache, dX))
    return grads


# ---------------------------------------------------------------------------
# Fast inference path: embedding×conv fused lookup tables.
#
# The training forward materializes X (B,T,60), its im2col (B,T,180)
# and a matmul — ~50k FLOPs and ~200 bytes of DRAM traffic per token.
# At inference the conv response of a window slot is a LINEAR function
# of (word id, rel-pos-to-head, rel-pos-to-tail), and the domains are
# tiny (|V|≈430 words, 61 position buckets), so E@W_conv can be
# precomputed per slot into L2-resident tables; the conv becomes nine
# gathers + adds per token. Measured ~3× single-core speedup and much
# better multi-core scaling (the matmul path was DRAM-bound).
# ---------------------------------------------------------------------------

_TABLE_CACHE: dict[int, dict] = {}


def _params_key(p: dict[str, np.ndarray]) -> int:
    """Content checksum over every weight array. id(p) is unsound as
    a cache key: once the previous params dict is GC'd, a new dict can
    land on the same id and would read the stale tables. ~100 µs per
    call — called once per predict batch."""
    import zlib

    k = 0
    for name in sorted(p):
        k = zlib.crc32(p[name].tobytes(), zlib.crc32(name.encode(), k))
    return k


def infer_tables(p: dict[str, np.ndarray]) -> dict:
    key = _params_key(p)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    w, D, P = spec.CONV_WINDOW, spec.EMB_DIM, spec.POS_DIM
    Wc = p["W_conv"].reshape(w, IN_DIM, spec.N_FILTERS)
    zD = np.zeros((1, D), dtype=np.float32)
    zP = np.zeros((1, P), dtype=np.float32)
    t = {
        # sentinel zero-row appended at index V / N_POS
        "TW": np.stack([np.vstack([p["E_word"], zD]) @ Wc[k, :D]
                        for k in range(w)]),
        "TP1": np.stack([np.vstack([p["E_p1"], zP]) @ Wc[k, D:D + P]
                         for k in range(w)]),
        "TP2": np.stack([np.vstack([p["E_p2"], zP]) @ Wc[k, D + P:]
                         for k in range(w)]),
        "b_conv": p["b_conv"], "W_out": p["W_out"], "b_out": p["b_out"],
    }
    _TABLE_CACHE.clear()
    _TABLE_CACHE[key] = t
    return t


def forward_infer(t: dict, ids, heads, tails, lens) -> np.ndarray:
    """Table-driven forward; numerically equal to forward() (same
    linear algebra, reassociated)."""
    B, T = ids.shape
    idx = np.arange(T, dtype=np.int32)[None, :]
    r1, r2 = _rel_positions(T, heads, tails)
    pad_w = (spec.CONV_WINDOW - 1) // 2
    # word sentinel is the <pad> id 0 (zero embedding ⇒ zero table row)
    ids_p = np.pad(ids, ((0, 0), (pad_w, pad_w)))
    r1_p = np.pad(r1, ((0, 0), (pad_w, pad_w)), constant_values=N_POS)
    r2_p = np.pad(r2, ((0, 0), (pad_w, pad_w)), constant_values=N_POS)
    conv = np.empty((B, T, spec.N_FILTERS), dtype=np.float32)
    conv[:] = t["b_conv"]
    for k in range(spec.CONV_WINDOW):
        s = idx + (k - pad_w)
        dead = (s >= lens[:, None]) | (s < 0)      # beyond row length
        iw = ids_p[:, k:k + T]
        i1 = r1_p[:, k:k + T]
        i2 = r2_p[:, k:k + T]
        if dead.any():
            iw = np.where(dead, 0, iw)
            i1 = np.where(dead, N_POS, i1)
            i2 = np.where(dead, N_POS, i2)
        conv += t["TW"][k][iw]
        conv += t["TP1"][k][i1]
        conv += t["TP2"][k][i2]
    masks = _segment_masks(T, heads, tails, lens)
    return pool_head(conv, masks, t["W_out"], t["b_out"])


def predict(p, token_ids, heads, tails, batch: int = 1024) -> np.ndarray:
    """Softmax probabilities (B, N_REL) for raw token-id lists.
    Table-driven, processed in sub-batches sized to keep the (B,T,F)
    buffers cache-friendly."""
    t = infer_tables(p)
    n = len(token_ids)
    probs = np.empty((n, N_REL), dtype=np.float64)
    for s in range(0, n, batch):
        sl = slice(s, min(s + batch, n))
        ids, h, tt, lens = pad_batch(token_ids[sl], heads[sl], tails[sl])
        probs[sl] = forward_infer(t, ids, h, tt, lens)
    return probs


def save_params(path: str, p: dict[str, np.ndarray]) -> None:
    np.savez_compressed(path, **p)


def load_default_params() -> dict[str, np.ndarray]:
    """Load the committed frozen weights. importlib.resources works
    when the package ships inside a spark-submit --py-files zip, where
    a plain filesystem path into the archive does not."""
    from importlib import resources

    data = resources.files("kg").joinpath("weights.npz").read_bytes()
    return params_from_bytes(data)


def params_to_bytes(p: dict[str, np.ndarray]) -> bytes:
    buf = io.BytesIO()
    np.savez_compressed(buf, **p)
    return buf.getvalue()


def params_from_bytes(b: bytes) -> dict[str, np.ndarray]:
    with np.load(io.BytesIO(b)) as z:
        return {k: z[k] for k in z.files}
