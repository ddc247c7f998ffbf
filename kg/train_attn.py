"""Trains the self-attention ("BERT-style") encoder with kg/train.py's
loop (SURVEY.md §2 B4 alternative) and writes the pinned
``kg/weights_attn.npz``.

Usage: ``python -m kg.train_attn``.
"""

from __future__ import annotations

import os

from kg import model, model_attn, train

WEIGHTS_PATH = os.path.join(os.path.dirname(__file__), "weights_attn.npz")


def main() -> None:
    p, acc = train.train(model_attn, epochs=10)
    model.save_params(WEIGHTS_PATH, p)
    print(f"saved {WEIGHTS_PATH} (val_acc={acc:.4f})")


if __name__ == "__main__":
    main()
