"""tools/ab.py's summary of paired runs: the median paired log-ratio,
the pairs B wins and the order effect of ABBA blocks."""

from __future__ import annotations

import math

from tools import ab


def _pairs(rows_a, rows_b, orders):
    return [{"order": o,
             "a": {"rows_per_s": a, "setup_s": 10.0, "precision": 1.0,
                   "recall": 1.0},
             "b": {"rows_per_s": b, "setup_s": 10.0, "precision": 1.0,
                   "recall": 1.0}}
            for a, b, o in zip(rows_a, rows_b, orders)]


def test_order_bias_cancels_and_shows_as_order_effect():
    """B is 2× faster; the run that comes second gets another 10%.
    The median ratio over AB and BA pairs keeps the code's 2×, and
    the order effect reads ln(1.1)."""
    pairs = _pairs([100, 110, 100, 110], [220, 200, 220, 200],
                   ["AB", "BA", "AB", "BA"])
    out = ab.summarize("w", pairs)["rows_per_s"]
    assert math.isclose(out["median_log_ratio"], math.log(2), rel_tol=0.05)
    assert math.isclose(out["order_effect"], math.log(1.1), rel_tol=1e-9)
    assert out["b_better"] == 4
    assert out["a"] == [100.0, 105.0, 110.0]
    lo, hi = out["ci95"]
    assert lo <= out["median_log_ratio"] <= hi


def test_lower_is_better_and_quality_mismatch():
    pairs = _pairs([100, 100], [100, 100], ["AB", "BA"])
    pairs[0]["b"]["setup_s"] = 8.0
    pairs[1]["b"]["recall"] = 0.5
    out = ab.summarize("w", pairs)
    assert out["setup_s"]["b_better"] == 1
    assert out["rows_per_s"]["b_better"] == 0
    assert out["quality_equal"] is False
