"""Order-balanced A/B of two commits on the perfbench workloads.

    python tools/ab.py A B [--workloads kg_noisy_resume,corpus_dedup]
        [--seeds 1,2,3,4,5] [--scratch DIR]

Exports the committed files of each commit (``git archive``) into a
scratch directory and runs ``perfbench/run.py --trace 0`` in each,
``SECONDS`` timed seconds per run, one run at a time, in ABBA blocks:
for every seed, A then B, then B then A. Both commits thus run first
and second equally often, so a bias towards whichever run comes
second cancels in the median and shows up as the order effect
instead. When both commits hold the same
``perfbench/`` tree, the exports share one input cache, so each seed's
inputs are generated once.

Prints one JSON line per workload: for ``rows_per_s`` and ``setup_s``
the quartiles of A's and of B's runs, the median paired log-ratio
ln(B/A) with a bootstrap 95% interval of that median, the number of
pairs in which B is better, and the order
effect: half the difference between the mean log-ratio of the AB
pairs and that of the BA pairs (> 0 when the run that comes second is
faster). ``quality_equal`` is whether precision and recall agree
between A and B on every seed. Progress goes to stderr.
"""
from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: timed seconds per perfbench run, the run length BENCHMARK.json gives
SECONDS = 5

#: end-to-end metrics compared, with the direction that is better
METRICS = {"rows_per_s": "higher", "setup_s": "lower"}


def git(*args: str) -> str:
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def export(commit: str, dest: str) -> None:
    """The committed files of ``commit`` under ``dest``."""
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", commit],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout,
                   check=True)
    if archive.wait() != 0:
        raise RuntimeError(f"git archive {commit} failed")


def run_once(tree: str, workload: str, seed: int) -> dict | None:
    """One perfbench run in ``tree``: {metric: value}, or None if the
    run failed or judged its output incorrect."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(proc.stderr[-2000:], file=sys.stderr)
        return None
    res = json.loads(lines[-1])
    if not res.get("correct") or res.get("failed"):
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}


def median_ci(x: list[float], n_boot: int = 2000) -> list[float]:
    """Bootstrap 95% interval of the median of ``x``."""
    rng = np.random.default_rng(0)
    boot = np.median(rng.choice(x, size=(n_boot, len(x))), axis=1)
    return [float(np.percentile(boot, 2.5)),
            float(np.percentile(boot, 97.5))]


def quartiles(x: list[float]) -> list[float]:
    """[first quartile, median, third quartile] of ``x``."""
    return [float(q) for q in np.percentile(x, [25, 50, 75])]


def summarize(workload: str, pairs: list[dict]) -> dict:
    """``pairs``: {"order": "AB"|"BA", "a": metrics, "b": metrics}."""
    out: dict = {"workload": workload, "pairs": len(pairs)}
    for m, better in METRICS.items():
        lr = [math.log(p["b"][m] / p["a"][m]) for p in pairs]
        ab = [r for r, p in zip(lr, pairs) if p["order"] == "AB"]
        ba = [r for r, p in zip(lr, pairs) if p["order"] == "BA"]
        sign = 1 if better == "higher" else -1
        out[m] = {
            **{k: quartiles([p[k][m] for p in pairs]) for k in "ab"},
            "median_log_ratio": float(np.median(lr)),
            "ci95": median_ci(lr),
            "b_better": sum(sign * r > 0 for r in lr),
            # in an AB pair B runs second, in a BA pair A does
            "order_effect": (float(np.mean(ab) - np.mean(ba)) / 2
                             if ab and ba else None),
        }
    out["quality_equal"] = all(
        p["a"].get(q) == p["b"].get(q) for p in pairs
        for q in ("precision", "recall"))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workloads", default="kg_noisy_resume")
    ap.add_argument("--seeds", default="1,2,3,4,5")
    ap.add_argument("--scratch", default=None,
                    help="directory for the exports, kept and reused "
                         "(default: a temporary directory, deleted "
                         "when done)")
    args = ap.parse_args()
    commits = {"a": git("rev-parse", args.a), "b": git("rev-parse", args.b)}
    scratch = args.scratch or tempfile.mkdtemp(prefix="kg-ab-")
    trees = {k: os.path.join(scratch, c[:12]) for k, c in commits.items()}
    try:
        for k, c in commits.items():
            if not os.path.isdir(trees[k]):
                export(c, trees[k])
        if (trees["a"] != trees["b"]
                and git("rev-parse", f"{commits['a']}:perfbench")
                == git("rev-parse", f"{commits['b']}:perfbench")):
            cache = os.path.join(scratch, "cache")
            os.makedirs(cache, exist_ok=True)
            for tree in trees.values():
                link = os.path.join(tree, ".perfbench", "cache")
                if not os.path.lexists(link):
                    os.makedirs(os.path.dirname(link), exist_ok=True)
                    os.symlink(cache, link)
        for workload in args.workloads.split(","):
            pairs, failed = [], 0
            for seed in map(int, args.seeds.split(",")):
                for order in ("AB", "BA"):
                    got = {}
                    for k in order.lower():
                        got[k] = run_once(trees[k], workload, seed)
                        print(f"{workload} seed {seed} {order} {k}: "
                              f"{got[k]}", file=sys.stderr)
                    if got["a"] and got["b"]:
                        pairs.append({"order": order, **got})
                    else:
                        failed += 1
            line = summarize(workload, pairs) if pairs else {
                "workload": workload, "pairs": 0}
            line.update(failed_pairs=failed, a=commits["a"],
                        b=commits["b"])
            print(json.dumps(line), flush=True)
    finally:
        if not args.scratch:
            shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
