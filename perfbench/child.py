"""One workload in one fresh Spark session (run by perfbench/run.py).

Usage: python child.py --workload W --inputs DIR --work DIR
                       --seconds S --trace 0|1 --result FILE
                       --spawned-at EPOCH_SECONDS --deadline SECONDS

Set-up is everything from process spawn until the first timed pass
may begin: interpreter start, session start, the workload's own
set-up and its ``warmup`` untimed passes. The timed phase then runs a
fixed number of passes, ``timed_passes(seconds, w)``: it depends on
``--seconds`` and the workload only, never on how fast the host runs.
Every pass — warm-up, timed or traced — has its output checked.

With ``--trace 1`` the session writes Spark's event log, and after the
timed (untraced) passes the child runs one more pass layer by layer
(perfbench/tracing.py); the per-layer metrics come from it.

The result is one JSON file; the session is stopped in ``finally``.

The child dies with its parent (``PR_SET_PDEATHSIG``) and at its own
``--deadline``; either way its JVM sees the gateway's stdin close and
exits, and the pyspark.daemon workers exit with the JVM.
"""
from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import signal
import sys
import time
import traceback

#: stop timing after this many failed passes
MAX_FAILED = 2
#: fewest timed passes a run takes
MIN_PASSES = 1
PR_SET_PDEATHSIG = 1


def timed_passes(seconds: float, w) -> int:
    """Passes to time: ``seconds`` worth at the workload's nominal
    pass time on a 4-core host, at least MIN_PASSES."""
    return max(MIN_PASSES, math.floor(seconds / w.nominal_pass_s))


def main() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_PDEATHSIG, signal.SIGKILL, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_PDEATHSIG)")
    if os.getppid() == 1:  # the parent died before prctl took effect
        sys.exit(1)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--deadline", type=float, required=True)
    args = ap.parse_args()
    # SIGALRM's default action ends the process without cleanup
    signal.alarm(max(1, math.ceil(args.deadline)))

    from kg.session import get_spark

    import tracing
    from workloads import WORKLOADS

    res: dict = {"attempted": 0, "failed": 0, "errors": [],
                 "pass_s": [], "precision": [], "recall": []}
    conf = tracing.event_log_conf(args.work) if args.trace else {}
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      extra_conf=conf)
    try:
        res["session_start_s"] = time.time() - args.spawned_at
        w = WORKLOADS[args.workload](spark, args.inputs, args.work)
        res["rows"] = w.rows
        res["row_unit"] = w.row_unit
        w.setup()
        res["workload_setup_s"] = time.time() - args.spawned_at
        res["warmup_pass_s"] = []
        for _ in range(w.warmup):
            out = _checked_pass(w, w.run_pass, res)
            res["warmup_pass_s"].append(out and out[0])
        res["setup_s"] = time.time() - args.spawned_at
        for _ in range(timed_passes(args.seconds, w)):
            out = _checked_pass(w, w.run_pass, res)
            if out is not None:
                res["pass_s"].append(out[0])
                res["precision"].append(out[1])
                res["recall"].append(out[2])
            elif res["failed"] >= MAX_FAILED:
                break
        if args.trace:
            tracer = tracing.Tracer(spark)
            out = _checked_pass(w, lambda: w.traced_pass(tracer), res)
            tracer.close_all()
            res["spans"] = tracer.spans
            if out is not None:
                res["traced_pass_s"] = out[0]
                res["counts"] = w.trace_counts()
    except Exception:
        res["errors"].append(traceback.format_exc())
    finally:
        spark.stop()
    if args.trace and "spans" in res:
        res["events"] = tracing.job_group_metrics(args.work)
    with open(args.result, "w") as f:
        json.dump(res, f)


def _checked_pass(w, fn, res: dict):
    """Restore per-pass state (untimed), run and time one pass, check
    its output (untimed). Returns (seconds, precision, recall), or
    None when the pass raised or failed its check."""
    if hasattr(w, "restore"):
        w.restore()
    res["attempted"] += 1
    try:
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        p, r, err = w.check(out)
    except Exception:
        err = traceback.format_exc()
    if err is not None:
        res["failed"] += 1
        res["errors"].append(err)
        return None
    return dt, p, r


if __name__ == "__main__":
    sys.exit(main())
