"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload kg_noisy_resume --seed 1 \
        --seconds 5 --trace 0

Run from the root of a checkout of the repository. The inputs are
generated from the seed once and cached (perfbench/inputs.py). The
workload then runs in a child process (perfbench/child.py) with a
fresh Spark session, in its own session and process group, with a
private SPARK_LOCAL_DIRS and temp directory under ``.perfbench/runs``
that is deleted when the run ends. On a timeout or a signal the whole
process session — the child, its JVM and the pyspark.daemon workers
(which move to a process group of their own) — is killed. A run
fails if any of those processes survives it. If this process is
killed outright, the child dies with it (see perfbench/child.py) and
its JVM and workers follow.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (perfbench/README.md lists both).
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the whole run, generation included, must end well inside 180 s
RUN_DEADLINE_S = 170
#: the child's own deadline ends this much before the run's, leaving
#: time to collect what it left behind
CHILD_MARGIN_S = 25
#: after the child exits, how long its JVM and Python workers may take
#: to notice and exit before they count as left running
DRAIN_S = 20


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench",
                    help="input size: bench (measured) or tiny (self-test)")
    args = ap.parse_args()
    started = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "kg")):
        print(f"no kg package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    import inputs
    import report

    inputs_dir, digest = inputs.ensure(ROOT, args.workload, args.size,
                                       args.seed)
    noise = host_noise()
    run_dir = os.path.join(ROOT, ".perfbench", "runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "child.log")
    child = None
    _on_signals(_raise_interrupt)
    try:
        for sub in ("local", "tmp", "work"):
            os.makedirs(os.path.join(run_dir, sub))
        cmd = [sys.executable, os.path.join(HERE, "child.py"),
               "--workload", args.workload, "--inputs", inputs_dir,
               "--work", os.path.join(run_dir, "work"),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--result", result_path, "--spawned-at", str(time.time()),
               "--deadline", str(RUN_DEADLINE_S - CHILD_MARGIN_S
                                 - (time.monotonic() - started))]
        with open(log_path, "w") as log:
            child = subprocess.Popen(cmd, env=child_env(run_dir),
                                     stdin=subprocess.DEVNULL, stdout=log,
                                     stderr=subprocess.STDOUT,
                                     start_new_session=True, cwd=ROOT)
            timeout = RUN_DEADLINE_S - (time.monotonic() - started)
            try:
                child.wait(timeout=max(timeout, 1))
            except subprocess.TimeoutExpired:
                print(f"child timed out after {timeout:.0f}s",
                      file=sys.stderr)
                return 1
        left = drain(child.pid)
        if left:
            print(f"processes left running after the child exited: {left}",
                  file=sys.stderr)
            return 1
        if child.returncode != 0 or not os.path.exists(result_path):
            print(f"child exited with {child.returncode}", file=sys.stderr)
            _tail(log_path)
            return 1
        with open(result_path) as f:
            res = json.load(f)
        for err in res["errors"]:
            print(err, file=sys.stderr)
        if args.trace:
            print("spans: " + report.write_spans(
                ROOT, args.workload, args.seed, res), file=sys.stderr)
        out = report.result_line(res, args.trace)
        print(json.dumps({
            "inputs_sha256": digest, **noise,
            **{k: res.get(k) for k in (
                "rows", "row_unit", "session_start_s", "workload_setup_s",
                "warmup_pass_s", "setup_s", "pass_s", "traced_pass_s")}}))
        print(json.dumps(out))
        return 0
    except KeyboardInterrupt:
        print("interrupted", file=sys.stderr)
        return 1
    finally:
        _on_signals(signal.SIG_IGN)
        if child is not None:
            kill_session(child.pid)
            child.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def child_env(run_dir: str) -> dict:
    """The child's environment: local[nproc] with nproc shuffle
    partitions (kg.session's default for SPARK_GRAFT_CPUS), one BLAS
    thread, a driver heap sized to the host, and every scratch path
    inside the run directory."""
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_GRAFT_CPUS": str(nproc()),
        "KG_DRIVER_MEMORY": driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS",
                "VECLIB_MAXIMUM_THREADS"):
        env[var] = "1"
    return env


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, 1-4 GiB: kg.session's 32g
    default does not fit a small host (local mode runs every task in
    the driver JVM, and the Python workers need the rest)."""
    with open("/proc/meminfo") as f:
        kib = int(next(line for line in f
                       if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kib // 4 // 2**20))}g"


def host_noise() -> dict:
    """/proc/loadavg and a fixed single-threaded calibration kernel
    (the same 600x600 matmul chain bench.py times), sampled before the
    child starts."""
    import numpy as np

    with open("/proc/loadavg") as f:
        loadavg = [float(x) for x in f.read().split()[:3]]
    a = np.full((600, 600), 1.0 / 600)
    t0 = time.perf_counter()
    for _ in range(30):
        a = a @ a
    return {"loadavg": loadavg,
            "calibration_sec": time.perf_counter() - t0}


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (the child's JVM and the
    pyspark.daemon keep the session even after changing group)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields: state ppid pgrp session ...; zombies are already dead
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def drain(sid: int) -> list[int]:
    """Wait up to DRAIN_S for the session to empty; return survivors."""
    deadline = time.monotonic() + DRAIN_S
    while True:
        left = session_pids(sid)
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)


def kill_session(sid: int) -> None:
    """SIGKILL every process of the session."""
    for _ in range(50):
        left = session_pids(sid)
        if not left:
            break
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _raise_interrupt(signum, frame):
    raise KeyboardInterrupt


def _on_signals(handler) -> None:
    for s in (signal.SIGINT, signal.SIGTERM, signal.SIGHUP):
        signal.signal(s, handler)


def _tail(path: str, n: int = 40) -> None:
    with open(path, errors="replace") as f:
        lines = f.readlines()
    sys.stderr.writelines(lines[-n:])


if __name__ == "__main__":
    sys.exit(main())
