"""Self-test of the benchmark: correctness checks, tiny runs of every
workload, and teardown after an interrupted or killed run.

    python -m pytest perfbench/tests -q

The tiny runs start Spark; the whole file takes a few minutes.
"""
from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import child  # noqa: E402
import inputs  # noqa: E402
import report  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int, seconds: int = 1, cwd: str = ROOT,
         **kw):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", str(seconds), "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=180, **kw)


def _spark_pids() -> set[int]:
    """JVMs and pyspark.daemon processes running on this host."""
    out = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ")
        except OSError:
            continue
        if b"org.apache.spark" in cmd or b"pyspark.daemon" in cmd:
            out.add(int(name))
    return out


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_listed_workloads_exist():
    assert WORKLOADS and set(WORKLOADS) <= set(workloads.WORKLOADS)


def test_noisy_check_rejects_recomputed_buckets():
    w = object.__new__(workloads.KgNoisyResume)
    w.gold = {(f"s{i}", "uses", f"o{i}") for i in range(100)}
    entry = {"output_rows": 5, "checksum": "7", "committed_at": "t0"}
    w.half_manifest = {"buckets": {"0": entry}}
    resumed = {"buckets": {"0": entry, "1": dict(entry, checksum="8")}}
    assert w.judge(set(w.gold), resumed)[2] is None
    recomputed = {"buckets": {"0": dict(entry, committed_at="t1"),
                              "1": entry}}
    assert w.judge(set(w.gold), recomputed)[2] is not None
    assert w.judge(set(w.gold), {"buckets": {"0": entry}})[2] is not None
    # below the precision/recall floor
    assert w.judge(set(list(w.gold)[:90]), resumed)[2] is not None


def test_corpus_check_rejects_a_changed_survivor_set():
    w = object.__new__(workloads.CorpusDedup)
    w.gold = {0, 3, 7}
    assert w.judge({0, 3, 7})[2] is None
    assert w.judge({0, 3})[2] is not None
    assert w.judge({0, 3, 7, 8})[2] is not None


def test_graph_check_rejects_a_wrong_score_or_label():
    e = np.array([[0, 1], [0, 2], [1, 2], [2, 0], [3, 2]])
    w = object.__new__(workloads.GraphHub)
    w.gold_pr = inputs.numpy_pagerank(4, e, 3)
    w.gold_label = inputs.numpy_lpa(4, e, 3)
    pr = pd.DataFrame({"node": np.arange(4), "pr": w.gold_pr})
    lab = pd.DataFrame({"node": np.arange(4), "label": w.gold_label})
    assert w.check((pr, lab))[2] is None
    bad_pr = pr.assign(pr=pr["pr"] * np.array([1, 1, 1 + 1e-6, 1]))
    assert w.check((bad_pr, lab))[2] is not None
    bad_lab = lab.assign(label=lab["label"] + np.array([0, 0, 0, 1]))
    assert w.check((pr, bad_lab))[2] is not None
    assert w.check((pr.iloc[:3], lab))[2] is not None


def test_inputs_are_deterministic_per_seed():
    d = os.path.join(ROOT, ".perfbench", "selftest-inputs")
    shutil.rmtree(d, ignore_errors=True)
    try:
        _, ha = inputs.ensure(f"{d}/a", "corpus_dedup", "tiny", 5)
        _, hb = inputs.ensure(f"{d}/b", "corpus_dedup", "tiny", 5)
        _, hc = inputs.ensure(f"{d}/c", "corpus_dedup", "tiny", 6)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert ha == hb != hc


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_end_to_end_metric(workload):
    before = _spark_pids()
    p = _run(workload, trace=0)
    assert p.returncode == 0, p.stderr[-3000:]
    res = _result(p.stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    cls = workloads.WORKLOADS[workload]
    assert res["attempted"] == cls.warmup + child.timed_passes(1, cls)
    assert [(k, v["unit"]) for k, v in res["metrics"].items()] == \
        report.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert not _spark_pids() - before


def test_traced_run_prints_every_per_layer_metric():
    before = _spark_pids()
    p = _run("graph_hub", trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    res = _result(p.stdout)
    assert res["correct"] is True
    m = res["metrics"]
    assert [(k, v["unit"]) for k, v in m.items()] == report.PER_LAYER
    assert m["graph.pagerank_wall_s"]["value"] > 0
    assert m["graph.task_s"]["value"] > 0
    assert 0.5 < m["trace.coverage"]["value"] <= 1.0
    assert not _spark_pids() - before
    trace = os.path.join(ROOT, ".perfbench", "traces", "graph_hub-s3.json")
    with open(trace) as f:
        spans = json.load(f)["spans"]
    assert {s["layer"] for s in spans} == {"io.read", "graph.pagerank",
                                           "graph.lpa"}


def _start_and_wait_for_spark(before: set[int]) -> subprocess.Popen:
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", "graph_hub",
         "--seed", "3", "--seconds", "60", "--trace", "0", "--size", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    deadline = time.monotonic() + 90
    while not _spark_pids() - before:
        if time.monotonic() > deadline:
            p.kill()
            pytest.fail("Spark never started")
        time.sleep(0.5)
    time.sleep(5)  # let the JVM start its Python workers
    return p


def _wait_until_gone(before: set[int], seconds: float) -> set[int]:
    deadline = time.monotonic() + seconds
    while _spark_pids() - before and time.monotonic() < deadline:
        time.sleep(0.5)
    return _spark_pids() - before


def test_interrupted_run_leaves_no_process():
    before = _spark_pids()
    p = _start_and_wait_for_spark(before)
    try:
        p.send_signal(signal.SIGTERM)
        out, _ = p.communicate(timeout=60)
    finally:
        if p.poll() is None:
            p.kill()
    assert p.returncode != 0
    assert '"metrics"' not in out
    assert not _spark_pids() - before


def test_killed_run_leaves_no_process():
    """SIGKILL gives run.py no chance to clean up: the child must die
    with it, and its JVM and workers with the child."""
    before = _spark_pids()
    p = _start_and_wait_for_spark(before)
    p.kill()
    p.communicate(timeout=60)
    assert not _wait_until_gone(before, 30)


def test_fails_without_the_program():
    d = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run("graph_hub", trace=0, cwd=d)
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(d, ignore_errors=True)
