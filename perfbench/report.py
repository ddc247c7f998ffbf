"""Turn a child's raw result into the benchmark's one-line JSON.

End-to-end metrics come from the untraced (``--trace 0``) run;
per-layer metrics from the traced run (``--trace 1``). Their names and
units are read from BENCHMARK.json.
"""
from __future__ import annotations

import json
import os
import statistics

#: layers with Spark work; each also reports failed_tasks and
#: spill_bytes
DATA_LAYERS = ["io", "extract", "score", "link", "canon", "triples",
               "checkpoint", "corpus", "graph"]


def _metric_units(key: str) -> list[tuple[str, str]]:
    """(name, unit) of BENCHMARK.json's ``key`` metrics, in its order."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[key]]


END_TO_END = _metric_units("end_to_end")
PER_LAYER = _metric_units("per_layer")


def result_line(res: dict, trace: int) -> dict:
    ok = (not res["errors"] and res["failed"] == 0
          and bool(res["pass_s"]))
    if trace:
        values = per_layer(res)
        ok = ok and res.get("traced_pass_s") is not None
        units = PER_LAYER
    else:
        values = end_to_end(res)
        units = END_TO_END
    return {"correct": ok,
            "attempted": max(res["attempted"], 1),
            "failed": res["failed"] if res["attempted"] else 1,
            "metrics": {name: {"value": values.get(name, 0.0), "unit": u}
                        for name, u in units}}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res: dict) -> dict:
    wall = _median(res["pass_s"])
    return {"setup_s": res.get("setup_s", 0.0),
            "rows_per_s": res.get("rows", 0) / wall if wall else 0.0,
            "precision": _median(res["precision"]),
            "recall": _median(res["recall"])}


def per_layer(res: dict) -> dict:
    """Span walls (seconds) and event-log task metrics summed per
    layer, plus the workload's counts. A layer the workload does not
    call reads 0."""
    spans = [s for s in res.get("spans", []) if s["end"] is not None]
    events = res.get("events", {})
    wall: dict[str, float] = {}
    task: dict[str, dict] = {}
    for s in spans:
        wall[s["layer"]] = wall.get(s["layer"], 0.0) + s["end"] - s["start"]
        layer = s["layer"].split(".")[0]
        t = task.setdefault(layer, {})
        for k, v in events.get(s["group"], {}).items():
            if k != "stages":
                t[k] = t.get(k, 0) + v

    def w(name):
        return wall.get(name, 0.0)

    def tm(layer, key):
        return task.get(layer, {}).get(key, 0)

    c = res.get("counts", {})
    out = {
        "session.start_s": res.get("session_start_s", 0.0),
        "session.warm_s": (res.get("setup_s", 0.0)
                           - res.get("session_start_s", 0.0)),
        "io.read_s": w("io.read"),
        "io.write_s": w("io.write"),
        "io.bytes_written": tm("io", "bytes_written"),
        "extract.wall_s": w("extract"),
        # the fused scorer re-does extraction: its self time is the
        # fused call minus the standalone extraction
        "score.wall_s": max(w("score") - w("extract"), 0.0),
        "link.wall_s": w("link"),
        "canon.wall_s": w("canon"),
        "triples.wall_s": w("triples"),
        "checkpoint.wall_s": w("checkpoint"),
        "corpus.pack_wall_s": w("corpus.pack"),
        "graph.pagerank_wall_s": w("graph.pagerank"),
        "graph.lpa_wall_s": w("graph.lpa"),
        "checkpoint.bytes_written": tm("checkpoint", "bytes_written"),
        "triples.fetch_wait_s": tm("triples", "fetch_wait_s"),
        "graph.fetch_wait_s": tm("graph", "fetch_wait_s"),
    }
    for layer in ("extract", "score", "canon", "triples", "graph"):
        out[f"{layer}.task_s"] = tm(layer, "task_s")
    for layer in ("extract", "canon", "triples", "graph"):
        out[f"{layer}.shuffle_write_bytes"] = tm(
            layer, "shuffle_write_bytes")
    for layer in DATA_LAYERS:
        out[f"{layer}.failed_tasks"] = tm(layer, "failed_tasks")
        out[f"{layer}.spill_bytes"] = tm(layer, "spill_bytes")
    qc = _qc_stage_wall(spans, events)
    if qc is not None:
        out["corpus.qc_wall_s"] = qc
        out["corpus.exact_wall_s"] = max(w("corpus.qc_exact") - qc, 0.0)
    out.update(c)
    traced = res.get("traced_pass_s")
    if traced:
        top = sum(s["end"] - s["start"] for s in spans
                  if s["parent"] is None)
        out["trace.coverage"] = top / traced
        out["trace.overhead"] = _median(res["pass_s"]) / traced
    return out


def _qc_stage_wall(spans: list, events: dict) -> float | None:
    """corpus_pipeline runs QC and exact dedup in one eager job: QC is
    the stage that scans the documents, exact dedup the rest."""
    groups = [s["group"] for s in spans if s["layer"] == "corpus.qc_exact"]
    if not groups:
        return None
    return sum(st.get("wall_s", 0.0)
               for g in groups for st in events.get(g, {}).get("stages", [])
               if st.get("records_read", 0) > 0)


def write_spans(root: str, workload: str, seed: int, res: dict) -> str:
    """Write the traced run's spans and per-group task metrics to
    .perfbench/traces/ (kept after the run) and return the path."""
    d = os.path.join(root, ".perfbench", "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-s{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed,
                   "spans": res.get("spans", []),
                   "job_groups": res.get("events", {}),
                   "traced_pass_s": res.get("traced_pass_s", []),
                   "untraced_pass_s": res["pass_s"]}, f, indent=1)
    return path
