"""The benchmark workloads: one timed pass each, plus its check.

A workload object is built inside the child process once the Spark
session exists. ``setup`` does the untimed-per-pass preparation that
belongs to set-up (weights broadcast, the interrupted checkpoint run);
``run_pass`` is one steady-state pass through the program's public
entry points with every output forced; ``check`` compares the pass
output with the gold fixed at input generation. ``traced_pass`` runs
the same work layer by layer for the per-layer metrics (see
perfbench/tracing.py).
"""
from __future__ import annotations

import json
import os
import shutil

import numpy as np

#: kg_noisy_resume: cross-turn window, and bucket count and commit groups
#: of the checkpointed run. Two buckets keep a resume at one commit
#: batch: every batch adds a fixed ~2 s of Spark jobs on a small host.
#: GROUPS is run_checkpointed's default, which pipeline.run uses.
CROSS_TURN_K = 1
N_BUCKETS = 2
GROUPS = 4
#: commit groups the interrupted run finishes before it is killed
GROUPS_BEFORE_KILL = 1
#: P/R floor of the noisy workload (BASELINE.json correctness floor)
NOISY_PR_FLOOR = 0.95
#: relative tolerance of PageRank against the numpy reference
PR_RTOL = 1e-9


class Interrupted(RuntimeError):
    """Raised inside the checkpointed stage to emulate a killed run."""


def _rows(inputs: str) -> int:
    """Row count of the workload's main input table, from generation."""
    with open(os.path.join(inputs, "meta.json")) as f:
        return json.load(f)["rows"]


def _pr(got: set, gold: set) -> tuple[float, float]:
    hit = len(got & gold)
    return (hit / len(got) if got else 0.0,
            hit / len(gold) if gold else 1.0)


def _force(df) -> int:
    """Run ``df`` to completion without collecting it; its row count."""
    from pyspark.sql import Observation, functions as F

    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("rows"))
     .write.format("noop").mode("overwrite").save())
    return obs.get["rows"]


def _canon_counts(norms, feature: str = "char", tau=None,
                  block_cap=None, shingle_w=None) -> dict:
    """Blocking counts of canon's near-dup stage over ``norms`` (one
    ``norm`` column), re-derived with the same public calls and
    parameters the program uses: nodes, LSH candidate pairs, the
    verified share and the over-cap buckets dropped."""
    from pyspark.sql import Observation

    from kg import spec
    from kg.stages import canon

    nodes = norms.select("norm").distinct().localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return {"canon.nodes": 0, "canon.candidate_pairs": 0,
                "canon.verify_ratio": 0.0, "canon.dropped_buckets": 0}
    feats = canon.node_features(
        nodes, feature=feature,
        shingle_w=shingle_w or spec.SHINGLE_W).localCheckpoint(eager=True)
    obs = Observation()
    pairs = canon.candidate_pairs(
        canon.lsh_bands(canon.minhash_signatures(feats)),
        block_cap=block_cap or spec.BLOCK_CAP,
        obs=obs).localCheckpoint(eager=True)
    n_pairs = pairs.count()
    verified = canon.verify_pairs(pairs, feats,
                                  tau=tau or spec.TAU_DUP).count()
    try:
        dropped = obs.get.get("dropped_buckets") or 0
    except Exception:
        # the observed subtree is pruned when no bucket has 2+ nodes
        dropped = 0
    return {"canon.nodes": n, "canon.candidate_pairs": n_pairs,
            "canon.verify_ratio": verified / n_pairs if n_pairs else 0.0,
            "canon.dropped_buckets": dropped}


class KgNoisyResume:
    """kg/main.py's path over typo'd person names and cross-turn
    relations: pipeline.run resuming a half-committed checkpoint, then
    triples and adjacency written as main.py writes them. Every pass
    starts from the same checkpoint, restored untimed. Rows are turns."""

    row_unit = "turns"
    #: untimed passes before timing: the first full pass after set-up
    #: runs about 2x slower (canon and triples run cold)
    warmup = 1
    #: steady pass time on a 4-core host, which sizes the timed passes
    nominal_pass_s = 8.5

    def __init__(self, spark, inputs: str, work: str):
        self.spark = spark
        self.src = os.path.join(inputs, "transcripts")
        self.work = work
        with open(os.path.join(inputs, "gold.json")) as f:
            self.gold = {tuple(t) for t in json.load(f)}
        self.rows = _rows(inputs)
        # explicit snapshot id: the default derives it from input file
        # paths, which differ between checkouts
        with open(os.path.join(inputs, "meta.json")) as f:
            self.snapshot = json.load(f)["sha256"][:16]
        self.ckpt = os.path.join(work, "ckpt")
        self.half = os.path.join(work, "ckpt_half")

    def setup(self) -> None:
        """Broadcast weights, then run the checkpointed extraction and
        kill it after GROUPS_BEFORE_KILL of GROUPS commit groups; the
        half-committed checkpoint is kept as the state every pass
        resumes from."""
        from kg import io, pipeline
        from kg.stages import checkpoint, score

        self.weights = score.broadcast_weights(self.spark)
        calls = []

        def killed_after(df):
            if len(calls) == GROUPS_BEFORE_KILL:
                raise Interrupted("emulated kill")
            calls.append(1)
            return pipeline.extract_and_score(
                self.spark, df, self.weights, cross_turn_k=CROSS_TURN_K)

        shutil.rmtree(self.half, ignore_errors=True)
        try:
            checkpoint.run_checkpointed(
                self.spark, self.half, "scored", self.snapshot,
                io.read_table(self.spark, self.src), killed_after,
                bucket_key="conv_id", n_buckets=N_BUCKETS, groups=GROUPS)
        except Interrupted:
            pass
        else:
            raise RuntimeError("the interrupted checkpoint run finished")
        self.half_manifest = io.read_json(self._stage(self.half)
                                          .manifest_path)
        done = len(self.half_manifest["buckets"])
        if not 0 < done < N_BUCKETS:
            raise RuntimeError(f"interrupted run committed {done} of "
                               f"{N_BUCKETS} buckets")

    def _stage(self, root: str):
        from kg.stages import checkpoint

        return checkpoint.StageCheckpoint(root, "scored", self.snapshot,
                                          N_BUCKETS)

    def restore(self) -> None:
        """Untimed: put the half-committed checkpoint back."""
        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.copytree(self.half, self.ckpt)

    def run_pass(self):
        from kg import io, pipeline

        t0 = io.read_table(self.spark, self.src)
        out = pipeline.run(self.spark, t0, weights_bc=self.weights,
                           cross_turn_k=CROSS_TURN_K,
                           checkpoint_root=self.ckpt, n_buckets=N_BUCKETS,
                           snapshot_id=self.snapshot)
        self._write(out)
        return os.path.join(self.work, "out")

    def _write(self, out) -> None:
        from kg import io

        out_dir = os.path.join(self.work, "out")
        io.write_table(out["triples"], os.path.join(out_dir, "triples"))
        io.write_table(
            out["adjacency"].repartitionByRange(
                max(self.spark.sparkContext.defaultParallelism, 4),
                "subj"),
            os.path.join(out_dir, "adjacency"))

    def traced_pass(self, tracer) -> str:
        """run_pass's work with each layer called on its own and its
        output forced, under a span per layer. The composition follows
        pipeline.run: fused extract+score of the uncommitted buckets
        (materialized), the checkpoint commit, dictionary linking,
        canonicalization of the miss tail, triples, then the writes."""
        from pyspark.sql import functions as F

        from kg import io, pipeline
        from kg.stages import checkpoint, extract, link, triples

        sp, k = self.spark, CROSS_TURN_K
        with tracer.span("io.read"):
            t0 = io.read_table(sp, self.src).localCheckpoint(eager=True)
        # extraction is timed on the same turns the fused scorer
        # re-extracts: those of the buckets not yet committed
        done = self._stage(self.ckpt).committed_buckets()
        bucket = checkpoint.bucket_of("conv_id", N_BUCKETS)
        todo = t0.where(~bucket.isin(sorted(done)) if done
                        else F.lit(True))
        tr = {"t0": t0, "todo": todo, "done": done}
        with tracer.span("extract"):
            tr["mentions"] = _force(extract.detect_mentions(todo))
            tr["cross"] = _force(extract.cross_turn_instances(todo, k=k))
        with tracer.span("score"):
            tr["fresh"] = pipeline.extract_and_score(
                sp, todo, self.weights,
                cross_turn_k=k).localCheckpoint(eager=True)

        # checkpoint.run_checkpointed as pipeline.run calls it, with the
        # scoring already done: each commit batch takes its buckets'
        # rows of ``fresh``, so the span holds the checkpoint layer's
        # own work (bucketed writes, manifest commits, read-back)
        def precomputed(part):
            ids = [r[0] for r in part.select(bucket).distinct().collect()]
            return tr["fresh"].where(bucket.isin(ids))

        with tracer.span("checkpoint"):
            tr["scored"] = checkpoint.run_checkpointed(
                sp, self.ckpt, "scored", self.snapshot, t0, precomputed,
                bucket_key="conv_id", n_buckets=N_BUCKETS, groups=GROUPS)
        with tracer.span("link"):
            dict_df = link.dictionary_df(sp).localCheckpoint(eager=True)
        tr["dict"] = dict_df
        with tracer.span("canon"):
            resolved = pipeline.resolve_entities(
                tr["scored"], dict_df).localCheckpoint(eager=True)
        tr["resolved"] = resolved
        with tracer.span("triples"):
            t8 = triples.dedup_aggregate(
                triples.emit_triples(resolved)).localCheckpoint(eager=True)
            t9 = triples.build_adjacency(t8).localCheckpoint(eager=True)
        tr["t8"] = t8
        with tracer.span("io.write"):
            self._write({"triples": t8, "adjacency": t9})
        self._traced = tr
        return os.path.join(self.work, "out")

    def trace_counts(self) -> dict:
        """Untimed counts at the layer boundaries of the traced pass."""
        from pyspark.sql import functions as F

        from kg.stages import extract, triples

        tr = self._traced
        inst = tr["fresh"].count()
        # candidate pairs: intra-turn instances plus the cross-turn
        # pairs the extract span already counted
        cand = extract.extract_instances(tr["todo"]).count() + tr["cross"]
        link_row = tr["scored"].agg(
            F.count(F.lit(1)).alias("n"),
            F.count("head_entity").alias("h"),
            F.count("tail_entity").alias("t")).first()
        # the dictionary-miss tail plus the dictionary: the node set
        # pipeline.resolve_entities hands to canon
        missed = (tr["scored"].select(F.explode(F.array(
            F.when(F.col("head_entity").isNull(), F.col("head_norm")),
            F.when(F.col("tail_entity").isNull(), F.col("tail_norm"))))
            .alias("norm")).where(F.col("norm").isNotNull()))
        norms = (missed.union(tr["dict"].select("norm"))
                 if missed.limit(1).count() else missed)
        return {
            "io.rows_read": tr["t0"].count(),
            "extract.mentions_out": tr["mentions"],
            "extract.cross_pairs_out": tr["cross"],
            "score.instances_out": inst,
            "score.kept_ratio": inst / cand if cand else 0.0,
            "link.hit_ratio": ((link_row["h"] + link_row["t"])
                               / (2 * link_row["n"]) if link_row["n"]
                               else 0.0),
            "triples.occurrences_in": triples.emit_triples(
                tr["resolved"]).count(),
            "triples.triples_out": tr["t8"].count(),
            "checkpoint.reuse_ratio": len(tr["done"]) / N_BUCKETS,
            **_canon_counts(norms),
        }

    def triples_of(self, out_dir: str) -> set:
        rows = (self.spark.read.parquet(os.path.join(out_dir, "triples"))
                .select("subj", "pred", "obj").collect())
        return {(r["subj"], r["pred"], r["obj"]) for r in rows}

    def check(self, out_dir: str) -> tuple[float, float, str | None]:
        from kg import io

        return self.judge(self.triples_of(out_dir), io.read_json(
            self._stage(self.ckpt).manifest_path))

    def judge(self, got: set, after: dict) -> tuple[float, float, str | None]:
        """``after``: the manifest the pass left. A resumed pass commits
        every bucket and leaves the entries of the buckets committed
        before the kill untouched."""
        p, r = _pr(got, self.gold)
        kept = {b: v for b, v in self.half_manifest["buckets"].items()
                if after["buckets"].get(b) == v}
        if (len(after["buckets"]) != N_BUCKETS
                or len(kept) != len(self.half_manifest["buckets"])):
            return p, r, (f"resume committed {len(after['buckets'])} of "
                          f"{N_BUCKETS} buckets, reusing {len(kept)} of "
                          f"{len(self.half_manifest['buckets'])}")
        if p < NOISY_PR_FLOOR or r < NOISY_PR_FLOOR:
            return p, r, f"precision {p} / recall {r} < {NOISY_PR_FLOOR}"
        return p, r, None


class CorpusDedup:
    """corpus_main's path: corpus.corpus_pipeline over the documents,
    written range-partitioned. Rows are documents."""

    row_unit = "docs"
    #: the pass after the first still runs 1.1-1.6x slower than the one
    #: after it, by an amount that varies from run to run
    warmup = 2
    #: steady pass time on a 4-core host, which sizes the timed passes
    nominal_pass_s = 4.0

    def __init__(self, spark, inputs: str, work: str):
        self.spark = spark
        self.src = os.path.join(inputs, "documents")
        self.work = work
        with open(os.path.join(inputs, "gold.json")) as f:
            self.gold = set(json.load(f))
        self.rows = _rows(inputs)

    def setup(self) -> None:
        pass

    def run_pass(self):
        from kg import io
        from kg.stages import corpus

        out_dir = os.path.join(self.work, "corpus")
        docs = io.read_table(self.spark, self.src).select("doc_id", "text")
        out = corpus.corpus_pipeline(docs)
        io.write_table(
            out.repartitionByRange(
                max(self.spark.sparkContext.defaultParallelism, 4),
                "shard", "pack_id"),
            out_dir)
        return out_dir

    def check(self, out_dir: str) -> tuple[float, float, str | None]:
        return self.judge({r["doc_id"] for r in self.spark.read.parquet(
            out_dir).select("doc_id").collect()})

    def judge(self, got: set) -> tuple[float, float, str | None]:
        p, r = _pr(got, self.gold)
        if got != self.gold:
            return p, r, (f"survivors differ from gold: "
                          f"{len(got - self.gold)} extra, "
                          f"{len(self.gold - got)} missing")
        return p, r, None

    def traced_pass(self, tracer) -> str:
        """corpus_pipeline with spans switched at its calls into canon:
        QC + exact dedup run until it calls canon.near_duplicate_edges,
        canon runs until components_auto returns, and the keep-join +
        packing run when the output is forced. The two canon functions
        are wrapped for the duration of the call only."""
        from kg import io
        from kg.stages import canon, corpus

        with tracer.span("io.read"):
            docs = (io.read_table(self.spark, self.src)
                    .select("doc_id", "text").localCheckpoint(eager=True))
        tr = {"docs": docs}
        near, comps = canon.near_duplicate_edges, canon.components_auto

        def near_traced(norms, **kw):
            tracer.end(tr.pop("span"))
            tr["span"] = tracer.begin("canon")
            tr["norms"], tr["near_kw"] = norms, kw
            return near(norms, **kw)

        def comps_traced(nodes, edges, **kw):
            out = comps(nodes, edges, **kw)
            tracer.end(tr.pop("span"))
            tr["span"] = tracer.begin("corpus.pack")
            return out

        canon.near_duplicate_edges = near_traced
        canon.components_auto = comps_traced
        try:
            tr["span"] = tracer.begin("corpus.qc_exact")
            out = corpus.corpus_pipeline(docs).localCheckpoint(eager=True)
            tracer.end(tr.pop("span"))
        finally:
            canon.near_duplicate_edges, canon.components_auto = near, comps
        tr["out"] = out
        out_dir = os.path.join(self.work, "corpus")
        with tracer.span("io.write"):
            io.write_table(
                out.repartitionByRange(
                    max(self.spark.sparkContext.defaultParallelism, 4),
                    "shard", "pack_id"),
                out_dir)
        self._traced = tr
        return out_dir

    def trace_counts(self) -> dict:
        from pyspark.sql import functions as F

        from kg import spec

        tr = self._traced
        n_in = tr["docs"].count()
        n_exact = tr["norms"].count()
        n_out = tr["out"].count()
        # QC as corpus_pipeline documents it: >= min_tokens tokens and
        # stopword density > min_stopword_ratio (its defaults)
        words = F.split("text", " ")
        n_qc = tr["docs"].where(
            (F.size(words) >= 5)
            & (F.size(F.filter(words, lambda x: x.isin(*spec.STOPWORDS)))
               / F.size(words) > 0.05)).count()
        kw = tr["near_kw"]
        return {
            "io.rows_read": n_in,
            "corpus.qc_keep_ratio": n_qc / n_in if n_in else 0.0,
            "corpus.exact_keep_ratio": n_exact / n_qc if n_qc else 0.0,
            "corpus.near_keep_ratio": n_out / n_exact if n_exact else 0.0,
            **_canon_counts(tr["norms"], feature=kw.get("feature", "char"),
                            tau=kw.get("tau"), block_cap=kw.get("block_cap"),
                            shingle_w=kw.get("shingle_w")),
        }


class GraphHub:
    """graph.pagerank then graph.min_label_propagation on a power-law
    graph with one hub, results collected. Rows are edges."""

    row_unit = "edges"
    warmup = 1
    #: steady pass time on a 4-core host, which sizes the timed passes
    nominal_pass_s = 4.0

    def __init__(self, spark, inputs: str, work: str):
        self.spark = spark
        self.nodes_src = os.path.join(inputs, "nodes")
        self.edges_src = os.path.join(inputs, "edges")
        gold = np.load(os.path.join(inputs, "gold.npz"))
        self.gold_pr, self.gold_label = gold["pr"], gold["label"]
        self.rows = _rows(inputs)

    def setup(self) -> None:
        pass

    def run_pass(self):
        from kg import io
        from kg.stages import graph

        nodes = io.read_table(self.spark, self.nodes_src)
        edges = io.read_table(self.spark, self.edges_src)
        pr = graph.pagerank(nodes, edges).toPandas()
        lab = graph.min_label_propagation(nodes, edges).toPandas()
        return pr, lab

    def traced_pass(self, tracer):
        from kg import io
        from kg.stages import graph

        with tracer.span("io.read"):
            nodes = io.read_table(self.spark, self.nodes_src
                                  ).localCheckpoint(eager=True)
            edges = io.read_table(self.spark, self.edges_src
                                  ).localCheckpoint(eager=True)
        with tracer.span("graph.pagerank"):
            pr = graph.pagerank(nodes, edges).toPandas()
        with tracer.span("graph.lpa"):
            lab = graph.min_label_propagation(nodes, edges).toPandas()
        self._edges = edges
        return pr, lab

    def trace_counts(self) -> dict:
        from pyspark.sql import functions as F

        edges = self._edges
        # longest adjacency row either operator builds: the hub's
        # out-degree, plus LPA's self-loop
        return {"io.rows_read": edges.count(),
                "graph.max_adj_len": edges.groupBy("src").count()
                .agg(F.max("count")).first()[0] + 1}

    def check(self, out) -> tuple[float, float, str | None]:
        pr, lab = out
        n = len(self.gold_pr)
        pr_v = np.full(n, np.nan)
        pr_v[pr["node"].to_numpy()] = pr["pr"].to_numpy()
        lab_v = np.full(n, -1, dtype=np.int64)
        lab_v[lab["node"].to_numpy()] = lab["label"].to_numpy()
        pr_ok = np.isclose(pr_v, self.gold_pr, rtol=PR_RTOL, atol=0.0)
        lab_ok = lab_v == self.gold_label
        good = int((pr_ok & lab_ok).sum())
        rows = len(pr) + len(lab)
        # a node is correct when both its score and its label match;
        # precision over returned rows, recall over reference nodes
        p = min(1.0, 2 * good / rows) if rows else 0.0
        r = good / n
        if len(pr) != n or len(lab) != n or good != n:
            return p, r, (f"{n - good} of {n} nodes differ from the "
                          f"numpy reference ({len(pr)} pr rows, "
                          f"{len(lab)} label rows)")
        return p, r, None


WORKLOADS = {
        "kg_noisy_resume": KgNoisyResume,
    "corpus_dedup": CorpusDedup,
    "graph_hub": GraphHub,
}
