"""Spark jobs per layer call, pinned on fixed small inputs in the
local[4] test session. Each pin is an upper bound: the count measured
when the pin was set. A change that adds a job to one of these calls
fails here; a change that removes jobs lowers the pin with it."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg import pipeline, schemas
from kg.stages import canon, corpus, graph
from kg.stages.link import dictionary_df

_NORMS = [("acme corp",), ("acme corpp",), ("zzzz wobbleplex",),
          ("zzzz wobbleplexx",)]
_EDGES = [(0, 1), (1, 2), (3, 4), (5, 5), (6, 0)]


def _norms(spark):
    return spark.createDataFrame(_NORMS, "norm string").localCheckpoint(
        eager=True)


def _graph(spark):
    nodes = spark.range(8).select(F.col("id").alias("node"))
    edges = spark.createDataFrame(_EDGES, "src long, dst long")
    return nodes, edges


def test_canonicalize_norms_jobs(spark, count_jobs, monkeypatch):
    d = dictionary_df(spark)
    for max_nodes, pin in ((canon.DRIVER_CANON_MAX_NODES, 3), (0, 34)):
        monkeypatch.setattr(canon, "DRIVER_CANON_MAX_NODES", max_nodes)
        norms = _norms(spark)
        _, n = count_jobs(lambda: canon.canonicalize_norms(norms, d))
        assert n <= pin, (max_nodes, n)


def test_near_duplicate_edges_jobs(spark, count_jobs):
    """Driver branch: the feature probe is the only Spark work, and
    the edges come back as a local relation."""
    norms = _norms(spark)
    edges, n = count_jobs(lambda: canon.near_duplicate_edges(norms))
    assert n <= 3, n
    _, n = count_jobs(edges.collect)
    assert n == 0, n


def test_components_auto_jobs(spark, count_jobs):
    nodes, edges = _graph(spark)
    _, n = count_jobs(lambda: canon.components_auto(nodes, edges))
    assert n <= 3, n


def test_connected_components_jobs(spark, count_jobs):
    nodes, edges = _graph(spark)
    _, n = count_jobs(lambda: canon.connected_components(nodes, edges))
    assert n <= 24, n


def test_resolve_entities_jobs(spark, count_jobs):
    from pyspark.sql import types as T

    fields = [f for f in schemas.SCORED.fields if f.name != "token_ids"]
    schema = T.StructType(fields + [
        T.StructField("head_entity", T.StringType()),
        T.StructField("tail_entity", T.StringType())])
    row = {f.name: None for f in schema.fields}
    row.update(conv_id="c0", turn_idx=0,
               head_surface="Acme Corpp", head_norm="acme corpp",
               head_mtype="org", head_pos=0,
               tail_surface="Dataquill", tail_norm="dataquill",
               tail_mtype="tool", tail_pos=3,
               rel="located_in", score=0.9,
               head_entity=None, tail_entity="Dataquill")
    scored = spark.createDataFrame(
        [tuple(row[f.name] for f in schema.fields)], schema)
    d = dictionary_df(spark)
    out, n = count_jobs(lambda: pipeline.resolve_entities(scored, d))
    assert n <= 5, n
    _, n = count_jobs(out.collect)
    assert n <= 2, n


def test_corpus_pipeline_jobs(spark, count_jobs):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    _, n = count_jobs(lambda: corpus.corpus_pipeline(docs).collect())
    assert n <= 11, n


def _assert_graph_op_jobs(count_jobs, nodes, edges, pins):
    for op, pin in zip((graph.pagerank, graph.min_label_propagation),
                       pins):
        _, n = count_jobs(lambda: op(nodes, edges, iters=3).collect())
        assert n <= pin, (op.__name__, n)


def test_graph_iteration_jobs(spark, count_jobs, monkeypatch):
    """Driver branch: the node and edge probes are the only Spark work
    (collecting the local relation runs none). The distributed plan's
    unrolled rounds, without the gate: 16 / 8."""
    nodes, edges = _graph(spark)
    _assert_graph_op_jobs(count_jobs, nodes, edges, (2, 2))
    monkeypatch.setattr(graph, "_driver_graph", lambda nodes, edges: None)
    _assert_graph_op_jobs(count_jobs, nodes, edges, (16, 8))


def test_graph_rejected_probe_jobs(spark, count_jobs, monkeypatch):
    """A graph one edge above the edge bound pays both probes' jobs,
    then the distributed plan's 16 / 8."""
    nodes, edges = _graph(spark)
    monkeypatch.setattr(graph, "DRIVER_GRAPH_MAX_EDGES", len(_EDGES) - 1)
    _assert_graph_op_jobs(count_jobs, nodes, edges, (2 + 16, 2 + 8))
