"""Each table producer's schema equals its declaration in kg/schemas.py
(SURVEY.md §1.2): T1 CONVERSATIONS, T7 COMPONENTS, T8 TRIPLES and
T9 ADJACENCY."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kg import pipeline, schemas
from kg.stages import canon, reassemble


def _graph(spark):
    nodes = spark.range(4).select(F.col("id").alias("node"))
    edges = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    return nodes, edges


@pytest.fixture(scope="module")
def kg_run(spark, tiny_transcripts):
    return pipeline.run(spark, tiny_transcripts[0])


PRODUCERS = {
    "conversations": (schemas.CONVERSATIONS, lambda spark, t0, run:
                      reassemble.reassemble_conversations(t0)),
    "components": (schemas.COMPONENTS, lambda spark, t0, run:
                   canon.connected_components(*_graph(spark))),
    "components_auto": (schemas.COMPONENTS, lambda spark, t0, run:
                        canon.components_auto(*_graph(spark))),
    "triples": (schemas.TRIPLES, lambda spark, t0, run: run()["triples"]),
    "adjacency": (schemas.ADJACENCY,
                  lambda spark, t0, run: run()["adjacency"]),
}


@pytest.mark.parametrize("table", list(PRODUCERS))
def test_producer_schema_matches_declaration(table, spark, tiny_transcripts,
                                             request):
    declared, produce = PRODUCERS[table]
    df = produce(spark, tiny_transcripts[0],
                 lambda: request.getfixturevalue("kg_run"))
    assert df.schema.simpleString() == declared.simpleString()
