"""Session-scoped Spark fixture (SURVEY.md §3.2, §5)."""

from __future__ import annotations

import itertools

import pytest

from kg.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kg-tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def spark_prop(spark):
    """Session-scoped alias usable inside @given property tests."""
    return spark


@pytest.fixture(scope="session")
def tiny_transcripts(spark):
    """Deterministic small T0 + its by-construction gold triples."""
    from kg import datagen, schemas

    pdf, gold = datagen.generate(n_conversations=60, seed=42)
    df = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS).cache()
    df.count()
    return df, gold


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` → (fn(), number of Spark jobs fn ran): the
    call runs under a fresh job group, counted once the listener bus
    has delivered every job-start event."""
    sc = spark.sparkContext
    seq = itertools.count()

    def run(fn):
        group = f"count-jobs-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
