"""E2/A5 resume tests: kill-mid-run simulation — committed buckets are
never recomputed and the final output is identical (SURVEY.md §5.5)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kg import io
from kg.stages import checkpoint


def _input(spark):
    rows = [(f"c{i % 7}", i, float(i)) for i in range(100)]
    return spark.createDataFrame(rows, "conv_id string, x int, v double")


class _Boom(RuntimeError):
    pass


def test_kill_and_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    inp = _input(spark)
    calls = {"n": 0}

    def flaky_fn(df):
        calls["n"] += 1
        if calls["n"] == 3:
            raise _Boom("simulated kill")
        return df.groupBy("conv_id").agg(F.sum("v").alias("total"))

    def good_fn(df):
        calls["n"] += 1
        return df.groupBy("conv_id").agg(F.sum("v").alias("total"))

    # first run dies on the 3rd commit batch
    try:
        checkpoint.run_checkpointed(spark, root, "agg", "snap1", inp,
                                    flaky_fn, bucket_key="conv_id",
                                    n_buckets=8, groups=4)
        raise AssertionError("expected simulated kill")
    except _Boom:
        pass
    m1 = io.read_json(os.path.join(root, "agg", checkpoint.MANIFEST))
    committed_before = dict(m1["buckets"])
    assert 0 < len(committed_before) < 8

    # resume: only missing buckets recompute; committed entries are
    # byte-identical (same committed_at ⇒ not rewritten)
    calls["n"] = 0
    out = checkpoint.run_checkpointed(spark, root, "agg", "snap1", inp,
                                      good_fn, bucket_key="conv_id",
                                      n_buckets=8, groups=4)
    m2 = io.read_json(os.path.join(root, "agg", checkpoint.MANIFEST))
    for b, entry in committed_before.items():
        assert m2["buckets"][b] == entry
    # resumed output == single-shot computation
    expect = inp.groupBy("conv_id").agg(F.sum("v").alias("total"))
    assert out.exceptAll(expect).isEmpty() and expect.exceptAll(out).isEmpty()


def test_snapshot_change_invalidates(spark, tmp_path):
    root = str(tmp_path / "ckpt2")
    inp = _input(spark)

    def fn(df):
        return df.groupBy("conv_id").agg(F.count("*").alias("n"))

    checkpoint.run_checkpointed(spark, root, "agg", "snapA", inp, fn,
                                bucket_key="conv_id", n_buckets=4)
    cp = checkpoint.StageCheckpoint(root, "agg", "snapB", 4)
    assert cp.committed_buckets() == set()   # different snapshot ⇒ fresh


def test_noop_rerun_recomputes_nothing(spark, tmp_path):
    root = str(tmp_path / "ckpt3")
    inp = _input(spark)
    calls = {"n": 0}

    def fn(df):
        calls["n"] += 1
        return df.select("conv_id", "x", "v")

    checkpoint.run_checkpointed(spark, root, "s", "snap", inp, fn,
                                bucket_key="conv_id", n_buckets=4, groups=2)
    first = calls["n"]
    out = checkpoint.run_checkpointed(spark, root, "s", "snap", inp, fn,
                                      bucket_key="conv_id", n_buckets=4,
                                      groups=2)
    assert calls["n"] == first          # fn never called again
    assert out.count() == 100


def test_manifest_df_shape(spark, tmp_path):
    root = str(tmp_path / "ckpt4")
    inp = _input(spark)
    checkpoint.run_checkpointed(
        spark, root, "s", "snap", inp,
        lambda df: df, bucket_key="conv_id", n_buckets=4)
    m = io.read_json(os.path.join(root, "s", checkpoint.MANIFEST))
    rows = list(m["buckets"].values())
    assert {r["partition_id"] for r in rows} == {0, 1, 2, 3}
    assert sum(r["output_rows"] for r in rows) == 100
    assert m["snapshot_id"] == "snap"


def _manifest(root: str, stage: str) -> dict:
    return io.read_json(os.path.join(root, stage, checkpoint.MANIFEST))


def test_manifest_stats_equal_committed_files(spark, tmp_path):
    """Each bucket's ``output_rows`` and ``checksum``, taken from the
    commit's own write, equal a per-bucket read-back of the committed
    files; a commit batch whose buckets get no rows writes no files
    and records 0 and "0"."""
    root = str(tmp_path / "ckpt5")
    checkpoint.run_checkpointed(spark, root, "s", "snap", _input(spark),
                                lambda df: df, bucket_key="conv_id",
                                n_buckets=16, groups=16)
    committed = spark.read.parquet(os.path.join(root, "s"))
    data_cols = [c for c in committed.columns if c != "_bucket"]
    files = {r["_bucket"]: (r["rows"], str(r["checksum"])) for r in
             committed.groupBy("_bucket").agg(
                 F.count("*").alias("rows"),
                 F.sum(F.xxhash64(*data_cols).cast("decimal(38,0)"))
                 .alias("checksum")).collect()}
    buckets = _manifest(root, "s")["buckets"]
    assert len(buckets) == 16 and 0 < len(files) < 16
    for b, entry in buckets.items():
        assert (entry["output_rows"], entry["checksum"]) \
            == files.get(int(b), (0, "0")), b


def test_manifest_schema_reads_back_without_inference(spark, tmp_path):
    """The manifest records the committed schema, and the read-back
    uses it; a manifest written without it (older commits) still
    resumes, by inference, to the same frame."""
    root = str(tmp_path / "ckpt6")
    inp = _input(spark)

    def fn(df):
        return df.groupBy("conv_id").agg(F.sum("v").alias("total"))

    out = checkpoint.run_checkpointed(spark, root, "agg", "snap", inp, fn,
                                      bucket_key="conv_id", n_buckets=4)
    m = _manifest(root, "agg")
    assert [f["name"] for f in m["schema"]["fields"]] \
        == ["conv_id", "total", "_bucket"]
    del m["schema"]
    io.atomic_write_json(os.path.join(root, "agg", checkpoint.MANIFEST), m)
    again = checkpoint.run_checkpointed(spark, root, "agg", "snap", inp, fn,
                                        bucket_key="conv_id", n_buckets=4)
    assert again.schema == out.schema
    assert sorted(again.collect()) == sorted(out.collect())


class _BlindObservation(checkpoint.Observation):
    """An Observation whose metrics cannot be read."""

    @property
    def get(self):
        raise RuntimeError("observed metrics lost")


def test_unreadable_stats_fail_the_commit(spark, tmp_path, monkeypatch):
    """Rows written but their Observation unreadable: the commit raises
    before the manifest names the bucket, never records zero stats.
    A write with no rows needs no stats and commits."""
    import pytest

    monkeypatch.setattr(checkpoint, "Observation", _BlindObservation)
    root = str(tmp_path / "ckpt7")
    inp = _input(spark)
    with pytest.raises(RuntimeError, match="observed metrics lost"):
        checkpoint.run_checkpointed(spark, root, "s", "snap", inp,
                                    lambda df: df, bucket_key="conv_id",
                                    n_buckets=4, groups=1)
    assert _manifest(root, "s") is None
    checkpoint.run_checkpointed(spark, root, "e", "snap",
                                inp.where(F.lit(False)), lambda df: df,
                                bucket_key="conv_id", n_buckets=4, groups=1)
    assert {(e["output_rows"], e["checksum"])
            for e in _manifest(root, "e")["buckets"].values()} == {(0, "0")}
