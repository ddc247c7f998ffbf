"""E1 metrics + multimodal plumbing tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg.stages import metrics, multimodal


def test_observed_row_counter(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    observed, obs = metrics.observed(df, "stage_x")
    assert observed.count() == 100
    assert obs.get["rows"] == 100


def test_multimodal_stub_features(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"hello world")), (2, bytearray(b"")),
         (3, bytearray(bytes(range(256)) * 2)),
         # byte sum 24174 over 256 bytes: 24174 / 65280 scales to
         # x.5 in doubles, where SQL round and Python round disagree
         (4, bytearray(bytes([95]) * 110 + bytes([94]) * 146))],
        "doc_id long, payload binary")
    out = {r["doc_id"]: r
           for r in multimodal.extract_binary_features(df).collect()}
    assert out[1]["n_bytes"] == 11 and out[1]["feat_dim"] == 11
    assert out[2]["feat_dim"] == 1 and out[2]["feat_mean"] == 0.0
    assert out[3]["n_bytes"] == 512 and out[3]["feat_dim"] == 256
    assert out[4]["feat_mean"] == 0.370313
    # deterministic: same payload → same feature
    again = {r["doc_id"]: r
             for r in multimodal.extract_binary_features(df).collect()}
    assert again == out
