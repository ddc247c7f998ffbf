"""E2/A4/A5 — checkpointed stage commits and bucket-level resume
(SURVEY.md §2 E2, A4, A5).

Protocol (the local emulation of Iceberg snapshot commits,
BASELINE.json:6 "resumes from the last committed Iceberg snapshot
without recomputing finished partitions"):

- A stage's output directory is partitioned by a deterministic bucket
  column ``_bucket = pmod(xxhash64(bucket_key), n_buckets)``.
- Buckets are computed and written in groups; after each group's data
  files land, the manifest JSON is atomically replaced (temp + fsync +
  rename) with the new committed-bucket set, per-bucket row counts and
  checksums, the committed schema and the input snapshot id. **The
  manifest rename is the commit point** — data files without a
  manifest entry are garbage.
- The per-bucket stats come from the commit's own write: an
  ``Observation`` in the write's result stage counts each written row
  once, so no job re-reads the files, and the manifest describes the
  rows the write committed, not a second execution of the stage.
- Resume: read the manifest; if the ``snapshot_id`` (a hash of the
  input + stage version) matches, DELETE uncommitted bucket dirs
  (partial writes from the kill) and recompute ONLY missing buckets —
  committed buckets are never touched or recomputed. The input-side
  pruning is a bucket-id filter, i.e. the anti-join of finished work
  happens on a tiny integer set, not on data rows. The committed
  buckets are read back with the manifest's schema, without a
  schema-inference job (manifests written without one are read by
  inference).

On a real Iceberg deployment the same class routes the group commit
through ``writeTo(...).append()`` with the manifest in a table
property; the bucket math is identical.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql import types as T

from kg import io

MANIFEST = "_manifest.json"


def bucket_of(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


class StageCheckpoint:
    """Checkpointed execution of one stage."""

    def __init__(self, root: str, stage: str, snapshot_id: str,
                 n_buckets: int = 16):
        self.stage = stage
        self.dir = os.path.join(root, stage)
        self.manifest_path = os.path.join(self.dir, MANIFEST)
        self.snapshot_id = snapshot_id
        self.n_buckets = n_buckets

    # -- manifest ----------------------------------------------------
    def _load(self) -> dict:
        m = io.read_json(self.manifest_path)
        if m is None or m.get("snapshot_id") != self.snapshot_id or \
                m.get("n_buckets") != self.n_buckets:
            return {"stage": self.stage, "snapshot_id": self.snapshot_id,
                    "n_buckets": self.n_buckets, "buckets": {}}
        return m

    def committed_buckets(self) -> set[int]:
        return {int(b) for b in self._load()["buckets"]}

    # -- execution ---------------------------------------------------
    def run(self, spark: SparkSession, input_df: DataFrame,
            fn, bucket_key: str, groups: int = 1) -> DataFrame:
        """Compute ``fn(input_slice)`` for every not-yet-committed
        bucket and return the full committed output.

        ``fn`` must be bucket-local w.r.t. ``bucket_key`` (true for
        every per-conversation stage keyed by conv_id). ``groups``
        splits the pending buckets into that many commit batches —
        a kill between batches loses at most one batch.
        """
        manifest = self._load()
        done = {int(b) for b in manifest["buckets"]}
        self._gc_uncommitted(done)
        pending = [b for b in range(self.n_buckets) if b not in done]
        if pending:
            bucketed = input_df.withColumn(
                "_bucket", bucket_of(bucket_key, self.n_buckets))
            group_size = max(1, -(-len(pending) // groups))
            for i in range(0, len(pending), group_size):
                batch = pending[i:i + group_size]
                self._commit_batch(bucketed, fn, batch, manifest,
                                   bucket_key)
        # underscore-prefixed files (the manifest) are invisible to the
        # parquet reader, and uncommitted partials were GC'd above.
        # The zero-rows case is detected EXPLICITLY (no bucket dirs) —
        # a catch-all here would silently turn a genuine read error
        # (corrupt file, permissions) into an empty "success".
        if self._bucket_dirs():
            reader = spark.read
            if "schema" in manifest:
                reader = reader.schema(
                    T.StructType.fromJson(manifest["schema"]))
            return reader.parquet(self.dir).drop("_bucket")
        return fn(input_df.where(F.lit(False)))

    def _bucket_dirs(self, only: list[int] | None = None) -> list[str]:
        if not os.path.isdir(self.dir):
            return []
        names = {f"_bucket={b}" for b in only} if only is not None else None
        return sorted(
            os.path.join(self.dir, n) for n in os.listdir(self.dir)
            if n.startswith("_bucket=") and (names is None or n in names))

    def _commit_batch(self, bucketed: DataFrame, fn, batch: list[int],
                      manifest: dict, bucket_key: str) -> None:
        part = bucketed.where(F.col("_bucket").isin(batch))
        # fn must preserve the bucket key; recompute the bucket on the
        # output so the directory layout is self-describing
        out = fn(part.drop("_bucket"))
        # Stats ride the write itself: a second execution of the stage
        # plan would double the dominant scoring-UDF cost, and under a
        # nondeterministic fn the manifest would describe other rows
        # than the commit. Per bucket: the row count and a decimal
        # xxhash64 sum (order-insensitive, overflow-proof under ANSI).
        digest = F.xxhash64(*out.columns).cast("decimal(38,0)")
        out = out.withColumn("_bucket", bucket_of(bucket_key, self.n_buckets))
        obs = Observation()
        stats = [agg for b in batch for agg in (
            F.count(F.when(F.col("_bucket") == b, 1)).alias(f"rows_{b}"),
            F.sum(F.when(F.col("_bucket") == b, digest))
             .alias(f"checksum_{b}"))]
        (out.observe(obs, *stats).write.mode("append")
         .partitionBy("_bucket").parquet(self.dir))
        # A write that left no files has nothing to describe; once rows
        # landed, an unreadable observation fails the commit before the
        # manifest names them.
        got = obs.get if self._bucket_dirs(only=batch) else {}
        now = datetime.now(timezone.utc).isoformat()
        for b in batch:
            checksum = got.get(f"checksum_{b}")
            manifest["buckets"][str(b)] = {
                "partition_id": b,
                "output_rows": int(got.get(f"rows_{b}", 0)),
                "checksum": "0" if checksum is None else str(checksum),
                "committed_at": now,
            }
        manifest["schema"] = out.schema.jsonValue()
        io.atomic_write_json(self.manifest_path, manifest)

    def _gc_uncommitted(self, done: set[int]) -> None:
        """Delete bucket dirs with data but no manifest entry —
        partial writes from a killed run."""
        if not os.path.isdir(self.dir):
            return
        for name in os.listdir(self.dir):
            if name.startswith("_bucket="):
                b = int(name.split("=", 1)[1])
                if b not in done:
                    shutil.rmtree(os.path.join(self.dir, name),
                                  ignore_errors=True)


def run_checkpointed(spark: SparkSession, root: str, stage: str,
                     snapshot_id: str, input_df: DataFrame, fn,
                     bucket_key: str = "conv_id", n_buckets: int = 16,
                     groups: int = 4) -> DataFrame:
    cp = StageCheckpoint(root, stage, snapshot_id, n_buckets)
    return cp.run(spark, input_df, fn, bucket_key, groups=groups)
