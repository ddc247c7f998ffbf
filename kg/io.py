"""Lakehouse seam (SURVEY.md §1.2, §7 M0/M5).

The production spec stores tables in Iceberg (BASELINE.json:14); no
Iceberg runtime jar exists in this sandbox (verified at survey time),
so this module exposes the narrow surface the pipeline needs —
``read_table`` / ``write_table`` / atomic stage commits — implemented
over Parquet + a JSON manifest whose write-then-rename is the commit
point (the local emulation of an Iceberg snapshot commit). When an
Iceberg catalog is configured, the same calls route to
``spark.table`` / ``writeTo`` — the pipeline code never changes.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def is_iceberg(identifier: str) -> bool:
    """Catalog identifiers (``cat.db.tbl``) are Iceberg; paths are
    Parquet."""
    return "/" not in identifier and identifier.count(".") >= 2


def read_table(spark: SparkSession, identifier: str) -> DataFrame:
    """The current snapshot of an Iceberg table, or a Parquet path."""
    if is_iceberg(identifier):
        return spark.read.table(identifier)
    return spark.read.parquet(identifier)


def write_table(df: DataFrame, identifier: str) -> None:
    """Replace the table: ``createOrReplace`` for Iceberg, overwrite
    for a Parquet path."""
    if is_iceberg(identifier):
        df.writeTo(identifier).createOrReplace()
        return
    df.write.mode("overwrite").parquet(identifier)


def atomic_write_json(path: str, payload: dict) -> None:
    """POSIX-atomic manifest commit: write temp + fsync + rename.

    The temp name starts with '.' so a kill between mkstemp and rename
    leaves a file Spark's parquet reader IGNORES — a bare 'tmpXXXX'
    in a stage directory would be picked up as a (corrupt) data file
    on resume."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix="._" + os.path.basename(path)
                               + ".", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def read_json(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)
