"""E1 — stage metrics (SURVEY.md §2 E1).

Row counters ride the job itself via ``Observation`` (zero extra
actions). Per-bucket row counts and order-insensitive checksums are
computed from the written files by kg.stages.checkpoint and recorded
in its manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F


def observed(df: DataFrame, stage: str) -> tuple[DataFrame, Observation]:
    """Attach a row-count observation that is collected for free when
    the next action runs: ``obs.get["rows"]``."""
    obs = Observation(stage)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs
