"""B5 — entity linking (SURVEY.md §2 B5).

The entity dictionary (normalized variant surface → canonical entity)
is a few hundred rows. The fused scorers resolve it exactly inside
their UDF (``score.extract_and_score_fused``). Mentions that miss it
stay unlinked and flow to the C1–C4 long-tail canonicalizer, which
reads the dictionary frame below and can still attach a miss to a
known entity when its cluster contains a linked member.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from kg import spec


def dictionary_df(spark: SparkSession) -> DataFrame:
    """The linking dictionary as a (norm, entity, entity_mtype) frame.
    Built from pandas, so it plans as a local relation: a collect or
    broadcast of it reads driver memory instead of scanning an RDD of
    pickled rows."""
    return spark.createDataFrame(
        pd.DataFrame([(n, c, m) for n, (c, m)
                      in spec.linking_dictionary().items()],
                     columns=["norm", "entity", "entity_mtype"]),
        "norm string, entity string, entity_mtype string")
