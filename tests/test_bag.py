"""Bag-level selective attention (B4 bag option, Lin 2016)."""

from __future__ import annotations

from datetime import datetime

from kg import schemas
from kg.stages import bag, score

ROWS = [
    # 3 consistent instances for (Ann Barard, employed_by, Acme Corp)
    ("c1", 0, "user", "Ann Barard works at Acme Corp according to the report",
     None, datetime(2024, 1, 1)),
    ("c2", 0, "user", "Ann Barard is employed by Acme Corp", None,
     datetime(2024, 1, 1)),
    ("c3", 0, "user", "Ann Barard joined Acme Corp last spring", None,
     datetime(2024, 1, 1)),
    # an NA co-mention of the same pair — attention should down-weight
    ("c4", 0, "user", "Ann Barard met Acme Corp at the conference", None,
     datetime(2024, 1, 1)),
    # unrelated NA-only pair
    ("c5", 0, "user", "Boris Barben and Quartz Group were both mentioned "
     "in the meeting", None, datetime(2024, 1, 1)),
]


def test_bag_attention(spark):
    """Both encoders behind the scoring UDF score bags (a loop, not
    parametrize, so the test id stays the same)."""
    df = spark.createDataFrame(ROWS, schema=schemas.TRANSCRIPTS)
    for encoder in ("pcnn", "attn"):
        bc = score.broadcast_weights(spark, encoder=encoder)
        out = {(r["head_entity"], r["rel"], r["tail_entity"]): r
               for r in bag.score_bags(df, bc).collect()}
        key = ("Ann Barard", "employed_by", "Acme Corp")
        assert key in out, encoder
        assert out[key]["bag_size"] == 4      # incl. the NA co-mention
        assert out[key]["score"] >= 0.6, encoder
        # the NA-only pair must not produce a bag relation
        assert not any(h == "Boris Barben" for (h, _, _) in out), encoder
