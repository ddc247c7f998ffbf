"""Declared Spark schemas for every core table (SURVEY.md §1.2).

All schemas are StructType literals — never inferred — because every
pandas UDF must declare its return schema and the driver's oracle
compares schemas (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import types as T

# T0 — the mandated input shape (BASELINE.json:15)
TRANSCRIPTS = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])

_TURN = T.StructType([
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])

# T1 — reassembled conversations (A2)
CONVERSATIONS = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turns", T.ArrayType(_TURN)),
    T.StructField("n_turns", T.IntegerType()),
])

# T2 — detected mentions (B2)
MENTIONS = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("mention_id", T.LongType()),
    T.StructField("surface", T.StringType()),
    T.StructField("norm", T.StringType()),
    T.StructField("span_start", T.IntegerType()),   # token index, inclusive
    T.StructField("span_end", T.IntegerType()),     # token index, exclusive
    T.StructField("mtype", T.StringType()),
])

# T3 — candidate mention pairs = classifier instances (B3)
MENTION_PAIRS = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("head_surface", T.StringType()),
    T.StructField("tail_surface", T.StringType()),
    T.StructField("head_norm", T.StringType()),
    T.StructField("tail_norm", T.StringType()),
    T.StructField("head_mtype", T.StringType()),
    T.StructField("tail_mtype", T.StringType()),
    T.StructField("token_ids", T.ArrayType(T.IntegerType())),
    T.StructField("head_pos", T.IntegerType()),
    T.StructField("tail_pos", T.IntegerType()),
])

# T4 — scored relations (B4, post-threshold, NA dropped)
SCORED = T.StructType(MENTION_PAIRS.fields + [
    T.StructField("rel", T.StringType()),
    T.StructField("score", T.FloatType()),
])

# T6 — entity-similarity edges (C1–C2)
EDGES = T.StructType([
    T.StructField("src", T.LongType()),
    T.StructField("dst", T.LongType()),
    T.StructField("sim", T.DoubleType()),
])

# T7 — connected-component labels (C3)
COMPONENTS = T.StructType([
    T.StructField("node", T.LongType()),
    T.StructField("component", T.LongType()),
])

# T8 — the output contract (D2)
TRIPLES = T.StructType([
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj", T.StringType()),
    T.StructField("confidence", T.DoubleType()),
    T.StructField("n_support", T.LongType()),
    T.StructField("provenance", T.ArrayType(T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ]))),
])

# T9 — adjacency (D3)
ADJACENCY = T.StructType([
    T.StructField("subj", T.StringType()),
    T.StructField("out_edges", T.ArrayType(T.StructType([
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
    ]))),
    T.StructField("out_degree", T.IntegerType()),
])
