"""Explicit schemas for every table the engine touches.

The reference reads everything ``dtype=str`` (reference src/amr.py:392,
src/sources.py:19) so vocabulary/fact columns are nullable strings; the
transcript input adds int/timestamp per BASELINE.json input_hint. Node/edge
property tails are open maps (reference emits dynamic property keys,
src/relations.py:208-209), hence MapType not StructType.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- primary input (BASELINE.json input_hint) ---------------------------
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# --- graph tables ---------------------------------------------------------
NODES = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),  # xxhash64(label, key)
        T.StructField("label", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("curie", T.StringType(), True),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

EDGES = T.StructType(
    [
        T.StructField("src_id", T.LongType(), False),
        T.StructField("dst_id", T.LongType(), False),
        T.StructField("rel_type", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("subj_curie", T.StringType(), True),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("obj_curie", T.StringType(), True),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("snapshot", T.StringType(), True),
    ]
)
