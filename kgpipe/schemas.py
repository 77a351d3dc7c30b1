"""Explicit Spark schemas for every dataset (SURVEY.md §1.3).

The reference kept dynamic per-record dicts; at 10^12 rows that looseness is
a liability, so every intermediate here is a fixed StructType and nothing on
the hot path uses inferSchema.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Input table — authoritative shape from BASELINE.json input_hint.
TRANSCRIPTS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), False),
        StructField("text", StringType(), False),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), False),
    ]
)

MENTION = StructType(
    [
        StructField("surface", StringType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("mtype", StringType(), False),
    ]
)
MENTIONS_ARRAY = ArrayType(MENTION, False)

# Extraction output (post-explode), before linking.
RAW_TRIPLES = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("subj_raw", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj_raw", StringType(), False),
        StructField("rule_id", StringType(), False),
    ]
)

ENTITY_DICT = StructType(
    [
        StructField("entity_id", StringType(), False),
        StructField("canonical", StringType(), False),
        StructField("aliases", ArrayType(StringType(), False), False),
        StructField("etype", StringType(), False),
        StructField("prior", DoubleType(), False),
    ]
)
