"""Canonical DataFrame schemas for the pipeline (SURVEY.md §1.4, FIXTURES.md §3)."""

from __future__ import annotations

from pyspark.sql import types as T

# Flattened triples: the seven term columns.
TRIPLES_FIELDS = [
    T.StructField("s_kind", T.ByteType(), False),
    T.StructField("s_value", T.StringType(), False),
    T.StructField("p_value", T.StringType(), False),
    T.StructField("o_kind", T.ByteType(), False),
    T.StructField("o_value", T.StringType(), False),
    T.StructField("o_lang", T.StringType(), True),
    T.StructField("o_dt", T.StringType(), True),
]

TRIPLES_SCHEMA = T.StructType(TRIPLES_FIELDS)

TRIPLE_COLS = [f.name for f in TRIPLES_FIELDS]
