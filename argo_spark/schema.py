"""Canonical DataFrame schemas for the pipeline (SURVEY.md §1.4, FIXTURES.md §3)."""

from __future__ import annotations

from pyspark.sql import types as T

# Input: Common-Crawl-style web pages (BASELINE.json input_hint).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

# Output: flattened triples with provenance (lineage + skolem key).
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
