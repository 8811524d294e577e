"""RDF/JSON parser — PARSE side of the JSON format.

Beyond the reference (serializer-only registration, argo.go:117-140;
and the reference's serializer emits invalid single-quoted JSON it
could never have read back, json.go:38,58,80-92). Accepts BOTH key
flavors:

* the repo writer's NT lexical keys (``{"<s>": {"<p>": [...]}}``,
  sinks/writers.py::rdfjson_lines — the reference IndexStore shape
  with valid JSON), and
* the W3C RDF/JSON form with bare IRI keys
  (``{"http://s": {"http://p": [...]}}``).

``_:label`` marks blank nodes in either flavor. Object cells carry
``{"type": "uri"|"bnode"|"literal", "value": ..., "lang"?, "datatype"?}``;
unknown types are per-document errors. A document is either ONE JSON
object or a SEQUENCE of newline-delimited objects (the distributed
writer's one-subject-per-line output) — the parser tries whole-doc
first, then JSON-lines.

Distribution: whole-file documents through the shared document stage
(sources/documents.py); json.loads is C speed and per-document, zero
shuffles.
"""

from __future__ import annotations

import json
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from argo_spark.extract.rdfa import FlatTriple
from argo_spark.sources.documents import (
    FLAT_DDL, parse_documents, scan_documents, split_quarantine,
)
from argo_spark.terms import KIND_BLANK, KIND_IRI, KIND_LITERAL


class RdfJsonError(Exception):
    pass


def _subject(key: str) -> Tuple[int, str]:
    if key.startswith("<") and key.endswith(">"):
        key = key[1:-1]
    if key.startswith("_:"):
        return KIND_BLANK, key[2:]
    return KIND_IRI, key


def _predicate(key: str) -> str:
    if key.startswith("<") and key.endswith(">"):
        return key[1:-1]
    if key.startswith("_:"):
        raise RdfJsonError("blank node in predicate position")
    return key


def _object(cell) -> Tuple[int, str, Optional[str], Optional[str]]:
    if not isinstance(cell, dict) or "value" not in cell:
        raise RdfJsonError(f"bad object cell {cell!r}")
    typ = cell.get("type", "literal")
    value = cell["value"]
    if not isinstance(value, str):
        raise RdfJsonError(f"non-string value {value!r}")
    if typ == "uri":
        return KIND_IRI, value, None, None
    if typ == "bnode":
        return KIND_BLANK, value[2:] if value.startswith("_:") else value, None, None
    if typ == "literal":
        lang = cell.get("lang") or None
        dt = cell.get("datatype") or None
        return KIND_LITERAL, value, lang, dt
    raise RdfJsonError(f"unknown object type {typ!r}")


def _emit_doc(obj, out: List[FlatTriple]) -> None:
    if not isinstance(obj, dict):
        raise RdfJsonError("top level is not a JSON object")
    for s_key, preds in obj.items():
        s_kind, s_value = _subject(s_key)
        if not isinstance(preds, dict):
            raise RdfJsonError(f"subject {s_key!r} maps to non-object")
        for p_key, cells in preds.items():
            p_value = _predicate(p_key)
            if not isinstance(cells, list):
                raise RdfJsonError(f"predicate {p_key!r} maps to non-array")
            for cell in cells:
                o = _object(cell)
                out.append((s_kind, s_value, p_value) + o)


def parse_rdfjson(text: str) -> Tuple[List[FlatTriple], Optional[str]]:
    """-> (triples, error). Whole-document JSON object, or a sequence
    of newline-delimited objects (the lines writer's output).
    All-or-nothing per document, same contract as the other parsers."""
    out: List[FlatTriple] = []
    try:
        try:
            _emit_doc(json.loads(text), out)
            return out, None
        except json.JSONDecodeError:
            pass
        for i, line in enumerate(text.splitlines(), 1):
            if not line.strip():
                continue
            try:
                _emit_doc(json.loads(line), out)
            except json.JSONDecodeError as e:
                raise RdfJsonError(f"line {i}: invalid JSON ({e.msg})")
        return out, None
    except RdfJsonError as e:
        return [], str(e)


RDFJSON_SCHEMA = FLAT_DDL + ", key string, error string"


def parse_rdfjson_col(
    df: DataFrame, text_col: str = "value", key_col: str = "key"
) -> DataFrame:
    """Distributed parse through the shared document stage, one
    document per input row (RDF/JSON names its blank nodes, so the key
    seeds no skolemization)."""
    return parse_documents(
        df, lambda text, key: parse_rdfjson(text), RDFJSON_SCHEMA,
        text_col, key_col,
    )


def read_rdfjson(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Read RDF/JSON files (one document or JSON-lines per file) into
    (triples_df, errors_df)."""
    return split_quarantine(
        parse_rdfjson_col(scan_documents(spark, path)),
        F.col("key").alias("path"), "error",
    )
