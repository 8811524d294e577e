"""One document-parse stage and one quarantine split for the RDF readers.

Every whole-file reader (RDF/XML, Squirtle, Turtle, TriG, RDF/JSON,
LOOP) has the same shape, as argo gives each syntax one parser stage:
a whole-file text scan keyed by the file name, one Arrow
``mapInPandas`` stage that turns each document into flat rows or one
quarantine row, and a split of that frame into rows and errors. The
line readers (N-Triples, N-Quads) and the WARC page reader parse in
their own stages but take the same split, which also counts each
source's parse errors in the parse pass itself (parse_error_count).
"""

from __future__ import annotations

import weakref
from typing import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# flat triple columns of every document schema, before (key, error)
FLAT_DDL = (
    "s_kind tinyint, s_value string, p_value string, o_kind tinyint, "
    "o_value string, o_lang string, o_dt string"
)


def scan_documents(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file text scan: one row per file, ``value`` its text and
    ``key`` its name (the skolem key and the lineage path)."""
    return spark.read.text(path, wholetext=True).select(
        F.col("value"), F.input_file_name().alias("key")
    )


def parse_documents(
    df: DataFrame,
    parse: Callable[[str, str], tuple],
    schema: str,
    text_col: str = "value",
    key_col: str = "key",
) -> DataFrame:
    """The per-document Arrow stage: ``parse(text, key)`` returns
    (flat rows, error) for one document; the last two ``schema``
    columns carry the key and the error. An error becomes one
    quarantine row next to the rows parsed before it, and a null
    document is quarantined as ``"null document"`` instead of failing
    the task."""
    cols = [field.split()[0] for field in schema.split(",")]
    blank = (None,) * (len(cols) - 2)

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for text, key in zip(pdf[text_col], pdf[key_col]):
                key = str(key)
                if text is None:
                    flat, error = (), "null document"
                else:
                    flat, error = parse(text, key)
                rows.extend(t + (key, None) for t in flat)
                if error is not None:
                    rows.append(blank + (key, error))
            yield pd.DataFrame(rows, columns=cols)

    return df.select(text_col, key_col).mapInPandas(fn, schema=schema)


# the parse-pass error count of each error frame split_quarantine
# made, keyed weakly so that an entry lives as long as its frame
_ERROR_COUNTS: "weakref.WeakKeyDictionary[DataFrame, Observation]" = (
    weakref.WeakKeyDictionary()
)


def split_quarantine(
    parsed: DataFrame, *error_cols: str | Column
) -> tuple[DataFrame, DataFrame]:
    """-> (rows, errors). Rows are the parsed rows without an error,
    minus the quarantine-only columns (``error``, and the line
    readers' ``err_column`` and ``line``); errors are the failed rows
    projected to ``error_cols``. Both read one observed frame, so the
    first action over either counts the errors it parsed on the way
    (parse_error_count)."""
    obs = Observation()
    parsed = parsed.observe(
        obs, F.count_if(F.col("error").isNotNull()).alias("n")
    )
    rows = parsed.where(F.col("error").isNull()).drop(
        "error", "err_column", "line"
    )
    errors = parsed.where(F.col("error").isNotNull()).select(*error_cols)
    _ERROR_COUNTS[errors] = obs
    return rows, errors


def parse_error_count(errors: DataFrame) -> int | None:
    """The number of parse errors the first action over this source
    counted, or None when ``errors`` was not made by split_quarantine
    or no action has run its parse yet. The count is exact only if
    that action consumed every parsed row (a write of all the rows, an
    eager checkpoint); under a LIMIT or a selective query it is
    partial, so only a caller that knows the action read everything
    may take a 0 as "clean". Waits at most 100 ms where
    ``Observation.get`` would block for good on a frame no action ran;
    a finished action has posted its metrics by then."""
    obs = _ERROR_COUNTS.get(errors)
    if obs is None:
        return None
    row = obs._jo.getRowOrEmpty()
    return row.get().getLong(0) if row.isDefined() else None
