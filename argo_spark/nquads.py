"""N-Quads reader/writer — the serialization face of the quad model.

The reference has no quad surface (argo's Graph is single-graph,
/root/reference/graph.go:31-50); this module extends the N-Triples
machinery (ntriples.py, byte-exact to /root/reference/term.go:93-110
and ntriples.go:494-505) with the optional graph-label term of
RDF 1.1 N-Quads. A triple line (no graph term) is a valid N-Quads
statement in the default graph, so ``read_nquads`` accepts plain .nt
content and yields NULL ``g_value`` for it — the same convention the
SPARQL dataset layer uses (NULL = default graph).

Scope note (documented divergence): graph labels must be IRIs.
Blank-node graph labels are quarantined with the parse error of the
triple-shaped prefix — this engine skolemizes blank nodes at the
source boundary (terms.py skolem_id), so a dataset that needs
anonymous graphs should skolemize the labels upstream.

Scale shape: identical to the N-Triples path — one Arrow-batched
``mapInPandas`` stage over the text scan, vectorized regex fast path
for well-formed lines (quad and triple alike), per-row fallback only
for escaped-literal stragglers. The writer is pure column
expressions (whole-stage codegen), one text line per row.
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from argo_spark.ntriples import (
    _IRI_CC,
    _TERM_O,
    _TERM_S,
    _parse_batch,
)
from argo_spark.sources.documents import split_quarantine
from argo_spark.terms import KIND_BLANK, KIND_IRI, KIND_LITERAL, term_nt_col

# quad fast path: the NT fast regex plus a mandatory IRI graph label
# (triple-only lines fall through to the NT batch parser below).
# Groups: 0-1 subject iri/bnode, 2 predicate, 3-7 object, 8 graph.
NQ_FAST_RE = re.compile(
    rf"^[ \t]*{_TERM_S}[ \t]+<({_IRI_CC}+)>[ \t]+{_TERM_O}"
    rf"[ \t]+<({_IRI_CC}+)>[ \t]*\.[ \t]*$"
)

# retry for slow-path quad lines (escaped literals): strip one
# trailing IRI term and re-parse the prefix as a triple. Anchored at
# the end so an object IRI of a well-formed TRIPLE line is never at
# risk — triple lines parse successfully before this regex is tried.
_G_TAIL_RE = re.compile(
    rf"^(.*\S)[ \t]+<({_IRI_CC}+)>[ \t]*\.[ \t]*$", re.S
)

_PARSED_NQ_SCHEMA = (
    "s_kind tinyint, s_value string, p_value string, o_kind tinyint, "
    "o_value string, o_lang string, o_dt string, g_value string, "
    "error string, err_column int, line string"
)

_NQ_COLS = [
    "s_kind", "s_value", "p_value", "o_kind", "o_value", "o_lang",
    "o_dt", "g_value", "error", "err_column", "line",
]

_TERM_COLS = [
    "s_kind", "s_value", "p_value", "o_kind", "o_value", "o_lang", "o_dt",
]


def _quad_rows(m: pd.DataFrame) -> pd.DataFrame:
    """Rows for NQ_FAST_RE matches (mirrors the NT fast path)."""
    out = pd.DataFrame(index=m.index, columns=_NQ_COLS, dtype=object)
    import numpy as np

    out["s_kind"] = pd.array(
        np.where(m[0].notna(), KIND_IRI, KIND_BLANK), dtype="Int8"
    )
    out["s_value"] = np.where(m[0].notna(), m[0], m[1])
    out["p_value"] = m[2]
    o_kind = pd.Series(index=m.index, dtype="Int8")
    o_kind[m[3].notna()] = KIND_IRI
    o_kind[m[4].notna()] = KIND_BLANK
    o_kind[m[5].notna()] = KIND_LITERAL
    out["o_kind"] = o_kind
    out["o_value"] = np.where(
        m[3].notna(), m[3], np.where(m[4].notna(), m[4], m[5])
    )
    out["o_lang"] = m[6]
    out["o_dt"] = m[7]
    out["g_value"] = m[8]
    out["error"] = None
    out["err_column"] = pd.array([None] * len(m), dtype="Int32")
    out["line"] = None
    return out


def _parse_batch_nq(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if not len(pdf):
            continue
        lines = pdf["value"]
        m = lines.str.extract(NQ_FAST_RE)
        is_quad = m[2].notna() & m[8].notna()
        pieces = []
        if is_quad.any():
            pieces.append(_quad_rows(m.loc[is_quad]))
        rest = pdf.loc[~is_quad]
        if len(rest):
            # triple-shaped lines (and malformed ones): the NT batch
            # parser keeps its own vectorized fast path
            nt_out = next(_parse_batch(iter([rest])))
            nt_out["g_value"] = None
            err = nt_out.index[nt_out["error"].notna()]
            if len(err):
                # slow-path quads: strip one trailing IRI term, retry
                g = lines.loc[err].str.extract(_G_TAIL_RE)
                retryable = g.index[g[1].notna()]
                if len(retryable):
                    retry = pd.DataFrame(
                        {"value": g.loc[retryable, 0] + " ."},
                        index=retryable,
                    )
                    out2 = next(_parse_batch(iter([retry])))
                    ok = out2.index[out2["error"].isna()]
                    if len(ok):
                        nt_out.loc[ok, _TERM_COLS] = out2.loc[
                            ok, _TERM_COLS
                        ]
                        nt_out.loc[ok, "g_value"] = g.loc[ok, 1]
                        nt_out.loc[ok, ["error", "line"]] = None
                        nt_out.loc[ok, "err_column"] = pd.array(
                            [None] * len(ok), dtype="Int32"
                        )
            pieces.append(nt_out[_NQ_COLS])
        yield pd.concat(pieces).sort_index()


def read_nquads(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Read N-Quads (or N-Triples) files into (quads_df, quarantine).

    The quads frame carries the eight canonical columns (NULL
    ``g_value`` = default graph) and feeds the SPARQL dataset layer
    (GRAPH / FROM / graph-aware Update) directly."""
    return split_quarantine(
        parse_nquads_col(spark.read.text(path)),
        "error", F.col("err_column").alias("column"), "line",
    )


def parse_nquads_col(df: DataFrame, col: str = "value") -> DataFrame:
    """Parse a string column of N-Quads lines already in a DataFrame."""
    return df.select(F.col(col).alias("value")).mapInPandas(
        _parse_batch_nq, schema=_PARSED_NQ_SCHEMA
    )


def nq_lines(df: DataFrame) -> DataFrame:
    """Project a quads (or triples) DataFrame to canonical N-Quads
    lines: the NT term chain plus the graph label for named-graph
    rows; default-graph rows serialize as plain triples (valid
    N-Quads, and byte-identical to the N-Triples sink)."""
    s = term_nt_col(F.col("s_kind"), F.col("s_value"))
    p = F.concat(F.lit("<"), F.col("p_value"), F.lit(">"))
    o = term_nt_col(
        F.col("o_kind"), F.col("o_value"), F.col("o_lang"), F.col("o_dt")
    )
    g = (
        F.when(
            F.col("g_value").isNotNull(),
            F.concat(F.lit(" <"), F.col("g_value"), F.lit(">")),
        ).otherwise(F.lit(""))
        if "g_value" in df.columns
        else F.lit("")
    )
    return df.select(
        F.concat(s, F.lit(" "), p, F.lit(" "), o, g, F.lit(" .")).alias(
            "value"
        )
    )


def write_nquads(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Serialize a quads DataFrame as N-Quads text files (one part
    file per partition, same as the N-Triples sink)."""
    nq_lines(df).write.mode(mode).text(path)
