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

Scale shape: the N-Triples line parser itself (ntriples.py) in quad
mode — one ``mapInArrow`` stage over the text scan, the RE2 fast
path with an optional graph group, and the
per-row parser with an optional graph term for escaped-literal
stragglers. The writer is pure column expressions (whole-stage
codegen), one text line per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from argo_spark.ntriples import _parse_lines_col, _read_lines
from argo_spark.terms import term_nt_col


def read_nquads(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Read N-Quads (or N-Triples) files into (quads_df, quarantine).

    The quads frame carries the eight canonical columns (NULL
    ``g_value`` = default graph) and feeds the SPARQL dataset layer
    (GRAPH / FROM / graph-aware Update) directly."""
    return _read_lines(spark, path, quads=True)


def parse_nquads_col(df: DataFrame, col: str = "value") -> DataFrame:
    """Parse a string column of N-Quads lines already in a DataFrame."""
    return _parse_lines_col(df, col, quads=True)


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
