"""Basic-graph-pattern matching over the triples table (SURVEY §2.5 /
§3 E3: the reference ships a SPARQL-protocol client,
/root/reference/sparql/sparqlservice.go:43-95 — in-engine, the query
surface is Spark itself; this is the SELECT-shaped core: conjunctive
triple patterns with shared variables).

Each pattern is one scan of the triples table with its constants
pushed down (parquet row-group skipping); shared variables become
equi-join keys on the term's canonical NT form — the same string key
the reference's stores index on (indexstore.go:40-47). Catalyst
reorders/broadcasts the joins; selective patterns prune first.
"""

from __future__ import annotations

from typing import Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from argo_spark.terms import KIND_IRI, KIND_LITERAL, Term, jvm_memo, term_nt_col

Pattern = tuple  # (s, p, o): each '?var' | Term | IRI string

_POS = ("s", "p", "o")


# memoized per JVM: the three position expressions are over FIXED
# column names, and building one costs ~25 py4j round-trips — a visible
# slice of every SPARQL compile (measured: the compile-only phase of
# the algebra bench is half its wall time, almost all py4j socket reads)
@jvm_memo
def _nt_for_position(pos: str):
    if pos == "s":
        return term_nt_col(F.col("s_kind"), F.col("s_value"))
    if pos == "p":
        return F.concat(F.lit("<"), F.col("p_value"), F.lit(">"))
    return term_nt_col(
        F.col("o_kind"), F.col("o_value"), F.col("o_lang"), F.col("o_dt")
    )


def _const_cond(pos: str, term: Union[Term, str]):
    if isinstance(term, str):
        term = Term(KIND_IRI, term)
    if pos == "p":
        return F.col("p_value") == term.value
    cond = (F.col(f"{pos}_kind") == term.kind) & (
        F.col(f"{pos}_value") == term.value
    )
    if term.kind == KIND_LITERAL:
        lang = term.lang if term.lang else None
        cond = cond & F.col(f"{pos}_lang").eqNullSafe(F.lit(lang)) & F.col(
            f"{pos}_dt"
        ).eqNullSafe(F.lit(term.dt))
    return cond


# CONSTRUCT needs the four term components per binding, and a literal
# value cannot be recovered from its NT form with column expressions
# (unescaping the escape chain via ordered replaces is ambiguous for
# values containing backslash sequences) — so struct-mode planning
# carries struct(kind, value, lang, dt) columns alongside the NT join
# keys. NT lexical forms are injective, so joins/dedup on the NT
# column alone stay correct and the structs just ride along.
_TERM_STRUCT_PREFIX = "__term__"


def _struct_for_position(pos: str):
    """struct(kind, value, lang, dt) of the term at ``pos`` ("g" = the
    row's graph IRI)."""
    null = F.lit(None).cast("string")
    if pos in ("p", "g"):
        kind, value = F.lit(0).cast("tinyint"), F.col(f"{pos}_value")
    else:
        kind, value = F.col(f"{pos}_kind"), F.col(f"{pos}_value")
    lang, dt = (F.col("o_lang"), F.col("o_dt")) if pos == "o" else (null, null)
    return F.struct(
        kind.alias("kind"), value.alias("value"),
        lang.alias("lang"), dt.alias("dt"),
    )


def _bgp_plan(
    triples: DataFrame,
    patterns: Sequence[Pattern],
    graph_var: str | None = None,
    structs: bool = False,
) -> DataFrame:
    """The BGP join plan behind :func:`bgp_match` and SPARQL group
    evaluation: one constant-filtered scan per pattern, inner-joined on
    the shared variables' NT columns (cross join when none are shared).
    ``structs=True`` (CONSTRUCT/Update templates) also projects a
    ``__term__<var>`` component struct per variable, taken from the
    scan that first binds it; the structs never become join keys."""
    if not patterns:
        raise ValueError("empty pattern list")
    g_nt = (
        None if graph_var is None
        else F.concat(F.lit("<"), F.col("g_value"), F.lit(">"))
    )
    acc = None
    for pat in patterns:
        if len(pat) != 3:
            raise ValueError(f"pattern must be (s, p, o): {pat!r}")
        cond = F.lit(True)
        proj: dict[str, object] = {}
        first_pos: dict[str, str] = {}
        if graph_var is not None:
            # seeded BEFORE the position loop: the graph variable
            # reused inside the pattern constrains equality against
            # the row's graph IRI like any repeated variable
            proj[graph_var] = g_nt
            first_pos[graph_var] = "g"
        for pos, term in zip(_POS, pat):
            if isinstance(term, str) and term.startswith("?"):
                var = term[1:]
                nt = _nt_for_position(pos)
                if var in proj:  # repeated var inside the pattern
                    cond = cond & (proj[var] == nt)
                else:
                    proj[var] = nt
                    first_pos[var] = pos
            else:
                cond = cond & _const_cond(pos, term)
        cols = [c.alias(v) for v, c in proj.items()]
        if structs:
            cols += [
                _struct_for_position(pos).alias(_TERM_STRUCT_PREFIX + v)
                for v, pos in first_pos.items()
            ]
        frame = triples.where(cond).select(*cols)
        if acc is None:
            acc = frame
            continue
        shared = [c for c in frame.columns if c in acc.columns]
        if structs:
            dup = [c for c in shared if c.startswith(_TERM_STRUCT_PREFIX)]
            frame = frame.drop(*dup)
            shared = [c for c in shared if c not in dup]
        acc = acc.join(frame, on=shared, how="inner") if shared else acc.crossJoin(frame)
    return acc


def bgp_match(
    triples: DataFrame,
    patterns: Sequence[Pattern],
    distinct: bool = True,
    graph_var: str | None = None,
) -> DataFrame:
    """Conjunctive pattern match. Returns one column per variable
    (named without the '?'), holding the binding's NT lexical form.

        bgp_match(t, [("?s", RDF_TYPE, SCHEMA+"Person"),
                      ("?s", SCHEMA+"name", "?name")])

    A variable repeated within ONE pattern constrains equality there
    too (e.g. ("?x", p, "?x")). ``graph_var`` (SPARQL GRAPH ?g):
    every pattern scan additionally projects the row's ``g_value``
    as ``<IRI>`` under that name, making the graph a shared join key
    across all patterns — one hash-join plan, no per-graph loop."""
    acc = _bgp_plan(triples, patterns, graph_var)
    return acc.dropDuplicates() if distinct else acc
