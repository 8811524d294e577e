"""Grouped serializers: Turtle (K2), RDF/JSON (K4), RDF/XML (K3).

Each mirrors the reference's output layout; where the reference's
output order is Go-map-iteration-random (prefix headers, subject
blocks — e.g. /root/reference/turtleserializer.go:44,58), ours is
deterministic (sorted) — a documented divergence that makes outputs
reproducible across runs and parallelism levels.

All three group by subject. The groupings are plain shuffles on the
subject key; Turtle and RDF/JSON stay entirely in column expressions
(whole-stage codegen), RDF/XML uses one applyInPandas stage for the
nested element layout.
"""

from __future__ import annotations

from typing import Optional
from xml.sax.saxutils import escape as _xml_escape

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from argo_spark.namespaces import NAMESPACES, RDF_TYPE, split_prefix, split_prefix_base, split_prefix_local
from argo_spark.terms import (
    KIND_BLANK,
    KIND_IRI,
    KIND_LITERAL,
    escape_literal_col,
    term_nt_col,
)


# ceiling for the driver-side *_string serializers: a graph larger
# than this belongs to the distributed writers (write_turtle /
# write_rdfxml / write_squirtle / rdfjson_lines), not one driver string
STRING_MAX_ROWS = 1_000_000


def _collect_guarded(df: DataFrame, max_rows: Optional[int], tag: str) -> list:
    """Driver-side collect with an explicit contract: the *_string
    forms exist for tests and small graphs, so pulling more than
    ``max_rows`` rows to the driver fails loudly (mirrors the loop
    interpreter's program-size guard) instead of flooding memory."""
    if max_rows is None:
        return df.collect()
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{tag}: more than {max_rows} rows — use the distributed "
            "writer for graphs this size"
        )
    return rows


def _prefix_map_col(prefixes: dict[str, str]) -> Column:
    """base_uri -> prefix literal map column (broadcast-sized, ~40
    entries — the static table replacing prefix.cc lookups)."""
    pairs = []
    for prefix, base in sorted(prefixes.items()):
        pairs.append(F.lit(base))
        pairs.append(F.lit(prefix))
    return F.create_map(*pairs)


# A conservative subset of Turtle's PN_LOCAL that extract/turtle.py
# lexes back as the same local name: ASCII word chars, inner '.' and
# '-', no leading '.'/'-' and no trailing '.' (statement punctuation).
_PN_LOCAL_SAFE = r"^([A-Za-z0-9_]([A-Za-z0-9_.-]*[A-Za-z0-9_-])?)?$"


def _qname_or_iri(value: Column, pmap: Column) -> Column:
    """Turtle term encoding for IRIs: ``prefix:local`` when the
    split_prefix base is bound (turtleserializer.go:18-27) AND the
    local is a safe PN_LOCAL, else ``<uri>``. The reference abbreviates
    unconditionally, so ``dbp:London_(England)`` would not re-parse;
    we diverge as the Squirtle writer does (_local_is_safe)."""
    local = split_prefix_local(value)
    prefix = F.element_at(pmap, split_prefix_base(value))
    return F.when(
        prefix.isNotNull() & local.rlike(_PN_LOCAL_SAFE),
        F.concat(prefix, F.lit(":"), local),
    ).otherwise(F.concat(F.lit("<"), value, F.lit(">")))


def _turtle_term(kind: Column, value: Column, lang, dt, pmap: Column) -> Column:
    lit_body = F.concat(F.lit('"'), escape_literal_col(value), F.lit('"'))
    if lang is not None:
        lit_full = (
            F.when(
                lang.isNotNull() & (lang != F.lit("")),
                F.concat(lit_body, F.lit("@"), lang),
            )
            .when(dt.isNotNull(), F.concat(lit_body, F.lit("^^<"), dt, F.lit(">")))
            .otherwise(lit_body)
        )
    else:
        lit_full = lit_body
    return (
        F.when(kind == KIND_IRI, _qname_or_iri(value, pmap))
        .when(kind == KIND_BLANK, F.concat(F.lit("_:"), value))
        .otherwise(lit_full)
    )


def turtle_blocks(
    df: DataFrame, prefixes: Optional[dict[str, str]] = None
) -> DataFrame:
    """One row per subject: the Turtle block

        S\\n  p1 o1 ;\\n  p2 o2 ;\\n  .\\n

    — the reference's exact block layout including the trailing ``;``
    after EVERY p-o pair (turtleserializer.go:58-81). p-o lines sorted
    for determinism. Written via .text each row gains the final
    newline, reproducing the blank line between blocks."""
    pmap = _prefix_map_col(prefixes if prefixes is not None else NAMESPACES)
    s_enc = _turtle_term(F.col("s_kind"), F.col("s_value"), None, None, pmap)
    p_enc = _qname_or_iri(F.col("p_value"), pmap)
    o_enc = _turtle_term(
        F.col("o_kind"), F.col("o_value"), F.col("o_lang"), F.col("o_dt"), pmap
    )
    line = F.concat(F.lit("  "), p_enc, F.lit(" "), o_enc, F.lit(" ;"))
    return (
        df.select(s_enc.alias("s_enc"), line.alias("line"))
        .groupBy("s_enc")
        .agg(F.array_sort(F.collect_list("line")).alias("lines"))
        .select(
            F.concat(
                F.col("s_enc"),
                F.lit("\n"),
                F.array_join("lines", "\n"),
                F.lit("\n  .\n"),
            ).alias("block")
        )
    )


def turtle_header(prefixes: Optional[dict[str, str]] = None) -> str:
    p = prefixes if prefixes is not None else NAMESPACES
    return (
        "".join(
            f"@prefix {prefix}: <{base}> .\n" for prefix, base in sorted(p.items())
        )
        + "\n"
    )


def turtle_string(
    df: DataFrame, prefixes: Optional[dict[str, str]] = None,
    max_rows: Optional[int] = STRING_MAX_ROWS,
) -> str:
    """Whole document as ONE DRIVER-SIDE string (tests / small graphs;
    size-guarded — write_turtle is the distributed form)."""
    rows = _collect_guarded(turtle_blocks(df, prefixes), max_rows, "turtle_string")
    return turtle_header(prefixes) + "\n".join(sorted(r.block for r in rows))


def _write_driver_file(spark, path: str, text: str) -> None:
    """Write ``text`` as one UTF-8 file from the driver through the
    Hadoop FileSystem API, so it lands on the same filesystem as the
    part files (hdfs://, s3a://, file:…) without starting a Spark job.
    Whatever is already at ``path`` is replaced, including a directory
    (the sidecar layout of older writes), as ``mode="overwrite"`` would."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)
    out = fs.create(hpath, False)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def write_turtle(
    df: DataFrame, path: str, prefixes: Optional[dict[str, str]] = None,
    mode: str = "overwrite",
) -> None:
    """Distributed Turtle: block rows as text (each row ends with the
    inter-block blank line once .text appends its newline); the prefix
    header goes to the ``<path>._prefixes`` sidecar file, since a
    distributed write cannot say which part file comes first."""
    turtle_blocks(df, prefixes).select(F.col("block").alias("value")).write.mode(
        mode
    ).text(path)
    _write_driver_file(
        df.sparkSession, path.rstrip("/") + "._prefixes",
        turtle_header(prefixes).rstrip("\n") + "\n",
    )


# ---------------------------------------------------------------------------
# TriG (round 5) — the Turtle analogue for the quad model. No
# reference counterpart (argo's Graph is single-graph); the per-
# subject block layout (trailing-';' quirk included) is reused from
# turtle_blocks so the default graph serializes byte-identically to
# the Turtle sink.
# ---------------------------------------------------------------------------


def trig_blocks(
    df: DataFrame, prefixes: Optional[dict[str, str]] = None
) -> DataFrame:
    """One row per (graph, subject): the subject's Turtle block,
    wrapped in ``<g> { ... }`` for named-graph rows and bare for the
    default graph. TriG allows a graph label to repeat across blocks
    (triples accumulate), so each row is independently valid — the
    distributed form needs no per-graph grouping beyond the subject
    aggregation, and a 100-TB graph never has to fit one task."""
    pmap = _prefix_map_col(prefixes if prefixes is not None else NAMESPACES)
    s_enc = _turtle_term(F.col("s_kind"), F.col("s_value"), None, None, pmap)
    p_enc = _qname_or_iri(F.col("p_value"), pmap)
    o_enc = _turtle_term(
        F.col("o_kind"), F.col("o_value"), F.col("o_lang"), F.col("o_dt"), pmap
    )
    g = (
        F.col("g_value")
        if "g_value" in df.columns
        else F.lit(None).cast("string")
    )
    line = F.concat(F.lit("  "), p_enc, F.lit(" "), o_enc, F.lit(" ;"))
    blocks = (
        df.select(
            g.alias("g_value"), s_enc.alias("s_enc"), line.alias("line")
        )
        .groupBy("g_value", "s_enc")
        .agg(F.array_sort(F.collect_list("line")).alias("lines"))
        .select(
            "g_value",
            F.concat(
                F.col("s_enc"),
                F.lit("\n"),
                F.array_join("lines", "\n"),
                F.lit("\n  ."),
            ).alias("body"),
        )
    )
    return blocks.select(
        F.when(
            F.col("g_value").isNotNull(),
            F.concat(
                F.lit("<"), F.col("g_value"), F.lit("> {\n"),
                F.col("body"), F.lit("\n}\n"),
            ),
        )
        .otherwise(F.concat(F.col("body"), F.lit("\n")))
        .alias("block")
    )


def trig_string(
    df: DataFrame, prefixes: Optional[dict[str, str]] = None,
    max_rows: Optional[int] = STRING_MAX_ROWS,
) -> str:
    """Whole TriG document as ONE DRIVER-SIDE string (tests / small
    graphs; size-guarded — write_trig is the distributed form)."""
    rows = _collect_guarded(trig_blocks(df, prefixes), max_rows, "trig_string")
    return turtle_header(prefixes) + "\n".join(sorted(r.block for r in rows))


def write_trig(
    df: DataFrame, path: str, prefixes: Optional[dict[str, str]] = None,
    mode: str = "overwrite",
) -> None:
    """Distributed TriG: block rows as text; prefix header sidecar as
    in the Turtle sink."""
    trig_blocks(df, prefixes).select(F.col("block").alias("value")).write.mode(
        mode
    ).text(path)
    _write_driver_file(
        df.sparkSession, path.rstrip("/") + "._prefixes",
        turtle_header(prefixes).rstrip("\n") + "\n",
    )


# ---------------------------------------------------------------------------
# RDF/JSON (K4) — Talis shape, valid-JSON variant
# ---------------------------------------------------------------------------

def rdfjson_lines(df: DataFrame) -> DataFrame:
    """One JSON object per subject:
    ``{"<s>": {"<p>": [{"type": ..., "value": ..., ...}]}}``.

    Shape per /root/reference/json.go:26-99 with the documented fixes:
    valid double-quoted JSON and proper value escaping (the reference
    emits single quotes and raw values, json.go:38,58,80-92). Subject/
    predicate keys are the NT lexical forms — the IndexStore grouping
    keys the reference serializer iterates (indexstore.go:40-47)."""
    s_key = term_nt_col(F.col("s_kind"), F.col("s_value"))
    p_key = F.concat(F.lit("<"), F.col("p_value"), F.lit(">"))
    obj = F.struct(
        F.when(F.col("o_kind") == KIND_IRI, F.lit("uri"))
        .when(F.col("o_kind") == KIND_BLANK, F.lit("bnode"))
        .otherwise(F.lit("literal"))
        .alias("type"),
        F.when(
            F.col("o_kind") == KIND_BLANK, F.concat(F.lit("_:"), F.col("o_value"))
        )
        .otherwise(F.col("o_value"))
        .alias("value"),
        F.when(
            (F.col("o_kind") == KIND_LITERAL)
            & F.col("o_lang").isNotNull()
            & (F.col("o_lang") != ""),
            F.col("o_lang"),
        ).alias("lang"),
        F.when(
            (F.col("o_kind") == KIND_LITERAL)
            & (F.col("o_lang").isNull() | (F.col("o_lang") == ""))
            & F.col("o_dt").isNotNull(),
            F.col("o_dt"),
        ).alias("datatype"),
    )
    per_pred = (
        df.select(s_key.alias("s_key"), p_key.alias("p_key"), obj.alias("obj"))
        .groupBy("s_key", "p_key")
        .agg(F.array_sort(F.collect_list("obj")).alias("objs"))
    )
    per_subj = per_pred.groupBy("s_key").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("p_key", "objs")))
        ).alias("preds")
    )
    return per_subj.select(
        F.col("s_key"),
        F.to_json(F.map_from_entries(F.array(F.struct("s_key", "preds")))).alias(
            "json"
        ),
    )


def rdfjson_string(df: DataFrame, max_rows: Optional[int] = STRING_MAX_ROWS) -> str:
    """Whole graph as one valid-JSON DRIVER-SIDE document (tests /
    small graphs; size-guarded — rdfjson_lines is the distributed
    form)."""
    rows = _collect_guarded(rdfjson_lines(df), max_rows, "rdfjson_string")
    lines = sorted(r.json for r in rows)
    inner = ",".join(ln[1:-1] for ln in lines)
    return "{" + inner + "}"


# ---------------------------------------------------------------------------
# RDF/XML (K3)
# ---------------------------------------------------------------------------

def _xml(s: str) -> str:
    return _xml_escape(s, {'"': "&quot;"})


def rdfxml_blocks(
    df: DataFrame, prefixes: Optional[dict[str, str]] = None
) -> DataFrame:
    """One row per subject: the ``<Type rdf:about=...>...</Type>``
    element per /root/reference/rdfxml.go:181-333. The element name is
    ONE extracted rdf:type (the reference takes the first seen,
    rdfxml.go:189-198 — ours is the deterministic minimum); remaining
    triples become property elements."""
    p = prefixes if prefixes is not None else NAMESPACES
    pmap = {base: prefix for prefix, base in p.items()}

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        s_kind, s_value = key
        if s_kind == KIND_IRI:
            subj_attr = f'rdf:about="{_xml(s_value)}"'
        else:
            subj_attr = f'rdf:nodeID="{_xml(s_value)}"'

        type_iri = None
        rows = pdf.sort_values(["p_value", "o_kind", "o_value"]).to_dict("records")
        rest = []
        for r in rows:
            if (
                type_iri is None
                and r["p_value"] == RDF_TYPE
                and r["o_kind"] == KIND_IRI
            ):
                type_iri = r["o_value"]
                continue
            rest.append(r)

        def qname(uri):
            base, name = split_prefix(uri)
            pref = pmap.get(base)
            if pref is not None:
                return f"{_xml(pref)}:{_xml(name)}", None
            return _xml(name), base

        if type_iri is not None:
            tq, tbase = qname(type_iri)
            opening = (
                f'  <{tq} xmlns="{_xml(tbase)}" {subj_attr}>\n'
                if tbase
                else f"  <{tq} {subj_attr}>\n"
            )
            closing = f"  </{tq}>\n"
        else:
            opening = f"  <rdf:Description {subj_attr}>\n"
            closing = "  </rdf:Description>\n"

        parts = [opening]
        for r in rest:
            pq, pbase = qname(r["p_value"])
            head = (
                f'    <{pq} xmlns="{_xml(pbase)}"' if pbase else f"    <{pq}"
            )
            if r["o_kind"] == KIND_IRI:
                parts.append(f'{head} rdf:resource="{_xml(r["o_value"])}" />\n')
            elif r["o_kind"] == KIND_BLANK:
                parts.append(f'{head} rdf:nodeID="{_xml(r["o_value"])}" />\n')
            else:
                attrs = ""
                if r["o_lang"]:
                    attrs = f' xml:lang="{_xml(r["o_lang"])}"'
                elif r["o_dt"] is not None:
                    attrs = f' rdf:datatype="{_xml(r["o_dt"])}"'
                parts.append(f'{head}{attrs}>{_xml(r["o_value"])}</{pq}>\n')
        parts.append(closing)
        return pd.DataFrame({"block": ["".join(parts)]})

    return df.groupBy("s_kind", "s_value").applyInPandas(render, schema="block string")


def rdfxml_header(prefixes: Optional[dict[str, str]] = None) -> str:
    p = prefixes if prefixes is not None else NAMESPACES
    lines = ['<rdf:RDF\n  xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n']
    for prefix, base in sorted(p.items()):
        if prefix != "rdf":
            lines.append(f'  xmlns:{_xml(prefix)}="{_xml(base)}"\n')
    lines.append(">\n")
    return "".join(lines)


def rdfxml_string(
    df: DataFrame, prefixes: Optional[dict[str, str]] = None,
    max_rows: Optional[int] = STRING_MAX_ROWS,
) -> str:
    """DRIVER-SIDE string form (size-guarded; write_rdfxml is the
    distributed form)."""
    rows = _collect_guarded(rdfxml_blocks(df, prefixes), max_rows, "rdfxml_string")
    return rdfxml_header(prefixes) + "".join(sorted(r.block for r in rows)) + "</rdf:RDF>\n"


def write_rdfxml(
    df: DataFrame, path: str, prefixes: Optional[dict[str, str]] = None,
    mode: str = "overwrite",
) -> None:
    """Distributed RDF/XML: every output part file is a COMPLETE
    ``<rdf:RDF>`` document (header + that partition's subject blocks +
    footer), so a directory of parts round-trips through
    ``read_rdfxml`` (one document per file) — the sharded analogue of
    the reference's single serialized stream (rdfxml.go:181-333).
    Empty partitions emit a valid empty document."""
    header = rdfxml_header(prefixes).rstrip("\n")
    footer = "</rdf:RDF>"
    blocks = rdfxml_blocks(df, prefixes)

    def wrap(batches):
        yield pd.DataFrame({"value": [header]})
        for pdf in batches:
            yield pd.DataFrame({"value": pdf["block"].str.rstrip("\n")})
        yield pd.DataFrame({"value": [footer]})

    blocks.mapInPandas(wrap, schema="value string").write.mode(mode).text(path)


# ---------------------------------------------------------------------------
# Squirtle (K5) — /root/reference/squirtleserializer.go:8-104
# ---------------------------------------------------------------------------

import re as _re

# Locals the parser can lex back as a postfix identifier: word chars
# only ([A-Za-z0-9_-], alpha/_ start — squirtle.py _is_word), not the
# keyword-shaped words _postfix_identifier rejects ("include"/"new")
# and not the lexer's special DOUBLE words ("inf"/"nan"). Anything
# else ('.', '%', '~', digits-first — common in real-world IRIs like
# schema.org terms) must fall back to <uri> or the output would fail
# to re-parse. The REFERENCE serializer has this flaw
# (squirtleserializer.go:13-24 emits prefix:local unconditionally);
# we diverge to keep the advertised round-trip guarantee.
_SAFE_LOCAL = _re.compile(r"[A-Za-z_][A-Za-z0-9_-]*\Z")
_UNSAFE_WORDS = frozenset({"include", "new", "inf", "nan"})


def _local_is_safe(local: str) -> bool:
    return bool(_SAFE_LOCAL.match(local)) and local.lower() not in _UNSAFE_WORDS


def _squirtle_term(t_kind: int, value: str, lang, dt, pmap: dict) -> str:
    """encodeTerm: IRIs as prefix:local when the split-prefix base is
    bound AND the local part survives the parser's identifier charset,
    else <uri>; literals/bnodes as their NT forms
    (squirtleserializer.go:13-34)."""
    from argo_spark.terms import Term, format_term

    if t_kind == KIND_IRI:
        base, local = split_prefix(value)
        prefix = pmap.get(base)
        if prefix is not None and _local_is_safe(local):
            return f"{prefix}:{local}"
        return f"<{value}>"
    return format_term(Term(t_kind, value, lang, dt))


def squirtle_string(
    df: DataFrame, prefixes: Optional[dict[str, str]] = None,
    max_rows: Optional[int] = STRING_MAX_ROWS,
) -> str:
    """Whole DRIVER-SIDE document, recursive-inlining layout
    (squirtleserializer.go:36-78): an object that has its own subject
    block is inlined as a nested description and removed from the
    top level. Go map iteration is random; ours sorts names and
    subjects (the repo-wide determinism divergence). Size-guarded —
    inlining needs the whole graph on one node, so graphs beyond
    ``max_rows`` must use the distributed flat-block writer
    (write_squirtle / squirtle_blocks)."""
    p = prefixes if prefixes is not None else NAMESPACES
    pmap = {base: prefix for prefix, base in p.items()}

    by_subject: dict[str, list] = {}
    order: list[str] = []
    for r in _collect_guarded(df, max_rows, "squirtle_string"):
        s_enc = _squirtle_term(r.s_kind, r.s_value, None, None, pmap)
        if s_enc not in by_subject:
            by_subject[s_enc] = []
            order.append(s_enc)
        by_subject[s_enc].append(r)

    out: list[str] = []
    for prefix, base in sorted(p.items()):
        out.append(f"name <{base}> as {prefix}\n")
    out.append("\n")

    def describe(subject: str, rows: list, ind: str) -> None:
        out.append(f"{subject} {{\n")
        for r in rows:
            pe = _squirtle_term(KIND_IRI, r.p_value, None, None, pmap)
            oe = _squirtle_term(r.o_kind, r.o_value, r.o_lang, r.o_dt, pmap)
            out.append(f"{ind}  {pe} ")
            nested = by_subject.pop(oe, None)
            if nested is not None:
                describe(oe, nested, ind + "  ")
            else:
                out.append(oe + "\n")
        out.append(f"{ind}}}\n")

    for s_enc in sorted(order):
        rows = by_subject.pop(s_enc, None)
        if rows is not None:
            describe(s_enc, rows, "")
    return "".join(out)


def squirtle_blocks(
    df: DataFrame, prefixes: Optional[dict[str, str]] = None
) -> DataFrame:
    """Distributed flat variant: one ``subject { ... }`` block row per
    subject, no cross-subject inlining (inlining needs the whole graph
    on one node; flat blocks parse back identically)."""
    p = prefixes if prefixes is not None else NAMESPACES
    pmap_col = _prefix_map_col(p)

    def enc(kind, value, lang=None, dt=None):
        base = split_prefix_base(value)
        local = split_prefix_local(value)
        prefix = F.element_at(pmap_col, base)
        # same safe-local rule as _local_is_safe (parser charset)
        local_ok = local.rlike(r"^[A-Za-z_][A-Za-z0-9_-]*$") & ~F.lower(
            local
        ).isin(*_UNSAFE_WORDS)
        as_iri = F.when(
            prefix.isNotNull() & local_ok, F.concat(prefix, F.lit(":"), local)
        ).otherwise(F.concat(F.lit("<"), value, F.lit(">")))
        if lang is None:
            return F.when(kind == KIND_IRI, as_iri).otherwise(
                F.concat(F.lit("_:"), value)
            )
        return (
            F.when(kind == KIND_IRI, as_iri)
            .when(kind == KIND_BLANK, F.concat(F.lit("_:"), value))
            .otherwise(
                F.concat(
                    F.lit('"'), escape_literal_col(value), F.lit('"'),
                    F.when(
                        lang.isNotNull() & (lang != F.lit("")),
                        F.concat(F.lit("@"), lang),
                    )
                    .when(dt.isNotNull(), F.concat(F.lit("^^<"), dt, F.lit(">")))
                    .otherwise(F.lit("")),
                )
            )
        )

    s_enc = enc(F.col("s_kind"), F.col("s_value"))
    line = F.concat(
        F.lit("  "),
        enc(F.lit(KIND_IRI).cast("tinyint"), F.col("p_value")),
        F.lit(" "),
        enc(F.col("o_kind"), F.col("o_value"), F.col("o_lang"), F.col("o_dt")),
    )
    return (
        df.select(s_enc.alias("s_enc"), line.alias("line"))
        .groupBy("s_enc")
        .agg(F.array_sort(F.collect_list("line")).alias("lines"))
        .select(
            F.concat(
                F.col("s_enc"), F.lit(" {\n"),
                F.array_join("lines", "\n"), F.lit("\n}\n"),
            ).alias("block")
        )
    )


def squirtle_header(prefixes: Optional[dict[str, str]] = None) -> str:
    p = prefixes if prefixes is not None else NAMESPACES
    return "".join(
        f"name <{base}> as {prefix}\n" for prefix, base in sorted(p.items())
    ) + "\n"


def write_squirtle(
    df: DataFrame, path: str, prefixes: Optional[dict[str, str]] = None,
    mode: str = "overwrite",
) -> None:
    """Distributed Squirtle: every part file is a complete document —
    name headers + that partition's flat subject blocks — so a
    directory of parts round-trips through read_squirtle."""
    header = squirtle_header(prefixes).rstrip("\n")
    blocks = squirtle_blocks(df, prefixes)

    def wrap(batches):
        yield pd.DataFrame({"value": [header]})
        for pdf in batches:
            yield pd.DataFrame({"value": pdf["block"].str.rstrip("\n")})

    blocks.mapInPandas(wrap, schema="value string").write.mode(mode).text(path)


def select_tsv_lines(bindings: DataFrame) -> DataFrame:
    """SPARQL 1.1 TSV result rows (one ``value`` column): NT-form
    terms joined by tabs, unbound as the empty string. The variable
    header lives in the ``_VARS`` sidecar (see write_select_tsv) —
    a distributed write cannot guarantee which part file is first."""
    from pyspark.sql import functions as F

    cols = [
        F.coalesce(F.col(c), F.lit("")) for c in bindings.columns
    ]
    return bindings.select(F.concat_ws("\t", *cols).alias("value"))


def write_select_tsv(bindings: DataFrame, path: str,
                     mode: str = "overwrite") -> None:
    """Distributed SPARQL-TSV export: data rows as text part files
    plus a driver-written ``_VARS`` sidecar holding the tab-joined
    ``?var`` header (the spec's first line; kept out of the part
    files so parallel writes stay order-independent)."""
    header = "\t".join("?" + c for c in bindings.columns)
    select_tsv_lines(bindings).write.mode(mode).text(path)
    _write_driver_file(bindings.sparkSession, path.rstrip("/") + "/_VARS", header + "\n")
