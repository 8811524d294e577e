"""The seeded SPARQL mix of the ``query`` workload and its DuckDB oracle.

Each request kind is one SPARQL SELECT plus an SQL statement over the
same squished-graph parquet that yields the same solutions as raw term
columns ``(kind, value, lang, dt)`` per variable; COUNT columns are
integers. :func:`oracle_rows` formats terms as N-Triples lexical
forms, the form ``sparql_select`` returns; counts stay integers.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Iterator

from argo_spark.extract.rdfa import MENTIONS_PRED
from argo_spark.namespaces import DBP, FOAF, RDF_TYPE, SCHEMA
from argo_spark.pages import ENTITY_POOL, gen_page
from argo_spark.terms import KIND_IRI, Term, format_term

KINDS = (
    "star_bgp", "pred_count", "knows_closure", "optional_filter",
    "mentions_topk", "point_lookup", "describe_entity",
)


@dataclass(frozen=True)
class Request:
    kind: str
    sparql: str
    sql: str
    # per output column: "term" (4 raw columns) or "count" (1 column)
    shape: tuple[str, ...]


def _q(s: str) -> str:
    """SQL string literal."""
    return "'" + s.replace("'", "''") + "'"


def _obj(alias: str) -> str:
    return f"{alias}.o_kind, {alias}.o_value, {alias}.o_lang, {alias}.o_dt"


def _subj(alias: str) -> str:
    return f"{alias}.s_kind, {alias}.s_value, NULL, NULL"


def _same_subject(a: str, b: str) -> str:
    return f"{a}.s_kind = {b}.s_kind AND {a}.s_value = {b}.s_value"


def star_bgp(etype: str) -> Request:
    sparql = (
        f"SELECT ?e ?n ?h WHERE {{ ?e <{RDF_TYPE}> <{SCHEMA}{etype}> . "
        f"?e <{SCHEMA}name> ?n . ?e <{SCHEMA}url> ?h }}"
    )
    sql = (
        f"SELECT {_subj('a')}, {_obj('b')}, {_obj('c')} FROM g a "
        f"JOIN g b ON {_same_subject('a', 'b')} JOIN g c ON {_same_subject('a', 'c')} "
        f"WHERE a.p_value = {_q(RDF_TYPE)} AND a.o_kind = {KIND_IRI} "
        f"AND a.o_value = {_q(SCHEMA + etype)} "
        f"AND b.p_value = {_q(SCHEMA + 'name')} AND c.p_value = {_q(SCHEMA + 'url')}"
    )
    return Request("star_bgp", sparql, sql, ("term", "term", "term"))


def pred_count() -> Request:
    # GROUP BY over the hottest predicate of web RDFa
    sparql = f"SELECT ?t (COUNT(?s) AS ?n) WHERE {{ ?s <{RDF_TYPE}> ?t }} GROUP BY ?t"
    sql = (
        f"SELECT {_obj('g')}, count(*) FROM g WHERE p_value = {_q(RDF_TYPE)} "
        "GROUP BY ALL"
    )
    return Request("pred_count", sparql, sql, ("term", "count"))


def knows_closure(start: str) -> Request:
    knows = FOAF + "knows"
    sparql = f"SELECT ?b WHERE {{ <{start}> <{knows}>+ ?b }}"
    sql = (
        "WITH RECURSIVE r(k, v) AS ("
        f"SELECT o_kind, o_value FROM g WHERE p_value = {_q(knows)} "
        f"AND s_kind = {KIND_IRI} AND s_value = {_q(start)} "
        "UNION SELECT g.o_kind, g.o_value FROM r JOIN g "
        f"ON g.s_kind = r.k AND g.s_value = r.v AND g.p_value = {_q(knows)}) "
        "SELECT DISTINCT k, v, NULL, NULL FROM r"
    )
    return Request("knows_closure", sparql, sql, ("term",))


def optional_filter(name: str) -> Request:
    sparql = (
        f"SELECT ?e ?n ?d WHERE {{ ?e <{SCHEMA}name> ?n . "
        f"OPTIONAL {{ ?e <{SCHEMA}description> ?d }} FILTER(?n != \"{name}\") }}"
    )
    sql = (
        f"SELECT {_subj('a')}, {_obj('a')}, {_obj('d')} FROM g a "
        f"LEFT JOIN g d ON {_same_subject('a', 'd')} "
        f"AND d.p_value = {_q(SCHEMA + 'description')} "
        f"WHERE a.p_value = {_q(SCHEMA + 'name')} AND a.o_value <> {_q(name)}"
    )
    return Request("optional_filter", sparql, sql, ("term", "term", "term"))


def mentions_topk(k: int) -> Request:
    sparql = (
        f"SELECT ?e (COUNT(?pg) AS ?c) WHERE {{ ?pg <{MENTIONS_PRED}> ?e }} "
        f"GROUP BY ?e ORDER BY DESC(?c) ?e LIMIT {k}"
    )
    sql = (
        f"SELECT {_obj('g')}, count(*) AS c FROM g WHERE p_value = {_q(MENTIONS_PRED)} "
        f"GROUP BY ALL ORDER BY c DESC, o_value LIMIT {k}"
    )
    return Request("mentions_topk", sparql, sql, ("term", "count"))


def _subject_lookup(kind: str, subject: str) -> Request:
    sparql = f"SELECT ?p ?o WHERE {{ <{subject}> ?p ?o }}"
    sql = (
        f"SELECT {KIND_IRI}, p_value, NULL, NULL, {_obj('g')} FROM g "
        f"WHERE s_kind = {KIND_IRI} AND s_value = {_q(subject)}"
    )
    return Request(kind, sparql, sql, ("term", "term"))


def point_lookup(page_url: str) -> Request:
    """A page subject: a handful of triples."""
    return _subject_lookup("point_lookup", page_url)


def describe_entity(entity: str) -> Request:
    """A shared entity subject: every page that names it adds triples."""
    return _subject_lookup("describe_entity", entity)


def request(kind: str, rng: random.Random, n_pages: int) -> Request:
    """One request of ``kind`` with parameters drawn from ``rng``."""
    if kind == "star_bgp":
        return star_bgp(rng.choice(sorted({e[1] for e in ENTITY_POOL})))
    if kind == "pred_count":
        return pred_count()
    if kind == "knows_closure":
        return knows_closure(DBP + rng.choice(ENTITY_POOL)[2][0])
    if kind == "optional_filter":
        return optional_filter(rng.choice(ENTITY_POOL)[0])
    if kind == "mentions_topk":
        return mentions_topk(rng.randint(3, 8))
    if kind == "point_lookup":
        return point_lookup(gen_page(rng.randrange(n_pages))[0])
    return describe_entity(DBP + rng.choice(rng.choice(ENTITY_POOL)[2]))


def blocks(rng: random.Random, n_pages: int) -> Iterator[list[Request]]:
    """The request stream in blocks: every kind once per block, in a
    seeded order, so that a block's mix of kinds does not depend on the
    seed."""
    while True:
        yield [request(kind, rng, n_pages) for kind in rng.sample(KINDS, len(KINDS))]


def oracle_rows(con, req: Request) -> list[tuple]:
    """Solutions of ``req`` evaluated by DuckDB (connection ``con`` with
    view ``g`` over the graph), as sorted tuples of NT strings."""
    out = []
    for raw in con.execute(req.sql).fetchall():
        row, i = [], 0
        for col in req.shape:
            if col == "count":
                row.append(int(raw[i]))
                i += 1
            else:
                kind, value, lang, dt = raw[i:i + 4]
                row.append(None if value is None else format_term(Term(kind, value, lang, dt)))
                i += 4
        out.append(tuple(row))
    return sorted(out, key=repr)
