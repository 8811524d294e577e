"""N-Quads reader/writer (argo_spark/nquads.py).

The reference has no quad surface; this is the serialization face of
the round-5 named-graph model. The NT term grammar (byte-exact to
/root/reference/term.go:93-110, pinned in tests/fixtures.py) is
reused unchanged — these tests cover the graph-label column and the
triple/quad mixing rules."""

import os

import pytest

MIXED = """\
<http://e/a> <http://e/p> <http://e/o> <http://g/1> .
<http://e/a> <http://e/name> "Ada" .
# a comment

<http://e/b> <http://e/says> "hi \\"there\\" . <fake> ." <http://g/2> .
<http://e/c> <http://e/age> "36"^^<http://www.w3.org/2001/XMLSchema#integer> <http://g/1> .
<http://e/d> <http://e/lbl> "x"@en <http://g/3> .
_:b1 <http://e/p> _:b2 <http://g/1> .
"""

BAD = """\
<http://e/bad> <http://e/p> .
<http://e/e> <http://e/p> <http://e/o> _:bg .
<http://e/f> <http://e/p> <http://e/o> <http://g/1> <http://g/2> .
"""


def _rows(df):
    return sorted(
        (r.s_kind, r.s_value, r.p_value, r.o_kind, r.o_value,
         r.o_lang, r.o_dt, r.g_value)
        for r in df.collect()
    )


def test_read_nquads_mixed(spark, tmp_path):
    from argo_spark.nquads import read_nquads

    src = tmp_path / "in.nq"
    src.write_text(MIXED + BAD)
    quads, errs = read_nquads(spark, str(src))
    got = _rows(quads)
    assert len(got) == 6
    by_subject = {r[1]: r for r in got}
    # triple line -> default graph (NULL)
    assert by_subject["http://e/a"][7] is None or any(
        r[7] is None for r in got if r[1] == "http://e/a"
    )
    # quad with an escaped literal: the per-row parser reads the graph term
    assert by_subject["http://e/b"][4] == 'hi "there" . <fake> .'
    assert by_subject["http://e/b"][7] == "http://g/2"
    # datatype and lang survive next to a graph label
    assert by_subject["http://e/c"][6] == \
        "http://www.w3.org/2001/XMLSchema#integer"
    assert by_subject["http://e/d"][5] == "en"
    # blank nodes in s/o positions, IRI graph label
    assert by_subject["b1"][0] != 0 and by_subject["b1"][7] == "http://g/1"
    # quarantine: malformed triple, blank graph label, five terms
    assert errs.count() == 3


def test_nquads_roundtrip(spark, tmp_path):
    from argo_spark.nquads import nq_lines, read_nquads, write_nquads

    src = tmp_path / "in.nq"
    src.write_text(MIXED)
    quads, errs = read_nquads(spark, str(src))
    assert errs.count() == 0
    out = str(tmp_path / "out_nq")
    write_nquads(quads, out)
    q2, e2 = read_nquads(spark, out)
    assert e2.count() == 0
    assert _rows(q2) == _rows(quads)
    # default-graph rows serialize as plain triples (no graph term)
    lines = {r.value for r in nq_lines(quads).collect()}
    assert '<http://e/a> <http://e/name> "Ada" .' in lines


def test_nquads_triple_frame_writer(spark):
    # a g-less triples frame writes valid N-Triples-shaped lines
    from argo_spark.nquads import nq_lines
    from argo_spark.ops.graph import TripleGraph
    from argo_spark.terms import TripleT, iri, literal

    g = TripleGraph.of(
        spark,
        [TripleT(iri("http://e/a"), iri("http://e/name"),
                 literal("Ada"))],
    ).df
    assert [r.value for r in nq_lines(g).collect()] == [
        '<http://e/a> <http://e/name> "Ada" .'
    ]


def test_nquads_feeds_sparql_dataset(spark, tmp_path):
    # read .nq -> GRAPH query, no glue needed
    from argo_spark.nquads import read_nquads
    from argo_spark.ops.sparql import sparql_select

    src = tmp_path / "in.nq"
    src.write_text(MIXED)
    quads, _ = read_nquads(spark, str(src))
    out = sparql_select(
        quads,
        "SELECT ?g ?s WHERE { GRAPH ?g { ?s <http://e/p> ?o } } "
        "ORDER BY ?s",
    )
    assert sorted((r.g, r.s) for r in out.collect()) == [
        ("<http://g/1>", "<http://e/a>"),
        ("<http://g/1>", "_:b1"),
    ]


def test_nquads_registry(spark):
    from argo_spark.sinks.registry import (
        format_from_filename,
        format_from_mime,
    )

    assert format_from_filename("dump.nq").id == "nquads"
    assert format_from_filename("dump.nt").id == "ntriples"
    assert format_from_mime("application/n-quads").id == "nquads"


# One line per N-Quads shape the line parser must keep apart: quad,
# triple, escaped-literal quad (the per-row parser path), five terms,
# a blank-node graph label, an unterminated quad, a comment and a
# blank line.
PARITY_LINES = [
    "<http://e/a> <http://e/p> <http://e/o> <http://g/1> .",
    '<http://e/a> <http://e/name> "Ada"@en .',
    '<http://e/b> <http://e/says> "hi \\"there\\"\\n" <http://g/2> .',
    "<http://e/f> <http://e/p> <http://e/o> <http://g/1> <http://g/2> .",
    "<http://e/e> <http://e/p> <http://e/o> _:bg .",
    "<http://e/u> <http://e/p> <http://e/o> <http://g/1>",
    "# a comment",
    "",
]

# (s_kind, s_value, p_value, o_kind, o_value, o_lang, o_dt, g_value,
#  error, err_column, line) per parsed line, in input order
PARITY_ROWS = [
    (0, 'http://e/a', 'http://e/p', 0, 'http://e/o', None, None, 'http://g/1', None, None, None),
    (0, 'http://e/a', 'http://e/name', 2, 'Ada', 'en', None, None, None, None, None),
    (0, 'http://e/b', 'http://e/says', 2, 'hi "there"\n', None, None, 'http://g/2', None, None, None),
    (None, None, None, None, None, None, None, None, 'unexpected character', 39, '<http://e/f> <http://e/p> <http://e/o> <http://g/1> <http://g/2> .'),
    (None, None, None, None, None, None, None, None, 'unexpected character', 39, '<http://e/e> <http://e/p> <http://e/o> _:bg .'),
    (None, None, None, None, None, None, None, None, 'unexpected character', 39, '<http://e/u> <http://e/p> <http://e/o> <http://g/1>'),
]


def parity_rows(spark):
    from argo_spark.nquads import parse_nquads_col

    df = spark.createDataFrame([(ln,) for ln in PARITY_LINES], "value string")
    return [tuple(r) for r in parse_nquads_col(df.coalesce(1)).collect()]


def test_nquads_quarantine_parity(spark):
    """Parsed rows and quarantine rows (error, column, line) of every
    N-Quads line shape, as the standalone N-Quads parser produced them
    before N-Quads became the N-Triples parser with a graph term."""
    assert parity_rows(spark) == PARITY_ROWS
