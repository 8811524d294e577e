"""Parser/serializer parity with the reference fixture corpus.

Ports TestRead / TestReadMultiple / TestReadErrors semantics from
/root/reference/ntriples_test.go:122-205 onto our engine.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from argo_spark.ntriples import (
    NTParseError,
    nt_lines,
    parse_line,
    parse_ntriples_col,
)
from argo_spark.terms import format_term, format_triple, literal
from tests.fixtures import NEGATIVE_CASES, POSITIVE_CASES, parse_document


@pytest.mark.parametrize("case", POSITIVE_CASES, ids=range(len(POSITIVE_CASES)))
def test_positive_python(case):
    text, expected = case
    triples, err = parse_document(text)
    assert err is None
    assert triples == [expected]


@pytest.mark.parametrize("case", NEGATIVE_CASES, ids=range(len(NEGATIVE_CASES)))
def test_negative_python(case):
    text, expected_err = case
    triples, err = parse_document(text)
    assert err is not None, f"expected error for {text!r}"
    assert err.err == expected_err
    assert triples == []


def test_round_trip_python():
    """serialize(parse(x)) == canonical(x) and parse(serialize(t)) == t."""
    for text, expected in POSITIVE_CASES:
        canonical = format_triple(*expected)
        t = parse_line(canonical, final_newline=False)
        assert t == expected
        assert format_triple(*t) == canonical


def test_multiline_document():
    doc = "\n".join(text for text, _ in POSITIVE_CASES) + "\n"
    triples, err = parse_document(doc)
    assert err is None
    assert triples == [t for _, t in POSITIVE_CASES]


def test_distributed_parse_and_serialize(spark):
    """Spark-side parse of the full corpus matches, and the NT-line
    column expression is byte-identical to the reference formatting."""
    lines = []
    for text, _ in POSITIVE_CASES:
        lines.extend(text.split("\n"))
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    parsed = parse_ntriples_col(df)
    good = parsed.where("error IS NULL")
    rows = [r.asDict() for r in good.collect()]
    assert len(rows) == len(POSITIVE_CASES)

    from argo_spark.terms import KIND_LITERAL, Term, TripleT

    got = set()
    for r in rows:
        o = Term(r["o_kind"], r["o_value"], r["o_lang"], r["o_dt"])
        got.add(
            format_triple(
                Term(r["s_kind"], r["s_value"]), Term(0, r["p_value"]), o
            )
        )
    expected = {format_triple(*t) for _, t in POSITIVE_CASES}
    assert got == expected

    # column-expression serializer output = Python formatter output
    triples_df = good.drop("error", "err_column", "line")
    ser = {r["value"] for r in nt_lines(triples_df).collect()}
    assert ser == expected


def test_distributed_quarantine(spark):
    single_line_negs = [
        (t, e) for t, e in NEGATIVE_CASES if "\n" not in t
    ]
    df = spark.createDataFrame([(t,) for t, _ in single_line_negs], "value string")
    parsed = parse_ntriples_col(df).cache()
    errs = {r["line"]: r["error"] for r in parsed.where("error IS NOT NULL").collect()}
    assert parsed.where("error IS NULL").count() == 0
    for text, expected_err in single_line_negs:
        if expected_err in (
            "unterminated triple, expecting '.'",
            "unexpected end of file",
        ):
            # spark.read.text lines carry an implicit newline, under which
            # the reference classifies end-of-input errors as unexpected
            # character (the '\n' itself is the offending rune)
            assert errs[text] in (expected_err, "unexpected character")
        else:
            assert errs[text] == expected_err, text


@pytest.mark.parametrize("module,fn", [
    ("argo_spark.ntriples", "parse_ntriples_col"),
    ("argo_spark.nquads", "parse_nquads_col"),
])
def test_null_line_quarantined(spark, module, fn):
    """A null line is one "null line" quarantine row; the lines next
    to it still parse."""
    import importlib

    parse = getattr(importlib.import_module(module), fn)
    df = spark.createDataFrame(
        [(None,), ("<http://a> <http://b> <http://c> .",), ("<http://a> <http://b> \"x\\ny\" .",)],
        "value string",
    )
    rows = parse(df.coalesce(1)).collect()
    assert [(r.error, r.err_column, r.line) for r in rows if r.error] == [
        ("null line", None, None)
    ]
    assert sorted((r.s_value, r.p_value, r.o_value) for r in rows if not r.error) == [
        ("http://a", "http://b", "http://c"), ("http://a", "http://b", "x\ny"),
    ]


TERM_COLS = ["s_kind", "s_value", "p_value", "o_kind", "o_value", "o_lang", "o_dt"]


@pytest.mark.parametrize("module,fn", [
    ("argo_spark.ntriples", "parse_ntriples_col"),
    ("argo_spark.nquads", "parse_nquads_col"),
])
def test_error_rows_carry_no_term(spark, module, fn):
    """Every quarantine row (a null line, a line the fast path cannot
    match, each reference negative case) has all seven term columns
    NULL, while the parsed rows next to them keep theirs."""
    import importlib

    parse = getattr(importlib.import_module(module), fn)
    lines = [
        None, "this line is not a triple at all", "<http://a> <http://b>",
        "_:x <http://b> <http://c>", '<http://a> <http://b> "open .',
        *(text for text, _ in NEGATIVE_CASES),
        "<http://a> <http://b> <http://c> .", '_:x <http://b> "y\\n" .',
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    rows = parse(df.coalesce(1)).collect()
    errors = [r for r in rows if r.error]
    assert len(errors) == len(lines) - 2
    assert [r.error for r in errors if r.line is None] == ["null line"]
    for r in errors:
        assert [r[c] for c in TERM_COLS] == [None] * 7, r
    parsed = sorted((r.s_kind, r.s_value) for r in rows if not r.error)
    assert parsed == [(0, "http://a"), (1, "x")]


# -- the Arrow codec against the per-line parser ----------------------------

_iri = st.text("abcxyz019:/#.-_%~", max_size=12).map(lambda v: f"<http://e/{v}>")
_blank = st.from_regex(r"[A-Za-z][A-Za-z0-9]{0,5}", fullmatch=True).map(lambda v: "_:" + v)
_bad_term = st.sampled_from(
    ["<>", "<http://e/a b>", "<http://e/é>", '<http://e/a"b>', "_:", "_:1a", "_:a.b", "x"]
)
_term = st.one_of(_iri, _iri, _iri, _blank, _bad_term)
_text = st.text("ab \t\r'é中λ✓.#<>", max_size=4)
_escape = st.sampled_from(["\\\\", '\\"', "\\t", "\\r", "\\n", "\\u00e9", "\\U0041", "\\u4E2D"])
_bad_escape = st.sampled_from(['"', "\\", "\\u12G4", "\\x", "\\U00"])
_body = st.one_of(_text, _text, _text, _escape, _escape, _bad_escape)
_literal = st.tuples(
    st.lists(_body, max_size=4),
    st.sampled_from(["", "", "@en", "@en-gb", "@en", "^^<http://e/dt>", "^^<http://e/dt>",
                     "@EN", "@", "^^<>", "^^http"]),
).map(lambda t: '"' + "".join(t[0]) + '"' + t[1])
# well-formed literals as the writer prints them (escapes included)
_written = st.tuples(
    st.text("ab \t\r\n\"\\'é中λ✓.#<>", max_size=8),
    st.sampled_from([None, None, "en", "en-gb"]),
    st.sampled_from([None, "http://e/dt"]),
).map(lambda t: format_term(literal(t[0], lang=t[1], dt=t[2])))
_sep = st.sampled_from([" ", " ", " ", "\t", "  ", " \t", "\t ", ""])
_end = st.sampled_from(
    [" .", " .", " .", ".", " . ", "\t.\t", " .\r", " .  ", "", " . junk", " . # c"]
)


@st.composite
def _lines(draw, quads):
    kind = draw(st.sampled_from(["stmt"] * 8 + ["comment", "blank", "null", "junk"]))
    if kind == "comment":
        return draw(st.sampled_from(["# c", "  # c é", "#"]))
    if kind == "blank":
        return draw(st.sampled_from(["", " ", "\t \t", "\r"]))
    if kind == "null":
        return None
    if kind == "junk":
        return draw(st.text(max_size=20))
    terms = [draw(_term), draw(_term), draw(st.one_of(_term, _literal, _written, _written))]
    if quads and draw(st.booleans()):
        terms.append(draw(st.one_of(_iri, _iri, _term, _literal)))
    line = draw(st.sampled_from(["", " ", "\t"])) + terms[0]
    for t in terms[1:]:
        line += draw(_sep) + t
    return line + draw(_end)


def _reference_rows(lines, quads):
    """Each line through _LineParser alone: its row, its quarantine row
    (error and column) or nothing for a comment or blank line."""
    from argo_spark.ntriples import _LineParser

    n_terms = 8 if quads else 7
    rows = []
    for ln in lines:
        if ln is None:
            rows.append((None,) * n_terms + ("null line", None, None))
            continue
        parser = _LineParser(ln, quads=quads)
        try:
            t = parser.read_triple()
        except NTParseError as e:
            rows.append((None,) * n_terms + (e.err, e.column, ln))
            continue
        if t is not None:
            g = (parser.graph,) if quads else ()
            rows.append((*t.s[:2], t.p.value, *t.o, *g, None, None, None))
    return rows


@pytest.mark.parametrize("quads", [False, True])
def test_arrow_codec_matches_line_parser(quads):
    """The Arrow codec (RE2 fast path, _LineParser for the rest) yields
    the per-line parser's rows and quarantine rows, in line order, over
    generated lines: escapes, @lang and ^^<dt>, _: labels, tabs, CR,
    comments, blank and null lines, non-ASCII, "", malformed lines and
    an N-Quads graph term."""
    import pyarrow as pa

    from argo_spark.ntriples import _line_codec

    parse_batch, _ = _line_codec(quads)

    @given(st.lists(_lines(quads), max_size=24), st.integers(1, 8))
    @settings(max_examples=400, deadline=None)
    def check(lines, size):
        batches = [
            pa.RecordBatch.from_arrays([pa.array(lines[i:i + size], pa.string())], ["value"])
            for i in range(0, len(lines), size)
        ]
        got = [tuple(r.values()) for b in parse_batch(batches) for r in b.to_pylist()]
        assert got == _reference_rows(lines, quads)

    check()
