"""Parser/serializer parity with the reference fixture corpus.

Ports TestRead / TestReadMultiple / TestReadErrors semantics from
/root/reference/ntriples_test.go:122-205 onto our engine.
"""

from __future__ import annotations

import pytest

from argo_spark.ntriples import (
    NTParseError,
    nt_lines,
    parse_document,
    parse_line,
    parse_ntriples_col,
)
from argo_spark.terms import format_triple
from tests.fixtures import NEGATIVE_CASES, POSITIVE_CASES


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
