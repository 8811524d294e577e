"""The shared document stage and quarantine split
(sources/documents.py), pinned across every reader that uses them."""

from __future__ import annotations

import gzip

import pytest

RDFXML_GOOD = (
    '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
    'xmlns:e="http://e/"><rdf:Description rdf:about="http://e/s">'
    "<e:p>good</e:p></rdf:Description></rdf:RDF>"
)


def _warc(html: bytes) -> bytes:
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    return gzip.compress(
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://e/page"
        b"\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "
        + str(len(http)).encode() + b"\r\n\r\n" + http + b"\r\n\r\n"
    )


# format id -> (good document, malformed document, error columns)
QUARANTINING = {
    "ntriples": (
        '<http://e/s> <http://e/p> "good" .\n', "not a triple\n",
        ["error", "column", "line"],
    ),
    "nquads": (
        '<http://e/s> <http://e/p> "good" <http://e/g> .\n', "not a quad\n",
        ["error", "column", "line"],
    ),
    "turtle": (
        '<http://e/s> <http://e/p> "good" .\n', "<http://e/s> <http://e/p> .\n",
        ["path", "error"],
    ),
    "trig": (
        '<http://e/g> { <http://e/s> <http://e/p> "good" . }\n',
        '<http://e/g> { <http://e/s> <http://e/p> "good" .\n',
        ["path", "error"],
    ),
    "json": (
        '{"http://e/s": {"http://e/p": [{"type": "literal", "value": "good"}]}}',
        '{"http://e/s": [',
        ["path", "error"],
    ),
    "rdfxml": (RDFXML_GOOD, "<rdf:RDF", ["path", "error"]),
    "squirtle": (
        '<http://e/s> { <http://e/p> "good" }\n', '<http://e/s> { <http://e/p> "good"\n',
        ["path", "error"],
    ),
    "loop": (
        'func <http://e/f> rdfs:label "good"\n',
        "func <http://e/g>() { <http://e/p>(<http://e/a> 3.f) }\n",
        ["path", "error"],
    ),
    "warc": (
        _warc(
            b'<html><body><div about="http://e/s">'
            b'<span property="http://e/p">good</span></div></body></html>'
        ),
        b"not a warc at all",
        ["path", "error"],
    ),
}


@pytest.mark.parametrize("fmt_id", sorted(QUARANTINING))
def test_read_source_quarantines_one_bad_document(spark, tmp_path, fmt_id):
    """Every quarantining registry reader, through cli.read_source: the
    good document's triples come through and the malformed one is one
    error row with the reader's error columns. The split counts the
    error while the triples are read: unknown before any action, 1
    after a collect that parsed every document."""
    from argo_spark.cli import read_source
    from argo_spark.sources.documents import parse_error_count

    good, bad, error_cols = QUARANTINING[fmt_id]
    for name, doc in (("good", good), ("bad", bad)):
        (tmp_path / name).write_bytes(
            doc if isinstance(doc, bytes) else doc.encode()
        )
    triples, errors = read_source(spark, str(tmp_path), fmt_id)
    assert parse_error_count(errors) is None
    assert "good" in {r.o_value for r in triples.collect()}
    assert parse_error_count(errors) == 1
    assert errors.columns == error_cols
    assert errors.count() == 1


def test_read_source_rdfa_has_no_quarantine(spark, tmp_path):
    from argo_spark.cli import read_source

    (tmp_path / "p.html").write_text(
        '<html><body><div about="http://e/s">'
        '<span property="http://e/p">good</span></div></body></html>'
    )
    triples, errors = read_source(spark, str(tmp_path / "p.html"))
    assert errors is None
    assert "good" in {r.o_value for r in triples.collect()}


def _parse_col(fmt_id):
    from argo_spark.extract import rdfjson, rdfxml, squirtle, turtle

    return {
        "rdfxml": rdfxml.parse_rdfxml_col,
        "squirtle": squirtle.parse_squirtle_col,
        "turtle": turtle.parse_turtle_col,
        "trig": turtle.parse_trig_col,
        "json": rdfjson.parse_rdfjson_col,
    }[fmt_id]


@pytest.mark.parametrize(
    "fmt_id", ["json", "rdfxml", "squirtle", "trig", "turtle"]
)
def test_parse_col_null_document_quarantined(spark, fmt_id):
    """A null document becomes one "null document" quarantine row, not
    a task failure, and the good document beside it still parses."""
    good = QUARANTINING[fmt_id][0]
    df = spark.createDataFrame(
        [(good, "k1"), (None, "k2")], "value string, key string"
    )
    out = _parse_col(fmt_id)(df)
    key = "path" if "path" in out.columns else "key"
    errs = out.where("error IS NOT NULL").collect()
    assert [(r[key], r.error) for r in errs] == [("k2", "null document")]
    assert "good" in {
        r.o_value for r in out.where("error IS NULL").collect()
    }
