"""Fixture corpus ported from the reference test suite.

15 positive cases — /root/reference/ntriples_test.go:28-93 — each as
(input_line, expected TripleT); 22 negative cases —
ntriples_test.go:95-119 — each as (input, expected error category from
ntriples.go:44-51). The test *data* is authoritative even though the
reference's own suite has drifted from its implementation (SURVEY §5).
Also the job counter the per-call Spark job tests share, and
parse_document, the sequential whole-document N-Triples parse the
tests read written output back with.
"""

from __future__ import annotations

from typing import Optional

from argo_spark.ntriples import (
    ERR_UNEXPECTED_CHARACTER,
    ERR_UNEXPECTED_EOF,
    ERR_UNTERMINATED_TRIPLE,
    NTParseError,
    parse_line,
)
from argo_spark.terms import TripleT, blank, iri, literal

EX = "http://example.org/"
P = iri(EX + "property")
R2 = iri(EX + "resource2")

POSITIVE_CASES: list[tuple[str, TripleT]] = [
    (
        "<http://example.org/resource1> <http://example.org/property> <http://example.org/resource2> .",
        TripleT(iri(EX + "resource1"), P, R2),
    ),
    (
        "_:anon <http://example.org/property> <http://example.org/resource2> .",
        TripleT(blank("anon"), P, R2),
    ),
    (
        "<http://example.org/resource1> <http://example.org/property> _:anon .",
        TripleT(iri(EX + "resource1"), P, blank("anon")),
    ),
    (
        " \t <http://example.org/resource3> \t <http://example.org/property>\t <http://example.org/resource2> \t.",
        TripleT(iri(EX + "resource3"), P, R2),
    ),
    (
        '<http://example.org/resource7> <http://example.org/property> "simple literal" .',
        TripleT(iri(EX + "resource7"), P, literal("simple literal")),
    ),
    (
        '<http://example.org/resource8> <http://example.org/property> "backslash:\\\\" .',
        TripleT(iri(EX + "resource8"), P, literal("backslash:\\")),
    ),
    (
        '<http://example.org/resource9> <http://example.org/property> "dquote:\\"" .',
        TripleT(iri(EX + "resource9"), P, literal('dquote:"')),
    ),
    (
        '<http://example.org/resource10> <http://example.org/property> "newline:\\n" .',
        TripleT(iri(EX + "resource10"), P, literal("newline:\n")),
    ),
    (
        '<http://example.org/resource11> <http://example.org/property> "return\\r" .',
        TripleT(iri(EX + "resource11"), P, literal("return\r")),
    ),
    (
        '<http://example.org/resource12> <http://example.org/property> "tab:\\t" .',
        TripleT(iri(EX + "resource12"), P, literal("tab:\t")),
    ),
    (
        '<http://example.org/resource16> <http://example.org/property> "\\u00E9" .',
        TripleT(iri(EX + "resource16"), P, literal("é")),
    ),
    (
        '<http://example.org/resource30> <http://example.org/property> "chat"@fr .',
        TripleT(iri(EX + "resource30"), P, literal("chat", lang="fr")),
    ),
    (
        '<http://example.org/resource31> <http://example.org/property> "chat"@en .',
        TripleT(iri(EX + "resource31"), P, literal("chat", lang="en")),
    ),
    (
        "# this is a comment \n<http://example.org/resource1> <http://example.org/property> <http://example.org/resource2> .",
        TripleT(iri(EX + "resource1"), P, R2),
    ),
    (
        "# this is a comment \n   # another comment \n<http://example.org/resource1> <http://example.org/property> <http://example.org/resource2> .",
        TripleT(iri(EX + "resource1"), P, R2),
    ),
    (
        '<http://example.org/resource7> <http://example.org/property> "typed literal"^^<http://example.org/datatype1> .',
        TripleT(
            iri(EX + "resource7"), P, literal("typed literal", dt=EX + "datatype1")
        ),
    ),
]

NEGATIVE_CASES: list[tuple[str, str]] = [
    ("<http://example.org/resource1> <http://example.org/property> <http://example.org/resource2> ", ERR_UNTERMINATED_TRIPLE),
    ("<http://example.org/resource1> <http://example.org/property> <http://example.org/resource2> ,", ERR_UNEXPECTED_CHARACTER),
    ("<http://example.org/resource1> <http://example.org/property> <http://example.org/resource2> ..", ERR_UNEXPECTED_CHARACTER),
    ("http://example.org/resource1> <http://example.org/property> <http://example.org/resource2>.", ERR_UNEXPECTED_CHARACTER),
    ("<http://example.org/resource1 <http://example.org/property> <http://example.org/resource2>.", ERR_UNEXPECTED_CHARACTER),
    ("<http://example.org/resource1><http://example.org/property> <http://example.org/resource2>.", ERR_UNEXPECTED_CHARACTER),
    ("<http://example.org/resource1> <http://example.org/property><http://example.org/resource2>.", ERR_UNEXPECTED_CHARACTER),
    ("<http://example.org/resource1> http://example.org/property> <http://example.org/resource2>.", ERR_UNEXPECTED_CHARACTER),
    ("<http://example.org/resource1> <http://example.org/property <http://example.org/resource2>.", ERR_UNEXPECTED_CHARACTER),
    ("<http://example.org/resource1> <http://example.org/property> http://example.org/resource2>.", ERR_UNEXPECTED_CHARACTER),
    ("<http://example.org/resource1> <http://example.org/property> <http://example.org/resource2.", ERR_UNEXPECTED_EOF),
    ("<http://example.org/resource1> \n<http://example.org/property> <http://example.org/resource2>.", ERR_UNEXPECTED_CHARACTER),
    ("_:foo\n <http://example.org/property> <http://example.org/resource2>.", ERR_UNEXPECTED_CHARACTER),
    ("_:0abc <http://example.org/property> <http://example.org/resource2>.", ERR_UNEXPECTED_CHARACTER),
    ("_abc <http://example.org/property> <http://example.org/resource2>.", ERR_UNEXPECTED_CHARACTER),
    ("_:a-bc <http://example.org/property> <http://example.org/resource2>.", ERR_UNEXPECTED_CHARACTER),
    ("_:abc<http://example.org/property> <http://example.org/resource2>.", ERR_UNEXPECTED_CHARACTER),
    ('_:abc <http://example.org/property> "foo"@ .', ERR_UNEXPECTED_CHARACTER),
    ('_:abc <http://example.org/property> "foo"^ .', ERR_UNEXPECTED_CHARACTER),
    ('_:abc <http://example.org/property> "foo"^^< .', ERR_UNEXPECTED_CHARACTER),
    ('_:abc <http://example.org/property> "foo"^^<> .', ERR_UNEXPECTED_CHARACTER),
    ("_:abc <> _:abc .", ERR_UNEXPECTED_CHARACTER),
    ("_:abc < > _:abc .", ERR_UNEXPECTED_CHARACTER),
]


def jobs_started(spark, group, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def parse_document(text: str) -> tuple[list[TripleT], Optional[NTParseError]]:
    """Sequential parse of a whole document, stopping at the first error —
    the reference's ParseNTriples driver behavior (ntriples.go:474-492).

    Comment lines are consumed together with the following triple, so
    line numbers match the reference's per-Read() counting closely
    enough for fixtures; used in tests, not in the distributed path.
    """
    triples: list[TripleT] = []
    lines = text.split("\n")
    for idx, ln in enumerate(lines):
        has_nl = idx < len(lines) - 1
        if ln == "" and not has_nl:
            break
        try:
            t = parse_line(ln, idx + 1, final_newline=has_nl)
        except NTParseError as e:
            return triples, e
        if t is not None:
            triples.append(t)
    return triples, None
