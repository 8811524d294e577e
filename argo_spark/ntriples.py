r"""N-Triples reader and writer (SURVEY §2.1 S1, §2.2 K1).

The grammar, term charsets and error categories replicate the
reference parser exactly (/root/reference/ntriples.go):

* IRIs: printable ASCII 0x21-0x7E excluding space, ``<``, ``"``;
  ``>`` terminates; empty IRI is an error (ntriples.go:192-211);
* blank node labels: ``[A-Za-z][A-Za-z0-9]*`` after ``_:``
  (ntriples.go:212-254);
* literal escapes ``\\ \" \t \r \n`` plus ``\uXXXX`` — and the
  reference quirk that ``\U`` is ALSO read as 4 hex digits
  (ntriples.go:370-395); we accept both spellings at 4 digits;
* language tags ``[a-z0-9-]+`` (ntriples.go:299), datatypes
  ``^^<IRI>``;
* comments start with ``#`` and run to end of line (ntriples.go:98-113);
* error categories mirror ntriples.go:44-51 with the reference's
  precise line/column accounting (first line 1, first column 0,
  column = rune index, ntriples.go:33-35).

Execution model: the reference is a single-goroutine pull parser; here
parsing is a *vectorized per-line* operator, one ``mapInArrow`` stage.
Per Arrow batch, an RE2 pass (``pyarrow.compute.extract_regex``) covers
escape-free triples and the ``RecordBatch`` is built from the match
groups in Arrow compute; only the lines it rejects (escapes, comments,
blank and null lines, malformed input) go through the char-level
Python parser, and every row keeps its place in the batch. N-Quads
(nquads.py) is this parser in quad mode: both paths accept an
optional IRI graph term after the object.
Malformed lines are quarantined as error rows instead of aborting the
stream (documented divergence: the reference stops at the first error,
ntriples.go:480-492 — at 100 TB we keep going and report).
"""

from __future__ import annotations

from typing import Iterable, Iterator, Optional

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from argo_spark.sources.documents import FLAT_DDL, split_quarantine
from argo_spark.terms import (
    KIND_BLANK,
    KIND_IRI,
    KIND_LITERAL,
    Term,
    TripleT,
    triple_nt_col,
)

# Error categories — names mirror ntriples.go:44-51.
ERR_UNEXPECTED_CHARACTER = "unexpected character"
ERR_UNEXPECTED_EOF = "unexpected end of file"
ERR_TERM_COUNT = "wrong number of terms in line"
ERR_UNTERMINATED_TRIPLE = "unterminated triple, expecting '.'"


class NTParseError(Exception):
    def __init__(self, err: str, line: int, column: int):
        super().__init__(f"line {line}, column {column}: {err}")
        self.err = err
        self.line = line
        self.column = column


def _is_iri_char(c: str) -> bool:
    # ntriples.go:207: error when r1 < 0x20 || r1 > 0x7E || ' ' | '<' | '"'
    o = ord(c)
    return not (o < 0x20 or o > 0x7E or c in ' <"')


_WS = " \t"
# unicode.IsSpace equivalent for the blank-node terminator check
_GO_SPACE = " \t\n\v\f\r\x85\xa0"


class _LineParser:
    """Char-level parser over one logical line (reference semantics).

    ``final_newline=True`` simulates the line having been terminated by
    a newline in the original stream (the spark.read.text case);
    ``False`` reproduces bare-string EOF behavior for fixture parity.
    """

    def __init__(
        self, line: str, line_no: int = 1, final_newline: bool = True,
        quads: bool = False,
    ):
        self.s = line + ("\n" if final_newline else "")
        self.i = 0
        self.line = line_no
        self.column = -1
        # N-Quads: an IRI graph label may follow the object
        self.quads = quads
        self.graph: Optional[str] = None

    def _err(self, cat: str) -> NTParseError:
        return NTParseError(cat, self.line, self.column)

    def read(self) -> Optional[str]:
        """Next char, folding \\r\\n to \\n; None at EOF (ntriples.go:161-178)."""
        if self.i >= len(self.s):
            self.column += 1
            return None
        c = self.s[self.i]
        self.i += 1
        if c == "\r" and self.i < len(self.s) and self.s[self.i] == "\n":
            c = "\n"
            self.i += 1
        self.column += 1
        return c

    def unread(self) -> None:
        self.i -= 1
        self.column -= 1

    def skip_ws(self) -> Optional[str]:
        c = self.read()
        while c is not None and c in _WS:
            c = self.read()
        return c

    def expect_ws(self) -> None:
        c = self.read()
        if c is None:
            raise self._err(ERR_UNEXPECTED_EOF)
        if c not in _WS:
            raise self._err(ERR_UNEXPECTED_CHARACTER)

    def _read_or_eof(self) -> str:
        c = self.read()
        if c is None:
            raise self._err(ERR_UNEXPECTED_EOF)
        return c

    def parse_term(self) -> Optional[Term]:
        """One term; None signals clean EOF before any content."""
        c = self.skip_ws()
        if c is None:
            # parseTerm ignores the skipWhitespace error and falls into the
            # default branch (ntriples.go:189,403-406) — mirror that:
            raise self._err(ERR_UNEXPECTED_CHARACTER)
        if c == "<":
            buf = []
            while True:
                c = self._read_or_eof()
                if c == ">":
                    if not buf:
                        raise self._err(ERR_UNEXPECTED_CHARACTER)
                    return Term(KIND_IRI, "".join(buf))
                if not _is_iri_char(c):
                    raise self._err(ERR_UNEXPECTED_CHARACTER)
                buf.append(c)
        if c == "_":
            if self._read_or_eof() != ":":
                raise self._err(ERR_UNEXPECTED_CHARACTER)
            c = self._read_or_eof()
            if not c.isascii() or not c.isalpha():
                raise self._err(ERR_UNEXPECTED_CHARACTER)
            buf = [c]
            while True:
                c = self._read_or_eof()
                if c.isascii() and (c.isalpha() or c.isdigit()):
                    buf.append(c)
                    continue
                if c == "." or c in _GO_SPACE:
                    self.unread()
                    return Term(KIND_BLANK, "".join(buf))
                raise self._err(ERR_UNEXPECTED_CHARACTER)
        if c == '"':
            buf = []
            while True:
                c = self._read_or_eof()
                if c == '"':
                    c = self._read_or_eof()
                    if c in ". \t":
                        self.unread()
                        return Term(KIND_LITERAL, "".join(buf))
                    if c == "@":
                        lang = []
                        while True:
                            c = self._read_or_eof()
                            if c in ". \t":
                                if not lang:
                                    raise self._err(ERR_UNEXPECTED_CHARACTER)
                                self.unread()
                                return Term(
                                    KIND_LITERAL, "".join(buf), lang="".join(lang)
                                )
                            if c == "-" or ("a" <= c <= "z") or ("0" <= c <= "9"):
                                lang.append(c)
                            else:
                                raise self._err(ERR_UNEXPECTED_CHARACTER)
                    if c == "^":
                        if self._read_or_eof() != "^":
                            raise self._err(ERR_UNEXPECTED_CHARACTER)
                        if self._read_or_eof() != "<":
                            raise self._err(ERR_UNEXPECTED_CHARACTER)
                        dt = []
                        while True:
                            c = self._read_or_eof()
                            if c == ">":
                                if not dt:
                                    raise self._err(ERR_UNEXPECTED_CHARACTER)
                                # readEndTriple still follows; leave cursor here
                                return Term(
                                    KIND_LITERAL, "".join(buf), dt="".join(dt)
                                )
                            if not _is_iri_char(c):
                                raise self._err(ERR_UNEXPECTED_CHARACTER)
                            dt.append(c)
                    raise self._err(ERR_UNEXPECTED_CHARACTER)
                if c == "\\":
                    c = self._read_or_eof()
                    if c in '\\"':
                        pass
                    elif c == "t":
                        c = "\t"
                    elif c == "r":
                        c = "\r"
                    elif c == "n":
                        c = "\n"
                    elif c in "uU":
                        # 4 hex digits for BOTH \u and \U (reference quirk,
                        # ntriples.go:370-395)
                        cp = 0
                        for _ in range(4):
                            h = self._read_or_eof()
                            if h in "0123456789abcdefABCDEF":
                                cp = cp * 16 + int(h, 16)
                            else:
                                raise self._err(ERR_UNEXPECTED_CHARACTER)
                        c = chr(cp)
                    else:
                        raise self._err(ERR_UNEXPECTED_CHARACTER)
                buf.append(c)
        raise self._err(ERR_UNEXPECTED_CHARACTER)

    def read_end_triple(self) -> None:
        after_object = self.column
        c = self.skip_ws()
        if self.quads and c == "<" and self.column > after_object + 1:
            # the graph label: past the object, the triple grammar stops
            # at this term's start, so every error reports there; quad
            # mode ends here, so a fifth term is an error
            start, self.quads = self.column, False
            self.unread()
            try:
                self.graph = self.parse_term().value
                self.read_end_triple()
            except NTParseError:
                raise NTParseError(ERR_UNEXPECTED_CHARACTER, self.line, start)
            return
        if c is None:
            raise self._err(ERR_UNTERMINATED_TRIPLE)
        if c != ".":
            raise self._err(ERR_UNEXPECTED_CHARACTER)
        c = self.skip_ws()
        if c is None:
            return
        if c != "\n":
            raise self._err(ERR_UNEXPECTED_CHARACTER)

    def read_triple(self) -> Optional[TripleT]:
        """One triple (the reference's Read, ntriples.go:87-156).

        Returns None for comment-only / empty-after-comment lines.
        """
        c = self.skip_ws()
        if c is None:
            return None  # empty line / EOF
        while c == "#":
            while True:
                c = self.read()
                if c is None:
                    return None
                if c == "\n":
                    break
            c = self.skip_ws()
            if c is None:
                return None
        if c == "\n":
            return None  # blank line (reference would error; we skip)
        self.unread()
        terms = []
        while True:
            t = self.parse_term()
            terms.append(t)
            if len(terms) < 3:
                self.expect_ws()
            elif len(terms) == 3:
                self.read_end_triple()
                return TripleT(*terms)
            else:
                raise self._err(ERR_TERM_COUNT)


def parse_line(
    line: str, line_no: int = 1, final_newline: bool = True
) -> Optional[TripleT]:
    """Parse one logical N-Triples line; raises NTParseError on bad input."""
    return _LineParser(line, line_no, final_newline).read_triple()


# ---------------------------------------------------------------------------
# Vectorized distributed reader
# ---------------------------------------------------------------------------

_IRI_CC = r"[\x21\x23-\x3B=\x3F-\x7E]"  # printable ASCII minus space < > "
_IRI = rf"<{_IRI_CC}+>"
_BLANK = r"_:[A-Za-z][A-Za-z0-9]*"
# an escape-free literal object; RE2 gives "" for a group that took no
# part, and lang and dt are never empty when set
_LITERAL = rf'^"(?P<lit>[^"\\]*)"(?:@(?P<lang>[a-z0-9-]+)|\^\^<(?P<dt>{_IRI_CC}+)>)?$'


def _fast_pattern(quads: bool) -> str:
    """The escape-free statement as an RE2 pattern: groups ``s`` and
    ``o`` hold whole terms, ``p`` and quad mode's optional ``g`` bare
    IRIs. One group per term part made RE2's capture pass about 4x
    slower; _LITERAL splits the literal objects instead."""
    graph = rf"(?:[ \t]+<(?P<g>{_IRI_CC}+)>)?" if quads else ""
    return (
        rf"^[ \t]*(?P<s>{_IRI}|{_BLANK})[ \t]+<(?P<p>{_IRI_CC}+)>[ \t]+"
        rf'(?P<o>{_IRI}|{_BLANK}|"[^"\\]*"(?:@[a-z0-9-]+|\^\^{_IRI})?)'
        rf"{graph}[ \t]*\.[ \t]*$"
    )


def _slow_row(line: Optional[str], quads: bool) -> Optional[tuple]:
    """One line through _LineParser as a codec row (terms, then
    ``error, err_column, line``); None for a comment or blank line."""
    none = (None,) * (8 if quads else 7)
    if line is None:
        return none + ("null line", None, None)
    parser = _LineParser(line, quads=quads)
    try:
        t = parser.read_triple()
    except NTParseError as e:
        return none + (e.err, e.column, line)
    if t is None:
        return None
    return (*t.s[:2], t.p.value, *t.o, *([parser.graph] if quads else []), None, None, None)


def _line_codec(quads: bool):
    """(batch function, schema) of the one line parser, for N-Triples
    or, with ``quads``, N-Quads (a ``g_value`` column, NULL for triple
    lines = the default graph). Per Arrow batch, one RE2 pass over the
    lines and one over their objects; only the lines it rejects go
    through _LineParser, and every row keeps its place in the batch."""
    pattern = _fast_pattern(quads)
    schema = (
        FLAT_DDL + (", g_value string" if quads else "")
        + ", error string, err_column int, line string"
    )
    types = {"tinyint": pa.int8(), "int": pa.int32(), "string": pa.string()}
    arrow = pa.schema([(c, types[t]) for c, t in (f.split() for f in schema.split(", "))])
    kind = {k: pa.scalar(k, pa.int8()) for k in (KIND_IRI, KIND_BLANK, KIND_LITERAL)}

    def given(a):
        return pc.if_else(pc.not_equal(a, ""), a, pa.scalar(None, pa.string()))

    def value(term, iri):  # <iri> -> iri, _:label -> label
        return pc.if_else(
            iri, pc.utf8_slice_codeunits(term, 1, -1), pc.utf8_slice_codeunits(term, 2)
        )

    def _parse_batch(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            lines, n = batch.column(0), len(batch)
            m = pc.extract_regex(lines, pattern)
            g = dict(zip((f.name for f in m.type), m.flatten()))  # NULL: no match
            lit, lang, dt = pc.extract_regex(g["o"], _LITERAL).flatten()
            is_lit = pc.is_valid(lit)
            s_iri, o_iri = pc.starts_with(g["s"], "<"), pc.starts_with(g["o"], "<")
            cols = [
                pc.if_else(s_iri, kind[KIND_IRI], kind[KIND_BLANK]),
                value(g["s"], s_iri),
                g["p"],
                pc.if_else(is_lit, kind[KIND_LITERAL], pc.if_else(
                    o_iri, kind[KIND_IRI], kind[KIND_BLANK])),
                pc.if_else(is_lit, lit, value(g["o"], o_iri)),
                given(lang),
                given(dt),
                *([given(g["g"])] if quads else []),
                pa.nulls(n, pa.string()), pa.nulls(n, pa.int32()), pa.nulls(n, pa.string()),
            ]
            slow = pc.is_null(g["p"])
            if pc.any(slow).as_py():
                rows = [_slow_row(ln, quads) or (None,) * len(cols)
                        for ln in lines.filter(slow).to_pylist()]
                cols = [
                    pc.replace_with_mask(c, slow, pa.array([r[i] for r in rows], c.type))
                    for i, c in enumerate(cols)
                ]
                # a comment or blank line leaves neither a term nor an error
                keep = pc.or_(pc.is_valid(cols[2]), pc.is_valid(cols[-3]))
                yield pa.RecordBatch.from_arrays(cols, schema=arrow).filter(keep)
            else:
                yield pa.RecordBatch.from_arrays(cols, schema=arrow)

    return _parse_batch, schema


def _parse_lines_col(df: DataFrame, col: str, quads: bool) -> DataFrame:
    """The Arrow-batched line parser over a string column (N-Triples,
    or N-Quads with ``quads``); every line yields a row or one
    quarantine row, and comment / blank lines yield none."""
    parse_batch, schema = _line_codec(quads)
    return df.select(F.col(col).alias("value")).mapInArrow(
        parse_batch, schema=schema
    )


def _read_lines(
    spark: SparkSession, path: str, quads: bool
) -> tuple[DataFrame, DataFrame]:
    """Line files -> (rows, quarantine with ``error, column, line``)."""
    return split_quarantine(
        _parse_lines_col(spark.read.text(path), "value", quads),
        "error", F.col("err_column").alias("column"), "line",
    )


def read_ntriples(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Read NT files into (triples_df, quarantine_df).

    Filters and projections over the result push into the text scan
    normally; parsing itself is one Arrow-batched stage.
    """
    return _read_lines(spark, path, quads=False)


def parse_ntriples_col(df: DataFrame, col: str = "value") -> DataFrame:
    """Parse a string column of NT lines already in a DataFrame."""
    return _parse_lines_col(df, col, quads=False)


# ---------------------------------------------------------------------------
# Writer (K1) — pure column expressions, byte-identical to Triple.String()
# ---------------------------------------------------------------------------

def nt_lines(df: DataFrame) -> DataFrame:
    """Project the triples DataFrame to its canonical NT lines."""
    return df.select(triple_nt_col().alias("value"))


def write_ntriples(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Serialize a triples DataFrame as N-Triples text files.

    Matches the reference's SerializeNTriples output (one
    Triple.String() per line, ntriples.go:494-505) modulo file
    splitting — Spark writes one part file per partition, which is the
    scale-out equivalent of the single stream.
    """
    nt_lines(df).write.mode(mode).text(path)
