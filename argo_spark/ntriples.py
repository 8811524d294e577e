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
parsing is a *vectorized per-line* operator — a regex fast path covers
escape-free triples entirely inside pandas/C, and only exotic lines
(escapes, comments, malformed input) hit the char-level Python parser.
N-Quads (nquads.py) is this parser in quad mode: both paths accept an
optional IRI graph term after the object.
Malformed lines are quarantined as error rows instead of aborting the
stream (documented divergence: the reference stops at the first error,
ntriples.go:480-492 — at 100 TB we keep going and report).
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator, Optional

import numpy as np
import pandas as pd

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


# ---------------------------------------------------------------------------
# Vectorized distributed reader
# ---------------------------------------------------------------------------

_IRI_CC = r"[\x21\x23-\x3B=\x3F-\x7E]"  # printable ASCII minus space < > "
_TERM_S = rf"(?:<({_IRI_CC}+)>|_:([A-Za-z][A-Za-z0-9]*))"
_TERM_O = (
    rf"(?:<({_IRI_CC}+)>|_:([A-Za-z][A-Za-z0-9]*)"
    rf'|"([^"\\]*)"(?:@([a-z0-9-]+)|\^\^<({_IRI_CC}+)>)?)'
)


def _fast_re(quads: bool) -> re.Pattern:
    """The escape-free statement. Groups: 0-1 subject IRI/blank label,
    2 predicate, 3-7 object, and in quad mode 8 the optional graph IRI."""
    graph = rf"(?:[ \t]+<({_IRI_CC}+)>)?" if quads else ""
    return re.compile(
        rf"^[ \t]*{_TERM_S}[ \t]+<({_IRI_CC}+)>[ \t]+{_TERM_O}{graph}"
        r"[ \t]*\.[ \t]*$"
    )


def _line_codec(quads: bool):
    """(batch function, schema) of the one line parser, for N-Triples
    or, with ``quads``, N-Quads (a ``g_value`` column, NULL for triple
    lines = the default graph)."""
    fast_re = _fast_re(quads)
    g_col = ["g_value"] if quads else []
    cols = [
        "s_kind", "s_value", "p_value", "o_kind", "o_value", "o_lang",
        "o_dt", *g_col, "error", "err_column", "line",
    ]
    schema = (
        FLAT_DDL + (", g_value string" if quads else "")
        + ", error string, err_column int, line string"
    )

    def _parse_batch(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lines = pdf["value"]
            m = lines.str.extract(fast_re)
            # fast-path rows: regex matched (group 2 = predicate IRI present)
            fast = m[2].notna()
            out = pd.DataFrame(index=pdf.index, columns=cols, dtype=object)
            s_kind = pd.Series(index=pdf.index, dtype="Int8")
            s_kind[m[0].notna()] = KIND_IRI
            s_kind[m[1].notna()] = KIND_BLANK
            out["s_kind"] = s_kind
            out["s_value"] = np.where(m[0].notna(), m[0], m[1])
            out["p_value"] = m[2]
            o_kind = pd.Series(index=pdf.index, dtype="Int8")
            o_kind[m[3].notna()] = KIND_IRI
            o_kind[m[4].notna()] = KIND_BLANK
            o_kind[m[5].notna()] = KIND_LITERAL
            out["o_kind"] = o_kind
            out["o_value"] = np.where(
                m[3].notna(), m[3], np.where(m[4].notna(), m[4], m[5])
            )
            out["o_lang"] = m[6]
            out["o_dt"] = m[7]
            if quads:
                out["g_value"] = m[8]
            out["error"] = None
            out["err_column"] = pd.array([None] * len(pdf), dtype="Int32")
            out["line"] = None

            slow_idx = pdf.index[~fast]
            drop = []
            for i in slow_idx:
                ln = lines[i]
                if ln is None:
                    out.loc[i, "error"] = "null line"
                    continue
                parser = _LineParser(ln, quads=quads)
                try:
                    t = parser.read_triple()
                except NTParseError as e:
                    out.loc[i, ["error", "line"]] = [e.err, ln]
                    out.loc[i, "err_column"] = e.column
                    continue
                if t is None:
                    drop.append(i)  # comment / blank line
                    continue
                out.loc[i, ["s_kind", "s_value", "p_value", "o_kind", "o_value"]] = [
                    t.s.kind, t.s.value, t.p.value, t.o.kind, t.o.value,
                ]
                out.loc[i, "o_lang"] = t.o.lang
                out.loc[i, "o_dt"] = t.o.dt
                if quads:
                    out.loc[i, "g_value"] = parser.graph
            if drop:
                out = out.drop(index=drop)
            yield out

    return _parse_batch, schema


def _parse_lines_col(df: DataFrame, col: str, quads: bool) -> DataFrame:
    """The Arrow-batched line parser over a string column (N-Triples,
    or N-Quads with ``quads``); every line yields a row or one
    quarantine row, and comment / blank lines yield none."""
    parse_batch, schema = _line_codec(quads)
    return df.select(F.col(col).alias("value")).mapInPandas(
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
