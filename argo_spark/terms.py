"""Canonical RDF term model and N-Triples lexical forms.

The byte-compatibility keystone: every formatting rule here replicates
the reference exactly —

* literal escaping: ``\\`` then ``"`` then LF, CR, TAB, in that order,
  wrapped in double quotes, then ``@lang`` if language set else
  ``^^<dt>`` if datatype set  (/root/reference/term.go:93-110);
* resources are ``<uri>`` with NO escaping (/root/reference/term.go:49-51);
* blank nodes are ``_:id`` (/root/reference/term.go:154-156);
* a triple joins the three lexical forms with single spaces and
  appends `` .``  (/root/reference/triple.go:43-60).

Terms are stored flattened in the triples DataFrame (no nested struct
shuffle cost): ``s_kind, s_value, p_value, o_kind, o_value, o_lang,
o_dt``.  Subjects are never literals and predicates are always IRIs —
guaranteed by every reference parser (rdfxml.go:107-117,
rdfaparser.go:85-95), so those positions need no lang/dt columns.

Both a pure-Python API (used inside Arrow-batch extractors and in
tests) and a Column-expression API (used in distributed plans — stays
in whole-stage codegen, no Python in the hot path) are provided.
"""

from __future__ import annotations

import functools
import hashlib
import weakref
from typing import Callable, NamedTuple, Optional, Union

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

# Term kinds (tinyint in the triples schema).
KIND_IRI = 0
KIND_BLANK = 1
KIND_LITERAL = 2


class Term(NamedTuple):
    """A flattened RDF term: IRI, blank node, or literal."""

    kind: int
    value: str
    lang: Optional[str] = None
    dt: Optional[str] = None  # datatype IRI


def iri(value: str) -> Term:
    return Term(KIND_IRI, value)


def blank(label: str) -> Term:
    return Term(KIND_BLANK, label)


def literal(value: str, lang: Optional[str] = None, dt: Optional[str] = None) -> Term:
    return Term(KIND_LITERAL, value, lang, dt)


class TripleT(NamedTuple):
    s: Term
    p: Term
    o: Term


# ---------------------------------------------------------------------------
# Pure-Python lexical forms (term.go:93-110, 49-51, 154-156; triple.go:43-60)
# ---------------------------------------------------------------------------

def escape_literal(value: str) -> str:
    """Literal escape chain, replicating term.go:95-99 order exactly."""
    return (
        value.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )


def unescape_literal(value: str) -> str:
    """Inverse of escape_literal for the five short escapes."""
    out = []
    i = 0
    n = len(value)
    while i < n:
        c = value[i]
        if c == "\\" and i + 1 < n:
            nxt = value[i + 1]
            rep = {"\\": "\\", '"': '"', "n": "\n", "r": "\r", "t": "\t"}.get(nxt)
            if rep is not None:
                out.append(rep)
                i += 2
                continue
        out.append(c)
        i += 1
    return "".join(out)


def format_term(t: Term) -> str:
    """N-Triples lexical form of a term — the reference's Term.String()."""
    if t.kind == KIND_IRI:
        return "<" + t.value + ">"  # no escaping, term.go:49-51
    if t.kind == KIND_BLANK:
        return "_:" + t.value
    s = '"' + escape_literal(t.value) + '"'
    # Language wins over datatype when both set (term.go:103-107).
    if t.lang:
        s += "@" + t.lang
    elif t.dt is not None:
        s += "^^<" + t.dt + ">"
    return s


def format_triple(s: Term, p: Term, o: Term) -> str:
    """NT line for a triple — triple.go:43-60 (space-joined + ' .')."""
    return f"{format_term(s)} {format_term(p)} {format_term(o)} ."


def skolem_id(url: str, warc_ts: str, ordinal: int) -> str:
    """Deterministic blank-node label keyed by (url, warc_ts, ordinal).

    Replaces the reference's nondeterministic ``NewAnonNode``
    (term.go:148-151, ``anon%016x`` from rand.Int63) with a collision-
    safe skolem function over the document identity, keeping the same
    ``anon%016x`` label shape so outputs stay reference-flavoured.
    """
    key = f"{url}\x00{warc_ts}\x00{ordinal}".encode("utf-8")
    h = int.from_bytes(hashlib.sha256(key).digest()[:8], "big") >> 1
    return f"anon{h:016x}"


# ---------------------------------------------------------------------------
# Column-expression lexical forms (distributed serializer — K1 in SURVEY §2.2)
# ---------------------------------------------------------------------------

def escape_literal_col(col: Column) -> Column:
    """escape_literal as a chain of JVM-side literal replaces."""
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    return c


def term_nt_col(
    kind: Column, value: Column, lang: Optional[Column] = None, dt: Optional[Column] = None
) -> Column:
    """NT lexical form of a flattened term, as a pure column expression."""
    lit_body = F.concat(F.lit('"'), escape_literal_col(value), F.lit('"'))
    if lang is not None and dt is not None:
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
        F.when(kind == F.lit(KIND_IRI), F.concat(F.lit("<"), value, F.lit(">")))
        .when(kind == F.lit(KIND_BLANK), F.concat(F.lit("_:"), value))
        .otherwise(lit_full)
    )


def jvm_memo(build: Callable[..., Column]) -> Callable[..., Column]:
    """Memoize a Column builder per live JVM. Building a term expression
    costs tens of py4j round-trips, and a Column is an immutable
    expression tree safe to reuse across plans and sessions — but it
    is a handle into the JVM that built it, so the memo is keyed by
    ``SparkContext._jvm`` (weakly): a session started after the driver
    JVM was shut down builds its own, and a dead JVM's entries go."""
    memo: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

    @functools.wraps(build)
    def memoized(*args):
        jvm = SparkContext._jvm
        if jvm is None:
            return build(*args)
        cols = memo.setdefault(jvm, {})
        if args not in cols:
            cols[args] = build(*args)
        return cols[args]

    return memoized


_TRIPLE_NT_DEFAULTS = (
    "s_kind", "s_value", "p_value", "o_kind", "o_value", "o_lang", "o_dt"
)


def triple_nt_col(
    s_kind: Union[Column, str] = "s_kind",
    s_value: Union[Column, str] = "s_value",
    p_value: Union[Column, str] = "p_value",
    o_kind: Union[Column, str] = "o_kind",
    o_value: Union[Column, str] = "o_value",
    o_lang: Union[Column, str] = "o_lang",
    o_dt: Union[Column, str] = "o_dt",
) -> Column:
    """NT line column for the standard flattened triples schema.

    This expression is the dedup/equality key of the whole pipeline
    (the canonical string key the reference's stores index on,
    indexstore.go:40-47) and the N-Triples sink body (K1). The
    all-defaults form (every serializer and squish call) is memoized
    per JVM (:func:`jvm_memo`): building it costs ~60 py4j round-trips."""
    args = (s_kind, s_value, p_value, o_kind, o_value, o_lang, o_dt)
    if args == _TRIPLE_NT_DEFAULTS:
        return _default_triple_nt()
    return _triple_nt(*args)


@jvm_memo
def _default_triple_nt() -> Column:
    return _triple_nt(*_TRIPLE_NT_DEFAULTS)


def _triple_nt(s_kind, s_value, p_value, o_kind, o_value, o_lang, o_dt) -> Column:
    col = lambda c: F.col(c) if isinstance(c, str) else c  # noqa: E731
    s = term_nt_col(col(s_kind), col(s_value))
    p = F.concat(F.lit("<"), col(p_value), F.lit(">"))  # predicates always IRIs
    o = term_nt_col(col(o_kind), col(o_value), col(o_lang), col(o_dt))
    return F.concat(s, F.lit(" "), p, F.lit(" "), o, F.lit(" ."))
