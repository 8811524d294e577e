"""Squirtle parser (SURVEY §2.1 S4): the reference's custom
Turtle-like language, /root/reference/squirtleparser.y:1-644.

Replicated semantics (file:line per rule):

* ``name <uri> as id`` prefix declarations (squirtleparser.y:138);
* descriptions ``subject { pred obj, obj ... }`` with nesting — a
  nested description is an object whose own block emits immediately
  (y:140-142, 222-276);
* an EMPTY subject mints an anonymous node (y:234-235; deterministic
  skolem here instead of the reference's ``NewAnonNode`` rand labels —
  the repo-wide divergence);
* ``template Name(?a, ?b) { ... }`` collects triples with variables;
  ``subject is Name(args)`` / ``subject new Name(args)`` replays them
  with nil subjects bound to the applying subject and variables bound
  to the arguments (y:150-220);
* ``a`` ⇒ rdf:type; ``*`` ⇒ auto-numbered ``rdf:_N`` container
  membership, N scoped to the enclosing description and starting at 1
  (y:263-266);
* literals: plain/lang/typed strings, bare INTEGER/DECIMAL/DOUBLE with
  the xsd datatype the grammar assigns, ``true``/``false``, ``inf``/
  ``nan`` as xsd:double INF/NaN (y:271-287, lexer y:432-466);
* name resolution: declared names, else the static prefix table (the
  repo's stand-in for the reference's prefix.cc HTTP lookup,
  y:318-332), else "" — the reference's zero-value quirk, kept;
* qnames ``p:local`` get ``#`` appended to a base that ends in
  neither ``#`` nor ``/`` (addHash, y:334-344); slash-names
  ``p/a/b`` strip a trailing separator first (stripSlash, y:346-358);
* ``include "file"`` parses another file with the SAME name/template
  state (y:110-120); ``include <url>`` uses an injectable fetcher
  (y:122-137 http.Get; no network default).

Documented divergences: (1) nested descriptions inside a template body
contribute their triples to the template — the reference drops them
via a Go slice-aliasing bug (y:244-259 writes back only the top stack
entry); (2) an unbound variable reaching an emitted triple raises
instead of emitting a dangling var term (y:204-218 would emit nil and
crash downstream); (3) string literals decode the five NT short
escapes — the reference lexer has none (a ``"`` always terminates,
y:495-504) while its serializer NT-escapes values, so reference
output cannot round-trip through the reference parser; ours can;
(4) keyword-shaped words are accepted as blank-node labels in their
original case (``_:As``) — again something the reference serializer
emits but its own parser rejects; (5) an object-position or
statement-level template application in the reference leaks a
parser-stack entry (applyTemplate pushes the applying subject via the
``subject`` rule but only description bodies pop, y:174-232), so
subsequent predicate-object pairs in the ENCLOSING description attach
to the template's subject and ``*`` container numbering restarts —
this parser keeps attributing them to the enclosing subject with
uninterrupted numbering. Round-trip is pinned by a 300-example
hypothesis property (test_properties.py); (6) serializer-side (see
sinks/writers.py): ``prefix:local`` is emitted only when the local
part survives the parser's identifier charset, where the reference
emits it unconditionally and produces unparseable output for locals
containing ``.``/``%``/``~`` etc.

Strings are parsed whole-file (one doc per file) — ``read_squirtle``
distributes via the shared document stage (sources/documents.py).
"""

from __future__ import annotations

from typing import Iterator, List, NamedTuple, Optional, Tuple, Union

from pyspark.sql import DataFrame, SparkSession

from argo_spark.extract.rdfa import FlatTriple
from argo_spark.namespaces import NAMESPACES, RDF, RDF_TYPE, XSD
from argo_spark.sources.documents import (
    FLAT_DDL, parse_documents, scan_documents, split_quarantine,
)
from argo_spark.terms import KIND_BLANK, KIND_IRI, KIND_LITERAL, Term, skolem_id


class SquirtleError(Exception):
    pass


class SqtlVar(NamedTuple):
    name: str


TermOrVar = Union[Term, SqtlVar]

# ---------------------------------------------------------------------------
# Lexer (squirtleparser.y:362-560)
# ---------------------------------------------------------------------------

_KEYWORDS = {"a", "as", "false", "include", "is", "name", "new", "template", "true"}


class Tok(NamedTuple):
    kind: str  # IDENT KEYWORD VAR IRIREF STRING INTEGER DECIMAL DOUBLE BNODE DT PUNCT EOF
    text: str
    line: int
    col: int
    raw: str = ""  # original word for normalized tokens (INF/NaN)


def _is_word(c: str) -> bool:
    return c.isalpha() or c.isdigit() or c in "_-"


def tokenize(text: str) -> Iterator[Tok]:
    i, n = 0, len(text)
    line, col = 1, 1

    def advance(k: int = 1):
        nonlocal i, line, col
        for _ in range(k):
            if i < n and text[i] == "\n":
                line += 1
                col = 1
            else:
                col += 1
            i += 1

    while True:
        while i < n and text[i].isspace():
            advance()
        if i >= n:
            yield Tok("EOF", "", line, col)
            return
        sl, sc = line, col
        c = text[i]
        if c == "#":  # comment to EOL (y:472-475)
            while i < n and text[i] != "\n":
                advance()
            continue
        if c == "_" and i + 1 < n and text[i + 1] == ":":
            advance(2)
            yield Tok("BNODE", "_:", sl, sc)
            continue
        if c.isalpha() or c == "_":
            j = i
            while i < n and _is_word(text[i]):
                advance()
            word = text[j:i]
            low = word.lower()
            if low == "inf":
                yield Tok("DOUBLE", "INF", sl, sc, raw=word)
            elif low == "nan":
                yield Tok("DOUBLE", "NaN", sl, sc, raw=word)
            elif low in _KEYWORDS:
                # keyword MATCHING is case-insensitive but the token
                # keeps its original text (lval.s in the reference) —
                # needed when a keyword-shaped word is used as a
                # postfix identifier or blank-node label
                yield Tok("KEYWORD", word, sl, sc)
            else:
                yield Tok("IDENT", word, sl, sc)
            continue
        if c.isdigit() or c in "+-":
            j = i
            if c in "+-":
                advance()
            kind = "INTEGER"
            while i < n and text[i].isdigit():
                advance()
            if i < n and text[i] == ".":
                advance()
                kind = "DECIMAL"
                while i < n and text[i].isdigit():
                    advance()
            if i < n and text[i] in "eE":
                advance()
                if i < n and text[i] in "+-":
                    advance()
                kind = "DOUBLE"
                while i < n and text[i].isdigit():
                    advance()
            # number glued to a letter/digit: the reference discards
            # the whole token and re-lexes (y:462-466)
            if i < n and (text[i].isalpha() or text[i].isdigit()):
                advance()
                continue
            yield Tok(kind, text[j:i], sl, sc)
            continue
        if c in "?$":
            advance()
            j = i
            while i < n and _is_word(text[i]):
                advance()
            yield Tok("VAR", text[j:i], sl, sc)
            continue
        if c == "<":
            advance()
            j = i
            while i < n and text[i] != ">":
                advance()
            uri = text[j:i]
            advance()  # consume '>'
            yield Tok("IRIREF", uri, sl, sc)
            continue
        if c == '"':
            # DIVERGENCE: the reference lexer has no escapes (a '"'
            # always terminates, y:495-504) yet its serializer
            # NT-escapes literal values — reference output cannot
            # round-trip through the reference parser. We decode the
            # five NT short escapes so serializer output parses back
            # byte-identically.
            advance()
            buf = []
            while i < n and text[i] != '"':
                if text[i] == "\\" and i + 1 < n:
                    nxt = text[i + 1]
                    rep = {"\\": "\\", '"': '"', "n": "\n", "r": "\r", "t": "\t"}.get(nxt)
                    if rep is not None:
                        buf.append(rep)
                        advance(2)
                        continue
                buf.append(text[i])
                advance()
            advance()  # consume closing quote
            yield Tok("STRING", "".join(buf), sl, sc)
            continue
        if c == "^" and i + 1 < n and text[i + 1] == "^":
            advance(2)
            yield Tok("DT", "^^", sl, sc)
            continue
        advance()
        yield Tok("PUNCT", c, sl, sc)


# ---------------------------------------------------------------------------
# Name resolution helpers (y:524-558)
# ---------------------------------------------------------------------------

def _add_hash(s: str) -> str:
    if s == "":
        return "#"
    if s[-1] not in "#/":
        return s + "#"
    return s


def _strip_slash(s: str) -> str:
    if s and s[-1] in "#/":
        return s[:-1]
    return s


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

class _Template(NamedTuple):
    arg_names: list
    triples: list  # (s|None|var, p|var, o|var) TermOrVar tuples


class _Parser:
    def __init__(
        self,
        text: str,
        skolem_key: str = "",
        fetcher=None,
        file_opener=open,
        names: Optional[dict] = None,
        templates: Optional[dict] = None,
        prefixes: Optional[dict] = None,
        _anon=None,
    ):
        self.toks = list(tokenize(text))
        self.i = 0
        self.skolem_key = skolem_key
        self.fetcher = fetcher
        self.file_opener = file_opener
        self.names = names if names is not None else {}
        self.templates = templates if templates is not None else {}
        # uri -> prefix, filled like the reference's sqtlPrefixMap
        self.prefixes = prefixes if prefixes is not None else {}
        self.out: List[Tuple[Term, Term, Term]] = []
        self._anon = _anon if _anon is not None else [0]

    # -- token plumbing ------------------------------------------------------

    def peek(self) -> Tok:
        return self.toks[self.i]

    def next(self) -> Tok:
        t = self.toks[self.i]
        if t.kind != "EOF":
            self.i += 1
        return t

    def err(self, msg: str, tok: Optional[Tok] = None):
        tok = tok or self.peek()
        raise SquirtleError(f"Syntax error: {msg} (at line {tok.line} col {tok.col})")

    def expect(self, kind: str, text: Optional[str] = None) -> Tok:
        t = self.next()
        got = t.text.lower() if kind == "KEYWORD" else t.text
        if t.kind != kind or (text is not None and got != text):
            self.err(f"expected {text or kind}, got {t.text!r}", t)
        return t

    # -- name resolution -----------------------------------------------------

    def get_name(self, name: str) -> str:
        uri = self.names.get(name)
        if uri is not None:
            return uri
        base = NAMESPACES.get(name)  # static LookupPrefix stand-in
        if base is not None:
            self.names[name] = base
            self.prefixes[base] = name
            return base
        return ""  # reference zero-value quirk (y:534-536)

    def _postfix_identifier(self) -> str:
        t = self.next()
        if t.kind == "IDENT" or (
            t.kind == "KEYWORD"
            and t.text.lower() in ("a", "as", "false", "is", "name", "template", "true")
        ):
            return t.text
        self.err("expected identifier", t)

    def _raw_iriref_from_ident(self, ident: str) -> str:
        """qname / slash-name / bare-name continuation after IDENT."""
        t = self.peek()
        if t.kind == "PUNCT" and t.text == ":":
            self.next()
            local = self._postfix_identifier()
            return _add_hash(self.get_name(ident)) + local
        if t.kind == "PUNCT" and t.text == "/":
            parts = []
            while self.peek().kind == "PUNCT" and self.peek().text == "/":
                self.next()
                parts.append("/" + self._postfix_identifier())
            return _strip_slash(self.get_name(ident)) + "".join(parts)
        return self.get_name(ident)

    def raw_iriref(self) -> str:
        t = self.next()
        if t.kind == "IRIREF":
            return t.text
        if t.kind == "IDENT":
            return self._raw_iriref_from_ident(t.text)
        self.err("expected IRI", t)

    def anon(self) -> Term:
        label = skolem_id(self.skolem_key, "sqtl", self._anon[0])
        self._anon[0] += 1
        return Term(KIND_BLANK, label)

    # -- emission ------------------------------------------------------------

    def emit(self, s: TermOrVar, p: TermOrVar, o: TermOrVar, collecting):
        if collecting is not None:
            collecting.append((s, p, o))
            return
        for t in (s, p, o):
            if isinstance(t, SqtlVar):
                raise SquirtleError(
                    f"unbound variable ?{t.name} in emitted triple "
                    "(only template bodies may carry variables)"
                )
        self.out.append((s, p, o))

    # -- grammar -------------------------------------------------------------

    def parse(self) -> List[Tuple[Term, Term, Term]]:
        while self.peek().kind != "EOF":
            self.statement()
        return self.out

    def statement(self):
        t = self.peek()
        if t.kind == "KEYWORD" and t.text.lower() == "name":
            self.next()
            uri = self.raw_iriref()
            self.expect("KEYWORD", "as")
            ident = self.expect("IDENT").text
            self.names[ident] = uri
            self.prefixes[uri] = ident
            return
        if t.kind == "KEYWORD" and t.text.lower() == "include":
            self.next()
            self.include()
            return
        if t.kind == "KEYWORD" and t.text.lower() == "template":
            self.next()
            self.template_decl()
            return
        # description or apply_template: parse a (possibly empty) subject
        subj = self.opt_subject(collecting=None)
        self.subject_tail(subj, collecting=None, allow_plain=False)

    def include(self):
        t = self.peek()
        if t.kind == "STRING":
            self.next()
            with self.file_opener(t.text) as f:
                text = f.read()
        else:
            url = self.raw_iriref()
            if self.fetcher is None:
                raise SquirtleError(f"include <{url}>: no fetcher configured")
            text = self.fetcher(url)
        sub = _Parser(
            text,
            skolem_key=f"{self.skolem_key}\x1f{t.text}",
            fetcher=self.fetcher,
            file_opener=self.file_opener,
            names=self.names,
            templates=self.templates,
            prefixes=self.prefixes,
            _anon=self._anon,
        )
        try:
            self.out.extend(sub.parse())
        except SquirtleError:
            # stream semantics (y:110-120): triples emitted before the
            # included file's error are kept
            self.out.extend(sub.out)
            raise

    def template_decl(self):
        name = self.expect("IDENT").text
        arg_names: list = []
        if self.peek().kind == "PUNCT" and self.peek().text == "(":
            self.next()
            while self.peek().kind == "VAR":
                arg_names.append(self.next().text)
                if self.peek().kind == "PUNCT" and self.peek().text == ",":
                    self.next()
            self.expect("PUNCT", ")")
        collected: list = []
        # the template body is a bare description_body: subject is nil,
        # '*' numbering starts fresh (y:145-158)
        self.description_body(None, collecting=collected, counter=[1])
        self.templates[name] = _Template(arg_names, collected)

    def opt_subject(self, collecting) -> TermOrVar:
        """raw_subject: iriref | bnode | var | empty->anon (y:234-239)."""
        t = self.peek()
        if t.kind == "BNODE":
            self.next()
            return Term(KIND_BLANK, self._bnode_label())
        if t.kind == "VAR":
            self.next()
            return SqtlVar(t.text)
        if t.kind in ("IRIREF", "IDENT"):
            return Term(KIND_IRI, self.raw_iriref())
        return self.anon()

    def _bnode_label(self) -> str:
        """IDENT or (DIVERGENCE) a keyword/inf/nan-shaped word in
        original case — the reference serializer emits e.g. ``_:As``
        or ``_:inf`` labels its own parser rejects."""
        t = self.next()
        if t.kind in ("IDENT", "KEYWORD"):
            return t.text
        if t.kind == "DOUBLE" and t.raw:
            return t.raw
        self.err("expected blank node label", t)

    def subject_tail(self, subj: TermOrVar, collecting, allow_plain: bool):
        """After a subject: '{...}' description or is/new template
        application. Returns the subject."""
        t = self.peek()
        if t.kind == "PUNCT" and t.text == "{":
            self.description_body(subj, collecting, counter=[1])
            return subj
        if t.kind == "KEYWORD" and t.text.lower() in ("is", "new"):
            self.next()
            self.apply_template(subj)
            return subj
        if allow_plain:
            return subj
        self.err("expected '{', 'is' or 'new' after subject", t)

    def description_body(self, subj, collecting, counter):
        self.expect("PUNCT", "{")
        while not (self.peek().kind == "PUNCT" and self.peek().text == "}"):
            if self.peek().kind == "EOF":
                self.err("unterminated description")
            self.predicate_object(subj, collecting, counter)
        self.next()  # consume '}'

    def predicate_object(self, subj, collecting, counter):
        pred = self.predicate(counter)
        while True:
            obj = self.object(collecting)
            self.emit(subj, pred, obj, collecting)
            if self.peek().kind == "PUNCT" and self.peek().text == ",":
                self.next()
                continue
            break

    def predicate(self, counter) -> TermOrVar:
        t = self.peek()
        if t.kind == "KEYWORD" and t.text.lower() == "a":
            self.next()
            return Term(KIND_IRI, RDF_TYPE)
        if t.kind == "PUNCT" and t.text == "*":
            self.next()
            n = counter[0]
            counter[0] += 1
            return Term(KIND_IRI, f"{RDF}_{n}")
        if t.kind == "VAR":
            self.next()
            return SqtlVar(t.text)
        return Term(KIND_IRI, self.raw_iriref())

    def object(self, collecting) -> TermOrVar:
        t = self.peek()
        if t.kind == "STRING":
            self.next()
            nxt = self.peek()
            if nxt.kind == "PUNCT" and nxt.text == "@":
                self.next()
                lt = self.next()
                # language tags may collide with keywords ("a", "is")
                # or inf/nan; same serializer-output acceptance as
                # bnode labels
                if lt.kind in ("IDENT", "KEYWORD"):
                    lang = lt.text
                elif lt.kind == "DOUBLE" and lt.raw:
                    lang = lt.raw
                else:
                    self.err("expected language tag", lt)
                return Term(KIND_LITERAL, t.text, lang=lang)
            if nxt.kind == "DT":
                self.next()
                return Term(KIND_LITERAL, t.text, dt=self.raw_iriref())
            return Term(KIND_LITERAL, t.text)
        if t.kind == "INTEGER":
            self.next()
            return Term(KIND_LITERAL, t.text, dt=XSD + "integer")
        if t.kind == "DECIMAL":
            self.next()
            return Term(KIND_LITERAL, t.text, dt=XSD + "decimal")
        if t.kind == "DOUBLE":
            self.next()
            return Term(KIND_LITERAL, t.text, dt=XSD + "double")
        if t.kind == "KEYWORD" and t.text.lower() in ("true", "false"):
            # hardcoded lexical forms (y:284-287), whatever the case
            self.next()
            return Term(KIND_LITERAL, t.text.lower(), dt=XSD + "boolean")
        if t.kind == "VAR":
            # a var object may itself head a nested description or
            # template application (object: description; raw_subject:
            # var, y:234-239)
            self.next()
            node: TermOrVar = SqtlVar(t.text)
        elif t.kind == "BNODE":
            self.next()
            node = Term(KIND_BLANK, self._bnode_label())
        elif t.kind in ("IRIREF", "IDENT"):
            node = Term(KIND_IRI, self.raw_iriref())
        elif t.kind == "PUNCT" and t.text == "{":
            node = self.anon()  # empty-subject nested description
        elif t.kind == "KEYWORD" and t.text.lower() in ("is", "new"):
            node = self.anon()  # empty-subject template application
        else:
            self.err(f"unexpected object {t.text!r}", t)
        # nested description / template application as object
        nxt = self.peek()
        if nxt.kind == "PUNCT" and nxt.text == "{":
            self.description_body(node, collecting, counter=[1])
        elif nxt.kind == "KEYWORD" and nxt.text.lower() in ("is", "new"):
            self.next()
            self.apply_template(node)
        return node

    def apply_template(self, subj: TermOrVar):
        name = self.expect("IDENT").text
        self.expect("PUNCT", "(")
        args: list = []
        while not (self.peek().kind == "PUNCT" and self.peek().text == ")"):
            args.append(self.object(collecting=None))
            if self.peek().kind == "PUNCT" and self.peek().text == ",":
                self.next()
        self.next()  # ')'
        tpl = self.templates.get(name)
        if tpl is None:
            raise SquirtleError(f"Undefined template: {name}")
        if len(tpl.arg_names) != len(args):
            raise SquirtleError(
                f"Wrong number of arguments for template {name}: "
                f"expected {len(tpl.arg_names)}, got {len(args)}"
            )
        bindings = dict(zip(tpl.arg_names, args))

        def resolve(t: TermOrVar) -> Term:
            if t is None:
                t = subj
            if isinstance(t, SqtlVar):
                if t.name not in bindings:
                    raise SquirtleError(
                        f"unbound template variable ?{t.name} in {name}"
                    )
                t = bindings[t.name]
            if isinstance(t, SqtlVar):
                raise SquirtleError(f"variable-for-variable binding in {name}")
            return t

        # template application always emits (y:204-219), even when the
        # application site is inside another template body
        for s, p, o in tpl.triples:
            self.out.append((resolve(s), resolve(p), resolve(o)))


def parse_squirtle(
    text: str, skolem_key: str = "", fetcher=None, file_opener=open
) -> Tuple[List[FlatTriple], Optional[str]]:
    """Parse one Squirtle document -> (flat triples, error_or_None)."""
    p = _Parser(text, skolem_key=skolem_key, fetcher=fetcher, file_opener=file_opener)
    try:
        triples = p.parse()
    except SquirtleError as e:
        return [t_flat(*t) for t in p.out], str(e)
    except OSError as e:
        return [t_flat(*t) for t in p.out], str(e)
    return [t_flat(*t) for t in triples], None


def t_flat(s: Term, p: Term, o: Term) -> FlatTriple:
    return (s.kind, s.value, p.value, o.kind, o.value, o.lang, o.dt)


SQUIRTLE_SCHEMA = FLAT_DDL + ", path string, error string"


def parse_squirtle_col(
    df: DataFrame, text_col: str = "value", key_col: str = "key"
) -> DataFrame:
    """Distributed Squirtle parse over a STRING COLUMN (one document
    per row) through the shared document stage. ``key_col`` seeds
    skolemization and rides through as ``path``; quarantine rows carry
    ``error``. Includes are refused (no file/url context for an
    in-memory document)."""
    return parse_documents(
        df,
        lambda text, key: parse_squirtle(
            text, skolem_key=key, file_opener=_no_include_opener
        ),
        SQUIRTLE_SCHEMA, text_col, key_col,
    )


def _no_include_opener(path, *a, **kw):
    raise OSError(f"include refused for in-memory document: {path}")


def read_squirtle(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Read .squirtle files (one document per file) into
    (triples_df, errors_df) through the shared document stage.
    ``include "file"`` directives resolve executor-side relative to
    the worker's filesystem; ``include <url>`` is refused (no fetcher
    on executors)."""
    parsed = parse_documents(
        scan_documents(spark, path),
        lambda text, key: parse_squirtle(text, skolem_key=key),
        SQUIRTLE_SCHEMA,
    )
    return split_quarantine(parsed, "path", "error")
