"""``loopc`` compiler (SURVEY §2.5 E-secondary, the front-end half):
compiles the LOOP DSL to program triples the :mod:`argo_spark.ops.loop`
interpreter evaluates — /root/reference/loop/loopc/{lexer.go:1-416,
parser.y:1-631, ast.go:1-338, consts.go:1-33, main.go:10-26}.

Grammar (parser.y):

    toplevel  := namedef | funcdef
    namedef   := NAME resource_or_name AS IDENTIFIER
    funcdef   := FUNC func_uri [ '(' args ')' ] func_body
    func_body := '{' stmts '}' | stmt
    stmt      := predicate_object | funccall
    predicate_object := resource_or_name [OF IDENTIFIER] object
    funccall  := resource_or_name '(' [namedexprlist] ')'
    namedexprlist := resource_or_name expr (',' resource_or_name expr)*
    expr      := funccall | resource_or_variable | NUMBER | TRUE | FALSE
               | literal
    literal   := QUOTEDSTRING [ '@' IDENT | '^^' resource_or_name ]
    resource  := URIREF | qname | slashed_reference
    arg       := resource_or_argument [type] [QUOTEDSTRING]

Compilation (ast.go ToRDF):

* ``func U (args) { … }`` → ``(U, rdf:type, loop:Function)``; args as
  an anonymous ``rdf:Bag`` under ``loop:args`` with 1-based ``rdf:_N``
  membership, each arg typed ``loop:Argument`` with optional
  ``loop:restrictType`` / ``rdfs:label``; predicate-object statements
  become triples on U (or on the named argument for ``p of v o``);
  expression statements form an ``rdf:List`` under ``loop:code``.
* a call ``F(p₁ e₁, …)`` → an anonymous node typed F with one
  ``(pᵢ, eᵢ)`` triple per named argument.
* bare identifiers in argument position mint
  ``<funcURI>/arg/<name>`` and register the name as a variable
  (parser.y resource_or_argument); in expression position they
  resolve variable-first, then the name map (resource_or_variable).
* qnames append ``#`` to a base ending in neither ``/`` nor ``#``;
  slashed references strip one trailing separator (parser.y
  qname/slashed_reference); unknown names resolve to "" — the
  reference's zero-value quirk, kept.

Documented divergences from reference bugs: (1) ``"…"@lang`` literals
are accepted — the reference grammar has the production but its lexer
rejects ``@`` (lexer.go:289 default case), making them unreachable;
(2) typed-literal constants convert against the FULL XSD namespace —
consts.go:10 sets ``XSDbase = ""`` so every ``"8.0"^^xsd:float``
misses the bare-name cases of parser.y's atomic_expr table and
degrades to a StringConstant; (3) integer constants serialize as the
integer — ast.go:299 formats ``%d`` with a float64 operand, emitting
``%!d(float64=3)`` literally; (4) anonymous nodes are deterministic
``_:loopcN`` labels, the repo-wide skolem divergence; (5) the
reference's own loop/test.loop uses POSITIONAL call arguments, which
its own grammar rejects (namedexprlist requires name-expression
pairs) — this compiler rejects it identically; (6) malformed
base64Binary/hexBinary/boolean constants and unconvertible numbers
raise LoopcSyntaxError — the reference prints a warning to stderr and
leaves the yacc $$ slot holding a stale value (parser.y atomic_expr
error arms), or panics in strconv for numbers its lexer accepted.
"""

from __future__ import annotations

import base64 as _base64
import binascii as _binascii
import re
from typing import List, NamedTuple, Optional, Tuple

from argo_spark.namespaces import NAMESPACES, RDF, RDF_TYPE
from argo_spark.terms import (
    KIND_BLANK,
    KIND_IRI,
    KIND_LITERAL,
    Term,
    TripleT,
    format_term,
    iri,
)

LOOP = "http://kierdavis.com/data/vocab/loop/"
XSD = NAMESPACES["xsd"]
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
RDF_BAG = RDF + "Bag"
RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"

# parser.y:13-22 seed name map
DEFAULT_NAMES = {
    "rdf": RDF,
    "rdfs": RDFS,
    "owl": "http://www.w3.org/2002/07/owl#",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "dc": "http://purl.org/dc/elements/1.1/",
    "dct": "http://purl.org/dc/terms/",
    "loop": LOOP,
    "xsd": XSD,
}

_ATOMIC_TYPES = {  # parser.y atomic_type -> ast.go AtomicType.ToRDF
    "boolean": LOOP + "Boolean",
    "data": LOOP + "Data",
    "float": LOOP + "Float",
    "integer": LOOP + "Integer",
    "resource": LOOP + "Resource",
    "string": LOOP + "String",
}

_KEYWORDS = {  # lexer.go lexIdentifier keyword table (incl. aliases)
    "as": "AS", "boolean": "BOOLEAN", "bool": "BOOLEAN", "data": "DATA",
    "false": "FALSE", "float": "FLOAT", "func": "FUNC",
    "integer": "INTEGER", "int": "INTEGER", "name": "NAME", "of": "OF",
    "resource": "RESOURCE", "res": "RESOURCE", "string": "STRING",
    "str": "STRING", "true": "TRUE",
}

_INTEGER_DTS = {
    XSD + n
    for n in (
        "integer nonPositiveInteger negativeInteger long int short byte "
        "nonNegativeInteger unsignedLong unsignedInt unsignedShort "
        "unsignedByte positiveInteger"
    ).split()
}
_FLOAT_DTS = {XSD + "float", XSD + "decimal", XSD + "double"}


class LoopcSyntaxError(ValueError):
    pass


class Tok(NamedTuple):
    kind: str  # IDENT NUMBER URIREF STRING DT PUNCT KEYWORD EOF
    text: str
    line: int


_NUMBER = re.compile(r"[+-]?(?:0[xX][0-9a-fA-F]*|[0-9]*)(?:\.[0-9a-fA-F]*)?(?:[eE][+-]?[0-9]*)?")
_WORD = re.compile(r"[A-Za-z_À-￿][A-Za-z0-9_\-À-￿]*")


def tokenize(src: str) -> List[Tok]:
    toks: List[Tok] = []
    i, n, line = 0, len(src), 1
    while i < n:
        c = src[i]
        if c == "\n":
            line += 1
            i += 1
            continue
        if c.isspace():
            i += 1
            continue
        if c == "<":  # lexURIRef: everything to '>'
            j = src.find(">", i + 1)
            if j < 0:
                j = n
            toks.append(Tok("URIREF", src[i + 1:j], line))
            i = j + 1
            continue
        if c == '"':  # lexString: no escapes, to the next '"'
            j = src.find('"', i + 1)
            if j < 0:
                j = n
            toks.append(Tok("STRING", src[i + 1:j], line))
            i = j + 1
            continue
        if c == "^":
            if i + 1 < n and src[i + 1] == "^":
                toks.append(Tok("DT", "^^", line))
                i += 2
                continue
            raise LoopcSyntaxError(f"[line {line}] Invalid character '^'")
        if c in "(){}/:,@":  # '@' accepted: divergence (1)
            toks.append(Tok("PUNCT", c, line))
            i += 1
            continue
        if c.isdigit() or c in "+-":
            m = _NUMBER.match(src, i)
            assert m is not None
            text = m.group(0)
            end = m.end()
            if end < n and (src[end].isalpha() or src[end] == "_"):
                raise LoopcSyntaxError(
                    f"[line {line}] Bad number syntax: {text + src[end]!r}"
                )
            toks.append(Tok("NUMBER", text, line))
            i = end
            continue
        m = _WORD.match(src, i)
        if m is not None:
            word = m.group(0)
            low = word.lower()
            if low in _KEYWORDS:
                toks.append(Tok("KEYWORD", _KEYWORDS[low], line))
            else:
                toks.append(Tok("IDENT", word, line))
            i = m.end()
            continue
        raise LoopcSyntaxError(f"[line {line}] Invalid character {c!r}")
    toks.append(Tok("EOF", "", line))
    return toks


def _strip_sep(s: str) -> str:
    return s[:-1] if s and s[-1] in "#/" else s


def _add_hash(s: str) -> str:
    if not s:
        return "#"
    return s if s[-1] in "#/" else s + "#"


def _str2term(uri: str) -> Term:
    """ast.go str2term: ``_:label`` is a blank node, else an IRI."""
    if uri.startswith("_:"):
        return Term(KIND_BLANK, uri[2:])
    return iri(uri)


class _Compiler:
    """Single-pass recursive-descent parse + triple emission."""

    def __init__(self, src: str):
        self.toks = tokenize(src)
        self.pos = 0
        self.names = dict(DEFAULT_NAMES)
        self.out: List[TripleT] = []
        self.func_uri = ""       # currentFuncURI (separator-stripped)
        self.vars: dict = {}     # currentVars: name -> minted arg URI
        self._anon = 0

    # -- token helpers ---------------------------------------------------

    def peek(self) -> Tok:
        return self.toks[self.pos]

    def next(self) -> Tok:
        t = self.toks[self.pos]
        if t.kind != "EOF":
            self.pos += 1
        return t

    def err(self, msg: str, t: Tok):
        raise LoopcSyntaxError(f"[line {t.line}] {msg}, got {t.kind}({t.text})")

    def expect(self, kind: str, text: Optional[str] = None) -> Tok:
        t = self.next()
        if t.kind != kind or (text is not None and t.text != text):
            self.err(f"expected {text or kind}", t)
        return t

    def anon(self) -> Term:
        self._anon += 1
        return Term(KIND_BLANK, f"loopc{self._anon}")

    def emit(self, s: Term, p: str, o: Term) -> None:
        self.out.append(TripleT(s, iri(p), o))

    # -- reference resolution (parser.y name rules) -----------------------

    def _resource_after_ident(self, ident: str) -> Optional[str]:
        """qname / slashed_reference continuation; None = bare IDENT."""
        t = self.peek()
        if t.kind == "PUNCT" and t.text == ":":
            self.next()
            local = self.expect("IDENT").text
            return _add_hash(self.names.get(ident, "")) + local
        if t.kind == "PUNCT" and t.text == "/":
            parts = []
            while self.peek().kind == "PUNCT" and self.peek().text == "/":
                self.next()
                parts.append("/" + self.expect("IDENT").text)
            return _strip_sep(self.names.get(ident, "")) + "".join(parts)
        return None

    def resource_or_name(self) -> str:
        t = self.next()
        if t.kind == "URIREF":
            return t.text
        if t.kind == "IDENT":
            r = self._resource_after_ident(t.text)
            if r is not None:
                return r
            return self.names.get(t.text, "")  # zero-value quirk
        self.err("expected resource or name", t)

    # -- toplevel ----------------------------------------------------------

    def compile(self) -> List[TripleT]:
        while self.peek().kind != "EOF":
            t = self.peek()
            if t.kind == "KEYWORD" and t.text == "NAME":
                self.next()
                uri = self.resource_or_name()
                self.expect("KEYWORD", "AS")
                ident = self.expect("IDENT").text
                self.names[ident] = uri
            elif t.kind == "KEYWORD" and t.text == "FUNC":
                self.next()
                self.funcdef()
            else:
                self.err("expected 'name' or 'func' at top level", t)
        return self.out

    def funcdef(self) -> None:
        uri = self.resource_or_name()
        self.func_uri = _strip_sep(uri)
        self.vars = {}
        func = _str2term(uri)
        self.emit(func, RDF_TYPE, iri(LOOP + "Function"))

        args = []
        if self.peek().kind == "PUNCT" and self.peek().text == "(":
            self.next()
            while not (self.peek().kind == "PUNCT" and self.peek().text == ")"):
                args.append(self.arg())
                if self.peek().kind == "PUNCT" and self.peek().text == ",":
                    self.next()
                else:
                    break
            self.expect("PUNCT", ")")
        if args:
            bag = self.anon()
            self.emit(func, LOOP + "args", bag)
            self.emit(bag, RDF_TYPE, iri(RDF_BAG))
            for idx, arg_term in enumerate(args, start=1):
                self.emit(bag, RDF + f"_{idx}", arg_term)

        # func_body: '{' stmts '}' | single stmt
        stmts_open = self.peek().kind == "PUNCT" and self.peek().text == "{"
        if stmts_open:
            self.next()
        code_exprs: List[Term] = []
        while True:
            if stmts_open and self.peek().kind == "PUNCT" and self.peek().text == "}":
                self.next()
                break
            code_exprs.extend(self.stmt(func))
            if not stmts_open:
                break
        if code_exprs:
            head = self.anon()
            self.emit(func, LOOP + "code", head)
            node = head
            for i, expr in enumerate(code_exprs):
                self.emit(node, RDF_FIRST, expr)
                if i + 1 < len(code_exprs):
                    nxt = self.anon()
                    self.emit(node, RDF_REST, nxt)
                    node = nxt
                else:
                    self.emit(node, RDF_REST, iri(RDF_NIL))
        self.func_uri = ""

    def arg(self) -> Term:
        # resource_or_argument: bare IDENT mints <func>/arg/<name>
        t = self.next()
        if t.kind == "IDENT":
            r = self._resource_after_ident(t.text)
            if r is None:
                if t.text in self.names:
                    uri = self.names[t.text]
                else:
                    uri = self.func_uri + "/arg/" + t.text
                    self.vars[t.text] = uri
            else:
                uri = r
        elif t.kind == "URIREF":
            uri = t.text
        else:
            self.err("expected argument", t)
        term = _str2term(uri)
        self.emit(term, RDF_TYPE, iri(LOOP + "Argument"))
        nt = self.peek()
        if nt.kind == "KEYWORD" and nt.text in (
            "BOOLEAN", "DATA", "FLOAT", "INTEGER", "RESOURCE", "STRING",
        ):
            self.next()
            self.emit(term, LOOP + "restrictType",
                      iri(_ATOMIC_TYPES[nt.text.lower()]))
        if self.peek().kind == "STRING":
            label = self.next().text
            self.emit(term, RDFS + "label", Term(KIND_LITERAL, label))
        return term

    # -- statements ---------------------------------------------------------

    def stmt(self, func: Term) -> List[Term]:
        """Compile one statement; returns code-list expression nodes
        (empty for predicate-object pairs, which emit directly)."""
        head = self.resource_or_name()
        t = self.peek()
        if t.kind == "PUNCT" and t.text == "(":  # funccall statement
            return [self.funccall_tail(head)]
        # predicate_object
        subject = func
        if t.kind == "KEYWORD" and t.text == "OF":
            self.next()
            var = self.expect("IDENT").text
            subject = _str2term(self.vars.get(var, ""))
        obj = self.object()
        self.emit(subject, head, obj)
        return []

    def object(self) -> Term:
        if self.peek().kind == "STRING":
            value, lang, dt = self.literal()
            return Term(KIND_LITERAL, value, lang or None, dt or None)
        return _str2term(self.resource_or_name())

    def literal(self) -> Tuple[str, str, str]:
        value = self.expect("STRING").text
        t = self.peek()
        if t.kind == "PUNCT" and t.text == "@":
            self.next()
            return value, self.expect("IDENT").text, ""
        if t.kind == "DT":
            self.next()
            return value, "", self.resource_or_name()
        return value, "", ""

    # -- expressions ----------------------------------------------------------

    def funccall_tail(self, func_uri: str) -> Term:
        """'(' [namedexprlist] ')' — emits the anonymous call node."""
        self.expect("PUNCT", "(")
        call = self.anon()
        self.emit(call, RDF_TYPE, _str2term(func_uri))
        while not (self.peek().kind == "PUNCT" and self.peek().text == ")"):
            name = self.resource_or_name()
            value = self.expr()
            self.emit(call, name, value)
            if self.peek().kind == "PUNCT" and self.peek().text == ",":
                self.next()
            else:
                break
        self.expect("PUNCT", ")")
        return call

    def _number_term(self, t: Tok) -> Term:
        """NUMBER token -> constant literal. The lexer is permissive
        like the reference's (hex digits after '.', lone signs); every
        conversion failure becomes a positioned LoopcSyntaxError here
        instead of the reference's strconv panic (parser.y yyLex)."""
        text = t.text
        body = text.lstrip("+-")
        is_hex = body[:2].lower().startswith("0x")
        try:
            if not is_hex and ("." in text or "e" in text.lower()):
                # FloatConstant.ToRDF: %f formatting (6 decimals)
                return Term(KIND_LITERAL, "%f" % float(text), None, XSD + "double")
            # divergence (3): the reference's %d-of-float64 bug is
            # fixed; hex accepted (the reference lexer accepts it and
            # its parser then panics in ParseInt base 10)
            value = int(body, 16) if is_hex else int(text, 10)
            if text.startswith("-"):
                value = -abs(value)
            return Term(KIND_LITERAL, str(value), None, XSD + "integer")
        except ValueError:
            raise LoopcSyntaxError(f"[line {t.line}] Bad number syntax: {text!r}")

    def expr(self) -> Term:
        t = self.peek()
        if t.kind == "NUMBER":
            self.next()
            return self._number_term(t)
        if t.kind == "KEYWORD" and t.text in ("TRUE", "FALSE"):
            self.next()
            return Term(KIND_LITERAL, t.text.lower(), None, XSD + "boolean")
        if t.kind == "STRING":
            return self._literal_constant()
        if t.kind == "URIREF":
            self.next()
            if self.peek().kind == "PUNCT" and self.peek().text == "(":
                return self.funccall_tail(t.text)
            return _str2term(t.text)
        if t.kind == "IDENT":
            self.next()
            r = self._resource_after_ident(t.text)
            if r is None:
                # resource_or_variable: variable first, then names
                uri = self.vars.get(t.text, self.names.get(t.text, ""))
            else:
                uri = r
            if self.peek().kind == "PUNCT" and self.peek().text == "(":
                # funccall head resolves through the name map only
                head = r if r is not None else self.names.get(t.text, "")
                return self.funccall_tail(head)
            return _str2term(uri)
        self.err("expected expression", t)

    def _literal_constant(self) -> Term:
        """parser.y atomic_expr literal-conversion table, with the
        full-XSD fix (divergence 2)."""
        value, lang, dt = self.literal()
        if dt == XSD + "boolean":
            if value in ("true", "1"):
                return Term(KIND_LITERAL, "true", None, XSD + "boolean")
            if value in ("false", "0"):
                return Term(KIND_LITERAL, "false", None, XSD + "boolean")
            raise LoopcSyntaxError(f"Invalid value for boolean constant: {value}")
        if dt == XSD + "base64Binary":
            try:
                # validate=True: Go's StdEncoding errors on any
                # non-alphabet byte; Python's default silently drops
                data = _base64.b64decode(value, validate=True)
            except (ValueError, _binascii.Error) as e:
                raise LoopcSyntaxError(
                    f"Invalid value for base64 constant: {value} ({e})")
            return Term(KIND_LITERAL, _base64.standard_b64encode(data).decode(),
                        None, XSD + "base64Binary")
        if dt == XSD + "hexBinary":
            try:
                data = bytes.fromhex(value)
            except ValueError as e:
                raise LoopcSyntaxError(
                    f"Invalid value for hex constant: {value} ({e})")
            return Term(KIND_LITERAL, _base64.standard_b64encode(data).decode(),
                        None, XSD + "base64Binary")
        if dt in _FLOAT_DTS:
            return Term(KIND_LITERAL, "%f" % float(value), None, XSD + "double")
        if dt in _INTEGER_DTS:
            return Term(KIND_LITERAL, str(int(value)), None, XSD + "integer")
        if dt == XSD + "anyURI":
            return iri(value)
        if dt == XSD + "QName":
            colon = value.find(":")
            if colon < 0:
                raise LoopcSyntaxError(f"Invalid value for QName constant: {value}")
            return iri(self.names.get(value[:colon], "") + value[colon + 1:])
        # untyped / lang / unknown dt -> StringConstant (plain literal)
        return Term(KIND_LITERAL, value)


def compile_loop(src: str) -> List[TripleT]:
    """LOOP DSL source -> program triples (main.go:19-23)."""
    return _Compiler(src).compile()


def compile_loop_nt(src: str) -> str:
    """main.go:25 — serialize the compiled program as N-Triples."""
    lines = [
        f"{format_term(t.s)} {format_term(t.p)} {format_term(t.o)} .\n"
        for t in compile_loop(src)
    ]
    return "".join(lines)


def main(argv: Optional[List[str]] = None) -> int:
    """loopc CLI (main.go:10-26): compile a .loop file, print
    N-Triples on stdout; usage errors / unreadable files exit 1."""
    import sys

    args = sys.argv[1:] if argv is None else argv
    if len(args) != 1:
        print("usage: python -m argo_spark.ops.loopc <file.loop>", file=sys.stderr)
        return 1
    try:
        with open(args[0]) as f:
            src = f.read()
    except OSError as e:
        print(str(e), file=sys.stderr)
        return 1
    try:
        sys.stdout.write(compile_loop_nt(src))
    except LoopcSyntaxError as e:
        print(str(e), file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())


def _compile_flat(text: str, key: str):
    """One ``.loop`` document -> (flat program triples, error)."""
    try:
        triples = compile_loop(text)
    except LoopcSyntaxError as e:
        return [], str(e)
    return [
        (t.s.kind, t.s.value, t.p.value, t.o.kind, t.o.value, t.o.lang, t.o.dt)
        for t in triples
    ], None


def read_loop(spark, path: str):
    """Distributed LOOP-source reader: compile each ``.loop`` file to
    its program triples (one document per file, through the shared
    document stage) -> (triples_df, errors_df). Programs are tiny by
    construction; the reader exists so the rdf CLI treats ``.loop``
    like any other source format (the reference pipes loopc output
    into its NT tooling instead)."""
    from argo_spark.sources.documents import (
        FLAT_DDL, parse_documents, scan_documents, split_quarantine,
    )

    parsed = parse_documents(
        scan_documents(spark, path), _compile_flat,
        FLAT_DDL + ", path string, error string",
    )
    return split_quarantine(parsed, "path", "error")
