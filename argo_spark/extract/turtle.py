"""Turtle parser (W3C Turtle 1.1) — PARSE side of the Turtle format.

Beyond the reference: argo registers Turtle serializer-ONLY
(/root/reference/argo.go:117-140, turtleserializer.go) and cannot
read the files it writes; a user switching over has .ttl inputs, so
this module closes the loop. Everything the repo's own writer emits
(sinks/writers.py::turtle_blocks — qnames, @prefix header, the
trailing-';' quirk, NT-style literal escapes) round-trips, plus the
standard Turtle surface the writer does not use:

* directives: ``@prefix`` / ``@base`` (with trailing '.') and the
  SPARQL-style ``PREFIX`` / ``BASE`` (case-insensitive, no dot);
  relative IRIs resolve against the in-effect base (RFC 3986 via
  urljoin, chained @base like SPARQL §4.1.1);
* predicate lists ``;`` (trailing ';' allowed — the writer's quirk),
  object lists ``,``, the ``a`` verb;
* literals: short/long single/double-quoted strings with ECHAR
  (\\t \\b \\n \\r \\f \\" \\' \\\\) and UCHAR (\\uXXXX \\UXXXXXXXX)
  escapes, ``@lang`` tags, ``^^`` datatypes, bare INTEGER / DECIMAL /
  DOUBLE with the xsd datatype the grammar assigns, ``true/false``;
* prefixed names with PN_LOCAL_ESC backslash escapes and %-encoded
  sequences; a trailing '.' is statement punctuation, not name;
* blank node labels ``_:x`` (kept verbatim), ANON ``[]`` and
  blank-node property lists ``[ p o ; ... ]`` (fresh deterministic
  skolem labels via terms.skolem_id — the repo-wide stand-in for the
  reference's random NewAnonNode, term.go:148-151);
* collections ``( o1 o2 )`` expanded to rdf:first/rest/nil chains,
  ``()`` = rdf:nil;
* ``#`` comments outside tokens.

Errors are per-document, all-or-nothing (same contract as
extract/squirtle.py): ``parse_turtle`` returns (triples, error) and
the distributed readers route rows to a (triples, errors) pair.

Parsing is whole-document (prefix/base state is document-scoped, so
a .ttl file cannot be line-split); ``read_turtle`` distributes via
the shared document stage (sources/documents.py) — one file per task
row, CPU-parallel across files, zero shuffles.
"""

from __future__ import annotations

from typing import List, Optional, Tuple
from urllib.parse import urljoin

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from argo_spark.extract.rdfa import FlatTriple
from argo_spark.namespaces import (
    NAMESPACES, RDF_FIRST, RDF_NIL, RDF_REST, RDF_TYPE, has_iri_scheme,
)
from argo_spark.sources.documents import (
    FLAT_DDL, parse_documents, scan_documents, split_quarantine,
)
from argo_spark.terms import (
    KIND_BLANK, KIND_IRI, KIND_LITERAL, skolem_id,
)

XSD = NAMESPACES["xsd"]
_ECHAR = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}
# chars that may appear UNESCAPED in a pname local / bnode label,
# beyond alphanumerics (non-ASCII always allowed)
_LOCAL_PLAIN = set("_-.")
# PN_LOCAL_ESC set (Turtle §6.4): a backslash makes these literal
_LOCAL_ESC = set("_~.-!$&'()*+,;=/?#@%")


class TurtleError(Exception):
    pass


class _Parser:
    def __init__(self, text: str, skolem_key: str = "", quads: bool = False):
        self.text = text
        self.pos = 0
        self.n = len(text)
        self.prefixes: dict[str, str] = {}
        self.base: Optional[str] = None
        self.skolem_key = skolem_key
        self._anon = 0
        self.quads = quads
        self.graph: Optional[str] = None  # current TriG graph label
        self.triples: list = []

    # ---- low-level ----------------------------------------------------

    def err(self, msg: str):
        line = self.text.count("\n", 0, self.pos) + 1
        raise TurtleError(f"line {line}: {msg}")

    def skip_ws(self):
        while self.pos < self.n:
            c = self.text[self.pos]
            if c in " \t\r\n":
                self.pos += 1
            elif c == "#":
                nl = self.text.find("\n", self.pos)
                self.pos = self.n if nl < 0 else nl + 1
            else:
                return

    def peek(self) -> str:
        self.skip_ws()
        return self.text[self.pos] if self.pos < self.n else ""

    def expect(self, ch: str):
        if self.peek() != ch:
            self.err(f"expected {ch!r}, got {self.text[self.pos:self.pos+10]!r}")
        self.pos += 1

    def at_word(self, word: str) -> bool:
        """Case-insensitive bare-word match NOT followed by a name
        char or ':' (so ``prefix:x`` stays a pname and ``ab`` does not
        match ``a``)."""
        self.skip_ws()
        end = self.pos + len(word)
        if self.text[self.pos:end].lower() != word:
            return False
        nxt = self.text[end:end + 1]
        # tuple membership: at EOF nxt == '' and '' in "_:-" is True
        # (the empty-slice pitfall), which would reject a keyword at
        # exact end-of-input
        return not (nxt.isalnum() or nxt in ("_", ":", "-"))

    # ---- terminals ----------------------------------------------------

    def read_uchar(self) -> str:
        # self.pos is ON the 'u'/'U'
        c = self.text[self.pos]
        width = 4 if c == "u" else 8
        hexs = self.text[self.pos + 1:self.pos + 1 + width]
        if len(hexs) != width:
            self.err("truncated \\u escape")
        try:
            cp = int(hexs, 16)
        except ValueError:
            self.err(f"bad \\{c} escape {hexs!r}")
        self.pos += 1 + width
        return chr(cp)

    def read_iriref(self) -> str:
        # on '<'
        self.pos += 1
        out = []
        while self.pos < self.n:
            c = self.text[self.pos]
            if c == ">":
                self.pos += 1
                iri = "".join(out)
                if self.base is not None and not has_iri_scheme(iri):
                    return urljoin(self.base, iri)
                return iri
            if c == "\\" and self.text[self.pos + 1:self.pos + 2] in ("u", "U"):
                self.pos += 1
                out.append(self.read_uchar())
                continue
            if c in "\n\r":
                break
            out.append(c)
            self.pos += 1
        self.err("unterminated IRI")

    def read_string(self) -> str:
        q = self.text[self.pos]  # '"' or "'"
        if self.text[self.pos:self.pos + 3] == q * 3:
            return self._read_long_string(q)
        self.pos += 1
        out = []
        while self.pos < self.n:
            c = self.text[self.pos]
            if c == q:
                self.pos += 1
                return "".join(out)
            if c in "\n\r":
                break
            if c == "\\":
                nxt = self.text[self.pos + 1:self.pos + 2]
                if nxt in _ECHAR:
                    out.append(_ECHAR[nxt])
                    self.pos += 2
                    continue
                if nxt in ("u", "U"):
                    self.pos += 1
                    out.append(self.read_uchar())
                    continue
                self.err(f"bad string escape \\{nxt}")
            out.append(c)
            self.pos += 1
        self.err("unterminated string")

    def _read_long_string(self, q: str) -> str:
        self.pos += 3
        out = []
        while self.pos < self.n:
            if self.text[self.pos:self.pos + 3] == q * 3:
                # quotes immediately before the closer are content
                while self.text[self.pos + 3:self.pos + 4] == q:
                    out.append(q)
                    self.pos += 1
                self.pos += 3
                return "".join(out)
            c = self.text[self.pos]
            if c == "\\":
                nxt = self.text[self.pos + 1:self.pos + 2]
                if nxt in _ECHAR:
                    out.append(_ECHAR[nxt])
                    self.pos += 2
                    continue
                if nxt in ("u", "U"):
                    self.pos += 1
                    out.append(self.read_uchar())
                    continue
                self.err(f"bad string escape \\{nxt}")
            out.append(c)
            self.pos += 1
        self.err("unterminated long string")

    def read_local(self, allow_colon: bool) -> str:
        """PN_LOCAL / bnode label: alnum, non-ASCII, '_', '-', '.'
        (not trailing — trailing dots are statement punctuation),
        optionally ':', '%XX' kept verbatim, and PN_LOCAL_ESC
        backslash escapes."""
        out = []
        escaped = []  # parallel flags: True = escape-produced, so the
        # trailing-dot trimmer must not pop it (`ex:a\.` ends in a
        # LITERAL dot) nor rewind pos by the wrong width
        while self.pos < self.n:
            c = self.text[self.pos]
            if c == "\\":
                nxt = self.text[self.pos + 1:self.pos + 2]
                if nxt not in _LOCAL_ESC:
                    self.err(f"bad local-name escape \\{nxt}")
                out.append(nxt)
                escaped.append(True)
                self.pos += 2
                continue
            if c == "%":
                hexs = self.text[self.pos + 1:self.pos + 3]
                if len(hexs) != 2 or any(
                    h not in "0123456789abcdefABCDEF" for h in hexs
                ):
                    self.err("bad %-sequence in local name")
                out.append(c + hexs)
                escaped.append(True)
                self.pos += 3
                continue
            if (
                c.isalnum() or ord(c) > 127 or c in _LOCAL_PLAIN
                or (allow_colon and c == ":")
            ):
                out.append(c)
                escaped.append(False)
                self.pos += 1
                continue
            break
        # a run of trailing UNESCAPED dots belongs to the statement,
        # not the name (each is one source char, so pos -= 1 is exact)
        while out and out[-1] == "." and not escaped[-1]:
            out.pop()
            escaped.pop()
            self.pos -= 1
        return "".join(out)

    def read_pname_or_word(self) -> Tuple[str, Optional[str]]:
        """-> (prefix_part, local) for a pname, or (word, None) for a
        bare word (directive keyword / 'a' / boolean)."""
        start = self.pos
        # prefix part: up to ':' — plain PN_CHARS only
        while self.pos < self.n:
            c = self.text[self.pos]
            if c.isalnum() or ord(c) > 127 or c in "_-.":
                self.pos += 1
            else:
                break
        word = self.text[start:self.pos]
        if self.pos < self.n and self.text[self.pos] == ":":
            self.pos += 1
            return word, self.read_local(allow_colon=True)
        while word.endswith("."):
            word = word[:-1]
            self.pos -= 1
        return word, None

    _NUM = set("0123456789+-.eE")

    def read_number(self) -> Tuple[str, str]:
        """-> (lexical, datatype IRI) for INTEGER/DECIMAL/DOUBLE."""
        start = self.pos
        if self.text[self.pos] in "+-":
            self.pos += 1
        seen_dot = seen_exp = False
        while self.pos < self.n:
            c = self.text[self.pos]
            if c.isdigit():
                self.pos += 1
            elif c == "." and not seen_dot and not seen_exp:
                # a dot NOT followed by a digit/exponent terminates
                # the statement instead
                nxt = self.text[self.pos + 1:self.pos + 2]
                if not (
                    nxt.isdigit()
                    or (nxt in ("e", "E") and seen_exp is False)
                ):
                    break
                seen_dot = True
                self.pos += 1
            elif c in "eE" and not seen_exp:
                seen_exp = True
                self.pos += 1
                if self.text[self.pos:self.pos + 1] in ("+", "-"):
                    self.pos += 1
            else:
                break
        lex = self.text[start:self.pos]
        tail = lex.split("e")[-1].split("E")[-1]
        if not any(ch.isdigit() for ch in tail):
            self.err(f"bad numeric literal {lex!r}")
        if seen_exp:
            return lex, XSD + "double"
        if seen_dot:
            return lex, XSD + "decimal"
        return lex, XSD + "integer"

    # ---- terms ---------------------------------------------------------

    def fresh_bnode(self) -> Tuple[int, str]:
        self._anon += 1
        return KIND_BLANK, skolem_id(self.skolem_key, "ttl", self._anon)

    def expand(self, prefix: str, local: str) -> str:
        if prefix in self.prefixes:
            return self.prefixes[prefix] + local
        # static-table fallback (same policy as the squirtle parser's
        # name resolution): lets write_turtle part files — whose
        # @prefix header lives in the ._prefixes sidecar — parse
        # standalone; unknown prefixes still error
        if prefix in NAMESPACES:
            return NAMESPACES[prefix] + local
        self.err(f"undeclared prefix {prefix!r}:")

    def parse_verb(self) -> str:
        c = self.peek()
        if c == "<":
            return self.read_iriref()
        if self.at_word("a"):
            self.pos += 1
            return RDF_TYPE
        word, local = self.read_pname_or_word()
        if local is None:
            self.err(f"expected predicate, got {word!r}")
        return self.expand(word, local)

    def parse_term(self, as_subject: bool):
        """-> (kind, value, lang, dt) tuple for a subject/object."""
        c = self.peek()
        if c == "":
            # empty string is a substring of every charset literal, so
            # EOF must short-circuit before the `c in "..."` branches
            self.err("unexpected end of input (expected term)")
        if c == "<":
            return (KIND_IRI, self.read_iriref(), None, None)
        if c == "(":
            return self.parse_collection()
        if c == "[":
            return self.parse_bnode_props()
        if c in "\"'":
            if as_subject:
                self.err("literal subject")
            value = self.read_string()
            # @lang / ^^dt suffix (no whitespace allowed before @/^^)
            if self.text[self.pos:self.pos + 1] == "@":
                self.pos += 1
                start = self.pos
                while self.pos < self.n and (
                    self.text[self.pos].isalnum() or self.text[self.pos] == "-"
                ):
                    self.pos += 1
                tag = self.text[start:self.pos]
                if not tag:
                    self.err("empty language tag")
                return (KIND_LITERAL, value, tag, None)
            if self.text[self.pos:self.pos + 2] == "^^":
                self.pos += 2
                c2 = self.peek()
                if c2 == "<":
                    dt = self.read_iriref()
                else:
                    w, loc = self.read_pname_or_word()
                    if loc is None:
                        self.err("expected datatype IRI after ^^")
                    dt = self.expand(w, loc)
                return (KIND_LITERAL, value, None, dt)
            return (KIND_LITERAL, value, None, None)
        nxt1 = self.text[self.pos + 1:self.pos + 2]
        nxt2 = self.text[self.pos + 2:self.pos + 3]
        if c.isdigit() or (
            c in ("+", "-", ".")
            and (nxt1.isdigit() or (c != "." and nxt1 == "." and nxt2.isdigit()))
        ):
            if as_subject:
                self.err("numeric subject")
            lex, dt = self.read_number()
            return (KIND_LITERAL, lex, None, dt)
        if c == "_" and self.text[self.pos:self.pos + 2] == "_:":
            self.pos += 2
            label = self.read_local(allow_colon=False)
            if not label:
                self.err("empty blank node label")
            return (KIND_BLANK, label, None, None)
        word, local = self.read_pname_or_word()
        if local is not None:
            return (KIND_IRI, self.expand(word, local), None, None)
        if not as_subject and word in ("true", "false"):
            return (KIND_LITERAL, word, None, XSD + "boolean")
        self.err(f"expected term, got {word!r}")

    def parse_collection(self):
        self.expect("(")
        items = []
        while self.peek() != ")":
            if self.pos >= self.n:
                self.err("unterminated collection")
            items.append(self.parse_term(as_subject=False))
        self.pos += 1  # ')'
        if not items:
            return (KIND_IRI, RDF_NIL, None, None)
        cells = [self.fresh_bnode() for _ in items]
        for i, (item, cell) in enumerate(zip(items, cells)):
            self.emit(cell + (None, None), RDF_FIRST, item)
            rest = (
                cells[i + 1] + (None, None)
                if i + 1 < len(items)
                else (KIND_IRI, RDF_NIL, None, None)
            )
            self.emit(cell + (None, None), RDF_REST, rest)
        return cells[0] + (None, None)

    def parse_bnode_props(self):
        self.expect("[")
        node = self.fresh_bnode() + (None, None)
        if self.peek() != "]":
            self.parse_predicate_object_list(node, terminators=("]",))
        self.expect("]")
        return node

    # ---- productions ----------------------------------------------------

    def emit(self, s, p: str, o):
        if s[0] == KIND_LITERAL:
            self.err("literal subject")
        row = (s[0], s[1], p, o[0], o[1], o[2], o[3])
        self.triples.append(row + (self.graph,) if self.quads else row)

    def parse_predicate_object_list(self, subject, terminators: tuple):
        while True:
            p = self.parse_verb()
            while True:
                o = self.parse_term(as_subject=False)
                self.emit(subject, p, o)
                if self.peek() == ",":
                    self.pos += 1
                    continue
                break
            # ';' separates verbs; trailing ';' (the writer's quirk)
            # and ';;' runs are allowed
            progressed = False
            while self.peek() == ";":
                self.pos += 1
                progressed = True
            if self.peek() in terminators or self.pos >= self.n:
                return
            if not progressed:
                self.err(
                    f"expected ';' or one of {terminators!r} after "
                    f"object, got {self.text[self.pos:self.pos+10]!r}"
                )

    def parse_directive(self) -> bool:
        c = self.peek()
        if c == "@":
            self.pos += 1
            word, local = self.read_pname_or_word()
            if local is not None:
                self.err(f"bad directive @{word}:{local}")
            if word == "prefix":
                self._prefix_decl()
                self.expect(".")
            elif word == "base":
                if self.peek() != "<":
                    self.err("@base needs an IRI")
                self.base = self.read_iriref()
                self.expect(".")
            else:
                self.err(f"unknown directive @{word}")
            return True
        if self.at_word("prefix"):
            self.pos += len("prefix")
            self._prefix_decl()
            return True
        if self.at_word("base"):
            self.pos += len("base")
            if self.peek() != "<":
                self.err("BASE needs an IRI")
            self.base = self.read_iriref()
            return True
        return False

    def _prefix_decl(self):
        self.skip_ws()
        word, local = self.read_pname_or_word()
        if local is None or local != "":
            self.err("bad prefix declaration (expected 'p:' '<iri>')")
        if self.peek() != "<":
            self.err("prefix declaration needs an IRI")
        # §4.1.1 semantics shared with SPARQL: the IRI resolves
        # against the base in effect at the declaration
        self.prefixes[word] = self.read_iriref()

    def parse_wrapped_graph(self, g: Optional[str]):
        """TriG ``{ triplesBlock }`` with the current graph set to
        ``g``; the final statement's '.' is optional before '}'."""
        prev = self.graph
        self.graph = g
        self.expect("{")
        while True:
            self.skip_ws()
            if self.peek() == "}":
                self.pos += 1
                break
            if self.pos >= self.n:
                self.err("unterminated graph block")
            subj = self.parse_term(as_subject=True)
            if self.peek() == "." and subj[0] == KIND_BLANK:
                self.pos += 1
                continue
            self.parse_predicate_object_list(subj, terminators=(".", "}"))
            if self.peek() == ".":
                self.pos += 1
        self.graph = prev

    def parse_graph_label(self) -> str:
        c = self.peek()
        if c == "<":
            return self.read_iriref()
        if self.text[self.pos:self.pos + 2] == "_:":
            # the quad model stores graph labels as plain IRI strings
            # (g_value, nquads.py) — no blank graph labels
            self.err("blank-node graph labels are not supported "
                     "(quad model stores IRI g_value)")
        word, local = self.read_pname_or_word()
        if local is None:
            self.err(f"expected graph label, got {word!r}")
        return self.expand(word, local)

    def parse_doc(self) -> List[FlatTriple]:
        while True:
            self.skip_ws()
            if self.pos >= self.n:
                return self.triples
            if self.parse_directive():
                continue
            if self.quads:
                # TriG block forms: '{...}' (default graph), 'GRAPH
                # label {...}', 'label {...}'
                if self.peek() == "{":
                    self.parse_wrapped_graph(None)
                    continue
                if self.at_word("graph"):
                    self.pos += len("graph")
                    g = self.parse_graph_label()
                    self.parse_wrapped_graph(g)
                    continue
                subj = self.parse_term(as_subject=True)
                if self.peek() == "{":
                    if subj[0] != KIND_IRI:
                        self.err("graph label must be an IRI")
                    self.parse_wrapped_graph(subj[1])
                    continue
            else:
                subj = self.parse_term(as_subject=True)
            # a blankNodePropertyList subject may stand alone
            if self.peek() == "." and subj[0] == KIND_BLANK:
                self.pos += 1
                continue
            self.parse_predicate_object_list(subj, terminators=(".",))
            self.expect(".")


def parse_turtle(
    text: str, skolem_key: str = ""
) -> Tuple[List[FlatTriple], Optional[str]]:
    """Whole-document parse -> (triples, error). All-or-nothing per
    document: any syntax error voids the document's triples (same
    contract as parse_squirtle)."""
    try:
        return _Parser(text, skolem_key).parse_doc(), None
    except TurtleError as e:
        return [], str(e)
    except RecursionError:
        return [], "turtle: nesting too deep"
    except IndexError:
        # totality backstop: a truncated document must yield an error
        # row, never crash the Arrow stage
        return [], "turtle: unexpected end of input"


TURTLE_SCHEMA = FLAT_DDL + ", key string, error string"


def parse_turtle_col(
    df: DataFrame, text_col: str = "value", key_col: str = "key"
) -> DataFrame:
    """Distributed parse through the shared document stage: one
    DOCUMENT per input row (prefix state is document-scoped — .ttl
    cannot be line-split), keyed output + per-document error rows."""
    return parse_documents(
        df, lambda text, key: parse_turtle(text, skolem_key=key),
        TURTLE_SCHEMA, text_col, key_col,
    )


def read_turtle(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Read .ttl files (one document per file) into (triples_df,
    errors_df)."""
    return split_quarantine(
        parse_turtle_col(scan_documents(spark, path)),
        F.col("key").alias("path"), "error",
    )


# ---------------------------------------------------------------------------
# TriG — Turtle plus graph blocks, the PARSE side of the quad model
# (writer: sinks/writers.py::trig_blocks). '{...}' wraps the default
# graph, 'GRAPH <g> {...}' / '<g> {...}' name one; graph labels land
# in g_value (NULL = default graph, the N-Quads reader's convention).
# ---------------------------------------------------------------------------


def parse_trig(
    text: str, skolem_key: str = ""
) -> Tuple[List[tuple], Optional[str]]:
    """Whole-document TriG parse -> (quads, error); quad rows are
    FlatTriple + (g_value,)."""
    try:
        return _Parser(text, skolem_key, quads=True).parse_doc(), None
    except TurtleError as e:
        return [], str(e)
    except RecursionError:
        return [], "trig: nesting too deep"
    except IndexError:
        return [], "trig: unexpected end of input"


TRIG_SCHEMA = FLAT_DDL + ", g_value string, key string, error string"


def parse_trig_col(
    df: DataFrame, text_col: str = "value", key_col: str = "key"
) -> DataFrame:
    """Distributed TriG parse through the shared document stage, one
    document per row."""
    return parse_documents(
        df, lambda text, key: parse_trig(text, skolem_key=key),
        TRIG_SCHEMA, text_col, key_col,
    )


def read_trig(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Read .trig files into (quads_df, errors_df)."""
    return split_quarantine(
        parse_trig_col(scan_documents(spark, path)),
        F.col("key").alias("path"), "error",
    )
