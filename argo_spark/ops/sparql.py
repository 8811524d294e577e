"""SPARQL SELECT/ASK text front-end over bgp_match (SURVEY §2.5 E3).

The reference's query surface is SPARQL text sent to an HTTP endpoint
(/root/reference/sparql/sparqlservice.go:43-95); result bindings are a
map keyed by bare variable name (result.go SelectResult). In-engine
there is no endpoint — this parses the conjunctive SELECT subset those
clients send and plans it with :func:`argo_spark.ops.bgp.bgp_match`,
whose output columns are exactly the reference's binding names
(variable names without ``?``) holding NT lexical forms.

Supported grammar (BGP core + the algebra subset that maps directly
onto DataFrame operators):

    PREFIX p: <uri> ...
    SELECT (DISTINCT | REDUCED)?   — REDUCED eliminates duplicates
          (conformant per §9.3.3, deterministic by choice)
        (?v | '(' AGG '(' DISTINCT? (?v|*) ')' AS ?a ')'
        | '(' Operand AS ?a ')'   — expression projection: without
          aggregates/GROUP BY it desugars to a trailing BIND
          (§18.2.4.2 Extend); WITH them it evaluates over the
          aggregated frame (scope = GROUP BY keys + agg aliases;
          numeric results are NATIVE numerics like the aggregates,
          string results plain-literal NT forms)
        ... | *) WHERE Group (GROUP BY (?v | '(' expr AS ?v ')')+)?
        (HAVING Expr+)? — HAVING operands may reference aggregate
          aliases or be bare AGG(...) calls (hidden aggregates,
          computed with the projected ones, never selected)
        (ORDER BY (?v | ASC|DESC(expr) | builtin-call | '('expr')')+)?
        (LIMIT n)? (OFFSET n)?
        (VALUES ...)? — trailing data block; joins into the WHERE
          pattern per the algebra (18.2.4.6), though it parses last
    AGG := COUNT | SUM | AVG | MIN | MAX | GROUP_CONCAT | SAMPLE —
        COUNT and the numeric four also take EXPRESSION targets
        (SUM(?a * 2), AVG(STRLEN(?n)) — aggregated in the numeric
        value space; COUNT counts non-error evaluations);
        numeric aggregates are NATIVE numerics (COUNT long; the rest
        double over the lexical cast, non-numeric bindings skipped),
        not NT strings; GROUP_CONCAT joins SORTED lexical forms
        (deterministic order — documented divergence from the spec's
        undefined order) with an optional ``; SEPARATOR="..."``;
        SAMPLE is the minimum NT form (deterministic choice)
    ASK Group
    Update := (INSERT|DELETE) DATA '{' const-triples '}'
        | DELETE WHERE '{' Triple+ '}'
        | (DELETE '{' Triple+ '}')? (INSERT '{' Triple+ '}')?
          WHERE Group — ';'-chained; functional (returns a new
          frame); set-semantic against the bag store (DELETE drops
          all copies, INSERT adds missing triples once); see
          sparql_update
    CONSTRUCT '{' Triple+ '}' WHERE Group (modifiers)?
        | CONSTRUCT WHERE '{' Triple+ '}' (modifiers)?  — §10.2.3
          shorthand (plain triple block: no filters, paths, or
          nested forms)
    DESCRIBE (<iri>+ | ?v+ WHERE Group (modifiers)?)
    Triple  := Term Path Term (';' Path Term)* — Turtle-style
               predicate-object lists, and ',' object lists within
               each (spec grammar [75]/[77]/[79]; '; .' trailing form
               accepted) ;
    Path := Seq ('|' Seq)* | '!' (IRI | '(' IRI ('|' IRI)* ')')
               — negated property set (§9.1, plain-IRI members):
               desugars to an internal predicate variable + a
               set-exclusion filter ;
    Path(cont.) :=
               Seq := ('^'? IRI ('+'|'*'|'?')?) ('/' ...)*   — sequence,
               alternation and inverse desugar into joins/UNIONs with
               internal variables (dropped from results); +/*/?
               modifiers compose anywhere in a sequence or branch
               (each modified step is a closure frame joined through
               the chain): +/* evaluate via
               ops/traversal.py::transitive_closure (pointer doubling,
               O(log diameter) rounds, raises past 2^10 hops), '?' is
               the one-hop edges plus zero-length pairs; '*'/'?' add
               the spec's zero-length pairs (n, n) for every
               subject/object term of the graph
    Group   := '{' ( Triple '.'? | OPTIONAL Group | MINUS Group
                   | FILTER (Expr | (NOT)? EXISTS Group)
                   | VALUES (?v | '(' ?v+ ')') '{' data '}'
                   | BIND '(' (?v | Term | STR|LANG|DATATYPE(?v))
                              AS ?new ')'
                   | '{' SELECT ... '}'   — subquery, evaluated
                     bottom-up (§18.2.2.14; outer bindings invisible
                     inside) and joined on its projected variables;
                     also valid as a whole group body, i.e. as a
                     UNION branch ('{ SELECT ... } UNION Group' —
                     merging an aggregate alias with NT bindings of
                     the same name still raises); joining the outer
                     group on a native-numeric aggregate alias raises
                   | Group (UNION Group)* '.'? )* '}'
    Expr    := Or | '(' Expr ')' ; Or/And/'!' over comparisons,
               (NOT) EXISTS Group — composable inside the boolean
               structure (each occurrence is a mark join: left outer
               join of the subgroup's deduped shared-variable frame
               with a flag; a standalone FILTER (NOT) EXISTS still
               plans as a semi/anti join) — and
               BOUND(?v) / REGEX(?v, "pat" (, "ism"*)?) /
               isIRI|isURI|isLiteral|isBlank(?v) (NT-prefix checks;
               error->NULL on unbound) / isNumeric(?v) (literal whose
               lexical form parses as a number — a value-space check,
               not a datatype-IRI check) / sameTerm(a, b) (strict NT
               identity) / STRSTARTS|STRENDS|CONTAINS(a, b) (escaped
               lexical comparison; the spec's @lang argument-
               compatibility check is simplified away) /
               LANGMATCHES(tag, range) (RFC 4647 basic filtering:
               '*', case-insensitive exact, '-'-prefix); comparison
               operands may be STR(?v) / LANG(?v) / DATATYPE(?v) /
               STRLEN(?v) (numeric) / UCASE(?v) / LCASE(?v) /
               COALESCE(var|term|number, ...) (first BOUND value;
               also usable in BIND when no bare-number arm) /
               IF(Expr, then, else) (error condition -> NULL result,
               not the else branch; same branch-operand subset) /
               numeric arithmetic (+ - * / with standard precedence,
               always-numeric: non-numeric bindings error the row
               out; / is try_divide — divide-by-zero drops, never
               aborts) /
               SUBSTR(src, start (, len)?) (1-based, integer-literal
               positions) / STRBEFORE|STRAFTER(a, b) (first
               occurrence; spec's empty-pattern cases: before->"",
               after->source) / CONCAT(args...) / REPLACE(src, "pat",
               "rep" (, "ism"?)?) (regex per fn:replace; same flag
               policy as REGEX, Java $N group refs) /
               ABS|CEIL|FLOOR|ROUND(num-expr) (always-numeric; ROUND
               is fn:round's half-toward-+inf, not Java half-up) /
               'operand (NOT)? IN (const-term, ...)' — desugars to
               the spec's own =-disjunction equivalence /
               MD5|SHA1|SHA256(a) (hex digest of the lexical form) /
               IRI|URI(a) (lexical -> IRI; no BASE resolution) /
               STRDT(a, <dt>) / STRLANG(a, "tag") (constant
               datatype/tag; full NT terms — usable in BIND and
               sameTerm)
               (LANG is "" for untagged literals; DATATYPE is
               xsd:string for plain and rdf:langString for tagged
               literals per SPARQL 1.1; both are errors — NULL,
               row drops — on non-literals)

with terms ``?var``/``$var``, ``<iri>``, ``prefix:local``, the ``a``
keyword (rdf:type), ``"literal"`` with optional ``@lang`` or
``^^<dt>``/``^^prefix:local``, bare integer/decimal numbers in
FILTER expressions, and blank nodes — ``_:label`` or anonymous
``[ p o ; ... ]`` property lists (both desugar to internal
non-projectable variables; a label shared across groups joins, a
superset of the spec's per-BGP scoping; not valid in CONSTRUCT
templates, where they would mean per-solution bnode generation). Residual exclusions:
GROUP_CONCAT separator arguments beyond a plain string, federated
SERVICE, named graphs (GRAPH/WITH/USING — the data model is a
single triples frame), and datetime builtins (no temporal literals
in the corpus model).
Algebra mapping (SPARQL 1.1 §18.2 translation, evaluated
left-to-right): triple blocks join on shared variables, OPTIONAL is a
left outer join on the shared variables, UNION is ``unionByName``
with null-extension of disjoint variables, group-scoped FILTERs apply
after the group's joins.

Documented FILTER semantics subset: ``=``/``!=`` compare full NT
forms (term equality; a bare numeric constant instead compares the
extracted lexical cast to double, so ``?x = 4`` matches
``"4"^^xsd:integer``); ``<``/``<=``/``>``/``>=`` compare numerically
when either side is a numeric constant and otherwise compare the
escaped lexical form as a string; REGEX matches the escaped lexical
of the binding; an unbound variable makes comparisons NULL (the row
drops — SPARQL's error-eliminates-row) and BOUND false. A FILTER
directly inside an OPTIONAL group referencing OUTER variables is
the spec's LeftJoin EXPRESSION (§18.2.1): it rides in the left
join's condition, so an expression error or false keeps the left
row alone — the spec's else-arm (a composed EXISTS referencing
outer variables still raises; inner-only filters evaluate inside
the subgroup as before). Leading OPTIONAL and OPTIONAL sharing no
variables with the accumulated solution raise. VALUES
(group-level, with UNDEF) joins as a broadcast inline table. A
join keyed on a POSSIBLY-UNBOUND variable — one a UNION branch
doesn't bind, an OPTIONAL may not bind, or a VALUES UNDEF leaves
open — implements SPARQL's full compatibility relation (§18.5:
unbound matches anything; the merged binding is the bound side;
MINUS additionally requires a bound-domain overlap). It plans as a
conditional (nested-loop) join — only when nullability forces it;
all-bound keys keep the hash equi-join. In struct mode (CONSTRUCT)
the term struct coalesces alongside its NT column, so merged
bindings emit correct triples.

ORDER BY implements §15.1 made total (documented): unbound < blank <
IRI < numeric literals by value < other literals by escaped lexical,
full NT form as tiebreak; DESC reverses the key. ORDER BY + LIMIT
plans as top-k (TakeOrderedAndProject), not a global sort. Sort keys
may also be expressions — ``ASC/DESC(expr)`` or a bare builtin
call / parenthesized additive expression (ascending): numeric
expressions sort by value, string expressions by lexical with the NT
form as tiebreak.
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from typing import Sequence

from pyspark.sql import DataFrame

from argo_spark.namespaces import RDF_TYPE
from argo_spark.ops.bgp import _TERM_STRUCT_PREFIX
from argo_spark.session import local_frame
from argo_spark.terms import KIND_LITERAL, Term

_TOKEN = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<var>[?$][A-Za-z_][A-Za-z0-9_]*)
  | (?P<iri><[^<>"{}|^`\\\s]*>)
  | (?P<lit>"(?:[^"\\]|\\.)*")
  | (?P<langtag>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<dtmark>\^\^)
  | (?P<pname>[A-Za-z_][A-Za-z0-9_-]*:[A-Za-z0-9_.-]*|:[A-Za-z0-9_.-]+)
  | (?P<kw>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<dec>[0-9]+\.[0-9]+)
  | (?P<num>[0-9]+)
  | (?P<op>!=|<=|>=|&&|\|\||[=<>!])
  | (?P<punct>[{}.*;,()/|^+?\[\]-])
    """,
    re.VERBOSE,
)

_ESCAPES = {"t": "\t", "n": "\n", "r": "\r", '"': '"', "\\": "\\", "'": "'"}


class SparqlSyntaxError(ValueError):
    pass


class Group:
    """A SPARQL group graph pattern: ordered ``elements`` (("bgp",
    [patterns]) | ("optional", Group) | ("union", [Group, ...])) plus
    group-scoped ``filters`` (expression tuples)."""

    def __init__(self, elements: list, filters: list):
        self.elements = elements
        self.filters = filters

    @property
    def triples(self) -> list[tuple]:
        """The group's DIRECT triple patterns, in textual order."""
        return [t for k, pats in self.elements if k == "bgp" for t in pats]


def _tokenize(query: str) -> list[tuple[str, str]]:
    out = []
    pos = 0
    while pos < len(query):
        m = _TOKEN.match(query, pos)
        if m is None:
            raise SparqlSyntaxError(f"bad token at {query[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "var":
            # internal column-name prefixes are not query variables
            for prefix, what in (
                (_PATH_VAR_PREFIX, "path-variable"),
                (_TERM_STRUCT_PREFIX, "term-struct"),
            ):
                if m.group()[1:].startswith(prefix):
                    raise SparqlSyntaxError(
                        f"variable name {m.group()!r} collides with the "
                        f"internal {what} prefix"
                    )
        if kind != "ws":
            out.append((kind, m.group()))
    return out


def _unescape(body: str) -> str:
    out = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            out.append(_ESCAPES.get(body[i + 1], body[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


_BOOL_BUILTINS = (
    "BOUND", "REGEX", "ISIRI", "ISURI", "ISLITERAL", "ISBLANK", "SAMETERM",
    "STRSTARTS", "STRENDS", "CONTAINS", "LANGMATCHES", "ISNUMERIC",
)


_PATH_VAR_PREFIX = "__path"

# RFC 3986 scheme — an IRI starting with one is absolute and ignores
# the prologue BASE
_ABS_IRI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")

# timezone suffix of a FULL dateTime lexical (TZ/TIMEZONE builtins):
# extraction yields "" both when a valid dateTime has no timezone and
# when the operand is not a dateTime at all
_DT_TZ_RE = (
    r"^-?\d{4,}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?"
    r"(Z|[+-]\d{2}:\d{2})?$"
)


def _flatten_static_path(alts):
    """Distribute modifier-free parenthesized groups out of a parsed
    path — ``(p|q)/r`` -> ``p/r | q/r``, ``^(p/q)`` -> ``^q/^p`` —
    yielding the plain alternation-of-sequences shape ("path" form:
    list of [(inv, iri), ...]). Only called when no step anywhere
    carries a +/*/? modifier, so the product is over tiny literal
    alternations, never data."""

    def flat_elt(inv, prim):
        if isinstance(prim, tuple) and prim[0] == "group":
            seqs = [fs for sq in prim[1] for fs in flat_seq(sq)]
            if inv:
                seqs = [
                    [(not i2, p2) for (i2, p2) in reversed(fs)]
                    for fs in seqs
                ]
            return seqs
        return [[(inv, prim)]]

    def flat_seq(sq):
        outs = [[]]
        for (inv, prim, _clo) in sq:
            outs = [a + b for a in outs for b in flat_elt(inv, prim)]
        return outs

    return [fs for sq in alts for fs in flat_seq(sq)]


def _invert_pathx_alts(alts):
    """``^(path)`` over a closure-bearing group: reverse each
    sequence and flip every step's inverse flag — inversion
    distributes over closure (``^(p+) == (^p)+``) and recursively
    over nested groups (handled when the flipped step is expanded)."""
    return [
        [(not inv, prim, clo) for (inv, prim, clo) in reversed(sq)]
        for sq in alts
    ]


class _Parser:
    def __init__(self, query: str):
        self.toks = _tokenize(query)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base: str | None = None
        self._pathvar = 0
        # non-None only while parsing HAVING constraints: collects
        # hidden aggregates for bare AGG(...) operands
        self._having_aggs: list | None = None

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def peek_at(self, n: int):
        j = self.i + n
        return self.toks[j] if j < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        if t[0] is None:
            raise SparqlSyntaxError("unexpected end of query")
        self.i += 1
        return t

    def expect_kw(self, word: str):
        kind, val = self.next()
        if kind != "kw" or val.upper() != word:
            raise SparqlSyntaxError(f"expected {word}, got {val!r}")

    def expect_punct(self, ch: str):
        kind, val = self.next()
        if not (kind == "punct" and val == ch):
            raise SparqlSyntaxError(f"expected {ch!r}, got {val!r}")

    def capture_group_tokens(self) -> str:
        """Raw token text of one balanced ``{ ... }`` group — the
        SERVICE payload, re-serialized from tokens (space-joined,
        except language tags and ``^^<dt>`` which must stay glued to
        their literal per the SPARQL grammar)."""
        self.expect_punct("{")
        depth = 1
        parts: list[str] = []
        prev_kind: str | None = None
        while True:
            kind, val = self.next()
            if kind == "punct" and val == "{":
                depth += 1
            elif kind == "punct" and val == "}":
                depth -= 1
                if depth == 0:
                    return "".join(parts)
            if parts and kind not in ("langtag", "dtmark") \
                    and prev_kind != "dtmark":
                parts.append(" ")
            parts.append(val)
            prev_kind = kind

    def parse_prefixes(self):
        while True:
            kind, val = self.peek()
            if kind == "kw" and val.upper() == "PREFIX":
                self.next()
                pk, pv = self.next()
                if pk != "pname" or not pv.endswith(":"):
                    raise SparqlSyntaxError(f"bad PREFIX name {pv!r}")
                ik, iv = self.next()
                if ik != "iri":
                    raise SparqlSyntaxError(f"bad PREFIX iri {iv!r}")
                # §4.1.1: a PREFIX IRI resolves against the base in
                # effect at its declaration (prologue order matters)
                self.prefixes[pv[:-1]] = self.resolve_iri(iv[1:-1])
            elif kind == "kw" and val.upper() == "BASE":
                self.next()
                ik, iv = self.next()
                if ik != "iri":
                    raise SparqlSyntaxError(f"bad BASE iri {iv!r}")
                # a later BASE resolves against the earlier one (RFC
                # 3986 §5.1.1 chaining, same as repeated @base)
                self.base = self.resolve_iri(iv[1:-1])
            else:
                return

    def resolve_iri(self, iri_text: str) -> str:
        """RFC 3986 resolution against the prologue BASE. Absolute
        IRIs (with a scheme) pass through; without a BASE, relative
        IRIs also pass through unchanged (pre-BASE behavior — the
        frame's IRIs are plain strings either way)."""
        if self.base is None or _ABS_IRI_RE.match(iri_text):
            return iri_text
        from urllib.parse import urljoin

        return urljoin(self.base, iri_text)

    def expand_pname(self, pname: str) -> str:
        p, _, local = pname.partition(":")
        if p not in self.prefixes:
            raise SparqlSyntaxError(f"undeclared prefix {p!r}")
        return self.prefixes[p] + local

    def parse_term(self, position: str):
        kind, val = self.next()
        if kind == "var":
            return "?" + val[1:]
        if kind == "iri":
            return self.resolve_iri(val[1:-1])
        if kind == "pname" and val.startswith("_:"):
            # blank node label (§4.1.4): scoped non-projectable
            # variable — internal-prefix name so the projection-drop
            # and collision machinery treat it like a path var. The
            # spec scopes labels to one basic graph pattern; here a
            # label shared across groups in one query joins (superset
            # behavior, documented).
            if position == "p":
                raise SparqlSyntaxError("blank node in predicate position")
            return f"?{_PATH_VAR_PREFIX}bn_{val[2:]}"
        if kind == "pname":
            return self.expand_pname(val)
        if kind == "kw" and val == "a" and position == "p":
            return RDF_TYPE
        if kind == "lit":
            if position == "p":
                raise SparqlSyntaxError("literal in predicate position")
            value = _unescape(val[1:-1])
            nk, nv = self.peek()
            if nk == "langtag":
                self.next()
                return Term(KIND_LITERAL, value, lang=nv[1:])
            if nk == "dtmark":
                self.next()
                dk, dv = self.next()
                if dk == "iri":
                    dt = self.resolve_iri(dv[1:-1])
                elif dk == "pname":
                    dt = self.expand_pname(dv)
                else:
                    raise SparqlSyntaxError(f"bad datatype {dv!r}")
                return Term(KIND_LITERAL, value, dt=dt)
            return Term(KIND_LITERAL, value)
        raise SparqlSyntaxError(f"unexpected term {val!r}")

    def parse_group(self) -> "Group":
        self.expect_punct("{")
        elements: list[tuple] = []
        filters: list[tuple] = []
        while True:
            kind, val = self.peek()
            if kind == "punct" and val == "}":
                self.next()
                break
            if kind == "kw" and val.upper() == "OPTIONAL":
                self.next()
                elements.append(("optional", self.parse_group()))
            elif kind == "kw" and val.upper() == "MINUS":
                self.next()
                elements.append(("minus", self.parse_group()))
            elif kind == "kw" and val.upper() == "GRAPH":
                # GRAPH (iri | ?var) GroupGraphPattern (§13.3)
                self.next()
                gk, gvv = self.peek()
                if gk == "var":
                    self.next()
                    gterm = gvv
                else:
                    gterm = self.parse_term("s")
                    if not isinstance(gterm, str) or gterm.startswith("?"):
                        raise SparqlSyntaxError(
                            "GRAPH needs an IRI or a variable"
                        )
                elements.append(("graph", (gterm, self.parse_group())))
            elif kind == "kw" and val.upper() == "SERVICE":
                # §18.8 federation: the inner pattern ships to the
                # endpoint VERBATIM (re-serialized from tokens), so
                # the full remote grammar is available regardless of
                # this engine's local coverage
                self.next()
                silent = False
                k2, v2 = self.peek()
                if k2 == "kw" and v2.upper() == "SILENT":
                    self.next()
                    silent = True
                k2, v2 = self.peek()
                if k2 == "var":
                    raise SparqlSyntaxError(
                        "SERVICE with a variable endpoint is not "
                        "supported (constant IRI only)"
                    )
                ep = self.parse_term("s")
                if not isinstance(ep, str) or ep.startswith("?"):
                    raise SparqlSyntaxError(
                        "SERVICE needs an endpoint IRI"
                    )
                raw = self.capture_group_tokens()
                elements.append(
                    ("service", (ep, silent, raw, dict(self.prefixes)))
                )
            elif kind == "kw" and val.upper() == "VALUES":
                self.next()
                elements.append(self.parse_values())
            elif kind == "kw" and val.upper() == "BIND":
                self.next()
                self.expect_punct("(")
                opnode = self.parse_operand()
                if opnode[0] == "num":
                    raise SparqlSyntaxError(
                        "BIND of a bare number is unsupported (no "
                        "canonical NT form chosen) — bind a typed "
                        "literal instead"
                    )
                self.expect_kw("AS")
                bk, bv = self.next()
                if bk != "var":
                    raise SparqlSyntaxError("BIND needs AS ?var")
                self.expect_punct(")")
                elements.append(("bind", (opnode, bv[1:])))
            elif kind == "kw" and val.upper() == "FILTER":
                self.next()
                filters.append(self.parse_constraint())
            elif kind == "punct" and val == "{":
                nk, nv = self.peek_at(1)
                if nk == "kw" and nv.upper() == "SELECT":
                    # subquery: '{ SELECT ... }' — evaluated
                    # bottom-up, joined on its projected variables
                    # (§18.2.2.14); a subquery as a UNION branch is
                    # not supported (the next token would fail the
                    # triple parse)
                    self.next()
                    self.next()
                    parts = _parse_select_body(self, stop_at_brace=True)
                    self.expect_punct("}")
                    kind, val = self.peek()
                    if kind == "kw" and val.upper() == "UNION":
                        # '{ SELECT ... } UNION Group...' — the
                        # subquery is the first union branch
                        branches = [Group([("subquery", parts)], [])]
                        while True:
                            k2, v2 = self.peek()
                            if k2 == "kw" and v2.upper() == "UNION":
                                self.next()
                                branches.append(self.parse_group())
                            else:
                                break
                        elements.append(("union", branches))
                    else:
                        elements.append(("subquery", parts))
                    kind, val = self.peek()
                    if kind == "punct" and val == ".":
                        self.next()
                    continue
                branches = [self.parse_group()]
                while True:
                    k2, v2 = self.peek()
                    if k2 == "kw" and v2.upper() == "UNION":
                        self.next()
                        branches.append(self.parse_group())
                    else:
                        break
                elements.append(("union", branches))
            elif kind == "kw" and val.upper() == "SELECT":
                # a subquery as the ENTIRE group body — the form a
                # UNION branch takes: '{ SELECT ... } UNION { ... }'
                # (the nested '{ { SELECT ... } }' spelling keeps
                # working via the brace-lookahead case above)
                self.next()
                parts = _parse_select_body(self, stop_at_brace=True)
                elements.append(("subquery", parts))
            else:
                # TriplesSameSubject: subject (a term or a '[...]'
                # blank-node property list), then ';'-separated
                # predicate-object lists, each with ','-separated
                # object lists (Turtle-style sugar, spec grammar
                # [75]/[77]/[79]/[99])
                k2, v2 = self.peek()
                if k2 == "punct" and v2 == "[":
                    s = self._parse_bnpl(elements, filters)
                    k3, v3 = self.peek()
                    # '[ p o ] .' may stand alone as a whole triple
                    if not (k3 == "punct" and v3 in (".", "}")):
                        self._parse_polist(s, elements, filters)
                else:
                    s = self.parse_term("s")
                    self._parse_polist(s, elements, filters)
            kind, val = self.peek()
            if kind == "punct" and val == ".":
                self.next()
        if not elements and not filters:
            raise SparqlSyntaxError("empty group pattern")
        return Group(elements, filters)

    def _parse_bnpl(self, elements, filters) -> str:
        """'[' PropertyList? ']' — anonymous blank node: a fresh
        internal (non-projectable) variable, with the bracketed
        predicate-object list, if any, attached to it."""
        self.expect_punct("[")
        self._pathvar += 1
        bv = f"?{_PATH_VAR_PREFIX}bn_anon{self._pathvar}"
        if self.peek() != ("punct", "]"):
            self._parse_polist(bv, elements, filters)
        self.expect_punct("]")
        return bv

    def _parse_polist(self, s, elements, filters) -> None:
        """';'-separated predicate-object list with ','-separated
        object lists for subject ``s``; objects may themselves be
        '[...]' blank-node property lists (nesting)."""
        while True:
            p = self.parse_path()
            while True:
                kind, val = self.peek()
                if kind == "punct" and val == "[":
                    o = self._parse_bnpl(elements, filters)
                else:
                    o = self.parse_term("o")
                self._add_triple(elements, filters, s, p, o)
                kind, val = self.peek()
                if kind == "punct" and val == ",":
                    self.next()
                    continue
                break
            kind, val = self.peek()
            if kind == "punct" and val == ";":
                self.next()
                # trailing ';' before '.' / '}' / ']' is legal
                k3, v3 = self.peek()
                if k3 == "punct" and v3 in (".", "}", "]"):
                    break
                continue
            break

    def _add_triple(self, elements, filters, s, p, o) -> None:
        """Append one parsed (s, p, o) to the group — dispatching on
        the predicate's shape (closure / negated set / static path /
        plain), exactly as a standalone triple would."""
        if isinstance(p, tuple) and p[0] == "pathx":
            # path with closure-modified steps: expand each branch,
            # emitting bgp triples for plain steps and closure
            # elements for +/*/? steps
            self._expand_pathx_alts(elements, s, p[1], o)
        elif isinstance(p, tuple) and p[0] == "negset":
            # desugar: (s ?fresh o) + a group filter keeping
            # predicates outside the set; the fresh var is an
            # internal path var (dropped from solutions). ^-inverse
            # members match REVERSED edges against their own set;
            # mixed sets become a UNION of the two directions (§9.1:
            # NPS(s,o) = fwd-edges pred ∉ F ∪ reversed-edges
            # pred ∉ I)
            fwd, invs = p[1]
            if fwd and invs:
                branches = []
                for subj, obj, iris in ((s, o, fwd), (o, s, invs)):
                    pv = self._fresh_path_var()
                    branches.append(Group(
                        [("bgp", [(subj, pv, obj)])],
                        [("notin_p", pv[1:], tuple(iris))],
                    ))
                elements.append(("union", branches))
            else:
                subj, obj, iris = (
                    (s, o, fwd) if fwd else (o, s, invs)
                )
                pv = self._fresh_path_var()
                pat = (subj, pv, obj)
                if elements and elements[-1][0] == "bgp":
                    elements[-1][1].append(pat)
                else:
                    elements.append(("bgp", [pat]))
                filters.append(("notin_p", pv[1:], tuple(iris)))
        elif isinstance(p, tuple) and p[0] == "path":
            self._expand_path(elements, s, p[1], o)
        else:
            if elements and elements[-1][0] == "bgp":
                elements[-1][1].append((s, p, o))
            else:
                elements.append(("bgp", [(s, p, o)]))

    # -- property paths (sequence / alternation / inverse sugar) ----

    def parse_path(self):
        """Predicate position: a variable, a plain IRI, or a property
        path — ``alt := seq ('|' seq)*; seq := elt ('/' elt)*;
        elt := '^'? iri ('+' | '*' | '?')?``. Plain predicates return
        unchanged (str); static paths return ("path", [seq, ...]) with
        seq a list of (inverse, iri); any ``+``/``*``/``?`` modifier
        switches the whole path to ("pathx", [seq-with-clo, ...]) —
        modified steps evaluate as closure frames joined through the
        same fresh intermediate variables as plain steps, so closures
        compose freely with sequences and alternation."""
        kind, val = self.peek()
        if kind == "var":
            return self.parse_term("p")
        if kind == "op" and val == "!":
            # negated property set: !iri | !^iri | !(('^'? iri)
            # ('|' '^'? iri)*) — §9.1 full grammar: forward members
            # exclude predicates of forward edges, ^-inverse members
            # exclude predicates of REVERSED edges; mixed sets union
            # both match directions
            self.next()

            def negset_member():
                inv_m = False
                if self.peek() == ("punct", "^"):
                    self.next()
                    inv_m = True
                t = self.parse_term("p")
                if not isinstance(t, str) or t.startswith("?"):
                    raise SparqlSyntaxError(
                        "negated property sets take plain IRIs"
                    )
                return inv_m, t

            fwd: list[str] = []
            invs: list[str] = []
            k2, v2 = self.peek()
            if k2 == "punct" and v2 == "(":
                self.next()
                while True:
                    inv_m, t = negset_member()
                    (invs if inv_m else fwd).append(t)
                    k3, v3 = self.peek()
                    if k3 == "punct" and v3 == "|":
                        self.next()
                        continue
                    break
                self.expect_punct(")")
            else:
                inv_m, t = negset_member()
                (invs if inv_m else fwd).append(t)
            return ("negset", (tuple(fwd), tuple(invs)))

        def elt():
            # elt := '^'? primary ('+' | '*' | '?')?
            # primary := iri | '(' alt ')'   (nested path group)
            inv = False
            if self.peek() == ("punct", "^"):
                self.next()
                inv = True
            k2, v2 = self.peek()
            if k2 == "punct" and v2 == "(":
                self.next()
                prim = ("group", alt())
                self.expect_punct(")")
            else:
                prim = self.parse_term("p")
                if isinstance(prim, str) and prim.startswith("?"):
                    raise SparqlSyntaxError(
                        "variables not allowed inside paths"
                    )
            clo = None
            k2, v2 = self.peek()
            if k2 == "punct" and v2 in ("+", "*", "?"):
                clo = v2
                self.next()
            return (inv, prim, clo)

        def seq():
            out = [elt()]
            while self.peek() == ("punct", "/"):
                self.next()
                out.append(elt())
            return out

        def alt():
            out = [seq()]
            while self.peek() == ("punct", "|"):
                self.next()
                out.append(seq())
            return out

        def has_clo(alts_):
            return any(
                e[2] is not None
                or (isinstance(e[1], tuple) and e[1][0] == "group"
                    and has_clo(e[1][1]))
                for s_ in alts_ for e in s_
            )

        alts = alt()
        if has_clo(alts):
            # closures may sit anywhere in a sequence, alternation
            # branch, or parenthesized group: expansion emits a
            # ("closure_group", ...) element per modified step,
            # joined through the same fresh intermediate variables as
            # plain sequence steps
            return ("pathx", alts)
        alts = _flatten_static_path(alts)
        if len(alts) == 1 and len(alts[0]) == 1 and not alts[0][0][0]:
            return alts[0][0][1]  # plain predicate, no sugar
        return ("path", alts)

    def _fresh_path_var(self) -> str:
        self._pathvar += 1
        return f"?{_PATH_VAR_PREFIX}{self._pathvar}"

    def _seq_triples(self, s, seq, o) -> list[tuple]:
        out = []
        cur = s
        for i, (inv, iri_) in enumerate(seq):
            nxt = o if i == len(seq) - 1 else self._fresh_path_var()
            out.append((nxt, iri_, cur) if inv else (cur, iri_, nxt))
            cur = nxt
        return out

    def _expand_pathx_alts(self, elements: list, s, alts, o) -> None:
        """Closure-bearing path expansion: a single sequence extends
        the current group in place; an alternation becomes a UNION
        whose branches share the path's endpoints."""
        if len(alts) == 1:
            self._expand_seq_closures(elements, s, alts[0], o)
        else:
            branches = []
            for seq in alts:
                els: list = []
                self._expand_seq_closures(els, s, seq, o)
                branches.append(Group(els, []))
            elements.append(("union", branches))

    def _expand_seq_closures(self, elements: list, s, seq, o) -> None:
        """Sequence expansion when some steps carry +/*/? — plain
        steps join as bgp triples, a MODIFIED step (single predicate
        or parenthesized group) becomes a ("closure_group", ...)
        element whose inner path is pre-expanded between fresh
        endpoint variables, an unmodified group expands inline; all
        chained through fresh internal variables."""
        cur = s
        for i, (inv, prim, clo) in enumerate(seq):
            nxt = o if i == len(seq) - 1 else self._fresh_path_var()
            group_prim = isinstance(prim, tuple) and prim[0] == "group"
            if clo is not None:
                inner = prim[1] if group_prim else [[(False, prim, None)]]
                if inv:
                    inner = _invert_pathx_alts(inner)
                g, srcv, dstv = self._group_for_path(inner)
                elements.append(
                    ("closure_group", (cur, g, srcv, dstv, clo, nxt))
                )
            elif group_prim:
                inner = _invert_pathx_alts(prim[1]) if inv else prim[1]
                self._expand_pathx_alts(elements, cur, inner, nxt)
            else:
                pat = (nxt, prim, cur) if inv else (cur, prim, nxt)
                if elements and elements[-1][0] == "bgp":
                    elements[-1][1].append(pat)
                else:
                    elements.append(("bgp", [pat]))
            cur = nxt

    def _group_for_path(self, alts):
        """Pre-expand a nested path between two fresh internal
        endpoint variables -> (Group, src_var, dst_var); the group is
        evaluated at closure time to produce the edge frame the
        transitive closure runs over."""
        srcv = self._fresh_path_var()
        dstv = self._fresh_path_var()
        els: list = []
        self._expand_pathx_alts(els, srcv, alts, dstv)
        return Group(els, []), srcv, dstv

    def _expand_path(self, elements: list, s, alts, o) -> None:
        """Desugar: a sequence extends the current BGP with fresh
        intermediate variables; an alternation becomes a UNION whose
        branches share the path's endpoints."""
        if len(alts) == 1:
            pats = self._seq_triples(s, alts[0], o)
            if elements and elements[-1][0] == "bgp":
                elements[-1][1].extend(pats)
            else:
                elements.append(("bgp", pats))
        else:
            branches = [
                Group([("bgp", self._seq_triples(s, seq, o))], [])
                for seq in alts
            ]
            elements.append(("union", branches))

    _AGG_FNS = (
        "COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT", "SAMPLE"
    )

    def parse_agg_projection(self) -> tuple:
        """'(' AGG '(' DISTINCT? (?v | '*') (';' SEPARATOR '=' str)?
        ')' AS ?alias ')' ->
        ("agg", fn, target-var | "*", distinct, alias, separator).
        The separator (GROUP_CONCAT only, default single space per
        SPARQL 1.1 §18.5.1.7) rides in slot 5."""
        self.expect_punct("(")
        fk, fv = self.next()
        if fk != "kw" or fv.upper() not in self._AGG_FNS:
            raise SparqlSyntaxError(
                f"expected aggregate {self._AGG_FNS}, got {fv!r}"
            )
        fn, target, dist, sep = self.parse_agg_call(fv.upper())
        self.expect_kw("AS")
        ak, av = self.next()
        if ak != "var":
            raise SparqlSyntaxError("AS needs a variable")
        self.expect_punct(")")
        return ("agg", fn, target, dist, av[1:], sep)

    def parse_agg_call(self, fn: str) -> tuple:
        """The call body after the aggregate keyword:
        '(' DISTINCT? (?v | '*') (';' SEPARATOR '=' str)? ')' ->
        (fn, target, distinct, separator)."""
        self.expect_punct("(")
        dist = False
        kind, val = self.peek()
        if kind == "kw" and val.upper() == "DISTINCT":
            dist = True
            self.next()
        kind, val = self.peek()
        if kind == "punct" and val == "*":
            if fn != "COUNT":
                raise SparqlSyntaxError(f"{fn}(*) is not valid")
            target = "*"
            self.next()
        elif kind == "var" or (
            kind == "kw" and val.upper() in _OPERAND_FN_KWS
        ):
            # bare variable, or an expression target — SUM(?a * 2),
            # AVG(STRLEN(?n)) — for the numeric aggregates and COUNT
            node = self.parse_additive()
            if node[0] == "var":
                target = node[1]
            else:
                if fn in ("GROUP_CONCAT", "SAMPLE"):
                    raise SparqlSyntaxError(
                        f"{fn} over an expression is not supported "
                        "(needs a canonical lexical/NT form)"
                    )
                target = node
        else:
            raise SparqlSyntaxError(f"{fn} needs a variable or *")
        sep = " "
        kind, val = self.peek()
        if kind == "punct" and val == ";":
            if fn != "GROUP_CONCAT":
                raise SparqlSyntaxError(
                    f"SEPARATOR is only valid in GROUP_CONCAT, not {fn}"
                )
            self.next()
            self.expect_kw("SEPARATOR")
            ok_, ov = self.next()
            if (ok_, ov) != ("op", "="):
                raise SparqlSyntaxError("SEPARATOR needs '=' then a string")
            sk, sv = self.next()
            if sk != "lit":
                raise SparqlSyntaxError("SEPARATOR value must be a string")
            sep = _unescape(sv[1:-1])
        self.expect_punct(")")
        return (fn, target, dist, sep)

    def parse_values(self) -> tuple:
        """VALUES ?v { t... } | VALUES (?v...) { (t...)... } with
        UNDEF cells -> ("values", [vars], [[Term|str|None]])."""
        kind, val = self.peek()
        paren = kind == "punct" and val == "("
        vnames: list[str] = []
        if paren:
            self.next()
            while True:
                kind, val = self.peek()
                if kind == "var":
                    self.next()
                    vnames.append(val[1:])
                else:
                    break
            self.expect_punct(")")
        else:
            vk, vv = self.next()
            if vk != "var":
                raise SparqlSyntaxError("VALUES needs a variable")
            vnames = [vv[1:]]
        if not vnames:
            raise SparqlSyntaxError("VALUES needs at least one variable")
        self.expect_punct("{")
        rows: list[list] = []
        while True:
            kind, val = self.peek()
            if kind == "punct" and val == "}":
                self.next()
                break
            if paren:
                self.expect_punct("(")
                row = [self._values_cell() for _ in vnames]
                self.expect_punct(")")
            else:
                row = [self._values_cell()]
            rows.append(row)
        return ("values", (vnames, rows))

    def _values_cell(self):
        kind, val = self.peek()
        if kind == "kw" and val.upper() == "UNDEF":
            self.next()
            return None
        t = self.parse_term("o")
        if isinstance(t, str) and t.startswith("?"):
            # a blank-node label desugars to a variable — not a
            # constant, so not valid VALUES data (spec grammar [65])
            raise SparqlSyntaxError("VALUES data must be constant terms")
        return t

    # -- FILTER constraint grammar (recursive descent over Expr) ----

    def parse_constraint(self) -> tuple:
        kind, val = self.peek()
        if kind == "kw" and val.upper() in ("EXISTS", "NOT"):
            positive = val.upper() == "EXISTS"
            self.next()
            if not positive:
                self.expect_kw("EXISTS")
            return ("exists", positive, self.parse_group())
        if kind == "punct" and val == "(":
            self.next()
            e = self.parse_or()
            self.expect_punct(")")
            return e
        if kind == "kw" and val.upper() in _BOOL_BUILTINS:
            return self.parse_builtin()
        raise SparqlSyntaxError(f"FILTER needs (expr) or builtin, got {val!r}")

    def parse_or(self) -> tuple:
        e = self.parse_and()
        while self.peek() == ("op", "||"):
            self.next()
            e = ("or", e, self.parse_and())
        return e

    def parse_and(self) -> tuple:
        e = self.parse_unary()
        while self.peek() == ("op", "&&"):
            self.next()
            e = ("and", e, self.parse_unary())
        return e

    def parse_unary(self) -> tuple:
        if self.peek() == ("op", "!"):
            self.next()
            return ("not", self.parse_unary())
        return self.parse_primary()

    def parse_primary(self) -> tuple:
        kind, val = self.peek()
        if kind == "kw" and val.upper() == "EXISTS":
            # EXISTS composes inside boolean expressions (mark-join
            # evaluation); standalone FILTER EXISTS still takes the
            # semi/anti fast path
            self.next()
            return ("exists", True, self.parse_group())
        if kind == "kw" and val.upper() == "NOT":
            nk, nv = self.peek_at(1)
            if nk == "kw" and nv.upper() == "EXISTS":
                self.next()
                self.next()
                return ("exists", False, self.parse_group())
        if kind == "punct" and val == "(":
            self.next()
            e = self.parse_or()
            self.expect_punct(")")
            return e
        if kind == "kw" and val.upper() in _BOOL_BUILTINS:
            return self.parse_builtin()
        left = self.parse_additive()
        kind, val = self.peek()
        if kind == "op" and val in ("=", "!=", "<", "<=", ">", ">="):
            self.next()
            return ("cmp", val, left, self.parse_additive())
        if kind == "kw" and val.upper() in ("IN", "NOT"):
            # IN / NOT IN over a constant list (spec 17.4.1.9/10):
            # desugars to the spec's own equivalence — a disjunction
            # (resp. negated disjunction) of '=' comparisons, so the
            # error semantics ride on the tested cmp machinery
            negated = val.upper() == "NOT"
            self.next()
            if negated:
                self.expect_kw("IN")
            self.expect_punct("(")
            members: list[tuple] = []
            if self.peek() != ("punct", ")"):
                members.append(self.parse_operand())
                while self.peek() == ("punct", ","):
                    self.next()
                    members.append(self.parse_operand())
            self.expect_punct(")")
            bad = [m for m in members if m[0] not in ("term", "num")]
            if bad:
                raise SparqlSyntaxError(
                    "IN list members must be constant terms or numbers"
                )
            if not members:
                # IN () is false, NOT IN () true — constant, no error
                return ("const_bool", negated)
            e = ("cmp", "=", left, members[0])
            for m in members[1:]:
                e = ("or", e, ("cmp", "=", left, m))
            return ("not", e) if negated else e
        raise SparqlSyntaxError(
            "FILTER primary must be a comparison or BOUND/REGEX"
        )

    def parse_additive(self) -> tuple:
        """Numeric expression grammar over operands:
        additive := mult (('+'|'-') mult)* ;
        mult := operand (('*'|'/') operand)*. A bare operand parses
        unchanged; any arithmetic yields an ("arith", op, a, b) node
        (always NUMERIC — a non-numeric binding makes it NULL and the
        row drops, SPARQL's type-error semantics)."""
        e = self.parse_multiplicative()
        while True:
            kind, val = self.peek()
            if kind == "punct" and val in ("+", "-"):
                self.next()
                e = ("arith", val, e, self.parse_multiplicative())
            else:
                return e

    def parse_multiplicative(self) -> tuple:
        e = self.parse_operand()
        while True:
            kind, val = self.peek()
            if kind == "punct" and val in ("*", "/"):
                self.next()
                e = ("arith", val, e, self.parse_operand())
            else:
                return e

    def parse_builtin(self) -> tuple:
        _, name = self.next()
        fn = name.upper()
        self.expect_punct("(")
        if fn == "ISNUMERIC":
            vk, vv = self.next()
            if vk != "var":
                raise SparqlSyntaxError("ISNUMERIC needs a variable")
            self.expect_punct(")")
            return ("isnumeric", vv[1:])
        if fn in ("BOUND", "ISIRI", "ISURI", "ISLITERAL", "ISBLANK"):
            vk, vv = self.next()
            if vk != "var":
                raise SparqlSyntaxError(f"{fn} needs a variable")
            self.expect_punct(")")
            if fn == "BOUND":
                return ("bound", vv[1:])
            kindmap = {"ISIRI": "<", "ISURI": "<", "ISLITERAL": '"',
                       "ISBLANK": "_"}
            return ("iskind", kindmap[fn], vv[1:])
        if fn == "SAMETERM":
            a = self.parse_operand()
            self.expect_punct(",")
            b = self.parse_operand()
            self.expect_punct(")")
            return ("sameterm", a, b)
        if fn in ("STRSTARTS", "STRENDS", "CONTAINS"):
            a = self.parse_operand()
            self.expect_punct(",")
            b = self.parse_operand()
            self.expect_punct(")")
            return ("strfn2", fn, a, b)
        if fn == "LANGMATCHES":
            a = self.parse_operand()
            self.expect_punct(",")
            b = self.parse_operand()
            self.expect_punct(")")
            return ("langmatches", a, b)
        # REGEX(operand, "pattern" (, "flags")?)
        target = self.parse_operand()
        self.expect_punct(",")
        pk, pv = self.next()
        if pk != "lit":
            raise SparqlSyntaxError("REGEX pattern must be a plain string")
        flags = ""
        if self.peek() == ("punct", ","):
            self.next()
            fk, fv = self.next()
            if fk != "lit":
                raise SparqlSyntaxError("REGEX flags must be a string")
            flags = _unescape(fv[1:-1])
        self.expect_punct(")")
        return ("regex", target, _unescape(pv[1:-1]), flags)

    def parse_operand(self) -> tuple:
        kind, val = self.peek()
        if (
            kind == "kw"
            and val.upper() in self._AGG_FNS
            and self._having_aggs is not None
        ):
            # bare aggregate call in a HAVING constraint: allocate a
            # hidden internal-prefix alias and reference it
            self.next()
            fn, target, dist, sep = self.parse_agg_call(val.upper())
            alias = f"{_PATH_VAR_PREFIX}hv{len(self._having_aggs)}"
            self._having_aggs.append(("agg", fn, target, dist, alias, sep))
            return ("var", alias)
        if kind == "var":
            self.next()
            return ("var", val[1:])
        if kind in ("num", "dec"):
            self.next()
            return ("num", float(val))
        if kind == "punct" and val == "-":
            # unary minus on a numeric literal
            self.next()
            nk, nv = self.next()
            if nk not in ("num", "dec"):
                raise SparqlSyntaxError("'-' needs a number")
            return ("num", -float(nv))
        if kind == "kw" and val.upper() in (
            "STR", "LANG", "DATATYPE", "STRLEN", "UCASE", "LCASE"
        ):
            self.next()
            fn = val.upper()
            self.expect_punct("(")
            vk, vv = self.next()
            if vk != "var":
                raise SparqlSyntaxError(f"{fn} takes a variable")
            self.expect_punct(")")
            return ("func", fn, vv[1:])
        if kind == "kw" and val.upper() in ("ABS", "CEIL", "FLOOR", "ROUND"):
            # numeric builtins (17.4.4): always-numeric results, so
            # they compare numerically like STRLEN does
            self.next()
            fn = val.upper()
            self.expect_punct("(")
            target = self.parse_additive()
            self.expect_punct(")")
            return ("numfn", fn, target)
        if kind == "kw" and val.upper() in (
            "MD5", "SHA1", "SHA256", "SHA384", "SHA512"
        ):
            # hash builtins (17.4.4.x): hex digest of the UTF-8
            # lexical form, a simple literal
            self.next()
            fn = val.upper()
            self.expect_punct("(")
            a = self.parse_operand()
            self.expect_punct(")")
            return ("hashfn", fn, a)
        if kind == "kw" and val.upper() in (
            "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"
        ):
            # xsd:dateTime component accessors (17.4.5.3-8): fixed
            # positions of the dateTime lexical form; a non-dateTime
            # operand is an expression error (NULL -> FILTER drops the
            # row, BIND leaves the variable unbound)
            self.next()
            fn = val.upper()
            self.expect_punct("(")
            a = self.parse_operand()
            self.expect_punct(")")
            return ("dtfn", fn, a)
        if kind == "kw" and val.upper() in ("TZ", "ENCODE_FOR_URI"):
            # string-producing unary builtins: TZ (17.4.5.9, simple
            # literal, "" when no timezone) and ENCODE_FOR_URI
            # (17.4.2.5, RFC 3986 percent-encoding of everything
            # outside the unreserved set)
            self.next()
            fn = val.upper()
            self.expect_punct("(")
            a = self.parse_operand()
            self.expect_punct(")")
            return ("strfn1", fn, a)
        if kind == "kw" and val.upper() == "TIMEZONE":
            # TIMEZONE (17.4.5.2): xsd:dayTimeDuration of the offset —
            # composed as a typed-literal constructor over the
            # duration lexical so BIND emits "PT0S"^^<...> etc.; a
            # missing timezone is an error (NULL)
            self.next()
            self.expect_punct("(")
            a = self.parse_operand()
            self.expect_punct(")")
            return (
                "mkterm", "dt", ("strfn1", "TIMEZONE", a),
                "http://www.w3.org/2001/XMLSchema#dayTimeDuration",
            )
        if kind == "kw" and val.upper() in ("IRI", "URI"):
            # IRI constructor (17.4.2.8) — the lexical form becomes
            # an IRI (no base resolution: the engine has no BASE)
            self.next()
            self.expect_punct("(")
            a = self.parse_operand()
            self.expect_punct(")")
            return ("mkterm", "iri", a, None)
        if kind == "kw" and val.upper() in ("STRDT", "STRLANG"):
            # typed/tagged literal constructors (17.4.2.6/7) with a
            # CONSTANT datatype IRI / language tag
            self.next()
            fn = val.upper()
            self.expect_punct("(")
            a = self.parse_operand()
            self.expect_punct(",")
            if fn == "STRDT":
                t = self.parse_term("o")
                if not isinstance(t, str) or t.startswith("?"):
                    raise SparqlSyntaxError(
                        "STRDT needs a constant datatype IRI"
                    )
                extra = t
                which = "dt"
            else:
                tk, tv = self.next()
                if tk != "lit":
                    raise SparqlSyntaxError(
                        "STRLANG needs a constant language tag string"
                    )
                extra = _unescape(tv[1:-1])
                which = "lang"
            self.expect_punct(")")
            return ("mkterm", which, a, extra)
        if kind == "kw" and val.upper() in ("STRBEFORE", "STRAFTER", "CONCAT"):
            self.next()
            fn = val.upper()
            self.expect_punct("(")
            args = [self.parse_operand()]
            while self.peek() == ("punct", ","):
                self.next()
                args.append(self.parse_operand())
            self.expect_punct(")")
            if fn != "CONCAT" and len(args) != 2:
                raise SparqlSyntaxError(f"{fn} takes exactly 2 arguments")
            return ("strfn", fn, args)
        if kind == "kw" and val.upper() == "SUBSTR":
            # SUBSTR(source, start (, length)?) — 1-based like the
            # spec's fn:substring; integer-literal positions only
            self.next()
            self.expect_punct("(")
            target = self.parse_operand()
            self.expect_punct(",")
            sk, sv = self.next()
            if sk != "num":
                raise SparqlSyntaxError("SUBSTR start must be an integer")
            start = int(sv)
            if start < 1:
                raise SparqlSyntaxError("SUBSTR start must be >= 1")
            length = None
            if self.peek() == ("punct", ","):
                self.next()
                lk, lv = self.next()
                if lk != "num":
                    raise SparqlSyntaxError("SUBSTR length must be an integer")
                length = int(lv)
            self.expect_punct(")")
            return ("substr", target, start, length)
        if kind == "kw" and val.upper() == "REPLACE":
            # REPLACE(source, "pattern", "replacement" (, "flags")?) —
            # regex-based per fn:replace; same flag policy as REGEX
            # (i/s/m translate, anything else is rejected), Java $N
            # group references in the replacement
            self.next()
            self.expect_punct("(")
            target = self.parse_operand()
            self.expect_punct(",")
            pk, pv = self.next()
            if pk != "lit":
                raise SparqlSyntaxError("REPLACE pattern must be a string")
            self.expect_punct(",")
            rk, rv = self.next()
            if rk != "lit":
                raise SparqlSyntaxError("REPLACE replacement must be a string")
            flags = ""
            if self.peek() == ("punct", ","):
                self.next()
                fk, fv = self.next()
                if fk != "lit":
                    raise SparqlSyntaxError("REPLACE flags must be a string")
                flags = _unescape(fv[1:-1])
            self.expect_punct(")")
            return (
                "replace",
                target,
                _unescape(pv[1:-1]),
                _unescape(rv[1:-1]),
                flags,
            )
        if kind == "kw" and val.upper() == "IF":
            # IF(boolean-expr, then, else) with var/term/number
            # branches; an ERROR (null) condition nulls the result
            # (spec 17.4.1.2) rather than taking the else branch
            self.next()
            self.expect_punct("(")
            cond = self.parse_or()
            self.expect_punct(",")
            a = self.parse_operand()
            self.expect_punct(",")
            b = self.parse_operand()
            self.expect_punct(")")
            bad = [o for o in (a, b) if o[0] not in ("var", "term", "num")]
            if bad:
                raise SparqlSyntaxError(
                    "IF branches must be variables, constant terms, "
                    "or numbers"
                )
            return ("if", cond, a, b)
        if kind == "kw" and val.upper() == "COALESCE":
            # COALESCE over variables/constant terms only (first
            # BOUND value; SPARQL 17.4.1.3's error-skipping collapses
            # to null-skipping for this operand subset)
            self.next()
            self.expect_punct("(")
            ops = [self.parse_operand()]
            while self.peek() == ("punct", ","):
                self.next()
                ops.append(self.parse_operand())
            self.expect_punct(")")
            bad = [o for o in ops if o[0] not in ("var", "term", "num")]
            if bad:
                raise SparqlSyntaxError(
                    "COALESCE arguments must be variables, constant "
                    "terms, or numbers"
                )
            return ("coalesce", ops)
        if kind in ("iri", "pname", "lit"):
            return ("term", self.parse_term("o"))
        raise SparqlSyntaxError(f"bad FILTER operand {val!r}")


# ---------------------------------------------------------------------------
# Algebra evaluation (SPARQL 1.1 §18.2 translation onto DataFrame ops)
# ---------------------------------------------------------------------------

_QUOTED_LEX = r'^"((?:[^"\\]|\\.)*)"'


def _lex_col(c):
    """Escaped lexical form of a binding column: quoted body of a
    literal, the IRI sans angle brackets, else the raw value."""
    from pyspark.sql import functions as F

    return (
        F.when(c.startswith('"'), F.regexp_extract(c, _QUOTED_LEX, 1))
        .when(
            c.startswith("<"),
            F.regexp_extract(c, r"^<(.*)>$", 1),
        )
        .otherwise(c)
    )


def _operand_info(node, columns, numeric_cols=frozenset()):
    """-> (nt_col | None, lex_col, num_col, is_numeric_const).
    ``numeric_cols`` marks NATIVE-numeric columns (aggregate aliases
    after GROUP BY) whose values are used directly instead of being
    parsed out of an NT form."""
    from pyspark.sql import functions as F

    from argo_spark.terms import escape_literal, format_term

    kind, payload = node[0], node[1]
    if kind == "var" and payload in numeric_cols:
        c = F.col(payload)
        return None, c.cast("string"), c.cast("double"), True
    if kind == "var":
        c = F.col(payload) if payload in columns else F.lit(None).cast("string")
        lex = _lex_col(c)
        # try_cast, not cast: ANSI mode is on, and SPARQL's numeric
        # coercion of a non-numeric lexical is an error that drops the
        # row (NULL), never a query abort
        return c, lex, lex.try_cast("double"), False
    if kind == "func":
        fn, var = payload, node[2]
        c = F.col(var) if var in columns else F.lit(None).cast("string")
        if fn == "STR":
            lex = _lex_col(c)
        elif fn == "STRLEN":
            # returns a NUMBER (xsd:integer): the True flag forces
            # numeric comparison like a numeric constant does
            n = F.length(_lex_col(c))
            return None, n.cast("string"), n.cast("double"), True
        elif fn == "UCASE":
            lex = F.upper(_lex_col(c))
        elif fn == "LCASE":
            lex = F.lower(_lex_col(c))
        elif fn == "LANG":
            # "" when the literal has no tag (regexp_extract returns ''
            # on no-match); error (NULL) on non-literals. The quoted
            # part is group 1, so the tag is group 2.
            lex = F.when(
                c.startswith('"'),
                F.regexp_extract(c, _QUOTED_LEX + r"@([A-Za-z0-9-]+)$", 2),
            )
        else:  # DATATYPE (SPARQL 1.1: plain -> xsd:string, @lang -> langString)
            lex = F.when(
                c.startswith('"'),
                F.when(
                    c.rlike(_QUOTED_LEX + r"\^\^<.*>$"),
                    F.regexp_extract(c, _QUOTED_LEX + r"\^\^<(.*)>$", 2),
                )
                .when(
                    c.rlike(_QUOTED_LEX + r"@[A-Za-z0-9-]+$"),
                    F.lit(
                        "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
                    ),
                )
                .otherwise(
                    F.lit("http://www.w3.org/2001/XMLSchema#string")
                ),
            )
        return None, lex, lex.try_cast("double"), False
    if kind == "if":
        cond = _expr_col(payload, columns, numeric_cols)
        ai = _operand_info(node[2], columns, numeric_cols)
        bi = _operand_info(node[3], columns, numeric_cols)
        # two-sided when: a NULL condition (SPARQL error) yields NULL,
        # not the else branch
        def pick(x, y):
            return F.when(cond, x).when(~cond, y)

        nt = (
            pick(ai[0], bi[0])
            if ai[0] is not None and bi[0] is not None
            else None
        )
        lex = pick(ai[1], bi[1])
        return nt, lex, lex.try_cast("double"), ai[3] or bi[3]
    if kind == "arith":
        a = _operand_info(node[2], columns, numeric_cols)[2]
        b = _operand_info(node[3], columns, numeric_cols)[2]
        # try_divide: ANSI mode is on, and SPARQL's divide-by-zero is
        # an error that drops the row (NULL), never a query abort
        num = {
            "+": lambda: a + b,
            "-": lambda: a - b,
            "*": lambda: a * b,
            "/": lambda: F.try_divide(a, b),
        }[payload]()
        return None, num.cast("string"), num, True
    if kind == "hashfn":
        alex = _operand_info(node[2], columns, numeric_cols)[1]
        lex = {
            "MD5": F.md5,
            "SHA1": F.sha1,
            "SHA256": lambda c: F.sha2(c, 256),
            "SHA384": lambda c: F.sha2(c, 384),
            "SHA512": lambda c: F.sha2(c, 512),
        }[payload](alex)
        return None, lex, F.lit(None).cast("double"), False
    if kind == "dtfn":
        # dateTime component accessors over the LEXICAL form — pure
        # regexp_extract, stays in codegen; no match -> NULL (error)
        alex = _operand_info(node[2], columns, numeric_cols)[1]
        # every pattern is anchored to the FULL date prefix so a
        # fragment like "T12:00:00" (not a dateTime) is an error for
        # the time accessors too, not a field hit
        pat = {
            "YEAR": r"^(-?\d{4,})-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}",
            "MONTH": r"^-?\d{4,}-(\d{2})-\d{2}T\d{2}:\d{2}:\d{2}",
            "DAY": r"^-?\d{4,}-\d{2}-(\d{2})T\d{2}:\d{2}:\d{2}",
            "HOURS": r"^-?\d{4,}-\d{2}-\d{2}T(\d{2}):\d{2}:\d{2}",
            "MINUTES": r"^-?\d{4,}-\d{2}-\d{2}T\d{2}:(\d{2}):\d{2}",
            "SECONDS": r"^-?\d{4,}-\d{2}-\d{2}T\d{2}:\d{2}:(\d{2}(?:\.\d+)?)",
        }[payload]
        raw = F.nullif(F.regexp_extract(alex, pat, 1), F.lit(""))
        num = raw.try_cast("double")
        # integer lexical for YEAR..MINUTES (spec: xsd:integer);
        # SECONDS keeps the extracted fraction (xsd:decimal) but
        # drops the field's leading zero ("05.25" -> "5.25")
        lex = (
            F.regexp_replace(raw, r"^0(\d)", r"$1")
            if payload == "SECONDS"
            else num.try_cast("long").cast("string")
        )
        return None, lex, num, True
    if kind == "strfn1":
        alex = _operand_info(node[2], columns, numeric_cols)[1]
        if payload == "TZ":
            # gate on a full dateTime-lexical match first: a valid
            # dateTime without a timezone yields the spec's "" but a
            # non-dateTime operand is a TYPE ERROR (NULL) per
            # §17.4.5.9 — otherwise FILTER(TZ(?x) = "") would wrongly
            # match non-dateTime bindings (round-6 ADVICE fix)
            lex = F.when(
                alex.rlike(_DT_TZ_RE), F.regexp_extract(alex, _DT_TZ_RE, 1)
            )
        elif payload == "ENCODE_FOR_URI":
            # url_encode is java.net.URLEncoder: fix its three
            # divergences from RFC 3986 percent-encoding (space->'+',
            # '*' kept bare, '~' encoded); literal '+'/'*'/'%' in the
            # input are already encoded by then, so the replacements
            # can't collide
            enc = F.url_encode(alex)
            lex = F.replace(
                F.replace(
                    F.replace(enc, F.lit("+"), F.lit("%20")),
                    F.lit("*"), F.lit("%2A"),
                ),
                F.lit("%7E"), F.lit("~"),
            )
        else:  # TIMEZONE duration lexical ("-PT5H", "PT30M", "PT0S")
            tz = F.nullif(
                F.regexp_extract(alex, _DT_TZ_RE, 1),
                F.lit(""),
            )
            hh = F.substring(tz, 2, 2).try_cast("int")
            mm = F.substring(tz, 5, 2).try_cast("int")
            sign = F.when(
                F.substring(tz, 1, 1) == "-", F.lit("-")
            ).otherwise(F.lit(""))
            lex = (
                F.when(tz.isNull(), F.lit(None).cast("string"))
                .when((tz == "Z") | ((hh == 0) & (mm == 0)), F.lit("PT0S"))
                .otherwise(F.concat(
                    sign,
                    F.lit("PT"),
                    F.when(
                        hh > 0, F.concat(hh.cast("string"), F.lit("H"))
                    ).otherwise(F.lit("")),
                    F.when(
                        mm > 0, F.concat(mm.cast("string"), F.lit("M"))
                    ).otherwise(F.lit("")),
                ))
            )
        return None, lex, F.lit(None).cast("double"), False
    if kind == "mkterm":
        sub = _operand_info(node[2], columns, numeric_cols)
        lex = sub[1]
        if payload == "iri":
            nt = F.concat(F.lit("<"), lex, F.lit(">"))
        elif payload == "dt":
            nt = F.concat(
                F.lit('"'), lex, F.lit('"^^<'), F.lit(node[3]), F.lit(">")
            )
        else:  # lang
            nt = F.concat(F.lit('"'), lex, F.lit('"@'), F.lit(node[3]))
        return nt, lex, lex.try_cast("double"), False
    if kind == "numfn":
        x = _operand_info(node[2], columns, numeric_cols)[2]
        if payload == "ABS":
            num = F.abs(x)
        elif payload == "CEIL":
            num = F.ceil(x).cast("double")
        elif payload == "FLOOR":
            num = F.floor(x).cast("double")
        else:  # ROUND — fn:round: half rounds toward +inf (NOT Java's
            # half-away-from-zero), so floor(x + 0.5)
            num = F.floor(x + F.lit(0.5)).cast("double")
        # CEIL/FLOOR/ROUND lexicals are the integer form; ABS keeps
        # the double form (only numeric comparisons consume these)
        lex = (
            num.cast("string")
            if payload == "ABS"
            else num.cast("long").cast("string")
        )
        return None, lex, num, True
    if kind == "strfn":
        infos = [_operand_info(a, columns, numeric_cols) for a in node[2]]
        if payload == "CONCAT":
            lex = F.concat(*[i[1] for i in infos])
        else:
            alex, blex = infos[0][1], infos[1][1]
            null = F.lit(None).cast("string")
            # 1-based first-occurrence position, 0 when absent;
            # call_function because the Python substring_index/locate
            # wrappers only take literal delimiters
            pos = F.call_function("instr", alex, blex)
            if payload == "STRBEFORE":
                # "" for no-match and for an empty pattern (17.4.3.4);
                # NULL (error) operands propagate explicitly — the
                # otherwise('') arm must not swallow them
                lex = (
                    F.when(alex.isNull() | blex.isNull(), null)
                    .when(blex == "", F.lit(""))
                    .when(pos > 0, F.substring(alex, F.lit(1), pos - 1))
                    .otherwise(F.lit(""))
                )
            else:  # STRAFTER — source for the empty pattern (17.4.3.5)
                lex = (
                    F.when(alex.isNull() | blex.isNull(), null)
                    .when(blex == "", alex)
                    .when(
                        pos > 0,
                        F.substring(
                            alex, pos + F.length(blex), F.length(alex)
                        ),
                    )
                    .otherwise(F.lit(""))
                )
        return None, lex, lex.try_cast("double"), False
    if kind == "substr":
        tlex = _operand_info(payload, columns, numeric_cols)[1]
        start, length = node[2], node[3]
        lex = (
            F.substring(tlex, start, length)
            if length is not None
            else F.substring(tlex, F.lit(start), F.length(tlex))
        )
        return None, lex, lex.try_cast("double"), False
    if kind == "replace":
        tlex = _operand_info(payload, columns, numeric_cols)[1]
        pat, rep, flags = node[2], node[3], node[4]
        flag_map = {"i": "i", "s": "s", "m": "m"}
        bad = [f for f in flags if f not in flag_map]
        if bad:
            raise SparqlSyntaxError(
                f"unsupported REPLACE flag(s) {''.join(bad)!r}: only i/s/m "
                "translate to Spark regexp_replace semantics"
            )
        if flags:
            pat = "(?" + "".join(flag_map[f] for f in flags) + ")" + pat
        lex = F.regexp_replace(tlex, pat, rep)
        return None, lex, lex.try_cast("double"), False
    if kind == "coalesce":
        infos = [_operand_info(o, columns, numeric_cols) for o in payload]
        # a bare-number argument has no NT form; the NT column (used
        # by term-equality and BIND) exists only when every arm does
        nt = (
            F.coalesce(*[i[0] for i in infos])
            if all(i[0] is not None for i in infos)
            else None
        )
        lex = F.coalesce(*[i[1] for i in infos])
        numeric = any(i[3] for i in infos)
        return nt, lex, lex.try_cast("double"), numeric
    if kind == "num":
        s = repr(payload) if payload != int(payload) else str(int(payload))
        return None, F.lit(s), F.lit(float(payload)), True
    term = payload if isinstance(payload, Term) else Term(0, payload)
    nt = format_term(term) if isinstance(payload, Term) else "<" + payload + ">"
    lex = (
        escape_literal(term.value)
        if term.kind == KIND_LITERAL
        else term.value
    )
    try:
        num = float(term.value) if term.kind == KIND_LITERAL else None
    except ValueError:
        num = None
    return (
        F.lit(nt),
        F.lit(lex),
        F.lit(num).cast("double"),
        False,
    )


def _expr_col(expr, columns, numeric_cols=frozenset()):
    """FILTER expression tuple -> boolean Column over the binding
    frame's columns (see module docstring for the semantics subset)."""
    from pyspark.sql import functions as F

    op = expr[0]
    if op == "const_bool":
        # IN () / NOT IN () — constant truth value, never an error
        return F.lit(expr[1])
    if op == "mark":
        # rewritten EXISTS node: the mark-join flag column (EXISTS
        # never errors — absent mark means False, not NULL)
        c = F.coalesce(F.col(expr[1]), F.lit(False))
        return c if expr[2] else ~c
    if op == "or":
        return (_expr_col(expr[1], columns, numeric_cols)
                | _expr_col(expr[2], columns, numeric_cols))
    if op == "and":
        return (_expr_col(expr[1], columns, numeric_cols)
                & _expr_col(expr[2], columns, numeric_cols))
    if op == "not":
        # SPARQL error semantics: NULL stays NULL (row still drops)
        return ~_expr_col(expr[1], columns, numeric_cols)
    if op == "bound":
        if expr[1] not in columns:
            return F.lit(False)
        return F.col(expr[1]).isNotNull()
    if op == "iskind":
        # NT form prefixes: '<' IRI, '"' literal, '_' blank; unbound
        # is an error (NULL, row drops) per SPARQL
        if expr[2] not in columns:
            return F.lit(None).cast("boolean")
        return F.col(expr[2]).startswith(expr[1])
    if op == "isnumeric":
        # literal whose lexical parses as a number (documented
        # value-space check, not a datatype-IRI check); unbound is an
        # error (NULL, row drops)
        if expr[1] not in columns:
            return F.lit(None).cast("boolean")
        c = F.col(expr[1])
        return F.when(
            c.isNotNull(),
            c.startswith('"') & _lex_col(c).try_cast("double").isNotNull(),
        )
    if op == "sameterm":
        lnt = _operand_info(expr[1], columns)[0]
        rnt = _operand_info(expr[2], columns)[0]
        if lnt is None or rnt is None:
            raise SparqlSyntaxError(
                "sameTerm needs RDF-term operands (variable or term)"
            )
        return lnt == rnt
    if op == "notin_p":
        # negated-property-set membership: the internal predicate
        # binding (always bound, NT IRI form) outside the set
        return ~F.col(expr[1]).isin([f"<{i}>" for i in expr[2]])
    if op == "langmatches":
        # RFC 4647 basic filtering (SPARQL 17.4.3.2): '*' matches any
        # non-empty tag; else case-insensitive exact or '-'-prefix
        # match; NULL (unbound) propagates -> row drops
        _, alex, _, _ = _operand_info(expr[1], columns, numeric_cols)
        _, blex, _, _ = _operand_info(expr[2], columns, numeric_cols)
        tag, rng = F.lower(alex), F.lower(blex)
        return F.when(rng == "*", tag != "").otherwise(
            (tag == rng) | tag.startswith(F.concat(rng, F.lit("-")))
        )
    if op == "strfn2":
        # STRSTARTS/STRENDS/CONTAINS over escaped lexical forms
        # (SPARQL 17.4.3; the spec's argument-compatibility subtleties
        # for @lang pairs are simplified to lexical comparison —
        # documented); unbound operand -> NULL -> row drops
        fn = expr[1]
        _, alex, _, _ = _operand_info(expr[2], columns, numeric_cols)
        _, blex, _, _ = _operand_info(expr[3], columns, numeric_cols)
        if fn == "STRSTARTS":
            return alex.startswith(blex)
        if fn == "STRENDS":
            return alex.endswith(blex)
        return alex.contains(blex)
    if op == "regex":
        _, lex, _, _ = _operand_info(expr[1], columns, numeric_cols)
        pat = expr[2]
        # XPath flags i/s/m map 1:1 onto Java inline flags; anything
        # else (x, q) has no faithful rlike translation — an ignored
        # modifier is a WRONG result, so reject it.
        flag_map = {"i": "i", "s": "s", "m": "m"}
        bad = [f for f in expr[3] if f not in flag_map]
        if bad:
            raise SparqlSyntaxError(
                f"unsupported REGEX flag(s) {''.join(bad)!r}: only i/s/m "
                "translate to Spark rlike semantics"
            )
        if expr[3]:
            pat = "(?" + "".join(flag_map[f] for f in expr[3]) + ")" + pat
        return lex.rlike(pat)
    if op == "cmp":
        cmp_op, left, right = expr[1], expr[2], expr[3]
        lnt, llex, lnum, lnumeric = _operand_info(left, columns, numeric_cols)
        rnt, rlex, rnum, rnumeric = _operand_info(right, columns, numeric_cols)
        numeric = lnumeric or rnumeric
        if cmp_op in ("=", "!="):
            if numeric:
                eq = lnum == rnum
            elif lnt is not None and rnt is not None:
                eq = lnt == rnt
            else:
                eq = llex == rlex
            return eq if cmp_op == "=" else ~eq
        a, b = (lnum, rnum) if numeric else (llex, rlex)
        if cmp_op == "<":
            return a < b
        if cmp_op == "<=":
            return a <= b
        if cmp_op == ">":
            return a > b
        return a >= b
    raise SparqlSyntaxError(f"unknown filter op {op!r}")


def _operand_vars(o) -> set[str]:
    """Variables referenced by a FILTER operand node."""
    if o[0] == "var":
        return {o[1]}
    if o[0] == "func":
        return {o[2]}
    if o[0] == "coalesce":
        out: set[str] = set()
        for sub in o[1]:
            out |= _operand_vars(sub)
        return out
    if o[0] == "if":
        return _expr_vars(o[1]) | _operand_vars(o[2]) | _operand_vars(o[3])
    if o[0] == "arith":
        return _operand_vars(o[2]) | _operand_vars(o[3])
    if o[0] == "numfn":
        return _operand_vars(o[2])
    if o[0] == "strfn":
        out = set()
        for sub in o[2]:
            out |= _operand_vars(sub)
        return out
    if o[0] in ("substr", "replace"):
        return _operand_vars(o[1])
    if o[0] in ("hashfn", "mkterm", "dtfn", "strfn1"):
        return _operand_vars(o[2])
    return set()


def _collect_exists(expr, out: list) -> None:
    """All ("exists", ...) nodes in a filter expression tree (Group
    payloads and Term tuples are NOT descended into)."""
    if not isinstance(expr, tuple) or isinstance(expr, Term):
        return
    if expr and expr[0] == "exists":
        out.append(expr)
        return
    for x in expr[1:]:
        if isinstance(x, tuple) and not isinstance(x, Term):
            _collect_exists(x, out)
        elif isinstance(x, list):
            for y in x:
                _collect_exists(y, out)


def _rewrite_exists(expr, mapping: dict):
    """Replace each collected EXISTS node (by identity) with its
    ("mark", column, positive) stand-in. Term tuples (a NamedTuple —
    also a tuple!) pass through untouched."""
    if not isinstance(expr, tuple) or isinstance(expr, Term):
        return expr
    if expr and expr[0] == "exists" and id(expr) in mapping:
        mcol, positive = mapping[id(expr)]
        return ("mark", mcol, positive)
    return tuple(
        _rewrite_exists(x, mapping)
        if isinstance(x, tuple)
        else [_rewrite_exists(y, mapping) for y in x]
        if isinstance(x, list)
        else x
        for x in expr
    )


def _expr_vars(expr) -> set[str]:
    op = expr[0]
    if op in ("or", "and"):
        return _expr_vars(expr[1]) | _expr_vars(expr[2])
    if op == "not":
        return _expr_vars(expr[1])
    if op == "bound":
        return {expr[1]}
    if op == "iskind":
        return {expr[2]}
    if op == "isnumeric":
        return {expr[1]}
    if op in ("sameterm", "langmatches"):
        return _operand_vars(expr[1]) | _operand_vars(expr[2])
    if op == "regex":
        return _operand_vars(expr[1])
    if op in ("strfn2", "cmp"):
        return _operand_vars(expr[2]) | _operand_vars(expr[3])
    if op == "notin_p":
        return {expr[1]}
    return set()


def _null_str():
    from pyspark.sql import functions as F

    return F.lit(None).cast("string")


def _binding_vars(columns) -> list[str]:
    return [c for c in columns if not c.startswith(_TERM_STRUCT_PREFIX)]


def _values_frame(spark, vnames, rows, with_structs: bool) -> DataFrame:
    """Inline VALUES table as a (tiny, broadcastable) DataFrame: NT
    string per var, plus the __term__ struct in CONSTRUCT mode."""
    from pyspark.sql import functions as F

    from argo_spark.terms import format_term

    def cell(t):
        if t is None:
            return None, None
        if isinstance(t, Term):
            return format_term(t), (
                int(t.kind), t.value, t.lang if t.lang else None, t.dt
            )
        return "<" + t + ">", (0, t, None, None)

    data = []
    for row in rows:
        flat: list = []
        for t in row:
            nt, comp = cell(t)
            flat.append(nt)
            if with_structs:
                flat.append(comp)
        data.append(tuple(flat))
    fields = []
    for v in vnames:
        fields.append(f"`{v}` string")
        if with_structs:
            fields.append(
                f"`{_TERM_STRUCT_PREFIX}{v}` "
                "struct<kind:tinyint,value:string,lang:string,dt:string>"
            )
    frame = local_frame(spark, data, ", ".join(fields))
    return F.broadcast(frame)


def eval_group(
    triples: DataFrame,
    group: Group,
    in_optional: bool = False,
    structs: bool = False,
) -> DataFrame:
    """Evaluate a group graph pattern left-to-right: BGP blocks join
    on shared variables (Catalyst orders/broadcasts), OPTIONAL is a
    left outer join, UNION null-extends disjoint variables, VALUES is
    a broadcast inline table, filters apply group-scoped at the end.
    ``structs=True`` (the CONSTRUCT path) carries __term__<var>
    component structs beside the NT columns; joins still key on the
    NT columns only."""
    return _eval_group_impl(triples, group, in_optional, structs)[0]


_CLOSURE_MAX_ROUNDS = 10  # doubling rounds: covers diameters to 2^10

# dataset stack for GRAPH evaluation: (quad_frame, named_iris | None)
# pushed by _dataset_scope around group evaluation. Plan building
# is synchronous driver-side Python, so a plain stack (not a
# contextvar) is race-free; subqueries inherit the top entry.
_DATASET_CTX: list = []


# test/ops hook: transport injected into SERVICE endpoint calls
# (signature of sparql_client.Transport); None = real urllib
SERVICE_TRANSPORT = None


def _service_frame(
    spark, endpoint: str, silent: bool, raw: str, prefixes: dict,
    structs: bool,
):
    """Execute one SERVICE pattern against its endpoint -> (frame,
    maybe_null_vars, masks) | None (identity — SILENT failure or a
    variable-free match) | "empty" (variable-free non-match). The
    captured pattern goes out verbatim under the query's PREFIX
    declarations; result bindings land as NT-form columns (plus
    __term__ structs in CONSTRUCT/Update-template mode). Remote
    blank-node labels pass through as-is (documented: scoped to the
    response per spec, merged as-is here)."""
    from argo_spark.ops.sparql_client import SparqlService
    from argo_spark.terms import format_term

    header = "".join(
        f"PREFIX {k}: <{v}> " for k, v in sorted(prefixes.items())
    )
    q = header + "SELECT * WHERE { " + raw + " }"
    try:
        parser = SparqlService(
            endpoint, transport=SERVICE_TRANSPORT
        ).select(q)
    except Exception:
        if silent:
            return None
        raise
    vars_, rows = parser.vars, parser.results
    if not vars_:
        return None if rows else "empty"
    for v in vars_:
        if v.startswith(_TERM_STRUCT_PREFIX):
            raise SparqlSyntaxError(
                f"SERVICE variable name {v!r} collides with the "
                "internal term-struct prefix"
            )
    nulls = {v for v in vars_ if any(v not in r for r in rows)}
    masks = _mask_cap(
        {frozenset(set(r) & nulls) for r in rows} or {frozenset()}
    )
    fields, data = [], []
    for v in vars_:
        fields.append(f"`{v}` string")
        if structs:
            fields.append(
                f"`{_TERM_STRUCT_PREFIX}{v}` struct<kind:tinyint,"
                "value:string,lang:string,dt:string>"
            )
    for r in rows:
        row: list = []
        for v in vars_:
            t = r.get(v)
            row.append(format_term(t) if t is not None else None)
            if structs:
                row.append(
                    (int(t.kind), t.value, t.lang or None, t.dt)
                    if t is not None
                    else None
                )
        data.append(tuple(row))
    frame = local_frame(spark, data, ", ".join(fields))
    return frame, nulls, masks


@contextmanager
def _dataset_scope(triples: DataFrame, dataset):
    """Resolve a query's RDF dataset (§13.2) for the ``with`` block ->
    the active default frame. ``dataset`` = (from_iris,
    from_named_iris) or None. With no FROM, the active default graph
    is the g-NULL rows of a quad frame (a g-less frame is
    all-default, untouched); FROM replaces it with the SET UNION of
    the named graphs (blank nodes are skolemized engine-wide, so
    union IS the RDF merge). The quad frame + FROM NAMED restriction
    sit on _DATASET_CTX for GRAPH elements during the block, unless
    an outer context exists to inherit (subqueries)."""
    from pyspark.sql import functions as F

    has_g = "g_value" in triples.columns
    if (dataset is None and _DATASET_CTX) or (
        dataset is None and not has_g
    ):
        yield triples
        return
    quads = (
        triples if has_g
        else triples.withColumn("g_value", F.lit(None).cast("string"))
    )
    default_iris, named_iris = dataset or ([], [])
    if default_iris:
        active = (
            quads.where(F.col("g_value").isin(list(default_iris)))
            .withColumn("g_value", F.lit(None).cast("string"))
            .dropDuplicates()
        )
    elif has_g:
        active = quads.where(F.col("g_value").isNull())
    else:
        active = triples
    _DATASET_CTX.append((quads, list(named_iris) if named_iris else None))
    try:
        yield active
    finally:
        _DATASET_CTX.pop()


def _closure_group_frame(triples, s, group, srcv, dstv, op, o,
                         structs: bool,
                         graph_var: str | None = None) -> DataFrame:
    """Evaluate ``s path+ o`` / ``s path* o`` / ``s path? o`` (SPARQL
    1.1 §18.4 OneOrMorePath / ZeroOrMorePath / ZeroOrOnePath) as a
    solution frame.

    The path — a single predicate, or any composition of sequences,
    alternations, inverses and closures — was pre-expanded at parse
    time into a Group binding two fresh endpoint variables (inversion
    already folded in: ``^(p/q)+`` -> ``(^q/^p)+``); its solution
    frame projected to those endpoints IS the edge set. The edges
    feed :func:`argo_spark.ops.traversal.transitive_closure` (pointer
    doubling, O(log diameter) shuffle rounds); ``*``/``?`` add the
    zero-length pairs — per spec, (n, n) for every term n appearing
    as a subject or object of the active graph. Endpoint variables
    become binding columns (NT forms, same key scheme as bgp_match);
    a constant endpoint filters; two constant endpoints would make
    this an ASK-shaped emptiness probe and raise.

    ``graph_var`` (GRAPH ?g, §13.3): the inner path evaluates with the
    graph threaded as a join key, and the closure must not cross
    graphs, so node keys become ``struct(g, node)`` — the doubling
    join on dst == src then matches only within one graph (one
    composite-key equi-join, no per-graph loop) and the graph IRI
    unpacks into the ?g binding column afterwards."""
    from pyspark.sql import functions as F

    from argo_spark.ops.bgp import _nt_for_position
    from argo_spark.ops.traversal import transitive_closure
    from argo_spark.terms import format_term

    if structs:
        raise SparqlSyntaxError(
            "path closures inside CONSTRUCT are not supported"
        )
    s_var = isinstance(s, str) and s.startswith("?")
    o_var = isinstance(o, str) and o.startswith("?")
    if not s_var and not o_var:
        raise SparqlSyntaxError(
            "path closure with two constant endpoints is not supported"
        )
    inner = _eval_group_impl(
        triples, group, False, False, graph_var=graph_var
    )[0]
    # edge dedup happens below ('?') or inside transitive_closure's
    # initial state ('+'/'*') — deduping here too would pay the
    # exchange twice
    if graph_var is None:
        edges = inner.select(
            F.col(srcv[1:]).alias("src"), F.col(dstv[1:]).alias("dst")
        )
    else:
        g = F.col(graph_var)
        edges = inner.select(
            F.struct(g.alias("g"), F.col(srcv[1:]).alias("n"))
            .alias("src"),
            F.struct(g.alias("g"), F.col(dstv[1:]).alias("n"))
            .alias("dst"),
        )
    src_nt = _nt_for_position("s")
    dst_nt = _nt_for_position("o")

    def const_nt(t):
        if isinstance(t, Term):
            return format_term(t)
        return "<" + t + ">"

    # '?' (ZeroOrOnePath) is the one-hop edge set + zero-length pairs
    # — no iteration; '+'/'*' run the doubling closure (which dedups
    # its initial state, so raw edges go in undeduped)
    pairs = (
        edges.dropDuplicates()
        if op == "?"
        else transitive_closure(edges, max_rounds=_CLOSURE_MAX_ROUNDS)
    )
    if op in ("*", "?"):
        if graph_var is None:
            nodes = triples.select(src_nt.alias("n")).unionByName(
                triples.select(dst_nt.alias("n"))
            )
        else:
            # zero-length pairs hold per named graph: (g, n) for
            # every term n of graph g
            g_nt = F.concat(F.lit("<"), F.col("g_value"), F.lit(">"))
            nodes = triples.select(
                F.struct(g_nt.alias("g"), src_nt.alias("n")).alias("n")
            ).unionByName(
                triples.select(
                    F.struct(g_nt.alias("g"), dst_nt.alias("n"))
                    .alias("n")
                )
            )
        # §18.4: a BOUND endpoint X contributes (X, X) whether or not
        # X appears in the graph — add constant endpoints explicitly
        # (under GRAPH ?g: once per named graph in range)
        consts = [
            const_nt(t)
            for t in (s, o)
            if not (isinstance(t, str) and t.startswith("?"))
        ]
        if consts:
            if graph_var is None:
                extra = local_frame(
                    triples.sparkSession, [(c,) for c in consts], "n string"
                )
            else:
                g_nt = F.concat(
                    F.lit("<"), F.col("g_value"), F.lit(">")
                )
                graphs = triples.select(
                    g_nt.alias("g")
                ).dropDuplicates()
                extra = graphs.crossJoin(
                    local_frame(
                        triples.sparkSession, [(c,) for c in consts],
                        "cn string",
                    )
                ).select(
                    F.struct(
                        F.col("g"), F.col("cn").alias("n")
                    ).alias("n")
                )
            nodes = nodes.unionByName(extra)
        nodes = nodes.dropDuplicates()
        pairs = pairs.unionByName(
            nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"))
        ).dropDuplicates()

    gcol = None if graph_var is None else F.col("src").getField("g")
    if s_var and o_var and s == o:
        # ?x p+ ?x — cycle membership: one binding column (+ ?g)
        out = pairs.where(F.col("src") == F.col("dst"))
        if graph_var is None:
            return out.select(
                F.col("src").alias(s[1:])
            ).dropDuplicates()
        return out.select(
            gcol.alias(graph_var),
            F.col("src").getField("n").alias(s[1:]),
        ).dropDuplicates()
    # move to reserved internal names first: a user variable literally
    # named ?src or ?dst must not collide with the closure's working
    # columns (the __path prefix is rejected as a query variable)
    csrc, cdst = _PATH_VAR_PREFIX + "src", _PATH_VAR_PREFIX + "dst"
    if graph_var is None:
        out = pairs.select(
            F.col("src").alias(csrc), F.col("dst").alias(cdst)
        )
    else:
        out = pairs.select(
            gcol.alias(graph_var),
            F.col("src").getField("n").alias(csrc),
            F.col("dst").getField("n").alias(cdst),
        )
    if s_var:
        out = out.withColumnRenamed(csrc, s[1:])
    else:
        out = out.where(F.col(csrc) == F.lit(const_nt(s))).drop(csrc)
    if o_var:
        out = out.withColumnRenamed(cdst, o[1:])
    else:
        out = out.where(F.col(cdst) == F.lit(const_nt(o))).drop(cdst)
    return out


def _guard_compat_join(shared, maybe_null, what: str) -> None:
    """SPARQL's join treats an UNBOUND variable as compatible with
    anything; an equi-join on a NULL key instead matches nothing. Any
    join keyed on a possibly-unbound variable (from a UNION branch
    that doesn't bind it, an OPTIONAL that may not match, or a VALUES
    UNDEF) would therefore silently drop solutions — raise instead."""
    bad = sorted(set(shared) & maybe_null)
    if bad:
        raise SparqlSyntaxError(
            f"{what} joins on possibly-unbound variable(s) {bad} — "
            f"SPARQL's compatibility join is not an equi-join "
            f"(unsupported)"
        )


def _guard_non_nt_join(shared, non_nt, what: str) -> None:
    """Aggregate result columns (native numerics, GROUP_CONCAT's bare
    concatenated lexical) are NOT NT forms; an equi-join keying one
    against NT-form bindings either type-errors under ANSI mode or
    silently never matches — raise at every join site instead."""
    bad = sorted(set(shared) & non_nt)
    if bad:
        raise SparqlSyntaxError(
            f"{what} joins on subquery aggregate alias(es) {bad} — "
            f"aggregate results are not NT-form keys (unsupported)"
        )


def _subsets(items):
    """All subsets of ``items`` as frozensets, deterministic order
    (bitmask over the given sequence)."""
    out = []
    for mask in range(1 << len(items)):
        out.append(frozenset(
            items[i] for i in range(len(items)) if mask >> i & 1
        ))
    return out


_COMPAT_MAX_LEGS = 64

# boundness-mask tracking: each frame carries the set of POSSIBLE
# "bound subsets" of its maybe-null variables (a frozenset per
# distinct row shape; always-bound vars are implicit). None = unknown
# (all subsets possible). Join-leg enumeration iterates observed
# masks instead of the full powerset, so e.g. a UNION whose every
# branch binds one of two vars never plans the both-unbound
# cross-join leg. Past _MASK_CAP distinct masks the set collapses to
# None — conservative, never wrong, just fewer pruned legs.
_MASK_CAP = 32


def _mask_cap(masks):
    if masks is not None and len(masks) > _MASK_CAP:
        return None
    return masks


def _mask_project(masks, nullable_vars, universe=None):
    """Leg index sets: distinct (mask ∩ nullable_vars) over the
    observed masks, or every subset when masks is None."""
    sub = sorted(nullable_vars)
    if masks is None:
        return _subsets(sub)
    want = set(sub)
    return sorted(
        {frozenset(m & want) for m in masks},
        key=lambda s: sorted(s),
    )


def _join_masks(l_masks, l_bound_base, r_masks, r_bound_base,
                new_nullable):
    """Masks of a (compatibility or equi) join's output: every
    combination of a left and a right row shape binds the union of
    their bound sets; the result mask is that union restricted to the
    joined frame's nullable vars. A superset of the truly reachable
    masks (not every pair is compatible) — conservative, so leg
    pruning stays correct."""
    if l_masks is None or r_masks is None:
        return None
    out = set()
    for ml in l_masks:
        for mr in r_masks:
            out.add(frozenset(
                (l_bound_base | ml | r_bound_base | mr) & new_nullable
            ))
    return _mask_cap(out)


def _compat_too_wide(shared, left_nulls, right_nulls,
                     left_masks=None, right_masks=None) -> bool:
    """Leg-count guard for the boundness decomposition: the number of
    (left-mask, right-mask) pairs is bounded by
    |left legs| * |right legs| (2^|leftN| * 2^|rightN| when masks are
    unknown); past _COMPAT_MAX_LEGS the plan itself becomes the
    problem and the conditional-join fallback wins."""
    ln = [c for c in shared if c in left_nulls]
    rn = [c for c in shared if c in right_nulls]
    n_l = len(_mask_project(left_masks, ln))
    n_r = len(_mask_project(right_masks, rn))
    return n_l * n_r > _COMPAT_MAX_LEGS


def _boundness_leg(df, bound, null):
    """Filter ``df`` to the rows where every var in ``bound`` is
    bound and every var in ``null`` is unbound, and drop the ``null``
    vars' columns with their term structs: in this leg the other side
    supplies those bindings, or nothing does."""
    from pyspark.sql import functions as F

    cond = F.lit(True)
    for v in sorted(bound):
        cond = cond & F.col(v).isNotNull()
    for v in sorted(null):
        cond = cond & F.col(v).isNull()
    return df.where(cond).drop(
        *[c for v in sorted(null) for c in (v, _TERM_STRUCT_PREFIX + v)]
    )


def _compat_legs(left, right, shared, left_nulls, right_nulls,
                 left_masks, right_masks):
    """Boundness-leg decomposition shared by the §18.5 compatibility
    Join, the §8.3.3 MINUS and the LeftJoin -> yields ``(left_leg,
    [(keys, right_leg), ...])``.

    Partition the LEFT into one leg per boundness mask A of its
    possibly-unbound shared vars (each row lands in exactly one leg).
    Within a leg every var in bound_left = (shared − leftN) ∪ A is
    definitely bound, so a right row is compatible iff each
    bound_left var is unbound-or-equal on the right — partition the
    RIGHT on the boundness mask B of bound_left ∩ rightN, and the
    (A, B) pair matches by PLAIN EQUALITY on keys = (bound_left −
    rightN) ∪ B.

    Each leg drops the shared columns (and term structs) its mask
    marks as unbound, so the keys are the only shared variables a
    leg pair has in common and ``left_leg.join(right_leg, on=keys)``
    takes every other variable from the one side that binds it. The
    inputs are neither cached nor checkpointed: Spark recomputes a
    leg from lineage and reuses the upstream exchanges legs share."""
    leftN = sorted(c for c in shared if c in left_nulls)
    rightN = {c for c in shared if c in right_nulls}
    for A in _mask_project(left_masks, leftN):
        bound_left = [c for c in shared if c not in leftN or c in A]
        rightN_eff = sorted(c for c in bound_left if c in rightN)
        yield (
            _boundness_leg(left, A, set(leftN) - A),
            [
                (
                    [c for c in bound_left if c not in rightN_eff or c in B],
                    _boundness_leg(right, B, set(rightN_eff) - B),
                )
                for B in _mask_project(right_masks, rightN_eff)
            ],
        )


def _null_pad(df, fields):
    """``df`` projected onto ``fields`` (StructFields); a column the
    frame lacks is a variable it leaves unbound -> typed NULL."""
    from pyspark.sql import functions as F

    return df.select(*[
        F.col(f.name) if f.name in df.columns
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in fields
    ])


def _joined_fields(left, right):
    """Output schema of a join: left's columns, then right-only ones."""
    return list(left.schema.fields) + [
        f for f in right.schema.fields if f.name not in left.columns
    ]


def _join_legs(legl, rights, fields):
    """One left leg's share of the §18.5 Join: the union of its leg
    pairs' equi-joins, projected onto ``fields``. The pair with no
    keys (the all-unbound × all-unbound pair) is the one genuine
    cross join the semantics require. A key's term struct is taken
    from the left."""
    from functools import reduce

    pieces = []
    for keys, legr in rights:
        legr = legr.drop(
            *[c for c in legl.columns if c.startswith(_TERM_STRUCT_PREFIX)]
        )
        j = legl.join(legr, on=keys) if keys else legl.crossJoin(legr)
        pieces.append(_null_pad(j, fields))
    return reduce(lambda a, b: a.union(b), pieces)


def _compat_join_frames(acc, frame, shared, left_nulls, right_nulls,
                        left_masks=None, right_masks=None):
    """SPARQL §18.5 compatibility Join as a UNION OF HASH EQUI-JOINS
    (the 100-TB shape — no nested-loop/cartesian plan besides the
    keyless pair) over the :func:`_compat_legs` decomposition.

    Returns the joined frame with acc's column order followed by
    frame-only columns. Bag semantics preserved: the legs partition
    the input, so the union is exact."""
    from functools import reduce

    fields = _joined_fields(acc, frame)
    return reduce(lambda a, b: a.union(b), [
        _join_legs(legl, rights, fields)
        for legl, rights in _compat_legs(
            acc, frame, shared, left_nulls, right_nulls, left_masks,
            right_masks,
        )
    ])


def _compat_minus_frames(acc, sub, shared, left_nulls, right_nulls,
                         left_masks=None, right_masks=None):
    """SPARQL §8.3.3 MINUS with possibly-unbound shared vars as
    CHAINED HASH ANTI-JOINS per left leg of the :func:`_compat_legs`
    decomposition (replacing the conditional nested-loop anti join),
    unioned over the legs.

    μ1 is removed iff some RHS row has every bound_left var
    unbound-or-equal AND at least one var bound on both sides. Over
    the deduped, projected RHS each leg pair is a plain equi-join on
    its keys; keys = ∅ means an empty domain intersection, which per
    spec removes NOTHING, so that RHS leg is simply skipped — the
    decomposition never needs a cross join. Removal-by-any-leg
    composes as sequential left-anti joins."""
    from functools import reduce

    sub = sub.select(*shared).dropDuplicates()
    pieces = []
    for legl, rights in _compat_legs(
        acc, sub, shared, left_nulls, right_nulls, left_masks,
        right_masks,
    ):
        for keys, legr in rights:
            if keys:  # no common bound var -> does not remove
                legl = legl.join(
                    legr.select(*keys), on=keys, how="left_anti"
                )
        pieces.append(_null_pad(legl, acc.schema.fields))
    return reduce(lambda a, b: a.union(b), pieces)


def _compat_leftjoin_frames(acc, sub, shared, left_nulls, right_nulls,
                            deferred_filters=(), left_masks=None,
                            right_masks=None):
    """SPARQL LeftJoin (OPTIONAL) with possibly-unbound shared vars,
    per left leg of the :func:`_compat_legs` decomposition: matched =
    the leg's §18.5 compatibility join (:func:`_join_legs`) with any
    deferred LeftJoin expressions (§18.2.1) applied to the MERGED
    rows (expression error or false -> not a match); unmatched = the
    leg's rows whose binding columns appear in no matched row (a
    null-safe hash anti-join), null-extended. Two identical left rows
    always share their fate, so bag semantics hold without row ids."""
    from functools import reduce

    from pyspark.sql import functions as F

    fields = _joined_fields(acc, sub)
    pieces = []
    for legl, rights in _compat_legs(
        acc, sub, shared, left_nulls, right_nulls, left_masks,
        right_masks,
    ):
        matched = _join_legs(legl, rights, fields)
        for f in deferred_filters:
            matched = matched.where(_expr_col(f, matched.columns))
        cols = _binding_vars(legl.columns)
        # seeded with TRUE: a leg may bind no column at all
        unmatched = legl.alias("l").join(
            matched.select(*cols).alias("m"),
            reduce(
                lambda a, b: a & b,
                [F.col(f"l.{c}").eqNullSafe(F.col(f"m.{c}")) for c in cols],
                F.lit(True),
            ),
            "left_anti",
        )
        pieces += [matched, _null_pad(unmatched, fields)]
    return reduce(lambda a, b: a.union(b), pieces)


def _eval_group_impl(
    triples: DataFrame,
    group: Group,
    in_optional: bool,
    structs: bool,
    graph_var: str | None = None,
):
    """-> (frame, maybe_null_vars, non_nt_vars, masks): the solution
    frame, the set of variables that may be NULL in some rows, the
    set of variables whose values are NOT NT forms (subquery
    aggregate aliases) — unjoinable against ordinary bindings — and
    the set of possible boundness masks over the maybe-null vars
    (None = unknown), used to prune compatibility-join legs.

    ``graph_var`` (GRAPH ?g evaluation, §13.3): every triple-pattern
    scan additionally projects the row's graph IRI under that name,
    making the graph ONE MORE SHARED JOIN KEY through the whole
    algebra — joins, OPTIONAL, MINUS, UNION and EXISTS all keep
    their solutions within one graph per row with no per-graph loop,
    because ?g is just another binding column to them."""
    from functools import reduce

    from argo_spark.ops.bgp import _bgp_plan

    acc = None
    maybe_null: set[str] = set()
    non_nt: set[str] = set()
    acc_masks = {frozenset()}
    for kind, payload in group.elements:
        frame_nulls: set[str] = set()
        frame_non_nt: set[str] = set()
        frame_masks = {frozenset()}
        if kind == "bgp":
            frame = _bgp_plan(triples, payload, graph_var, structs)
        elif kind == "closure_group":
            frame = _closure_group_frame(
                triples, *payload, structs, graph_var=graph_var
            )
        elif kind == "graph":
            # GRAPH (§13.3): evaluate against a named graph of the
            # dataset instead of the active default graph. A nested
            # GRAPH switches the active graph: it does NOT inherit
            # the outer graph_var (its frame carries its own graph
            # binding; shared-variable joins reconcile the two).
            gterm, gsub = payload
            if not _DATASET_CTX:
                raise SparqlSyntaxError(
                    "GRAPH requires a dataset — evaluate via a SELECT "
                    "over a triples frame carrying a g_value column"
                )
            from pyspark.sql import functions as F

            quads, named_iris = _DATASET_CTX[-1]
            if isinstance(gterm, str) and gterm.startswith("?"):
                scope = quads.where(F.col("g_value").isNotNull())
                if named_iris is not None:
                    scope = scope.where(
                        F.col("g_value").isin(named_iris)
                    )
                gv = gterm[1:]
                frame, frame_nulls, frame_non_nt, frame_masks = (
                    _eval_group_impl(
                        scope, gsub, False, structs, graph_var=gv
                    )
                )
                if gv not in frame.columns or gv in frame_nulls:
                    # only triple-pattern scans bind ?g; a branch or
                    # group without one would need the per-named-
                    # graph cross product of §18.6 — unsupported
                    raise SparqlSyntaxError(
                        f"every branch of GRAPH ?{gv} needs a triple "
                        "pattern binding the graph variable"
                    )
            else:
                scope = quads.where(F.col("g_value") == gterm)
                if named_iris is not None and gterm not in named_iris:
                    scope = scope.where(F.lit(False))
                frame, frame_nulls, frame_non_nt, frame_masks = (
                    _eval_group_impl(scope, gsub, False, structs)
                )
        elif kind == "service":
            # §18.8 federation: ship the captured pattern to the
            # endpoint as SELECT *, land the bindings as a local
            # frame, and join like any other element. Results
            # materialize DRIVER-SIDE (the remote endpoint bounds
            # them by design); compat machinery handles unbound vars.
            # Under GRAPH ?g the SERVICE pattern is evaluated against
            # the REMOTE dataset regardless of the local active graph
            # (Federated Query spec — GRAPH does not distribute into
            # SERVICE), so it joins as usual and simply does not bind
            # ?g; the sibling triple patterns must (the end-of-group
            # binding check enforces that).
            svc = _service_frame(
                triples.sparkSession, *payload, structs=structs
            )
            if svc is None:
                # SILENT failure, or a variable-free pattern that
                # matched: the single-empty-solution identity
                continue
            if svc == "empty":
                # variable-free pattern with no remote match: the
                # whole group so far yields nothing
                if acc is None:
                    raise SparqlSyntaxError(
                        "leading variable-free SERVICE with an empty "
                        "result is not supported"
                    )
                from pyspark.sql import functions as F

                acc = acc.where(F.lit(False))
                continue
            frame, frame_nulls, frame_masks = svc
            frame_non_nt = set()
        elif kind == "subquery":
            # §18.2.2.14: the subquery evaluates bottom-up against
            # the full graph (outer bindings are NOT visible inside)
            # and its projected variables join with the enclosing
            # group like any other frame
            if structs:
                raise SparqlSyntaxError(
                    "subqueries inside CONSTRUCT are not supported"
                )
            frame, frame_nulls, frame_non_nt = _select_frame(
                triples, payload, graph_var=graph_var
            )
            frame_masks = {frozenset()} if not frame_nulls else None
        elif kind == "union":
            evaled = [
                _eval_group_impl(
                    triples, g, False, structs, graph_var=graph_var
                )
                for g in payload
            ]
            frames = [f for f, _, _, _ in evaled]
            all_vars = set()
            for f, nulls, nn, _ in evaled:
                all_vars |= set(_binding_vars(f.columns))
                frame_nulls |= nulls
                frame_non_nt |= nn
            for f, _, _, _ in evaled:
                # vars absent from this branch are null in its rows
                frame_nulls |= all_vars - set(_binding_vars(f.columns))
            # a variable that is a subquery aggregate alias in one
            # branch and an NT-form binding in another cannot be
            # merged: unionByName would ANSI-cast the NT strings into
            # the alias's numeric type and crash at runtime
            mixed = set()
            for f, _, nn, _ in evaled:
                bound = set(_binding_vars(f.columns))
                mixed |= (frame_non_nt & bound) - nn
            if mixed:
                raise SparqlSyntaxError(
                    f"UNION merges aggregate alias(es) {sorted(mixed)} "
                    f"with NT-form bindings of the same name — "
                    f"aggregate results are not NT forms (unsupported)"
                )
            frame = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                frames,
            )
            # masks: each branch row binds (branch vars − branch
            # nulls) ∪ its own mask — absent vars stay unbound, which
            # is exactly what lets leg pruning skip e.g. the
            # both-unbound cross leg when no branch can produce it
            frame_masks = set()
            for f, nulls, _, bmasks in evaled:
                bvars = set(_binding_vars(f.columns))
                if bmasks is None:
                    if len(nulls & bvars) > 5:
                        frame_masks = None
                        break
                    bmasks = _subsets(sorted(nulls & bvars))
                for m in bmasks:
                    frame_masks.add(
                        frozenset(((bvars - nulls) | m) & frame_nulls)
                    )
                if frame_masks is not None and len(frame_masks) > _MASK_CAP:
                    frame_masks = None
                    break
            frame_masks = _mask_cap(frame_masks)
        elif kind == "values":
            vnames, rows = payload
            for i, v in enumerate(vnames):
                if any(r[i] is None for r in rows):
                    frame_nulls.add(v)
            frame = _values_frame(
                triples.sparkSession, vnames, rows, structs
            )
            # exact masks straight from the inline rows
            frame_masks = _mask_cap({
                frozenset(
                    v for i, v in enumerate(vnames)
                    if r[i] is not None and v in frame_nulls
                )
                for r in rows
            })
        elif kind == "bind":
            # BIND(expr AS ?v): extend each solution with the NT form
            # of the expression's value — a plain literal for
            # STR/LANG, an IRI for DATATYPE, a copy for a variable, a
            # constant term's NT otherwise; expression errors leave
            # the new variable unbound (NULL). Non-struct mode only:
            # recovering a RAW value for the CONSTRUCT term structs
            # would need NT unescaping, which column exprs can't do.
            from pyspark.sql import functions as F

            opnode, bvar = payload
            if acc is None:
                raise SparqlSyntaxError("leading BIND is not supported")
            if structs:
                raise SparqlSyntaxError(
                    "BIND inside CONSTRUCT is not supported"
                )
            if bvar in _binding_vars(acc.columns):
                raise SparqlSyntaxError(
                    f"BIND target ?{bvar} is already bound"
                )
            cols = acc.columns
            if opnode[0] == "var":
                ntc = (
                    F.col(opnode[1])
                    if opnode[1] in cols
                    else F.lit(None).cast("string")
                )
            elif opnode[0] in ("coalesce", "if"):
                # NT form of the selected value
                ntc = _operand_info(opnode, cols)[0]
                if ntc is None:
                    raise SparqlSyntaxError(
                        f"BIND({opnode[0].upper()}(...)) with a "
                        "bare-number arm has no canonical NT form — "
                        "use a typed literal"
                    )
            elif opnode[0] == "func":
                _, lex, _, _ = _operand_info(opnode, cols)
                fn = opnode[1]
                if fn == "DATATYPE":
                    ntc = F.concat(F.lit("<"), lex, F.lit(">"))
                else:  # STR / LANG: escaped lexical -> plain literal
                    ntc = F.concat(F.lit('"'), lex, F.lit('"'))
            elif opnode[0] == "mkterm":
                # IRI / STRDT / STRLANG: a full NT term by construction
                ntc = _operand_info(opnode, cols)[0]
            elif opnode[0] in ("strfn", "substr", "replace", "numfn",
                               "arith", "hashfn", "dtfn", "strfn1"):
                # string/numeric builtins and arithmetic: escaped
                # lexical -> plain literal (numfn lexicals are the
                # integer form except ABS and arithmetic, which keep
                # the double form; dtfn likewise integer except
                # SECONDS' decimal)
                _, lex, _, _ = _operand_info(opnode, cols)
                ntc = F.concat(F.lit('"'), lex, F.lit('"'))
            else:  # constant term
                t = opnode[1]
                from argo_spark.terms import format_term

                nt = format_term(t) if isinstance(t, Term) else "<" + t + ">"
                ntc = F.lit(nt)
            acc = acc.withColumn(bvar, ntc)
            # the expression may be NULL (error) — conservative
            maybe_null.add(bvar)
            if acc_masks is not None:
                acc_masks = _mask_cap(
                    {m for m in acc_masks}
                    | {m | {bvar} for m in acc_masks}
                )
            continue
        elif kind == "minus":
            # SPARQL §8.3.3: remove solutions compatible with some
            # RHS solution sharing ≥1 bound variable. With ALL
            # variables bound and ≥1 shared, that is exactly a
            # left-anti equi-join; disjoint domains remove nothing
            # (spec) = no-op here. Possibly-unbound shared vars take
            # the full compatibility relation (conditional anti join
            # below).
            if acc is None:
                raise SparqlSyntaxError("leading MINUS is not supported")
            # in_optional=False: MINUS's RHS never sees LHS bindings
            # (§8.3.3 — unlike the OPTIONAL LeftJoin expression), so a
            # filter referencing an outer var correctly evaluates it
            # as unbound rather than raising
            sub, sub_nulls, sub_non_nt, sub_masks = _eval_group_impl(
                triples, payload, False, structs, graph_var=graph_var
            )
            shared = [
                c for c in sub.columns
                if c in acc.columns and not c.startswith(_TERM_STRUCT_PREFIX)
            ]
            if shared:
                _guard_non_nt_join(shared, non_nt | sub_non_nt, "MINUS")
                nullable = set(shared) & (maybe_null | sub_nulls)
                if nullable and _compat_too_wide(
                    shared, maybe_null, sub_nulls, acc_masks, sub_masks
                ):
                    from pyspark.sql import functions as F

                    # fallback past the leg cap: full §8.3.3 as ONE
                    # conditional anti join (nested-loop against the
                    # deduped RHS projection) — correct, not the
                    # 100-TB shape, only reachable with 7+ nullable
                    # shared vars
                    ren = sub.select(*shared).dropDuplicates()
                    for c in shared:
                        ren = ren.withColumnRenamed(c, f"__mk_{c}")
                    compat = None
                    overlap = None
                    for c in shared:
                        l, r = F.col(c), F.col(f"__mk_{c}")
                        e = l.isNull() | r.isNull() | (l == r)
                        compat = e if compat is None else compat & e
                        o = l.isNotNull() & r.isNotNull()
                        overlap = o if overlap is None else overlap | o
                    acc = acc.join(ren, compat & overlap, "left_anti")
                elif nullable:
                    # full §8.3.3 semantics, 100-TB shape: union of
                    # hash anti-joins over boundness legs
                    acc = _compat_minus_frames(
                        acc, sub, shared, maybe_null, sub_nulls,
                        acc_masks, sub_masks,
                    )
                else:
                    acc = acc.join(
                        sub.select(*shared), on=shared, how="left_anti"
                    )
            continue
        else:  # optional
            if acc is None:
                raise SparqlSyntaxError("leading OPTIONAL is not supported")
            # split the optional group's filters: plain inner filters
            # evaluate inside the subgroup as always; a filter whose
            # variables reach OUTSIDE the subgroup is the spec's
            # LeftJoin EXPRESSION (§18.2.1) and becomes part of the
            # left join's condition (error -> no match -> the left
            # row survives alone, exactly the spec's else-arm)
            probe, _pn, _pnn, _pm = _eval_group_impl(
                triples, Group(payload.elements, []), True, structs,
                graph_var=graph_var,
            )
            sub_bound = set(_binding_vars(probe.columns))
            plain_filters, deferred = [], []
            for f in payload.filters:
                ex: list = []
                _collect_exists(f, ex)
                if ex or _expr_vars(f) <= sub_bound:
                    plain_filters.append(f)
                else:
                    deferred.append(f)
            sub, sub_nulls, sub_non_nt, sub_masks = _eval_group_impl(
                triples, Group(payload.elements, plain_filters), True,
                structs, graph_var=graph_var,
            )
            shared = [
                c for c in sub.columns
                if c in acc.columns and not c.startswith(_TERM_STRUCT_PREFIX)
            ]
            if not shared:
                raise SparqlSyntaxError(
                    "OPTIONAL sharing no variables with the preceding "
                    "pattern is not supported"
                )
            _guard_non_nt_join(shared, non_nt | sub_non_nt, "OPTIONAL")
            nullable = set(shared) & (maybe_null | sub_nulls)
            if nullable and _compat_too_wide(
                shared, maybe_null, sub_nulls, acc_masks, sub_masks
            ):
                # past the leg cap the decomposition's plan explodes;
                # no conditional-left-join fallback exists, so keep
                # the historical clear error
                _guard_compat_join(
                    shared, maybe_null | sub_nulls, "OPTIONAL"
                )
            dup_structs = [
                c for c in sub.columns
                if c in acc.columns and c.startswith(_TERM_STRUCT_PREFIX)
            ]
            if nullable:
                if deferred and structs:
                    raise SparqlSyntaxError(
                        "OPTIONAL filters over outer variables inside "
                        "CONSTRUCT are not supported"
                    )
                # possibly-unbound shared vars: boundness-decomposed
                # LeftJoin (hash joins only); deferred LeftJoin
                # expressions evaluate over the merged rows
                acc = _compat_leftjoin_frames(
                    acc, sub, shared, maybe_null, sub_nulls, deferred,
                    acc_masks, sub_masks,
                )
            elif deferred:
                if structs:
                    raise SparqlSyntaxError(
                        "OPTIONAL filters over outer variables inside "
                        "CONSTRUCT are not supported"
                    )
                # uniquify the right side's SHARED columns so both the
                # equi keys and the filter's variable references
                # resolve unambiguously over the joined schema (outer
                # vars -> left columns, inner-only vars keep their
                # names on the right)
                from pyspark.sql import functions as F

                ren = sub.drop(*dup_structs)
                for c in shared:
                    ren = ren.withColumnRenamed(c, f"__optk_{c}")
                cond = None
                for c in shared:
                    e = F.col(c) == F.col(f"__optk_{c}")
                    cond = e if cond is None else cond & e
                combined_cols = list(acc.columns) + list(ren.columns)
                for f in deferred:
                    cond = cond & _expr_col(f, combined_cols)
                acc = acc.join(ren, cond, "left").drop(
                    *[f"__optk_{c}" for c in shared]
                )
            else:
                acc = acc.join(sub.drop(*dup_structs), on=shared, how="left")
            # every var the optional may or may not bind is nullable
            left_bvars = set(_binding_vars(acc.columns)) - (
                set(_binding_vars(sub.columns)) - set(shared)
            )
            sub_bvars = set(_binding_vars(sub.columns))
            new_null = maybe_null | (sub_bvars - set(shared)) | sub_nulls
            # masks: matched rows bind left ∪ right shapes, unmatched
            # rows keep the left shape alone
            matched_m = _join_masks(
                acc_masks, left_bvars - maybe_null,
                sub_masks, sub_bvars - sub_nulls, new_null,
            )
            if matched_m is None or acc_masks is None:
                acc_masks = None
            else:
                acc_masks = _mask_cap(matched_m | {
                    frozenset(((left_bvars - maybe_null) | m) & new_null)
                    for m in acc_masks
                })
            maybe_null = new_null
            non_nt |= sub_non_nt
            continue
        if acc is None:
            acc = frame
            maybe_null = frame_nulls
            non_nt = frame_non_nt
            acc_masks = frame_masks
        else:
            shared = [
                c for c in frame.columns
                if c in acc.columns and not c.startswith(_TERM_STRUCT_PREFIX)
            ]
            _guard_non_nt_join(shared, non_nt | frame_non_nt, "group")
            dup_structs = [
                c for c in frame.columns
                if c in acc.columns and c.startswith(_TERM_STRUCT_PREFIX)
            ]
            left_bvars = set(_binding_vars(acc.columns))
            frame_bvars = set(_binding_vars(frame.columns))
            old_null = set(maybe_null)
            nullable = set(shared) & (maybe_null | frame_nulls)
            if nullable and _compat_too_wide(
                shared, maybe_null, frame_nulls, acc_masks, frame_masks
            ):
                # fallback past the leg cap (7+ nullable shared
                # vars): SPARQL §18.5 Join as ONE conditional join —
                # nested-loop plan, correct but not the 100-TB shape
                from pyspark.sql import functions as F

                ren = frame
                for c in shared:
                    ren = ren.withColumnRenamed(c, f"__jk_{c}")
                    sc = _TERM_STRUCT_PREFIX + c
                    if sc in dup_structs:
                        ren = ren.withColumnRenamed(sc, f"__jks_{c}")
                cond = None
                for c in shared:
                    l, r = F.col(c), F.col(f"__jk_{c}")
                    e = l.isNull() | r.isNull() | (l == r)
                    cond = e if cond is None else cond & e
                acc = acc.join(ren, cond, "inner")
                for c in shared:
                    acc = acc.withColumn(
                        c, F.coalesce(F.col(c), F.col(f"__jk_{c}"))
                    ).drop(f"__jk_{c}")
                    sc = _TERM_STRUCT_PREFIX + c
                    if sc in dup_structs:
                        acc = acc.withColumn(
                            sc, F.coalesce(F.col(sc), F.col(f"__jks_{c}"))
                        ).drop(f"__jks_{c}")
                # a merged shared var stays nullable only if BOTH
                # sides could leave it unbound
                maybe_null = (
                    maybe_null - set(shared)
                ) | (frame_nulls - set(shared)) | (
                    maybe_null & frame_nulls & set(shared)
                )
            elif nullable:
                # SPARQL's compatibility JOIN (§18.5 Join), 100-TB
                # shape: union of hash equi-joins over boundness legs
                # (each merged var comes from the leg that binds it —
                # see _compat_legs)
                acc = _compat_join_frames(
                    acc, frame, shared, maybe_null, frame_nulls,
                    acc_masks, frame_masks,
                )
                # a merged shared var stays nullable only if BOTH
                # sides could leave it unbound
                maybe_null = (
                    maybe_null - set(shared)
                ) | (frame_nulls - set(shared)) | (
                    maybe_null & frame_nulls & set(shared)
                )
            else:
                frame = frame.drop(*dup_structs)
                acc = (
                    acc.join(frame, on=shared, how="inner")
                    if shared
                    else acc.crossJoin(frame)
                )
                maybe_null |= frame_nulls
            acc_masks = _join_masks(
                acc_masks, left_bvars - old_null,
                frame_masks, frame_bvars - frame_nulls, maybe_null,
            )
            non_nt |= frame_non_nt
    if acc is None:
        raise SparqlSyntaxError("group has no graph patterns")
    for f in group.filters:
        if f[0] == "exists":
            # FILTER (NOT) EXISTS: correlated via the shared variables
            # — a left-semi/anti join implements the §8.1.1 substitute
            # semantics exactly when every shared variable is bound
            # (guarded). Uncorrelated EXISTS (no shared vars) would
            # need a whole-table emptiness probe — unsupported.
            positive, g = f[1], f[2]
            sub, sub_nulls, sub_non_nt, _sm = _eval_group_impl(
                triples, g, False, structs, graph_var=graph_var
            )
            shared = [
                c for c in sub.columns
                if c in acc.columns and not c.startswith(_TERM_STRUCT_PREFIX)
            ]
            if not shared:
                raise SparqlSyntaxError(
                    "EXISTS sharing no variables with the group is "
                    "not supported"
                )
            _guard_non_nt_join(shared, non_nt | sub_non_nt, "EXISTS")
            _guard_compat_join(shared, maybe_null | sub_nulls, "EXISTS")
            acc = acc.join(
                sub.select(*shared),
                on=shared,
                how="left_semi" if positive else "left_anti",
            )
            continue
        ex_nodes: list = []
        _collect_exists(f, ex_nodes)
        if ex_nodes:
            if in_optional:
                # same LeftJoin-expression guard as plain filters:
                # the NON-exists operands must not reference outer
                # variables (they would silently read as unbound) —
                # exists nodes themselves correlate via their join
                unbound = {
                    v
                    for v in _expr_vars(_rewrite_exists(
                        f, {id(n): ("__probe", True) for n in ex_nodes}
                    ))
                    if v not in set(_binding_vars(acc.columns))
                }
                if unbound:
                    raise SparqlSyntaxError(
                        f"FILTER in OPTIONAL references outer variables "
                        f"{sorted(unbound)} (LeftJoin-expression case "
                        f"unsupported)"
                    )
            # EXISTS composed inside a boolean expression: each node
            # becomes a MARK JOIN — left outer join of the subgroup's
            # deduped shared-variable frame with a True flag; the
            # expression then reads coalesce(flag, False). Same
            # correlation/guard rules as the standalone fast path.
            from pyspark.sql import functions as F

            mapping: dict = {}
            mark_cols: list[str] = []
            for node in ex_nodes:
                positive, g = node[1], node[2]
                sub, sub_nulls, sub_non_nt, _sm = _eval_group_impl(
                    triples, g, False, structs, graph_var=graph_var
                )
                shared = [
                    c for c in sub.columns
                    if c in acc.columns
                    and not c.startswith(_TERM_STRUCT_PREFIX)
                ]
                if not shared:
                    raise SparqlSyntaxError(
                        "EXISTS sharing no variables with the group is "
                        "not supported"
                    )
                _guard_non_nt_join(shared, non_nt | sub_non_nt, "EXISTS")
                _guard_compat_join(shared, maybe_null | sub_nulls, "EXISTS")
                mcol = f"{_PATH_VAR_PREFIX}mark{len(mark_cols)}"
                mark = (
                    sub.select(*shared)
                    .dropDuplicates()
                    .withColumn(mcol, F.lit(True))
                )
                acc = acc.join(mark, on=shared, how="left")
                mapping[id(node)] = (mcol, positive)
                mark_cols.append(mcol)
            acc = acc.where(
                _expr_col(_rewrite_exists(f, mapping), acc.columns)
            ).drop(*mark_cols)
            continue
        if in_optional:
            unbound = _expr_vars(f) - set(_binding_vars(acc.columns))
            if unbound:
                raise SparqlSyntaxError(
                    f"FILTER in OPTIONAL references outer variables "
                    f"{sorted(unbound)} (LeftJoin-expression case "
                    f"unsupported)"
                )
        acc = acc.where(_expr_col(f, acc.columns))
    return acc, maybe_null, non_nt, acc_masks


def _parse_dataset_clauses(p: "_Parser"):
    """FROM <g> merges named graphs into the query's default graph;
    FROM NAMED <g> restricts the set GRAPH can range over. ->
    (default_iris, named_iris) or None when absent."""
    default_iris: list[str] = []
    named_iris: list[str] = []
    while True:
        kind, val = p.peek()
        if not (kind == "kw" and val.upper() == "FROM"):
            break
        p.next()
        k2, v2 = p.peek()
        named = k2 == "kw" and v2.upper() == "NAMED"
        if named:
            p.next()
        t = p.parse_term("s")
        if not isinstance(t, str) or t.startswith("?"):
            raise SparqlSyntaxError("FROM needs an IRI")
        (named_iris if named else default_iris).append(t)
    if default_iris or named_iris:
        return (default_iris, named_iris)
    return None


def parse_select(query: str):
    """-> (vars | None for *, group: Group, distinct, limit | None,
    order: list[(var, is_desc)], offset | None, group_by, having,
    dataset: (from_iris, from_named_iris) | None)."""
    p = _Parser(query)
    p.parse_prefixes()
    p.expect_kw("SELECT")
    return _parse_select_body(p)


def _parse_select_body(p: "_Parser", stop_at_brace: bool = False):
    """Everything after the SELECT keyword — shared by the top-level
    parse and the '{ SELECT ... }' subquery form (which sets
    ``stop_at_brace`` so the modifier tail stops at the closing
    brace instead of demanding end-of-input)."""
    distinct = False
    kind, val = p.peek()
    if kind == "kw" and val.upper() == "DISTINCT":
        distinct = True
        p.next()
    elif kind == "kw" and val.upper() == "REDUCED":
        # REDUCED *permits* duplicate elimination (§9.3.3: any
        # cardinality between DISTINCT and none is conformant) — we
        # eliminate, which makes it deterministic AND cheap here:
        # dropDuplicates gets a map-side partial combine, whereas
        # "some duplicates" would depend on partitioning
        distinct = True
        p.next()
    variables: list | None = []
    kind, val = p.peek()
    if kind == "punct" and val == "*":
        variables = None
        p.next()
    else:
        while True:
            kind, val = p.peek()
            if kind == "var":
                variables.append(val[1:])
                p.next()
            elif kind == "punct" and val == "(":
                nk, nv = p.peek_at(1)
                if nk == "kw" and nv.upper() in p._AGG_FNS:
                    variables.append(p.parse_agg_projection())
                else:
                    # (expr AS ?alias) projection: BIND's operand
                    # grammar plus arithmetic
                    p.next()
                    opnode = p.parse_additive()
                    p.expect_kw("AS")
                    ak, av = p.next()
                    if ak != "var":
                        raise SparqlSyntaxError("AS needs a variable")
                    p.expect_punct(")")
                    variables.append(("expr", opnode, av[1:]))
            else:
                break
        if not variables:
            raise SparqlSyntaxError("SELECT needs variables or *")
    # dataset clauses (§13.2) — top-level only: a subquery
    # (stop_at_brace) inherits the outer dataset per spec
    dataset = None if stop_at_brace else _parse_dataset_clauses(p)
    kind, val = p.peek()
    if kind == "kw" and val.upper() == "WHERE":
        p.next()
    group = p.parse_group()
    exprs = [v for v in (variables or []) if isinstance(v, tuple)
             and v[0] == "expr"]
    # the desugar decision needs to know whether GROUP BY follows, so
    # it happens after the modifier parse (see below)
    group_by: list[str] = []
    gb_binds: list[tuple] = []
    kind, val = p.peek()
    if kind == "kw" and val.upper() == "GROUP":
        p.next()
        p.expect_kw("BY")
        while True:
            kind, val = p.peek()
            if kind == "var":
                group_by.append(val[1:])
                p.next()
            elif kind == "punct" and val == "(":
                # GROUP BY (expr AS ?v) — spec §18.2.4: the expression
                # binds ?v over the group pattern's solutions, then
                # grouping is on ?v (the bare '(expr)' form without AS
                # would group on an unnameable key — unsupported)
                p.next()
                opnode = p.parse_additive()
                if opnode[0] == "num":
                    raise SparqlSyntaxError(
                        "grouping on a bare number is pointless"
                    )
                p.expect_kw("AS")
                vk, vv = p.next()
                if vk != "var":
                    raise SparqlSyntaxError("GROUP BY (expr AS ?v) needs ?v")
                p.expect_punct(")")
                gb_binds.append(("bind", (opnode, vv[1:])))
                group_by.append(vv[1:])
            else:
                break
        if not group_by:
            raise SparqlSyntaxError("GROUP BY needs at least one variable")
    if gb_binds:
        # evaluate the grouping expressions AFTER the whole group
        # (incl. its filters), before aggregation — same wrap as the
        # SELECT-expression desugar
        group = Group([("union", [group])] + gb_binds, [])
    having: list[tuple] = []
    kind, val = p.peek()
    if kind == "kw" and val.upper() == "HAVING":
        p.next()
        # inside HAVING, bare aggregate calls — HAVING(COUNT(?d) > 3)
        # — are legal operands: each becomes a HIDDEN aggregate
        # (internal-prefix alias, computed with the projected ones,
        # never selected)
        p._having_aggs = []
        having.append(p.parse_constraint())
        # HAVING takes 1+ constraints (HavingClause := 'HAVING'
        # HavingCondition+), all of which must hold
        while True:
            kind, val = p.peek()
            if kind == "punct" and val == "(":
                having.append(p.parse_constraint())
            else:
                break
        hidden_aggs = p._having_aggs
        p._having_aggs = None
        if hidden_aggs:
            having = [("__hidden__", hidden_aggs)] + having
    order, limit, offset, trailing_values = _parse_modifiers(
        p, stop_at_brace=stop_at_brace
    )
    if trailing_values is not None:
        group = Group(group.elements + [trailing_values], group.filters)
    has_aggs = any(
        isinstance(v, tuple) and v[0] == "agg" for v in (variables or [])
    )
    if exprs and not has_aggs and not group_by:
        # SELECT-expression ≡ BIND at the end of the WHERE group
        # (§18.2.4.2's Extend, evaluated after the group); rewrite
        # the projection list to the plain alias names
        binds = []
        for _, opnode, alias in exprs:
            if opnode[0] == "num":
                raise SparqlSyntaxError(
                    "projecting a bare number is unsupported (no "
                    "canonical NT form chosen) — use a typed literal"
                )
            binds.append(("bind", (opnode, alias)))
        # Extend evaluates AFTER the whole group (incl. its FILTERs):
        # wrap the parsed group as a single-branch union so its own
        # filters run first, then apply the binds — a FILTER inside
        # WHERE referencing the projection alias correctly sees it
        # unbound
        group = Group([("union", [group])] + binds, [])
        variables = [
            v if isinstance(v, str) else v[2] for v in variables
        ]
    # with aggregates / GROUP BY present, the ("expr", opnode, alias)
    # tuples stay in the projection list — _select_frame evaluates
    # them over the aggregated frame (post-aggregation Extend)
    return (
        variables, group, distinct, limit, order, offset, group_by, having,
        dataset,
    )


def _parse_modifiers(p: "_Parser", stop_at_brace: bool = False):
    """ORDER BY / LIMIT / OFFSET tail shared by SELECT and CONSTRUCT;
    raises on anything left over (an ignored modifier is a WRONG
    result). ``stop_at_brace``: a subquery's tail legitimately ends
    at the enclosing '}'."""
    order: list[tuple] = []
    kind, val = p.peek()
    if kind == "kw" and val.upper() == "ORDER":
        p.next()
        p.expect_kw("BY")
        while True:
            kind, val = p.peek()
            if kind == "var":
                p.next()
                order.append((val[1:], False))
            elif kind == "kw" and val.upper() in ("ASC", "DESC"):
                # ASC/DESC(expr) — expr is the additive operand
                # grammar (vars, builtins, arithmetic); a bare
                # variable stays a var key (keeps the native-numeric
                # aggregate-alias fast path)
                p.next()
                desc = val.upper() == "DESC"
                p.expect_punct("(")
                key = p.parse_additive()
                p.expect_punct(")")
                if key[0] == "var":
                    order.append((key[1], desc))
                else:
                    order.append(("expr", key, desc))
            elif (
                kind == "kw" and val.upper() in _OPERAND_FN_KWS
            ) or (kind == "punct" and val == "("):
                # bare expression condition (ascending): a builtin
                # call, or a parenthesized additive expression
                if kind == "punct":
                    p.next()
                    key = p.parse_additive()
                    p.expect_punct(")")
                else:
                    key = p.parse_additive()
                if key[0] == "var":
                    order.append((key[1], False))
                else:
                    order.append(("expr", key, False))
            else:
                break
        if not order:
            raise SparqlSyntaxError("ORDER BY needs at least one key")
    limit = offset = None
    # SPARQL allows LIMIT/OFFSET in either order
    for _ in range(2):
        kind, val = p.peek()
        if kind == "kw" and val.upper() == "LIMIT" and limit is None:
            p.next()
            nk, nv = p.next()
            if nk != "num":
                raise SparqlSyntaxError(f"bad LIMIT {nv!r}")
            limit = int(nv)
        elif kind == "kw" and val.upper() == "OFFSET" and offset is None:
            p.next()
            nk, nv = p.next()
            if nk != "num":
                raise SparqlSyntaxError(f"bad OFFSET {nv!r}")
            offset = int(nv)
    # trailing VALUES clause (grammar [28]): syntactically last, but
    # the algebra joins it into the PATTERN (18.2.4.6) — the caller
    # appends it to the WHERE group, before projection/modifiers
    trailing_values = None
    kind, val = p.peek()
    if kind == "kw" and val.upper() == "VALUES":
        p.next()
        trailing_values = p.parse_values()
    kind, val = p.peek()
    if stop_at_brace and kind == "punct" and val == "}":
        return order, limit, offset, trailing_values
    if kind is not None:
        raise SparqlSyntaxError(f"unsupported trailing clause at {val!r}")
    return order, limit, offset, trailing_values


def parse_construct(query: str):
    """-> (template: list[(s, p, o)], group: Group, limit, order,
    offset, dataset). The template is a plain triple block (no
    OPTIONAL / FILTER / nested groups; no blank-node generation — the
    term grammar has no ``_:`` form, so every template term is a
    variable, IRI, or literal). ``dataset`` = (from_iris,
    from_named_iris) | None, same as SELECT (§13.2)."""
    p = _Parser(query)
    p.parse_prefixes()
    p.expect_kw("CONSTRUCT")
    dataset = _parse_dataset_clauses(p)
    kind, val = p.peek()
    if kind == "kw" and val.upper() == "WHERE":
        # CONSTRUCT WHERE { bgp } shorthand (§10.2.3): the pattern IS
        # the template; restricted to a plain triple block per spec
        p.next()
        group = p.parse_group()
        if group.filters or any(k != "bgp" for k, _ in group.elements):
            raise SparqlSyntaxError(
                "CONSTRUCT WHERE shorthand takes a plain triple block"
            )
        template = group.triples
        # property-path sugar desugars BEFORE this check, leaving
        # internal ?__path variables in the triples — a sequence or
        # inverse path is not a plain triple block either (spec
        # 10.2.3), so reject it rather than emit internal-var triples
        if any(
            isinstance(t, str) and t.startswith("?" + _PATH_VAR_PREFIX)
            for triple in template
            for t in triple
        ):
            raise SparqlSyntaxError(
                "CONSTRUCT WHERE shorthand takes a plain triple block "
                "(no property paths)"
            )
        order, limit, offset, tv = _parse_modifiers(p)
        if tv is not None:
            group = Group(group.elements + [tv], group.filters)
        return template, group, limit, order, offset, dataset
    tmpl_group = p.parse_group()
    if tmpl_group.filters or any(
        k != "bgp" for k, _ in tmpl_group.elements
    ):
        raise SparqlSyntaxError(
            "CONSTRUCT template must be a plain triple block"
        )
    template = tmpl_group.triples
    # template blank nodes generate fresh-per-solution (spec 16.2.1;
    # instantiated in _instantiate_template as a deterministic hash
    # of the solution's bindings); the WHERE pattern may use its OWN
    # labels freely (plain internal join variables there) but a label
    # shared between template and WHERE is rejected at instantiation.
    # Property paths in the template stay rejected.
    bn = "?" + _PATH_VAR_PREFIX + "bn_"
    if any(
        isinstance(t, str) and t.startswith("?" + _PATH_VAR_PREFIX)
        and not t.startswith(bn)
        for triple in template
        for t in triple
    ):
        raise SparqlSyntaxError(
            "property paths in CONSTRUCT templates are not supported"
        )
    if dataset is None:
        # full form: DatasetClause* sits between template and WHERE
        dataset = _parse_dataset_clauses(p)
    kind, val = p.peek()
    if kind == "kw" and val.upper() == "WHERE":
        p.next()
    group = p.parse_group()
    order, limit, offset, tv = _parse_modifiers(p)
    if tv is not None:
        group = Group(group.elements + [tv], group.filters)
    return template, group, limit, order, offset, dataset


def parse_describe(query: str):
    """-> (iris: list[str], vars: list[str], group: Group | None,
    limit, order, offset, dataset). Either ``DESCRIBE <iri>...`` (no
    WHERE) or ``DESCRIBE ?v... WHERE Group`` (vars must be bound in
    the group); ``dataset`` = (from_iris, from_named_iris) | None,
    same as SELECT (§13.2)."""
    p = _Parser(query)
    p.parse_prefixes()
    p.expect_kw("DESCRIBE")
    iris: list[str] = []
    dvars: list[str] = []
    while True:
        kind, val = p.peek()
        if kind == "var":
            p.next()
            dvars.append(val[1:])
        elif kind == "iri":
            p.next()
            iris.append(p.resolve_iri(val[1:-1]))
        elif kind == "pname":
            p.next()
            iris.append(p.expand_pname(val))
        else:
            break
    if not iris and not dvars:
        raise SparqlSyntaxError("DESCRIBE needs resources or variables")
    if iris and dvars:
        raise SparqlSyntaxError(
            "DESCRIBE mixes IRIs and variables — unsupported"
        )
    dataset = _parse_dataset_clauses(p)
    group = None
    kind, val = p.peek()
    if kind == "kw" and val.upper() == "WHERE" or (
        kind == "punct" and val == "{"
    ):
        if kind == "kw":
            p.next()
        group = p.parse_group()
    if dvars and group is None:
        raise SparqlSyntaxError("DESCRIBE ?var needs a WHERE group")
    order, limit, offset, tv = _parse_modifiers(p)
    if tv is not None:
        if group is None:
            raise SparqlSyntaxError(
                "trailing VALUES needs a WHERE group to join into"
            )
        group = Group(group.elements + [tv], group.filters)
    kind, val = p.peek()
    if kind is not None:
        raise SparqlSyntaxError(f"unsupported trailing clause at {val!r}")
    return iris, dvars, group, limit, order, offset, dataset


def sparql_describe(triples: DataFrame, query: str) -> DataFrame:
    """DESCRIBE text -> triples DataFrame (TRIPLE_COLS schema) — with
    CONSTRUCT, the native counterpart of the reference's
    SparqlService.Graph() (sparqlservice.go:72-86, CONSTRUCT/DESCRIBE
    both arrive as RDF/XML graphs).

    Description semantics (implementation-defined per spec §16.4,
    documented here): ALL triples whose SUBJECT is the described
    resource, no blank-node closure — this engine skolemizes blank
    nodes (terms.py skolem_id), so the Concise-Bounded-Description
    recursion that motivates closure over anonymous nodes does not
    apply. The resource set semi-joins against the subject's NT form
    (broadcast when small)."""
    from functools import reduce

    from pyspark.sql import functions as F

    from argo_spark.ops.bgp import _nt_for_position

    iris, dvars, group, limit, order, offset, dataset = \
        parse_describe(query)
    if iris and (order or limit is not None or offset is not None):
        raise SparqlSyntaxError(
            "solution modifiers need a WHERE group to act on"
        )
    spark = triples.sparkSession
    # FROM / FROM NAMED: both the WHERE evaluation and the
    # description itself read the resolved active default graph
    with _dataset_scope(triples, dataset) as triples:
        if iris:
            resources = local_frame(
                spark,
                [("<" + i + ">",) for i in sorted(set(iris))],
                "__res string",
            )
        else:
            sols = eval_group(triples, group)
            missing = [v for v in dvars if v not in sols.columns]
            if missing:
                raise SparqlSyntaxError(
                    f"DESCRIBE vars not bound in WHERE: {missing}"
                )
            if order:
                cols = []
                for key in order:
                    cols.extend(_order_key_cols(key, sols.columns))
                sols = sols.orderBy(*cols)
            if offset:
                sols = sols.offset(offset)
            if limit is not None:
                sols = sols.limit(limit)
            resources = reduce(
                lambda a, b: a.unionByName(b),
                [
                    sols.select(F.col(v).alias("__res")).where(
                        F.col(v).isNotNull()
                    )
                    for v in dvars
                ],
            ).dropDuplicates()
        if iris:
            # driver-enumerated resource list: always broadcast-sized
            resources = F.broadcast(resources)
        # var path: the resource set's size is data-dependent (could
        # be the whole subject universe at 100 TB), so the
        # planner/AQE picks — AQE converts the semi-join to broadcast
        # at runtime when the built side is actually small
        subject_nt = _nt_for_position("s")
        return triples.join(
            resources, on=subject_nt == resources["__res"],
            how="left_semi",
        ).select(*_CANON_COLS)


def sparql_construct(triples: DataFrame, query: str) -> DataFrame:
    """CONSTRUCT text -> triples DataFrame (TRIPLE_COLS schema) — the
    native counterpart of the reference's SparqlService.Graph()
    (/root/reference/sparql/sparqlservice.go:72-82, which ships
    CONSTRUCT text to an endpoint and parses the returned graph).

    Template instantiation follows the spec's skip rules: a solution
    that leaves any template variable unbound, or binds a literal in
    subject position / a non-IRI in predicate position, contributes
    no triple for that pattern. The result is set-semantic
    (dropDuplicates over the canonical columns) per 'CONSTRUCT
    produces an RDF graph'."""
    template, group, limit, order, offset, dataset = parse_construct(query)
    with _dataset_scope(triples, dataset) as active:
        return _instantiate_template(
            active, template, group, limit, order, offset
        )


def _instantiate_template(
    triples: DataFrame, template, group, limit=None, order=None,
    offset=None, quads=False, default_g=None
) -> DataFrame:
    """Struct-mode group evaluation + template instantiation (the
    CONSTRUCT engine, shared with SPARQL Update's DELETE/INSERT
    templates). With ``quads``, template entries are ``(s, p, o, g)``
    and the result carries ``g_value``: a quad's None graph slot
    lands in ``default_g`` (the WITH graph) or the default graph; a
    ``?var`` slot takes the solution's IRI binding (non-IRI or
    unbound graph bindings drop the row — graph names are IRIs)."""
    from functools import reduce

    from pyspark.sql import functions as F

    sols = eval_group(triples, group, structs=True)
    if order:
        cols = []
        for key in order:
            cols.extend(_order_key_cols(key, sols.columns))
        sols = sols.orderBy(*cols)
    if offset:
        sols = sols.offset(offset)
    if limit is not None:
        sols = sols.limit(limit)

    bound = set(_binding_vars(sols.columns))
    bn_prefix = _PATH_VAR_PREFIX + "bn_"
    bn_keys = [
        F.coalesce(F.col(c), F.lit("")) for c in sorted(bound)
    ]

    def term_col(t, position):
        if isinstance(t, str) and t.startswith("?"):
            v = t[1:]
            if v.startswith(bn_prefix):
                # template blank node (spec 16.2.1): fresh per
                # SOLUTION — deterministic hash of the solution's
                # bindings + the label, so the same label yields the
                # same node across the template's patterns for one
                # solution and distinct nodes across solutions.
                # Pure column expr: no state, no collect, stable
                # under any partitioning.
                if v in bound:
                    raise SparqlSyntaxError(
                        f"blank node label _:{v[len(bn_prefix):]} is "
                        "shared between template and WHERE — rename "
                        "one (template labels are template-scoped)"
                    )
                from argo_spark.terms import KIND_BLANK

                label = v[len(bn_prefix):]
                return F.struct(
                    F.lit(int(KIND_BLANK)).cast("tinyint").alias("kind"),
                    F.concat(
                        F.lit("ct"),
                        F.md5(F.concat_ws(
                            "\x01", F.lit(label), *bn_keys
                        )),
                    ).alias("value"),
                    _null_str().alias("lang"),
                    _null_str().alias("dt"),
                )
            if v not in bound:
                raise SparqlSyntaxError(
                    f"CONSTRUCT template var ?{v} is not bound in WHERE"
                )
            return F.col(_TERM_STRUCT_PREFIX + v)
        if isinstance(t, Term):
            return F.struct(
                F.lit(int(t.kind)).cast("tinyint").alias("kind"),
                F.lit(t.value).alias("value"),
                F.lit(t.lang if t.lang else None).cast("string").alias("lang"),
                F.lit(t.dt).cast("string").alias("dt"),
            )
        # plain IRI string (from <iri> / pname / 'a')
        return F.struct(
            F.lit(0).cast("tinyint").alias("kind"),
            F.lit(t).alias("value"),
            _null_str().alias("lang"),
            _null_str().alias("dt"),
        )

    frames = []
    for pat in template:
        s, p_, o = pat[:3]
        gslot = pat[3] if quads and len(pat) > 3 else None
        sel = [
            term_col(s, "s").alias("s"),
            term_col(p_, "p").alias("p"),
            term_col(o, "o").alias("o"),
        ]
        cond = (
            F.col("s").isNotNull()
            & F.col("p").isNotNull()
            & F.col("o").isNotNull()
            & (F.col("s.kind") != KIND_LITERAL)
            & (F.col("p.kind") == F.lit(0))
        )
        outcols = [
            F.col("s.kind").alias("s_kind"),
            F.col("s.value").alias("s_value"),
            F.col("p.value").alias("p_value"),
            F.col("o.kind").alias("o_kind"),
            F.col("o.value").alias("o_value"),
            F.col("o.lang").alias("o_lang"),
            F.col("o.dt").alias("o_dt"),
        ]
        if quads:
            if isinstance(gslot, str) and gslot.startswith("?"):
                if gslot[1:] not in bound:
                    raise SparqlSyntaxError(
                        f"template graph var {gslot} is not bound in "
                        "WHERE"
                    )
                sel.append(
                    F.col(_TERM_STRUCT_PREFIX + gslot[1:]).alias("g")
                )
                cond = cond & F.col("g").isNotNull() & (
                    F.col("g.kind") == F.lit(0)
                )
                outcols.append(F.col("g.value").alias("g_value"))
            else:
                outcols.append(
                    F.lit(gslot if gslot is not None else default_g)
                    .cast("string").alias("g_value")
                )
        frame = sols.select(*sel).where(cond).select(*outcols)
        frames.append(frame)
    out = reduce(lambda a, b: a.unionByName(b), frames)
    return out.dropDuplicates(
        _QUAD_COLS if quads else _CANON_COLS
    )


_OPERAND_FN_KWS = frozenset(
    {
        "STR", "LANG", "DATATYPE", "STRLEN", "UCASE", "LCASE", "IF",
        "COALESCE", "ABS", "CEIL", "FLOOR", "ROUND", "STRBEFORE",
        "STRAFTER", "CONCAT", "SUBSTR", "REPLACE", "MD5", "SHA1",
        "SHA256", "SHA384", "SHA512", "IRI", "URI", "STRDT", "STRLANG",
        "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
        "TZ", "TIMEZONE", "ENCODE_FOR_URI",
    }
)


def _order_key_vars(key) -> set[str]:
    """Variables an ORDER BY key references (for the DISTINCT
    projection-survival check)."""
    if len(key) == 3 and key[0] == "expr":
        return _operand_vars(key[1])
    return {key[0]}


def _order_key_cols(key, columns, dtypes=None):
    """Sort components for one ORDER BY key — a ``(var, desc)`` pair
    (total term order via _order_cols; native numerics sort directly
    when ``dtypes`` marks them non-string) or an ``("expr", opnode,
    desc)`` expression key (numeric expressions sort by value, string
    expressions by lexical with the NT form as tiebreak when one
    exists)."""
    from pyspark.sql import functions as F

    if len(key) == 3 and key[0] == "expr":
        _, opnode, desc = key
        nt, lex, num, numeric = _operand_info(opnode, columns)
        comps = [num] if numeric else (
            [lex, nt] if nt is not None else [lex]
        )
        if desc:
            return [x.desc_nulls_last() for x in comps]
        return [x.asc_nulls_first() for x in comps]
    v, desc = key
    if dtypes and v in dtypes and dtypes[v] != "string":
        c = F.col(v)
        return [c.desc_nulls_last() if desc else c.asc_nulls_first()]
    return _order_cols(v, desc, columns)


def _order_cols(var: str, desc: bool, columns):
    """SPARQL §15.1 ordering as a component list for one key, made
    TOTAL (documented): unbound < blank < IRI < numeric literals by
    value < other literals by escaped lexical; full NT form breaks
    ties. DESC reverses the whole key (reversing each component of a
    lexicographic tuple reverses the tuple order)."""
    from pyspark.sql import functions as F

    if var not in columns:
        c = F.lit(None).cast("string")
    else:
        c = F.col(var)
    lex = _lex_col(c)
    num = lex.try_cast("double")
    rank = (
        F.when(c.isNull(), F.lit(0))
        .when(c.startswith("_:"), F.lit(1))
        .when(c.startswith("<"), F.lit(2))
        .when(num.isNotNull(), F.lit(3))
        .otherwise(F.lit(4))
    )
    comps = [rank, num, lex, c]
    if desc:
        return [x.desc_nulls_last() for x in comps]
    return [x.asc_nulls_first() for x in comps]


def parse_ask(query: str):
    """-> (group: Group, dataset: (from_iris, named_iris) | None)."""
    p = _Parser(query)
    p.parse_prefixes()
    p.expect_kw("ASK")
    dataset = _parse_dataset_clauses(p)
    kind, val = p.peek()
    if kind == "kw" and val.upper() == "WHERE":
        p.next()
    group = p.parse_group()
    kind, val = p.peek()
    if kind is not None:
        raise SparqlSyntaxError(f"unsupported trailing clause at {val!r}")
    return group, dataset


def sparql_select(triples: DataFrame, query: str) -> DataFrame:
    """SELECT text -> bindings DataFrame: one column per selected
    variable (bare name, NT lexical form) — the SelectResult keys of
    /root/reference/sparql/result.go."""
    return _select_frame(triples, parse_select(query))[0]


def _select_frame(triples: DataFrame, parts, graph_var: str | None = None):
    """Evaluate a parsed SELECT -> (frame, maybe_null_vars). Shared by
    the top-level entry point and '{ SELECT ... }' subquery elements
    (which need the null set for the compatibility-join guard).

    ``graph_var`` (a subquery under GRAPH ?g, §18.6): the subquery
    evaluates once per named graph — implemented with NO per-graph
    loop by threading the graph as one more binding column: BGPs bind
    it, GROUP BY gains it as an implicit leading key (aggregation is
    per graph; a graph with zero matching solutions contributes no
    row — documented divergence from the strict reading where e.g.
    COUNT would yield 0 for it), and ORDER/LIMIT/OFFSET become a
    row_number window partitioned by the graph — per-graph top-k, the
    shape that scales. A pure ORDER BY with no LIMIT/OFFSET is
    dropped (unobservable through the enclosing join per §18.5).

    Named-graph model: an optional nullable ``g_value`` column on the
    triples frame carries each row's graph IRI (NULL = default
    graph). With no FROM clause the active default graph is the
    g-NULL rows; FROM <g>... replaces it with the SET UNION of the
    named graphs (RDF merge — blank nodes are skolemized engine-wide,
    so union IS merge). The full quad frame plus the FROM NAMED
    restriction goes on _DATASET_CTX for GRAPH elements; a subquery
    (dataset None, ctx non-empty) inherits the outer dataset per
    §13.2. Frames without g_value behave exactly as before — no
    filter, no ctx."""
    from pyspark.sql import functions as F

    variables, group, distinct, limit, order, offset, group_by, having, \
        dataset = parts
    if graph_var is not None and dataset is not None:
        raise SparqlSyntaxError(
            "FROM / FROM NAMED inside a GRAPH ?var subquery is not "
            "supported"
        )
    with _dataset_scope(triples, dataset) as active:
        out, group_nulls, group_non_nt, _gmasks = _eval_group_impl(
            active, group, False, False, graph_var=graph_var
        )
    if graph_var is not None and (
        graph_var not in out.columns or graph_var in group_nulls
    ):
        raise SparqlSyntaxError(
            f"every branch of GRAPH ?{graph_var} needs a triple "
            "pattern binding the graph variable"
        )
    agg_null_aliases: set[str] = set()
    agg_non_nt: set[str] = set()
    internal = [c for c in out.columns if c.startswith(_PATH_VAR_PREFIX)]
    if internal:
        # path-sugar intermediates are not solution variables
        out = out.drop(*internal)
    aggs = [
        v for v in (variables or [])
        if isinstance(v, tuple) and v[0] == "agg"
    ]
    post_exprs = [
        v for v in (variables or [])
        if isinstance(v, tuple) and v[0] == "expr"
    ]
    # HAVING's inline aggregate calls ride as a hidden-agg marker at
    # the head of the constraint list (internal-prefix aliases —
    # computed with the projected aggregates, filtered on, never
    # selected)
    hidden_aggs: list = []
    if having and having[0][0] == "__hidden__":
        hidden_aggs = having[0][1]
        having = having[1:]
    if aggs or group_by:
        # GROUP BY + aggregates -> groupBy/agg. Documented semantics
        # subset: aggregate columns are NATIVE numerics (COUNT long,
        # SUM/AVG/MIN/MAX double over the lexical cast), not NT
        # strings; a non-numeric binding contributes NULL and is
        # skipped (error-eliminates-value, vs SPARQL's group error).
        if variables is None:
            raise SparqlSyntaxError(
                "SELECT * cannot combine with aggregates/GROUP BY"
            )
        plain = [v for v in variables if isinstance(v, str)]
        stray = [v for v in plain if v not in group_by]
        if stray:
            raise SparqlSyntaxError(
                f"non-aggregated SELECT vars must appear in GROUP BY: "
                f"{stray}"
            )
        needed = set(group_by)
        for a in aggs + hidden_aggs:
            if isinstance(a[2], tuple):
                needed |= _operand_vars(a[2])
            elif a[2] != "*":
                needed.add(a[2])
        missing = [v for v in sorted(needed) if v not in out.columns]
        if missing:
            raise SparqlSyntaxError(
                f"vars not bound in WHERE: {missing}"
            )

        def tgt_col(tgt):
            # expression target: the numeric value for numeric
            # expressions, the lexical otherwise (COUNT counts
            # non-error evaluations either way)
            info = _operand_info(tgt, out.columns)
            return info[2] if info[3] else info[1]

        exprs = []
        for _, fn, tgt, dist, alias, sep in aggs + hidden_aggs:
            if fn == "COUNT":
                if tgt == "*":
                    if dist:
                        raise SparqlSyntaxError(
                            "COUNT(DISTINCT *) is not supported"
                        )
                    e = F.count(F.lit(1))
                else:
                    c = tgt_col(tgt) if isinstance(tgt, tuple) else F.col(tgt)
                    e = F.count_distinct(c) if dist else F.count(c)
            elif fn == "GROUP_CONCAT":
                # SPARQL leaves the concatenation order undefined; we
                # make it DETERMINISTIC (sorted lexical forms) so the
                # result is stable across partitionings — documented
                # divergence, same spirit as G9's deterministic Get
                lex = _lex_col(F.col(tgt))
                collected = (
                    F.collect_set(lex) if dist else F.collect_list(lex)
                )
                e = F.array_join(F.array_sort(collected), sep)
            elif fn == "SAMPLE":
                # SAMPLE picks an arbitrary bound value; deterministic
                # choice = minimum NT form (stable across runs)
                e = F.min(F.col(tgt))
            else:
                if dist:
                    raise SparqlSyntaxError(
                        f"DISTINCT inside {fn} is not supported"
                    )
                num = (
                    _operand_info(tgt, out.columns)[2]
                    if isinstance(tgt, tuple)
                    else _lex_col(F.col(tgt)).try_cast("double")
                )
                e = {"SUM": F.sum, "AVG": F.avg,
                     "MIN": F.min, "MAX": F.max}[fn](num)
            exprs.append(e.alias(alias))
        # under GRAPH ?g the graph is an implicit leading group key:
        # aggregation happens within each named graph (§18.6)
        eff_group_by = (
            [graph_var] if graph_var is not None else []
        ) + list(group_by)
        if not exprs:
            # GROUP BY with no aggregate projections: grouped
            # projection == distinct over the group keys
            out = out.select(*eff_group_by).dropDuplicates()
        else:
            out = (
                out.groupBy(*eff_group_by).agg(*exprs)
                if eff_group_by
                else out.agg(*exprs)
            )
        for h in having:
            # aggregate aliases are native numerics — mark them so
            # the filter evaluator compares values, not NT forms
            out = out.where(
                _expr_col(h, out.columns,
                          frozenset(a[4] for a in aggs + hidden_aggs
                                    if a[1] not in
                                    ("GROUP_CONCAT", "SAMPLE")))
            )
        if hidden_aggs:
            out = out.drop(*[a[4] for a in hidden_aggs])
        # post-aggregation Extend (§18.2.4.2): projection expressions
        # over the aggregated frame — only GROUP BY keys and agg
        # aliases are in scope. Numeric expressions come out as
        # NATIVE numeric columns (like the aggregates they derive
        # from); string expressions as plain-literal NT forms
        expr_non_nt: set[str] = set()
        expr_nulls: set[str] = set()
        if post_exprs:
            native_numeric = frozenset(
                a[4] for a in aggs
                if a[1] not in ("GROUP_CONCAT", "SAMPLE")
            )
            avail = set(group_by) | {a[4] for a in aggs}
            for _, opnode, alias in post_exprs:
                bad = sorted(_operand_vars(opnode) - avail)
                if bad:
                    raise SparqlSyntaxError(
                        f"projection expression references {bad}: only "
                        "GROUP BY keys and aggregate aliases are in "
                        "scope after aggregation"
                    )
                nt, lex, num, numeric = _operand_info(
                    opnode, out.columns, native_numeric
                )
                if numeric:
                    out = out.withColumn(alias, num)
                    expr_non_nt.add(alias)
                elif nt is not None:
                    out = out.withColumn(alias, nt)
                else:
                    out = out.withColumn(
                        alias, F.concat(F.lit('"'), lex, F.lit('"'))
                    )
                # the expression may be NULL (error) — conservative
                expr_nulls.add(alias)
        sel = [
            v if isinstance(v, str) else v[4] if v[0] == "agg" else v[2]
            for v in variables
        ]
        if graph_var is not None:
            sel = [graph_var] + sel
        out = out.select(*sel)
        # COUNT and GROUP_CONCAT never yield NULL for an existing
        # group; the numeric aggs do whenever every contribution is
        # non-numeric; SAMPLE (min NT form) when its target can be
        # unbound within a group — or for an UNGROUPED aggregate,
        # whose single .agg() row is all-NULL on an empty pattern
        agg_null_aliases = set()
        for a in aggs:
            if a[1] in ("COUNT", "GROUP_CONCAT"):
                continue
            if a[1] == "SAMPLE":
                if a[2] in group_nulls or not group_by:
                    agg_null_aliases.add(a[4])
            else:
                agg_null_aliases.add(a[4])
        # every aggregate except SAMPLE (min NT form, a real NT
        # string) produces a NON-NT value: numerics, or
        # GROUP_CONCAT's bare concatenated lexical — callers must
        # not equi-join them against NT bindings
        agg_non_nt = {a[4] for a in aggs if a[1] != "SAMPLE"} | expr_non_nt
        agg_null_aliases |= expr_nulls
        variables = None  # projection done
    elif having:
        raise SparqlSyntaxError("HAVING needs GROUP BY / aggregates")
    if distinct:
        out = out.dropDuplicates()
    if variables is not None:
        missing = [v for v in variables if v not in out.columns]
        if missing:
            raise SparqlSyntaxError(f"SELECT vars not bound in WHERE: {missing}")
        if distinct:
            # spec order: project -> DISTINCT -> ORDER (the sort keys
            # must survive the dedup, i.e. be selected)
            unsel = sorted(
                v
                for key in order
                for v in _order_key_vars(key)
                if v not in variables
            )
            if unsel:
                raise SparqlSyntaxError(
                    f"ORDER BY over non-selected vars with DISTINCT: {unsel}"
                )
            out = out.select(
                *([graph_var] if graph_var is not None else []),
                *variables,
            ).dropDuplicates()
            variables = None  # already projected
    if graph_var is not None and (limit is not None or offset):
        # per-graph slice (§18.6): ORDER/LIMIT/OFFSET apply within
        # each named graph — a row_number window partitioned by the
        # graph var, NOT a per-graph loop or a global sort
        from pyspark.sql import Window

        dtypes = dict(out.dtypes)
        cols = []
        for key in order:
            cols.extend(_order_key_cols(key, out.columns, dtypes))
        if not cols:
            # LIMIT without ORDER BY: any subset is spec-valid — pick
            # deterministically by ordering on all binding columns
            cols = [
                F.col(c) for c in sorted(_binding_vars(out.columns))
            ]
        rn_col = _PATH_VAR_PREFIX + "rn"
        out = out.withColumn(
            rn_col,
            F.row_number().over(
                Window.partitionBy(graph_var).orderBy(*cols)
            ),
        )
        lo = offset or 0
        cond = F.col(rn_col) > lo
        if limit is not None:
            cond = cond & (F.col(rn_col) <= lo + limit)
        out = out.where(cond).drop(rn_col)
    elif graph_var is None:
        if order:
            dtypes = dict(out.dtypes)
            cols = []
            for key in order:
                cols.extend(_order_key_cols(key, out.columns, dtypes))
            out = out.orderBy(*cols)
        # non-DISTINCT: ORDER BY may reference non-selected vars, so
        # projection stays after sort+limit (limit-after-sort keeps
        # the plan a top-k TakeOrderedAndProject, not a global sort)
        if offset:
            out = out.offset(offset)
        if limit is not None:
            out = out.limit(limit)
    # (graph_var set, no slice: a bare ORDER BY is unobservable
    # through the enclosing join — dropped)
    if variables is not None:
        out = out.select(
            *([graph_var] if graph_var is not None else []),
            *variables,
        )
    return (
        out,
        (group_nulls & set(out.columns)) | agg_null_aliases,
        (group_non_nt & set(out.columns)) | agg_non_nt,
    )


def sparql_ask(triples: DataFrame, query: str) -> bool:
    """ASK text -> bool (sparqlservice.go:57-70 semantics); FROM /
    FROM NAMED / GRAPH supported as in SELECT (round 5)."""
    group, dataset = parse_ask(query)
    with _dataset_scope(triples, dataset) as active:
        return eval_group(active, group).limit(1).count() > 0


# ---------------------------------------------------------------------------
# SPARQL 1.1 Update (native subset — the reference only ships Update
# text to an endpoint, sparqlservice.go Update(); here the graph IS a
# DataFrame, so updates are functional: each operation returns a new
# triples frame)
# ---------------------------------------------------------------------------

_CANON_COLS = [
    "s_kind", "s_value", "p_value", "o_kind", "o_value", "o_lang", "o_dt"
]

_QUAD_COLS = _CANON_COLS + ["g_value"]


def _group_to_quads(g: "Group", what: str, allow_bnodes: bool = False):
    """A parsed template group -> list of quads ``(s, p, o, g)``:
    ``g`` is None for the default graph (rebound to the WITH graph at
    execution), an IRI string for ``GRAPH <g> { ... }`` blocks, or a
    ``?var`` from ``GRAPH ?g { ... }``. Filters, nested forms and
    property paths raise. ``allow_bnodes`` (INSERT templates, spec
    §19.6): template blank-node labels pass through as their internal
    ``__pathbn_`` variables and instantiate fresh-per-solution;
    DELETE templates reject them per spec."""
    if g.filters:
        raise SparqlSyntaxError(
            f"{what} template must be a plain triple block"
        )
    quads: list[tuple] = []
    for kind, payload in g.elements:
        if kind == "bgp":
            quads.extend((s, pp, o, None) for s, pp, o in payload)
        elif kind == "graph":
            gterm, gsub = payload
            if gsub.filters or any(
                k != "bgp" for k, _ in gsub.elements
            ):
                raise SparqlSyntaxError(
                    f"GRAPH block in a {what} template must be a "
                    "plain triple block"
                )
            quads.extend(
                (s, pp, o, gterm)
                for _, pats in gsub.elements
                for s, pp, o in pats
            )
        else:
            raise SparqlSyntaxError(
                f"{what} template must be a plain triple block"
            )
    bn = "?" + _PATH_VAR_PREFIX + "bn_"
    for q4 in quads:
        for t in q4[:3]:
            if not (isinstance(t, str)
                    and t.startswith("?" + _PATH_VAR_PREFIX)):
                continue
            if t.startswith(bn):
                if not allow_bnodes:
                    raise SparqlSyntaxError(
                        f"blank nodes are not allowed in a {what} "
                        "template (spec §19.6 — they only generate "
                        "in INSERT/CONSTRUCT templates)"
                    )
            else:
                raise SparqlSyntaxError(
                    f"property paths in a {what} template are "
                    "not supported"
                )
    return quads


def _update_template(p: "_Parser", what: str, allow_bnodes: bool = False):
    """A '{ ... }' template block for Update -> quads (see
    ``_group_to_quads``)."""
    return _group_to_quads(p.parse_group(), what, allow_bnodes)


def _parse_using(p: "_Parser"):
    """``USING <g>`` / ``USING NAMED <g>`` clauses (§3.1.3, the
    Update twin of FROM / FROM NAMED) -> (default_iris, named_iris)
    or None when absent."""
    default_iris: list[str] = []
    named_iris: list[str] = []
    while True:
        kind, val = p.peek()
        if not (kind == "kw" and val.upper() == "USING"):
            break
        p.next()
        k2, v2 = p.peek()
        named = k2 == "kw" and v2.upper() == "NAMED"
        if named:
            p.next()
        t = p.parse_term("s")
        if not isinstance(t, str) or t.startswith("?"):
            raise SparqlSyntaxError("USING needs an IRI")
        (named_iris if named else default_iris).append(t)
    if default_iris or named_iris:
        return (default_iris, named_iris)
    return None


def _maybe_silent(p: "_Parser") -> bool:
    kind, val = p.peek()
    if kind == "kw" and val.upper() == "SILENT":
        p.next()
        return True
    return False


def _graph_ref(p: "_Parser", *, management: str):
    """GraphRef for CLEAR/DROP (§3.2.2): GRAPH <iri> | DEFAULT |
    NAMED | ALL -> ("graph", iri) | "default" | "named" | "all"."""
    kind, val = p.peek()
    w = val.upper() if kind == "kw" else ""
    if w == "GRAPH":
        p.next()
        t = p.parse_term("s")
        if not isinstance(t, str) or t.startswith("?"):
            raise SparqlSyntaxError(f"{management} GRAPH needs an IRI")
        return ("graph", t)
    if w in ("DEFAULT", "NAMED", "ALL"):
        p.next()
        return w.lower()
    raise SparqlSyntaxError(
        f"{management} takes GRAPH <iri> | DEFAULT | NAMED | ALL"
    )


def _graph_or_default(p: "_Parser", *, management: str):
    """GraphOrDefault for ADD/MOVE/COPY (§3.2.3): DEFAULT | GRAPH?
    <iri> -> ("graph", iri) | "default"."""
    kind, val = p.peek()
    if kind == "kw" and val.upper() == "DEFAULT":
        p.next()
        return "default"
    if kind == "kw" and val.upper() == "GRAPH":
        p.next()
    t = p.parse_term("s")
    if not isinstance(t, str) or t.startswith("?"):
        raise SparqlSyntaxError(f"{management} needs an IRI or DEFAULT")
    return ("graph", t)


def parse_update(query: str) -> list[tuple]:
    """-> list of operations, each one of::

        ("data", is_delete, [(s, p, o, g) constant quads])
        ("modify", delete_tmpl | None, insert_tmpl | None, Group,
         with_iri | None, using | None)
        ("clear", target, silent)        # CLEAR and DROP (see note)
        ("create", iri, silent)          # recorded no-op
        ("xfer", "add" | "copy" | "move", src, dst, silent)

    Grammar: ``INSERT DATA`` / ``DELETE DATA`` (quad blocks with
    ``GRAPH <g> { ... }``), ``DELETE WHERE`` (the quad pattern
    doubles as the template, §3.1.3.2), ``WITH <g>``? ``(DELETE
    { tmpl })? (INSERT { tmpl })? USING... WHERE { pattern }``, and
    the graph-management ops ``CLEAR`` / ``DROP`` / ``CREATE`` /
    ``ADD`` / ``MOVE`` / ``COPY`` (targets per §3.2.2-3.2.3),
    chained with ``;``. CLEAR and DROP are the same operation here —
    this store does not record empty graphs (documented divergence:
    DROP of a MISSING named graph without SILENT raises, matching
    §3.2.2's SHOULD). Not covered: LOAD (network I/O belongs to the
    CLI source layer, cli.py)."""
    p = _Parser(query)
    p.parse_prefixes()
    ops: list[tuple] = []
    while True:
        kind, val = p.peek()
        if kind is None:
            break
        w = val.upper() if kind == "kw" else ""
        with_iri = None
        if w == "WITH":
            # §3.1.3: names the template target graph AND (absent
            # USING) the WHERE clause's active default graph
            p.next()
            t = p.parse_term("s")
            if not isinstance(t, str) or t.startswith("?"):
                raise SparqlSyntaxError("WITH needs an IRI")
            with_iri = t
            kind, val = p.peek()
            w = val.upper() if kind == "kw" else ""
            if w not in ("INSERT", "DELETE"):
                raise SparqlSyntaxError(
                    "WITH must precede a DELETE/INSERT operation"
                )
        if w == "INSERT":
            p.next()
            k2, v2 = p.peek()
            if k2 == "kw" and v2.upper() == "DATA":
                if with_iri is not None:
                    raise SparqlSyntaxError(
                        "WITH is not allowed on INSERT DATA (use a "
                        "GRAPH block in the data)"
                    )
                p.next()
                ops.append(("data", False, _update_template(p, "INSERT DATA")))
            else:
                tmpl = _update_template(p, "INSERT", allow_bnodes=True)
                using = _parse_using(p)
                p.expect_kw("WHERE")
                ops.append(
                    ("modify", None, tmpl, p.parse_group(), with_iri, using)
                )
        elif w == "DELETE":
            p.next()
            k2, v2 = p.peek()
            if k2 == "kw" and v2.upper() == "DATA":
                if with_iri is not None:
                    raise SparqlSyntaxError(
                        "WITH is not allowed on DELETE DATA (use a "
                        "GRAPH block in the data)"
                    )
                p.next()
                ops.append(("data", True, _update_template(p, "DELETE DATA")))
            elif k2 == "kw" and v2.upper() == "WHERE":
                # DELETE WHERE: the quad pattern IS the template
                p.next()
                g = p.parse_group()
                tmpl = _group_to_quads(g, "DELETE WHERE")
                ops.append(("modify", tmpl, None, g, with_iri, None))
            else:
                del_tmpl = _update_template(p, "DELETE")
                ins_tmpl = None
                k3, v3 = p.peek()
                if k3 == "kw" and v3.upper() == "INSERT":
                    p.next()
                    ins_tmpl = _update_template(
                        p, "INSERT", allow_bnodes=True
                    )
                using = _parse_using(p)
                p.expect_kw("WHERE")
                ops.append(
                    ("modify", del_tmpl, ins_tmpl, p.parse_group(),
                     with_iri, using)
                )
        elif w in ("CLEAR", "DROP"):
            p.next()
            silent = _maybe_silent(p)
            ops.append(("clear", _graph_ref(p, management=w), silent))
        elif w == "CREATE":
            p.next()
            silent = _maybe_silent(p)
            p.expect_kw("GRAPH")
            t = p.parse_term("s")
            if not isinstance(t, str) or t.startswith("?"):
                raise SparqlSyntaxError("CREATE GRAPH needs an IRI")
            ops.append(("create", t, silent))
        elif w in ("ADD", "MOVE", "COPY"):
            p.next()
            silent = _maybe_silent(p)
            src = _graph_or_default(p, management=w)
            p.expect_kw("TO")
            dst = _graph_or_default(p, management=w)
            ops.append(("xfer", w.lower(), src, dst, silent))
        elif w == "LOAD":
            # §3.1.4: LOAD (SILENT)? <doc> (INTO GRAPH <g>)? — the
            # document is read through the rdf CLI's format registry
            # (extension/MIME dispatch, http(s) fetch, quarantine)
            p.next()
            silent = _maybe_silent(p)
            t = p.parse_term("s")
            if not isinstance(t, str) or t.startswith("?"):
                raise SparqlSyntaxError("LOAD needs a document IRI")
            into = None
            k2, v2 = p.peek()
            if k2 == "kw" and v2.upper() == "INTO":
                p.next()
                p.expect_kw("GRAPH")
                gi = p.parse_term("s")
                if not isinstance(gi, str) or gi.startswith("?"):
                    raise SparqlSyntaxError("INTO GRAPH needs an IRI")
                into = gi
            ops.append(("load", t, into, silent))
        else:
            raise SparqlSyntaxError(f"unsupported update operation {val!r}")
        if p.peek() == ("punct", ";"):
            p.next()
            continue
        kind, val = p.peek()
        if kind is not None:
            raise SparqlSyntaxError(f"unexpected {val!r} after update op")
    if not ops:
        raise SparqlSyntaxError("empty update request")
    return ops


def _const_triples_frame(spark, template, quads: bool = False) -> DataFrame:
    """Constant template quads -> canonical frame (driver-side
    literal rows — DATA blocks are by definition enumerable text).
    With ``quads`` the frame carries ``g_value`` (NULL = default
    graph); the graph slot of a DATA quad must be a constant IRI."""
    from argo_spark.terms import KIND_IRI

    rows = []
    for s, p_, o, g in template:
        for t in (s, p_, o, g):
            if isinstance(t, str) and t.startswith("?"):
                raise SparqlSyntaxError(
                    "DATA blocks take constant triples (no variables)"
                )
        if isinstance(s, Term):
            raise SparqlSyntaxError("literal in subject position")
        o_term = o if isinstance(o, Term) else None
        row = (
            int(KIND_IRI),
            s,
            p_,
            int(o_term.kind) if o_term else int(KIND_IRI),
            o_term.value if o_term else o,
            (o_term.lang or None) if o_term else None,
            o_term.dt if o_term else None,
        )
        rows.append(row + (g,) if quads else row)
    schema = (
        "s_kind tinyint, s_value string, p_value string, o_kind tinyint, "
        "o_value string, o_lang string, o_dt string"
    )
    if quads:
        schema += ", g_value string"
    return local_frame(spark, rows, schema)


def _graph_minus(triples: DataFrame, gone: DataFrame, cols=None) -> DataFrame:
    """Null-safe anti-join on the canonical columns (removes ALL
    copies of each matched triple — RDF Update is set-semantic even
    though the store keeps bag multiplicity, documented)."""
    from pyspark.sql import functions as F

    cols = cols or _CANON_COLS
    left = triples.alias("l")
    right = gone.select(*cols).dropDuplicates().alias("r")
    cond = [
        F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")) for c in cols
    ]
    return left.join(right, on=cond, how="left_anti")


def _graph_plus(triples: DataFrame, new: DataFrame, cols=None) -> DataFrame:
    """Set-semantic insert: add each NEW triple once, leave existing
    multiplicity untouched (the closest embedding of RDF Update's
    set semantics in this bag-multiplicity store)."""
    from pyspark.sql import functions as F

    cols = cols or _CANON_COLS
    fresh = new.select(*cols).dropDuplicates()
    left = fresh.alias("l")
    right = triples.select(*cols).dropDuplicates().alias("r")
    cond = [
        F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")) for c in cols
    ]
    fresh = left.join(right, on=cond, how="left_anti")
    return triples.select(*cols).unionByName(fresh)


def _load_document_frame(spark, src: str) -> DataFrame:
    """LOAD's document reader: the rdf CLI's ``parse_http`` for an
    http(s) IRI (fetched driver-side, the temp file removed after the
    read) and its ``read_checkpointed`` for a ``file://`` IRI or a
    plain path; format dispatch and quarantine come from its registry.
    Either parses the document once, into a checkpoint that outlives
    the file. A document with ANY parse error fails the operation
    (§3.1.4 — SILENT at the call site turns that into a no-op)."""
    import urllib.parse as _up

    from argo_spark.cli import parse_http, read_checkpointed

    if src.startswith(("http://", "https://")):
        df, errors = parse_http(spark, src)
    else:
        path = (
            _up.unquote(_up.urlparse(src).path)
            if src.startswith("file://")
            else src
        )
        df, errors = read_checkpointed(spark, path)
    first = None if errors is None else errors.select("error").first()
    if first is not None:
        raise ValueError(
            f"LOAD <{src}>: document has parse errors "
            f"(first: {first.error!r})"
        )
    return df


def _op_touches_graphs(op) -> bool:
    """True when an update op syntactically references named graphs
    (decides quad-mode OUTPUT for a g-less input frame — static, no
    data scan)."""
    kind = op[0]
    if kind == "data":
        return any(q[3] is not None for q in op[2])
    if kind == "modify":
        _, del_tmpl, ins_tmpl, _group, with_iri, using = op
        return (
            with_iri is not None
            or using is not None
            or any(
                q[3] is not None
                for q in (del_tmpl or []) + (ins_tmpl or [])
            )
        )
    if kind == "load":
        return op[2] is not None  # INTO GRAPH <g>
    return kind in ("clear", "create", "xfer")


def _g_keep_pred(target):
    """Rows that SURVIVE removing ``target``'s graph(s) (§3.2.2
    GraphRef). NULL g_value = default graph, so negations must keep
    NULL rows explicitly."""
    from pyspark.sql import functions as F

    g = F.col("g_value")
    if target == "default":
        return g.isNotNull()
    if target == "named":
        return g.isNull()
    if target == "all":
        return F.lit(False)
    return g.isNull() | (g != target[1])


def _graph_exists_or_raise(quads, target, silent, what):
    """§3.2.2-3.2.3: operating on a MISSING named graph is an error
    unless SILENT. One scalar driver-side probe per management op."""
    from pyspark.sql import functions as F

    if silent or not isinstance(target, tuple):
        return
    if quads.where(F.col("g_value") == target[1]).limit(1).count() == 0:
        raise ValueError(
            f"{what}: graph <{target[1]}> does not exist (use SILENT "
            "to ignore)"
        )


def _xfer_graph(quads, kind, src, dst, silent) -> DataFrame:
    """ADD / COPY / MOVE (§3.2.3-3.2.5) over the quad frame. Same
    source and destination is a no-op per spec."""
    from pyspark.sql import functions as F

    if src == dst:
        return quads
    _graph_exists_or_raise(quads, src, silent, kind.upper())
    src_pred = ~_g_keep_pred(src) if src != "default" else F.col(
        "g_value").isNull()
    dst_iri = dst[1] if isinstance(dst, tuple) else None
    moved = quads.where(src_pred).withColumn(
        "g_value", F.lit(dst_iri).cast("string")
    )
    if kind == "add":
        # set-semantic insert of src's data into dst
        return _graph_plus(quads, moved, _QUAD_COLS)
    kept = quads.where(_g_keep_pred(dst if isinstance(dst, tuple)
                                    else "default"))
    if kind == "move":
        kept = kept.where(_g_keep_pred(src))
    # COPY/MOVE drop dst wholesale then land src's rows (bag
    # multiplicity preserved — the graph is copied as-is)
    return kept.unionByName(moved)


def sparql_update(triples: DataFrame, update: str) -> DataFrame:
    """Apply a SPARQL 1.1 Update request to a triples/quads frame
    and return the NEW frame (functional — same style as
    TripleGraph's add/remove). Operations chained with ';' apply
    left to right, each seeing the previous one's result; within one
    DELETE/INSERT WHERE both templates are instantiated against the
    SAME pre-state solutions and deletes apply before inserts (spec
    §3.1.3). Graph-aware: a frame carrying ``g_value`` is an RDF
    dataset (NULL = default graph) and the full quad grammar applies
    (GRAPH blocks, WITH, USING, CLEAR/DROP/CREATE/ADD/MOVE/COPY). A
    g-less input stays g-less unless the request references named
    graphs, in which case the result carries ``g_value``."""
    from pyspark.sql import functions as F

    ops = parse_update(update)
    has_g = "g_value" in triples.columns
    quad_mode = has_g or any(_op_touches_graphs(op) for op in ops)
    cols = _QUAD_COLS if quad_mode else _CANON_COLS
    if quad_mode and not has_g:
        triples = triples.select(*_CANON_COLS).withColumn(
            "g_value", F.lit(None).cast("string")
        )
    else:
        triples = triples.select(*cols)
    for op in ops:
        if op[0] == "data":
            _, is_delete, template = op
            const = _const_triples_frame(
                triples.sparkSession, template, quads=quad_mode
            )
            triples = (
                _graph_minus(triples, const, cols)
                if is_delete
                else _graph_plus(triples, const, cols)
            )
        elif op[0] == "modify":
            _, del_tmpl, ins_tmpl, group, with_iri, using = op
            # §3.1.3: USING builds the WHERE dataset; absent USING,
            # WITH names the active default graph (neither is set on
            # a triple-mode request, whose g-less frame resolves to
            # itself)
            dataset = (
                using if using is not None
                else (([with_iri], []) if with_iri else None)
            )
            with _dataset_scope(triples, dataset) as active:
                gone = (
                    _instantiate_template(
                        active, del_tmpl, group,
                        quads=quad_mode, default_g=with_iri,
                    )
                    if del_tmpl
                    else None
                )
                new = (
                    _instantiate_template(
                        active, ins_tmpl, group,
                        quads=quad_mode, default_g=with_iri,
                    )
                    if ins_tmpl
                    else None
                )
            if gone is not None:
                triples = _graph_minus(triples, gone, cols)
            if new is not None:
                triples = _graph_plus(triples, new, cols)
        elif op[0] == "clear":
            _, target, silent = op
            _graph_exists_or_raise(triples, target, silent, "CLEAR/DROP")
            triples = triples.where(_g_keep_pred(target))
        elif op[0] == "create":
            # empty graphs are not recorded in this store (quad rows
            # ARE the graphs) — CREATE validates syntax and no-ops
            pass
        elif op[0] == "load":
            _, src, into, silent = op
            try:
                loaded = _load_document_frame(
                    triples.sparkSession, src
                )
            except Exception:
                if silent:
                    continue
                raise
            if quad_mode:
                if into is not None:
                    # INTO flattens the source (dataset or graph)
                    # into the one target graph per §3.1.4
                    loaded = loaded.select(*_CANON_COLS).withColumn(
                        "g_value", F.lit(into).cast("string")
                    )
                elif "g_value" not in loaded.columns:
                    loaded = loaded.withColumn(
                        "g_value", F.lit(None).cast("string")
                    )
            else:
                # triple-mode request: a quad source (.nq) flattens
                # into the default graph (documented)
                loaded = loaded.select(*_CANON_COLS)
            triples = _graph_plus(triples, loaded, cols)
        else:
            _, kind, src, dst, silent = op
            triples = _xfer_graph(triples, kind, src, dst, silent)
    return triples
