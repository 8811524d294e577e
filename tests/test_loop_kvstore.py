"""loop interpreter (loop.go:66-207) semantics."""

from __future__ import annotations

import pytest

from argo_spark.namespaces import NAMESPACES, RDF, RDF_TYPE
from argo_spark.ops.loop import (
    LOOP,
    LoopError,
    LoopInterpreter,
    Resource,
    run_loop,
)
from argo_spark.terms import Term, TripleT, blank, iri, literal

XSD = NAMESPACES["xsd"]


def xsd_lit(v, t):
    return literal(v, dt=XSD + t)


# ---------------------------------------------------------------------------
# loop
# ---------------------------------------------------------------------------

def test_literal_typing():
    it = LoopInterpreter(prefixes={"s": "http://schema.org/"})
    assert it.evaluate(xsd_lit("true", "boolean")) is True
    assert it.evaluate(xsd_lit("0", "boolean")) is False
    assert it.evaluate(xsd_lit("aGk=", "base64Binary")) == b"hi"
    assert it.evaluate(xsd_lit("6869", "hexBinary")) == b"hi"
    assert it.evaluate(xsd_lit("6.5", "double")) == 6.5
    assert it.evaluate(xsd_lit("42", "positiveInteger")) == 42
    assert it.evaluate(xsd_lit("x:y", "anyURI")) == Resource(iri("x:y"))
    assert it.evaluate(xsd_lit("s:name", "QName")) == Resource(
        iri("http://schema.org/name")
    )
    assert it.evaluate(literal("plain")) == "plain"
    assert it.evaluate(literal("salut", lang="fr")) == "salut"
    with pytest.raises(LoopError):
        it.evaluate(xsd_lit("maybe", "boolean"))
    with pytest.raises(LoopError):
        it.evaluate(xsd_lit("p:x", "QName"))  # undeclared prefix


def _add_program():
    """The reference's runloop/test.rdf program: loop:Add(3, 6.1)."""
    root = iri("http://example.org/add")
    return [
        TripleT(root, iri(RDF_TYPE), iri(LOOP + "Add")),
        TripleT(root, iri(LOOP + "a"), xsd_lit("3", "positiveInteger")),
        TripleT(root, iri(LOOP + "b"), xsd_lit("6.1", "float")),
        TripleT(iri(LOOP + "Add"), iri(RDF_TYPE), iri(LOOP + "Function")),
    ], root


def test_builtin_add_reference_program():
    trips, root = _add_program()
    it = LoopInterpreter(trips)
    assert it.evaluate(root) == pytest.approx(9.1)


def test_builtin_add_int_int_and_errors():
    root = iri("http://e/r")
    it = LoopInterpreter(
        [
            TripleT(root, iri(RDF_TYPE), iri(LOOP + "Add")),
            TripleT(root, iri(LOOP + "a"), xsd_lit("2", "integer")),
            TripleT(root, iri(LOOP + "b"), xsd_lit("40", "integer")),
            TripleT(iri(LOOP + "Add"), iri(RDF_TYPE), iri(LOOP + "Function")),
        ]
    )
    v = it.evaluate(root)
    assert v == 42 and isinstance(v, int)

    bad = LoopInterpreter(
        [
            TripleT(root, iri(RDF_TYPE), iri(LOOP + "Add")),
            TripleT(root, iri(LOOP + "a"), literal("nope")),
            TripleT(root, iri(LOOP + "b"), xsd_lit("1", "integer")),
            TripleT(iri(LOOP + "Add"), iri(RDF_TYPE), iri(LOOP + "Function")),
        ]
    )
    with pytest.raises(LoopError):
        bad.evaluate(root)


def test_user_function_code_list_and_variables():
    """fn(x) { x ; Add(x, 1) } called with x=41 -> 42 (last value of
    the loop:code list wins; arguments bind into the sub-context)."""
    fn = iri("http://e/fn")
    call = iri("http://e/call")
    argp = "http://e/arg/x"
    l1, l2 = blank("l1"), blank("l2")
    add = blank("addexpr")
    trips = [
        # the function and its body list
        TripleT(fn, iri(RDF_TYPE), iri(LOOP + "Function")),
        TripleT(fn, iri(LOOP + "code"), l1),
        TripleT(l1, iri(RDF + "first"), iri(argp)),
        TripleT(l1, iri(RDF + "rest"), l2),
        TripleT(l2, iri(RDF + "first"), add),
        TripleT(l2, iri(RDF + "rest"), iri(RDF + "nil")),
        # the body references the argument as a loop:Variable
        TripleT(iri(argp), iri(RDF_TYPE), iri(LOOP + "Argument")),
        TripleT(add, iri(RDF_TYPE), iri(LOOP + "Add")),
        TripleT(add, iri(LOOP + "a"), iri(argp)),
        TripleT(add, iri(LOOP + "b"), xsd_lit("1", "integer")),
        TripleT(iri(LOOP + "Add"), iri(RDF_TYPE), iri(LOOP + "Function")),
        # the call site: type = fn, argument property = x value
        TripleT(call, iri(RDF_TYPE), fn),
        TripleT(call, iri(argp), xsd_lit("41", "integer")),
    ]
    it = LoopInterpreter(trips)
    assert it.evaluate(call) == 42


def test_by_reference_argument():
    fn = iri("http://e/fn2")
    call = iri("http://e/call2")
    argp = "http://e/arg/r"
    l1 = blank("c1")
    trips = [
        TripleT(fn, iri(RDF_TYPE), iri(LOOP + "Function")),
        TripleT(fn, iri(LOOP + "code"), l1),
        TripleT(l1, iri(RDF + "first"), iri(argp)),
        TripleT(l1, iri(RDF + "rest"), iri(RDF + "nil")),
        TripleT(iri(argp), iri(RDF_TYPE), iri(LOOP + "Argument")),
        TripleT(iri(argp), iri(LOOP + "byReference"), xsd_lit("true", "boolean")),
        TripleT(call, iri(RDF_TYPE), fn),
        TripleT(call, iri(argp), iri("http://e/target")),
    ]
    it = LoopInterpreter(trips)
    # byReference: the argument arrives unevaluated
    assert it.evaluate(call) == Resource(iri("http://e/target"))


def test_unset_variable_and_plain_resource():
    v = iri("http://e/v")
    it = LoopInterpreter([TripleT(v, iri(RDF_TYPE), iri(LOOP + "Variable"))])
    with pytest.raises(LoopError, match="unset variable"):
        it.evaluate(v)
    assert it.evaluate(iri("http://e/other")) == Resource(iri("http://e/other"))


def test_fetcher_injection():
    """Unknown IRIs are fetched via the injected fetcher and merged
    (loop.go:57-66 ParseHTTP parity, no network)."""
    doc = (
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        f'xmlns:loop="{LOOP}">'
        '<loop:Function rdf:about="http://kierdavis.com/data/vocab/loop/Add"/>'
        "</rdf:RDF>"
    )
    fetched = []

    def fetcher(url):
        fetched.append(url)
        return doc

    root = iri("http://example.org/add")
    trips = [
        TripleT(root, iri(RDF_TYPE), iri(LOOP + "Add")),
        TripleT(root, iri(LOOP + "a"), xsd_lit("1", "integer")),
        TripleT(root, iri(LOOP + "b"), xsd_lit("2", "integer")),
        # note: NO local type triple for loop:Add — it must be fetched
    ]
    it = LoopInterpreter(trips, fetcher=fetcher)
    assert it.evaluate(root) == 3
    assert LOOP + "Add" in fetched


def test_run_loop_from_rdfxml(spark, tmp_path):
    """runloop equivalent over the reference test program
    (loop/runloop/test.rdf with prefixes declared — the original's
    rdfs prefix is undeclared, an XML validity quirk)."""
    doc = (
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        f'xmlns:loop="{LOOP}">'
        '<loop:Add rdf:about="http://example.org/add">'
        '<loop:a rdf:datatype="http://www.w3.org/2001/XMLSchema#positiveInteger">3</loop:a>'
        '<loop:b rdf:datatype="http://www.w3.org/2001/XMLSchema#float">6.1</loop:b>'
        "</loop:Add>"
        f'<loop:Function rdf:about="{LOOP}Add"/>'
        "</rdf:RDF>"
    )
    f = tmp_path / "prog.rdf"
    f.write_text(doc)
    assert run_loop(spark, str(f), "http://example.org/add") == pytest.approx(9.1)
