"""loopc compiler (ops/loopc.py) vs the reference loop/loopc —
structure checks on a fixture rebuilt from the reference's
loopc/test.loop (``data/loopc_test.loop``) and an end-to-end
compile→evaluate run through the loop interpreter."""

from __future__ import annotations

from pathlib import Path

import pytest

from argo_spark.ops.loop import LoopInterpreter
from argo_spark.ops.loopc import (
    LOOP,
    LoopcSyntaxError,
    compile_loop,
    compile_loop_nt,
)
from argo_spark.terms import KIND_BLANK, KIND_IRI, KIND_LITERAL, iri

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
XSD = "http://www.w3.org/2001/XMLSchema#"

DATA = Path(__file__).parent / "data"
REFERENCE_FIXTURE = (DATA / "loopc_test.loop").read_text()


def _spo(triples):
    return {
        (t.s.kind, t.s.value, t.p.value, t.o.kind, t.o.value, t.o.lang, t.o.dt)
        for t in triples
    }


def test_compiles_reference_fixture_structure():
    """loopc/test.loop: name decls, a no-arg func, a one-arg func with
    type+bag, an 'of' statement, and a named-args call."""
    triples = compile_loop(REFERENCE_FIXTURE)
    spo = _spo(triples)
    nop = "http://kierdavis.com/data/opencpu/nmicro/inst/nop/impl"
    ldi = "http://kierdavis.com/data/opencpu/nmicro/inst/ldi/impl"
    arg_i = ldi + "/arg/i"

    # functions declared
    assert (0, nop, RDF + "type", 0, LOOP + "Function", None, None) in spo
    assert (0, ldi, RDF + "type", 0, LOOP + "Function", None, None) in spo
    # nop body: label po-pair, no args bag, no code list
    assert (0, nop, RDFS + "label", 2,
            "Implementation of NOP instruction", None, None) in spo
    assert not any(s == nop and p == LOOP + "args" for _, s, p, *_ in spo)
    assert not any(s == nop and p == LOOP + "code" for _, s, p, *_ in spo)

    # ldi arg: minted URI, loop:Argument, restrictType Integer, rdf:_1 bag
    assert (0, arg_i, RDF + "type", 0, LOOP + "Argument", None, None) in spo
    assert (0, arg_i, LOOP + "restrictType", 0, LOOP + "Integer", None, None) in spo
    bag = [t.o for t in triples if t.s.value == ldi and t.p.value == LOOP + "args"]
    assert len(bag) == 1 and bag[0].kind == KIND_BLANK
    assert (1, bag[0].value, RDF + "_1", 0, arg_i, None, None) in spo
    assert (1, bag[0].value, RDF + "type", 0, RDF + "Bag", None, None) in spo

    # 'rdfs:label of i "..."' attaches to the ARG's URI (parser.y
    # predicate_object OF branch)
    assert (0, arg_i, RDFS + "label", 2,
            "Value of immediate field", None, None) in spo

    # the StoreRegister call: anon node typed by the slashed name,
    # named args resolve through the name map / variables
    lib = "http://kierdavis.com/data/opencpu/lib/"
    calls = [t.s for t in triples
             if t.p.value == RDF + "type" and t.o.value == lib + "StoreRegister"]
    assert len(calls) == 1 and calls[0].kind == KIND_BLANK
    call = calls[0].value
    assert (1, call, lib + "register", 0,
            "http://kierdavis.com/data/opencpu/nmicro/arch/a", None, None) in spo
    # variable i in expression position resolves to the minted arg URI
    assert (1, call, lib + "value", 0, arg_i, None, None) in spo
    # call rides on ldi's code list
    code = [t.o for t in triples if t.s.value == ldi and t.p.value == LOOP + "code"]
    assert len(code) == 1


def test_compile_and_evaluate_add_end_to_end():
    """Compile a grammar-valid variant of loop/test.loop (named call
    args — see divergence (5): the reference's positional fixture
    fails its own grammar) and evaluate it through ops/loop.py:
    3 + 6.1 = 9.1, the runloop test.rdf result."""
    src = """
name <http://example.org/> as ex

func loop:Add(a integer "first operand", b float) {
    rdfs:label "Adds two numbers"
}

func ex/test() {
    rdfs:label "Test program"
    loop:Add(loop:a 3, loop:b "6.1"^^xsd:double)
}
"""
    triples = compile_loop(src)
    interp = LoopInterpreter(triples)
    # the test func's code list holds exactly one expression: the call
    code = interp.get(iri("http://example.org/test"), LOOP + "code")
    exprs = list(interp.iter_list(code))
    assert len(exprs) == 1
    value = interp.evaluate(exprs[0])
    assert value == pytest.approx(9.1)

    # typed-literal constants really convert (divergence (2)): the
    # float arg is "%f"-formatted xsd:double, int arg a clean integer
    spo = _spo(triples)
    assert any(o == "6.100000" and dt == XSD + "double"
               for _, _, _, _, o, _, dt in spo)
    assert any(o == "3" and dt == XSD + "integer"
               for _, _, _, _, o, _, dt in spo)


def test_constant_conversions_and_nt_output():
    src = """
func <http://e/f>() {
    <http://e/p>("""
    src += """<http://e/a1> true, <http://e/a2> "ZGF0YQ=="^^xsd:base64Binary,
    <http://e/a3> "64617461"^^xsd:hexBinary, <http://e/a4> "x:y"^^xsd:QName,
    <http://e/a5> "http://t/u"^^xsd:anyURI, <http://e/a6> "plain",
    <http://e/a7> 0x10)
}
name <http://t/ns#> as x
"""
    # QName prefix x is declared AFTER use -> zero-value quirk ("")
    triples = compile_loop(src)
    spo = _spo(triples)
    assert any(p == "http://e/a1" and o == "true" and dt == XSD + "boolean"
               for _, _, p, _, o, _, dt in spo)
    # hexBinary re-encodes to base64 like DataConstant.ToRDF
    assert any(p == "http://e/a3" and o == "ZGF0YQ==" and dt == XSD + "base64Binary"
               for _, _, p, _, o, _, dt in spo)
    assert any(p == "http://e/a4" and k == KIND_IRI and o == "y"
               for _, _, p, k, o, _, _ in spo)
    assert any(p == "http://e/a5" and k == KIND_IRI and o == "http://t/u"
               for _, _, p, k, o, _, _ in spo)
    assert any(p == "http://e/a6" and k == KIND_LITERAL and o == "plain" and dt is None
               for _, _, p, k, o, _, dt in spo)
    assert any(p == "http://e/a7" and o == "16" and dt == XSD + "integer"
               for _, _, p, _, o, _, dt in spo)

    nt = compile_loop_nt('func <http://e/g> rdfs:label "L"')
    assert '<http://e/g> <http://www.w3.org/2000/01/rdf-schema#label> "L" .\n' in nt
    assert f"<http://e/g> <{RDF}type> <{LOOP}Function> .\n" in nt


def test_reference_positional_fixture_rejected():
    """Divergence (5) pinned: loop/test.loop's positional call args
    violate namedexprlist (name-expr pairs) in the reference grammar
    and here alike. ``data/loop_test.loop`` is the named-args program
    of test_compile_and_evaluate_add_end_to_end with positional
    arguments."""
    src = (DATA / "loop_test.loop").read_text()
    with pytest.raises(LoopcSyntaxError):
        compile_loop(src)


def test_lang_literal_and_qname_hash_rules():
    src = """
name <http://plain.example/ns> as pl
func pl:f {
    rdfs:comment "bonjour"@fr
    pl:rel pl/sub/obj
}
"""
    triples = compile_loop(src)
    spo = _spo(triples)
    # qname on a base with no trailing separator gains '#'
    f = "http://plain.example/ns#f"
    assert (0, f, RDF + "type", 0, LOOP + "Function", None, None) in spo
    assert (0, f, RDFS + "comment", 2, "bonjour", "fr", None) in spo
    # slashed reference strips the (absent) separator and joins with /
    assert (0, f, "http://plain.example/ns#rel", 0,
            "http://plain.example/ns/sub/obj", None, None) in spo


def test_number_edge_cases_are_loopc_errors():
    """Review fixes: every malformed number surfaces as a positioned
    LoopcSyntaxError, never a raw ValueError; '010' parses base-10
    like the reference's ParseInt; hex works despite the reference's
    parser panicking on it."""
    ok = compile_loop("func <http://e/f>() { <http://e/p>(<http://e/a> 010) }")
    assert any(t.o.value == "10" for t in ok)
    hx = compile_loop("func <http://e/f>() { <http://e/p>(<http://e/a> 0x2e) }")
    assert any(t.o.value == "46" for t in hx)  # not misread as float
    neg = compile_loop("func <http://e/f>() { <http://e/p>(<http://e/a> -0x10) }")
    assert any(t.o.value == "-16" for t in neg)
    for bad in ("3.f", "+", "0x"):
        with pytest.raises(LoopcSyntaxError, match="line"):
            compile_loop(f"func <http://e/f>() {{ <http://e/p>(<http://e/a> {bad}) }}")
    with pytest.raises(LoopcSyntaxError, match="hex constant"):
        compile_loop('func <http://e/f>() { <http://e/p>(<http://e/a> "zz"^^xsd:hexBinary) }')
    with pytest.raises(LoopcSyntaxError, match="base64 constant"):
        compile_loop('func <http://e/f>() { <http://e/p>(<http://e/a> "!!!"^^xsd:base64Binary) }')


def test_prefix_shadowed_arg_is_the_zero_value_quirk():
    """An argument named like a declared prefix resolves through the
    name map (parser.y resource_or_argument nameMap-first), so it does
    NOT become a variable and a later `of <name>` subject falls back
    to the "" zero-value IRI — reference-faithful, pinned here so the
    behavior is a documented quirk rather than a surprise."""
    src = (
        "name <http://ns.example/a/> as a\n"
        'func <http://fn.example/f>(a integer) { rdfs:comment of a "x" }\n'
    )
    triples = compile_loop(src)
    # the arg term IS the namespace IRI, and the of-subject is ""
    assert any(t.s.value == "http://ns.example/a/" and t.o.value == LOOP + "Argument"
               for t in triples)
    assert any(t.s.value == "" and t.o.value == "x" for t in triples)


def test_read_loop_distributed_and_registry(spark, tmp_path):
    """.loop as a first-class CLI source format: the registry
    dispatches the extension to the distributed compile reader, and a
    bad file quarantines instead of failing the job."""
    from argo_spark.ops.loopc import read_loop
    from argo_spark.sinks.registry import format_from_filename

    good = tmp_path / "p.loop"
    good.write_text('func <http://e/f> rdfs:label "L"\n')
    bad = tmp_path / "q.loop"
    bad.write_text("func <http://e/g>() { <http://e/p>(<http://e/a> 3.f) }\n")

    fmt = format_from_filename("x/p.loop")
    assert fmt is not None and fmt.id == "loop"
    triples, errors = fmt.reader(spark, str(tmp_path))
    got = {(r.s_value, r.p_value, r.o_value) for r in triples.collect()}
    assert ("http://e/f", RDFS + "label", "L") in got
    assert ("http://e/f", RDF + "type", LOOP + "Function") in got
    errs = errors.collect()
    assert len(errs) == 1 and "Bad number" in errs[0].error
    assert errs[0].path.endswith("q.loop")
    # direct reader API agrees
    t2, e2 = read_loop(spark, str(tmp_path))
    assert t2.count() == len(got) and e2.count() == 1
