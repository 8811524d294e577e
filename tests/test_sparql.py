"""SPARQL SELECT/ASK text front-end (§2.5 E3): the conjunctive subset
the reference's HTTP clients send, planned through bgp_match with
binding columns named per sparql/result.go SelectResult keys."""

from __future__ import annotations

import pytest

from argo_spark.namespaces import RDF_TYPE, SCHEMA
from argo_spark.ops.graph import TripleGraph
from argo_spark.ops.sparql import (
    SparqlSyntaxError,
    parse_select,
    sparql_ask,
    sparql_select,
)
from argo_spark.terms import KIND_LITERAL, Term, TripleT, iri, literal


def graph(spark):
    return TripleGraph.of(
        spark,
        [
            TripleT(iri("http://e/a"), iri(RDF_TYPE), iri(SCHEMA + "Person")),
            TripleT(iri("http://e/a"), iri(SCHEMA + "name"), literal("Ada")),
            TripleT(iri("http://e/b"), iri(RDF_TYPE), iri(SCHEMA + "Person")),
            TripleT(iri("http://e/b"), iri(SCHEMA + "name"), literal("Bob", lang="en")),
            TripleT(iri("http://e/c"), iri(SCHEMA + "name"), literal("Cat")),
        ],
    ).df


def test_parse_select_terms():
    (variables, group, distinct, limit, order, offset, group_by, having,
     _ds) = parse_select(
        """PREFIX s: <http://schema.org/>
           SELECT DISTINCT ?x ?n WHERE {
             ?x a s:Person .
             ?x s:name "Bob"@en .
             ?x <http://e/p> "4"^^s:Integer
           } LIMIT 7"""
    )
    patterns = group.triples
    assert variables == ["x", "n"] and distinct and limit == 7
    assert patterns[0] == ("?x", RDF_TYPE, SCHEMA + "Person")
    assert patterns[1] == ("?x", SCHEMA + "name", Term(KIND_LITERAL, "Bob", lang="en"))
    assert patterns[2] == ("?x", "http://e/p", Term(KIND_LITERAL, "4", dt=SCHEMA + "Integer"))


def test_select_bindings(spark):
    out = sparql_select(
        graph(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?who ?n WHERE { ?who a s:Person . ?who s:name ?n }""",
    )
    assert out.columns == ["who", "n"]
    got = {(r.who, r.n) for r in out.collect()}
    assert got == {
        ("<http://e/a>", '"Ada"'),
        ("<http://e/b>", '"Bob"@en'),
    }


def test_select_star_and_limit(spark):
    out = sparql_select(
        graph(spark),
        'SELECT * WHERE { ?s <http://schema.org/name> ?n } LIMIT 2',
    )
    assert sorted(out.columns) == ["n", "s"]
    assert out.count() == 2


def test_ask(spark):
    g = graph(spark)
    assert sparql_ask(g, 'ASK { ?x <http://schema.org/name> "Ada" }')
    assert not sparql_ask(g, 'ASK { ?x <http://schema.org/name> "Zed" }')


def test_errors():
    with pytest.raises(SparqlSyntaxError):
        parse_select("SELECT ?x WHERE { }")
    with pytest.raises(SparqlSyntaxError):
        parse_select("SELECT WHERE { ?s ?p ?o }")
    with pytest.raises(SparqlSyntaxError):
        parse_select("SELECT ?x WHERE { ?s undeclared:p ?o }")
    with pytest.raises(SparqlSyntaxError):
        parse_select('SELECT ?x WHERE { ?s "lit-as-pred" ?o }')


def test_unbound_select_var(spark):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(graph(spark), "SELECT ?nope WHERE { ?s ?p ?o }")


def test_trailing_clauses_rejected_not_ignored():
    # trailing VALUES is SUPPORTED since round 4b (joins into the
    # pattern); anything else after the modifiers still raises
    parse_select('SELECT ?d WHERE { ?d ?p ?o } VALUES ?d { "x" }')
    with pytest.raises(SparqlSyntaxError, match="trailing"):
        parse_select(
            'SELECT ?d WHERE { ?d ?p ?o } VALUES ?d { "x" } LIMIT 5'
        )
    with pytest.raises(SparqlSyntaxError, match="trailing"):
        parse_select("SELECT ?d WHERE { ?d ?p ?o } LIMIT 5 HAVING ?d")


def test_order_limit_offset_parse():
    _, _, _, limit, order, offset, _gb, _hv, _ds = parse_select(
        "SELECT ?d WHERE { ?d ?p ?o } ORDER BY DESC(?o) ?d LIMIT 5 OFFSET 2"
    )
    assert order == [("o", True), ("d", False)]
    assert limit == 5 and offset == 2
    # LIMIT/OFFSET accepted in either order (SPARQL grammar)
    _, _, _, limit, order, offset, _gb, _hv, _ds = parse_select(
        "SELECT ?d WHERE { ?d ?p ?o } OFFSET 2 LIMIT 5"
    )
    assert limit == 5 and offset == 2


# -- OPTIONAL / FILTER / UNION (SPARQL 1.1 §18.2 algebra subset) ----------


def graph2(spark):
    """graph() plus ages for the numeric-filter cases."""
    return TripleGraph.of(
        spark,
        [
            TripleT(iri("http://e/a"), iri(RDF_TYPE), iri(SCHEMA + "Person")),
            TripleT(iri("http://e/a"), iri(SCHEMA + "name"), literal("Ada")),
            TripleT(iri("http://e/a"), iri(SCHEMA + "age"),
                    literal("36", dt="http://www.w3.org/2001/XMLSchema#integer")),
            TripleT(iri("http://e/b"), iri(RDF_TYPE), iri(SCHEMA + "Person")),
            TripleT(iri("http://e/b"), iri(SCHEMA + "name"), literal("Bob", lang="en")),
            TripleT(iri("http://e/b"), iri(SCHEMA + "age"),
                    literal("7", dt="http://www.w3.org/2001/XMLSchema#integer")),
            TripleT(iri("http://e/c"), iri(SCHEMA + "name"), literal("Cat")),
        ],
    ).df


def test_optional_binds_null(spark):
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?age WHERE {
             ?who s:name ?n .
             OPTIONAL { ?who s:age ?age }
           }""",
    )
    got = {(r.n, r.age) for r in out.collect()}
    assert got == {
        ('"Ada"', '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ('"Bob"@en', '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ('"Cat"', None),
    }


def test_filter_numeric_and_bound(spark):
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?who s:name ?n .
             OPTIONAL { ?who s:age ?age }
             FILTER(BOUND(?age) && ?age >= 18)
           }""",
    )
    assert {r.n for r in out.collect()} == {'"Ada"'}


def test_filter_unbound_comparison_drops_row(spark):
    # Cat has no age: ?age >= 0 is NULL there (error-eliminates-row)
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?who s:name ?n .
             OPTIONAL { ?who s:age ?age }
             FILTER(?age >= 0)
           }""",
    )
    assert {r.n for r in out.collect()} == {'"Ada"', '"Bob"@en'}


def test_filter_not_bound(spark):
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?who s:name ?n .
             OPTIONAL { ?who s:age ?age }
             FILTER(!BOUND(?age))
           }""",
    )
    assert {r.n for r in out.collect()} == {'"Cat"'}


def test_filter_regex_and_term_equality(spark):
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?who s:name ?n . FILTER(REGEX(?n, "^[AC]", "")) }""",
    )
    assert {r.n for r in out.collect()} == {'"Ada"', '"Cat"'}
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE { ?who s:name ?n . FILTER(?n = "Bob"@en) }""",
    )
    assert {r.who for r in out.collect()} == {"<http://e/b>"}
    # plain "Bob" is a DIFFERENT term than "Bob"@en
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE { ?who s:name ?n . FILTER(?n = "Bob") }""",
    )
    assert out.count() == 0


def test_filter_numeric_equality_crosses_datatype(spark):
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE { ?who s:age ?age . FILTER(?age = 7) }""",
    )
    assert {r.who for r in out.collect()} == {"<http://e/b>"}


def test_union_null_extension_and_bag(spark):
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?t WHERE {
             { ?who s:name ?n } UNION { ?who a ?t }
           }""",
    )
    rows = [(r.n, r.t) for r in out.collect()]
    assert len(rows) == 5  # bag: 3 names + 2 types
    assert (None, "<" + SCHEMA + "Person>") in rows
    assert ('"Cat"', None) in rows


def test_optional_filter_outer_var_is_leftjoin_expression(spark):
    # round-4b: an outer-variable filter inside OPTIONAL is the
    # LeftJoin expression — it gates the BINDING, not the row
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?age WHERE {
             ?who s:name ?n .
             OPTIONAL { ?who s:age ?age FILTER(?n = "Ada") }
           }""",
    )
    got = {(r.n, r.age) for r in out.collect()}
    assert got == {
        ('"Ada"', '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ('"Bob"@en', None),
        ('"Cat"', None),
    }


def test_leading_optional_raises(spark):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(
            graph2(spark),
            "SELECT ?x WHERE { OPTIONAL { ?x ?p ?o } }",
        )


def test_ask_with_filter(spark):
    assert sparql_ask(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           ASK { ?who s:age ?age FILTER(?age > 30) }""",
    )
    assert not sparql_ask(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           ASK { ?who s:age ?age FILTER(?age > 99) }""",
    )


def test_order_by_term_type_and_numeric_value(spark):
    # mixed objects: IRI, numeric literals (9 vs 10 — numeric order,
    # not lexical), plain literal; unbound (via OPTIONAL) sorts first
    g = TripleGraph.of(
        spark,
        [
            TripleT(iri("http://e/1"), iri("http://e/p"), literal("10",
                    dt="http://www.w3.org/2001/XMLSchema#integer")),
            TripleT(iri("http://e/2"), iri("http://e/p"), literal("9",
                    dt="http://www.w3.org/2001/XMLSchema#integer")),
            TripleT(iri("http://e/3"), iri("http://e/p"), iri("http://e/z")),
            TripleT(iri("http://e/4"), iri("http://e/p"), literal("abc")),
        ],
    ).df
    out = sparql_select(
        g, "SELECT ?o WHERE { ?s <http://e/p> ?o } ORDER BY ?o"
    )
    vals = [r.o for r in out.collect()]
    assert vals == [
        "<http://e/z>",
        '"9"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"10"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"abc"',
    ]
    out = sparql_select(
        g, "SELECT ?o WHERE { ?s <http://e/p> ?o } ORDER BY DESC(?o) LIMIT 2"
    )
    assert [r.o for r in out.collect()] == [
        '"abc"',
        '"10"^^<http://www.w3.org/2001/XMLSchema#integer>',
    ]


def test_order_by_unbound_first_and_offset(spark):
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?age WHERE {
             ?who s:name ?n .
             OPTIONAL { ?who s:age ?age }
           } ORDER BY ?age ?n""",
    )
    vals = [(r.n, r.age) for r in out.collect()]
    assert vals[0] == ('"Cat"', None)  # unbound sorts first
    assert [v[0] for v in vals] == ['"Cat"', '"Bob"@en', '"Ada"']  # 7 < 36
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?who s:name ?n } ORDER BY ?n LIMIT 2 OFFSET 1""",
    )
    assert [r.n for r in out.collect()] == ['"Bob"@en', '"Cat"']


def test_order_by_nonselected_var_non_distinct(spark):
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?who s:age ?age . ?who s:name ?n }
           ORDER BY DESC(?age)""",
    )
    assert [r.n for r in out.collect()] == ['"Ada"', '"Bob"@en']
    # ...but with DISTINCT the sort key must be selected
    with pytest.raises(SparqlSyntaxError, match="DISTINCT"):
        sparql_select(
            graph2(spark),
            """PREFIX s: <http://schema.org/>
               SELECT DISTINCT ?n WHERE { ?who s:age ?age . ?who s:name ?n }
               ORDER BY ?age""",
        )


# -- CONSTRUCT (reference SparqlService.Graph counterpart) ----------------


def test_construct_basic_rewrite(spark):
    from argo_spark.ops.sparql import sparql_construct

    out = sparql_construct(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           PREFIX v: <http://corpus.example/vocab#>
           CONSTRUCT { ?who v:label ?n . ?who a v:Doc }
           WHERE { ?who s:name ?n }""",
    )
    rows = {(r.s_kind, r.s_value, r.p_value, r.o_kind, r.o_value, r.o_lang)
            for r in out.collect()}
    assert ("http://corpus.example/vocab#label" in {r[2] for r in rows})
    # literal objects keep lang tags; type triples got the constant IRI
    assert (0, "http://e/b", "http://corpus.example/vocab#label", 2, "Bob", "en") in rows
    assert (0, "http://e/c", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            0, "http://corpus.example/vocab#Doc", None) in rows
    assert len(rows) == 6  # 3 labels + 3 type triples


def test_construct_skips_unbound_and_invalid(spark):
    from argo_spark.ops.sparql import sparql_construct

    # ?age unbound for Cat -> no triple for that pattern; the name
    # pattern still produces Cat's label (per-pattern skipping)
    out = sparql_construct(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           PREFIX v: <http://corpus.example/vocab#>
           CONSTRUCT { ?who v:age ?age . ?who v:label ?n }
           WHERE { ?who s:name ?n OPTIONAL { ?who s:age ?age } }""",
    )
    rows = [(r.s_value, r.p_value) for r in out.collect()]
    ages = [r for r in rows if r[1].endswith("#age")]
    labels = [r for r in rows if r[1].endswith("#label")]
    assert len(ages) == 2 and len(labels) == 3
    # a literal binding in predicate position is skipped, not an error
    out = sparql_construct(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           CONSTRUCT { ?who ?n ?who } WHERE { ?who s:name ?n }""",
    )
    assert out.count() == 0


def test_construct_preserves_escaped_literals(spark):
    """The struct path must carry RAW term components — a value
    containing backslash sequences cannot be recovered from its NT
    form with column expressions; lang tags, datatypes and blank
    subjects copy through exactly."""
    from argo_spark.ops.sparql import sparql_construct
    from argo_spark.terms import blank

    tricky = 'a\\nb"q\tc'  # raw backslash+n, quote, real tab
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    g = TripleGraph.of(
        spark,
        [
            TripleT(iri("http://e/a"), iri("http://e/p"), literal(tricky)),
            TripleT(iri("http://e/b"), iri("http://e/p"),
                    literal("Bob", lang="en")),
            TripleT(iri("http://e/c"), iri("http://e/p"),
                    literal("7", dt=XSD_INT)),
            TripleT(blank("b0"), iri("http://e/p"), iri("http://e/d")),
        ],
    ).df
    out = sparql_construct(
        g,
        "CONSTRUCT { ?s <http://e/q> ?v } WHERE { ?s <http://e/p> ?v }",
    )
    assert {
        (r.s_kind, r.s_value, r.p_value, r.o_kind, r.o_value, r.o_lang,
         r.o_dt)
        for r in out.collect()
    } == {
        (0, "http://e/a", "http://e/q", 2, tricky, None, None),
        (0, "http://e/b", "http://e/q", 2, "Bob", "en", None),
        (0, "http://e/c", "http://e/q", 2, "7", None, XSD_INT),
        (1, "b0", "http://e/q", 0, "http://e/d", None, None),
    }


def test_construct_set_semantics(spark):
    from argo_spark.ops.sparql import sparql_construct

    # both Persons map onto ONE constant triple — set semantics
    out = sparql_construct(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           PREFIX v: <http://corpus.example/vocab#>
           CONSTRUCT { v:corpus v:hasType s:Person }
           WHERE { ?who a s:Person }""",
    )
    assert out.count() == 1


def test_describe_iri_and_var(spark):
    from argo_spark.ops.sparql import sparql_describe

    g = graph2(spark)
    out = sparql_describe(g, "DESCRIBE <http://e/a>")
    assert out.count() == 3  # type + name + age triples of /a
    assert {r.s_value for r in out.collect()} == {"http://e/a"}
    # var form: describe everyone whose age >= 18
    out = sparql_describe(
        g,
        """PREFIX s: <http://schema.org/>
           DESCRIBE ?who WHERE { ?who s:age ?age FILTER(?age >= 18) }""",
    )
    assert {r.s_value for r in out.collect()} == {"http://e/a"}
    assert out.count() == 3
    # multiple IRIs, one unknown (contributes nothing)
    out = sparql_describe(g, "DESCRIBE <http://e/c> <http://e/nope>")
    assert {(r.s_value, r.p_value) for r in out.collect()} == {
        ("http://e/c", "http://schema.org/name")
    }


def test_describe_errors():
    from argo_spark.ops.sparql import parse_describe

    with pytest.raises(SparqlSyntaxError):
        parse_describe("DESCRIBE")
    with pytest.raises(SparqlSyntaxError):
        parse_describe("DESCRIBE ?x")  # var without WHERE
    with pytest.raises(SparqlSyntaxError):
        parse_describe("DESCRIBE <http://e/a> ?x WHERE { ?x ?p ?o }")


# -- VALUES + compatibility-join guard ------------------------------------


def test_values_single_and_tuple(spark):
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?who ?n WHERE {
             VALUES ?who { <http://e/a> <http://e/c> }
             ?who s:name ?n
           }""",
    )
    assert {(r.who, r.n) for r in out.collect()} == {
        ("<http://e/a>", '"Ada"'),
        ("<http://e/c>", '"Cat"'),
    }
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?who ?n ?tag WHERE {
             ?who s:name ?n .
             VALUES (?n ?tag) { ("Ada" "first") ("Bob"@en "second") }
           }""",
    )
    assert {(r.who, r.tag) for r in out.collect()} == {
        ("<http://e/a>", '"first"'),
        ("<http://e/b>", '"second"'),
    }


def test_values_undef_non_join_ok(spark):
    # UNDEF in a var that never joins: rides through as null
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?who ?extra WHERE {
             VALUES (?who ?extra) { (<http://e/a> "x") (<http://e/c> UNDEF) }
             ?who s:name ?n
           }""",
    )
    got = {(r.who, r.extra) for r in out.collect()}
    assert got == {("<http://e/a>", '"x"'), ("<http://e/c>", None)}


def test_compat_join_unbound_cases(spark):
    """Round-4b: joins keyed on possibly-unbound vars implement the
    full §18.5 compatibility relation (they used to raise)."""
    # UNDEF in a joining var: the UNDEF row merges with every name
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             VALUES ?n { "Ada" UNDEF }
             ?who s:name ?n
           }""",
    )
    assert sorted(r.n for r in out.collect()) == [
        '"Ada"', '"Ada"', '"Bob"@en', '"Cat"'
    ]
    # a var one UNION branch doesn't bind, then joined downstream:
    # branch-2 rows (x unbound) merge with every (other, name)
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?x WHERE {
             { ?who s:name ?x } UNION { ?who a ?t }
             ?other s:name ?x
           }""",
    )
    assert sorted(r.x for r in out.collect()) == (
        ['"Ada"'] * 3 + ['"Bob"@en'] * 3 + ['"Cat"'] * 3
    )
    # an OPTIONAL-only var joined by a later pattern: Cat's unbound
    # age merges with both bound ages
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?who s:name ?n .
             OPTIONAL { ?who s:age ?age }
             ?x s:age ?age
           }""",
    )
    assert sorted(r.n for r in out.collect()) == [
        '"Ada"', '"Bob"@en', '"Cat"', '"Cat"'
    ]


def test_filter_str_lang_datatype(spark):
    g = graph2(spark)
    # LANG: tagged vs untagged; "" comparison per SPARQL
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?who s:name ?n . FILTER(LANG(?n) = "en") }""",
    )
    assert {r.n for r in out.collect()} == {'"Bob"@en'}
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?who s:name ?n . FILTER(LANG(?n) = "") }""",
    )
    assert {r.n for r in out.collect()} == {'"Ada"', '"Cat"'}
    # STR strips the tag: matches across plain and tagged
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE { ?who s:name ?n . FILTER(STR(?n) = "Bob") }""",
    )
    assert {r.who for r in out.collect()} == {"<http://e/b>"}
    # DATATYPE: typed literal, and xsd:string for plain
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
           SELECT ?who WHERE { ?who s:age ?a . FILTER(DATATYPE(?a) = xsd:integer) }""",
    )
    assert out.count() == 2
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
           SELECT ?n WHERE { ?who s:name ?n . FILTER(DATATYPE(?n) = xsd:string) }""",
    )
    assert {r.n for r in out.collect()} == {'"Ada"', '"Cat"'}
    # DATATYPE of an IRI binding is an error -> row drops
    out = sparql_select(
        g,
        """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
           SELECT ?who WHERE { ?who a ?t . FILTER(DATATYPE(?t) = xsd:string) }""",
    )
    assert out.count() == 0


def test_filter_iskind_and_sameterm(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?o WHERE { <http://e/a> ?p ?o . FILTER(isIRI(?o)) }""",
    )
    assert {r.o for r in out.collect()} == {"<" + SCHEMA + "Person>"}
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?o WHERE { <http://e/a> ?p ?o . FILTER(isLiteral(?o)) }""",
    )
    assert out.count() == 2  # name + age
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?who s:name ?n . FILTER(sameTerm(?n, "Bob"@en)) }""",
    )
    assert {r.n for r in out.collect()} == {'"Bob"@en'}
    # sameTerm is strict identity: plain "Bob" is a different term
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?who s:name ?n . FILTER(sameTerm(?n, "Bob")) }""",
    )
    assert out.count() == 0
    # isBlank: no blanks in this graph
    out = sparql_select(
        g,
        "SELECT ?s WHERE { ?s ?p ?o . FILTER(isBlank(?s)) }",
    )
    assert out.count() == 0


def test_minus(spark):
    g = graph2(spark)
    # names minus those who have an age
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE {
             ?who s:name ?n .
             MINUS { ?who s:age ?age }
           }""",
    )
    assert {r.who for r in out.collect()} == {"<http://e/c>"}
    # disjoint domains: MINUS removes nothing (spec 8.3.3)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE {
             ?who s:name ?n .
             MINUS { ?x s:age ?age }
           }""",
    )
    assert out.count() == 3
    # filter inside MINUS referencing an outer var: evaluated with the
    # var unbound (RHS never sees LHS bindings) -> filter false ->
    # empty RHS -> nothing removed
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE {
             ?who s:name ?n .
             MINUS { ?who s:age ?age FILTER(BOUND(?n)) }
           }""",
    )
    assert out.count() == 3


def test_filter_exists_and_not_exists(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE {
             ?who s:name ?n .
             FILTER EXISTS { ?who s:age ?age }
           }""",
    )
    assert {r.who for r in out.collect()} == {"<http://e/a>", "<http://e/b>"}
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE {
             ?who s:name ?n .
             FILTER NOT EXISTS { ?who s:age ?age }
           }""",
    )
    assert {r.who for r in out.collect()} == {"<http://e/c>"}
    # the case where NOT EXISTS differs from MINUS is the uncorrelated
    # one — which we refuse rather than answer wrong
    with pytest.raises(SparqlSyntaxError, match="EXISTS sharing no"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?who WHERE {
                 ?who s:name ?n .
                 FILTER NOT EXISTS { ?x s:age ?a }
               }""",
        )


# -- property-path sugar (sequence / alternation / inverse) ---------------


def path_graph(spark):
    E = "http://e/"
    return TripleGraph.of(
        spark,
        [
            TripleT(iri(E + "a"), iri(E + "knows"), iri(E + "b")),
            TripleT(iri(E + "b"), iri(E + "knows"), iri(E + "c")),
            TripleT(iri(E + "b"), iri(E + "likes"), iri(E + "d")),
            TripleT(iri(E + "c"), iri(E + "name"), literal("Cee")),
        ],
    ).df


def test_path_sequence_and_inverse(spark):
    g = path_graph(spark)
    out = sparql_select(
        g,
        "SELECT ?n WHERE { <http://e/a> <http://e/knows>/<http://e/knows>/<http://e/name> ?n }",
    )
    assert {r.n for r in out.collect()} == {'"Cee"'}
    # internal path vars are not solution variables
    out = sparql_select(
        g, "SELECT * WHERE { ?s <http://e/knows>/<http://e/likes> ?o }"
    )
    assert sorted(out.columns) == ["o", "s"]
    assert {(r.s, r.o) for r in out.collect()} == {
        ("<http://e/a>", "<http://e/d>")
    }
    # inverse: ^knows from b reaches a
    out = sparql_select(
        g, "SELECT ?x WHERE { <http://e/b> ^<http://e/knows> ?x }"
    )
    assert {r.x for r in out.collect()} == {"<http://e/a>"}


def test_path_alternation(spark):
    g = path_graph(spark)
    out = sparql_select(
        g,
        "SELECT ?o WHERE { <http://e/b> <http://e/knows>|<http://e/likes> ?o }",
    )
    assert {r.o for r in out.collect()} == {"<http://e/c>", "<http://e/d>"}
    # alternation of sequences, endpoints shared
    out = sparql_select(
        g,
        """SELECT ?o WHERE {
             <http://e/a> <http://e/knows>/<http://e/likes>
                          | <http://e/knows>/<http://e/knows> ?o }""",
    )
    assert {r.o for r in out.collect()} == {"<http://e/c>", "<http://e/d>"}


def test_path_closure_plus(spark):
    out = sparql_select(
        path_graph(spark),
        "SELECT ?o WHERE { <http://e/a> <http://e/knows>+ ?o } ORDER BY ?o",
    )
    assert [r.o for r in out.collect()] == ["<http://e/b>", "<http://e/c>"]


def test_path_closure_star_and_nested_raise(spark):
    g = path_graph(spark)
    # * includes the zero-length pairs: every subject/object term
    out = sparql_select(
        g,
        "SELECT ?o WHERE { <http://e/a> <http://e/knows>* ?o } ORDER BY ?o",
    )
    assert [r.o for r in out.collect()] == [
        "<http://e/a>", "<http://e/b>", "<http://e/c>",
    ]
    # closures inside sequences are supported since round 4b: a
    # knows+ reaches {b, c}; only c has a name
    out = sparql_select(
        g,
        "SELECT ?o WHERE { <http://e/a> <http://e/knows>+/<http://e/name> ?o }",
    )
    assert [r.o for r in out.collect()] == ['"Cee"']
    with pytest.raises(SparqlSyntaxError, match="two constant"):
        sparql_select(
            g,
            "SELECT ?x WHERE { <http://e/a> <http://e/knows>+ <http://e/c> . "
            "?x <http://e/name> ?n }",
        )


def test_path_closure_cycle_terminates(spark):
    E = "http://e/"
    g = TripleGraph.of(
        spark,
        [
            TripleT(iri(E + "a"), iri(E + "knows"), iri(E + "b")),
            TripleT(iri(E + "b"), iri(E + "knows"), iri(E + "c")),
            TripleT(iri(E + "c"), iri(E + "knows"), iri(E + "a")),
        ],
    ).df
    # a 3-cycle: every node reaches every node (incl. itself)
    out = sparql_select(
        g, "SELECT ?a ?b WHERE { ?a <http://e/knows>+ ?b }"
    )
    assert out.count() == 9
    out = sparql_select(
        g, "SELECT ?x WHERE { ?x <http://e/knows>+ ?x } ORDER BY ?x"
    )
    assert [r.x for r in out.collect()] == [
        f"<{E}a>", f"<{E}b>", f"<{E}c>",
    ]


def test_path_nested_group_static(spark):
    # modifier-free parenthesized groups flatten statically:
    # (knows|likes)/name distributes to knows/name | likes/name, and
    # ^(knows/likes) reverses to ^likes/^knows
    g = path_graph(spark)
    out = sparql_select(
        g,
        "SELECT ?o WHERE { <http://e/b> "
        "(<http://e/knows>|<http://e/likes>)/<http://e/name> ?o }",
    )
    assert [r.o for r in out.collect()] == ['"Cee"']
    out = sparql_select(
        g,
        "SELECT ?x WHERE { <http://e/d> "
        "^(<http://e/knows>/<http://e/likes>) ?x }",
    )
    assert [r.x for r in out.collect()] == ["<http://e/a>"]


def test_path_nested_closure_seq(spark):
    # (p/q)+ — the round-4 "nested closures raise" gap: the inner
    # sequence compiles to an edge frame and the pointer-doubling
    # closure runs over it
    E = "http://e/"
    chain = TripleGraph.of(
        spark,
        [
            TripleT(iri(E + "a"), iri(E + "k"), iri(E + "b")),
            TripleT(iri(E + "b"), iri(E + "k"), iri(E + "c")),
            TripleT(iri(E + "c"), iri(E + "k"), iri(E + "d")),
            TripleT(iri(E + "d"), iri(E + "k"), iri(E + "e")),
        ],
    ).df
    out = sparql_select(
        chain,
        "SELECT ?o WHERE { <http://e/a> "
        "(<http://e/k>/<http://e/k>)+ ?o } ORDER BY ?o",
    )
    # 2-hop edges a->c, b->d, c->e; closure from a: {c, e}
    assert [r.o for r in out.collect()] == ["<http://e/c>", "<http://e/e>"]
    # zero-or-more adds the zero-length pair (a, a)
    out = sparql_select(
        chain,
        "SELECT ?o WHERE { <http://e/a> "
        "(<http://e/k>/<http://e/k>)* ?o } ORDER BY ?o",
    )
    assert [r.o for r in out.collect()] == [
        "<http://e/a>", "<http://e/c>", "<http://e/e>",
    ]


def test_path_nested_closure_alt_and_of_closure(spark):
    g = path_graph(spark)
    # (knows|likes)+ — closure over the union edge set
    out = sparql_select(
        g,
        "SELECT ?o WHERE { <http://e/a> "
        "(<http://e/knows>|<http://e/likes>)+ ?o } ORDER BY ?o",
    )
    assert [r.o for r in out.collect()] == [
        "<http://e/b>", "<http://e/c>", "<http://e/d>",
    ]
    # closure-of-closure: (knows+)+ == knows+
    out = sparql_select(
        g,
        "SELECT ?o WHERE { <http://e/a> (<http://e/knows>+)+ ?o } "
        "ORDER BY ?o",
    )
    assert [r.o for r in out.collect()] == ["<http://e/b>", "<http://e/c>"]
    # zero-or-one over a group: zero-length (a) + one inner-path hop
    out = sparql_select(
        g,
        "SELECT ?o WHERE { <http://e/a> "
        "(<http://e/knows>/<http://e/likes>)? ?o } ORDER BY ?o",
    )
    assert [r.o for r in out.collect()] == ["<http://e/a>", "<http://e/d>"]
    # inverse of a closure-bearing group: ^(knows+) from c reaches
    # everything that reaches c via knows+
    out = sparql_select(
        g,
        "SELECT ?x WHERE { <http://e/c> ^(<http://e/knows>+) ?x } "
        "ORDER BY ?x",
    )
    assert [r.x for r in out.collect()] == ["<http://e/a>", "<http://e/b>"]


def test_path_var_reserved(spark):
    with pytest.raises(SparqlSyntaxError, match="path-variable"):
        sparql_select(
            path_graph(spark),
            "SELECT ?__path1 WHERE { ?__path1 <http://e/knows> ?o }",
        )


def test_term_struct_var_reserved(spark):
    """``?__term__x`` names an internal term-struct column, which the
    join, MINUS and OPTIONAL planners never use as a key — it would
    turn the join below into a cross join, make MINUS remove nothing
    and OPTIONAL raise, so the prefix is rejected at parse time."""
    E = "http://e/"
    g = TripleGraph.of(
        spark,
        [
            TripleT(iri(E + "a"), iri(E + "p"), iri(E + "b")),
            TripleT(iri(E + "b"), iri(E + "p"), iri(E + "c")),
        ],
    ).df
    head = (
        "SELECT * WHERE { { ?__term__x <http://e/p> ?o } "
        "UNION { ?__term__x <http://e/p> ?o } "
    )
    for tail in (
        "?__term__x <http://e/p> ?o2 }",
        "MINUS { ?__term__x <http://e/p> <http://e/c> } }",
        "OPTIONAL { ?__term__x <http://e/p> ?z } }",
    ):
        with pytest.raises(SparqlSyntaxError, match="term-struct"):
            sparql_select(g, head + tail)


# -- GROUP BY + aggregates ------------------------------------------------


def test_group_by_count_and_sum(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who (COUNT(*) AS ?n) WHERE { ?who ?p ?o }
           GROUP BY ?who ORDER BY DESC(?n) ?who""",
    )
    rows = [(r.who, r.n) for r in out.collect()]
    assert rows[0][1] == 3 and rows[-1] == ("<http://e/c>", 1)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT (SUM(?age) AS ?total) (AVG(?age) AS ?mean)
                  (MIN(?age) AS ?lo) (MAX(?age) AS ?hi)
           WHERE { ?who s:age ?age }""",
    )
    r = out.collect()[0]
    assert (r.total, r.mean, r.lo, r.hi) == (43.0, 21.5, 7.0, 36.0)


def test_group_by_count_var_and_distinct(spark):
    g = graph2(spark)
    # COUNT(?age) counts only bound values (Cat has none)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT (COUNT(?age) AS ?n) WHERE {
             ?who s:name ?x OPTIONAL { ?who s:age ?age } }""",
    )
    assert out.collect()[0].n == 2
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT (COUNT(DISTINCT ?who) AS ?n) WHERE { ?who ?p ?o }""",
    )
    assert out.collect()[0].n == 3


def test_group_by_validation(spark):
    g = graph2(spark)
    with pytest.raises(SparqlSyntaxError, match="GROUP BY"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?who (COUNT(*) AS ?n) WHERE { ?who ?p ?o }""",
        )
    with pytest.raises(SparqlSyntaxError, match="SELECT \\*"):
        sparql_select(
            g, "SELECT * WHERE { ?s ?p ?o } GROUP BY ?s"
        )


def test_having(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who (COUNT(*) AS ?n) WHERE { ?who ?p ?o }
           GROUP BY ?who HAVING(?n >= 2) ORDER BY ?who""",
    )
    rows = [(r.who, r.n) for r in out.collect()]
    assert rows == [("<http://e/a>", 3), ("<http://e/b>", 3)]
    with pytest.raises(SparqlSyntaxError, match="HAVING needs"):
        sparql_select(g, "SELECT ?s WHERE { ?s ?p ?o } HAVING(?s > 1)")


def test_bind(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?l WHERE {
             ?who s:name ?n . BIND(LANG(?n) AS ?l)
           }""",
    )
    got = {(r.n, r.l) for r in out.collect()}
    assert got == {('"Ada"', '""'), ('"Bob"@en', '"en"'), ('"Cat"', '""')}
    # BIND a var copy + constant; filter over the bound var
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
           SELECT ?who ?dt WHERE {
             ?who s:age ?age . BIND(DATATYPE(?age) AS ?dt)
             FILTER(?dt = xsd:integer)
           }""",
    )
    assert out.count() == 2
    # error -> unbound: DATATYPE of an IRI binding
    out = sparql_select(
        g,
        """SELECT ?t ?dt WHERE {
             ?who a ?t . BIND(DATATYPE(?t) AS ?dt) }""",
    )
    assert {r.dt for r in out.collect()} == {None}
    with pytest.raises(SparqlSyntaxError, match="already bound"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?n WHERE { ?who s:name ?n . BIND(STR(?n) AS ?n) }""",
        )
    from argo_spark.ops.sparql import sparql_construct

    with pytest.raises(SparqlSyntaxError, match="BIND inside CONSTRUCT"):
        sparql_construct(
            g,
            """PREFIX s: <http://schema.org/>
               CONSTRUCT { ?who s:tag ?l }
               WHERE { ?who s:name ?n . BIND(LANG(?n) AS ?l) }""",
        )


def test_group_by_without_aggregates(spark):
    """GROUP BY with no aggregate projections == grouped projection
    (distinct over the group keys) — round-3 advisor finding."""
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE { ?who s:name ?n } GROUP BY ?who
           ORDER BY ?who""",
    )
    assert [r.who for r in out.collect()] == [
        "<http://e/a>", "<http://e/b>", "<http://e/c>",
    ]


def test_regex_flags(spark):
    g = graph2(spark)
    # 'i' still supported
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n . FILTER(REGEX(?n, "^ada", "i")) }""",
    )
    assert [r.n for r in out.collect()] == ['"Ada"']
    # unsupported flag raises instead of silently mis-matching
    with pytest.raises(SparqlSyntaxError, match="REGEX flag"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?n WHERE { ?w s:name ?n . FILTER(REGEX(?n, "a", "q")) }""",
        )


def test_optional_filter_regex_func_outer_var(spark):
    """FILTER(REGEX(STR(?outer), ...)) inside OPTIONAL takes the
    LeftJoin-expression path like bare-var references do (round-4b:
    evaluated in the join condition, not silently unbound)."""
    out = sparql_select(
        graph2(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?who ?age WHERE {
             ?who s:name ?n .
             OPTIONAL { ?who s:age ?age . FILTER(REGEX(STR(?n), "A")) }
           }""",
    )
    got = {(r.who, r.age) for r in out.collect()}
    assert got == {
        ("<http://e/a>", '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/b>", None),   # "Bob" has no "A"
        ("<http://e/c>", None),
    }


def test_group_concat_and_sample(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who (GROUP_CONCAT(?n; SEPARATOR="|") AS ?names)
                  (SAMPLE(?n) AS ?one)
           WHERE { ?who s:name ?n } GROUP BY ?who ORDER BY ?who""",
    )
    rows = [(r.who, r.names, r.one) for r in out.collect()]
    assert rows == [
        ("<http://e/a>", "Ada", '"Ada"'),
        ("<http://e/b>", "Bob", '"Bob"@en'),
        ("<http://e/c>", "Cat", '"Cat"'),
    ]
    # concatenation order is deterministic (sorted lexical forms)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT (GROUP_CONCAT(?n) AS ?all) WHERE { ?w s:name ?n }""",
    )
    assert out.collect()[0].all == "Ada Bob Cat"


def test_path_zero_or_one(spark):
    g = path_graph(spark)
    out = sparql_select(
        g,
        "SELECT ?o WHERE { <http://e/a> <http://e/knows>? ?o } ORDER BY ?o",
    )
    # zero hops (itself) + one hop (b); NOT c (two hops)
    assert [r.o for r in out.collect()] == ["<http://e/a>", "<http://e/b>"]


def test_string_builtins(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n . FILTER(STRSTARTS(?n, "A")) }""",
    )
    assert [r.n for r in out.collect()] == ['"Ada"']
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n . FILTER(STRENDS(?n, "t")) }""",
    )
    assert [r.n for r in out.collect()] == ['"Cat"']
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n . FILTER(CONTAINS(LCASE(?n), "o")) }
           ORDER BY ?n""",
    )
    assert [r.n for r in out.collect()] == ['"Bob"@en']
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n . FILTER(STRLEN(?n) >= 3) }""",
    )
    assert out.count() == 3  # all three names are 3 chars
    # UCASE via BIND; STRLEN as a bound plain literal
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?u ?l WHERE {
             ?w s:name ?n . BIND(UCASE(?n) AS ?u) BIND(STRLEN(?n) AS ?l)
           } ORDER BY ?u""",
    )
    rows = [(r.u, r.l) for r in out.collect()]
    assert rows == [('"ADA"', '"3"'), ('"BOB"', '"3"'), ('"CAT"', '"3"')]


def test_subquery_join_and_limit(spark):
    g = graph2(spark)
    # inner top-2 by name joins the outer age pattern
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who ?age WHERE {
             { SELECT ?who WHERE { ?who s:name ?n } ORDER BY ?n LIMIT 2 }
             ?who s:age ?age .
           } ORDER BY ?who""",
    )
    rows = [(r.who, r.age) for r in out.collect()]
    assert rows == [
        ("<http://e/a>", '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/b>", '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    ]


def test_subquery_aggregate_join_on_group_key(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who ?cnt WHERE {
             ?who s:name ?n .
             { SELECT ?who (COUNT(?p) AS ?cnt)
               WHERE { ?who ?p ?o } GROUP BY ?who }
           } ORDER BY ?who""",
    )
    rows = [(r.who, r.cnt) for r in out.collect()]
    assert rows == [
        ("<http://e/a>", 3), ("<http://e/b>", 3), ("<http://e/c>", 1),
    ]


def test_subquery_agg_alias_join_guard(spark):
    g = graph2(spark)
    with pytest.raises(SparqlSyntaxError, match="aggregate alias"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?cnt WHERE {
                 ?x s:name ?cnt .
                 { SELECT (COUNT(?o) AS ?cnt) WHERE { ?w ?p ?o } }
               }""",
        )


def test_subquery_bottom_up_scoping(spark):
    """Outer bindings are invisible inside the subquery (§18.2.2.14):
    the inner SELECT over ?n is NOT restricted by the outer FILTER."""
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who ?best WHERE {
             ?who s:name ?n . FILTER(STRSTARTS(?n, "C"))
             { SELECT ?best WHERE { ?x s:name ?best }
               ORDER BY ?best LIMIT 1 }
           }""",
    )
    rows = [(r.who, r.best) for r in out.collect()]
    # cross join: one outer row (Cat) x the global minimum name (Ada)
    assert rows == [("<http://e/c>", '"Ada"')]


def test_langmatches(spark):
    g = TripleGraph.of(
        spark,
        [
            TripleT(iri("http://e/a"), iri(SCHEMA + "name"),
                    literal("color", lang="en")),
            TripleT(iri("http://e/b"), iri(SCHEMA + "name"),
                    literal("colour", lang="en-GB")),
            TripleT(iri("http://e/c"), iri(SCHEMA + "name"),
                    literal("couleur", lang="fr")),
            TripleT(iri("http://e/d"), iri(SCHEMA + "name"),
                    literal("plain")),
        ],
    ).df
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?w s:name ?n . FILTER(LANGMATCHES(LANG(?n), "EN"))
           } ORDER BY ?n""",
    )
    # 'en' exact (case-insensitive) + 'en-GB' prefix; not fr, not plain
    assert [r.n for r in out.collect()] == ['"color"@en', '"colour"@en-GB']
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?w s:name ?n . FILTER(LANGMATCHES(LANG(?n), "*"))
           }""",
    )
    assert out.count() == 3  # any tagged literal; plain has tag ''


def test_coalesce(spark):
    g = graph2(spark)
    # default value for missing ages via BIND(COALESCE(...))
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?a WHERE {
             ?who s:name ?n .
             OPTIONAL { ?who s:age ?age }
             BIND(COALESCE(?age, "unknown") AS ?a)
           } ORDER BY ?n""",
    )
    rows = [(r.n, r.a) for r in out.collect()]
    assert rows == [
        ('"Ada"', '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ('"Bob"@en', '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ('"Cat"', '"unknown"'),
    ]
    # COALESCE inside a FILTER comparison
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?who s:name ?n .
             OPTIONAL { ?who s:age ?age }
             FILTER(COALESCE(?age, 0) < 18)
           }""",
    )
    assert {r.n for r in out.collect()} == {'"Bob"@en', '"Cat"'}
    with pytest.raises(SparqlSyntaxError, match="COALESCE arguments"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?n WHERE { ?w s:name ?n .
                 FILTER(COALESCE(STRLEN(?n), 0) > 1) }""",
        )


def test_if_expression(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?band WHERE {
             ?who s:name ?n .
             OPTIONAL { ?who s:age ?age }
             BIND(IF(?age >= 18, "adult", "minor") AS ?band)
           } ORDER BY ?n""",
    )
    rows = [(r.n, r.band) for r in out.collect()]
    # Cat has no age: the IF condition errors -> ?band stays unbound
    assert rows == [
        ('"Ada"', '"adult"'), ('"Bob"@en', '"minor"'), ('"Cat"', None),
    ]
    # IF inside a FILTER comparison
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?who s:name ?n . ?who s:age ?age .
             FILTER(IF(?age >= 18, 1, 0) = 1)
           }""",
    )
    assert [r.n for r in out.collect()] == ['"Ada"']


def test_negated_property_set(spark):
    g = path_graph(spark)
    # everything b links to by anything EXCEPT knows
    out = sparql_select(
        g,
        "SELECT ?o WHERE { <http://e/b> !<http://e/knows> ?o }",
    )
    assert [r.o for r in out.collect()] == ["<http://e/d>"]
    # multi-member set
    out = sparql_select(
        g,
        """SELECT ?s ?o WHERE {
             ?s !(<http://e/knows>|<http://e/likes>) ?o }""",
    )
    assert [(r.s, r.o) for r in out.collect()] == [
        ("<http://e/c>", '"Cee"')
    ]
    # negset composed with a positive pattern on the same subject
    out = sparql_select(
        g,
        """SELECT ?s WHERE {
             ?s <http://e/knows> ?k . ?s !<http://e/knows> ?other }""",
    )
    assert [r.s for r in out.collect()] == ["<http://e/b>"]
    with pytest.raises(SparqlSyntaxError, match="plain IRIs"):
        sparql_select(g, "SELECT ?o WHERE { ?s !?p ?o }")


def test_negated_property_set_inverse_members(spark):
    # §9.1 full grammar (round 5): ^-members match REVERSED edges
    # against their own exclusion set
    g = path_graph(spark)
    # !^likes from d: reversed edges into d with pred NOT likes ->
    # none (only b -likes-> d)
    out = sparql_select(
        g, "SELECT ?x WHERE { <http://e/d> !^<http://e/likes> ?x }"
    )
    assert out.collect() == []
    # !^knows from d: reversed edge b -likes-> d qualifies
    out = sparql_select(
        g, "SELECT ?x WHERE { <http://e/d> !^<http://e/knows> ?x }"
    )
    assert [r.x for r in out.collect()] == ["<http://e/b>"]
    # mixed set: forward edges not knows UNION reversed edges not
    # likes, anchored at b — forward: b-likes->d qualifies (likes ∉
    # excluded-fwd {knows}); reversed: a-knows->b qualifies (knows ∉
    # excluded-inv {likes})
    out = sparql_select(
        g,
        "SELECT ?x WHERE { <http://e/b> "
        "!(<http://e/knows>|^<http://e/likes>) ?x } ORDER BY ?x",
    )
    assert [r.x for r in out.collect()] == [
        "<http://e/a>", "<http://e/d>"
    ]


def test_filter_arithmetic(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE { ?who s:age ?a . FILTER(?a * 2 > 20) }""",
    )
    assert [r.who for r in out.collect()] == ["<http://e/a>"]
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE { ?who s:age ?a . FILTER(?a - 10 <= -3) }""",
    )
    assert [r.who for r in out.collect()] == ["<http://e/b>"]
    # precedence: 1 + a / 2 == 1 + (a/2)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE { ?who s:age ?a . FILTER(1 + ?a / 2 >= 19) }""",
    )
    assert [r.who for r in out.collect()] == ["<http://e/a>"]
    # division by zero = error = row drops (never aborts)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who WHERE { ?who s:age ?a . FILTER(?a / 0 > 0) }""",
    )
    assert out.count() == 0
    # non-numeric binding -> NULL -> drops
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?who s:name ?n . FILTER(?n + 1 > 0) }""",
    )
    assert out.count() == 0


def test_select_expression_projection(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who (UCASE(?n) AS ?u) (COALESCE(?age, "-") AS ?a)
           WHERE { ?who s:name ?n OPTIONAL { ?who s:age ?age } }
           ORDER BY ?who""",
    )
    rows = [(r.who, r.u, r.a) for r in out.collect()]
    assert rows == [
        ("<http://e/a>", '"ADA"',
         '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/b>", '"BOB"',
         '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/c>", '"CAT"', '"-"'),
    ]
    # mixing with aggregates is now a post-aggregation Extend — a
    # reference to a var that is neither a group key nor an agg alias
    # is the remaining error case (full coverage in
    # test_expr_projection_with_aggregates)
    with pytest.raises(SparqlSyntaxError, match="scope"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT (STR(?n) AS ?x) (COUNT(*) AS ?c)
               WHERE { ?w s:name ?n }""",
        )


def test_parser_errors_are_sparql_syntax_errors():
    """Totality: any input either parses or raises SparqlSyntaxError —
    no hangs, no stray exception types (hypothesis soup + adversarial
    near-miss corpus)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from argo_spark.ops.sparql import parse_select

    near_misses = [
        "SELECT", "SELECT ?x", "SELECT ?x WHERE {", "SELECT * WHERE {}",
        "SELECT ?x WHERE { ?x ?p }", "SELECT ?x WHERE { ?x ?p ?o",
        "SELECT (?x AS) WHERE { ?x ?p ?o }",
        "SELECT ?x WHERE { ?x <p>++ ?o }",
        "SELECT ?x WHERE { ?x !() ?o }",
        "SELECT ?x WHERE { { SELECT } }",
        "SELECT ?x WHERE { ?x ?p ?o } GROUP BY",
        "SELECT ?x WHERE { ?x ?p ?o } ORDER BY LIMIT 1",
        "SELECT ?x WHERE { ?x ?p ?o FILTER(?x + ) }",
        "SELECT ?x WHERE { ?x ?p ?o FILTER(COALESCE()) }",
        "PREFIX : SELECT ?x WHERE { ?x ?p ?o }",
        "SELECT ?x WHERE { ?x ?p \"unterminated }",
        "SELECT ?x WHERE { BIND( AS ?x) }",
        # round-4b surface near-misses
        "SELECT ?x WHERE { ?x ?p ?o FILTER(?o IN) }",
        "SELECT ?x WHERE { ?x ?p ?o FILTER(?o IN (?x)) }",
        "SELECT ?x WHERE { ?x ?p ?o FILTER(SUBSTR(?o)) }",
        "SELECT ?x WHERE { ?x ?p ?o FILTER(SUBSTR(?o, 0, 1) = \"a\") }",
        "SELECT ?x WHERE { ?x ?p ?o FILTER(REPLACE(?o, \"a\")) }",
        "SELECT ?x WHERE { ?x ?p ; }",
        "SELECT ?x WHERE { ?x ?p ?o , }",
        "SELECT ?x WHERE { [ ?p ?o }",
        "SELECT ?x WHERE { _:b }",
        "SELECT ?x WHERE { ?x _:p ?o }",
        "SELECT REDUCED DISTINCT ?x WHERE { ?x ?p ?o }",
        "SELECT ?x WHERE { ?x ?p ?o } GROUP BY (STRLEN(?o))",
        "SELECT ?x WHERE { ?x ?p ?o } GROUP BY (?o AS) ",
        "SELECT ?x WHERE { ?x ?p ?o } HAVING (COUNT(?o) > 1)",
        "SELECT ?x WHERE { ?x ?p ?o } ORDER BY DESC(",
        "SELECT ?x WHERE { ?x ?p ?o } ORDER BY STRLEN()",
        "SELECT (SUM(?a *) AS ?t) WHERE { ?x ?p ?a }",
        "SELECT ?x WHERE { ?x ?p ?o FILTER(STRDT(?o)) }",
        "SELECT ?x WHERE { ?x ?p ?o FILTER(STRLANG(?o, en)) }",
        "SELECT ?x WHERE { ?x ?p ?o FILTER(EXISTS) }",
        "SELECT ?x WHERE { ?x ?p ?o FILTER(NOT EXISTS || ?x = 1) }",
    ]
    for q in near_misses:
        try:
            parse_select(q)
        except SparqlSyntaxError:
            pass

    from argo_spark.ops.sparql import parse_update

    update_near_misses = [
        "", "INSERT", "DELETE", "INSERT DATA", "DELETE DATA {",
        "INSERT DATA { ?x <p> <o> }",
        "INSERT DATA { <s> <p> <o> } DELETE",
        "DELETE { ?x <p> ?o }",          # missing WHERE
        "DELETE WHERE { OPTIONAL { ?x <p> ?o } }",
        "INSERT { ?x <p> ?o } WHERE { ?x <p> ?o } ; ;",
        "CLEAR GRAPH <g>",
        "INSERT DATA { _:b <p> <o> }",
    ]
    for q in update_near_misses:
        try:
            parse_update(q)
        except SparqlSyntaxError:
            pass

    @given(st.text(max_size=120))
    @settings(max_examples=300, deadline=None)
    def soup(q):
        try:
            parse_select(q)
        except SparqlSyntaxError:
            pass

    soup()


def test_review_fixes_round4(spark):
    """Round-4 self-review regressions: guard order-independence,
    closure var-name collisions, constant zero-length endpoints,
    Extend-after-filter scoping."""
    g = graph2(spark)
    # (1) subquery FIRST, aggregate alias shared with a later pattern:
    # the numeric-alias join guard must fire regardless of order
    with pytest.raises(SparqlSyntaxError, match="aggregate alias"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?cnt WHERE {
                 { SELECT (COUNT(?o) AS ?cnt) WHERE { ?w ?p ?o } }
                 ?x s:name ?cnt .
               }""",
        )
    # (2) endpoint variables literally named ?src / ?dst
    pg = path_graph(spark)
    out = sparql_select(
        pg,
        "SELECT ?src ?dst WHERE { ?src <http://e/knows>+ ?dst } "
        "ORDER BY ?src ?dst",
    )
    assert [(r.src, r.dst) for r in out.collect()] == [
        ("<http://e/a>", "<http://e/b>"),
        ("<http://e/a>", "<http://e/c>"),
        ("<http://e/b>", "<http://e/c>"),
    ]
    # (3) constant endpoint NOT in the graph still yields (X, X) for *
    out = sparql_select(
        pg,
        "SELECT ?x WHERE { <http://e/ghost> <http://e/knows>* ?x }",
    )
    assert [r.x for r in out.collect()] == ["<http://e/ghost>"]
    # (4) projection alias is OUT of scope inside WHERE filters
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT (UCASE(?n) AS ?u) WHERE {
             ?w s:name ?n . FILTER(BOUND(?u))
           }""",
    )
    assert out.count() == 0


def test_cap_per_group_keep_order_ties_deterministic(spark):
    from argo_spark.ops.sampling import cap_per_group
    from pyspark.sql import functions as F

    d = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit("s").alias("source"),
        F.lit(1.0).alias("quality"),  # ALL tied
    )
    a = {r.doc_id for r in cap_per_group(
        d, "source", 5, key_col="doc_id", keep_order=["quality"]
    ).collect()}
    b = {r.doc_id for r in cap_per_group(
        d.repartition(13), "source", 5, key_col="doc_id",
        keep_order=["quality"],
    ).collect()}
    assert a == b == {0, 1, 2, 3, 4}


def test_threshold_hex_near_one():
    from argo_spark.ops.sampling import _threshold_hex

    assert _threshold_hex(1.0 - 1e-12) == "g"  # rounds to full space
    assert len(_threshold_hex(0.9999)) == 8


def test_multiple_having_constraints(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?who (COUNT(*) AS ?n) WHERE { ?who ?p ?o }
           GROUP BY ?who HAVING(?n >= 2) (?n <= 3) ORDER BY ?who""",
    )
    rows = [(r.who, r.n) for r in out.collect()]
    assert rows == [("<http://e/a>", 3), ("<http://e/b>", 3)]


def test_subquery_agg_alias_guard_all_join_sites(spark):
    """Round-4 second-review regressions: the non-NT-alias guard must
    fire at MINUS/OPTIONAL/EXISTS joins and for GROUP_CONCAT's
    string-typed-but-non-NT alias, not just generic inner joins."""
    g = graph2(spark)
    subq = ('{ SELECT (COUNT(?o) AS ?n) WHERE { ?w ?p ?o } }')
    for body in (
        f"?x s:name ?n . MINUS {{ {subq} }}",
        f"?x s:name ?n . OPTIONAL {{ {subq} }}",
        f"?x s:name ?n . FILTER EXISTS {{ {subq} }}",
    ):
        with pytest.raises(SparqlSyntaxError, match="aggregate alias"):
            sparql_select(
                g,
                "PREFIX s: <http://schema.org/> "
                "SELECT ?x WHERE { " + body + " }",
            )
    # GROUP_CONCAT alias: string dtype, but a bare lexical — not an
    # NT form; joining it must raise, not silently return empty
    with pytest.raises(SparqlSyntaxError, match="aggregate alias"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?x WHERE {
                 { SELECT (GROUP_CONCAT(?o) AS ?gc)
                   WHERE { ?w s:name ?o } }
                 ?x s:name ?gc .
               }""",
        )
    # GROUPED SAMPLE yields a real, per-group-non-null NT form —
    # joining it is allowed and correct (the UNGROUPED form is
    # guarded: its single .agg() row is NULL on an empty pattern)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?x ?w WHERE {
             { SELECT ?w (SAMPLE(?o) AS ?nm) WHERE { ?w s:name ?o }
               GROUP BY ?w }
             ?x s:name ?nm .
           } ORDER BY ?x""",
    )
    rows = [(r.x, r.w) for r in out.collect()]
    assert rows == [
        ("<http://e/a>", "<http://e/a>"),
        ("<http://e/b>", "<http://e/b>"),
        ("<http://e/c>", "<http://e/c>"),
    ]


def test_construct_where_shorthand(spark):
    from argo_spark.ops.sparql import sparql_construct

    g = graph2(spark)
    full = sparql_construct(
        g,
        """PREFIX s: <http://schema.org/>
           CONSTRUCT { ?w s:name ?n } WHERE { ?w s:name ?n }""",
    )
    short = sparql_construct(
        g,
        """PREFIX s: <http://schema.org/>
           CONSTRUCT WHERE { ?w s:name ?n }""",
    )
    cols = short.columns
    assert short.select(*cols).exceptAll(full.select(*cols)).count() == 0
    assert short.count() == full.count() == 3
    with pytest.raises(SparqlSyntaxError, match="plain triple block"):
        sparql_construct(
            g,
            """PREFIX s: <http://schema.org/>
               CONSTRUCT WHERE { ?w s:name ?n FILTER(BOUND(?w)) }""",
        )


def test_third_review_fixes(spark):
    """Round-4 third-review regressions: empty ungrouped SAMPLE join,
    CONSTRUCT WHERE path leak, UNION non-NT/NT merge."""
    from argo_spark.ops.sparql import sparql_construct

    g = graph2(spark)
    # (1) ungrouped SAMPLE over an empty pattern yields a NULL alias;
    # since round 4b that joins via the compatibility relation — the
    # unbound ?nm merges with every name (it used to raise)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?x WHERE {
             { SELECT (SAMPLE(?o) AS ?nm)
               WHERE { ?w <http://nope> ?o } }
             ?x s:name ?nm .
           }""",
    )
    assert sorted(r.x for r in out.collect()) == [
        "<http://e/a>", "<http://e/b>", "<http://e/c>"
    ]
    # (2) CONSTRUCT WHERE with a sequence path leaks internal vars
    with pytest.raises(SparqlSyntaxError, match="plain triple block"):
        sparql_construct(
            g,
            """PREFIX s: <http://schema.org/>
               CONSTRUCT WHERE { ?s s:knows/s:name ?o }""",
        )
    # (3) UNION of a subquery aggregate alias with an NT binding of
    # the same name raises instead of ANSI-crashing at runtime
    with pytest.raises(SparqlSyntaxError, match="UNION merges"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?n WHERE {
                 { { SELECT (COUNT(?o) AS ?n) WHERE { ?w ?p ?o } } }
                 UNION { ?x s:name ?n }
               }""",
        )


def test_isnumeric(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?o WHERE { ?w ?p ?o . FILTER(ISNUMERIC(?o)) }""",
    )
    got = sorted(r.o for r in out.collect())
    assert got == [
        '"36"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"7"^^<http://www.w3.org/2001/XMLSchema#integer>',
    ]
    # IRIs and plain non-numeric literals are excluded; unbound errors
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?w s:name ?n OPTIONAL { ?w s:age ?a }
             FILTER(!ISNUMERIC(?n) && ISNUMERIC(?a))
           }""",
    )
    assert {r.n for r in out.collect()} == {'"Ada"', '"Bob"@en'}


def test_string_builtins_round4b(spark):
    g = graph2(spark)
    # SUBSTR + CONCAT projection
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT (CONCAT(SUBSTR(?n, 1, 2), "…") AS ?c) WHERE {
             ?w s:name ?n . FILTER(STRBEFORE(?n, "a") = "C")
           }""",
    )
    assert [r.c for r in out.collect()] == ['"Ca…"']
    # STRAFTER in FILTER; empty pattern returns the source
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?w s:name ?n
             FILTER(STRAFTER(?n, "o") = "b" && STRAFTER(?n, "") = ?n)
           }""",
    )
    assert [r.n for r in out.collect()] == ['"Bob"@en']
    # REPLACE with group reference and i flag
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT (REPLACE(?n, "(a)(d)", "$2$1", "i") AS ?r) WHERE {
             ?w s:name ?n . FILTER(?n = "Ada")
           }""",
    )
    assert [r.r for r in out.collect()] == ['"dAa"']
    # unsupported REPLACE flag rejected
    with pytest.raises(SparqlSyntaxError, match="REPLACE flag"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?n WHERE {
                 ?w s:name ?n . FILTER(REPLACE(?n, "a", "b", "q") = "x")
               }""",
        )


def test_numeric_builtins(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?w s:name ?n . ?w s:age ?a .
             FILTER(CEIL(?a / 10) = 4 && FLOOR(?a / 10) = 3
                    && ABS(0 - ?a) = 36 && ROUND(?a / 8) = 5)
           }""",
    )
    # 36/8 = 4.5 -> ROUND (half toward +inf) = 5
    assert [r.n for r in out.collect()] == ['"Ada"']


def test_in_not_in(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n . FILTER(?n IN ("Ada", "Cat")) }""",
    )
    assert sorted(r.n for r in out.collect()) == ['"Ada"', '"Cat"']
    # term-equality: the @en tag distinguishes members
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n . FILTER(?n IN ("Bob")) }""",
    )
    assert [r.n for r in out.collect()] == []
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w WHERE {
             ?w s:name ?n . FILTER(?w NOT IN (<http://e/a>, <http://e/c>))
           }""",
    )
    assert [r.w for r in out.collect()] == ["<http://e/b>"]
    # numeric members compare in the value space
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?a WHERE { ?w s:age ?a . FILTER(?a IN (36, 99)) }""",
    )
    assert [r.a for r in out.collect()] == [
        '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'
    ]
    # empty lists are constant
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n . FILTER(?n NOT IN ()) }""",
    )
    assert out.count() == 3
    with pytest.raises(SparqlSyntaxError, match="IN list"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?n WHERE { ?w s:name ?n . FILTER(?n IN (?w)) }""",
        )


def test_predicate_object_lists(spark):
    g = graph2(spark)
    # ';' shares the subject, ',' shares subject+predicate
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?a WHERE { ?w s:name ?n ; s:age ?a . }""",
    )
    got = {(r.n, r.a) for r in out.collect()}
    assert got == {
        ('"Ada"', '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ('"Bob"@en', '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    }
    # equivalent to the two-triple spelling
    out2 = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?a WHERE { ?w s:name ?n . ?w s:age ?a . }""",
    )
    assert {(r.n, r.a) for r in out2.collect()} == got
    # object list: ?w has both name-values? none shares two names, so
    # use constants — who is named Ada AND aged 36
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w WHERE { ?w s:name "Ada" ; s:age ?a . FILTER(?a = 36) }""",
    )
    assert [r.w for r in out.collect()] == ["<http://e/a>"]
    # ',' object list — subject typed Person AND named: both objects
    # of s:name for the same subject (tests join multiplicity)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w ?n WHERE { ?w s:name ?n , "Ada" . }""",
    )
    assert {(r.w, r.n) for r in out.collect()} == {("<http://e/a>", '"Ada"')}
    # trailing '; .' form
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n ; . }""",
    )
    assert out.count() == 3
    # ';' mixes with paths and 'a'
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w a s:Person ; s:name ?n . }""",
    )
    assert sorted(r.n for r in out.collect()) == ['"Ada"', '"Bob"@en']


def test_base_iri_resolution(spark):
    # §4.1.1 (round 5b): BASE resolves relative IRIs per RFC 3986 —
    # in patterns, datatypes, PREFIX declarations (prologue order),
    # DESCRIBE lists, FROM clauses and Update ops; absolute IRIs
    # pass through
    g = graph2(spark)
    out = sparql_select(
        g,
        """BASE <http://schema.org/>
           SELECT ?n WHERE { ?w <name> ?n . ?w <age> ?a }""",
    )
    assert sorted(r.n for r in out.collect()) == ['"Ada"', '"Bob"@en']
    # PREFIX IRIs resolve against the base in effect when declared;
    # a second BASE chains against the first
    out = sparql_select(
        g,
        """BASE <http://schema.org/x>
           PREFIX s: <./>
           BASE <http://nowhere.example/>
           SELECT ?n WHERE { ?w s:name ?n . ?w s:age ?a }""",
    )
    assert sorted(r.n for r in out.collect()) == ['"Ada"', '"Bob"@en']
    # update: INSERT DATA with relative IRIs
    from argo_spark.ops.sparql import sparql_update
    out = sparql_update(
        g,
        'BASE <http://e/> INSERT DATA { <d> <touched> "yes" }',
    )
    assert ("http://e/d", "http://e/touched") in {
        (r.s_value, r.p_value) for r in out.collect()
    }


def test_blank_nodes_in_patterns(spark):
    g = graph2(spark)
    # _:label is a non-projected join variable
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { _:w s:name ?n . _:w s:age ?a . }""",
    )
    assert sorted(r.n for r in out.collect()) == ['"Ada"', '"Bob"@en']
    assert out.columns == ["n"]
    # SELECT * never projects the bnode var
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT * WHERE { _:w s:name ?n }""",
    )
    assert out.columns == ["n"]
    # anonymous [ ... ] property list in subject position, standing
    # alone as the whole triple
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { [ s:name ?n ; s:age ?a ] . }""",
    )
    assert sorted(r.n for r in out.collect()) == ['"Ada"', '"Bob"@en']
    # [ ... ] in object position joins through the fresh variable —
    # every subject with a name (objects of [ ] impose no constraint
    # beyond existence of the name triple)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w WHERE { ?w s:name [] . }""",
    )
    assert out.count() == 3
    # nesting: subject list whose object is itself a list is two
    # fresh variables — degenerate but grammatical
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { [ s:name ?n ] . FILTER(STRLEN(?n) = 3) }""",
    )
    assert sorted(r.n for r in out.collect()) == ['"Ada"', '"Bob"@en', '"Cat"']
    # blank node in predicate position is rejected
    with pytest.raises(SparqlSyntaxError, match="predicate"):
        sparql_select(g, "SELECT ?s WHERE { ?s _:p ?o }")
    # blank nodes in CONSTRUCT templates generate fresh-per-solution
    # nodes (spec 16.2.1, see test_construct_template_blank_nodes);
    # in the WHERE pattern they are plain join variables
    from argo_spark.ops.sparql import sparql_construct
    out = sparql_construct(
        g,
        """PREFIX s: <http://schema.org/>
           CONSTRUCT { _:x s:name ?n } WHERE { ?w s:name ?n }""",
    )
    rows = out.collect()
    assert len(rows) == 3 and len({r.s_value for r in rows}) == 3
    assert all(r.s_kind == 1 for r in rows)  # kind 1 = blank node
    out = sparql_construct(
        g,
        """PREFIX s: <http://schema.org/>
           CONSTRUCT { ?w s:label ?n } WHERE { [ s:name ?n ] . ?w s:name ?n }""",
    )
    assert out.count() == 3
    # VALUES data may not contain blank nodes (or variables)
    with pytest.raises(SparqlSyntaxError, match="constant"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?n WHERE { ?w s:name ?n . VALUES ?n { _:x } }""",
        )


def test_order_by_expressions(spark):
    g = graph2(spark)
    # bare builtin key: ascending by name length (Ada=3 Bob=3 Cat=3 —
    # all ties; use STRAFTER to vary) — use STRLEN of the ucased
    # concat to get distinct keys instead: order by numeric age expr
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n . ?w s:age ?a }
           ORDER BY DESC(?a * 2)""",
    )
    assert [r.n for r in out.collect()] == ['"Ada"', '"Bob"@en']
    # parenthesized arithmetic ascending
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n . ?w s:age ?a }
           ORDER BY (0 - ?a)""",
    )
    assert [r.n for r in out.collect()] == ['"Ada"', '"Bob"@en']
    # string expression key: UCASE lexical order
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n } ORDER BY DESC(UCASE(?n))""",
    )
    assert [r.n for r in out.collect()] == ['"Cat"', '"Bob"@en', '"Ada"']
    # expression keys + LIMIT still plan as top-k, and mixing with a
    # var key works
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n }
           ORDER BY STRLEN(?n) ?n LIMIT 2""",
    )
    assert [r.n for r in out.collect()] == ['"Ada"', '"Bob"@en']
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # DISTINCT guard sees expression-key variables
    with pytest.raises(SparqlSyntaxError, match="non-selected"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT DISTINCT ?n WHERE { ?w s:name ?n . ?w s:age ?a }
               ORDER BY DESC(?a + 1)""",
        )


def test_expr_projection_with_aggregates(spark):
    g = graph2(spark)
    # numeric expression over an aggregate alias -> native double
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w (SUM(?a) AS ?t) (?t / 2 AS ?half)
           WHERE { ?w s:age ?a } GROUP BY ?w""",
    )
    got = {r.w: (r.t, r.half) for r in out.collect()}
    assert got == {
        "<http://e/a>": (36.0, 18.0),
        "<http://e/b>": (7.0, 3.5),
    }
    # string expression over a group key -> plain literal
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT (STRAFTER(STR(?w), "e/") AS ?short) (COUNT(?a) AS ?c)
           WHERE { ?w s:age ?a } GROUP BY ?w""",
    )
    got = {r.short: r.c for r in out.collect()}
    assert got == {'"a"': 1, '"b"': 1}
    # ungrouped aggregate + expression
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT (COUNT(?a) AS ?c) (?c + 1 AS ?c1)
           WHERE { ?w s:age ?a }""",
    )
    r = out.collect()[0]
    assert (r.c, r.c1) == (2, 3.0)
    # expression over GROUP BY keys with no aggregates at all
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT (UCASE(?n) AS ?u) WHERE { ?w s:name ?n } GROUP BY ?n""",
    )
    assert sorted(r.u for r in out.collect()) == ['"ADA"', '"BOB"', '"CAT"']
    # out-of-scope reference is rejected
    with pytest.raises(SparqlSyntaxError, match="scope"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?w (COUNT(?a) AS ?c) (?n AS ?x)
               WHERE { ?w s:age ?a . ?w s:name ?n } GROUP BY ?w""",
        )


def test_having_inline_aggregates(spark):
    g = graph2(spark)
    # bare COUNT(...) in HAVING without projecting it
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w WHERE { ?w ?p ?o } GROUP BY ?w
           HAVING (COUNT(?o) >= 3)""",
    )
    assert sorted(r.w for r in out.collect()) == [
        "<http://e/a>", "<http://e/b>"
    ]
    assert out.columns == ["w"]
    # mixing an inline aggregate with a projected alias, two
    # constraints (both must hold)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w (COUNT(?o) AS ?c) WHERE { ?w ?p ?o } GROUP BY ?w
           HAVING (COUNT(?p) > 10) (?c >= 1)""",
    )
    # no subject has more than 3 triples -> both constraints prune
    assert out.count() == 0
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w (COUNT(?o) AS ?c) WHERE { ?w s:age ?o } GROUP BY ?w
           HAVING (MAX(?o) > 10) (?c = 1)""",
    )
    got = {r.w: r.c for r in out.collect()}
    assert got == {"<http://e/a>": 1}
    # outside HAVING, a bare aggregate call is still a syntax error
    with pytest.raises(SparqlSyntaxError):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?w WHERE { ?w s:age ?a . FILTER(COUNT(?a) > 1) }""",
        )


def test_group_by_expression(spark):
    g = graph2(spark)
    # group on a computed key: first letter of the name
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?k (COUNT(?n) AS ?c)
           WHERE { ?w s:name ?n }
           GROUP BY (SUBSTR(?n, 1, 1) AS ?k)""",
    )
    got = {r.k: r.c for r in out.collect()}
    assert got == {'"A"': 1, '"B"': 1, '"C"': 1}
    # computed key + plain key together; HAVING over the alias count
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?k ?p (COUNT(?o) AS ?c)
           WHERE { ?w ?p ?o . ?w s:name ?n }
           GROUP BY (STRLEN(?n) AS ?k) ?p
           HAVING (COUNT(?o) >= 3)""",
    )
    got = {(r.k, r.p): r.c for r in out.collect()}
    # every name has length 3 -> one group per predicate; name+age+type
    assert got[('"3"', "<http://schema.org/name>")] == 3
    with pytest.raises(SparqlSyntaxError, match="AS"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT (COUNT(?n) AS ?c) WHERE { ?w s:name ?n }
               GROUP BY (SUBSTR(?n, 1, 1))""",
        )


def test_hash_builtins_and_constructors(spark):
    import hashlib
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT (MD5(?n) AS ?h) (SHA256(?n) AS ?h2)
           WHERE { ?w s:name ?n . FILTER(?n = "Ada") }""",
    )
    r = out.collect()[0]
    assert r.h == '"' + hashlib.md5(b"Ada").hexdigest() + '"'
    assert r.h2 == '"' + hashlib.sha256(b"Ada").hexdigest() + '"'
    # IRI constructor in BIND makes a real IRI term
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?u WHERE {
             ?w s:name ?n . FILTER(?n = "Ada")
             BIND(IRI(CONCAT("http://x/", ?n)) AS ?u)
           }""",
    )
    assert [r.u for r in out.collect()] == ["<http://x/Ada>"]
    # STRDT / STRLANG build typed and tagged literals
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
           SELECT ?t ?l WHERE {
             ?w s:name ?n . FILTER(?n = "Cat")
             BIND(STRDT(STR(?n), xsd:token) AS ?t)
             BIND(STRLANG(STR(?n), "en-GB") AS ?l)
           }""",
    )
    r = out.collect()[0]
    assert r.t == '"Cat"^^<http://www.w3.org/2001/XMLSchema#token>'
    assert r.l == '"Cat"@en-GB'
    # constructed terms join with real ones via sameTerm
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w WHERE {
             ?w s:name ?n .
             FILTER(SAMETERM(IRI(CONCAT("http://e/", "a")), ?w))
           }""",
    )
    assert [r.w for r in out.collect()] == ["<http://e/a>"]


def test_select_reduced(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT REDUCED ?p WHERE { ?w ?p ?o }""",
    )
    got = sorted(r.p for r in out.collect())
    assert got == [
        "<http://schema.org/age>",
        "<http://schema.org/name>",
        "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
    ]


def chain_graph(spark):
    """a -knows-> b -knows-> c; a -worksAt-> w1; c -worksAt-> w2;
    plus names, for nested-closure tests."""
    E = "http://e/"
    K, W, N = E + "knows", E + "worksAt", E + "name"
    return TripleGraph.of(
        spark,
        [
            TripleT(iri(E + "a"), iri(K), iri(E + "b")),
            TripleT(iri(E + "b"), iri(K), iri(E + "c")),
            TripleT(iri(E + "a"), iri(W), iri(E + "w1")),
            TripleT(iri(E + "c"), iri(W), iri(E + "w2")),
            TripleT(iri(E + "w2"), iri(N), literal("Acme")),
        ],
    ).df


def test_closure_in_sequence(spark):
    g = chain_graph(spark)
    # knows+ then worksAt: everyone reachable by >=1 knows hop who
    # works somewhere — from a: b (no job), c -> w2; from b: c -> w2
    out = sparql_select(
        g,
        """PREFIX e: <http://e/>
           SELECT ?s ?w WHERE { ?s e:knows+/e:worksAt ?w }""",
    )
    got = {(r.s, r.w) for r in out.collect()}
    assert got == {
        ("<http://e/a>", "<http://e/w2>"),
        ("<http://e/b>", "<http://e/w2>"),
    }
    # closure mid-sequence with a trailing plain step to a literal
    out = sparql_select(
        g,
        """PREFIX e: <http://e/>
           SELECT ?s ?n WHERE { ?s e:knows+/e:worksAt/e:name ?n }""",
    )
    got = {(r.s, r.n) for r in out.collect()}
    assert got == {
        ("<http://e/a>", '"Acme"'),
        ("<http://e/b>", '"Acme"'),
    }
    # zero-or-more composes: knows*/worksAt includes each node's own
    # job (zero-length) plus downstream jobs
    out = sparql_select(
        g,
        """PREFIX e: <http://e/>
           SELECT ?s ?w WHERE { ?s e:knows*/e:worksAt ?w }""",
    )
    got = {(r.s, r.w) for r in out.collect()}
    assert ("<http://e/a>", "<http://e/w1>") in got   # zero-length
    assert ("<http://e/a>", "<http://e/w2>") in got   # two hops
    assert ("<http://e/c>", "<http://e/w2>") in got   # zero-length
    # closure inside an alternation branch
    out = sparql_select(
        g,
        """PREFIX e: <http://e/>
           SELECT ?s ?o WHERE { ?s e:knows+|e:worksAt ?o .
                                FILTER(?s = e:a) }""",
    )
    got = {r.o for r in out.collect()}
    assert got == {"<http://e/b>", "<http://e/c>", "<http://e/w1>"}
    # inverse closure in a sequence: ^knows+ from b/c reaches a,
    # which works at w1
    out = sparql_select(
        g,
        """PREFIX e: <http://e/>
           SELECT ?s WHERE { ?s ^e:knows+/e:worksAt ?w .
                             FILTER(?w = e:w1) }""",
    )
    assert {r.s for r in out.collect()} == {"<http://e/b>", "<http://e/c>"}
    out = sparql_select(
        g,
        """PREFIX e: <http://e/>
           SELECT ?s WHERE { ?s ^e:knows+ ?o . FILTER(?o = e:a) }""",
    )
    assert {r.s for r in out.collect()} == {"<http://e/b>", "<http://e/c>"}


def test_aggregate_over_expression(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT (SUM(?a * 2) AS ?t) (AVG(STRLEN(?n)) AS ?len)
                  (MAX(?a / 10) AS ?m) (COUNT(STRAFTER(?n, "o")) AS ?c)
           WHERE { ?w s:name ?n . ?w s:age ?a }""",
    )
    r = out.collect()[0]
    # ages 36, 7 -> sum*2 = 86; names Ada/Bob len 3; max 3.6;
    # STRAFTER never errors on bound strings -> count 2
    assert (r.t, r.len, r.m, r.c) == (86.0, 3.0, 3.6, 2)
    # grouped expression aggregate + HAVING over it inline
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w (SUM(?a + 1) AS ?t) WHERE { ?w s:age ?a }
           GROUP BY ?w HAVING (SUM(?a + 1) > 10)""",
    )
    got = {r.w: r.t for r in out.collect()}
    assert got == {"<http://e/a>": 37.0}
    # GROUP_CONCAT over an expression stays rejected
    with pytest.raises(SparqlSyntaxError, match="expression"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT (GROUP_CONCAT(UCASE(?n)) AS ?g)
               WHERE { ?w s:name ?n }""",
        )


def test_sparql_update(spark):
    from argo_spark.ops.sparql import sparql_update

    g = graph2(spark)
    n0 = g.count()

    def nts(df):
        from argo_spark.terms import triple_nt_col
        return {r[0] for r in df.select(triple_nt_col()).collect()}

    # INSERT DATA adds new triples once, skips existing ones
    g2 = sparql_update(
        g,
        """PREFIX s: <http://schema.org/>
           INSERT DATA {
             <http://e/d> s:name "Dee" .
             <http://e/a> s:name "Ada" .
           }""",
    )
    assert g2.count() == n0 + 1  # "Ada" already present
    assert any("Dee" in t for t in nts(g2))
    # DELETE DATA removes exactly the listed triple
    g3 = sparql_update(
        g2,
        """PREFIX s: <http://schema.org/>
           DELETE DATA { <http://e/d> s:name "Dee" }""",
    )
    assert g3.count() == n0
    # DELETE WHERE: pattern doubles as template — drop all ages
    g4 = sparql_update(
        g,
        """PREFIX s: <http://schema.org/>
           DELETE WHERE { ?w s:age ?a }""",
    )
    assert g4.count() == n0 - 2
    assert not any("age" in t for t in nts(g4))
    # DELETE/INSERT WHERE: rename the name predicate, same solutions
    g5 = sparql_update(
        g,
        """PREFIX s: <http://schema.org/>
           DELETE { ?w s:name ?n } INSERT { ?w s:label ?n }
           WHERE { ?w s:name ?n }""",
    )
    assert g5.count() == n0
    got = nts(g5)
    assert not any("schema.org/name" in t for t in got)
    assert sum("schema.org/label" in t for t in got) == 3
    # ';'-chained ops apply sequentially
    g6 = sparql_update(
        g,
        """PREFIX s: <http://schema.org/>
           INSERT DATA { <http://e/d> s:name "Dee" } ;
           DELETE WHERE { ?w s:age ?a }""",
    )
    assert g6.count() == n0 + 1 - 2
    # INSERT ... WHERE with a FILTER in the pattern
    g7 = sparql_update(
        g,
        """PREFIX s: <http://schema.org/>
           INSERT { ?w s:adult "yes" } WHERE { ?w s:age ?a . FILTER(?a >= 18) }""",
    )
    assert g7.count() == n0 + 1
    assert any("adult" in t and "e/a" in t for t in nts(g7))
    # variables in DATA blocks are rejected
    with pytest.raises(SparqlSyntaxError, match="constant"):
        sparql_update(g, "INSERT DATA { ?x <http://e/p> <http://e/o> }")


def _quads(df):
    has_g = "g_value" in df.columns
    return sorted(
        (r.s_value, r.p_value, r.o_value,
         (r.g_value if has_g else None) or "")
        for r in df.collect()
    )


def test_sparql_update_graph_blocks(spark):
    # round 5: quad grammar — GRAPH blocks in DATA and templates,
    # WITH, USING; a g-less input only grows g_value when the
    # request references named graphs
    from argo_spark.ops.sparql import sparql_update

    g = TripleGraph.of(
        spark, [TripleT(iri("http://e/a"), iri("http://e/name"),
                        literal("Ada"))]
    ).df
    # g-less in, g-less request -> g-less out
    out = sparql_update(
        g, 'INSERT DATA { <http://e/b> <http://e/name> "Bob" }'
    )
    assert "g_value" not in out.columns
    # GRAPH block in INSERT DATA -> quad out, default rows NULL
    q1 = sparql_update(
        g,
        'INSERT DATA { GRAPH <http://g/1> '
        '{ <http://e/a> <http://e/age> "36" } }',
    )
    assert _quads(q1) == [
        ("http://e/a", "http://e/age", "36", "http://g/1"),
        ("http://e/a", "http://e/name", "Ada", ""),
    ]
    # WITH: WHERE reads graph 1, DELETE targets graph 1, the INSERT
    # template's GRAPH block overrides to graph 2
    q2 = sparql_update(
        q1,
        'WITH <http://g/1> DELETE { ?s <http://e/age> ?o } '
        'INSERT { GRAPH <http://g/2> { ?s <http://e/age> ?o } } '
        'WHERE { ?s <http://e/age> ?o }',
    )
    assert _quads(q2) == [
        ("http://e/a", "http://e/age", "36", "http://g/2"),
        ("http://e/a", "http://e/name", "Ada", ""),
    ]
    # USING overrides the WHERE dataset (age lives in graph 2 only)
    q3 = sparql_update(
        q2,
        'INSERT { ?s <http://e/seen> "y" } USING <http://g/2> '
        'WHERE { ?s <http://e/age> ?o }',
    )
    assert ("http://e/a", "http://e/seen", "y", "") in _quads(q3)
    # GRAPH ?var in WHERE and template: bind the graph name per
    # solution and write back into the SAME graph
    q4 = sparql_update(
        q2,
        'INSERT { GRAPH ?g { ?s <http://e/from> ?g } } '
        'WHERE { GRAPH ?g { ?s <http://e/age> ?o } }',
    )
    assert (
        "http://e/a", "http://e/from", "http://g/2", "http://g/2"
    ) in _quads(q4)
    # DELETE WHERE with a GRAPH block deletes from that graph only
    q5 = sparql_update(
        q2, 'DELETE WHERE { GRAPH <http://g/2> { ?s ?p ?o } }'
    )
    assert _quads(q5) == [("http://e/a", "http://e/name", "Ada", "")]
    # WITH on a DATA block is rejected (spec: DATA has no WHERE)
    with pytest.raises(SparqlSyntaxError, match="WITH"):
        sparql_update(
            q2, 'WITH <http://g/1> INSERT DATA { <s> <p> <o> }'
        )


def test_sparql_update_graph_management(spark):
    # round 5: CLEAR/DROP/CREATE/COPY/MOVE/ADD over the quad frame
    from argo_spark.ops.sparql import sparql_update

    g = TripleGraph.of(
        spark, [TripleT(iri("http://e/a"), iri("http://e/name"),
                        literal("Ada"))]
    ).df
    q = sparql_update(
        g,
        'INSERT DATA { GRAPH <http://g/1> '
        '{ <http://e/a> <http://e/age> "36" . '
        '  <http://e/b> <http://e/age> "7" } }',
    )
    # COPY replaces the destination wholesale (default had Ada)
    out = sparql_update(q, 'COPY GRAPH <http://g/1> TO DEFAULT')
    assert _quads(out) == [
        ("http://e/a", "http://e/age", "36", ""),
        ("http://e/a", "http://e/age", "36", "http://g/1"),
        ("http://e/b", "http://e/age", "7", ""),
        ("http://e/b", "http://e/age", "7", "http://g/1"),
    ]
    # MOVE = COPY + drop the source; same src/dst is a no-op
    out = sparql_update(q, 'MOVE GRAPH <http://g/1> TO GRAPH <http://g/2>')
    assert {r[3] for r in _quads(out)} == {"", "http://g/2"}
    assert _quads(sparql_update(
        q, 'MOVE GRAPH <http://g/1> TO GRAPH <http://g/1>')) == _quads(q)
    # ADD is set-semantic insertion, source untouched
    out = sparql_update(q, 'ADD DEFAULT TO GRAPH <http://g/1>')
    assert (
        "http://e/a", "http://e/name", "Ada", "http://g/1"
    ) in _quads(out)
    assert ("http://e/a", "http://e/name", "Ada", "") in _quads(out)
    # CLEAR DEFAULT empties the default graph only; DROP ALL empties
    assert {r[3] for r in _quads(sparql_update(q, 'CLEAR DEFAULT'))} \
        == {"http://g/1"}
    assert sparql_update(q, 'DROP ALL').count() == 0
    assert {r[3] for r in _quads(sparql_update(q, 'DROP NAMED'))} == {""}
    # DROP GRAPH on the promoted frame empties that graph and the
    # frame stays quad
    out = sparql_update(q, 'DROP GRAPH <http://g/1>')
    assert "g_value" in out.columns
    assert [r.g_value for r in out.collect()] == [None]
    # missing graph: error without SILENT, no-op with
    with pytest.raises(ValueError, match="does not exist"):
        sparql_update(q, 'DROP GRAPH <http://g/404>').count()
    assert sparql_update(
        q, 'DROP SILENT GRAPH <http://g/404>').count() == q.count()
    with pytest.raises(ValueError, match="does not exist"):
        sparql_update(q, 'COPY GRAPH <http://g/404> TO DEFAULT').count()
    # CREATE validates and no-ops (empty graphs are not recorded)
    assert sparql_update(
        q, 'CREATE GRAPH <http://g/9>').count() == q.count()
    # LOAD needs a document IRI, not a variable
    with pytest.raises(SparqlSyntaxError, match="document IRI"):
        sparql_update(q, 'LOAD ?doc')


def test_sparql_update_load(spark, tmp_path):
    # §3.1.4 (round 5b): LOAD reads through the rdf CLI's format
    # registry; INTO GRAPH flattens into the target graph; parse
    # errors fail the operation unless SILENT
    from argo_spark.ops.sparql import sparql_update

    nt = tmp_path / "ld.nt"
    nt.write_text('<http://e/c> <http://e/name> "Cee" .\n')
    nq = tmp_path / "ld.nq"
    nq.write_text(
        '<http://e/d> <http://e/name> "Dee" <http://g/7> .\n'
    )
    bad = tmp_path / "bad.nt"
    bad.write_text("not a triple\n")
    g = TripleGraph.of(
        spark,
        [TripleT(iri("http://e/a"), iri("http://e/name"),
                 literal("Ada"))],
    ).df
    # plain LOAD of a triple doc: g-less in, g-less out
    out = sparql_update(g, f"LOAD <{nt}>")
    assert sorted(r.s_value for r in out.collect()) == \
        ["http://e/a", "http://e/c"]
    assert "g_value" not in out.columns
    # INTO GRAPH
    out = sparql_update(g, f"LOAD <{nt}> INTO GRAPH <http://g/5>")
    assert sorted((r.s_value, r.g_value or "")
                  for r in out.collect()) == [
        ("http://e/a", ""), ("http://e/c", "http://g/5"),
    ]
    # a quad source keeps its graphs in a quad-mode request
    out = sparql_update(
        g, f"CREATE GRAPH <http://g/0> ; LOAD <{nq}>"
    )
    assert ("http://e/d", "http://g/7") in {
        (r.s_value, r.g_value) for r in out.collect()
    }
    # ...and flattens to the default graph in a triple-mode request
    out = sparql_update(g, f"LOAD <{nq}>")
    assert "g_value" not in out.columns
    assert sorted(r.s_value for r in out.collect()) == \
        ["http://e/a", "http://e/d"]
    # parse errors fail; SILENT no-ops (bad doc or missing doc)
    with pytest.raises(ValueError, match="parse errors"):
        sparql_update(g, f"LOAD <{bad}>").count()
    assert sparql_update(g, f"LOAD SILENT <{bad}>").count() == 1
    assert sparql_update(
        g, f"LOAD SILENT <{tmp_path}/none.nt>"
    ).count() == 1


def test_sparql_update_load_parses_once(spark, tmp_path):
    # LOAD of a file parses it once, during the update: the result
    # reads no file, so it survives the document's removal; two LOADs
    # (each a checkpoint, the second anti-joined against a frame
    # holding the first) return the union
    from argo_spark.ops.sparql import sparql_update

    a, b = tmp_path / "a.nt", tmp_path / "b.nt"
    a.write_text('<http://e/c> <http://e/name> "Cee" .\n')
    b.write_text(
        '<http://e/d> <http://e/name> "Dee" .\n'
        '<http://e/c> <http://e/name> "Cee" .\n'
    )
    g = TripleGraph.of(
        spark,
        [TripleT(iri("http://e/a"), iri("http://e/name"),
                 literal("Ada"))],
    ).df
    out = sparql_update(g, f"LOAD <{a}>")
    a.unlink()
    assert sorted(r.s_value for r in out.collect()) == \
        ["http://e/a", "http://e/c"]
    a.write_text('<http://e/c> <http://e/name> "Cee" .\n')
    out = sparql_update(g, f"LOAD <{a}> ; LOAD <file://{b}>")
    a.unlink()
    b.unlink()
    assert sorted(r.s_value for r in out.collect()) == \
        ["http://e/a", "http://e/c", "http://e/d"]


def test_sparql_update_load_http(spark, tmp_path):
    # an http(s) document IRI is fetched through cli.parse_http: the
    # loaded triples outlive the temp file, which is removed
    import glob
    import http.server
    import os
    import tempfile
    import threading

    from argo_spark.ops.sparql import sparql_update

    (tmp_path / "g.nt").write_text('<http://e/h1> <http://e/p> "via-http" .\n')
    (tmp_path / "bad.nt").write_text("not a triple\n")
    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(tmp_path), **kw
    )
    httpd = http.server.HTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    temps = os.path.join(tempfile.gettempdir(), "argo_url_*")
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        g = TripleGraph.of(
            spark,
            [TripleT(iri("http://e/a"), iri("http://e/name"),
                     literal("Ada"))],
        ).df
        before = set(glob.glob(temps))
        out = sparql_update(g, f"LOAD <{base}/g.nt>")
        assert set(glob.glob(temps)) == before  # no temp leak
        assert sorted(r.o_value for r in out.collect()) == ["Ada", "via-http"]
        with pytest.raises(ValueError, match="parse errors"):
            sparql_update(g, f"LOAD <{base}/bad.nt>").count()
        assert sparql_update(g, f"LOAD SILENT <{base}/bad.nt>").count() == 1
    finally:
        httpd.shutdown()


def test_exists_in_expression(spark):
    g = graph2(spark)
    # EXISTS composed under || : has an age OR is named Cat
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?w s:name ?n .
             FILTER(EXISTS { ?w s:age ?a } || ?n = "Cat")
           }""",
    )
    assert sorted(r.n for r in out.collect()) == ['"Ada"', '"Bob"@en', '"Cat"']
    # NOT EXISTS under && with a comparison
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?w s:name ?n .
             FILTER(NOT EXISTS { ?w s:age ?a } && STRLEN(?n) = 3)
           }""",
    )
    assert [r.n for r in out.collect()] == ['"Cat"']
    # negation of a composed EXISTS
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?w s:name ?n .
             FILTER(!(EXISTS { ?w s:age ?a } || ?n = "Cat"))
           }""",
    )
    assert out.count() == 0
    # two EXISTS marks in one filter
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?w s:name ?n .
             FILTER(EXISTS { ?w s:age ?a }
                    || EXISTS { ?w s:name "Cat" })
           }""",
    )
    assert sorted(r.n for r in out.collect()) == ['"Ada"', '"Bob"@en', '"Cat"']
    # standalone FILTER EXISTS still works (fast path)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n . FILTER EXISTS { ?w s:age ?a } }""",
    )
    assert sorted(r.n for r in out.collect()) == ['"Ada"', '"Bob"@en']


def test_trailing_values(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE { ?w s:name ?n }
           ORDER BY ?n LIMIT 10
           VALUES ?n { "Ada" "Cat" "Zed" }""",
    )
    assert [r.n for r in out.collect()] == ['"Ada"', '"Cat"']
    # trailing VALUES joins BEFORE aggregation (it is pattern data)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT (COUNT(?n) AS ?c) WHERE { ?w s:name ?n }
           VALUES ?n { "Ada" "Bob" }""",
    )
    # "Bob" in the graph is @en-tagged — only "Ada" matches
    assert [r.c for r in out.collect()] == [1]
    # works on CONSTRUCT too
    from argo_spark.ops.sparql import sparql_construct
    out = sparql_construct(
        g,
        """PREFIX s: <http://schema.org/>
           CONSTRUCT { ?w s:tag ?n } WHERE { ?w s:name ?n }
           VALUES ?n { "Cat" }""",
    )
    assert out.count() == 1


def test_subquery_as_union_branch(spark):
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             { SELECT ?n WHERE { ?w s:name ?n } ORDER BY ?n LIMIT 1 }
             UNION
             { ?w s:name "Cat" . ?w s:name ?n }
           }""",
    )
    assert sorted(r.n for r in out.collect()) == ['"Ada"', '"Cat"']
    # aggregate-alias vs NT-binding merge still raises
    with pytest.raises(SparqlSyntaxError, match="UNION merges"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?c WHERE {
                 { SELECT (COUNT(?w) AS ?c) WHERE { ?w s:name ?n } }
                 UNION { ?x s:name ?c }
               }""",
        )


def test_exists_filter_in_optional_outer_var_guard(spark):
    # a composed-EXISTS filter inside OPTIONAL referencing an OUTER
    # variable must raise like any other LeftJoin-expression case,
    # not silently evaluate the outer var as unbound
    g = graph2(spark)
    with pytest.raises(SparqlSyntaxError, match="outer variables"):
        sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?n WHERE {
                 ?w s:name ?n .
                 OPTIONAL {
                   ?w s:age ?a .
                   FILTER(EXISTS { ?w s:name ?x } || ?n = "Ada")
                 }
               }""",
        )
    # inner-var-only composed EXISTS inside OPTIONAL is fine
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?a WHERE {
             ?w s:name ?n .
             OPTIONAL {
               ?w s:age ?a .
               FILTER(EXISTS { ?w s:name ?x } && ?a > 10)
             }
           }""",
    )
    got = {(r.n, r.a) for r in out.collect()}
    assert got == {
        ('"Ada"', '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ('"Bob"@en', None),
        ('"Cat"', None),
    }


def test_optional_leftjoin_expression(spark):
    g = graph2(spark)
    # spec example shape: the OPTIONAL binds only when the join-level
    # expression over OUTER + inner variables holds; otherwise the
    # left row survives with the optional side unbound
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?a WHERE {
             ?w s:name ?n .
             OPTIONAL { ?w s:age ?a . FILTER(?n = "Ada") }
           }""",
    )
    got = {(r.n, r.a) for r in out.collect()}
    assert got == {
        ('"Ada"', '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ('"Bob"@en', None),   # filter false -> left row alone
        ('"Cat"', None),      # no age at all
    }
    # outer+inner comparison in the condition
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?a WHERE {
             ?w s:name ?n .
             OPTIONAL { ?w s:age ?a . FILTER(STRLEN(?n) + ?a > 20) }
           }""",
    )
    got = {(r.n, r.a) for r in out.collect()}
    # Ada: 3+36>20 bind; Bob: 3+7 not >20 -> unbound; Cat no age
    assert got == {
        ('"Ada"', '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ('"Bob"@en', None),
        ('"Cat"', None),
    }
    # expression ERROR (unbound third var) keeps the left row alone
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?a WHERE {
             ?w s:name ?n .
             OPTIONAL { ?w s:age ?a . FILTER(?n = "Ada" && BOUND(?a)) }
           }""",
    )
    assert out.count() == 3
    # inner-only filters still evaluate inside the subgroup
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?a WHERE {
             ?w s:name ?n .
             OPTIONAL { ?w s:age ?a . FILTER(?a > 10) FILTER(?n != "x") }
           }""",
    )
    got = {(r.n, r.a) for r in out.collect()}
    assert got == {
        ('"Ada"', '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ('"Bob"@en', None),
        ('"Cat"', None),
    }


def test_minus_compatibility_with_unbound(spark):
    # §8.3.3 with a possibly-unbound shared variable: an unbound ?age
    # on the LEFT is compatible with every RHS row but shares no
    # bound var — no domain overlap, so it is NOT removed
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?age WHERE {
             ?w s:name ?n OPTIONAL { ?w s:age ?age }
             MINUS { ?x s:age ?age }
           }""",
    )
    got = {(r.n, r.age) for r in out.collect()}
    # Ada/Bob rows carry ages that some ?x binds -> removed;
    # Cat's unbound age -> kept
    assert got == {('"Cat"', None)}
    # all-bound MINUS still takes the equi-anti fast path (behavior
    # unchanged): remove by a bound shared var
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n WHERE {
             ?w s:name ?n MINUS { ?w s:age ?a }
           }""",
    )
    assert sorted(r.n for r in out.collect()) == ['"Cat"']


def test_compatibility_join_unbound(spark):
    # §18.5 Join over a possibly-unbound shared variable: a UNION
    # whose second branch leaves ?age unbound joins a pattern binding
    # ?age — unbound is compatible with anything and takes the bound
    # value in the merge
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w ?age WHERE {
             { ?w s:age ?age } UNION { ?w s:name "Cat" }
             ?x s:age ?age .
           }""",
    )
    got = {(r.w, r.age) for r in out.collect()}
    # branch 1: (a,36),(b,7) joined on equal ages with ?x rows;
    # branch 2: (c, unbound) compatible with BOTH ?x ages -> two
    # merged rows carrying each bound age
    assert got == {
        ("<http://e/a>", '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/b>", '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/c>", '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/c>", '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    }


def test_construct_compat_join(spark):
    # struct-mode (CONSTRUCT) compatibility join: the UNDEF VALUES
    # row merges with every name and the emitted triple carries the
    # MERGED term struct
    from argo_spark.ops.sparql import sparql_construct
    g = graph2(spark)
    out = sparql_construct(
        g,
        """PREFIX s: <http://schema.org/>
           CONSTRUCT { ?who s:tag ?n } WHERE {
             VALUES ?n { "Ada" UNDEF }
             ?who s:name ?n
           }""",
    )
    got = {(r.s_value, r.o_value, r.o_lang) for r in out.collect()}
    assert got == {
        ("http://e/a", "Ada", None),
        ("http://e/b", "Bob", "en"),
        ("http://e/c", "Cat", None),
    }


def test_compat_join_plans_hash_joins_only(spark):
    # round-5 scale fix: the §18.5 compatibility join decomposes into
    # a UNION OF HASH EQUI-JOINS over boundness legs. Mask tracking
    # knows every UNION branch binds exactly one of {?n, ?age}, so the
    # both-unbound cross leg is pruned and the EXECUTED plan contains
    # no nested-loop/cartesian operator at all.
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w ?n ?age WHERE {
             { ?w s:name ?n } UNION { ?w s:age ?age }
             ?w s:name ?n . ?w s:age ?age .
           }""",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    rows = sorted((r.w, r.n, r.age) for r in out.collect())
    a = ("<http://e/a>", '"Ada"',
         '"36"^^<http://www.w3.org/2001/XMLSchema#integer>')
    b = ("<http://e/b>", '"Bob"@en',
         '"7"^^<http://www.w3.org/2001/XMLSchema#integer>')
    # bag semantics: each entity matched once per UNION branch
    assert rows == [a, a, b, b]


def test_compat_minus_plans_hash_antijoins_only(spark):
    # the §8.3.3 MINUS decomposition: the unbound-?age leg is kept
    # outright (empty domain intersection removes nothing) and the
    # bound leg is a plain hash anti-join — no nested-loop plan
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?n ?age WHERE {
             ?w s:name ?n OPTIONAL { ?w s:age ?age }
             MINUS { ?x s:age ?age }
           }""",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert {(r.n, r.age) for r in out.collect()} == {('"Cat"', None)}


def test_optional_over_nullable_shared_var(spark):
    # OPTIONAL whose shared var may be unbound on the left used to
    # raise; now it runs via the boundness-decomposed LeftJoin. Cat's
    # unbound ?age is compatible with Ada's age row (merged binding
    # takes the bound side); Bob's 7 matches nothing -> null-extended.
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w ?age ?y WHERE {
             { ?w s:age ?age } UNION { ?w s:name "Cat" }
             OPTIONAL { ?y s:age ?age . ?y s:name "Ada" }
           }""",
    )
    got = {(r.w, r.age, r.y) for r in out.collect()}
    age36 = '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'
    age7 = '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'
    assert got == {
        ("<http://e/a>", age36, "<http://e/a>"),
        ("<http://e/b>", age7, None),
        ("<http://e/c>", age36, "<http://e/a>"),
    }


def test_optional_nullable_shared_var_deferred_filter(spark):
    # deferred LeftJoin expression (§18.2.1) over the decomposed
    # path: FILTER references outer ?n, so it evaluates on the MERGED
    # rows — only Cat's compat-matches survive as matches, everything
    # else null-extends
    g = graph2(spark)
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?w ?n ?age ?y WHERE {
             ?w s:name ?n
             { ?w s:age ?age } UNION { ?w s:name "Cat" }
             OPTIONAL { ?y s:age ?age FILTER(?n = "Cat") }
           }""",
    )
    got = {(r.w, r.n, r.age, r.y) for r in out.collect()}
    age36 = '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'
    age7 = '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'
    assert got == {
        ("<http://e/a>", '"Ada"', age36, None),
        ("<http://e/b>", '"Bob"@en', age7, None),
        ("<http://e/c>", '"Cat"', age36, "<http://e/a>"),
        ("<http://e/c>", '"Cat"', age7, "<http://e/b>"),
    }


def test_multi_leg_optional_and_minus_vs_python_oracle(spark):
    """OPTIONAL and MINUS whose two shared vars (?a, ?b) may be unbound
    on BOTH sides run the boundness decomposition with several legs
    (_compat_leftjoin_frames' per-leg anti-join against the matched
    rows, _compat_minus_frames' chained anti-joins, unions of legs).
    Pinned against brute-force §18.5 LeftJoin / §8.3.3 Minus on
    seeded random graphs, bag semantics included."""
    import random
    from collections import Counter

    E = "http://e/"
    right = """{ ?y <http://e/qa> ?a . ?y <http://e/qb> ?b }
               UNION { ?y <http://e/qa> ?a } UNION { ?y <http://e/qb> ?b }"""
    left = """?x <http://e/p> ?k
              OPTIONAL { ?x <http://e/a> ?a } OPTIONAL { ?x <http://e/b> ?b }"""

    vals = [f"{E}v{i}" for i in range(6)]  # the right side uses 4 of them

    def compatible(m1, m2):
        return all(m1[v] == m2[v] for v in m1.keys() & m2.keys())

    def bag(rows, cols):
        return Counter(tuple(r.get(c) for c in cols) for r in rows)

    for seed in range(3):
        rng = random.Random(seed)
        trips = set()
        for i in range(30):
            x = f"{E}x{i}"
            trips.add((x, E + "p", f"{E}k{i % 7}"))
            for pred in ("a", "b"):
                for _ in range(rng.choice([0, 0, 1, 1, 2])):
                    trips.add((x, E + pred, rng.choice(vals)))
        for i in range(12):
            for pred in ("qa", "qb"):
                if rng.random() < 0.6:
                    trips.add((f"{E}y{i}", E + pred, rng.choice(vals[:4])))
        g = TripleGraph.of(
            spark, [TripleT(iri(s_), iri(p_), iri(o_)) for s_, p_, o_ in sorted(trips)]
        ).df

        def objs(subj, pred):
            return [f"<{o_}>" for s_, p_, o_ in trips if s_ == subj and p_ == E + pred]

        omega1 = []
        for s_, p_, o_ in trips:
            if p_ == E + "p":
                for a in objs(s_, "a") or [None]:
                    for b in objs(s_, "b") or [None]:
                        mu = {"x": f"<{s_}>", "k": f"<{o_}>", "a": a, "b": b}
                        omega1.append({v: t for v, t in mu.items() if t is not None})
        omega2 = []
        for y in sorted({s_ for s_, p_, _ in trips if p_ in (E + "qa", E + "qb")}):
            ya, yb = objs(y, "qa"), objs(y, "qb")
            omega2 += [{"y": f"<{y}>", "a": a, "b": b} for a in ya for b in yb]
            omega2 += [{"y": f"<{y}>", "a": a} for a in ya]
            omega2 += [{"y": f"<{y}>", "b": b} for b in yb]

        cols = ["x", "k", "a", "b", "y"]
        want = []
        for m1 in omega1:
            merged = [{**m1, **m2} for m2 in omega2 if compatible(m1, m2)]
            want += merged or [m1]
        out = sparql_select(
            g, f"SELECT ?x ?k ?a ?b ?y WHERE {{ {left} OPTIONAL {{ {right} }} }}"
        )
        got = Counter(tuple(r) for r in out.select(*cols).collect())
        assert got == bag(want, cols), f"OPTIONAL, seed {seed}"

        cols = ["x", "k", "a", "b"]
        want = [
            m1 for m1 in omega1
            if not any(compatible(m1, m2) and m1.keys() & m2.keys()
                       for m2 in omega2)
        ]
        out = sparql_select(
            g, f"SELECT ?x ?k ?a ?b WHERE {{ {left} MINUS {{ {right} }} }}"
        )
        got = Counter(tuple(r) for r in out.select(*cols).collect())
        assert got == bag(want, cols), f"MINUS, seed {seed}"

        # §18.2.1 LeftJoin expression: the FILTER reads the outer ?k,
        # and the UNION repeats every left row, so rows with equal
        # ?a/?b but different ?k (or the same row twice) must each
        # get their own fate
        cols = ["x", "k", "a", "b", "y"]
        k0 = f"<{E}k0>"
        want = []
        for m1 in omega1 + omega1:
            merged = [{**m1, **m2} for m2 in omega2
                      if compatible(m1, m2) and m1["k"] != k0]
            want += merged or [m1]
        out = sparql_select(
            g,
            f"SELECT ?x ?k ?a ?b ?y WHERE {{ {{ {left} }} UNION "
            f"{{ {left} }} OPTIONAL {{ {right} FILTER(?k != {k0}) }} }}",
        )
        got = Counter(tuple(r) for r in out.select(*cols).collect())
        assert got == bag(want, cols), f"OPTIONAL FILTER, seed {seed}"


def test_compat_queries_leave_no_state_behind(spark):
    """Compat Join, MINUS and OPTIONAL plan straight from their
    inputs: they register no persisted RDD (a lazy localCheckpoint
    would) and no executed plan scans an ExistingRDD. The graph is a
    local relation, so any ExistingRDD would be a checkpoint."""
    from argo_spark.session import local_frame

    src = graph2(spark)
    g = local_frame(spark, src.collect(), src.schema)
    queries = [
        """SELECT ?n WHERE {
             VALUES ?n { "Ada" UNDEF } ?who s:name ?n }""",
        """SELECT ?w ?age WHERE {
             { ?w s:age ?age } UNION { ?w s:name "Cat" }
             ?x s:age ?age . }""",
        """SELECT ?n WHERE {
             ?who s:name ?n . OPTIONAL { ?who s:age ?age }
             ?x s:age ?age }""",
        """SELECT ?n ?age WHERE {
             ?w s:name ?n OPTIONAL { ?w s:age ?age }
             MINUS { ?x s:age ?age } }""",
        """SELECT ?w ?age ?y WHERE {
             { ?w s:age ?age } UNION { ?w s:name "Cat" }
             OPTIONAL { ?y s:age ?age . ?y s:name "Ada" } }""",
        """SELECT ?w ?n ?age ?y WHERE {
             ?w s:name ?n
             { ?w s:age ?age } UNION { ?w s:name "Cat" }
             OPTIONAL { ?y s:age ?age FILTER(?n = "Cat") } }""",
    ]
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    for q in queries:
        out = sparql_select(g, "PREFIX s: <http://schema.org/> " + q)
        assert out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, q
    assert set(persistent().keySet()) - before == set()


# -- named graphs (GRAPH / FROM / FROM NAMED) ------------------------------


def quad_graph(spark):
    """Default graph: a name; graph <http://g/1>: a age; graph
    <http://g/2>: b age + b name."""
    from pyspark.sql import functions as F

    E, S = "http://e/", "http://schema.org/"
    XSDI = "http://www.w3.org/2001/XMLSchema#integer"

    def tg(triples, g):
        df = TripleGraph.of(spark, triples).df
        return df.withColumn(
            "g_value", F.lit(g).cast("string")
        )

    return (
        tg([TripleT(iri(E + "a"), iri(S + "name"), literal("Ada"))], None)
        .unionByName(tg(
            [TripleT(iri(E + "a"), iri(S + "age"),
                     literal("36", dt=XSDI))], "http://g/1"))
        .unionByName(tg(
            [TripleT(iri(E + "b"), iri(S + "age"), literal("7", dt=XSDI)),
             TripleT(iri(E + "b"), iri(S + "name"), literal("Bob"))],
            "http://g/2"))
    )


def test_graph_iri_scopes_and_default_excludes_named(spark):
    q = quad_graph(spark)
    # default-graph BGP sees only the g-NULL rows
    out = sparql_select(
        q, "PREFIX s: <http://schema.org/> "
           "SELECT ?x ?n WHERE { ?x s:name ?n }"
    )
    assert {(r.x, r.n) for r in out.collect()} == {
        ("<http://e/a>", '"Ada"')
    }
    # GRAPH <iri> scopes the inner pattern to that graph (full
    # algebra inside — OPTIONAL works)
    out = sparql_select(
        q,
        """PREFIX s: <http://schema.org/>
           SELECT ?x ?age ?n WHERE {
             GRAPH <http://g/2> {
               ?x s:age ?age OPTIONAL { ?x s:name ?n }
             }
           }""",
    )
    assert {(r.x, r.age, r.n) for r in out.collect()} == {
        ("<http://e/b>", '"7"^^<http://www.w3.org/2001/XMLSchema#integer>',
         '"Bob"'),
    }


def test_graph_var_binds_and_joins(spark):
    q = quad_graph(spark)
    out = sparql_select(
        q,
        """PREFIX s: <http://schema.org/>
           SELECT ?g ?x ?age WHERE { GRAPH ?g { ?x s:age ?age } }
           ORDER BY ?g""",
    )
    assert [(r.g, r.x, r.age) for r in out.collect()] == [
        ("<http://g/1>", "<http://e/a>",
         '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://g/2>", "<http://e/b>",
         '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    ]
    # multiple patterns inside GRAPH ?g must match within ONE graph:
    # only g/2 holds both an age and a name for the same subject
    out = sparql_select(
        q,
        """PREFIX s: <http://schema.org/>
           SELECT ?g WHERE { GRAPH ?g { ?x s:age ?a . ?x s:name ?n } }""",
    )
    assert [r.g for r in out.collect()] == ["<http://g/2>"]
    # FILTER inside GRAPH ?g may reference ?g
    out = sparql_select(
        q,
        """PREFIX s: <http://schema.org/>
           SELECT ?g WHERE {
             GRAPH ?g { ?x s:age ?a FILTER(CONTAINS(STR(?g), "g/1")) }
           }""",
    )
    assert [r.g for r in out.collect()] == ["<http://g/1>"]
    # ?g bound outside joins against the graph binding
    out = sparql_select(
        q,
        """PREFIX s: <http://schema.org/>
           SELECT ?g ?x WHERE {
             VALUES ?g { <http://g/2> }
             GRAPH ?g { ?x s:age ?a }
           }""",
    )
    assert [(r.g, r.x) for r in out.collect()] == [
        ("<http://g/2>", "<http://e/b>")
    ]


def test_from_and_from_named(spark):
    q = quad_graph(spark)
    # FROM merges the named graph into the query's default graph
    out = sparql_select(
        q,
        """PREFIX s: <http://schema.org/>
           SELECT ?x ?age FROM <http://g/1> WHERE { ?x s:age ?age }""",
    )
    assert {(r.x, r.age) for r in out.collect()} == {
        ("<http://e/a>", '"36"^^<http://www.w3.org/2001/XMLSchema#integer>')
    }
    # two FROM graphs: set union; the plain-default rows are excluded
    out = sparql_select(
        q,
        """PREFIX s: <http://schema.org/>
           SELECT ?x FROM <http://g/1> FROM <http://g/2>
           WHERE { ?x s:age ?a }""",
    )
    assert sorted(r.x for r in out.collect()) == [
        "<http://e/a>", "<http://e/b>"
    ]
    out = sparql_select(
        q,
        """PREFIX s: <http://schema.org/>
           SELECT ?n FROM <http://g/1> WHERE { ?x s:name ?n }""",
    )
    assert [r.n for r in out.collect()] == []
    # FROM NAMED restricts which graphs GRAPH ?g ranges over
    out = sparql_select(
        q,
        """PREFIX s: <http://schema.org/>
           SELECT ?g ?x FROM NAMED <http://g/1>
           WHERE { GRAPH ?g { ?x s:age ?a } }""",
    )
    assert [(r.g, r.x) for r in out.collect()] == [
        ("<http://g/1>", "<http://e/a>")
    ]
    # GRAPH <iri> outside the FROM NAMED set is empty
    out = sparql_select(
        q,
        """PREFIX s: <http://schema.org/>
           SELECT ?x FROM NAMED <http://g/1>
           WHERE { GRAPH <http://g/2> { ?x s:age ?a } }""",
    )
    assert out.collect() == []


_SVC_XML = b"""<?xml version="1.0"?>
<sparql xmlns="http://www.w3.org/2005/sparql-results#">
 <head><variable name="x"/><variable name="age"/></head>
 <results>
  <result><binding name="x"><uri>http://e/a</uri></binding>
          <binding name="age"><literal>36</literal></binding></result>
  <result><binding name="x"><uri>http://e/z</uri></binding>
          <binding name="age"><literal>99</literal></binding></result>
  <result><binding name="x"><uri>http://e/b</uri></binding></result>
 </results>
</sparql>"""


def test_service_federation(spark):
    # §18.8 (round 5b): SERVICE ships the captured pattern verbatim
    # (re-serialized from tokens under the query's PREFIXes) and the
    # returned bindings join as a local frame — unbound remote vars
    # flow through the compatibility machinery
    import argo_spark.ops.sparql as sq
    from pyspark.sql import functions as F

    sent = {}

    def canned(method, url, payload, headers):
        sent["url"] = url
        sent["payload"] = payload.decode()
        return 200, "OK", {}, _SVC_XML

    g = TripleGraph.of(spark, [
        TripleT(iri("http://e/a"), iri("http://e/name"), literal("Ada")),
        TripleT(iri("http://e/b"), iri("http://e/name"), literal("Bob")),
    ]).df
    old = sq.SERVICE_TRANSPORT
    sq.SERVICE_TRANSPORT = canned
    try:
        out = sparql_select(
            g,
            """PREFIX s: <http://schema.org/>
               SELECT ?x ?n ?age WHERE {
                 ?x <http://e/name> ?n
                 SERVICE <http://remote.example/sparql>
                   { ?x s:age ?age . FILTER(?age > 0) }
               }""",
        )
        assert sorted((r.x, r.n, r.age) for r in out.collect()) == [
            ("<http://e/a>", '"Ada"', '"36"'),
            ("<http://e/b>", '"Bob"', None),  # remote row, unbound age
        ]
        assert sent["url"] == "http://remote.example/sparql"
        # PREFIX header + verbatim pattern incl. the FILTER
        assert "PREFIX+s%3A" in sent["payload"]
        assert "FILTER" in sent["payload"]

        # SILENT swallows endpoint failure (identity); plain raises
        def dead(method, url, payload, headers):
            raise OSError("down")

        sq.SERVICE_TRANSPORT = dead
        out = sparql_select(
            g,
            "SELECT ?x WHERE { ?x <http://e/name> ?n "
            "SERVICE SILENT <http://x/> { ?x ?p ?o } }",
        )
        assert out.count() == 2
        with pytest.raises(OSError):
            sparql_select(
                g,
                "SELECT ?x WHERE { ?x <http://e/name> ?n "
                "SERVICE <http://x/> { ?x ?p ?o } }",
            ).collect()
        # variable endpoints are rejected up front
        with pytest.raises(SparqlSyntaxError, match="variable endpoint"):
            sparql_select(
                g,
                "SELECT ?x WHERE { SERVICE ?ep { ?x ?p ?o } }",
            )
        # SERVICE inside GRAPH ?g (round 5b): the remote pattern is
        # NOT graph-scoped (Federated Query — GRAPH does not
        # distribute into SERVICE); it joins on shared vars while
        # the sibling triple pattern binds ?g
        sq.SERVICE_TRANSPORT = canned
        quads = g.withColumn(
            "g_value", F.lit("http://g/1").cast("string")
        )
        out = sparql_select(
            quads,
            """PREFIX s: <http://schema.org/>
               SELECT ?gr ?x ?age WHERE {
                 GRAPH ?gr {
                   ?x <http://e/name> ?n
                   SERVICE <http://remote.example/sparql>
                     { ?x s:age ?age }
                 }
               }""",
        )
        assert sorted((r.gr, r.x, r.age) for r in out.collect()) == [
            ("<http://g/1>", "<http://e/a>", '"36"'),
            ("<http://g/1>", "<http://e/b>", None),
        ]
        # GRAPH ?g body that is ONLY a SERVICE cannot bind ?g
        with pytest.raises(SparqlSyntaxError, match="triple pattern"):
            sparql_select(
                quads,
                "SELECT ?gr WHERE { GRAPH ?gr { SERVICE "
                "<http://remote.example/sparql> { ?x ?p ?o } } }",
            )
    finally:
        sq.SERVICE_TRANSPORT = old


def test_service_default_transport_loopback(spark):
    # the real-urllib path: a stdlib http.server serves the canned
    # result; SERVICE with no injected transport must reach it
    import http.server
    import threading

    import argo_spark.ops.sparql as sq

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            length = int(self.headers["Content-Length"])
            self.rfile.read(length)
            self.send_response(200)
            self.send_header(
                "Content-Type", "application/sparql-results+xml"
            )
            self.send_header("Content-Length", str(len(_SVC_XML)))
            self.end_headers()
            self.wfile.write(_SVC_XML)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        assert sq.SERVICE_TRANSPORT is None
        g = TripleGraph.of(spark, [
            TripleT(iri("http://e/a"), iri("http://e/name"),
                    literal("Ada")),
        ]).df
        out = sparql_select(
            g,
            f"SELECT ?x ?age WHERE {{ ?x <http://e/name> ?n "
            f"SERVICE <http://127.0.0.1:{srv.server_port}/sparql> "
            f"{{ ?x <http://e/age> ?age }} }}",
        )
        assert [(r.x, r.age) for r in out.collect()] == [
            ("<http://e/a>", '"36"')
        ]
    finally:
        srv.shutdown()
        srv.server_close()


def test_template_blank_nodes(spark):
    # spec 16.2.1 / §19.6 (round 5b): template blank nodes generate
    # fresh-per-solution — a deterministic hash of the solution's
    # bindings, so the same label is ONE node across the template's
    # patterns for a given solution and distinct nodes across
    # solutions/labels; stable under any partitioning
    from argo_spark.ops.sparql import sparql_construct, sparql_update

    g = TripleGraph.of(spark, [
        TripleT(iri("http://e/a"), iri("http://e/name"), literal("Ada")),
        TripleT(iri("http://e/b"), iri("http://e/name"), literal("Bob")),
    ]).df
    q = ("CONSTRUCT { ?x <http://e/meta> _:m . _:m <http://e/lbl> ?n } "
         "WHERE { ?x <http://e/name> ?n }")
    out = sparql_construct(g, q)
    rows = [(r.s_value, r.p_value, r.o_kind, r.o_value)
            for r in out.collect()]
    metas = {r[3] for r in rows if r[1] == "http://e/meta"}
    subs = {r[0] for r in rows if r[1] == "http://e/lbl"}
    assert len(rows) == 4 and len(metas) == 2 and metas == subs
    # generated nodes are blank-kind, not IRIs
    assert all(r[2] == 1 for r in rows if r[1] == "http://e/meta")
    # distinct labels yield distinct nodes per solution
    out2 = sparql_construct(
        g,
        "CONSTRUCT { ?x <http://e/p> _:m . ?x <http://e/q> _:n } "
        "WHERE { ?x <http://e/name> ?v }",
    )
    vals = {(r.p_value, r.o_value) for r in out2.collect()}
    ms = {v for p, v in vals if p.endswith("/p")}
    ns = {v for p, v in vals if p.endswith("/q")}
    assert len(ms) == 2 and len(ns) == 2 and not (ms & ns)
    # INSERT templates generate too; DELETE templates reject per spec
    up = sparql_update(
        g, "INSERT { ?x <http://e/tag> _:t } "
           "WHERE { ?x <http://e/name> ?n }"
    )
    tags = [r for r in up.collect() if r.p_value == "http://e/tag"]
    assert len(tags) == 2 and len({t.o_value for t in tags}) == 2
    with pytest.raises(SparqlSyntaxError, match="DELETE template"):
        sparql_update(
            g, "DELETE { ?x <http://e/name> _:z } "
               "WHERE { ?x <http://e/name> ?n }"
        )
    # a label shared between template and WHERE is ambiguous: raise
    with pytest.raises(SparqlSyntaxError, match="shared between"):
        sparql_construct(
            g, "CONSTRUCT { ?x <http://e/p> _:m } "
               "WHERE { ?x <http://e/name> _:m }"
        )
    # partitioning-independent output
    assert sorted((r.s_value, r.o_value) for r in out.collect()) == \
        sorted((r.s_value, r.o_value)
               for r in sparql_construct(g.repartition(7), q).collect())


def test_construct_describe_with_dataset(spark):
    # round 5: FROM / FROM NAMED + constant GRAPH on the graph-valued
    # query forms
    from argo_spark.ops.sparql import sparql_construct, sparql_describe

    q = quad_graph(spark)
    S = "http://schema.org/"
    # CONSTRUCT ... FROM <g>: ages live in g/1 (a) and g/2 (b)
    out = sparql_construct(
        q,
        f"CONSTRUCT {{ ?x <{S}hasAge> ?a }} FROM <http://g/1> "
        f"WHERE {{ ?x <{S}age> ?a }}",
    )
    assert [(r.s_value, r.o_value) for r in out.collect()] == [
        ("http://e/a", "36")
    ]
    assert "g_value" not in out.columns
    # constant GRAPH inside CONSTRUCT's WHERE (struct mode)
    out = sparql_construct(
        q,
        f"CONSTRUCT {{ ?x <{S}hasAge> ?a }} "
        f"WHERE {{ GRAPH <http://g/2> {{ ?x <{S}age> ?a }} }}",
    )
    assert [(r.s_value, r.o_value) for r in out.collect()] == [
        ("http://e/b", "7")
    ]
    # CONSTRUCT WHERE shorthand with a dataset clause
    out = sparql_construct(
        q,
        f"CONSTRUCT FROM <http://g/2> WHERE {{ ?x <{S}name> ?n }}",
    )
    assert [(r.s_value, r.o_value) for r in out.collect()] == [
        ("http://e/b", "Bob")
    ]
    # DESCRIBE ... FROM: description reads the resolved default graph
    out = sparql_describe(
        q, "DESCRIBE <http://e/b> FROM <http://g/2>"
    )
    assert sorted(r.o_value for r in out.collect()) == ["7", "Bob"]
    assert "g_value" not in out.columns
    # quad frame without FROM: describe sees the default graph only
    out = sparql_describe(q, "DESCRIBE <http://e/a>")
    assert sorted(r.o_value for r in out.collect()) == ["Ada"]


def test_ask_with_dataset(spark):
    from argo_spark.ops.sparql import sparql_ask
    q = quad_graph(spark)
    assert sparql_ask(
        q, "PREFIX s: <http://schema.org/> "
           "ASK { GRAPH <http://g/1> { ?x s:age ?a } }"
    )
    assert not sparql_ask(
        q, "PREFIX s: <http://schema.org/> "
           "ASK { GRAPH <http://g/9> { ?x s:age ?a } }"
    )
    # FROM replaces the default graph: names live in default/g2 only
    assert not sparql_ask(
        q, "PREFIX s: <http://schema.org/> "
           "ASK FROM <http://g/1> WHERE { ?x s:name ?n }"
    )
    assert sparql_ask(
        q, "PREFIX s: <http://schema.org/> "
           "ASK FROM <http://g/2> WHERE { ?x s:name ?n }"
    )


def test_graph_guards(spark):
    # a g-less frame has no dataset: GRAPH raises instead of
    # silently matching nothing
    with pytest.raises(SparqlSyntaxError, match="dataset"):
        sparql_select(
            graph2(spark),
            "PREFIX s: <http://schema.org/> "
            "SELECT ?g WHERE { GRAPH ?g { ?x s:age ?a } }",
        )
    # round 5: GRAPH ?var threads the graph as one more join key, so
    # full algebra works inside (round 5b added closures and
    # subqueries via composite struct(g, node) keys / implicit group
    # keys) — the remaining guard is the §18.6 per-named-graph cross
    # product (a branch with no triple pattern binding ?g)
    out = sparql_select(
        quad_graph(spark),
        "PREFIX s: <http://schema.org/> "
        "SELECT ?g WHERE { GRAPH ?g { ?x s:age+ ?a } }",
    )
    assert sorted(r.g for r in out.collect()) == [
        "<http://g/1>", "<http://g/2>"
    ]
    with pytest.raises(SparqlSyntaxError, match="triple pattern"):
        sparql_select(
            quad_graph(spark),
            'SELECT ?g ?v WHERE { GRAPH ?g { VALUES ?v { "1" } } }',
        )


def test_graph_var_full_algebra(spark):
    # round 5: OPTIONAL / UNION / MINUS / EXISTS inside GRAPH ?g all
    # stay within one graph per solution row — ?g is a shared join
    # key on every pattern scan, no per-graph loop
    q = quad_graph(spark)
    S = "PREFIX s: <http://schema.org/> "
    # OPTIONAL: names exist in g/2 only (b), ages in g/1 (a) + g/2 (b)
    out = sparql_select(
        q,
        S + "SELECT ?g ?x ?a ?n WHERE { GRAPH ?g "
            "{ ?x s:age ?a OPTIONAL { ?x s:name ?n } } } ORDER BY ?g",
    )
    assert [(r.g, r.x, r.n) for r in out.collect()] == [
        ("<http://g/1>", "<http://e/a>", None),
        ("<http://g/2>", "<http://e/b>", '"Bob"'),
    ]
    # MINUS in-graph: only g/1's age row survives (no name in g/1)
    out = sparql_select(
        q,
        S + "SELECT ?g ?x WHERE { GRAPH ?g "
            "{ ?x s:age ?a MINUS { ?x s:name ?n } } }",
    )
    assert [(r.g, r.x) for r in out.collect()] == [
        ("<http://g/1>", "<http://e/a>")
    ]
    # EXISTS in-graph: only g/2 has both age and name for ?x
    out = sparql_select(
        q,
        S + "SELECT ?g ?x WHERE { GRAPH ?g "
            "{ ?x s:age ?a FILTER EXISTS { ?x s:name ?n } } }",
    )
    assert [(r.g, r.x) for r in out.collect()] == [
        ("<http://g/2>", "<http://e/b>")
    ]
    # UNION: both branches bind ?g per row
    out = sparql_select(
        q,
        S + "SELECT ?g ?x WHERE { GRAPH ?g "
            "{ { ?x s:age ?a } UNION { ?x s:name ?n } } } ORDER BY ?g ?x",
    )
    assert [(r.g, r.x) for r in out.collect()] == [
        ("<http://g/1>", "<http://e/a>"),
        ("<http://g/2>", "<http://e/b>"),
        ("<http://g/2>", "<http://e/b>"),
    ]


def test_graph_var_closures(spark):
    # round 5b: path closures under GRAPH ?g — node keys become
    # struct(g, node) so the pointer-doubling closure never crosses
    # graphs (one composite-key equi-join, no per-graph loop)
    rows = [
        (0, "http://e/a", "http://e/p", 0, "http://e/b", None, None,
         "http://g/1"),
        (0, "http://e/b", "http://e/p", 0, "http://e/c", None, None,
         "http://g/1"),
        (0, "http://e/c", "http://e/p", 0, "http://e/d", None, None,
         "http://g/2"),
        (0, "http://e/d", "http://e/q", 0, "http://e/e", None, None,
         "http://g/2"),
    ]
    schema = (
        "s_kind int, s_value string, p_value string, o_kind int, "
        "o_value string, o_lang string, o_dt string, g_value string"
    )
    q = spark.createDataFrame(rows, schema)
    # '+' stays within graphs: a->c transitively in g/1; NO a->d
    out = sparql_select(
        q, "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x <http://e/p>+ ?y } }"
    )
    assert {(r.g, r.x, r.y) for r in out.collect()} == {
        ("<http://g/1>", "<http://e/a>", "<http://e/b>"),
        ("<http://g/1>", "<http://e/a>", "<http://e/c>"),
        ("<http://g/1>", "<http://e/b>", "<http://e/c>"),
        ("<http://g/2>", "<http://e/c>", "<http://e/d>"),
    }
    # '*' zero-length pairs are per-graph: c is a term of BOTH graphs
    out = sparql_select(
        q,
        "SELECT ?g ?y WHERE "
        "{ GRAPH ?g { <http://e/c> <http://e/p>* ?y } }",
    )
    assert {(r.g, r.y) for r in out.collect()} == {
        ("<http://g/1>", "<http://e/c>"),
        ("<http://g/2>", "<http://e/c>"),
        ("<http://g/2>", "<http://e/d>"),
    }
    # nested closure (p/q)+ under GRAPH ?g: the inner sequence
    # evaluates with ?g threaded, so it cannot cross graphs either
    out = sparql_select(
        q,
        "SELECT ?g ?x ?y WHERE "
        "{ GRAPH ?g { ?x (<http://e/p>/<http://e/q>)+ ?y } }",
    )
    assert {(r.g, r.x, r.y) for r in out.collect()} == {
        ("<http://g/2>", "<http://e/c>", "<http://e/e>"),
    }
    # one constant endpoint per operator, each evaluated under GRAPH ?g
    # (pairs per graph; a constant endpoint is a zero-length node of
    # every graph) and over the merged, g-less triples
    merged_df = q.drop("g_value")
    for pat, per_graph, merged in [
        ("<http://e/a> <http://e/p>+ ?y", {(1, "b"), (1, "c")},
         {"b", "c", "d"}),
        ("?y <http://e/p>+ <http://e/d>", {(2, "c")}, {"a", "b", "c"}),
        ("<http://e/c> ^<http://e/p>+ ?y", {(1, "a"), (1, "b")},
         {"a", "b"}),
        ("<http://e/c> <http://e/p>* ?y", {(1, "c"), (2, "c"), (2, "d")},
         {"c", "d"}),
        ("<http://e/b> <http://e/p>? ?y", {(1, "b"), (1, "c"), (2, "b")},
         {"b", "c"}),
    ]:
        out = sparql_select(
            q, f"SELECT ?g ?y WHERE {{ GRAPH ?g {{ {pat} }} }}"
        )
        assert {(r.g, r.y) for r in out.collect()} == {
            (f"<http://g/{g}>", f"<http://e/{y}>") for g, y in per_graph
        }, pat
        out = sparql_select(merged_df, f"SELECT ?y WHERE {{ {pat} }}")
        assert {r.y for r in out.collect()} == {
            f"<http://e/{y}>" for y in merged
        }, pat


def test_graph_var_subquery(spark):
    # round 5b: subqueries under GRAPH ?g — the graph threads through
    # as an implicit leading GROUP BY key (per-graph aggregation) and
    # ORDER/LIMIT become a row_number window partitioned by ?g
    # (per-graph top-k) — no per-graph loop
    rows = [
        (0, "http://e/a", "http://e/p", 2, "1", None, None, "http://g/1"),
        (0, "http://e/a", "http://e/p", 2, "2", None, None, "http://g/1"),
        (0, "http://e/b", "http://e/p", 2, "3", None, None, "http://g/1"),
        (0, "http://e/a", "http://e/p", 2, "9", None, None, "http://g/2"),
        (0, "http://e/c", "http://e/q", 2, "0", None, None, "http://g/2"),
    ]
    schema = (
        "s_kind int, s_value string, p_value string, o_kind int, "
        "o_value string, o_lang string, o_dt string, g_value string"
    )
    q = spark.createDataFrame(rows, schema)
    # per-graph grouped aggregate
    out = sparql_select(
        q,
        """SELECT ?g ?s ?c WHERE { GRAPH ?g {
             SELECT ?s (COUNT(*) AS ?c)
             WHERE { ?s <http://e/p> ?v } GROUP BY ?s
           } }""",
    )
    assert {(r.g, r.s, r.c) for r in out.collect()} == {
        ("<http://g/1>", "<http://e/a>", 2),
        ("<http://g/1>", "<http://e/b>", 1),
        ("<http://g/2>", "<http://e/a>", 1),
    }
    # per-graph ungrouped aggregate (graphs with zero matches are
    # absent — documented divergence)
    out = sparql_select(
        q,
        """SELECT ?g ?c WHERE { GRAPH ?g {
             SELECT (COUNT(*) AS ?c) WHERE { ?s ?p ?v }
           } }""",
    )
    assert {(r.g, r.c) for r in out.collect()} == {
        ("<http://g/1>", 3), ("<http://g/2>", 2),
    }
    # per-graph top-1 (ORDER BY DESC + LIMIT inside the subquery)
    out = sparql_select(
        q,
        """SELECT ?g ?s ?v WHERE { GRAPH ?g {
             SELECT ?s ?v WHERE { ?s <http://e/p> ?v }
             ORDER BY DESC(?v) LIMIT 1
           } }""",
    )
    assert {(r.g, r.s, r.v) for r in out.collect()} == {
        ("<http://g/1>", "<http://e/b>", '"3"'),
        ("<http://g/2>", "<http://e/a>", '"9"'),
    }
    # a projection subquery joins with a sibling pattern IN-GRAPH
    out = sparql_select(
        q,
        """SELECT ?g ?s WHERE { GRAPH ?g {
             { SELECT DISTINCT ?s WHERE { ?s <http://e/p> ?v } }
             ?s <http://e/p> "1" .
           } }""",
    )
    assert {(r.g, r.s) for r in out.collect()} == {
        ("<http://g/1>", "<http://e/a>"),
    }


def test_compat_leg_cap_fallback(spark):
    # past _COMPAT_MAX_LEGS the decomposition would itself explode;
    # the conditional-join fallback must still give §18.5 semantics.
    import argo_spark.ops.sparql as sq
    g = graph2(spark)
    q = """PREFIX s: <http://schema.org/>
           SELECT ?w ?age WHERE {
             { ?w s:age ?age } UNION { ?w s:name "Cat" }
             ?x s:age ?age .
           }"""
    expect = {
        ("<http://e/a>", '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/b>", '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/c>", '"36"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/c>", '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    }
    qm = """PREFIX s: <http://schema.org/>
           SELECT ?n ?age WHERE {
             ?w s:name ?n OPTIONAL { ?w s:age ?age }
             MINUS { ?x s:age ?age }
           }"""
    old = sq._COMPAT_MAX_LEGS
    sq._COMPAT_MAX_LEGS = 0  # force every nullable join onto the fallback
    try:
        got = {(r.w, r.age) for r in sparql_select(g, q).collect()}
        gotm = {(r.n, r.age) for r in sparql_select(g, qm).collect()}
    finally:
        sq._COMPAT_MAX_LEGS = old
    assert got == expect
    assert gotm == {('"Cat"', None)}
    # and the default path agrees
    assert {(r.w, r.age) for r in sparql_select(g, q).collect()} == expect


def dt_graph(spark):
    """Docs with xsd:dateTime modification stamps in the three
    timezone shapes (Z / offset / none) plus a fractional second."""
    XSD_DT = "http://www.w3.org/2001/XMLSchema#dateTime"
    return TripleGraph.of(
        spark,
        [
            TripleT(iri("http://e/a"), iri(SCHEMA + "dateModified"),
                    literal("2020-03-05T12:34:56Z", dt=XSD_DT)),
            TripleT(iri("http://e/b"), iri(SCHEMA + "dateModified"),
                    literal("1999-12-31T23:59:59.25-05:30", dt=XSD_DT)),
            TripleT(iri("http://e/c"), iri(SCHEMA + "dateModified"),
                    literal("2024-01-02T03:04:05+00:00", dt=XSD_DT)),
            TripleT(iri("http://e/d"), iri(SCHEMA + "dateModified"),
                    literal("not a date")),
        ],
    ).df


def test_datetime_accessors(spark):
    """YEAR/MONTH/DAY/HOURS/MINUTES/SECONDS (17.4.5.3-8) extract the
    lexical fields as integers (SECONDS keeps the decimal fraction);
    a non-dateTime operand is an error -> unbound in BIND."""
    out = sparql_select(
        dt_graph(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?w ?y ?mo ?d ?h ?mi ?sec WHERE {
             ?w s:dateModified ?t .
             BIND(YEAR(?t) AS ?y) BIND(MONTH(?t) AS ?mo)
             BIND(DAY(?t) AS ?d) BIND(HOURS(?t) AS ?h)
             BIND(MINUTES(?t) AS ?mi) BIND(SECONDS(?t) AS ?sec)
           }""",
    )
    got = {r.w: (r.y, r.mo, r.d, r.h, r.mi, r.sec) for r in out.collect()}
    assert got["<http://e/a>"] == ('"2020"', '"3"', '"5"', '"12"', '"34"', '"56"')
    assert got["<http://e/b>"] == ('"1999"', '"12"', '"31"', '"23"', '"59"', '"59.25"')
    assert got["<http://e/c>"] == ('"2024"', '"1"', '"2"', '"3"', '"4"', '"5"')
    assert got["<http://e/d>"] == (None,) * 6
    # numeric comparison in FILTER (the accessors are native-numeric)
    out = sparql_select(
        dt_graph(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?w WHERE {
             ?w s:dateModified ?t .
             FILTER(YEAR(?t) >= 2020 && MONTH(?t) = 3)
           }""",
    )
    assert [r.w for r in out.collect()] == ["<http://e/a>"]


def test_tz_and_timezone(spark):
    """TZ (17.4.5.9) is a simple literal, "" when absent; TIMEZONE
    (17.4.5.2) is an xsd:dayTimeDuration, error (unbound) when
    absent."""
    out = sparql_select(
        dt_graph(spark),
        """PREFIX s: <http://schema.org/>
           SELECT ?w ?tz ?dur WHERE {
             ?w s:dateModified ?t .
             BIND(TZ(?t) AS ?tz) BIND(TIMEZONE(?t) AS ?dur)
           }""",
    )
    DUR = "^^<http://www.w3.org/2001/XMLSchema#dayTimeDuration>"
    got = {r.w: (r.tz, r.dur) for r in out.collect()}
    assert got["<http://e/a>"] == ('"Z"', '"PT0S"' + DUR)
    assert got["<http://e/b>"] == ('"-05:30"', '"-PT5H30M"' + DUR)
    assert got["<http://e/c>"] == ('"+00:00"', '"PT0S"' + DUR)
    # non-dateTime operand: type error (unbound) for BOTH builtins —
    # round 6 fixed TZ, which previously returned "" here
    assert got["<http://e/d>"] == (None, None)


def test_encode_for_uri_and_sha384_512(spark):
    import hashlib
    g = TripleGraph.of(
        spark,
        [TripleT(iri("http://e/a"), iri(SCHEMA + "name"),
                 literal("héllo wörld~*+x"))],
    ).df
    out = sparql_select(
        g,
        """PREFIX s: <http://schema.org/>
           SELECT ?e ?h3 ?h5 WHERE {
             ?w s:name ?n .
             BIND(ENCODE_FOR_URI(?n) AS ?e)
             BIND(SHA384(?n) AS ?h3) BIND(SHA512(?n) AS ?h5)
           }""",
    )
    r = out.collect()[0]
    # RFC 3986: unreserved [A-Za-z0-9._~-] bare, everything else
    # percent-encoded UTF-8 (space %20, '*' %2A, '~' bare)
    assert r.e == '"h%C3%A9llo%20w%C3%B6rld~%2A%2Bx"'
    raw = "héllo wörld~*+x".encode()
    assert r.h3 == '"' + hashlib.sha384(raw).hexdigest() + '"'
    assert r.h5 == '"' + hashlib.sha512(raw).hexdigest() + '"'
