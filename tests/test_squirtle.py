"""Squirtle parser (S4) + serializer (K5) semantics — each case cites
the grammar rule in /root/reference/squirtleparser.y it replicates."""

from __future__ import annotations

import pytest

from argo_spark.extract.squirtle import SquirtleError, parse_squirtle, read_squirtle
from argo_spark.namespaces import RDF, RDF_TYPE, XSD
from argo_spark.terms import KIND_BLANK, KIND_IRI, KIND_LITERAL

FOAF = "http://xmlns.com/foaf/0.1/"


def ok(text, **kw):
    triples, err = parse_squirtle(text, **kw)
    assert err is None, err
    return triples


def test_name_decl_qname_addhash():
    # y:138 name_decl; y:298 qname; y:334-344 addHash
    t = ok('name <http://ex.org/voc> as v\n<http://e/s> { v:thing "x" }')
    assert t == [(0, "http://e/s", "http://ex.org/voc#thing", 2, "x", None, None)]
    # base already ending in / gets no extra hash
    t = ok('name <http://ex.org/voc/> as v\n<http://e/s> { v:thing "x" }')
    assert t[0][2] == "http://ex.org/voc/thing"


def test_slash_separated_name_stripslash():
    # y:300-314: p/a/b strips the base's trailing separator
    t = ok('name <http://ex.org/api/> as api\n<http://e/s> { a api/users/root }')
    assert t == [(0, "http://e/s", RDF_TYPE, 0, "http://ex.org/api/users/root", None, None)]


def test_static_prefix_table_fallback_and_zero_value_quirk():
    # y:524-536 getName: declared names, else LookupPrefix (our static
    # table), else "" — the reference's zero-value quirk
    t = ok('<http://e/s> { foaf:name "Ada" }')
    assert t[0][2] == FOAF + "name"
    t = ok('<http://e/s> { nosuchprefix:x "y" }')
    assert t[0][2] == "#x"  # addHash("") == "#" (y:336-338)


def test_literals_numbers_booleans_inf_nan():
    # y:271-287 literal rules; lexer y:441-466, inf/nan y:433-447
    t = ok(
        '<http://e/s> {\n'
        '  <http://e/p> "plain", "fr text" @ fr, "typed" ^^ <http://e/dt>\n'
        '  <http://e/q> 42, -3.25, 6e3, true, false, inf, nan\n'
        "}"
    )
    objs = [(o_kind, o_value, o_lang, o_dt) for (_, _, _, o_kind, o_value, o_lang, o_dt) in t]
    assert (2, "plain", None, None) in objs
    assert (2, "fr text", "fr", None) in objs
    assert (2, "typed", None, "http://e/dt") in objs
    assert (2, "42", None, XSD + "integer") in objs
    assert (2, "-3.25", None, XSD + "decimal") in objs
    assert (2, "6e3", None, XSD + "double") in objs
    assert (2, "true", None, XSD + "boolean") in objs
    assert (2, "false", None, XSD + "boolean") in objs
    assert (2, "INF", None, XSD + "double") in objs
    assert (2, "NaN", None, XSD + "double") in objs


def test_number_glued_to_letter_is_discarded():
    # lexer y:462-466: a number running into a letter re-lexes,
    # dropping the number — 12abc reads as identifier "bc"... the
    # first post-digit char is consumed, the rest lexes fresh
    t = ok('name <http://e/n#> as n\n<http://e/s> { <http://e/p> 12abc }')
    # "12a" discarded, "bc" lexes as bare IDENT -> getName("bc") == ""
    assert t[0][4] == ""


def test_container_star_numbering_scoped_per_description():
    # y:263-266: '*' mints rdf:_N, N starts at 1 per description
    t = ok(
        "<http://e/bag> {\n"
        "  * <http://e/m1>\n"
        "  * <http://e/m2> {\n"
        "    * <http://e/inner>\n"
        "  }\n"
        "  * <http://e/m3>\n"
        "}"
    )
    preds = [(s, p) for (_, s, p, *_rest) in t]
    assert (f"{RDF}_1") == t[0][2]
    outer = [p for s, p in preds if s == "http://e/bag"]
    assert outer == [RDF + "_1", RDF + "_2", RDF + "_3"]
    inner = [p for s, p in preds if s == "http://e/m2"]
    assert inner == [RDF + "_1"]  # fresh counter in the nested block


def test_nested_description_and_bnodes_and_anon():
    t = ok(
        "_: b1 {\n"
        '  foaf:knows _: b2\n'
        '  foaf:name "Outer"\n'
        "}\n"
        '{ foaf:name "Anon subject" }'
    )
    assert (1, "b1", FOAF + "knows", 1, "b2", None, None) in t
    anon_rows = [x for x in t if x[4] == "Anon subject"]
    assert len(anon_rows) == 1 and anon_rows[0][0] == KIND_BLANK
    assert anon_rows[0][1].startswith("anon")  # deterministic skolem

    # identical input reparses to identical anon labels
    t2 = ok(
        "_: b1 {\n"
        '  foaf:knows _: b2\n'
        '  foaf:name "Outer"\n'
        "}\n"
        '{ foaf:name "Anon subject" }'
    )
    assert t == t2


def test_object_nested_description_emits_inline():
    t = ok(
        "<http://e/s> {\n"
        "  foaf:knows <http://e/o> {\n"
        '    foaf:name "Inner"\n'
        "  }\n"
        "}"
    )
    assert (0, "http://e/s", FOAF + "knows", 0, "http://e/o", None, None) in t
    assert (0, "http://e/o", FOAF + "name", 2, "Inner", None, None) in t


def test_template_apply_is_and_new():
    # y:150-220: subject binds nil subjects, args bind vars
    text = (
        "template Person(?name, ?org) {\n"
        "  a foaf:Person\n"
        "  foaf:name ?name\n"
        "  <http://e/worksFor> ?org\n"
        "}\n"
        '<http://e/ada> is Person("Ada", <http://e/acme>)\n'
        '<http://e/bob> new Person("Bob", <http://e/initech>)\n'
    )
    t = ok(text)
    assert (0, "http://e/ada", RDF_TYPE, 0, FOAF + "Person", None, None) in t
    assert (0, "http://e/ada", FOAF + "name", 2, "Ada", None, None) in t
    assert (0, "http://e/ada", "http://e/worksFor", 0, "http://e/acme", None, None) in t
    assert (0, "http://e/bob", FOAF + "name", 2, "Bob", None, None) in t
    assert len(t) == 6


def test_template_as_object_and_errors():
    text = (
        "template T() { a foaf:Agent }\n"
        "<http://e/s> { foaf:knows <http://e/o> is T() }\n"
    )
    t = ok(text)
    assert (0, "http://e/o", RDF_TYPE, 0, FOAF + "Agent", None, None) in t
    assert (0, "http://e/s", FOAF + "knows", 0, "http://e/o", None, None) in t

    _, err = parse_squirtle("<http://e/s> is Nope()")
    assert err is not None and "Undefined template" in err
    _, err = parse_squirtle("template T(?a) { foaf:name ?a }\n<http://e/s> is T()")
    assert err is not None and "Wrong number of arguments" in err
    _, err = parse_squirtle("template T() { foaf:name ?ghost }\n<http://e/s> is T()")
    assert err is not None and "unbound" in err


def test_comments_and_keyword_case():
    t = ok(
        "# a comment line\n"
        "<http://e/s> { A foaf:Person }  # trailing comment\n"
    )
    assert t == [(0, "http://e/s", RDF_TYPE, 0, FOAF + "Person", None, None)]


def test_include_file(tmp_path):
    inc = tmp_path / "common.squirtle"
    inc.write_text('name <http://ex.org/voc#> as v\n<http://e/base> { v:x "1" }\n')
    main = f'include "{inc}"\n<http://e/s> {{ v:x "2" }}\n'
    t = ok(main)
    # included triples emitted AND its name decl visible afterwards
    assert (0, "http://e/base", "http://ex.org/voc#x", 2, "1", None, None) in t
    assert (0, "http://e/s", "http://ex.org/voc#x", 2, "2", None, None) in t


def test_include_url_requires_fetcher():
    _, err = parse_squirtle("include <http://e/remote.squirtle>")
    assert err is not None and "no fetcher" in err
    t = ok(
        "include <http://e/remote.squirtle>\n<http://e/s> { v:x \"2\" }",
        fetcher=lambda url: 'name <http://ex.org/voc#> as v\n',
    )
    assert t[0][2] == "http://ex.org/voc#x"


def test_read_write_roundtrip_distributed(spark, tmp_path):
    """S4+K5 end-to-end: triples -> write_squirtle -> read_squirtle
    gives the same graph; squirtle_string inlines nested subjects."""
    from argo_spark.sinks.writers import squirtle_string, write_squirtle

    src = tmp_path / "g.squirtle"
    src.write_text(
        "<http://e/s> {\n"
        "  a foaf:Person\n"
        '  foaf:name "Ada" @ en\n'
        "  foaf:knows <http://e/o> { foaf:name \"Bob\" }\n"
        "}\n"
    )
    triples, errors = read_squirtle(spark, str(src))
    assert errors.count() == 0
    expected = {
        (0, "http://e/s", RDF_TYPE, 0, FOAF + "Person", None, None),
        (0, "http://e/s", FOAF + "name", 2, "Ada", "en", None),
        (0, "http://e/s", FOAF + "knows", 0, "http://e/o", None, None),
        (0, "http://e/o", FOAF + "name", 2, "Bob", None, None),
    }
    got = {
        (r.s_kind, r.s_value, r.p_value, r.o_kind, r.o_value, r.o_lang, r.o_dt)
        for r in triples.collect()
    }
    assert got == expected

    out = str(tmp_path / "out.squirtle")
    write_squirtle(triples.drop("path"), out)
    back, errs2 = read_squirtle(spark, out)
    assert errs2.count() == 0
    got2 = {
        (r.s_kind, r.s_value, r.p_value, r.o_kind, r.o_value, r.o_lang, r.o_dt)
        for r in back.collect()
    }
    assert got2 == expected

    # driver-side string form: nested subject inlined exactly once
    doc = squirtle_string(triples.drop("path"))
    assert doc.count("<http://e/o> {") + doc.count("e/o> {") >= 1
    t3, err3 = parse_squirtle(doc)
    assert err3 is None
    assert {tuple(x) for x in t3} == expected


def test_cli_squirtle_format(spark, tmp_path):
    """Registry wiring: .squirtle in, .squirtle out via the rdf CLI."""
    from argo_spark.cli import run_pipeline

    src = tmp_path / "in.squirtle"
    src.write_text('<http://e/s> { foaf:name "Ada" }\n')
    out = str(tmp_path / "out.squirtle")
    n = run_pipeline(spark, [str(src)], out)
    assert n == 1


def test_nested_description_inside_template_contributes():
    """Documented divergence: nested descriptions in a template body
    ADD their triples to the template (the reference drops them via a
    Go slice-aliasing bug, squirtleparser.y:244-259)."""
    t = ok(
        "template T() {\n"
        "  foaf:knows <http://e/inner> {\n"
        '    foaf:name "Nested"\n'
        "  }\n"
        "}\n"
        "<http://e/s> is T()\n"
    )
    assert (0, "http://e/s", FOAF + "knows", 0, "http://e/inner", None, None) in t
    assert (0, "http://e/inner", FOAF + "name", 2, "Nested", None, None) in t


def test_string_escape_roundtrip():
    """Divergence 3: NT short escapes decode, so serializer output
    round-trips (the reference's own lexer cannot read its serializer's
    escaping)."""
    t = ok('<http://e/s> { <http://e/p> "say \\"hi\\"\\nline2\\t\\\\" }')
    assert t[0][4] == 'say "hi"\nline2\t\\'


def test_include_partial_triples_kept_on_error(tmp_path):
    """y:110-120 stream semantics: triples emitted before an included
    file's syntax error are kept."""
    inc = tmp_path / "broken.squirtle"
    inc.write_text(
        '<http://e/good> { <http://e/p> "kept" }\n'
        "<http://e/bad> { this is missing-parens\n"
    )
    triples, err = parse_squirtle(f'include "{inc}"')
    assert err is not None
    assert (0, "http://e/good", "http://e/p", 2, "kept", None, None) in triples


def test_var_subject_nested_description_in_template():
    """raw_subject: var (y:234-239) — `?x { ... }` inside a template
    body collects triples with the var subject, bound at apply time."""
    t = ok(
        "template T(?x) {\n"
        "  foaf:knows ?x {\n"
        '    foaf:name "Bound"\n'
        "  }\n"
        "}\n"
        "<http://e/s> is T(<http://e/o>)\n"
    )
    assert (0, "http://e/s", FOAF + "knows", 0, "http://e/o", None, None) in t
    assert (0, "http://e/o", FOAF + "name", 2, "Bound", None, None) in t


def test_empty_subject_apply_as_object():
    """object: apply_template with empty raw_subject mints an anon."""
    t = ok(
        "template T() { a foaf:Agent }\n"
        "<http://e/s> { foaf:knows is T() }\n"
    )
    knows = [x for x in t if x[2] == FOAF + "knows"]
    assert len(knows) == 1 and knows[0][3] == KIND_BLANK
    anon = knows[0][4]
    assert (1, anon, RDF_TYPE, 0, FOAF + "Agent", None, None) in t


def test_inf_nan_shaped_labels_and_langtags():
    """inf/nan lex as DOUBLE before ident classification; bnode labels
    and language tags still accept them in original case."""
    t = ok('_:inf { <http://e/p> "x" @ NaN }')
    assert t == [(1, "inf", "http://e/p", 2, "x", "NaN", None)]


def test_unsafe_locals_roundtrip_as_uriref(spark, tmp_path):
    """Round-3 fix (ADVICE): IRIs whose local part the parser's
    identifier charset rejects ('.', '%', '~', digit-first, keyword
    'new', 'inf') must serialize as <uri>, not prefix:local, in BOTH
    the driver-side string form and the distributed blocks — the
    reference serializer emits unparseable prefix:local here."""
    from argo_spark.namespaces import SCHEMA
    from argo_spark.sinks.writers import squirtle_string, write_squirtle

    subjects = [
        SCHEMA + "docs.python.org",   # dots
        SCHEMA + "a%20b",             # percent-escape
        SCHEMA + "1stPlace",          # digit-first
        SCHEMA + "new",               # rejected keyword
        SCHEMA + "inf",               # lexer DOUBLE word
        SCHEMA + "Person",            # SAFE: stays prefix:local
    ]
    rows = [
        (0, s, "http://xmlns.com/foaf/0.1/name", 2, "x", None, None)
        for s in subjects
    ]
    triples = spark.createDataFrame(
        rows,
        "s_kind tinyint, s_value string, p_value string, "
        "o_kind tinyint, o_value string, o_lang string, o_dt string",
    )
    expected = {
        (r[0], r[1], r[2], r[3], r[4], r[5], r[6]) for r in rows
    }

    doc = squirtle_string(triples)
    assert "<" + SCHEMA + "docs.python.org>" in doc
    assert ":Person {" in doc and "<" + SCHEMA + "Person>" not in doc
    t, err = parse_squirtle(doc)
    assert err is None
    assert {tuple(x) for x in t} == expected

    out = str(tmp_path / "unsafe.squirtle")
    write_squirtle(triples, out)
    back, errs = read_squirtle(spark, out)
    assert errs.count() == 0, errs.collect()
    got = {
        (r.s_kind, r.s_value, r.p_value, r.o_kind, r.o_value, r.o_lang, r.o_dt)
        for r in back.collect()
    }
    assert got == expected
