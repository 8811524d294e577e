"""Turtle / RDF-JSON / RDF-XML writer layouts (SURVEY §2.2 K2-K4)."""

from __future__ import annotations

import json

from argo_spark.ops.graph import TripleGraph
from argo_spark.sinks.registry import FORMATS, format_from_filename, format_from_mime
from argo_spark.sinks.writers import (
    rdfjson_string,
    rdfxml_string,
    turtle_string,
)
from argo_spark.terms import TripleT, blank, iri, literal

PREFIXES = {"ex": "http://e/", "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#"}


def small_graph(spark):
    return TripleGraph.of(
        spark,
        [
            TripleT(iri("http://e/s"), iri("http://e/p"), literal("v1")),
            TripleT(iri("http://e/s"), iri("http://e/q"), iri("http://e/o")),
            TripleT(iri("http://e/s"), iri("http://other#x"), literal("chat", lang="fr")),
            TripleT(blank("b"), iri("http://e/p"), literal("t", dt="http://e/dt")),
        ],
    )


def test_turtle_layout(spark):
    out = turtle_string(small_graph(spark).df, PREFIXES)
    expected = (
        "@prefix ex: <http://e/> .\n"
        "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n"
        "\n"
        "_:b\n"
        '  ex:p "t"^^<http://e/dt> ;\n'
        "  .\n"
        "\n"
        "ex:s\n"
        '  <http://other#x> "chat"@fr ;\n'
        '  ex:p "v1" ;\n'
        "  ex:q ex:o ;\n"
        "  .\n"
    )
    # reference block layout: every p-o line ends with ' ;', block ends
    # with a bare '  .' line and a blank line (turtleserializer.go:58-81)
    assert out == expected


def test_rdfjson_valid_and_shaped(spark):
    doc = json.loads(rdfjson_string(small_graph(spark).df))
    assert set(doc) == {"<http://e/s>", "_:b"}
    s = doc["<http://e/s>"]
    assert s["<http://e/p>"] == [{"type": "literal", "value": "v1"}]
    assert s["<http://e/q>"] == [{"type": "uri", "value": "http://e/o"}]
    assert s["<http://other#x>"] == [{"type": "literal", "value": "chat", "lang": "fr"}]
    assert doc["_:b"]["<http://e/p>"] == [
        {"type": "literal", "value": "t", "datatype": "http://e/dt"}
    ]


def test_rdfjson_groups_multi_objects(spark):
    gr = TripleGraph.of(
        spark,
        [
            TripleT(iri("http://e/s"), iri("http://e/p"), literal("a")),
            TripleT(iri("http://e/s"), iri("http://e/p"), literal("b")),
        ],
    )
    doc = json.loads(rdfjson_string(gr.df))
    assert doc["<http://e/s>"]["<http://e/p>"] == [
        {"type": "literal", "value": "a"},
        {"type": "literal", "value": "b"},
    ]


def test_rdfxml_layout(spark):
    gr = TripleGraph.of(
        spark,
        [
            TripleT(iri("http://e/s"), iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"), iri("http://e/Thing")),
            TripleT(iri("http://e/s"), iri("http://e/p"), literal("5 < 6 & more")),
            TripleT(iri("http://e/s"), iri("http://e/q"), blank("b1")),
        ],
    )
    out = rdfxml_string(gr.df, PREFIXES)
    assert out.startswith(
        '<rdf:RDF\n  xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n'
        '  xmlns:ex="http://e/"\n>\n'
    )
    # type pulled out as element name (rdfxml.go:189-201)
    assert '  <ex:Thing rdf:about="http://e/s">\n' in out
    assert "    <ex:p>5 &lt; 6 &amp; more</ex:p>\n" in out
    assert '    <ex:q rdf:nodeID="b1" />\n' in out
    assert out.endswith("  </ex:Thing>\n</rdf:RDF>\n")


def _column_split(spark, uris):
    from pyspark.sql import functions as F

    from argo_spark.namespaces import split_prefix_base, split_prefix_local

    df = spark.createDataFrame([(u,) for u in uris], "uri string")
    return df.select(
        "uri",
        split_prefix_base(F.col("uri")).alias("b"),
        split_prefix_local(F.col("uri")).alias("l"),
    ).collect()


def test_split_prefix_columns_match_python(spark):
    from argo_spark.namespaces import split_prefix

    uris = [
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        "http://schema.org/name",
        "urn:no-separator",
        "http://e/a#b/c",  # '/' after last '#': '#' wins (argo.go:221-225)
        "http://e/#",
        "http://e/a#b#c",
        "http://e/a#b#c#d",
        "x/",
        "",
        "#",
        "/",
        "http://e/a#",
        "http://e/caf\u00e9",
        "http://e/\u00e9#\u4e2d\u6587",
        "http://e/\U0001f600/x\U0001f600",
    ]
    rows = _column_split(spark, uris + [None])
    for r in rows:
        if r.uri is None:
            assert (r.b, r.l) == (None, None)
        else:
            assert (r.b, r.l) == split_prefix(r.uri), r.uri
    assert len(rows) == len(uris) + 1


def test_split_prefix_columns_property(spark):
    """Column split == split_prefix for any text over an alphabet of
    the separators, letters and non-ASCII (BMP and astral) chars."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from argo_spark.namespaces import split_prefix

    @given(st.lists(st.text("#/:ab\u00e9\U0001f600", max_size=12), min_size=1, max_size=40))
    @settings(max_examples=25, deadline=None)
    def check(uris):
        for r in _column_split(spark, uris):
            assert (r.b, r.l) == split_prefix(r.uri), r.uri

    check()


def test_write_turtle_unsafe_locals_round_trip(spark, tmp_path):
    """Locals outside the safe PN_LOCAL subset (parentheses, %-escapes,
    a trailing or leading dot, non-ASCII) come out as <iri>, so every
    part file re-parses to the input set. The reference would write
    dbp:London_(England), which no Turtle parser accepts."""
    from pyspark.sql import functions as F

    from argo_spark.extract.turtle import parse_turtle_col
    from argo_spark.sinks.writers import write_turtle
    from argo_spark.terms import KIND_BLANK

    dbp = "http://dbpedia.org/resource/"
    prefixes = {"ex": "http://e/", "dbp": dbp}
    triples = [
        TripleT(iri(dbp + "London_(England)"), iri("http://e/p"), iri(dbp + "Paris_(France)")),
        TripleT(iri("http://e/a%20b"), iri("http://e/p(1)"), literal("v", lang="en")),
        TripleT(iri("http://e/ends."), iri("http://e/p"), iri("http://e/.starts")),
        TripleT(iri("http://e/caf\u00e9"), iri("http://e/-dash"), literal("1", dt="http://e/dt")),
        TripleT(iri("http://e/ok"), iri("http://e/p.q-r_s"), iri("http://e/1st")),
        TripleT(blank("b"), iri("http://e/p"), iri("http://e/")),
    ]
    gr = TripleGraph.of(spark, triples)
    path = str(tmp_path / "out.ttl")
    write_turtle(gr.df, path, prefixes)
    # each part file is one document under the ._prefixes header
    with open(path + "._prefixes", encoding="utf-8") as f:
        header = f.read()
    parsed = parse_turtle_col(spark.read.text(path, wholetext=True).select(
        F.concat(F.lit(header), F.col("value")).alias("value"),
        F.input_file_name().alias("key"),
    ))
    assert parsed.where("error IS NOT NULL").count() == 0
    cols = ["s_kind", "s_value", "p_value", "o_kind", "o_value", "o_lang", "o_dt"]
    want = {tuple(r) for r in gr.df.select(*cols).collect()}
    # blank labels are re-skolemized by the parser; compare IRI subjects
    # exactly and the blank-subject triple by its predicate/object
    got = {tuple(r) for r in parsed.select(*cols).collect()}
    assert {t for t in got if t[0] != KIND_BLANK} == {t for t in want if t[0] != KIND_BLANK}
    assert {t[2:] for t in got if t[0] == KIND_BLANK} == {t[2:] for t in want if t[0] == KIND_BLANK}
    text = "".join(r.value for r in spark.read.text(path, wholetext=True).collect())
    assert "<http://dbpedia.org/resource/London_(England)>" in text
    assert "ex:ok\n" in text and "ex:p.q-r_s ex:1st ;" in text


def test_prefix_sidecar_is_one_driver_written_file(spark, tmp_path):
    """The ._prefixes sidecar of write_turtle / write_trig is a single
    file holding the header byte for byte (a directory from an older
    write is replaced), and writing it starts no Spark job."""
    import os

    from argo_spark.sinks.writers import turtle_blocks, turtle_header, write_trig, write_turtle

    df = small_graph(spark).df
    want = (turtle_header(PREFIXES).rstrip("\n") + "\n").encode("utf-8")
    sc = spark.sparkContext
    for writer in (write_turtle, write_trig):
        path = str(tmp_path / f"{writer.__name__}.ttl")
        os.makedirs(path + "._prefixes")  # the old directory layout
        with open(os.path.join(path + "._prefixes", "part-00000.txt"), "w") as f:
            f.write("stale\n")
        writer(df, path, PREFIXES)
        assert os.path.isfile(path + "._prefixes")
        with open(path + "._prefixes", "rb") as f:
            assert f.read() == want
    sc.setJobGroup("sidecar-a", "write_turtle")
    write_turtle(df, str(tmp_path / "a.ttl"), PREFIXES)
    sc.setJobGroup("sidecar-b", "blocks only")
    turtle_blocks(df, PREFIXES).select("block").write.text(str(tmp_path / "b.ttl"))
    for prop in ("spark.jobGroup.id", "spark.job.description"):
        sc.setLocalProperty(prop, None)
    tracker = sc.statusTracker()
    assert len(tracker.getJobIdsForGroup("sidecar-a")) == len(
        tracker.getJobIdsForGroup("sidecar-b")
    )


def test_format_registry():
    assert format_from_filename("x/y/graph.nt").id == "ntriples"
    assert format_from_filename("a.ttl").id == "turtle"
    assert format_from_filename("a.htm").id == "rdfa"
    assert format_from_filename("a.unknown") is None
    # position-0 MIME match works (reference bug argo.go:183,188 fixed)
    assert format_from_mime("text/turtle").id == "turtle"
    assert format_from_mime("application/rdf+xml; charset=utf-8").id == "rdfxml"
    assert FORMATS["ntriples"].reader is not None


def test_string_serializers_size_guarded(spark):
    """Round-3 contract (VERDICT #8): the driver-side *_string forms
    refuse graphs beyond max_rows instead of collecting them."""
    import pytest

    from argo_spark.sinks.writers import (
        rdfjson_string,
        rdfxml_string,
        squirtle_string,
        turtle_string,
    )

    tr = spark.range(10).selectExpr(
        "cast(0 as tinyint) s_kind",
        "concat('http://e/s', id) s_value",
        "'http://e/p' p_value",
        "cast(2 as tinyint) o_kind",
        "cast(id as string) o_value",
        "cast(null as string) o_lang",
        "cast(null as string) o_dt",
    )
    for fn in (turtle_string, rdfjson_string, rdfxml_string, squirtle_string):
        with pytest.raises(ValueError, match="distributed"):
            fn(tr, max_rows=5)
    # under the cap everything still serializes
    assert "http://e/s1" in turtle_string(tr, max_rows=100)
    assert squirtle_string(tr, max_rows=100).count("{") >= 10


def test_trig_layout(spark):
    # round 5: TriG — default graph = bare Turtle blocks (byte-
    # identical to the Turtle sink), named graphs wrapped in
    # <g> { ... }; a graph label may repeat across blocks (TriG
    # triples accumulate), which is what makes the writer
    # embarrassingly parallel
    from pyspark.sql import functions as F

    from argo_spark.sinks.writers import trig_string

    g = small_graph(spark).df.withColumn(
        "g_value",
        F.when(
            F.col("s_kind") != 0, F.lit("http://g/1")
        ).cast("string"),
    )
    out = trig_string(g, PREFIXES)
    assert out.startswith("@prefix ex: <http://e/> .\n")
    # named-graph wrapper around the blank-node subject block
    assert (
        "<http://g/1> {\n"
        "_:b\n"
        '  ex:p "t"^^<http://e/dt> ;\n'
        "  .\n"
        "}\n"
    ) in out
    # default-graph block stays bare and Turtle-shaped
    assert (
        "ex:s\n"
        '  <http://other#x> "chat"@fr ;\n'
        '  ex:p "v1" ;\n'
        "  ex:q ex:o ;\n"
        "  .\n"
    ) in out
    # a g-less triples frame is all-default: no wrappers at all
    assert "{" not in trig_string(small_graph(spark).df, PREFIXES)


def test_trig_registry():
    assert format_from_filename("dump.trig").id == "trig"
    assert format_from_mime("application/trig").id == "trig"
    assert FORMATS["trig"].writer is not None
    assert FORMATS["trig"].reader is not None  # reader landed round 5c
