"""Turtle / RDF-JSON / RDF-XML writer layouts (SURVEY §2.2 K2-K4)."""

from __future__ import annotations

import json

from argo_spark.ops.graph import TripleGraph
from argo_spark.sinks.registry import FORMATS, format_from_filename, format_from_mime
from argo_spark.sinks.writers import (
    rdfjson_string,
    rdfxml_string,
    squirtle_header,
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


def test_local_ending_in_newline_is_not_abbreviated(spark, tmp_path):
    """A local name ending in a line break is unsafe. The column rules
    anchor at the true end of input, so the column encoder
    (squirtle_blocks) writes the IRI as <iri> as the driver encoder
    (squirtle_string) does, and the Turtle output re-parses to the
    same IRI (the break written as a UCHAR escape)."""
    from pyspark.sql import functions as F

    from argo_spark.extract.turtle import parse_turtle_col
    from argo_spark.sinks.writers import squirtle_blocks, squirtle_string, write_turtle

    dbp = "http://dbpedia.org/resource/"
    prefixes = {"dbp": dbp}
    triples = [
        TripleT(iri(dbp + "abc\n"), iri(dbp + "p"), iri(dbp + "ok\r\n")),
        TripleT(iri(dbp + "ok"), iri(dbp + "p"), literal("v", dt=dbp + "dt\n")),
    ]
    gr = TripleGraph.of(spark, triples)
    blocks = sorted(r.block for r in squirtle_blocks(gr.df, prefixes).collect())
    doc = squirtle_string(gr.df, prefixes)
    assert doc == squirtle_header(prefixes) + "".join(blocks)
    assert blocks[0].startswith(f"<{dbp}abc\n> {{")

    path = str(tmp_path / "nl.ttl")
    write_turtle(gr.df, path, prefixes)
    with open(path + "._prefixes", encoding="utf-8") as f:
        header = f.read()
    parsed = parse_turtle_col(spark.read.text(path, wholetext=True).select(
        F.concat(F.lit(header), F.col("value")).alias("value"),
        F.input_file_name().alias("key"),
    ))
    assert parsed.where("error IS NOT NULL").count() == 0
    cols = ["s_kind", "s_value", "p_value", "o_kind", "o_value", "o_lang", "o_dt"]
    assert sorted(tuple(r) for r in parsed.select(*cols).collect()) == sorted(
        tuple(r) for r in gr.df.select(*cols).collect()
    )


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


# One quads fixture for the serializer golden test: unsafe locals
# (parentheses, the Squirtle DOUBLE word "inf", the keyword "new"),
# lang/datatype literals with escapes and non-ASCII, blank nodes (one
# nested for squirtle_string's inlining), default- and named-graph
# rows, and an IRI with no bound prefix.
_DBP = "http://dbpedia.org/resource/"
_FOAF = "http://xmlns.com/foaf/0.1/"
_RDFS = "http://www.w3.org/2000/01/rdf-schema#"
_XSD = "http://www.w3.org/2001/XMLSchema#"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
GOLDEN_QUADS = [
    (0, _DBP + "London_(England)", _RDF_TYPE, 0, "http://schema.org/City", None, None, None),
    (0, _DBP + "London_(England)", _RDFS + "label", 2, "London", "en", None, None),
    (0, _DBP + "inf", _FOAF + "name", 2, "Infinity", "en", None, "http://g/1"),
    (0, _DBP + "new", _RDFS + "comment", 2, 'line1\nline2 "q" back\\slash', None, None, None),
    (0, _DBP + "Paris", "http://schema.org/population", 2, "2148000", None, _XSD + "integer", "http://g/1"),
    (0, _DBP + "Paris", _RDFS + "label", 2, "Zoë ünïcode ✓", "fr", None, None),
    (0, _DBP + "Paris", _FOAF + "knows", 1, "b1", None, None, "http://g/2"),
    (1, "b1", _FOAF + "knows", 1, "b2", None, None, "http://g/2"),
    (1, "b2", _FOAF + "name", 2, "tab\there", None, None, "http://g/2"),
    (0, "http://example.org/x", "http://example.org/p", 0, _DBP + "London_(England)", None, None, None),
]
_QUAD_DDL = (
    "s_kind tinyint, s_value string, p_value string, o_kind tinyint, "
    "o_value string, o_lang string, o_dt string, g_value string"
)

# sha256 of each serializer's sorted output over GOLDEN_QUADS, taken
# while Turtle, TriG and Squirtle each built their own subject blocks
GOLDEN_DIGESTS = {
    "nt_lines": "2b9510fc80855dd8ee663babf43975412bde96816929ee86d2fee6150b6980e8",
    "nq_lines": "a62e78d1a71c2031afae80c358c009b9b241a04ec8c9ca2ff86437e59b31551e",
    "turtle_blocks": "22737d898e6f6915c7272cac9d24c65bc6c56c2cd8668853066c6d6e7b3f2730",
    "trig_blocks": "61d55f6316e8e2278e2cc7e534d174d9f1f60c3a9fb08f338fa0e65b70a0c2e1",
    "squirtle_blocks": "8479d0076fc08eeecb364a379b5d49486d20588659bc019ce84a3871e912af25",
    "squirtle_string": "a7a4dc1421a2fb4d4b72b9bef8c830e7c1cf404a54e9c4eca541d617ce6fc7de",
    "rdfxml_blocks": "d090e522377330505f0fa633597a468b32b15e879bf3711b71990168c4765033",
    "rdfjson_lines": "d8264aa4f5024000432b232c24ede58b33dee83b102415a556bf9adf43e2af59",
}

# sha256 over the sorted part files plus the ._prefixes sidecar
GOLDEN_WRITE_DIGESTS = {
    "write_turtle": "a74b28bcf870a0f36dd5cc14d892855add0df3e06ed4aa1675e92a01a8240d08",
    "write_trig": "d68c9772560cce1b041da0bd024c4cac6114fa4067ad903178612c2faaab4782",
    "write_rdfxml": "f88f1b877333a6430773c5a65c732dbb530611c6bb6c67f9b76f66c26f70ead3",
    "write_squirtle": "aa6ae6ec21a3d39796ea81cdfb709689c3b0908165c2feac5676e9ec3258d113",
}


def _sha(texts) -> str:
    import hashlib

    return hashlib.sha256("\n".join(sorted(texts)).encode("utf-8")).hexdigest()


def golden_digest(spark, name: str) -> str:
    from argo_spark import nquads, ntriples
    from argo_spark.sinks import writers

    df = spark.createDataFrame(GOLDEN_QUADS, _QUAD_DDL)
    if name == "squirtle_string":
        return _sha([writers.squirtle_string(df)])
    fn = getattr(ntriples, name, None) or getattr(nquads, name, None) or getattr(writers, name)
    return _sha("\x00".join(map(str, r)) for r in fn(df).collect())


def golden_write_digest(spark, name: str, out: str) -> str:
    import glob
    import hashlib
    import os

    from argo_spark.sinks import writers

    # one input partition: the blocks reach each part file in one order
    getattr(writers, name)(spark.createDataFrame(GOLDEN_QUADS, _QUAD_DDL).coalesce(1), out)
    parts = []
    for f in glob.glob(os.path.join(out, "part-*")) + glob.glob(out + "._prefixes"):
        with open(f, "rb") as fh:
            parts.append(hashlib.sha256(fh.read()).hexdigest())
    return _sha(parts)


def test_serializer_golden(spark):
    """Every grouped and line serializer reproduces its recorded output
    byte for byte over one fixture with every encoding edge."""
    got = {name: golden_digest(spark, name) for name in GOLDEN_DIGESTS}
    assert got == GOLDEN_DIGESTS


def test_writer_part_files_golden(spark, tmp_path):
    """The part files plus ._prefixes sidecar of each distributed
    document writer reproduce their recorded bytes."""
    got = {
        name: golden_write_digest(spark, name, str(tmp_path / name))
        for name in GOLDEN_WRITE_DIGESTS
    }
    assert got == GOLDEN_WRITE_DIGESTS


def test_block_columns_memoized_per_prefixes(spark):
    from argo_spark.sinks import writers as W

    args = (None, W._TURTLE_BLOCK, W._turtle_local_ok, W._turtle_iriref)
    first, again = W._block_cols(*args), W._block_cols(*args)
    assert all(a is b for a, b in zip(first, again))
    custom = W._block_cols(tuple(sorted(PREFIXES.items())), *args[1:])
    assert custom[0] is not first[0]

    df = small_graph(spark).df
    assert "\nex:s\n" in turtle_string(df, PREFIXES)
    # the default prefix table has no binding for http://e/, so the
    # next default call writes the full IRI, not the custom qname
    default = turtle_string(df)
    assert "<http://e/s>\n" in default and "ex:s" not in default


def test_squirtle_plan_ignores_string_hash_seed(tmp_path):
    """The executed plan of ``squirtle_blocks`` (expression ids
    stripped) is the same under two string-hash seeds: the unsafe-word
    IN list is built in sorted order, not set order."""
    import os
    import subprocess
    import sys

    script = tmp_path / "plan.py"
    script.write_text(
        "import re\n"
        "from argo_spark.session import get_spark\n"
        "from argo_spark.sinks.writers import squirtle_blocks\n"
        "spark = get_spark('hashseed', master='local[1]')\n"
        "df = spark.createDataFrame([(0, 'http://e/s', 'http://e/p', 0, 'http://e/o', None, None)],\n"
        "    's_kind tinyint, s_value string, p_value string, o_kind tinyint, '\n"
        "    'o_value string, o_lang string, o_dt string')\n"
        "plan = squirtle_blocks(df)._jdf.queryExecution().executedPlan().toString()\n"
        "print(re.sub(r'#\\d+|plan_id=\\d+', '', plan))\n"
        "spark.stop()\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    runs = [
        subprocess.Popen(
            [sys.executable, str(script)], stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True, cwd=str(tmp_path),
            env={**os.environ, "PYTHONHASHSEED": seed, "PYTHONPATH": root},
        )
        for seed in ("0", "1")
    ]
    plans = [p.communicate(timeout=300)[0] for p in runs]
    assert all(p.returncode == 0 for p in runs)
    assert "include" in plans[0] and plans[0] == plans[1]
