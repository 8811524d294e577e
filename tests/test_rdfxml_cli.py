"""RDF/XML parser (S2) state-machine semantics + the CLI pipeline (E1)."""

from __future__ import annotations

from argo_spark.extract.rdfxml import parse_rdfxml, read_rdfxml
from argo_spark.namespaces import RDF_TYPE
from argo_spark.terms import KIND_BLANK, KIND_IRI, KIND_LITERAL, skolem_id
from tests.fixtures import jobs_started

RDF_OPEN = (
    '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
    'xmlns:foaf="http://xmlns.com/foaf/0.1/">'
)
FOAF = "http://xmlns.com/foaf/0.1/"


def test_description_about_and_properties():
    doc = (
        RDF_OPEN
        + '<rdf:Description rdf:about="http://e/s">'
        + "<foaf:name>Bob</foaf:name>"
        + '<foaf:knows rdf:resource="http://e/o"/>'
        + "</rdf:Description></rdf:RDF>"
    )
    triples, err = parse_rdfxml(doc)
    assert err is None
    assert triples == [
        (KIND_IRI, "http://e/s", FOAF + "name", KIND_LITERAL, "Bob", None, None),
        (KIND_IRI, "http://e/s", FOAF + "knows", KIND_IRI, "http://e/o", None, None),
    ]


def test_typed_element_and_extra_attrs():
    doc = (
        RDF_OPEN
        + '<foaf:Person rdf:about="http://e/s" foaf:nick="bobby"/>'
        + "</rdf:RDF>"
    )
    triples, err = parse_rdfxml(doc)
    assert err is None
    # non-Description element name -> rdf:type (rdfxml.go:120-122);
    # extra attrs -> literal triples (rdfxml.go:124-126)
    assert (KIND_IRI, "http://e/s", RDF_TYPE, KIND_IRI, FOAF + "Person", None, None) in triples
    assert (KIND_IRI, "http://e/s", FOAF + "nick", KIND_LITERAL, "bobby", None, None) in triples


def test_nodeid_lang_datatype_and_anon():
    doc = (
        RDF_OPEN
        + '<rdf:Description rdf:nodeID="b1">'
        + '<foaf:name xml:lang="fr">Robert</foaf:name>'
        + '<foaf:age rdf:datatype="http://www.w3.org/2001/XMLSchema#int">42</foaf:age>'
        + "</rdf:Description>"
        + "<rdf:Description><foaf:name>Anon</foaf:name></rdf:Description>"
        + "</rdf:RDF>"
    )
    triples, err = parse_rdfxml(doc, skolem_key="k")
    assert err is None
    assert (KIND_BLANK, "b1", FOAF + "name", KIND_LITERAL, "Robert", "fr", None) in triples
    assert (
        KIND_BLANK, "b1", FOAF + "age", KIND_LITERAL, "42", None,
        "http://www.w3.org/2001/XMLSchema#int",
    ) in triples
    anon = skolem_id("k", "", 0)
    assert (KIND_BLANK, anon, FOAF + "name", KIND_LITERAL, "Anon", None, None) in triples


def test_errors():
    t, err = parse_rdfxml("<notrdf/>")
    assert err == "Syntax error: expected <rdf:RDF>"
    doc = (
        RDF_OPEN
        + '<rdf:Description rdf:about="http://e/s">'
        + '<foaf:name foaf:bogus="x">B</foaf:name></rdf:Description></rdf:RDF>'
    )
    t, err = parse_rdfxml(doc)
    assert err is not None and "Invalid attribute" in err


def test_read_rdfxml_distributed_and_writer_roundtrip(spark, tmp_path):
    from argo_spark.ops.graph import TripleGraph
    from argo_spark.sinks.writers import rdfxml_string
    from argo_spark.terms import TripleT, iri, literal

    gr = TripleGraph.of(
        spark,
        [
            TripleT(iri("http://e/s"), iri(RDF_TYPE), iri(FOAF + "Person")),
            TripleT(iri("http://e/s"), iri(FOAF + "name"), literal("Bob")),
            TripleT(iri("http://e/s"), iri(FOAF + "desc"), literal("été", lang="fr")),
        ],
    )
    doc = rdfxml_string(gr.df, {"foaf": FOAF, "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#"})
    f = tmp_path / "g.rdf"
    f.write_text(doc)
    triples, errors = read_rdfxml(spark, str(f))
    assert errors.count() == 0
    got = {
        (r.s_kind, r.s_value, r.p_value, r.o_kind, r.o_value, r.o_lang, r.o_dt)
        for r in triples.collect()
    }
    assert got == {
        (0, "http://e/s", RDF_TYPE, 0, FOAF + "Person", None, None),
        (0, "http://e/s", FOAF + "name", 2, "Bob", None, None),
        (0, "http://e/s", FOAF + "desc", 2, "été", "fr", None),
    }


def test_cli_pipeline(spark, tmp_path):
    from argo_spark.cli import run_pipeline
    from tests.fixtures import parse_document

    src = tmp_path / "in.nt"
    src.write_text(
        "<http://e/s1> <http://e/p> <http://e/o> .\n"
        '<http://e/s2> <http://e/p> "lit" .\n'
        "<http://e/s1> <http://e/p> <http://e/o> .\n"  # dup
    )
    out = str(tmp_path / "out.nt")
    n = run_pipeline(
        spark,
        [str(src)],
        out,
        rewrites=[(r"^http://e/(s[0-9])$", r"http://kb/$1")],
        squish=True,
    )
    assert n == 2
    import glob

    text = "".join(open(f).read() for f in sorted(glob.glob(out + "/part-*")))
    triples, err = parse_document(text)
    assert err is None
    subs = {t.s.value for t in triples}
    assert subs == {"http://kb/s1", "http://kb/s2"}


def test_cli_html_to_rdfxml_roundtrip(spark, tmp_path):
    """S7 full wiring: .html in (rdfa reader) -> -O rdfxml out
    (write_rdfxml) -> read_rdfxml parses every part back to the same
    triples."""
    from argo_spark.cli import run_pipeline
    from argo_spark.extract.rdfxml import read_rdfxml

    page = tmp_path / "page.html"
    page.write_text(
        '<html xmlns:foaf="http://xmlns.com/foaf/0.1/"><body>'
        '<div typeof="foaf:Person" resource="http://e/alice">'
        '<span property="foaf:name">Alice</span>'
        '<a rel="foaf:knows" href="http://e/bob">bob</a>'
        "</div></body></html>"
    )
    out = str(tmp_path / "out.rdf")
    n = run_pipeline(spark, [str(page)], out, out_format="rdfxml")
    assert n == 3
    triples, errors = read_rdfxml(spark, out)
    assert errors.count() == 0
    got = {
        (r.s_kind, r.s_value, r.p_value, r.o_kind, r.o_value)
        for r in triples.collect()
    }
    assert got == {
        (0, "http://e/alice", RDF_TYPE, 0, FOAF + "Person"),
        (0, "http://e/alice", FOAF + "name", 2, "Alice"),
        (0, "http://e/alice", FOAF + "knows", 0, "http://e/bob"),
    }


def test_rdfaparse_tool(spark, tmp_path, monkeypatch):
    """rdfaparse equivalent: HTML -> N-Triples file."""
    from argo_spark import cli
    from tests.fixtures import parse_document

    page = tmp_path / "p.html"
    page.write_text(
        '<html><body><div vocab="http://s/" typeof="T" resource="http://e/x">'
        '<span property="name">X</span></div></body></html>'
    )
    out = str(tmp_path / "out.nt")
    # call run_pipeline the way rdfaparse_main wires it (no new session)
    n = cli.run_pipeline(
        spark, [str(page)], out, in_format="rdfa", out_format="ntriples"
    )
    assert n == 2
    import glob

    text = "".join(open(f).read() for f in sorted(glob.glob(out + "/part-*")))
    triples, err = parse_document(text)
    assert err is None
    assert {t.s.value for t in triples} == {"http://e/x"}


def test_cli_url_source(spark, tmp_path):
    """http(s) inputs are fetched driver-side (rdf.go:89-237 parity)
    and dispatched by extension/Content-Type."""
    import http.server
    import threading

    src = tmp_path / "remote.nt"
    src.write_text('<http://e/u1> <http://e/p> "from-url" .\n')

    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(tmp_path), **kw
    )
    httpd = http.server.HTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        port = httpd.server_address[1]
        from argo_spark.cli import run_pipeline

        out = str(tmp_path / "out.nt")
        n = run_pipeline(
            spark, [f"http://127.0.0.1:{port}/remote.nt"], out,
            out_format="ntriples",
        )
        assert n == 1
        import glob

        text = "".join(open(f).read() for f in sorted(glob.glob(out + "/part-*")))
        assert '"from-url"' in text
    finally:
        httpd.shutdown()


def test_cli_quarantines_parse_errors(spark, tmp_path, capsys):
    """Bad rows are quarantined and REPORTED, good rows flow through
    (the reference CLI aborts on first error; at web scale one broken
    doc must not kill the job — documented divergence)."""
    src = tmp_path / "mixed.nt"
    src.write_text(
        "<http://e/s1> <http://e/p> <http://e/o> .\n"
        "this line is not a triple at all\n"
        '<http://e/s2> <http://e/p> "ok" .\n'
    )
    out = str(tmp_path / "outq.nt")
    from argo_spark.cli import run_pipeline

    n = run_pipeline(spark, [str(src)], out, out_format="ntriples")
    assert n == 2
    err = capsys.readouterr().err
    assert "1 input rows quarantined" in err


GOOD_LINES = [f'<http://e/g{i}> <http://e/p> "v{i}" .' for i in range(40)]
BAD_LINES = [f"<http://e/s{i}> <http://e/p> broken{i}" for i in range(8)]
# the report of a source holding BAD_LINES: 5 samples and the exact total
BAD_REPORT = [
    "parse error: Row(error='unexpected character', column=27, "
    f"line='<http://e/s{i}> <http://e/p> broken{i}')"
    for i in range(5)
] + ["8 input rows quarantined (parse errors)"]


def _convert(spark, capsys, tag, inputs, out, **kw):
    """run_pipeline -> (triples written, Spark jobs started, the
    quarantine report lines on stderr)."""
    from argo_spark.cli import run_pipeline

    capsys.readouterr()
    n, n_jobs = jobs_started(
        spark, tag, lambda: run_pipeline(spark, inputs, out, **kw)
    )
    report = [
        ln for ln in capsys.readouterr().err.splitlines()
        if ln.startswith("parse error:") or "quarantined" in ln
    ]
    return n, n_jobs, report


def test_cli_clean_convert_parses_once(spark, tmp_path, capsys):
    """A clean N-Triples -> squished Turtle conversion starts 2 Spark
    jobs (the parse up to the subject-keyed exchange; the squish,
    subject blocks and write after it): the parse pass counted no
    errors, so the report does not parse the source again."""
    src = tmp_path / "clean.nt"
    src.write_text("\n".join(GOOD_LINES) + "\n")
    n, n_jobs, report = _convert(
        spark, capsys, "convert-clean", [str(src)], str(tmp_path / "out.ttl"),
        in_format="ntriples", squish=True,
    )
    assert n == len(GOOD_LINES)
    assert report == []
    assert n_jobs == 2


def _exchanges(df) -> list[str]:
    """The Exchange nodes of ``df``'s physical plan, expression ids
    stripped."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        re.sub(r"#\d+|, \[plan_id=\d+\]", "", ln.strip().lstrip(":+- "))
        for ln in plan.splitlines() if "Exchange" in ln
    ]


def test_squish_shares_the_block_exchange(spark, tmp_path):
    """``--squish`` to Turtle, TriG or Squirtle plans one Exchange,
    hash-partitioned on the writer's block key, for the dedup and the
    subject blocks together; the N-Triples squish keeps its
    canonical-key exchange."""
    from argo_spark.cli import _squish
    from argo_spark.nquads import read_nquads
    from argo_spark.ntriples import nt_lines, read_ntriples
    from argo_spark.sinks import writers
    from argo_spark.sinks.registry import FORMATS

    nt, nq = tmp_path / "g.nt", tmp_path / "g.nq"
    nt.write_text("\n".join(GOOD_LINES) + "\n")
    nq.write_text('<http://e/s> <http://e/p> <http://e/o> <http://e/g> .\n')
    triples, quads = read_ntriples(spark, str(nt))[0], read_nquads(spark, str(nq))[0]
    n = spark.conf.get("spark.sql.shuffle.partitions")
    subject = f"Exchange hashpartitioning(s_kind, s_value, {n}), REPARTITION_BY_NUM"
    for blocks, df, fmt, want in [
        (writers.turtle_blocks, triples, "turtle", subject),
        (writers.squirtle_blocks, triples, "squirtle", subject),
        (writers.trig_blocks, triples, "trig", subject),
        (writers.trig_blocks, quads, "trig", subject.replace("(s_kind", "(g_value, s_kind")),
    ]:
        assert _exchanges(blocks(_squish(df, FORMATS[fmt].block_key))) == [want], fmt
    assert FORMATS["ntriples"].block_key == ()
    assert _exchanges(nt_lines(_squish(triples))) == [
        "Exchange hashpartitioning(o_dt, p_value, o_kind, o_lang, s_value, "
        f"o_value, s_kind, {n}), ENSURE_REQUIREMENTS"
    ]


def test_squish_keeps_the_canonical_key(spark, tmp_path):
    """Rows that print the same Turtle line but differ on the canonical
    key (a literal with both ``o_lang`` and ``o_dt``, as RDF/XML reads
    it, against the same literal without ``o_dt``; ``o_lang`` ``""``
    against NULL) all survive the squish: it deduplicates rows, not
    encoded lines."""
    from argo_spark.cli import _run_pipeline_on
    from argo_spark.schema import TRIPLE_COLS
    from argo_spark.sinks.writers import turtle_string

    s, p, xsd = "http://e/s", "http://e/p", "http://www.w3.org/2001/XMLSchema#string"
    rows = [
        (KIND_IRI, s, p, KIND_LITERAL, "v", "en", xsd),
        (KIND_IRI, s, p, KIND_LITERAL, "v", "en", None),
        (KIND_IRI, s, p, KIND_LITERAL, "w", "", None),
        (KIND_IRI, s, p, KIND_LITERAL, "w", None, None),
        (KIND_IRI, s, p, KIND_LITERAL, "w", None, None),
    ]
    df = spark.createDataFrame(rows, ", ".join(
        f"{c} {'tinyint' if c.endswith('kind') else 'string'}" for c in TRIPLE_COLS
    ))
    assert turtle_string(df.where("o_value = 'v'")).count('"v"@en ;') == 2
    n = _run_pipeline_on(
        spark, [df], str(tmp_path / "out.ttl"), None, None, None, None, None,
        squish=True, t0=0.0,
    )
    assert n == df.dropDuplicates(TRIPLE_COLS).count() == 4


def test_cli_reports_dirty_source_next_to_clean(spark, tmp_path, capsys):
    """A clean source is skipped and a dirty one still reports its
    first 5 errors and the exact total."""
    clean, dirty = tmp_path / "clean.nt", tmp_path / "dirty.nt"
    clean.write_text("\n".join(GOOD_LINES) + "\n")
    dirty.write_text("\n".join(BAD_LINES + ['<http://e/x> <http://e/p> "ok" .']) + "\n")
    n, _, report = _convert(
        spark, capsys, "convert-dirty", [str(clean), str(dirty)],
        str(tmp_path / "out.ttl"), in_format="ntriples", squish=True,
    )
    assert n == len(GOOD_LINES) + 1
    assert report == BAD_REPORT


def test_cli_construct_limit_still_reports(spark, tmp_path, capsys):
    """A CONSTRUCT ... LIMIT reads only part of a source, so its
    parse-pass count is partial and must not clear it: the source is
    probed, the report is complete and the call finishes."""
    import threading

    dirty = tmp_path / "dirty.nt"
    dirty.write_text("\n".join(GOOD_LINES + BAD_LINES) + "\n")
    got = {}
    run = threading.Thread(target=lambda: got.update(out=_convert(
        spark, capsys, "construct-limit", [str(dirty)], str(tmp_path / "out.nt"),
        construct="CONSTRUCT { ?s <http://e/q> ?o } WHERE { ?s <http://e/p> ?o } LIMIT 1",
    )), daemon=True)
    run.start()
    run.join(timeout=300)
    assert "out" in got, "run_pipeline did not finish"
    n, _, report = got["out"]
    assert n == 1
    assert report == BAD_REPORT


def test_parse_http(spark, tmp_path):
    """Graph.ParseHTTP analogue: one URL -> (triples, errors or None
    for a clean document), temp file cleaned up after
    materialization."""
    import glob
    import http.server
    import os
    import threading

    (tmp_path / "g.nt").write_text('<http://e/h1> <http://e/p> "via-http" .\n')
    (tmp_path / "bad.nt").write_text('not a triple\n<http://e/h2> <http://e/p> "ok" .\n')
    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(tmp_path), **kw
    )
    httpd = http.server.HTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        from argo_spark.cli import parse_http

        port = httpd.server_address[1]
        before = set(glob.glob("/tmp/argo_url_*"))
        (triples, errors), n_jobs = jobs_started(
            spark, "parse-http-clean",
            lambda: parse_http(spark, f"http://127.0.0.1:{port}/g.nt"),
        )
        # a clean document is parsed once, by the triples checkpoint
        assert n_jobs == 1
        assert [r.o_value for r in triples.collect()] == ["via-http"]
        assert errors is None
        triples, errors = parse_http(spark, f"http://127.0.0.1:{port}/bad.nt")
        assert [r.o_value for r in triples.collect()] == ["ok"]
        assert [r.line for r in errors.collect()] == ["not a triple"]
        assert set(glob.glob("/tmp/argo_url_*")) == before  # no temp leak
    finally:
        httpd.shutdown()


def test_cli_construct_transform(spark, tmp_path):
    """--construct transforms the merged graph with a SPARQL CONSTRUCT
    query before serialization (after rewrites, set-semantic)."""
    from argo_spark.cli import run_pipeline
    from tests.fixtures import parse_document

    src = tmp_path / "in.nt"
    src.write_text(
        "<http://e/s1> <http://e/knows> <http://e/s2> .\n"
        "<http://e/s2> <http://e/knows> <http://e/s3> .\n"
        '<http://e/s1> <http://e/name> "Ada" .\n'
    )
    out = str(tmp_path / "out.nt")
    n = run_pipeline(
        spark,
        [str(src)],
        out,
        construct=(
            "CONSTRUCT { ?b <http://e/knownBy> ?a } "
            "WHERE { ?a <http://e/knows> ?b }"
        ),
    )
    assert n == 2
    import glob

    text = "".join(open(f).read() for f in sorted(glob.glob(out + "/part-*")))
    triples, err = parse_document(text)
    assert err is None
    got = {(t.s.value, t.p.value, t.o.value) for t in triples}
    assert got == {
        ("http://e/s2", "http://e/knownBy", "http://e/s1"),
        ("http://e/s3", "http://e/knownBy", "http://e/s2"),
    }


def test_cli_select_and_update(spark, tmp_path):
    import glob

    from argo_spark.cli import run_pipeline
    from tests.fixtures import parse_document

    src = tmp_path / "in.nt"
    src.write_text(
        "<http://e/s1> <http://e/p> <http://e/o1> .\n"
        "<http://e/s2> <http://e/p> <http://e/o2> .\n"
        '<http://e/s1> <http://e/name> "Ada" .\n'
    )
    # --select writes SPARQL-TSV parts + a _VARS header sidecar
    out = str(tmp_path / "sel")
    n = run_pipeline(
        spark, [str(src)], out,
        select="SELECT ?s ?o WHERE { ?s <http://e/p> ?o } ORDER BY ?s",
    )
    assert n == 2
    assert open(out + "/_VARS").read() == "?s\t?o\n"
    rows = sorted(
        line
        for f in glob.glob(out + "/part-*")
        for line in open(f).read().splitlines()
    )
    assert rows == [
        "<http://e/s1>\t<http://e/o1>",
        "<http://e/s2>\t<http://e/o2>",
    ]
    # --update rewrites the graph before serialization
    out2 = str(tmp_path / "upd.nt")
    n = run_pipeline(
        spark, [str(src)], out2,
        update=(
            "DELETE { ?s <http://e/p> ?o } INSERT { ?s <http://e/q> ?o } "
            "WHERE { ?s <http://e/p> ?o } ; "
            'DELETE DATA { <http://e/s1> <http://e/name> "Ada" }'
        ),
    )
    assert n == 2
    text = "".join(
        open(f).read() for f in sorted(glob.glob(out2 + "/part-*"))
    )
    triples, err = parse_document(text)
    assert err is None
    assert {t.p.value for t in triples} == {"http://e/q"}


def test_cli_mixed_nt_nq_sources(spark, tmp_path):
    # round 5: .nt + .nq sources merge into a quad frame (triple rows
    # -> default graph); .nq output keeps graphs, .nt output drops
    # them at serialization; graph-aware --update applies
    import glob

    from argo_spark.cli import run_pipeline

    nt = tmp_path / "a.nt"
    nt.write_text('<http://e/a> <http://e/name> "Ada" .\n')
    nq = tmp_path / "b.nq"
    nq.write_text(
        '<http://e/b> <http://e/name> "Bob" <http://g/1> .\n'
    )
    out = str(tmp_path / "merged.nq")
    n = run_pipeline(spark, [str(nt), str(nq)], out)
    assert n == 2
    lines = sorted(
        line
        for f in glob.glob(out + "/part-*")
        for line in open(f).read().splitlines()
    )
    assert lines == [
        '<http://e/a> <http://e/name> "Ada" .',
        '<http://e/b> <http://e/name> "Bob" <http://g/1> .',
    ]
    out2 = str(tmp_path / "upd.nt")
    n = run_pipeline(
        spark, [str(nq)], out2,
        update=(
            "INSERT DATA { GRAPH <http://g/2> "
            '{ <http://e/c> <http://e/name> "Cee" } }'
        ),
        squish=True,
    )
    assert n == 2
    lines = sorted(
        line
        for f in glob.glob(out2 + "/part-*")
        for line in open(f).read().splitlines()
    )
    assert lines == [
        '<http://e/b> <http://e/name> "Bob" .',
        '<http://e/c> <http://e/name> "Cee" .',
    ]


def test_cli_ask_and_describe(spark, tmp_path, capsys):
    # round 5b: the remaining two query forms on the CLI — --ask
    # prints true/false and writes nothing; --describe serializes
    # the described subgraph
    import glob

    from argo_spark.cli import main, run_pipeline
    from tests.fixtures import parse_document

    src = tmp_path / "in.nt"
    src.write_text(
        "<http://e/s1> <http://e/p> <http://e/o1> .\n"
        '<http://e/s1> <http://e/name> "Ada" .\n'
        '<http://e/s2> <http://e/name> "Bob" .\n'
    )
    out = str(tmp_path / "never.nt")
    n = run_pipeline(
        spark, [str(src)], out,
        ask="ASK { <http://e/s1> <http://e/p> ?o }",
    )
    assert n == 1 and capsys.readouterr().out.strip() == "true"
    assert not glob.glob(out + "*")  # ASK writes no output
    n = run_pipeline(
        spark, [str(src)], out,
        ask='ASK { ?s <http://e/name> "Cee" }',
    )
    assert n == 0 and capsys.readouterr().out.strip() == "false"

    out2 = str(tmp_path / "desc.nt")
    n = run_pipeline(
        spark, [str(src)], out2,
        describe="DESCRIBE <http://e/s1>",
    )
    assert n == 2
    text = "".join(
        open(f).read() for f in sorted(glob.glob(out2 + "/part-*"))
    )
    triples, err = parse_document(text)
    assert err is None
    assert {t.s.value for t in triples} == {"http://e/s1"}
    # query forms are mutually exclusive on the command line
    import pytest

    with pytest.raises(SystemExit, match="mutually exclusive"):
        main(["--ask", "ASK {}", "--select", "SELECT * WHERE {}",
              "-o", out, str(src)])
