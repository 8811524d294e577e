"""BGP matching — the SPARQL-SELECT-shaped query surface."""

from __future__ import annotations

import pytest

from argo_spark.namespaces import RDF_TYPE, SCHEMA
from argo_spark.ops.bgp import bgp_match
from argo_spark.ops.graph import TripleGraph
from argo_spark.terms import TripleT, blank, iri, literal

NAME = SCHEMA + "name"
KNOWS = "http://e/knows"


def graph(spark):
    return TripleGraph.of(
        spark,
        [
            TripleT(iri("http://e/ada"), iri(RDF_TYPE), iri(SCHEMA + "Person")),
            TripleT(iri("http://e/ada"), iri(NAME), literal("Ada")),
            TripleT(iri("http://e/alan"), iri(RDF_TYPE), iri(SCHEMA + "Person")),
            TripleT(iri("http://e/alan"), iri(NAME), literal("Alan")),
            TripleT(iri("http://e/kyoto"), iri(RDF_TYPE), iri(SCHEMA + "Place")),
            TripleT(iri("http://e/kyoto"), iri(NAME), literal("Kyoto", lang="ja")),
            TripleT(iri("http://e/ada"), iri(KNOWS), iri("http://e/alan")),
            TripleT(blank("b1"), iri(NAME), literal("Anon")),
            TripleT(iri("http://e/self"), iri(KNOWS), iri("http://e/self")),
        ],
    )


def test_single_pattern_bindings(spark):
    out = bgp_match(graph(spark).df, [("?s", RDF_TYPE, SCHEMA + "Person")])
    assert {r.s for r in out.collect()} == {"<http://e/ada>", "<http://e/alan>"}


def test_join_on_shared_variable(spark):
    out = bgp_match(
        graph(spark).df,
        [("?s", RDF_TYPE, SCHEMA + "Person"), ("?s", NAME, "?name")],
    )
    got = {(r.s, r.name) for r in out.collect()}
    assert got == {
        ("<http://e/ada>", '"Ada"'),
        ("<http://e/alan>", '"Alan"'),
    }  # Kyoto (Place) and the blank node are excluded by the type join


def test_three_pattern_chain(spark):
    out = bgp_match(
        graph(spark).df,
        [
            ("?a", KNOWS, "?b"),
            ("?a", NAME, "?an"),
            ("?b", NAME, "?bn"),
        ],
    )
    got = {(r.an, r.bn) for r in out.collect()}
    assert got == {('"Ada"', '"Alan"')}


def test_literal_constant_with_lang(spark):
    out = bgp_match(graph(spark).df, [("?s", NAME, literal("Kyoto", lang="ja"))])
    assert [r.s for r in out.collect()] == ["<http://e/kyoto>"]
    # plain "Kyoto" (no lang) is a different term — structural equality
    assert bgp_match(graph(spark).df, [("?s", NAME, literal("Kyoto"))]).count() == 0


def test_repeated_var_within_pattern(spark):
    out = bgp_match(graph(spark).df, [("?x", KNOWS, "?x")])
    assert [r.x for r in out.collect()] == ["<http://e/self>"]


def test_predicate_variable(spark):
    out = bgp_match(graph(spark).df, [(iri("http://e/ada"), "?p", "?o")])
    assert {r.p for r in out.collect()} == {
        f"<{RDF_TYPE}>", f"<{NAME}>", f"<{KNOWS}>",
    }


def test_empty_patterns_rejected(spark):
    with pytest.raises(ValueError):
        bgp_match(graph(spark).df, [])


def test_bgp_random_graphs_vs_python_oracle(spark):
    """bgp_match equals brute-force conjunctive pattern evaluation on
    seeded random graphs (join/variable-binding logic oracle)."""
    import itertools
    import random

    from argo_spark.terms import format_term

    for seed in range(4):
        rng = random.Random(seed)
        nodes = [f"http://e/n{i}" for i in range(6)]
        preds = [f"http://e/p{i}" for i in range(3)]
        trips = sorted({
            (rng.choice(nodes), rng.choice(preds), rng.choice(nodes))
            for _ in range(rng.randrange(8, 25))
        })
        gr = TripleGraph.of(
            spark, [TripleT(iri(s), iri(p), iri(o)) for s, p, o in trips]
        )
        patterns = [
            ("?x", preds[0], "?y"),
            ("?y", preds[1], "?z"),
        ]
        got = {
            (r.x, r.y, r.z) for r in bgp_match(gr.df, patterns).collect()
        }
        want = set()
        for (s1, p1, o1), (s2, p2, o2) in itertools.product(trips, trips):
            if p1 == preds[0] and p2 == preds[1] and o1 == s2:
                want.add((f"<{s1}>", f"<{o1}>", f"<{o2}>"))
        assert got == want, f"seed {seed}"


_RESTART_SCRIPT = """
from pyspark import SparkContext
from argo_spark.ops.bgp import _nt_for_position
from argo_spark.session import get_spark
from argo_spark.terms import triple_nt_col

def nt_lines():
    spark = get_spark("memo-restart", master="local[1]")
    df = spark.createDataFrame(
        [(0, "http://e/s", "http://e/p", 0, "http://e/o", None, None)],
        "s_kind tinyint, s_value string, p_value string, "
        "o_kind tinyint, o_value string, o_lang string, o_dt string",
    )
    row = df.select(_nt_for_position("s"), triple_nt_col()).first()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return tuple(row)

first = nt_lines()
assert nt_lines() == first == ("<http://e/s>", "<http://e/s> <http://e/p> <http://e/o> ."), first
print("ok")
"""


def test_column_memos_survive_jvm_restart():
    """The memoized term columns belong to the JVM that built them: a
    session started after the driver JVM was shut down, in the same
    process, builds its own (a memo bound to the first JVM fails the
    select with a NullPointerException). Run in a subprocess so the
    suite's session is untouched."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        SPARK_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and proc.stdout.strip().endswith("ok"), proc.stderr[-2000:]
