"""Dedup family: exact, MinHash-LSH, SimHash, connected components,
and the north-star entity dedup + winner rewrite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from argo_spark.namespaces import DBP, RDF_TYPE, SCHEMA
from argo_spark.ops.dedup import (
    apply_entity_mapping,
    connected_components,
    entity_dedup_mapping,
    exact_dedup,
    minhash_dedup_pairs,
    simhash_candidate_pairs,
)
from argo_spark.ops.graph import TripleGraph
from argo_spark.terms import TripleT, iri, literal

BASE = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor incididunt ut labore et dolore magna aliqua"


def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("dolor", "color")),  # near dup of 0
        (3, "completely different text about spark dataframes and shuffles here"),
        (4, "the quick brown fox jumps over the lazy dog again and again and again"),
        (5, BASE + " extra trailing words appended"),  # near dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(docs(spark), ["text"], "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [0, 2, 3, 4, 5]


def test_minhash_pairs_find_near_dups(spark):
    pairs = minhash_dedup_pairs(docs(spark), "doc_id", "text", threshold=0.4)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (0, 1) in got  # exact dup
    assert (0, 5) in got or (1, 5) in got  # near dup
    # unrelated docs never pair
    assert not any(3 in p or 4 in p for p in got)


def test_simhash_pairs(spark):
    pairs = simhash_candidate_pairs(docs(spark), "doc_id", "text")
    got = {(r.a, r.b): r.hamming for r in pairs.collect()}
    assert got[(0, 1)] == 0  # identical text, identical simhash
    near = [h for (a, b), h in got.items() if (a, b) in {(0, 5), (1, 5)}]
    assert near and min(near) <= 16


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("z", "z2")], "a string, b string"
    )
    comps = {r.id: r.comp for r in connected_components(edges).collect()}
    assert comps["a"] == comps["b"] == comps["c"] == "a"
    assert comps["x"] == comps["y"] == "x"
    assert comps["z"] == comps["z2"] == "z"


def test_entity_dedup_and_rewrite(spark):
    ada1 = DBP + "Ada_Lovelace"
    ada2 = DBP + "Ada_Lovelace_(mathematician)"
    turing = DBP + "Alan_Turing"
    gr = TripleGraph.of(
        spark,
        [
            TripleT(iri(ada1), iri(SCHEMA + "name"), literal("Ada Lovelace")),
            TripleT(iri(ada2), iri(SCHEMA + "name"), literal("Ada Lovelace")),
            TripleT(iri(turing), iri(SCHEMA + "name"), literal("Alan Turing")),
            TripleT(iri(ada2), iri(RDF_TYPE), iri(SCHEMA + "Person")),
            TripleT(iri("http://e/doc"), iri(SCHEMA + "mentions"), iri(ada2)),
        ],
    )
    mapping = entity_dedup_mapping(gr.df)
    m = {r.entity: r.canonical for r in mapping.collect()}
    assert m == {ada2: ada1}  # variant folded into min IRI; Turing untouched

    rewritten = apply_entity_mapping(gr.df, mapping)
    subs = {r.s_value for r in rewritten.select("s_value").collect()}
    assert ada2 not in subs and ada1 in subs
    objs = {r.o_value for r in rewritten.where(F.col("o_kind") == 0).collect()}
    assert ada2 not in objs
    # literals untouched
    names = {r.o_value for r in rewritten.where(F.col("o_kind") == 2).collect()}
    assert "Ada Lovelace" in names
    assert rewritten.count() == gr.df.count()


def test_connected_components_random_graphs_vs_union_find(spark):
    """CC equals a driver-side union-find oracle on seeded random
    graphs (CC underpins every dedup consumer)."""
    import random

    for seed in range(5):
        rng = random.Random(seed)
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 80))
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        touched = {v for e in edges for v in e}
        expected = {}
        for v in touched:
            expected.setdefault(find(v), set()).add(v)
        want = {frozenset(m) for m in expected.values()}

        df = spark.createDataFrame(edges, "a long, b long")
        got_rows = connected_components(df).collect()
        by_comp: dict = {}
        for r in got_rows:
            by_comp.setdefault(r.comp, set()).add(r.id)
        got = {frozenset(m) for m in by_comp.values()}
        assert got == want, f"seed {seed}"


def test_minhash_exact_duplicate_recall_random(spark):
    """Planted EXACT duplicates must always pair (identical signature
    => identical buckets), in both pair modes, on random corpora."""
    import random

    for seed in range(3):
        rng = random.Random(seed)
        words = [f"w{i}" for i in range(40)]
        rows, dup_pairs = [], []
        doc_id = 0
        for d in range(12):
            text = " ".join(rng.choice(words) for _ in range(30))
            rows.append((doc_id, text))
            if d % 3 == 0:  # plant an exact duplicate
                rows.append((doc_id + 100, text))
                dup_pairs.append((doc_id, doc_id + 100))
            doc_id += 1
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        for mode in ("pairs", "star"):
            pairs = minhash_dedup_pairs(
                docs, "doc_id", "text", threshold=0.99, pair_mode=mode
            )
            comps = {r.id: r.comp for r in
                     connected_components(pairs.select("a", "b")).collect()}
            for a, b in dup_pairs:
                assert comps.get(a) is not None and comps.get(a) == comps.get(b), (
                    f"seed {seed} mode {mode}: exact dup ({a},{b}) not merged"
                )


# Hand-built surfaces the synthetic corpus lacks: non-ASCII and astral
# characters, names shorter than the shingle size (and one surface
# shorter than it, under a trailing-slash IRI), an empty name, and a
# chain whose ends are not similar to each other (Jaccard 0.31) but
# each is to the middle (0.58, 0.59), so it merges only transitively.
CHAIN = (DBP + "Zola_(writer_of_Nana)", DBP + "Émile_Zola", DBP + "Émile_Zola_(writer)")
HAND_NAMES = (
    (CHAIN[0], "Émile Zola writer"),
    (CHAIN[1], "Émile Zola"),
    (CHAIN[2], "Émile Zola"),
    (DBP + "Λambda_中文", "λambda 中文"),
    (DBP + "Λambda_中文_𝔸", "λambda 中文 𝔸"),
    (DBP + "𝔸", "𝔸"),
    (DBP + "中/", "中"),
    (DBP + "Empty", ""),
)


def _corpus_triples(spark):
    from argo_spark.extract.rdfa import extract_triples_df
    from argo_spark.pages import synthesize_pages
    from argo_spark.schema import TRIPLE_COLS

    return extract_triples_df(synthesize_pages(spark, 400)).select(*TRIPLE_COLS)


def _hand_triples(spark):
    return TripleGraph.of(
        spark,
        [TripleT(iri(e), iri(SCHEMA + "name"), literal(n)) for e, n in HAND_NAMES],
    ).df


@pytest.mark.parametrize("build", [_corpus_triples, _hand_triples], ids=["corpus", "hand"])
def test_driver_entity_mapping_equals_distributed(spark, build, monkeypatch):
    """The driver path (Spark-computed shingles and band keys, driver
    grouping, Jaccard and union-find) must reproduce the distributed
    entity-dedup mapping EXACTLY (same hubs, Jaccard, min-label
    components) on the real synthetic corpus triples and on the
    hand-built edge cases."""
    from argo_spark.ops import dedup

    triples = build(spark).persist()
    fast = entity_dedup_mapping(triples)  # default: driver path
    # a cap of 0 sends every non-empty entity set down the distributed path
    monkeypatch.setattr(dedup, "DRIVER_MAX_ENTITIES", 0)
    slow = entity_dedup_mapping(triples)
    f = {(r.entity, r.canonical) for r in fast.collect()}
    s = {(r.entity, r.canonical) for r in slow.collect()}
    assert f == s and len(f) > 0, (sorted(f - s)[:3], sorted(s - f)[:3])
    if build is _hand_triples:
        assert {(e, CHAIN[0]) for e in CHAIN[1:]} <= f, sorted(f)
    triples.unpersist()
