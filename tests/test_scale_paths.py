"""Scale-path guarantees: star-edge LSH (O(k) per bucket, identical
connected components), bucket-size caps with logged drops, shingle
DF-capping, and the distributed entity map's broadcast cap.

These pin the 100-TB story: a giant duplicate cluster must cost O(k)
edges, never C(k,2) pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from argo_spark.namespaces import DBP, SCHEMA
from argo_spark.ops.dedup import (
    apply_entity_mapping,
    connected_components,
    lsh_candidate_edges,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    simhash_candidate_edges,
    simhash_candidate_pairs,
)
from argo_spark.ops.graph import TripleGraph
from argo_spark.ops.similarity import embedding_neardup_pairs
from argo_spark.terms import TripleT, iri, literal


def _components(edges_df):
    comps = connected_components(edges_df.select("a", "b"))
    rows = comps.collect()
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r.comp, set()).add(r.id)
    return {frozenset(v) for v in by_comp.values() if len(v) > 1}


def _sig_df(spark):
    """Signatures with two multi-member buckets and one singleton."""
    rows = [
        (i, [7, 7, 7, 7] if i < 4 else ([9, 9, 9, 9] if i < 7 else [i, 0, i, 0]))
        for i in range(9)
    ]
    return spark.createDataFrame(rows, "id long, sig array<long>")


def test_star_edges_same_components(spark):
    sigs = _sig_df(spark)
    pairs = lsh_candidate_pairs(sigs, "id", n_bands=2, rows_per_band=2)
    edges = lsh_candidate_edges(sigs, "id", n_bands=2, rows_per_band=2)
    assert _components(pairs) == _components(edges) == {
        frozenset({0, 1, 2, 3}),
        frozenset({4, 5, 6}),
    }
    # star is linear: cluster of k emits exactly k-1 distinct edges
    assert edges.count() == 3 + 2
    assert pairs.count() == 6 + 3  # all-pairs is quadratic


def test_giant_cluster_star_is_linear(spark):
    """A 10k-member exact-duplicate cluster: all-pairs would emit
    ~50M pairs; star mode must emit exactly k-1 edges and dedup to one
    survivor."""
    k = 10_000
    docs = spark.range(k).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate page text repeated across the whole crawl "
              "with enough words to form shingles of length five easily").alias("text"),
    )
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.5, pair_mode="star"
    )
    assert pairs.count() == k - 1
    hubs = pairs.select("a").distinct().collect()
    assert [r.a for r in hubs] == [0]
    comps = connected_components(pairs.select("a", "b"))
    assert comps.where("comp = 0").count() == k
    assert comps.select("comp").distinct().count() == 1


def test_max_bucket_cap_logs_and_drops(spark, caplog):
    sigs = _sig_df(spark)
    with caplog.at_level("WARNING", logger="argo_spark.dedup"):
        capped = lsh_candidate_pairs(
            sigs, "id", n_bands=2, rows_per_band=2, max_bucket=3
        )
        got = {(r.a, r.b) for r in capped.collect()}
    # the 4-member bucket is dropped (logged), the 3-member one kept
    assert got == {(4, 5), (4, 6), (5, 6)}
    assert any("oversize" in m for m in caplog.messages)


def _dup_docs(spark):
    base = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
            "eiusmod tempor incididunt ut labore et dolore magna aliqua")
    rows = [
        (0, base),
        (1, base),
        (2, base.replace("dolor", "color")),
        (3, "completely different text about spark dataframes and shuffles here"),
        (4, base + " extra trailing words appended"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_edges_match_pair_components(spark):
    d = _dup_docs(spark)
    pairs = simhash_candidate_pairs(d, "doc_id", "text")
    edges = simhash_candidate_edges(d, "doc_id", "text")
    assert _components(pairs) == _components(edges)
    got = {(r.a, r.b): r.hamming for r in edges.collect()}
    assert got[(0, 1)] == 0  # hub carries its simhash: exact dup distance 0


def test_simhash_edges_max_hamming(spark):
    d = _dup_docs(spark)
    edges = simhash_candidate_edges(d, "doc_id", "text", max_hamming=0)
    assert {(r.a, r.b) for r in edges.collect()} == {(0, 1)}


def test_embedding_star_components_match(spark):
    import math

    rows = []
    for i in range(30):
        base = [math.sin(0.7 * (i % 3) + j) for j in range(8)]
        jitter = [x + 0.001 * i for x in base]
        rows.append((i, jitter))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_neardup_pairs(
        emb, threshold=0.999, dim=8, pair_mode="pairs"
    )
    star = embedding_neardup_pairs(
        emb, threshold=0.999, dim=8, pair_mode="star"
    )
    assert _components(pairs) == _components(star)
    assert star.count() <= pairs.count()


def test_max_shingle_df_drops_stop_shingles(spark):
    # every doc shares one hot shingle; distinct tails otherwise
    rows = [
        (i, "common prefix words here always " + f"unique tail {i} " * 3)
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = minhash_dedup_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.0, max_shingle_df=3
    )
    uncapped = minhash_dedup_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.0)
    # the universal shingles are gone, so fewer (or equal) candidate pairs
    assert capped.count() <= uncapped.count()


def test_apply_entity_mapping_shuffle_fallback(spark, monkeypatch, caplog):
    """The distributed entity map decides its own join strategy: it
    counts itself and carries a broadcast hint up to
    ``BROADCAST_MAX_ROWS`` rows; above the cap it carries none (a plain
    join that AQE plans) and the rewrite is the same."""
    from argo_spark.ops import dedup

    ada1 = DBP + "Ada_Lovelace"
    ada2 = DBP + "Ada_Lovelace_(mathematician)"
    triples = TripleGraph.of(
        spark,
        [
            TripleT(iri(ada1), iri(SCHEMA + "name"), literal("Ada Lovelace")),
            TripleT(iri(ada2), iri(SCHEMA + "name"), literal("Ada Lovelace")),
            TripleT(iri("http://e/doc"), iri(SCHEMA + "mentions"), iri(ada2)),
        ],
    ).df

    monkeypatch.setattr(dedup, "DRIVER_MAX_ENTITIES", 0)  # distributed path

    def rewrite():
        mapping = dedup.entity_dedup_mapping(triples)
        hinted = "ResolvedHint" in mapping._jdf.queryExecution().analyzed().toString()
        out = apply_entity_mapping(triples, mapping)
        return hinted, sorted((r.s_value, r.o_value) for r in out.collect())

    hinted, broad = rewrite()
    assert hinted
    assert ada2 not in {v for row in broad for v in row}
    monkeypatch.setattr(dedup, "BROADCAST_MAX_ROWS", 0)
    with caplog.at_level("WARNING", logger="argo_spark.dedup"):
        hinted, shuffled = rewrite()
    assert not hinted
    assert shuffled == broad
    assert any("shuffle join" in m for m in caplog.messages)


def test_word_shingles_k1(spark):
    """k=1 unigram shingles must not crash (regression: leads[-1] on
    an empty list) and behave as distinct-token sets."""
    from argo_spark.ops.dedup import minhash_dedup_pairs

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta alpha"), (2, "gamma delta")],
        "doc_id long, text string",
    )
    pairs = minhash_dedup_pairs(docs, "doc_id", "text", shingle_k=1, threshold=0.9)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (0, 1) in got  # same token set
    assert not any(2 in p for p in got)


def test_scale_safe_defaults_and_uncapped_warning(spark):
    """Round-3 contract: the public dedup API cannot silently go
    quadratic — minhash_dedup_pairs defaults to star edges, and every
    all-pairs path without a finite max_bucket warns."""
    import inspect
    import warnings

    assert inspect.signature(minhash_dedup_pairs).parameters["pair_mode"].default == "star"

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    sigs = _sig_df(spark)
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.warns(RuntimeWarning, match="quadratic"):
        lsh_candidate_pairs(sigs, "id", n_bands=2, rows_per_band=2)
    with pytest.warns(RuntimeWarning, match="quadratic"):
        simhash_candidate_pairs(docs, "doc_id", "text")
    with pytest.warns(RuntimeWarning, match="quadratic"):
        minhash_dedup_pairs(docs, "doc_id", "text", pair_mode="pairs")
    with pytest.warns(RuntimeWarning, match="quadratic"):
        embedding_neardup_pairs(emb, threshold=0.5, dim=2, pair_mode="pairs")
    # capped pairs mode and star mode stay silent
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        lsh_candidate_pairs(sigs, "id", n_bands=2, rows_per_band=2, max_bucket=100)
        minhash_dedup_pairs(docs, "doc_id", "text")  # star default
