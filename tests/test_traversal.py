"""Iterative self-join traversal + distributed list iteration."""

from __future__ import annotations

from argo_spark.ops.graph import encode_list
from argo_spark.ops.traversal import iter_lists_distributed
from argo_spark.terms import blank, iri, literal


def test_iter_lists_distributed(spark):
    m1 = [literal("x"), literal("y"), iri("http://e/z")]
    m2 = [literal("only")]
    df = encode_list(spark, blank("h1"), m1).unionByName(
        encode_list(spark, blank("h2"), m2)
    )
    heads = spark.createDataFrame(
        [(1, "h1"), (1, "h2")], "kind tinyint, value string"
    )
    rows = iter_lists_distributed(df, heads).collect()
    got = {}
    for r in rows:
        got.setdefault(r.head_value, []).append(
            (r.pos, r.o_kind, r.o_value, r.o_lang, r.o_dt)
        )
    assert sorted(got["h1"]) == [
        (0, 2, "x", None, None),
        (1, 2, "y", None, None),
        (2, 0, "http://e/z", None, None),
    ]
    assert got["h2"] == [(0, 2, "only", None, None)]


def test_transitive_closure_chain_and_cycle(spark):
    from argo_spark.ops.traversal import transitive_closure

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "x")],
        "src string, dst string",
    )
    got = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    assert got == {
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"),
        ("x", "y"), ("y", "x"), ("x", "x"), ("y", "y"),
    }


def test_transitive_closure_nonconvergence_raises(spark):
    import pytest

    from argo_spark.ops.traversal import transitive_closure

    # a 40-hop chain cannot converge in 2 doubling rounds (max 4 hops)
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(40)], "src string, dst string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        transitive_closure(edges, max_rounds=2)
    # ...but converges fine with the default budget
    assert transitive_closure(edges).count() == 40 * 41 // 2


def test_transitive_closure_random_vs_python(spark):
    """Randomized oracle: the distributed doubling closure must equal
    a driver-side Warshall closure on seeded random digraphs
    (cycles, self-loops, disconnected bits all arise at these sizes)."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = rng.randint(5, 12)
        edges = {
            (f"v{rng.randrange(n)}", f"v{rng.randrange(n)}")
            for _ in range(rng.randint(4, 20))
        }
        # python reference: iterate to fixpoint
        closure = set(edges)
        while True:
            new = {
                (a, d)
                for a, b in closure
                for c, d in closure
                if b == c and (a, d) not in closure
            }
            if not new:
                break
            closure |= new
        from argo_spark.ops.traversal import transitive_closure

        df = spark.createDataFrame(
            sorted(edges), "src string, dst string"
        )
        got = {(r.src, r.dst) for r in transitive_closure(df).collect()}
        assert got == closure, f"seed {seed}"
