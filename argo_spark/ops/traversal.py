"""Graph traversal by iterative self-join (SURVEY §2.4 "self-join /
graph traversal").

The reference chases pointers one list cell at a time
(/root/reference/graph.go:255-271); the scale shape is the inverse:
each traversal advances every walk at once per round via a single
join, so the round count depends on path length (or, for the
closure, its logarithm), never on how many walks run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from argo_spark.namespaces import RDF_FIRST, RDF_NIL, RDF_REST


def transitive_closure(edges: DataFrame, max_rounds: int = 10) -> DataFrame:
    """All (src, dst) pairs connected by a path of >= 1 edges.

    Pointer doubling with an exact-length ladder: alongside the
    accumulated pair set ``P_k`` (all pairs within 2^k hops) keep
    ``D_k`` = pairs connected by some walk of length EXACTLY 2^k, and
    grow ``P_{k+1} = P_k ∪ (P_k ∘ D_k)``, ``D_{k+1} = D_k ∘ D_k``.
    Correct for any graph: a walk of length L in (2^k, 2^{k+1}]
    splits as a prefix of length L-2^k ≤ 2^k (in P_k) and a suffix of
    exactly 2^k (in D_k). Same O(log diameter) shuffle rounds as
    naive ``P ∘ P`` doubling, but each new pair is generated by ONE
    split point instead of every split point — the naive form's
    join intermediate is O(paths²/|V|) per round (measured 13M
    composed rows for a 630k-pair closure), the ladder form's is
    O(paths). Lineage is cut per round with localCheckpoint.
    Converges (returns) when a round adds nothing; raises if the
    diameter exceeds 2^max_rounds rather than silently truncating
    (same contract as connected_components' non-convergence guard).

    Input must have exactly the columns (src, dst); output the same.
    Note the closure of a graph can be O(|V|^2) pairs — that is the
    semantics of SPARQL's ``p+``, not an implementation artifact; the
    doubling keeps the ROUND COUNT logarithmic, and AQE handles the
    growing intermediate sizes.

    Convergence is detected by pair-count fixpoint (the checkpoint
    materializes the round anyway, so the count is a cheap RDD count)
    rather than an anti-join emptiness probe: an anti-join between two
    localCheckpoint'd frames trips a Catalyst constraint-rewrite bug
    on this Spark version (NoSuchElementException in
    UnionBase.rewriteConstraints when the LogicalRDD's inherited
    constraints reference pruned attributes).
    """
    # P_k and D_k live in ONE frame: state = the P_k pair set with a
    # boolean `_d` marking membership in D_k. Both of the round's
    # compositions share the same right side (D_k) and join key
    # (dst == src), so one join computes them together — `grown`
    # rows inherit the left row's flag (left ∈ P_k → a P_{k+1}
    # candidate; left ∈ D_k → a D_{k+1} pair, since D_k ∘ D_k is
    # exactly the walks of length 2^{k+1}) — and one hash aggregate
    # (max over the flag) replaces the two separate dedups. Net: one
    # join + one aggregate + ONE localCheckpoint per round instead of
    # two joins + two dedups + two checkpoints (measured 4.05s →
    # see OPTIMIZATION_r06.md; same O(log diameter) rounds).
    # Checkpoints are LAZY: the fixpoint count() is the action that
    # materializes each round's checkpoint — one job per round, not a
    # checkpoint job plus a count job.
    state = (
        edges.select("src", "dst")
        .dropDuplicates()
        .withColumn("_d", F.lit(True))
        .localCheckpoint(eager=False)
    )
    n = state.count()
    for _ in range(max_rounds):
        right = state.where(F.col("_d")).select(
            F.col("src").alias("_ds"), F.col("dst").alias("_dd")
        )
        grown = state.join(right, F.col("dst") == F.col("_ds")).select(
            "src", F.col("_dd").alias("dst"), "_d"
        )
        nxt = (
            state.select("src", "dst", F.lit(False).alias("_d"))
            .unionByName(grown)
            .groupBy("src", "dst")
            .agg(F.max("_d").alias("_d"))
            .localCheckpoint(eager=False)
        )
        # one materializing action yields both fixpoint signals: the
        # pair count, and whether any walk of exactly 2^{k+1} exists.
        # D_{k+1} empty => no walk is longer than 2^{k+1} (any longer
        # walk contains one as a prefix) => nxt is already the full
        # closure — converge NOW instead of paying a confirm round
        # (on acyclic graphs this skips the last round entirely;
        # cycles keep D nonempty and use the count fixpoint).
        n2, nd = nxt.agg(
            F.count(F.lit(1)), F.sum(F.col("_d").cast("int"))
        ).first()
        if n2 == n:
            return state.select("src", "dst")
        if not nd:
            return nxt.select("src", "dst")
        state, n = nxt, n2
    raise RuntimeError(
        f"transitive_closure did not converge in {max_rounds} doubling "
        f"rounds (path diameter > {2 ** max_rounds})"
    )


def iter_lists_distributed(
    triples: DataFrame, heads: DataFrame, max_len: int = 64
) -> DataFrame:
    """Walk rdf:first/rdf:rest cons lists for MANY heads at once:
    (head_kind, head_value, pos, o_kind, o_value, o_lang, o_dt).

    One join per list POSITION (not per list): iteration count is the
    max list length, independent of how many lists are walked — the
    distributed inverse of graph.go:255-271."""
    firsts = triples.where(F.col("p_value") == RDF_FIRST).select(
        F.col("s_kind").alias("c_kind"), F.col("s_value").alias("c_value"),
        "o_kind", "o_value", "o_lang", "o_dt",
    )
    rests = triples.where(
        (F.col("p_value") == RDF_REST)
        & ~((F.col("o_kind") == 0) & (F.col("o_value") == RDF_NIL))
    ).select(
        F.col("s_kind").alias("c_kind"), F.col("s_value").alias("c_value"),
        F.col("o_kind").alias("n_kind"), F.col("o_value").alias("n_value"),
    )

    cursor = heads.select(
        F.col("kind").alias("head_kind"), F.col("value").alias("head_value"),
        F.col("kind").alias("c_kind"), F.col("value").alias("c_value"),
    ).localCheckpoint(eager=True)
    out = None
    for pos in range(max_len):
        members = cursor.join(firsts, ["c_kind", "c_value"]).select(
            "head_kind", "head_value",
            F.lit(pos).alias("pos"), "o_kind", "o_value", "o_lang", "o_dt",
        )
        members = members.localCheckpoint(eager=True)
        out = members if out is None else out.unionByName(members)
        cursor = (
            cursor.join(rests, ["c_kind", "c_value"])
            .select(
                "head_kind", "head_value",
                F.col("n_kind").alias("c_kind"), F.col("n_value").alias("c_value"),
            )
            .localCheckpoint(eager=True)
        )
        if not cursor.take(1):
            break
    return out
