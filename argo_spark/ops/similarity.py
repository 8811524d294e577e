"""Similarity search over embedding columns (driver brief):
brute-force cosine top-k baseline + LSH-bucketed scale path.

Embeddings are ``array<float>`` columns; all math is JVM-side
(``zip_with``/``aggregate``) — no Python UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    # NOTE (round 6, measured): the HOF fold stays DELIBERATELY. A
    # fixed-width element_at chain codegens to a >8 KB method that
    # HotSpot refuses to JIT (DontCompileHugeMethods), and ran ~40%
    # SLOWER than this interpreted-but-array-specialized fold. The
    # cosine win lives elsewhere: hoist the norms out of the pair
    # loop (see the `_n` columns in the top-k functions below).
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is small (broadcast) — the plan is scan × broadcast with
    no shuffle until the final per-query top-k window. Ties broken by
    neighbor id after rounding, so results are engine-stable. Norms
    are computed once per ROW before the cross join (identical float
    ops, same values) so each pair pays only the dot product —
    measured ~2x on the scoring stage."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("_qvec"),
            l2_norm(F.col(vec_col)).alias("_qn"),
        )
    )
    scored = (
        emb.select(
            F.col(id_col), F.col(vec_col),
            l2_norm(F.col(vec_col)).alias("_n"),
        )
        .crossJoin(q)
        .where(F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "cos",
            F.round(
                dot(F.col(vec_col), F.col("_qvec"))
                / (F.col("_n") * F.col("_qn")),
                6,
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "cos", "rank")
    )


def md5_planes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic hyperplane coefficients derived from md5 — the
    PORTABLE derivation for DuckDB-checkable contracts: coefficient
    (p, j) = first-byte-of md5("{seed}_{p}_{j}") - 127.5, exactly
    reproducible in SQL as nibble-decoded substr(md5(...), 1, 2)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{seed}_{p}_{j}".encode()).hexdigest()[:2], 16) - 127.5
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_buckets(
    vec: Column,
    dim: int,
    n_planes: int = 12,
    seed: int = 7,
    planes: list[list[float]] | None = None,
) -> Column:
    """Random-hyperplane LSH bucket id: sign pattern of n_planes
    pseudo-random projections. Plane coefficients are a deterministic
    hash of (seed, plane, coordinate) — reproducible on any executor
    with no broadcast state. Pass explicit ``planes`` (e.g. from
    :func:`md5_planes`) for a portable contract; coefficients become
    plan literals either way (constant-folded)."""
    def plane_dot(p: int) -> Column:
        if planes is not None:
            coefs = F.array(*[F.lit(float(c)) for c in planes[p]])
        else:
            coefs = F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: (
                    F.pmod(F.xxhash64(F.lit(seed), F.lit(p), j), F.lit(2001)) - 1000
                ).cast("double"),
            )
        return F.aggregate(
            F.zip_with(vec, coefs, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        bucket = bucket + F.when(plane_dot(p) > 0, F.lit(1 << p)).otherwise(0)
    return bucket


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 6,
    n_tables: int = 3,
    exact: bool = False,
    pair_mode: str = "pairs",
    planes: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos >= threshold).

    Scale path (default): multi-table random-hyperplane LSH — a pair
    is a candidate if it collides in ANY of n_tables bucketings
    (recall ≈ 1-(1-p^k)^L), then exact cosine verifies. ``exact=True``
    is the O(n²) cross-join baseline for oracles/small inputs.

    pair_mode='pairs' enumerates all pairs within a (table, bucket) —
    quadratic in bucket size (uncapped pairs-mode warns);
    pair_mode='star' emits only (hub=min id, member) edges per
    bucket — O(k), same connected components, the web-scale shape for
    dedup consumers. Star uses a window (min-struct carries the hub
    vector), so there is NO join at all.

    Each row's norm is computed ONCE (the `_n` column) and carried to
    the verify step — identical float ops and values, but candidates
    pay only the dot product instead of re-deriving both norms per
    pair (measured ~2x on the scoring stage). The star hub struct
    gains a trailing norm field; ids are unique within a bucket, so
    the min is still decided by the id and the hub is unchanged."""
    e = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).withColumn("_n", l2_norm(F.col("_v")))
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    if exact:
        l = e.select(F.col(id_col).alias("a"), F.col("_v").alias("_va"),
                     F.col("_n").alias("_na"))
        r = e.select(F.col(id_col).alias("b"), F.col("_v").alias("_vb"),
                     F.col("_n").alias("_nb"))
        cand = l.crossJoin(r).where(F.col("a") < F.col("b"))
    else:
        tabs = e.select(
            id_col, "_v", "_n",
            F.posexplode(
                F.array(
                    *[
                        hyperplane_buckets(
                            F.col("_v"), dim, n_planes, seed=11 + t,
                            planes=planes[t] if planes is not None else None,
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("tab", "bucket"),
        )
        if pair_mode == "star":
            w = Window.partitionBy("tab", "bucket")
            hub = F.min(
                F.struct(
                    F.col(id_col).alias("i"), F.col("_v").alias("v"),
                    F.col("_n").alias("n"),
                )
            ).over(w)
            cand = (
                tabs.withColumn("_hub", hub)
                .where(F.col(id_col) != F.col("_hub.i"))
                .select(
                    F.col("_hub.i").alias("a"),
                    F.col(id_col).alias("b"),
                    F.col("_hub.v").alias("_va"),
                    F.col("_v").alias("_vb"),
                    F.col("_hub.n").alias("_na"),
                    F.col("_n").alias("_nb"),
                )
                .dropDuplicates(["a", "b"])
            )
        else:
            from argo_spark.ops.dedup import _warn_uncapped_pairs

            _warn_uncapped_pairs(
                "embedding_neardup_pairs",
                remedy="use pair_mode='star' or raise n_planes to bound buckets",
            )
            tabs = tabs.persist()
            l, r = tabs.alias("l"), tabs.alias("r")
            cand = (
                l.join(
                    r,
                    (F.col("l.tab") == F.col("r.tab"))
                    & (F.col("l.bucket") == F.col("r.bucket"))
                    & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
                )
                .select(
                    F.col(f"l.{id_col}").alias("a"),
                    F.col(f"r.{id_col}").alias("b"),
                    F.col("l._v").alias("_va"),
                    F.col("r._v").alias("_vb"),
                    F.col("l._n").alias("_na"),
                    F.col("r._n").alias("_nb"),
                )
                .dropDuplicates(["a", "b"])
            )
    return (
        cand.withColumn(
            "cos",
            F.round(
                dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ),
        )
        .where(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def embedding_dedup(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kw,
) -> DataFrame:
    """Near-dup embedding removal: LSH star edges -> connected
    components -> keep the min-id representative of each cluster."""
    from argo_spark.ops.dedup import connected_components

    kw.setdefault("pair_mode", "star")
    pairs = embedding_neardup_pairs(emb, threshold, id_col, vec_col, **kw)
    comps = connected_components(pairs.select("a", "b"))
    losers = comps.where(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return emb.join(losers, id_col, "left_anti")


def lsh_topk(
    emb: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 8,
    max_bucket: int | None = None,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate all-pairs top-k: candidates only within an LSH
    bucket (the IVF-style scale path — each bucket is a co-partitioned
    self-join instead of a full cross join).

    Top-k genuinely needs all within-bucket candidates, so star edges
    don't apply; instead ``max_bucket`` caps bucket size (IVF
    list-truncation analogue) — members of oversize buckets get no
    neighbors from that bucket, and the drop is LOGGED, not silent.
    At 100 TB raise n_planes so expected bucket size stays bounded."""
    import logging

    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    # per-row norm computed once before the self-join — candidates pay
    # only the dot product (identical float ops/values; measured ~2x)
    b = emb.select(
        F.col(id_col), F.col(vec_col),
        hyperplane_buckets(F.col(vec_col), dim, n_planes, planes=planes).alias("bucket"),
        l2_norm(F.col(vec_col)).alias("_n"),
    )
    if max_bucket is not None:
        b = b.persist()
        sizes = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bsz"))
        rows = sizes.where(F.col("_bsz") > max_bucket).collect()
        if rows:
            logging.getLogger("argo_spark.similarity").warning(
                "lsh_topk: dropping %d oversize buckets (> %d members, "
                "%d vectors affected) — raise n_planes or max_bucket",
                len(rows), max_bucket, sum(r._bsz for r in rows),
            )
            # oversize-bucket ids as a literal filter: no persisted
            # side table to leak (bucket count is bounded by 2^n_planes)
            b = b.where(~F.col("bucket").isin([r.bucket for r in rows]))
    l, r = b.alias("l"), b.alias("r")
    scored = (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") != F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("query_id"),
            F.col(f"r.{id_col}").alias("neighbor_id"),
            F.round(
                dot(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"))
                / (F.col("l._n") * F.col("r._n")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def md5_centroids(
    n_clusters: int, dim: int, seed: int = 7, scale: float = 128.0
) -> list[list[float]]:
    """Deterministic centroid table derived from md5 — the PORTABLE
    derivation for DuckDB-checkable IVF contracts (same trick as
    :func:`md5_planes`): coefficient (ci, j) =
    (first-byte-of md5("c{seed}_{ci}_{j}") - 127.5) / scale, exactly
    reproducible in SQL. scale=128 keeps values in [-1, 1), the range
    of unit-ish embedding coordinates."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"c{seed}_{ci}_{j}".encode()).hexdigest()[:2], 16) - 127.5)
            / scale
            for j in range(dim)
        ]
        for ci in range(n_clusters)
    ]


def _nearest_centroids_expr(centroids: list[list[float]], n: int, vec: Column) -> Column:
    """Pure-column n-nearest-centroid assignment with BIT-EXACT
    reproducibility in ANSI SQL: per centroid the squared L2 distance
    is a left-associated chain ``(v[1]-c1)² + (v[2]-c2)² + …`` —
    the exact IEEE operation order DuckDB evaluates for the same
    expression text — then array_sort over (dist, ci) structs picks
    the n nearest with a deterministic index tie-break. Interpreted
    per-element math: use only for oracle contracts / small inputs;
    the production quantizer is the Arrow-batched numpy UDF."""
    from functools import reduce

    structs = []
    for ci, c in enumerate(centroids):
        diffs = [
            F.element_at(vec, j + 1) - F.lit(float(cj)) for j, cj in enumerate(c)
        ]
        dist = reduce(lambda a, b: a + b, [d * d for d in diffs])
        structs.append(
            F.struct(dist.alias("d"), F.lit(ci).cast("int").alias("ci"))
        )
    ordered = F.array_sort(F.array(*structs))
    return F.transform(F.slice(ordered, 1, n), lambda x: x["ci"])


def _nearest_centroids_udf(centroids: list[list[float]], n: int):
    """Vectorized (Arrow-batched numpy) n-nearest-centroid lookup.
    HOF column expressions (aggregate/zip_with) run INTERPRETED —
    measured 23s vs <1s for this matmul on 5k×64 vectors — so the
    quantizer is the one place similarity search drops to a pandas_udf
    (sanctioned: per-element math over wide arrays)."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype="float64")  # (k, d)
    c2 = (C * C).sum(axis=1)

    @pandas_udf("array<int>")
    def fn(vs: pd.Series) -> pd.Series:
        V = np.stack(vs.to_numpy())  # (batch, d)
        # argmin of |v - c|^2 == argmin of (-2 v·c + |c|^2)
        scores = -2.0 * (V @ C.T) + c2
        idx = np.argsort(scores, axis=1, kind="stable")[:, :n]
        return pd.Series([r for r in idx.astype("int32")])

    return fn


def _driver_kmeans(
    rows, n_clusters: int, n_iter: int
) -> list[list[float]]:
    """Driver-side Lloyd's over a COLLECTED bounded training set —
    rows of (_v, _h). Deterministic: rows are totally ordered by the
    seed hash, seeds are the n_clusters smallest (same seed rule as
    the distributed path), assignment is the same stable-argsort
    numpy expression the Arrow quantizer runs, empty clusters keep
    their previous centroid."""
    rows = sorted(rows, key=lambda r: r._h)
    V = np.asarray([list(r._v) for r in rows], dtype="float64")
    C = V[:n_clusters].copy()
    for _ in range(n_iter):
        c2 = (C * C).sum(axis=1)
        scores = -2.0 * (V @ C.T) + c2
        a = np.argsort(scores, axis=1, kind="stable")[:, 0]
        for ci in range(len(C)):
            m = a == ci
            if m.any():
                C[ci] = V[m].mean(axis=0)
    return [[float(x) for x in c] for c in C]


def kmeans_centroids(
    emb: DataFrame,
    n_clusters: int,
    dim: int,
    vec_col: str = "embedding",
    n_iter: int = 4,
    seed: int = 7,
    train_fraction: float | None = None,
    driver_max_train: int | None = 65536,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer:
    seed centroids are the vectors of the n_clusters smallest
    xxhash64(vector-string) keys (stable across runs/partitioning);
    each iteration is one Arrow-batched assignment pass + ONE shuffle
    (groupBy centroid -> per-dimension sums). Centroids come back to
    the driver (n_clusters × dim floats — broadcast-sized by
    construction).

    n_iter is FIXED (no convergence check) so the operator costs a
    known n_iter passes at any scale. ``train_fraction`` subsamples
    the training set (standard IVF practice — the quantizer needs a
    sample, not the corpus; at 10^10 vectors train on ~100k).

    When the (sampled) training set fits ``driver_max_train`` (default
    64k vectors — tens of MB, bounded by construction like the
    broadcast relations this module already builds), the Lloyd
    iterations run DRIVER-SIDE over one collect: one Spark job instead
    of 1 + n_iter tiny ones whose scheduling latency is pure serial
    fraction (same rationale and guard shape as the driver path of
    dedup.entity_dedup_mapping, which also hashes Spark-side;
    measured 2.6s -> ~0.3s for the sf0.1 bench quantizer). Seed
    selection is identical (the hash is computed Spark-side);
    iteration arithmetic is the same numpy expression the Arrow
    quantizer runs, summed in hash order — the
    quantizer is an approximation either way, and each path is
    deterministic. Pass ``None`` to force the distributed path; above
    the cap it is taken automatically."""
    e = emb.select(F.col(vec_col).cast("array<double>").alias("_v"))
    if train_fraction is not None and train_fraction < 1.0:
        e = e.sample(fraction=train_fraction, seed=seed)
    if driver_max_train is not None:
        hashed = e.select(
            "_v",
            F.xxhash64(
                F.concat_ws(",", F.col("_v").cast("array<string>")), F.lit(seed)
            ).alias("_h"),
        )
        head = hashed.limit(driver_max_train + 1).collect()
        if len(head) <= driver_max_train:
            return _driver_kmeans(head, n_clusters, n_iter)
    e = e.persist()
    seeds = (
        e.select("_v", F.xxhash64(F.concat_ws(",", F.col("_v").cast("array<string>")), F.lit(seed)).alias("_h"))
        .orderBy("_h")
        .limit(n_clusters)
        .collect()
    )
    centroids = [list(r._v) for r in seeds]

    for _ in range(n_iter):
        nearest = _nearest_centroids_udf(centroids, 1)
        assigned = e.select(
            F.element_at(nearest(F.col("_v")), 1).alias("_c"), "_v"
        )
        sums = assigned.groupBy("_c").agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(F.element_at("_v", j + 1)).alias(f"_s{j}")
                for j in range(dim)
            ],
        )
        rows = {r._c: r for r in sums.collect()}
        centroids = [
            [rows[ci][f"_s{j}"] / rows[ci]._n for j in range(dim)]
            if ci in rows
            else centroids[ci]
            for ci in range(len(centroids))
        ]
    e.unpersist()
    return centroids


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 2,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
    exclude_self: bool = False,
    assign: str = "arrow",
) -> DataFrame:
    """IVF approximate top-k (the production ANN scale path): a
    k-means coarse quantizer assigns every base vector to its nearest
    centroid (inverted list); each query probes only its ``nprobe``
    nearest lists. The scored join is equi on the list id — candidates
    per query are ~nprobe/n_clusters of the base, and the plan is
    scan × (broadcast of queries×nprobe) with one final top-k window,
    never an all-pairs cross join.

    At 100 TB: n_clusters grows with the corpus (√N rule), centroids
    stay driver/broadcast-sized, the inverted-list assignment is one
    map-only pass, and recall tunes with nprobe. Train the quantizer
    on a subsample (``kmeans_centroids(train_fraction=...)`` — at
    10^10 vectors ~100k training points suffice), not the corpus.

    ``exclude_self`` drops candidates whose base id equals the query
    id — only meaningful when queries are drawn from the SAME id
    space as the base table (self-search). It defaults off because an
    external query whose id coincidentally collides with a base id
    would silently lose a legitimate neighbor.

    ``assign`` picks the quantizer implementation: 'arrow' (default,
    Arrow-batched numpy matmul — the production path) or 'expr'
    (pure column expressions with left-associated IEEE operation
    order, bit-identical to the same SQL text in DuckDB — the oracle
    contract path; interpreted, so reserve it for correctness checks
    and small inputs)."""
    from pyspark.sql.window import Window

    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    if centroids is None:
        centroids = kmeans_centroids(emb, n_clusters, dim, vec_col)

    def nearest(n):
        if assign == "expr":
            return lambda col: _nearest_centroids_expr(centroids, n, col)
        return _nearest_centroids_udf(centroids, n)

    # per-row norms ride the assignment pass — candidates pay only the
    # dot product (identical float ops/values; measured ~2x on the
    # scoring stage)
    e = emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    base = e.select(
        id_col, "_v",
        F.element_at(nearest(1)(F.col("_v")), 1).alias("_list"),
        l2_norm(F.col("_v")).alias("_n"),
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    probes = q.select(
        query_id_col, "_qv",
        F.explode(nearest(nprobe)(F.col("_qv"))).alias("_list"),
        l2_norm(F.col("_qv")).alias("_qn"),
    )
    scored = base.join(F.broadcast(probes), "_list")
    if exclude_self:
        scored = scored.where(F.col(id_col) != F.col(query_id_col))
    scored = (
        scored.select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.round(
                dot(F.col("_v"), F.col("_qv"))
                / (F.col("_n") * F.col("_qn")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
