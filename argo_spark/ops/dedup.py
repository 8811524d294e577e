"""Deduplication operators (SURVEY §2.3 G14 + §2.6 net-new stages).

The reference's only dedup is implicit serializer grouping
(/root/reference/json.go:13-16) — the explicit "squish" plus the
training-data-pipeline dedup family live here:

* exact dedup (hash groupBy on content),
* MinHash + LSH near-dup (shingle → minhash → band → bucket join),
* SimHash (64-bit, Hamming-bucketed),
* n-gram Jaccard verification joins,
* MinHash-LSH *entity* dedup over surface forms with connected
  components and winner-IRI rewrite (the north-star stage).

Scale notes: every self-join is bucketed by a band/bucket key so no
O(n²) pair explosion happens outside buckets; WITHIN a bucket the
default consumer path emits star edges (bucket-min hub → member,
O(k) per bucket, connected-components-equivalent) instead of C(k,2)
pairs, so a 10⁶-member boilerplate cluster costs 10⁶ edges, not
10¹²; all-pairs mode remains for exact verify-threshold contracts
and supports a ``max_bucket`` cap with a logged (never silent) drop
count; hot shingles can be document-frequency-capped via
``max_shingle_df`` (opt-in — it changes signatures); connected
components is iterative min-label propagation — O(log diameter)
shuffles, diameters of near-dup clusters are tiny.
"""

from __future__ import annotations

import logging
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

log = logging.getLogger("argo_spark.dedup")


def _warn_uncapped_pairs(tag: str, remedy: str = "set max_bucket or use star-edge mode") -> None:
    """All-pairs bucket enumeration with no ``max_bucket`` is C(k,2)
    in the largest bucket — at web scale one boilerplate cluster makes
    it quadratic. The scale-safe defaults are star edges (CC-shaped
    consumers) or a finite ``max_bucket``; calling pairs-mode uncapped
    is allowed for small/verified inputs but is never silent. The
    ``remedy`` must name options the CALLING signature actually has."""
    import warnings

    msg = (
        f"{tag}: all-pairs mode without a bucket cap is quadratic in "
        f"the largest bucket — {remedy} at scale"
    )
    warnings.warn(msg, RuntimeWarning, stacklevel=3)
    log.warning(msg)

from argo_spark.namespaces import DBP, FOAF, SCHEMA
from argo_spark.session import local_frame
from argo_spark.terms import KIND_IRI, jvm_memo


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, content_cols: Sequence[str], id_col: str) -> DataFrame:
    """Keep the min-id row per identical content (deterministic winner).

    Map-side partial aggregation makes this one shuffle on the content
    hash; at 100 TB bucket the table by the hash to skip even that."""
    h = F.xxhash64(*[F.col(c) for c in content_cols]).alias("_h")
    win = df.select(F.col(id_col), h).groupBy("_h").agg(
        F.min(id_col).alias(id_col)
    )
    return df.join(win, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Shingles + MinHash signatures
# ---------------------------------------------------------------------------

@jvm_memo
def char_shingles(text_col: str, k: int = 5) -> Column:
    """Distinct character k-shingles of the string column ``text_col``
    as an array column (JVM-side); memoized per JVM."""
    col = F.col(text_col)
    n = F.greatest(F.length(col) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n), lambda i: F.substring(col, i, k)
        )
    )


def word_shingles(col: Column, k: int = 5) -> Column:
    """Distinct word k-shingles (Broder-style) — ~an order of magnitude
    fewer elements than char shingles on web text; the default for
    document-level dedup."""
    toks = F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")
    n = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )


_MERSENNE = 2_147_483_647  # 2^31 - 1


def _minhash_coeffs(n_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic affine-permutation coefficients (Knuth multiplier
    scramble; no RNG so signatures are stable everywhere)."""
    a = [((i + 1) * 2_654_435_761 + 0x9E3779B9) % _MERSENNE or 1 for i in range(n_hashes)]
    b = [((i + 1) * 0x85EBCA6B + 0xC2B2AE35) % _MERSENNE for i in range(n_hashes)]
    return a, b


@jvm_memo
def minhash_signature(shingles_col: str, n_hashes: int = 64) -> Column:
    """Array of n_hashes minima over the shingle-set column
    ``shingles_col``, as one column expression: one xxhash64 per
    shingle, then per affine permutation ``(a_i * h + b_i) mod 2^31-1``
    the minimum over the hashed shingles — the same signature as
    ``minhash_signatures_df``. Serves SMALL shingle sets (the driver
    path of :func:`entity_dedup_mapping`); for documents use
    ``minhash_signatures_df`` — higher-order lambdas are interpreted,
    not codegen'd, so this form is CPU-bound at n_shingles × n_hashes
    boxed ops per row. Memoized per JVM: building it costs ~0.1s of
    py4j round-trips."""
    a, b = _minhash_coeffs(n_hashes)
    hs = F.transform(shingles_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))

    def permuted(a_i: int, b_i: int):
        return lambda h: F.pmod(F.lit(a_i) * h + F.lit(b_i), F.lit(_MERSENNE))

    return F.array(*[F.array_min(F.transform(hs, permuted(a[i], b[i]))) for i in range(n_hashes)])


def minhash_signatures_df(
    shingled: DataFrame,
    id_col: str,
    shingle_col: str = "shingles",
    n_hashes: int = 64,
) -> DataFrame:
    """(id, sig) signatures via explode → xxhash64 → n_hashes min
    aggregates. Everything is whole-stage-codegen'd vectorized
    aggregation with map-side partial combine — the scalable shape
    (the HOF column-expression variant runs interpreted)."""
    a, b = _minhash_coeffs(n_hashes)
    ex = shingled.select(
        F.col(id_col), F.explode(F.col(shingle_col)).alias("_s")
    ).select(
        F.col(id_col), F.pmod(F.xxhash64("_s"), F.lit(_MERSENNE)).alias("_h")
    )
    aggs = [
        F.min(
            F.pmod(F.lit(a[i]) * F.col("_h") + F.lit(b[i]), F.lit(_MERSENNE))
        ).alias(f"_m{i}")
        for i in range(n_hashes)
    ]
    per = ex.groupBy(id_col).agg(*aggs)
    return per.select(
        F.col(id_col), F.array(*[F.col(f"_m{i}") for i in range(n_hashes)]).alias("sig")
    )


@jvm_memo
def band_keys(sig_col: str, n_bands: int, rows_per_band: int) -> Column:
    """Array of the n_bands LSH band keys of the signature column
    ``sig_col``: key b is xxhash64 of the band number chained over that
    band's ``rows_per_band`` signature slots. The one definition of a
    band key, for the LSH joins and both entity-dedup paths; memoized
    per JVM like :func:`minhash_signature`."""
    sig = F.col(sig_col)
    return F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.element_at(sig, b * rows_per_band + r + 1) for r in range(rows_per_band)],
            )
            for b in range(n_bands)
        ]
    )


def _band_keys(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    n_bands: int,
    rows_per_band: int,
) -> DataFrame:
    """(_id, band, bucket) exploded band keys — materialized once so
    downstream self-joins/windows don't recompute the signature."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(band_keys(sig_col, n_bands, rows_per_band)).alias("band", "bucket"),
    )


_CAP_COLLECT_LIMIT = 100_000


def _cap_buckets(
    memberships: DataFrame, keys: Sequence[str], max_bucket: int, tag: str
) -> DataFrame:
    """Drop bucket groups with more than ``max_bucket`` members, with a
    LOGGED drop count — never a silent truncation. One cheap
    aggregation job over the (persisted-by-caller) membership rows.
    The oversize-bucket list is tiny by construction, so it is
    collected once into a local relation (no persist to leak, the
    anti-join side is a broadcast literal); if the data is so skewed
    that >100k buckets exceed the cap, fall back to a persisted
    DF-side anti-join (cached until session end — logged)."""
    sizes = memberships.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias("_bsz")
    )
    big = sizes.where(F.col("_bsz") > max_bucket)
    rows = big.limit(_CAP_COLLECT_LIMIT + 1).collect()
    if not rows:
        return memberships
    if len(rows) > _CAP_COLLECT_LIMIT:
        log.warning(
            "%s: more than %d oversize buckets (> %d members) — keeping the "
            "cap as a DF anti-join (persisted until session end)",
            tag, _CAP_COLLECT_LIMIT, max_bucket,
        )
        bigp = big.persist()
        return memberships.join(bigp.select(*keys), list(keys), "left_anti")
    n_memberships = sum(r._bsz for r in rows)
    log.warning(
        "%s: dropping %d oversize buckets (> %d members, %d memberships total)"
        " — raise max_bucket or switch to star-edge mode to keep them",
        tag, len(rows), max_bucket, n_memberships,
    )
    spark = memberships.sparkSession
    local = spark.createDataFrame(
        [tuple(r[k] for k in keys) for r in rows],
        memberships.select(*keys).schema,
    )
    return memberships.join(F.broadcast(local), list(keys), "left_anti")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str = "sig",
    n_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Banded LSH, ALL-PAIRS mode: equal band-slices become bucket
    keys; the self-join happens per (band, bucket) — distinct
    candidate pairs (a < b).

    A bucket of k members emits C(k,2) pairs — at web scale giant
    duplicate clusters make this quadratic, so either set
    ``max_bucket`` (oversize buckets dropped with a logged count) or
    use :func:`lsh_candidate_edges` (O(k) star edges, the default for
    connected-components consumers). Uncapped pairs-mode warns."""
    if max_bucket is None:
        _warn_uncapped_pairs("lsh_candidate_pairs")
    bands = _band_keys(df, id_col, sig_col, n_bands, rows_per_band).persist()
    if max_bucket is not None:
        bands = _cap_buckets(bands, ("band", "bucket"), max_bucket, "lsh_candidate_pairs")
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        .dropDuplicates()
    )


def lsh_candidate_edges(
    df: DataFrame,
    id_col: str,
    sig_col: str = "sig",
    n_bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Banded LSH, STAR-EDGE mode (the 100-TB path): per (band,
    bucket) emit ``(hub=min id, member)`` edges instead of all pairs —
    O(k) per bucket vs C(k,2), and the connected components of the
    edge set equal those of the all-pairs CANDIDATE set. A consumer
    that threshold-verifies edges BEFORE components (minhash/simhash
    similarity dedup) only tests hub→member similarity, so two
    members similar to each other but not to the hub may stay
    unmerged — the documented recall trade of the star mode; use
    all-pairs (+ max_bucket) when exact verified-pair semantics
    matter more than the quadratic risk.

    Plan shape: one shuffle (window over (band, bucket)) and NO join —
    strictly cheaper than the self-join even before the quadratic
    blowup. No bucket cap is needed: a 10⁷-member cluster costs 10⁷
    edge rows."""
    from pyspark.sql.window import Window

    bands = _band_keys(df, id_col, sig_col, n_bands, rows_per_band)
    w = Window.partitionBy("band", "bucket")
    return (
        bands.withColumn("_hub", F.min("_id").over(w))
        .where(F.col("_id") != F.col("_hub"))
        .select(F.col("_hub").alias("a"), F.col("_id").alias("b"))
        .dropDuplicates()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingled: DataFrame,
    id_col: str,
    shingle_col: str = "shingles",
    threshold: float = 0.7,
) -> DataFrame:
    """Exact Jaccard over the candidate pairs only — (a, b, jaccard)."""
    sh = shingled.select(F.col(id_col).alias("_sid"), F.col(shingle_col).alias("_sh"))
    out = (
        pairs.join(sh.withColumnRenamed("_sid", "a").withColumnRenamed("_sh", "sh_a"), "a")
        .join(sh.withColumnRenamed("_sid", "b").withColumnRenamed("_sh", "sh_b"), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


def word_shingles_exploded(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Distinct (id, shingle-hash) rows via posexplode + window lead —
    fully codegen'd (the array-HOF shingler runs interpreted and was
    60% of the dedup bench). Tokens are hashed to longs BEFORE the
    window, so the window shuffle moves 8-byte longs instead of token
    strings and the gram hash combines k longs instead of
    concatenating strings (measured: 1.4s cold / 0.8s warm vs 7.8s /
    1.0s for the string-concat form at sf0.1 — smaller generated code
    JIT-compiles far faster). The window shuffle doubles as the
    id-partitioning every downstream agg reuses. Like concat_ws,
    xxhash64 skips nulls, so short documents (< k tokens) keep their
    single pos-0 gram."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
        ).alias("_pos", "_w"),
    ).select(F.col(id_col), "_pos", F.xxhash64("_w").alias("_wh"))
    if k == 1:  # unigram shingles: no window needed at all
        return toks.select(
            F.col(id_col), F.xxhash64("_wh").alias("_gh")
        ).dropDuplicates()
    w = Window.partitionBy(id_col).orderBy("_pos")
    leads = [F.lead("_wh", i).over(w) for i in range(1, k)]
    gram = F.xxhash64(F.col("_wh"), *leads)
    last = leads[-1]
    return (
        toks.select(F.col(id_col), "_pos", gram.alias("_gram_h"), last.alias("_last"))
        .where(F.col("_last").isNotNull() | (F.col("_pos") == 0))
        .select(F.col(id_col), F.col("_gram_h").alias("_gh"))
        .dropDuplicates()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    n_hashes: int = 64,
    n_bands: int = 16,
    threshold: float = 0.7,
    mode: str = "word",
    pair_mode: str = "star",
    max_bucket: Optional[int] = None,
    max_shingle_df: Optional[int] = None,
) -> DataFrame:
    """End-to-end near-dup pair detection: (a, b, jaccard).

    mode='word' (default, Broder-style word shingles) for documents —
    all-codegen exploded pipeline, exact Jaccard over shingle-hash
    sets computed ONLY for candidate ids; mode='char' for short
    strings like entity surface forms (array path).

    pair_mode='star' (THE DEFAULT: hub-spoke edges, O(bucket size);
    clusters found via connected components are identical
    pre-verification, and Jaccard then verifies hub→member edges —
    the web-scale shape) or 'pairs' (exact within-bucket all-pairs;
    quadratic in bucket size — combine with ``max_bucket`` at scale,
    uncapped warns; use it when exact verified-pair semantics matter
    more than the quadratic risk). ``max_shingle_df`` (word mode)
    drops shingles present
    in more than that many documents before signatures — stop-shingle
    control; opt-in because it changes signatures."""
    def candidates(sigs: DataFrame) -> DataFrame:
        rpb = n_hashes // n_bands
        if pair_mode == "star":
            return lsh_candidate_edges(sigs, id_col, n_bands=n_bands, rows_per_band=rpb)
        return lsh_candidate_pairs(
            sigs, id_col, n_bands=n_bands, rows_per_band=rpb, max_bucket=max_bucket
        )

    if mode == "char":
        # char mode serves SMALL side-inputs (entity surface forms):
        # persist without eager counts — scheduling overhead of extra
        # jobs dominates any duplicate-compute risk at this size, and
        # the flagship's serial fraction is exactly these small jobs
        shingled = df.select(
            F.col(id_col), char_shingles(text_col, shingle_k).alias("shingles")
        ).where(F.size("shingles") > 0).persist()
        sigs = minhash_signatures_df(shingled, id_col, n_hashes=n_hashes).persist()
        return jaccard_verify(candidates(sigs), shingled, id_col, threshold=threshold)

    ex = word_shingles_exploded(df, id_col, text_col, shingle_k)
    if max_shingle_df is not None:
        from pyspark.sql.window import Window

        wdf = Window.partitionBy("_gh")
        ex = ex.withColumn("_df", F.count(F.lit(1)).over(wdf)).where(
            F.col("_df") <= max_shingle_df
        ).drop("_df")
    # The shingle-hash SET rides the SAME aggregation as the n_hashes
    # signature mins: the agg input is already id-partitioned (the
    # shingler's window shuffle — PLANS §6), so collect_set adds no
    # exchange and no extra pass, and the verify step joins the
    # per-doc sets directly instead of semi-joining the exploded rows
    # and re-aggregating them (round 6: removes one eager
    # materialization job, the semi-join and the second collect_set —
    # measured 3.9s -> 2.8s for the pairs-mode sf0.1 bench).  `ex`
    # now has a single consumer, so it needs no persist; `sigs` feeds
    # the band keys and both verify sides, and concurrent stages of
    # one job may each recompute a lazily-persisted subtree, so it
    # keeps the eager persist+count.
    a, b = _minhash_coeffs(n_hashes)
    hashed = ex.select(
        F.col(id_col), F.col("_gh"),
        F.pmod(F.col("_gh"), F.lit(_MERSENNE)).alias("_h"),
    )
    aggs = [
        F.min(
            F.pmod(F.lit(a[i]) * F.col("_h") + F.lit(b[i]), F.lit(_MERSENNE))
        ).alias(f"_m{i}")
        for i in range(n_hashes)
    ]
    sigs = (
        hashed.groupBy(id_col)
        .agg(*aggs, F.collect_set("_gh").alias("shingles"))
        .select(
            F.col(id_col),
            F.array(*[F.col(f"_m{i}") for i in range(n_hashes)]).alias("sig"),
            "shingles",
        )
        .persist()
    )
    sigs.count()
    pairs = candidates(sigs)
    return jaccard_verify(pairs, sigs, id_col, threshold=threshold)


# ---------------------------------------------------------------------------
# SimHash (64-bit) near-dup
# ---------------------------------------------------------------------------

def simhash64(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens, pure column expressions:
    bit j = sign of Σ_tokens (bit j of xxhash64(token) ? +1 : -1).

    The per-bit shift amounts are Python ints (shiftright needs
    literals), and the vote array is referenced exactly once so the
    expression tree stays linear in plan size."""
    tokens = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.shiftright(h, j).bitwiseAND(F.lit(1)).cast("long")
                    for j in range(64)
                ]
            ),
            lambda a, bit: a + F.when(bit == 1, 1).otherwise(-1),
        ),
    )
    bitvals = F.array(
        *[
            F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long")
            for j in range(64)
        ]
    )
    return F.aggregate(
        F.zip_with(
            votes,
            bitvals,
            lambda v, bv: F.when(v > 0, bv).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseXOR(x),
    )


def md5_token_bit(col: Column, j: int) -> Column:
    """Bit j of md5(token), nibble-decoded — the PORTABLE token-bit
    function for DuckDB-checkable simhash contracts (xxhash64 does not
    exist outside Spark). Hex digit j//4 of the digest, bit j%4."""
    nib = F.conv(F.substring(F.md5(col), j // 4 + 1, 1), 16, 10).cast("int")
    return F.shiftright(nib, j % 4).bitwiseAND(F.lit(1))


def simhash_signatures_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 64,
    bit_fn=None,
) -> DataFrame:
    """(id, sh) n_bits-wide SimHash via explode → n_bits codegen'd
    sign-sum aggregates (same scalable shape as
    minhash_signatures_df; the HOF column-expression simhash64 runs
    interpreted).

    ``bit_fn(token_col, j) -> 0/1 Column`` selects bit j of the token
    hash; default is bit j of xxhash64 (fast path). Pass
    :func:`md5_token_bit` (with n_bits <= 32) for the
    DuckDB-portable oracle contract — the operator structure is
    identical, only the hash primitive changes."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    ex = df.select(F.col(id_col), F.explode(toks).alias("_t"))
    if bit_fn is None:
        ex = ex.select(F.col(id_col), F.xxhash64("_t").alias("_h"))
        def bit(j: int) -> Column:
            return F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1))
    else:
        def bit(j: int) -> Column:
            return bit_fn(F.col("_t"), j)
    # branchless vote form (round 6, measured ~17% on the agg): count
    # set bits per position and the token total; the ±1 vote sum is
    # v_j = 2*ones_j - n, so the sign test v_j > 0 becomes
    # 2*ones_j > n — identical integers, one sum(bit) per position
    # instead of a conditional ±1 accumulate
    aggs = [F.sum(bit(j)).alias(f"_v{j}") for j in range(n_bits)]
    votes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("_nt"), *aggs)
    bit_terms = [
        F.when(
            F.lit(2) * F.col(f"_v{j}") > F.col("_nt"),
            F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for j in range(n_bits)
    ]
    sh = bit_terms[0]
    for t in bit_terms[1:]:
        sh = sh + t  # distinct bits: addition == OR, stays in codegen
    return votes.select(F.col(id_col), sh.alias("sh"))


def _simhash_blocks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_blocks: int,
    n_bits: int = 64,
    bit_fn=None,
) -> DataFrame:
    """(_id, sh, block, key) Hamming-LSH block memberships."""
    with_sh = simhash_signatures_df(df, id_col, text_col, n_bits, bit_fn).select(
        F.col(id_col).alias("_id"), "sh"
    )
    bits = n_bits // n_blocks
    return with_sh.select(
        "_id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sh"), b * bits).bitwiseAND(
                        F.lit((1 << bits) - 1)
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("block", "key"),
    )


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_blocks: int = 4,
    max_bucket: Optional[int] = None,
    n_bits: int = 64,
    bit_fn=None,
) -> DataFrame:
    """Hamming-LSH, all-pairs mode: split the n_bits simhash into
    n_blocks blocks; near-dups (distance < n_blocks) share at
    least one block. Quadratic within a block bucket — set
    ``max_bucket`` (logged drops; uncapped warns) or use
    :func:`simhash_candidate_edges` at web scale."""
    if max_bucket is None:
        _warn_uncapped_pairs("simhash_candidate_pairs")
    blocks = _simhash_blocks(df, id_col, text_col, n_blocks, n_bits, bit_fn).persist()
    if max_bucket is not None:
        blocks = _cap_buckets(blocks, ("block", "key"), max_bucket, "simhash_candidate_pairs")
    l, r = blocks.alias("l"), blocks.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("a"),
            F.col("r._id").alias("b"),
            F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("hamming"),
        )
        .dropDuplicates(["a", "b"])
    )
    return pairs


def simhash_candidate_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_blocks: int = 4,
    max_hamming: Optional[int] = None,
    n_bits: int = 64,
    bit_fn=None,
) -> DataFrame:
    """Hamming-LSH, STAR-EDGE mode: per (block, key) bucket emit
    (hub=min id, member, hamming(hub, member)) — O(k) per bucket, same
    connected components as the all-pairs set. One window shuffle, no
    self-join; ``max_hamming`` verifies hub→member edges."""
    from pyspark.sql.window import Window

    blocks = _simhash_blocks(df, id_col, text_col, n_blocks, n_bits, bit_fn)
    w = Window.partitionBy("block", "key")
    hub = F.min(F.struct("_id", "sh")).over(w)
    edges = (
        blocks.withColumn("_hub", hub)
        .where(F.col("_id") != F.col("_hub._id"))
        .select(
            F.col("_hub._id").alias("a"),
            F.col("_id").alias("b"),
            F.bit_count(F.col("_hub.sh").bitwiseXOR(F.col("sh"))).alias("hamming"),
        )
        .dropDuplicates(["a", "b"])
    )
    if max_hamming is not None:
        edges = edges.where(F.col("hamming") <= max_hamming)
    return edges


# ---------------------------------------------------------------------------
# Connected components (iterative min-label propagation)
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """(a, b) edges -> (id, comp) with comp = component-min id.

    Each round does one min-label PROPAGATION over the edges plus one
    POINTER-JUMPING shortcut (comp := label-of-comp), so chains halve
    every round and convergence is O(log diameter) — a 60-node path
    needs ~7 rounds, not 60 (propagation alone is O(diameter) and a
    bounded iteration count would silently return WRONG components on
    high-diameter graphs; caught by the union-find oracle test).
    Convergence is detected by an aggregate signature; the per-round
    checkpoint is LAZY and materialized by the same action that
    computes the signature — one job per round. Raises if max_iter is
    exhausted before convergence (never silent)."""
    edges = edges.select("a", "b").dropDuplicates().localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("a").alias("id"))
        .union(edges.select("b"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=False)
    )
    prev_sig = None
    for _ in range(max_iter):
        msgs = (
            edges.join(labels, edges.a == labels.id)
            .select(F.col("b").alias("id"), "comp")
            .union(
                edges.join(labels, edges.b == labels.id).select(
                    F.col("a").alias("id"), "comp"
                )
            )
        )
        propagated = (
            labels.union(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jumping: comp := label(comp). Labels only decrease,
        # so label(comp) <= comp; chains halve per round.
        parents = propagated.select(
            F.col("id").alias("comp"), F.col("comp").alias("_comp2")
        )
        labels = (
            propagated.join(parents, "comp", "left")
            .select(
                "id",
                F.coalesce(F.col("_comp2"), F.col("comp")).alias("comp"),
            )
            .localCheckpoint(eager=False)
        )
        sig = labels.agg(
            F.bit_xor(F.xxhash64("id", "comp")).alias("s")
        ).collect()[0].s
        if sig == prev_sig:
            return labels
        prev_sig = sig
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "raise max_iter (graph diameter exceeds 2^max_iter shrink rate?)"
    )


# ---------------------------------------------------------------------------
# Entity dedup over the triples table (north-star stage)
# ---------------------------------------------------------------------------

NAME_PREDICATES = (SCHEMA + "name", FOAF + "name")


def entity_surface_forms(triples: DataFrame, iri_prefix: str = DBP) -> DataFrame:
    """(entity, name) pairs: entity IRIs under ``iri_prefix`` with
    their name literals — the dedup keying surface."""
    return (
        triples.where(
            (F.col("s_kind") == KIND_IRI)
            & F.col("s_value").startswith(iri_prefix)
            & F.col("p_value").isin(list(NAME_PREDICATES))
        )
        .select(F.col("s_value").alias("entity"), F.col("o_value").alias("name"))
        .dropDuplicates()
    )


def _driver_entity_mapping(rows, threshold: float) -> list[tuple[str, str]]:
    """The driver steps of the char-mode MinHash-LSH star pipeline over
    collected ``(entity, shingles, band keys)`` rows: group by (band,
    key), hub = min member, exact Jaccard verify of hub → member over
    the shingle sets, union-find min-label components. No hashing
    happens here: Spark computed the rows with ``char_shingles``,
    ``minhash_signature`` and ``band_keys``. Exists because the
    distributed form costs ~20 tiny Spark jobs whose scheduling latency
    is pure serial fraction on the flagship (measured 8.4s at local[1]
    for a few-dozen-entity map)."""
    sh: dict[str, frozenset] = {}
    buckets: dict[tuple[int, int], list[str]] = {}
    for entity, shingles, keys in rows:
        sh[entity] = frozenset(shingles)
        for band_key in enumerate(keys):
            buckets.setdefault(band_key, []).append(entity)
    verified: list[tuple[str, str]] = []
    seen = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        hub = min(members)
        for m in members:
            if m == hub or (hub, m) in seen:
                continue
            seen.add((hub, m))
            inter = len(sh[hub] & sh[m])
            union = len(sh[hub] | sh[m])
            if inter / union >= threshold:
                verified.append((hub, m))
    parent: dict[str, str] = {}

    def find(u: str) -> str:
        r = u
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(u, u) != u:
            parent[u], u = r, parent[u]
        return r

    for x, y in verified:
        parent.setdefault(x, x)
        parent.setdefault(y, y)
        rx, ry = find(x), find(y)
        if rx != ry:
            lo, hi = (rx, ry) if rx < ry else (ry, rx)
            parent[hi] = lo
    return sorted((e, find(e)) for e in parent if find(e) != e)


# the entity-dedup LSH shape, shared by the driver and distributed paths
_ENTITY_HASHES, _ENTITY_BANDS = 16, 8

# an entity map of up to this many rows (a few hundred MB of IRIs) is
# broadcast; at 100 TB a dup map can exceed the executors' and the
# driver's broadcast limits, so a larger one is a plain join that AQE
# plans
BROADCAST_MAX_ROWS = 5_000_000


def entity_dedup_mapping(
    triples: DataFrame,
    iri_prefix: str = DBP,
    shingle_k: int = 3,
    threshold: float = 0.45,
    driver_max_entities: Optional[int] = 100_000,
) -> DataFrame:
    """(entity, canonical) rewrite map via MinHash-LSH on the combined
    surface form 'name + IRI local tail', verified by Jaccard, merged
    by connected components; canonical = min IRI of the component.

    Identity rows (entity == canonical) are omitted — the map is the
    small side of :func:`apply_entity_mapping`'s joins, and it carries
    its own join strategy: a broadcast hint up to
    ``BROADCAST_MAX_ROWS`` rows, none above.

    When the distinct-entity set fits ``driver_max_entities`` (a
    broadcast-sized map by definition — default 100k surface forms),
    one collect brings back each entity's shingles and band keys,
    computed by Spark with the distributed path's ``char_shingles`` and
    ``band_keys`` over the column-form ``minhash_signature``, and the
    grouping, Jaccard verify and components run DRIVER-SIDE
    (:func:`_driver_entity_mapping`): one Spark job instead of ~20
    tiny ones, removing ~8s of pure scheduling serial fraction from
    the flagship (pinned equal to the distributed path by
    test_dedup's equivalence test); the map comes back as a local
    frame of known length, so deciding and running its broadcast
    starts no job and forks no Python worker. Pass ``None`` to force
    the distributed path; above the cap it is taken automatically — at
    web scale the entity vocabulary can exceed any driver — and counts
    its map (up to ``BROADCAST_MAX_ROWS + 1`` rows) to decide."""
    surf = (
        entity_surface_forms(triples, iri_prefix)
        .groupBy("entity")
        .agg(F.min("name").alias("name"))
    )

    def keyed_of(s):
        return s.select(
            F.col("entity"),
            F.lower(
                F.concat(
                    F.col("name"),
                    F.lit(" "),
                    F.regexp_replace(
                        F.element_at(F.split(F.col("entity"), "/"), -1),
                        "[_()%]", " "
                    ),
                )
            ).alias("surface"),
        )

    if driver_max_entities is not None:
        # driver path collects exactly once — no checkpoint needed
        # (converting the plan to a checkpointed RDD costs a full
        # analysis pass of ~0.3s of py4j/driver time per call)
        keys = band_keys("sig", _ENTITY_BANDS, _ENTITY_HASHES // _ENTITY_BANDS)
        head = (
            keyed_of(surf)
            .select("entity", char_shingles("surface", shingle_k).alias("shingles"))
            .withColumn("sig", minhash_signature("shingles", _ENTITY_HASHES))
            .select("entity", "shingles", keys.alias("keys"))
            .limit(driver_max_entities + 1)
            .collect()
        )
        if len(head) <= driver_max_entities:
            mapping = _driver_entity_mapping(head, threshold)
            return _broadcast_if_small(
                local_frame(
                    triples.sparkSession, mapping, "entity string, canonical string"
                ),
                len(mapping),
            )
        log.info(
            "entity_dedup_mapping: > %d entities — distributed path",
            driver_max_entities,
        )
    # distributed path: checkpoint so the LSH + connected-components
    # actions don't re-scan the triples (lazy: the first downstream
    # job materializes it — no extra job)
    keyed = keyed_of(surf.localCheckpoint(eager=False))
    pairs = minhash_dedup_pairs(
        keyed, "entity", "surface", shingle_k=shingle_k,
        n_hashes=_ENTITY_HASHES, n_bands=_ENTITY_BANDS, threshold=threshold,
        mode="char", pair_mode="star",
    )
    comps = connected_components(pairs.select("a", "b"))
    mapping = comps.where(F.col("id") != F.col("comp")).select(
        F.col("id").alias("entity"), F.col("comp").alias("canonical")
    )
    return _broadcast_if_small(
        mapping, mapping.limit(BROADCAST_MAX_ROWS + 1).count()
    )


def _broadcast_if_small(mapping: DataFrame, n_rows: int) -> DataFrame:
    if n_rows <= BROADCAST_MAX_ROWS:
        return F.broadcast(mapping)
    log.warning(
        "entity_dedup_mapping: mapping exceeds %d rows — using shuffle join "
        "instead of broadcast", BROADCAST_MAX_ROWS,
    )
    return mapping


def apply_entity_mapping(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subject/object IRIs through the (entity -> canonical)
    map: two left joins. The join strategy is the map's own:
    :func:`entity_dedup_mapping` hints it for broadcast up to
    ``BROADCAST_MAX_ROWS``, so the triples side never shuffles."""
    out = (
        triples.join(
            mapping.withColumnRenamed("entity", "s_value").withColumnRenamed(
                "canonical", "_s_canon"
            ),
            "s_value",
            "left",
        )
        .join(
            mapping.withColumnRenamed("entity", "o_value").withColumnRenamed(
                "canonical", "_o_canon"
            ),
            "o_value",
            "left",
        )
        .withColumn(
            "s_value",
            F.when(
                (F.col("s_kind") == KIND_IRI) & F.col("_s_canon").isNotNull(),
                F.col("_s_canon"),
            ).otherwise(F.col("s_value")),
        )
        .withColumn(
            "o_value",
            F.when(
                (F.col("o_kind") == KIND_IRI) & F.col("_o_canon").isNotNull(),
                F.col("_o_canon"),
            ).otherwise(F.col("o_value")),
        )
        .drop("_s_canon", "_o_canon")
    )
    return out.select(*triples.columns)
