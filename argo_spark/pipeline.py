"""End-to-end KG-construction pipeline (SURVEY §3 "our lifecycle").

    pages ──bucket by url hash──▶ extract (one Arrow stage)
          ──▶ triples parquet, bucket-partitioned, manifest-committed
          ──▶ [materialize] entity-dedup rewrite ─▶ squish ─▶
              squished parquet ─▶ N-Triples

Scale design:
* the extract stage is embarrassingly parallel — no shuffle between
  the page scan and the triples write except the bucket repartition,
  which doubles as the resume unit and the join/bucketing layout of
  the output table;
* readers read the manifest's bucket list and open only those
  ``bucket=N`` directories, with a fixed schema (no inference job);
* the squish (G14) is a global dropDuplicates over the 7-column
  canonical key — AQE coalesces post-shuffle partitions; the key is
  diverse (objects included) so no skew;
* per-predicate stats use an explicit two-phase salted aggregation
  (hot predicates like rdf:type are 30-50% of web triples — a naive
  groupBy(p_value) would put half the table in one reducer);
* entity dedup joins broadcast a tiny mapping — no shuffle of the
  triples side.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from argo_spark.extract.rdfa import EXTRACT_SCHEMA, extract_triples_df
from argo_spark.manifest import Manifest, hadoop_fs, new_run_id
from argo_spark.ntriples import write_ntriples
from argo_spark.ops.dedup import apply_entity_mapping, entity_dedup_mapping
from argo_spark.schema import TRIPLE_COLS
from argo_spark.session import local_frame


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")


@dataclass
class RunStats:
    run_id: str
    n_buckets_processed: int
    n_pages: int
    n_triples: int
    seconds: float
    pages_per_sec: float
    triples_per_sec: float


class KgPipeline:
    def __init__(self, spark: SparkSession, out_dir: str, n_buckets: int = 64):
        self.spark = spark
        self.out = out_dir.rstrip("/")
        self.n_buckets = n_buckets
        self.manifest = Manifest(spark, self.out)
        self.triples_path = self.out + "/triples"

    # ------------------------------------------------------------------
    def run(
        self,
        pages: DataFrame,
        resume: bool = True,
        max_buckets: Optional[int] = None,
        with_mentions: bool = True,
    ) -> RunStats:
        """Extract all (or the next ``max_buckets``) pending buckets and
        commit them to the triples table + manifest. Idempotent per
        bucket; re-running after a crash resumes exactly where the
        manifest says."""
        run_id = new_run_id()
        t0 = time.time()

        done = set(self.manifest.done_buckets()) if resume else set()
        pending = [b for b in range(self.n_buckets) if b not in done]
        if max_buckets is not None:
            pending = pending[:max_buckets]
        if not pending:
            return RunStats(run_id, 0, 0, 0, 0.0, 0.0, 0.0)

        src = pages.where(bucket_col(self.n_buckets).isin(pending))
        triples = extract_triples_df(src, with_mentions=with_mentions).withColumn(
            "bucket", bucket_col(self.n_buckets)
        )

        # idempotent bucket overwrite (dynamic partition overwrite)
        (
            triples.repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(self.triples_path)
        )

        # lineage: per-bucket counts from the COMMITTED files (read back,
        # so the manifest row attests exactly what landed on disk)
        stats = self._read_buckets(pending).groupBy("bucket").agg(
            F.countDistinct("url").alias("n_pages"),
            F.count(F.lit(1)).alias("n_triples"),
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
        )
        rows = stats.collect()
        self.manifest.record(local_frame(self.spark, rows, stats.schema), run_id)

        n_pages = sum(r.n_pages for r in rows)
        n_triples = sum(r.n_triples for r in rows)
        dt = time.time() - t0
        return RunStats(
            run_id, len(rows), n_pages, n_triples, dt,
            n_pages / dt if dt else 0.0, n_triples / dt if dt else 0.0,
        )

    # ------------------------------------------------------------------
    def _read_buckets(self, buckets: list[int]) -> DataFrame:
        """The existing ``bucket=N`` dirs of ``buckets`` (an empty bucket has
        none) with the table's fixed schema; ``basePath`` keeps ``bucket``."""
        glob = f"{self.triples_path}/bucket={{{','.join(map(str, buckets))}}}"
        fs, pattern = hadoop_fs(self.spark, glob)
        found = fs.globStatus(pattern) if buckets else None
        schema = EXTRACT_SCHEMA + ", bucket int"
        if not found:
            return local_frame(self.spark, [], schema)
        return (
            self.spark.read.schema(schema)
            .option("basePath", self.triples_path)
            .parquet(*[st.getPath().toString() for st in found])
        )

    def triples(self) -> DataFrame:
        """Committed triples only: the buckets the manifest lists, so
        never-committed (crashed) buckets are invisible."""
        return self._read_buckets(self.manifest.done_buckets())

    def materialize(
        self,
        nt_path: Optional[str] = None,
        squished_path: Optional[str] = None,
        dedup_entities: bool = True,
    ) -> DataFrame:
        """Squish + entity dedup: committed triples → winner-IRI rewrite →
        global group by the canonical key, keeping the least (url,
        warc_ts) as the triple's provenance so a rebuild writes the
        same rows → squished parquet (read back, so the squish runs
        once) → N-Triples; either optional."""
        t = self.triples()
        if dedup_entities:
            t = apply_entity_mapping(t, entity_dedup_mapping(t))
        squished = (
            t.groupBy(*TRIPLE_COLS)
            .agg(F.min(F.struct("url", "warc_ts")).alias("_prov"))
            .select(*TRIPLE_COLS, "_prov.url", "_prov.warc_ts")
        )
        if squished_path:
            squished.write.mode("overwrite").parquet(squished_path)
            squished = self.spark.read.schema(squished.schema).parquet(squished_path)
        if nt_path:
            write_ntriples(squished.select(*TRIPLE_COLS), nt_path)
        return squished


# ---------------------------------------------------------------------------
# Skew-aware per-predicate statistics (SURVEY §4 item 1)
# ---------------------------------------------------------------------------

def predicate_stats(triples: DataFrame, salt_k: int = 16) -> DataFrame:
    """(p_value, n, n_distinct_subjects) with an explicit two-phase
    salted aggregation: phase 1 groups by (p_value, salt) so the hot
    rdf:type key fans out over salt_k reducers; phase 2 merges the
    partials — its input is only |predicates| × salt_k rows."""
    salted = triples.withColumn(
        "_salt", F.pmod(F.xxhash64("s_value"), F.lit(salt_k))
    )
    partial = salted.groupBy("p_value", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.approx_count_distinct("s_value").alias("_nd"),
    )
    return partial.groupBy("p_value").agg(
        F.sum("_n").alias("n"),
        F.sum("_nd").alias("n_distinct_subjects_approx"),
    )

