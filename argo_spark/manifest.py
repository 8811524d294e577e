"""Per-partition lineage manifest + exactly-once resume (SURVEY §2.6,
§4 item 3).

No Iceberg runtime jar is bundled in this sandbox (BASELINE.md), so
transactional semantics are emulated the classic way: the triples
table is hash-bucketed by url into ``bucket=N`` directories written
with dynamic partition overwrite (re-running a bucket is idempotent —
overwrite, not append), and a bucket becomes visible ONLY when its row
is appended to the manifest parquet after the data commit. A crash
between data write and manifest append re-runs that bucket from
scratch; readers read the manifest's bucket list and open only those
buckets, so half-written ones are never observed. Each commit appends
one part file to the manifest: its rows are a driver-built local frame
(``session.local_frame``), written as one partition. With an Iceberg
catalog the same layout maps 1:1 onto a partitioned table + snapshots.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from argo_spark.session import local_frame

MANIFEST_SCHEMA = (
    "bucket int, n_pages long, n_triples long, run_id string, "
    "committed_at double, min_url string, max_url string"
)


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for driver-side file access, no Spark job."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


class Manifest:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/") + "/manifest"

    def read(self) -> DataFrame:
        """The lineage rows; before any commit an empty local frame, on
        which no action starts a Spark job."""
        fs, hpath = hadoop_fs(self.spark, self.path)
        if not fs.exists(hpath):
            return local_frame(self.spark, [], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def done_buckets(self) -> list[int]:
        """Committed buckets; no Spark job before the first commit."""
        return sorted({r.bucket for r in self.read().select("bucket").collect()})

    def record(self, stats: DataFrame, run_id: str) -> None:
        """Append per-bucket lineage rows as one part file. stats:
        (bucket, n_pages, n_triples, min_url, max_url)."""
        (
            stats.withColumn("run_id", F.lit(run_id))
            .withColumn("committed_at", F.lit(time.time()))
            .select(
                "bucket", "n_pages", "n_triples", "run_id",
                "committed_at", "min_url", "max_url",
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(self.path)
        )


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
