"""Per-partition lineage manifest + exactly-once resume (SURVEY §2.6,
§4 item 3).

No Iceberg runtime jar is bundled in this sandbox (BASELINE.md), so
commits are emulated the way Iceberg and Delta make them: immutable
data files plus a metadata append. Each ``KgPipeline.run`` writes its
triples (``bucket`` a column) into a new ``triples/run=<run_id>``
directory, then appends one row per bucket to the manifest parquet:
that append is the only commit. Readers take each bucket from the run
of its newest row (``live_runs``), so a run that crashed before its
append is never read and a re-run never touches committed files.
Each append is one part file written from a driver-built local frame
(``session.local_frame``). With an Iceberg catalog the run directories
map onto data files and each append onto a snapshot.
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
        return sorted(self.live_runs())

    def live_runs(self) -> dict[int, str]:
        """The committed snapshot, ``{bucket: run_id}``: the run of each
        bucket's newest row (greatest ``committed_at``)."""
        rows = self.read().select("bucket", "run_id", "committed_at").collect()
        rows.sort(key=lambda r: (r.committed_at, r.run_id))
        return {r.bucket: r.run_id for r in rows}

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
