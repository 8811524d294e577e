"""SparkSession factory tuned for the KG-construction workload.

Local mode is a sandbox proxy for a multi-executor cluster: every
config here is chosen so the same plan scales to 1000 executors —
AQE on (runtime re-plan + skew-join splitting for hot predicates like
rdf:type), Arrow batches sized so the Python extractor amortizes, UTC
timezone pinned for oracle comparison.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "argo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~cores locally; on a real cluster this would be ~2-3x total cores.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Big Arrow batches keep the per-batch Python overhead of the
        # HTML extractor amortized (SURVEY §4 item 4).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for rows already on the
    driver, kept in the JVM as a local relation: the rows cross once as
    an Arrow table, so ``collect`` starts no Spark job and no action on
    the frame forks a Python worker (a list-built frame is a
    parallelized Python RDD). A naive top-level datetime is local time,
    as in the list path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)

    def cell(v):
        return v.astimezone(timezone.utc) if isinstance(v, datetime) else v

    columns = [
        pa.array([cell(r[i]) for r in rows], type=f.type)
        for i, f in enumerate(arrow)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), schema)
