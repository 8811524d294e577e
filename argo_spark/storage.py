"""Bucketed managed tables (SURVEY §2.5 — the reference's keyed
``Store`` layouts, argo.go:40-61, mapped to parquet
tables): ``write_bucketed`` co-locates rows by key so later joins and
aggregations on that key plan with no Exchange, ``read_table`` reads
one back, and ``update_table`` applies a SPARQL Update to one and
swaps it in. Snapshot isolation is the manifest's
(``argo_spark.manifest``); no Iceberg runtime jar ships with this
build (BASELINE.md).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession


def _managed_location(spark: SparkSession, table: str) -> Optional[str]:
    """Local-filesystem data directory of a managed table, or None.

    Prefers the catalog's own answer (DESCRIBE TABLE EXTENDED) when
    the table is registered; for a table known only as a stale
    warehouse directory (fresh in-memory catalog), derives the
    default managed location including the ``<db>.db/`` segment for
    qualified names. Refuses anything that does not resolve to a path
    strictly inside the warehouse dir."""
    def strip_file(p: str) -> str:
        return p[len("file:"):] if p.startswith("file:") else p

    wh = strip_file(spark.conf.get("spark.sql.warehouse.dir", "") or "")
    loc = None
    try:
        if spark.catalog.tableExists(table):
            rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
            for r in rows:
                if r.col_name == "Location":
                    loc = strip_file(r.data_type)
                    break
    except Exception:
        loc = None
    if loc is None and wh:
        parts = table.lower().split(".")
        if len(parts) == 3 and parts[0] == "spark_catalog":
            parts = parts[1:]
        if len(parts) == 1:
            # bare name: resolves in the CURRENT database, not default
            db, tbl = spark.catalog.currentDatabase().lower(), parts[0]
        elif len(parts) == 2:
            db, tbl = parts
        else:
            return None  # unknown name form: refuse to delete anything
        if db == "default":
            loc = f"{wh.rstrip('/')}/{tbl}"
        else:
            loc = f"{wh.rstrip('/')}/{db}.db/{tbl}"
    if not loc or not wh:
        return None
    import os.path

    real_wh = os.path.realpath(wh)
    real_loc = os.path.realpath(loc)
    if not real_loc.startswith(real_wh.rstrip("/") + "/"):
        return None  # external/unknown location: never delete
    return loc


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 64,
    sort_cols: Optional[Sequence[str]] = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (the co-located-join layout for the
    100-TB plan): rows are hash-distributed into ``n_buckets`` files
    by ``bucket_cols`` at WRITE time, so every later equi-join or
    aggregation on those keys skips its Exchange entirely — the
    shuffle is paid once at ingest instead of once per query. This is
    the parquet analogue of the reference stores' keyed layouts
    (redisstore.go composite keys / mysqlstore indexes); with Iceberg
    the same intent is a bucket(N, col) partition transform.

    At 100 TB: bucket the triples table by s_value (subject-keyed
    traversals + squish) and dimension tables by their join keys;
    n_buckets should be a multiple of the executor count.

    Overwrite really overwrites: a fresh in-memory catalog does not
    know managed tables from earlier sessions, so a stale warehouse
    location would otherwise fail saveAsTable with
    LOCATION_ALREADY_EXISTS — the table AND its location are cleared
    first. The location is resolved from the catalog when the table
    is registered; otherwise it is derived from the qualified name
    (``<wh>/<db>.db/<tbl>`` for ``db.tbl``, ``<wh>/<tbl>`` for a bare
    name), and only paths strictly inside the warehouse dir are ever
    removed — never a same-named table in another database."""
    import shutil

    spark = df.sparkSession
    if mode == "overwrite":
        loc = _managed_location(spark, table)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        if loc:
            shutil.rmtree(loc, ignore_errors=True)
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.read.table(table)


def update_table(
    spark: SparkSession,
    table: str,
    update: str,
    bucket_cols: Sequence[str] = ("s_value",),
    n_buckets: int = 64,
) -> int:
    """Apply a SPARQL Update request to a persisted bucketed triples
    table and atomically replace it — KG maintenance over storage
    (the reference mutates its stores imperatively, graph.go
    Add/Remove; here the update runs as one declarative job).

    The updated frame materializes to a STAGING table first (ONE
    bucketed write — the update job reads the live table while it
    runs, and a failed job leaves it untouched), then swaps in by
    renaming live→backup, staging→live, and dropping the backup
    (metadata moves, no second data pass — at 100 TB the swap costs
    nothing beyond the staging write itself). No step deletes data
    before the new table is catalogued under some name: a crash
    between the two renames leaves BOTH ``<table>__backup`` (old
    data) and ``<table>__staging`` (new data) intact, and recovery is
    a single rename of whichever version you want back to ``table``.
    Returns the new triple count."""
    import shutil

    from argo_spark.ops.sparql import sparql_update

    updated = sparql_update(read_table(spark, table), update)
    staging = table + "__staging"
    write_bucketed(updated, staging, bucket_cols, n_buckets)
    backup = table + "__backup"
    # clear any stale backup (name AND location) so the rename target
    # is free, then: live -> backup, staging -> live, drop backup
    bloc = _managed_location(spark, backup)
    spark.sql(f"DROP TABLE IF EXISTS {backup}")
    if bloc:
        shutil.rmtree(bloc, ignore_errors=True)
    if spark.catalog.tableExists(table):
        spark.sql(f"ALTER TABLE {table} RENAME TO {backup}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    bloc = _managed_location(spark, backup)
    spark.sql(f"DROP TABLE IF EXISTS {backup}")
    if bloc:
        shutil.rmtree(bloc, ignore_errors=True)
    return read_table(spark, table).count()
