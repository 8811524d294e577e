"""End-to-end pipeline: exactly-once resume, committed-only reads,
fresh-directory reads, manifest lineage, driver-built local frames,
job counts per call, P/R after materialize, one squish per
materialize, skewed predicate stats."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from argo_spark.extract.rdfa import EXTRACT_SCHEMA
from argo_spark.manifest import MANIFEST_SCHEMA, Manifest
from argo_spark.ops.bgp import _TERM_STRUCT_PREFIX
from argo_spark.ops.dedup import apply_entity_mapping, entity_dedup_mapping
from argo_spark.pages import expected_triples, synthesize_pages
from argo_spark.pipeline import KgPipeline, predicate_stats
from argo_spark.schema import TRIPLE_COLS
from argo_spark.session import local_frame
from tests.fixtures import jobs_started


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path / "kg")


N = 120


def test_run_resume_exactly_once(spark, outdir):
    pages = synthesize_pages(spark, N)
    pipe = KgPipeline(spark, outdir, n_buckets=8)

    # first run dies after 3 buckets (simulated partial run)
    s1 = pipe.run(pages, max_buckets=3)
    assert s1.n_buckets_processed == 3
    # resume: picks up ONLY the remaining buckets
    s2 = pipe.run(pages)
    assert s2.n_buckets_processed == 5
    # a third run has nothing to do
    s3 = pipe.run(pages)
    assert s3.n_buckets_processed == 0 and s3.n_pages == 0

    # exactly-once: every page counted once across the two real runs
    assert s1.n_pages + s2.n_pages == N
    m = pipe.manifest.read()
    assert m.select("bucket").distinct().count() == 8
    assert m.count() == 8  # no bucket committed twice
    assert m.agg(F.sum("n_pages")).collect()[0][0] == N

    # committed view equals a fresh single-shot run's triples
    committed = pipe.triples()
    assert committed.select("url").distinct().count() == N


def test_rerun_bucket_is_idempotent(spark, outdir):
    pages = synthesize_pages(spark, N)
    pipe = KgPipeline(spark, outdir, n_buckets=4)
    pipe.run(pages, max_buckets=2)
    before = pipe.spark.read.parquet(pipe.triples_path).count()
    # crash AFTER the data write but BEFORE the manifest commit of
    # bucket 2: its files landed, yet readers must not see them
    def crash(stats, run_id):
        raise RuntimeError("crash before manifest append")

    pipe.manifest.record = crash
    with pytest.raises(RuntimeError):
        pipe.run(pages, max_buckets=1)
    del pipe.manifest.record
    assert set(pipe.manifest.done_buckets()) == {0, 1}
    assert pipe.spark.read.parquet(pipe.triples_path).count() > before
    assert pipe.triples().count() == before
    # write it again with resume (manifest says pending)
    pipe.run(pages, max_buckets=1)  # processes bucket 2 fresh
    pipe.run(pages)  # finish
    total = pipe.spark.read.parquet(pipe.triples_path).count()
    committed = pipe.triples().count()
    assert committed == total  # dynamic overwrite left no duplicates
    assert total > before


def test_fresh_directory_reads(spark, outdir):
    """Before any commit the manifest and the committed view are empty
    frames with their fixed schemas; reading the manifest, listing its
    buckets and collecting the committed view start no Spark job.
    Buckets that extract no triples are never committed."""
    empty_manifest = spark.createDataFrame([], MANIFEST_SCHEMA).schema
    m, n_jobs = jobs_started(spark, "fresh-manifest", Manifest(spark, outdir).read)
    assert n_jobs == 0
    assert m.schema == empty_manifest and m.count() == 0
    done, n_jobs = jobs_started(spark, "fresh-done", Manifest(spark, outdir).done_buckets)
    assert done == [] and n_jobs == 0

    pipe = KgPipeline(spark, outdir, n_buckets=16)
    fresh = pipe.triples()
    rows, n_jobs = jobs_started(spark, "fresh-triples", fresh.collect)
    assert rows == [] and n_jobs == 0
    # 5 pages over 16 buckets: most buckets stay empty
    stats = pipe.run(synthesize_pages(spark, 5))
    assert stats.n_pages == 5 and 0 < stats.n_buckets_processed < 16
    table = spark.read.parquet(pipe.triples_path)
    assert fresh.schema == table.schema
    assert pipe.manifest.read().schema == empty_manifest
    committed = pipe.triples()
    assert committed.schema == table.schema
    assert committed.count() == table.count() == stats.n_triples


def test_manifest_attests_committed_files(spark, outdir):
    """Each commit appends one manifest part file, and the manifest rows
    are the per-bucket stats of what landed on disk."""
    pipe = KgPipeline(spark, outdir, n_buckets=8)
    pages = synthesize_pages(spark, N)

    def part_files():
        return sorted(
            f for f in os.listdir(pipe.manifest.path) if f.startswith("part-")
        )

    pipe.run(pages, max_buckets=2)
    first = part_files()
    assert len(first) == 1
    stats = pipe.run(pages, max_buckets=3)
    assert stats.n_buckets_processed == 3
    assert len(part_files()) == 2 and set(first) < set(part_files())

    cols = ["bucket", "n_pages", "n_triples", "min_url", "max_url"]
    recorded = pipe.manifest.read().select(*cols).orderBy("bucket").collect()
    recomputed = (
        pipe.triples()
        .groupBy("bucket")
        .agg(
            F.countDistinct("url").alias("n_pages"),
            F.count(F.lit(1)).alias("n_triples"),
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
        )
        .select(*cols)
        .orderBy("bucket")
        .collect()
    )
    assert len(recorded) == 5 and recorded == recomputed


_VALUES_SCHEMA = (
    f"`x` string, `{_TERM_STRUCT_PREFIX}x` "
    "struct<kind:tinyint,value:string,lang:string,dt:string>"
)


@pytest.mark.parametrize(
    "schema, rows",
    [
        (
            MANIFEST_SCHEMA,
            [
                (3, 12, 340, "a1b2c3", 1.7e9, "http://a.example/", "http://z.example/"),
                (5, 1, 0, None, None, None, None),
            ],
        ),
        (
            EXTRACT_SCHEMA + ", bucket int",
            [
                (0, "http://e/s", "http://e/p", 1, "chat", "fr", None,
                 "http://e/page", datetime(2024, 2, 29, 23, 59, 58, 123456), 7),
                (2, "b0", "http://e/p", 0, "http://e/o", None, None,
                 "http://e/page", None, None),
            ],
        ),
        (
            "entity string, canonical string",
            [("http://dbpedia.org/resource/Paris_", "http://dbpedia.org/resource/Paris")],
        ),
        (
            _VALUES_SCHEMA,
            [
                ('"chat"@fr', (1, "chat", "fr", None)),
                ("<http://e/o>", (0, "http://e/o", None, None)),
                (None, None),
            ],
        ),
        (MANIFEST_SCHEMA, []),
    ],
    ids=["manifest", "extract", "mapping", "values", "empty"],
)
def test_local_frame_matches_list_frame(spark, request, schema, rows):
    """local_frame is createDataFrame(list) without the Python RDD: same
    schema and rows, and collect starts no Spark job."""
    listed = spark.createDataFrame(rows, schema)
    local = local_frame(spark, rows, schema)
    assert local.schema == listed.schema
    tag = request.node.callspec.id
    got, local_jobs = jobs_started(spark, "local-" + tag, local.collect)
    want, list_jobs = jobs_started(spark, "list-" + tag, listed.collect)
    assert got == want
    assert local_jobs == 0 and list_jobs >= 1


def test_materialize_squishes_once(spark, outdir):
    """With both sinks the squish (manifest read, entity rewrite,
    dropDuplicates shuffle) runs once: the N-Triples come from the
    squished parquet, one text-write job on top of the parquet alone."""
    pages = synthesize_pages(spark, N)
    pipe = KgPipeline(spark, outdir, n_buckets=4)
    pipe.run(pages)
    _, parquet_only = jobs_started(
        spark, "materialize-parquet", lambda: pipe.materialize(squished_path=outdir + "/sq-a")
    )
    _, both = jobs_started(
        spark, "materialize-both", lambda: pipe.materialize(outdir + "/nt", outdir + "/sq-b")
    )
    assert both <= parquet_only + 1
    n_rows = spark.read.parquet(outdir + "/sq-b").count()
    assert 0 < n_rows == spark.read.text(outdir + "/nt").count()


def test_squished_provenance_is_deterministic(spark, tmp_path):
    """A triple that several pages state keeps one provenance pick, the
    least (url, warc_ts), whatever the bucket layout: the same pages
    built under 4 and under 16 buckets squish to the same full rows."""
    pages = synthesize_pages(spark, N)
    rows = []
    for n_buckets in (4, 16):
        out = str(tmp_path / f"kg{n_buckets}")
        pipe = KgPipeline(spark, out, n_buckets=n_buckets)
        pipe.run(pages)
        squished = pipe.materialize(squished_path=out + "/sq")
        assert squished.columns == [*TRIPLE_COLS, "url", "warc_ts"]
        rows.append(sorted(squished.collect(), key=repr))
    assert len(rows[0]) > len({r.url for r in rows[0]})  # pages share triples
    assert rows[0] == rows[1]


def test_build_job_counts(spark, outdir):
    """A fresh build over more bucket directories than Spark's default
    parallel-listing threshold (32): each bucket read lists its
    directories on the driver. `run` starts 6 jobs (extract and bucket
    write 2, per-bucket stats 3, manifest append 1) and
    `materialize(nt, squished)` 7 (manifest read 1, entity mapping 2,
    map broadcast 1, squish and parquet write 2, N-Triples write 1).
    The entity rewrite starts none and broadcasts the map into both
    joins."""
    pages = synthesize_pages(spark, 400)
    pipe = KgPipeline(spark, outdir, n_buckets=64)
    stats, run_jobs = jobs_started(spark, "build-run", lambda: pipe.run(pages))
    assert stats.n_buckets_processed > 32
    _, materialize_jobs = jobs_started(
        spark, "build-materialize", lambda: pipe.materialize(outdir + "/nt", outdir + "/sq")
    )
    assert (run_jobs, materialize_jobs) == (6, 7)

    t = pipe.triples()
    mapping = entity_dedup_mapping(t)
    rewritten, n_jobs = jobs_started(
        spark, "build-rewrite", lambda: apply_entity_mapping(t, mapping)
    )
    assert n_jobs == 0
    plan = rewritten._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2 and "SortMergeJoin" not in plan


def test_materialize_pr_and_squish(spark, outdir):
    pages = synthesize_pages(spark, N)
    pipe = KgPipeline(spark, outdir, n_buckets=4)
    pipe.run(pages)
    squished = pipe.materialize(dedup_entities=False).select(*TRIPLE_COLS)

    gold = expected_triples(spark, N).select(*TRIPLE_COLS).dropDuplicates()
    assert squished.exceptAll(gold).count() == 0
    assert gold.exceptAll(squished).count() == 0
    # squish is a strict set
    assert squished.count() == squished.dropDuplicates().count()


def test_materialize_with_entity_dedup_shrinks_iris(spark, outdir):
    pages = synthesize_pages(spark, 300)
    pipe = KgPipeline(spark, outdir, n_buckets=4)
    pipe.run(pages)
    plain = pipe.materialize(dedup_entities=False)
    deduped = pipe.materialize(dedup_entities=True)
    ents = lambda df: (  # noqa: E731
        df.where("s_kind = 0 AND s_value LIKE 'http://dbpedia.org/resource/%'")
        .select("s_value")
        .distinct()
        .count()
    )
    assert ents(deduped) < ents(plain)  # variants folded
    assert deduped.count() <= plain.count()


def test_predicate_stats_salted(spark, outdir):
    pages = synthesize_pages(spark, N)
    pipe = KgPipeline(spark, outdir, n_buckets=4)
    pipe.run(pages)
    stats = {r.p_value: r.n for r in predicate_stats(pipe.triples()).collect()}
    t = pipe.triples()
    naive = {r.p_value: r.n for r in t.groupBy("p_value").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert stats == naive  # salting changes the plan, not the answer
    assert stats["http://www.w3.org/1999/02/22-rdf-syntax-ns#type"] > 0
