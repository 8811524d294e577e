from __future__ import annotations


def test_bucketed_join_and_agg_skip_exchange(spark, tmp_path):
    """write_bucketed co-locates rows so equi-joins AND aggregations
    on the bucket key plan with NO Exchange (the shuffle is paid once
    at write time — the 100-TB co-location story)."""
    import shutil

    from argo_spark.storage import read_table, write_bucketed

    # a fresh in-memory catalog doesn't know tables from earlier
    # sessions — clear both the catalog entries AND their warehouse
    # locations or saveAsTable fails with LOCATION_ALREADY_EXISTS
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bt_orders", "bt_li"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(o, "bt_orders", ["o_orderkey"], 4, sort_cols=["o_orderkey"])
    write_bucketed(li, "bt_li", ["o_orderkey"], 4, sort_cols=["o_orderkey"])
    a, b = read_table(spark, "bt_orders"), read_table(spark, "bt_li")

    j = a.hint("merge").join(b, "o_orderkey")
    jplan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in jplan and "Exchange" not in jplan
    # same answer as the plain shuffled join
    assert j.count() == o.join(li, "o_orderkey").count()

    agg = b.groupBy("o_orderkey").count()
    aplan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in aplan
    assert agg.count() == li.select("o_orderkey").distinct().count()


def test_bucketed_overwrite_qualified_name_spares_default_table(spark):
    """Round-3 fix: overwriting ``db.t`` must clear <wh>/db.db/t, and
    must NEVER touch the data directory of an unrelated default-
    database table that happens to share the short name."""
    import os
    import shutil

    from argo_spark.storage import read_table, write_bucketed

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS qdb.qt")
    spark.sql("DROP TABLE IF EXISTS qt")
    spark.sql("DROP DATABASE IF EXISTS qdb")
    shutil.rmtree(f"{wh}/qdb.db", ignore_errors=True)
    shutil.rmtree(f"{wh}/qt", ignore_errors=True)
    spark.sql("CREATE DATABASE qdb")

    plain = spark.createDataFrame([(1, "keepme")], "id long, v string")
    write_bucketed(plain, "qt", ["id"], 2)
    qual = spark.createDataFrame([(2, "a"), (3, "b")], "id long, v string")
    write_bucketed(qual, "qdb.qt", ["id"], 2)
    # overwrite the qualified table twice: stale-location handling
    write_bucketed(qual, "qdb.qt", ["id"], 2)

    assert os.path.isdir(f"{wh}/qt"), "default-db table directory was deleted"
    assert {r.v for r in read_table(spark, "qt").collect()} == {"keepme"}
    assert read_table(spark, "qdb.qt").count() == 2
    # stale-warehouse case: drop only the catalog entry, leave files,
    # then overwrite again — the derived <db>.db/ location is cleared
    spark.sql("DROP TABLE qdb.qt")
    write_bucketed(qual, "qdb.qt", ["id"], 2)
    assert read_table(spark, "qdb.qt").count() == 2
    spark.sql("DROP TABLE IF EXISTS qdb.qt")
    spark.sql("DROP TABLE IF EXISTS qt")
    spark.sql("DROP DATABASE IF EXISTS qdb")


def test_entry_squish_rides_buckets(spark):
    """The flagship entry() materializes the rewritten triples
    bucketed by subject and the squish re-read must plan with ZERO
    Exchange (PLANS.md §8 / round-3 verdict stretch #8)."""
    import __spark_entry__ as em

    df = em.entry(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert df.count() > 0


def test_update_table_roundtrip(spark):
    from argo_spark.ops.graph import TripleGraph
    from argo_spark.storage import read_table, update_table, write_bucketed
    from argo_spark.terms import TripleT, iri, literal

    g = TripleGraph.of(
        spark,
        [
            TripleT(iri("http://e/a"), iri("http://e/p"), iri("http://e/o1")),
            TripleT(iri("http://e/b"), iri("http://e/p"), iri("http://e/o2")),
            TripleT(iri("http://e/a"), iri("http://e/name"), literal("Ada")),
        ],
    ).df
    write_bucketed(g, "upd_tbl", ["s_value"], n_buckets=4)
    n = update_table(
        spark,
        "upd_tbl",
        "DELETE { ?s <http://e/p> ?o } INSERT { ?s <http://e/q> ?o } "
        "WHERE { ?s <http://e/p> ?o } ; "
        'INSERT DATA { <http://e/c> <http://e/name> "Cee" }',
        n_buckets=4,
    )
    assert n == 4
    got = read_table(spark, "upd_tbl")
    preds = {r.p_value for r in got.select("p_value").distinct().collect()}
    assert preds == {"http://e/q", "http://e/name"}
    # staging table cleaned up
    assert not spark.catalog.tableExists("upd_tbl__staging")
    # the replaced table keeps the bucketed layout: a self-join on
    # s_value plans with no Exchange
    j = got.alias("l").hint("merge").join(
        read_table(spark, "upd_tbl").alias("r"), "s_value"
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    spark.sql("DROP TABLE IF EXISTS upd_tbl")


def test_update_table_graph_aware(spark):
    # round 5: a graph-referencing update grows the persisted table
    # to quads (g_value column); later updates keep the quad schema
    from argo_spark.ops.graph import TripleGraph
    from argo_spark.storage import read_table, update_table, write_bucketed
    from argo_spark.terms import TripleT, iri, literal

    g = TripleGraph.of(
        spark,
        [TripleT(iri("http://e/a"), iri("http://e/name"),
                 literal("Ada"))],
    ).df
    write_bucketed(g, "upd_qtbl", ["s_value"], n_buckets=4)
    update_table(
        spark,
        "upd_qtbl",
        'INSERT DATA { GRAPH <http://g/1> '
        '{ <http://e/a> <http://e/age> "36" } }',
        n_buckets=4,
    )
    got = read_table(spark, "upd_qtbl")
    assert "g_value" in got.columns
    assert {r.g_value for r in got.select("g_value").collect()} == \
        {None, "http://g/1"}
    # quad table accepts graph management ops and stays quad
    n = update_table(
        spark, "upd_qtbl", "DROP GRAPH <http://g/1>", n_buckets=4
    )
    assert n == 1
    got = read_table(spark, "upd_qtbl")
    assert "g_value" in got.columns
    assert [r.g_value for r in got.collect()] == [None]
    spark.sql("DROP TABLE IF EXISTS upd_qtbl")
