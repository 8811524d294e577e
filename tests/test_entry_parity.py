"""Driver-contract parity: every oracle_sql() query must produce
value-identical results to its queries() twin (DuckDB vs Spark),
mimicking the driver's sorted-columns order-insensitive comparison."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if hasattr(v, "as_tuple"):  # Decimal
        return round(float(v), 9)
    return v


def _rows(cols, data):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(row[i]) for i in idx) for row in data)


ORACLE_KEYS = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_parity(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(entry_mod.oracle_sql()[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), f"{name}: row counts differ"
    left = _rows(s_cols, s_rows)
    right = _rows(d_cols, d_rows)
    mism = [i for i, (a, b) in enumerate(zip(left, right)) if a != b][:3]
    assert left == right, f"{name}: first mismatches {[(left[i], right[i]) for i in mism]}"


def test_rows_only_queries_run(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    for name in set(qs) - set(oracles):
        df = qs[name](spark, SF)
        assert df.count() >= 0
        assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "s_kind", "s_value", "p_value", "o_kind", "o_value", "o_lang", "o_dt"
    ]


def test_plan_cache_drops_with_its_session():
    """The plan memo holds a session's frames only while the session
    lives: a stub session's entry goes once the session is dropped,
    and a hit returns the memoized plan without building it again."""
    import gc

    class Reader:
        def __init__(self):
            self.reads = []

        def parquet(self, path):
            self.reads.append(path)
            return type("Frame", (), {"_jdf": object()})()

    class StubSession:
        _sc = None

        def __init__(self):
            self.read = Reader()

    session = StubSession()
    first = entry_mod._docs(session, "/sf")
    assert entry_mod._docs(session, "/sf")._jdf is first._jdf
    assert session.read.reads == ["/sf/documents.parquet"]
    assert session in entry_mod._PLAN_CACHE
    n_sessions = len(entry_mod._PLAN_CACHE)
    del session, first
    gc.collect()
    assert len(entry_mod._PLAN_CACHE) == n_sessions - 1
