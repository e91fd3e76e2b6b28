"""Shared fixtures: one SparkSession per test run, engine over sf0.001,
and a duckdb oracle helper mirroring the driver's correctness harness."""

from __future__ import annotations

import math

import duckdb
import pytest

from orientdb_spark import Engine, get_spark

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="orientdb_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def engine(spark):
    eng = Engine(spark)
    eng.register_parquet_dir(SF_DIR)
    return eng


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the JVM holds persisted: localCheckpoint blocks
    and cached frames alike."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def assert_matches_oracle(df, con, sql: str, sort: bool = True):
    """Row-multiset comparison against duckdb, column-name aware —
    the same shape as the driver's value-hash check."""
    got_cols = sorted(df.columns)
    spark_rows = [tuple(_norm(r[c]) for c in got_cols) for r in df.collect()]
    res = con.execute(sql)
    oracle_cols = [d[0] for d in res.description]
    assert sorted(oracle_cols) == got_cols, f"columns differ: {oracle_cols} vs {df.columns}"
    idx = [oracle_cols.index(c) for c in got_cols]
    oracle_rows = [tuple(_norm(row[i]) for i in idx) for row in res.fetchall()]
    if sort:
        spark_rows = sorted(spark_rows, key=repr)
        oracle_rows = sorted(oracle_rows, key=repr)
    assert len(spark_rows) == len(oracle_rows), (
        f"row count differs: spark={len(spark_rows)} oracle={len(oracle_rows)}"
    )
    for s, o in zip(spark_rows, oracle_rows):
        assert _rows_close(s, o), f"row mismatch: {s} != {o}"


def _rows_close(a, b) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-6):
                return False
        elif str(x) != str(y):  # timestamps repr-compare
            return False
    return True
