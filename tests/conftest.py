"""Shared fixtures: one SparkSession per test run, engine over sf0.001,
and the registry's DuckDB oracle check (the driver's correctness harness)."""

from __future__ import annotations

import pytest

from orientdb_spark import Engine, get_spark
from orientdb_spark.entries import compare, oracle_db

SF_DIR = "/root/testdata/sf0.001"


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
    con = oracle_db(SF_DIR)
    yield con
    con.close()


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the JVM holds persisted: localCheckpoint blocks
    and cached frames alike."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def assert_matches_oracle(df, con, sql: str, sort: bool = True):
    """Fail unless ``df`` matches the oracle ``sql`` as the driver's
    value-hash check would; ``sort=False`` compares rows in order."""
    rec = compare(df, con, sql, ordered=not sort)
    assert rec["hash_match"], rec["err"]
