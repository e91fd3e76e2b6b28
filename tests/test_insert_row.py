"""INSERT builds one typed row whether or not the class already has a
table (core:sql/OCommandExecutorSQLInsert.java:46-146 typed literals,
OSQLHelper.java:112-164), and a statement's count stays in the driver:
no Spark job runs before the caller collects the result."""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from orientdb_spark import Engine
from orientdb_spark.otypes import RID_TYPE


def _jobs_submitted(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_first_insert_takes_null_literal(spark):
    eng = Engine(spark)
    eng.command("insert into b1 (x, n) values (1, null)")
    assert [tuple(r) for r in eng.query("select x, n from b1")] == [(1, None)]


def test_first_insert_stores_rid_literal_as_rid(spark):
    eng = Engine(spark)
    eng.command("insert into a1 (x, r) values (1, #3:5)")
    assert eng.table("a1").schema["r"].dataType == RID_TYPE
    assert [r["x"] for r in eng.query("select x from a1 where r = #3:5")] == [1]


def test_keyed_insert_runs_no_job_before_collect(spark):
    eng = Engine(spark)
    eng.register_dataframe(
        "kins",
        spark.createDataFrame([(1, "a")], ["k", "v"]),
        rid_pos=lambda df: F.col("k"),
    )
    details = []
    eng.hooks.register(lambda ev, cls, d: details.append(d) if d else None)
    j0 = _jobs_submitted(spark)
    result = eng.command("insert into kins (k, v) values (2, 'b')")
    assert _jobs_submitted(spark) == j0
    assert details == [{"inserted": 1}]
    assert [r.asDict() for r in result.collect()] == [{"inserted": 1}]


def test_first_insert_takes_declared_property_type(spark):
    eng = Engine(spark)
    eng.command("create class c1")
    eng.command("create property c1.score integer")
    eng.command("insert into c1 (score) values (10)")
    assert eng.table("c1").schema["score"].dataType == T.IntegerType()
    assert [r["score"] for r in eng.query("select score from c1")] == [10]
