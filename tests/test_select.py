"""SELECT end-to-end vs duckdb oracle — the reference's self-verifying
functional test style (tests:database/auto/SQLSelectTest.java) adapted to
table-driven pytest cases over the driver's TPC-H-ish tables."""

import pytest

from tests.conftest import assert_matches_oracle


CASES = [
    # (engine dialect SQL, oracle ANSI SQL)
    (
        "select from region",
        "select * from region",
    ),
    (
        "select r_name from region where r_regionkey >= 2",
        "select r_name from region where r_regionkey >= 2",
    ),
    (
        "select c_name, c_acctbal from customer where c_mktsegment = 'BUILDING' "
        "and c_acctbal > 5000 order by c_acctbal desc limit 10",
        "select c_name, c_acctbal from customer where c_mktsegment = 'BUILDING' "
        "and c_acctbal > 5000 order by c_acctbal desc limit 10",
    ),
    (
        "select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty, "
        "count(*) as cnt from lineitem where l_shipdate <= '1998-09-02' "
        "group by l_returnflag, l_linestatus order by l_returnflag, l_linestatus",
        "select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty, "
        "count(*) as cnt from lineitem where l_shipdate <= '1998-09-02' "
        "group by l_returnflag, l_linestatus order by l_returnflag, l_linestatus",
    ),
    # method chains (SURVEY §2.8)
    (
        "select c_name.toUpperCase() as up, c_name.left(8) as l8, "
        "c_name.length() as len from customer where c_custkey < 10",
        "select upper(c_name) as up, substring(c_name, 1, 8) as l8, "
        "length(c_name) as len from customer where c_custkey < 10",
    ),
    (
        "select p_name.indexOf('a') as ia from part where p_partkey <= 20",
        "select coalesce(nullif(instr(p_name, 'a'), 0), 0) - 1 as ia from part "
        "where p_partkey <= 20",
    ),
    # LIKE is %-only in the dialect (core:query/OQueryHelper.java:20-55)
    (
        "select p_name from part where p_name like 'PART_11%'",
        "select p_name from part where p_name like 'PART\\_11%' escape '\\'",
    ),
    # IN / BETWEEN / IS NULL
    (
        "select n_name from nation where n_nationkey in [1, 3, 5]",
        "select n_name from nation where n_nationkey in (1, 3, 5)",
    ),
    (
        "select o_orderkey from orders where o_totalprice between 1000 and 2000",
        "select o_orderkey from orders where o_totalprice between 1000 and 2000",
    ),
    (
        "select c_name from customer where c_acctbal is not null and c_custkey <= 5",
        "select c_name from customer where c_acctbal is not null and c_custkey <= 5",
    ),
    # MATCHES = full-string java regex → anchored
    (
        "select n_name from nation where n_name matches 'NATION_1[0-2]'",
        "select n_name from nation where regexp_full_match(n_name, 'NATION_1[0-2]')",
    ),
    # arithmetic + aggregates
    (
        "select sum(l_extendedprice * (1 - l_discount)) as revenue from lineitem "
        "where l_shipdate >= '1995-01-01' and l_shipdate < '1996-01-01'",
        "select sum(l_extendedprice * (1 - l_discount)) as revenue from lineitem "
        "where l_shipdate >= '1995-01-01' and l_shipdate < '1996-01-01'",
    ),
    # distinct
    (
        "select distinct l_returnflag from lineitem",
        "select distinct l_returnflag from lineitem",
    ),
    # link navigation (SURVEY §2.4: pointer-join)
    (
        "select o_orderkey, o_custkey.c_name as cust from orders "
        "where o_custkey.c_nationkey.n_name = 'NATION_3' order by o_orderkey limit 20",
        "select o_orderkey, c_name as cust from orders join customer on o_custkey = c_custkey "
        "join nation on c_nationkey = n_nationkey where n_name = 'NATION_3' "
        "order by o_orderkey limit 20",
    ),
    # count(distinct)
    (
        "select count(distinct l_suppkey) as suppliers from lineitem",
        "select count(distinct l_suppkey) as suppliers from lineitem",
    ),
    # having
    (
        "select l_returnflag, count(*) as cnt from lineitem group by l_returnflag "
        "having count(*) > 1500 order by cnt desc",
        "select l_returnflag, count(*) as cnt from lineitem group by l_returnflag "
        "having count(*) > 1500 order by cnt desc",
    ),
    # subquery target
    (
        "select cnt from (select l_returnflag, count(*) as cnt from lineitem "
        "group by l_returnflag) where cnt > 1500",
        "select cnt from (select l_returnflag, count(*) as cnt from lineitem "
        "group by l_returnflag) t where cnt > 1500",
    ),
]


@pytest.mark.parametrize("dialect_sql,oracle_sql", CASES, ids=range(len(CASES)))
def test_select_vs_oracle(engine, oracle, dialect_sql, oracle_sql):
    assert_matches_oracle(engine.sql(dialect_sql), oracle, oracle_sql)


def test_limit_shortcircuit(engine):
    assert len(engine.query("select from lineitem limit 7")) == 7


def test_order_by_nonprojected(engine, oracle):
    # ORDER BY a field not in the projection (reference buffers full records)
    df = engine.sql("select c_name from customer order by c_acctbal desc limit 5")
    assert_matches_oracle(
        df, oracle, "select c_name from customer order by c_acctbal desc limit 5", sort=False
    )


def test_projection_collision_autoname(engine):
    df = engine.sql("select c_name, c_name from customer limit 1")
    assert df.columns == ["c_name", "c_name2"]


def test_duplicate_alias_error(engine):
    from orientdb_spark.errors import OCommandSQLParsingException

    with pytest.raises(OCommandSQLParsingException):
        engine.sql("select c_name as a, c_custkey as a from customer")


def test_record_attributes(engine):
    row = engine.query("select @rid, @class, @version from region limit 1")[0]
    assert row["class"] == "region"
    assert row["version"] == 0
    assert row["rid"]["cluster"] is not None


def test_rid_point_lookup(engine):
    cluster = engine.catalog.get("region").cluster_id
    rows = engine.query(f"select r_regionkey, r_name from {cluster}:2")
    assert len(rows) == 1 and rows[0]["r_regionkey"] == 2


def test_rid_list_lookup(engine):
    cluster = engine.catalog.get("nation").cluster_id
    rows = engine.query(f"select n_nationkey from [{cluster}:1, {cluster}:4]")
    assert sorted(r["n_nationkey"] for r in rows) == [1, 4]


def test_range_pagination(engine):
    """Keyset pagination invariant (SQLSelectTest.java:532-575): pages are
    disjoint, ordered, and cover the full scan."""
    cluster = engine.catalog.get("nation").cluster_id
    page1 = engine.query(f"select n_nationkey, @rid from nation range {cluster}:0 limit 10")
    assert len(page1) == 10
    last = page1[-1]["rid"]["pos"]
    page2 = engine.query(
        f"select n_nationkey, @rid from nation range {cluster}:{last + 1} limit 10"
    )
    keys1 = {r["n_nationkey"] for r in page1}
    keys2 = {r["n_nationkey"] for r in page2}
    assert not keys1 & keys2
    assert len(keys1 | keys2) == 20


def test_async_query_listener_abort(engine):
    """OSQLAsynchQuery: listener returning False aborts consumption
    (core:sql/OCommandExecutorSQLSelect.java:228-242)."""
    seen = []

    def listener(row):
        seen.append(row)
        return len(seen) < 3

    engine.async_query("select from customer", listener)
    assert len(seen) == 3


def test_sum_any_all(engine, oracle):
    df = engine.sql("select n_name from nation where any() = 1")
    assert_matches_oracle(
        df,
        oracle,
        "select n_name from nation where n_nationkey = 1 or n_regionkey = 1",
    )


def test_grant_revoke_bookkeeping(engine):
    # security DDL is bookkeeping-only (SURVEY §1.6)
    row = engine.command("grant read on database.class.region to reader").collect()[0]
    assert row["role"] == "reader" and row["permission"] == "read"


def test_topk_plan_is_take_ordered(engine):
    # ORDER BY + LIMIT must plan as TakeOrderedAndProject — the engine-level
    # analog of the reference's LIMIT scan short-circuit (SQLSelect:228-242)
    df = engine.sql("select c_name, c_acctbal from customer order by c_acctbal desc limit 25")
    assert "TakeOrdered" in df._jdf.queryExecution().executedPlan().toString()


def test_collection_map_method_chains(engine, spark):
    from pyspark.sql import functions as F

    from orientdb_spark import Engine
    from tests.conftest import SF_DIR

    eng = Engine(spark)
    eng.register_parquet_dir(SF_DIR)
    items = eng.table("lineitem").groupBy("l_orderkey").agg(
        F.collect_list("l_returnflag").alias("flags")
    )
    ev = eng.table("events").withColumn("props_map", F.from_json("props", "map<string,int>"))
    eng.register_dataframe("oi_chain", items)
    eng.register_dataframe("evm_chain", ev)
    # .size() on a collection field (OSQLFilterFieldOperator SIZE)
    n = eng.query("select flags.size() as n from oi_chain where l_orderkey = 1")[0]["n"]
    assert n == 4
    # .keys() / .values() on a map field
    row = eng.query(
        "select props_map.keys() as ks, props_map.values() as vs from evm_chain "
        "where event_id = 0"
    )[0]
    assert row["ks"] == ["k"] and len(row["vs"]) == 1
    # .asBoolean(): numbers != 0 are true (OSQLFilterItemAbstract :211-225)
    bools = [
        r["b"]
        for r in eng.query(
            "select r_regionkey.asBoolean() as b from region "
            "where r_regionkey <= 1 order by r_regionkey"
        )
    ]
    assert bools == [False, True]


def test_text_between_target_and_where_ignored(engine):
    """Reference quirk: OCommandExecutorSQLSelect finds clauses by
    uppercase indexOf scan, so text between the target and WHERE is
    silently ignored — SQLDeleteTest.java:46 runs
    `select from Profile set sex = 'male' where salary > 100` and expects
    the WHERE to apply as if the SET weren't there."""
    quirk = engine.query("select from customer set sex = 'male' where c_nationkey = 3")
    plain = engine.query("select from customer where c_nationkey = 3")
    assert len(quirk) == len(plain) > 0
    assert {r["c_custkey"] for r in quirk} == {r["c_custkey"] for r in plain}


def test_numeric_projection_alias(engine):
    """SQLSelectProjectionsTest.java:144-150: `expr as 1` produces a field
    literally named "1"."""
    rows = engine.query(
        "select n_name.append('!') as 1, n_regionkey as 2 from nation where n_nationkey = 0"
    )
    assert list(rows[0].asDict().keys()) == ["1", "2"]
    assert rows[0]["1"].endswith("!")


def _jobs_submitted(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_compile_on_parquet_class_runs_no_job(spark):
    """A parquet-registered class is read once, at registration: compiling
    a fresh SELECT over it (plan-cache miss, link navigation included)
    submits no Spark job — no per-call schema inference."""
    from orientdb_spark import Engine
    from tests.conftest import SF_DIR

    eng = Engine(spark)
    eng.register_parquet_dir(SF_DIR)
    for text in (
        "select o_orderkey, o_totalprice from orders where o_orderkey = 7",
        "select l_orderkey.o_orderdate as d from lineitem where l_orderkey = 1",
    ):
        j0 = _jobs_submitted(spark)
        df = eng.sql(text)
        assert _jobs_submitted(spark) == j0, text
        df.collect()


def test_register_parquet_dir_drops_cached_plans(spark):
    """Re-registering the driver tables from another scale-factor dir
    invalidates plans cached against the old tables."""
    from orientdb_spark import Engine

    eng = Engine(spark)
    q = "select count(*) as n from orders"
    eng.register_parquet_dir("/root/testdata/sf0.001")
    assert eng.query(q)[0]["n"] == spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).count()
    eng.register_parquet_dir("/root/testdata/sf0.01")
    assert eng.query(q)[0]["n"] == spark.read.parquet(
        "/root/testdata/sf0.01/orders.parquet"
    ).count()
