"""Bulk document append (Engine.append / dml.bulk_append) — the
Spark-first analog of the reference's massive-insert workload
(tests/.../speed/LocalCreateDocumentSpeedTest.java:42,52-67: 1M
record.save() cycles under OIntentMassiveInsert). One statement appends
a whole DataFrame: same semantics as per-row INSERT (schema-mixed
overflow, validation, unique probes, hooks, @version 0), one
distributed pass each instead of one driver round-trip per record."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orientdb_spark import Engine
from orientdb_spark.errors import OIndexException, OValidationException


@pytest.fixture()
def eng(spark):
    return Engine(spark)


def _account_df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("id"),
        F.lit("Luca").alias("name"),
        (F.lit(3000.0) + F.col("id")).alias("salary"),
    )


def test_append_counts_rids_and_order(eng, spark):
    eng.command("create class Account")
    eng.command("create property Account.id integer")
    eng.command("insert into Account(id) values (0)")
    res = eng.append("Account", _account_df(spark, 1, 101))
    assert res.first()["inserted"] == 100
    rows = eng.query("select @rid, id from Account order by id")
    assert len(rows) == 101
    # RIDs are unique AND contiguous: pre-existing row froze pos 0, the
    # prefix-sum allocator hands out 1..100 with no global window
    poss = sorted(r["rid"]["pos"] for r in rows)
    assert poss == list(range(101))


def test_append_twice_continues_rid_sequence(eng, spark):
    eng.append("acc2", _account_df(spark, 0, 10))
    eng.append("acc2", _account_df(spark, 10, 15))
    poss = sorted(
        r["rid"]["pos"] for r in eng.query("select @rid from acc2")
    )
    assert poss == list(range(15))


def test_append_schema_mixed_overflow(eng, spark):
    """Undeclared columns of a declared class route into the _extra
    string map (ODocument.java:55-57), exactly like per-row INSERT."""
    eng.command("create class mixed")
    eng.command("create property mixed.id integer")
    eng.append("mixed", _account_df(spark, 0, 5))
    rows = eng.query("select id, name, salary from mixed where id = 3")
    assert rows[0]["name"] == "Luca"
    assert rows[0]["salary"] == "3003.0"  # stringly overflow value
    assert "salary" not in [
        f.name for f in eng.table("mixed").schema.fields
    ]


def test_append_validation_and_massiveinsert_intent(eng, spark):
    """notNull validation runs as ONE distributed scan over the appended
    rows; declare_intent('massiveinsert') skips it — the reference's
    OIntentMassiveInsert.java:10-44 bulk-load contract."""
    from orientdb_spark.catalog import OProperty
    from orientdb_spark.otypes import OType

    eng.command("create class vld")
    eng.command("create property vld.name string")
    eng.catalog.get("vld").properties["name"] = OProperty(
        name="name", otype=OType.STRING, not_null=True
    )
    bad = spark.createDataFrame(
        [(1, "a"), (2, None)], ["id", "name"]
    )
    with pytest.raises(OValidationException, match="cannot be null"):
        eng.append("vld", bad)
    eng.declare_intent("massiveinsert")
    assert eng.append("vld", bad).first()["inserted"] == 2
    eng.declare_intent(None)


def test_append_unique_index_probe(eng, spark):
    eng.command("create class uq")
    eng.command("create property uq.code string")
    eng.command("create index uq.code unique")
    eng.command("insert into uq (code) values ('A')")
    dup = spark.createDataFrame([("B",), ("A",)], ["code"])
    with pytest.raises(OIndexException, match="duplicated key"):
        eng.append("uq", dup)


def test_append_version_starts_zero_and_bumps(eng, spark):
    eng.append("ver", _account_df(spark, 0, 5))
    assert {
        r["version"] for r in eng.query("select @version from ver")
    } == {0}
    eng.command("update ver set name = 'x' where id = 2")
    byid = {
        r["id"]: r["version"]
        for r in eng.query("select id, @version from ver")
    }
    assert byid[2] == 1 and byid[0] == 0


def test_append_fires_create_hooks_once_per_statement(eng, spark):
    seen = []
    eng.hooks.register(lambda ev, cls, d: seen.append((ev, cls)))
    eng.append("hk", _account_df(spark, 0, 50))
    assert seen == [("before_create", "hk"), ("after_create", "hk")]


def test_append_result_matches_per_row_inserts(eng, spark):
    """The bulk path and N per-row INSERTs produce the same table
    content (RID positions may differ in assignment order, values do
    not)."""
    eng.command("create class bulk1")
    eng.command("create property bulk1.id integer")
    eng.command("create class row1")
    eng.command("create property row1.id integer")
    eng.append("bulk1", _account_df(spark, 0, 8))
    for i in range(8):
        eng.command(
            f"insert into row1(id, name, salary) values ({i}, 'Luca', {3000.0 + i})"
        )
    b = [
        (r["id"], r["name"], r["salary"])
        for r in eng.query("select id, name, salary from bulk1 order by id")
    ]
    r = [
        (r["id"], r["name"], r["salary"])
        for r in eng.query("select id, name, salary from row1 order by id")
    ]
    assert b == r


def test_append_rejection_is_atomic(eng, spark):
    """A rejected append must leave NO catalog trace: next_rid not
    advanced (RIDs stay contiguous on the next success), the table
    unchanged, and a previously-unknown class not registered."""
    eng.command("create class atq")
    eng.command("create property atq.code string")
    eng.command("create index atq.code unique")
    eng.command("insert into atq (code) values ('A')")
    with pytest.raises(OIndexException):
        eng.append("atq", spark.createDataFrame([("B",), ("A",)], ["code"]))
    assert eng.table("atq").count() == 1
    eng.append("atq", spark.createDataFrame([("C",), ("D",)], ["code"]))
    poss = sorted(r["rid"]["pos"] for r in eng.query("select @rid from atq"))
    assert poss == [0, 1, 2]  # the rejected 2-row batch burned nothing

    from orientdb_spark.catalog import OProperty
    from orientdb_spark.otypes import OType
    from orientdb_spark.errors import OValidationException

    # unknown class + failing validation -> class must not appear;
    # build the failure via a declared class whose validation rejects
    eng.command("create class atv")
    eng.catalog.get("atv").properties["name"] = OProperty(
        name="name", otype=OType.STRING, not_null=True
    )
    with pytest.raises(OValidationException):
        eng.append("atv", spark.createDataFrame([(None,)], "name string"))
    # no table swap committed: the class still has no backing data
    assert eng.catalog.get("atv").df is None
    # (an UNKNOWN class cannot be rejected at all — it has no declared
    # constraints — so register-after-checks is purely defensive there)


def test_rejected_insert_burns_no_rid(eng):
    """Per-row INSERT has the bulk path's atomicity: a statement rejected
    by validation or by a unique probe leaves next_rid alone, so the next
    accepted row takes the next contiguous @rid position."""
    from orientdb_spark.catalog import OProperty
    from orientdb_spark.otypes import OType

    eng.command("create class rjq")
    eng.catalog.get("rjq").properties["code"] = OProperty(
        name="code", otype=OType.STRING, not_null=True
    )
    eng.command("insert into rjq (code) values ('a')")
    with pytest.raises(OValidationException):
        eng.command("insert into rjq (code) values (null)")
    eng.command("insert into rjq (code) values ('c')")
    eng.command("create index rjq.code unique")
    with pytest.raises(OIndexException):
        eng.command("insert into rjq (code) values ('c')")
    eng.command("insert into rjq (code) values ('d')")
    rows = eng.query("select code, @rid from rjq")
    assert sorted((r["rid"]["pos"], r["code"]) for r in rows) == [
        (0, "a"), (1, "c"), (2, "d")
    ]


def test_append_keeps_schemaless_era_real_columns(eng, spark):
    """Per-row INSERT parity: a column that became a REAL table column
    during the class's schema-less era stays a real column in bulk
    appends even after a property is declared — only columns that are
    neither declared nor existing overflow into _extra."""
    eng.command("create class mix2")
    eng.command("insert into mix2(a, b) values (1, 'real')")  # schema-less era
    eng.command("create property mix2.a integer")             # declare only a
    eng.append(
        "mix2",
        spark.createDataFrame([(2, "still-real", "extra")], ["a", "b", "c"]),
    )
    cols = [f.name for f in eng.table("mix2").schema.fields]
    assert "b" in cols and "c" not in cols
    rows = {r["a"]: r for r in eng.query("select a, b, c from mix2")}
    assert rows[2]["b"] == "still-real"   # real column, not NULL
    assert rows[2]["c"] == "extra"        # overflow via _extra
