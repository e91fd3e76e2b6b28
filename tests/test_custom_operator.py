"""Custom WHERE-operator registry (OSQLHelper.registerOperator parity,
core:sql/OSQLHelper.java:98-102): a registered word becomes a binary
condition operator in WHERE, compiled to the registered Column builder."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orientdb_spark import Engine, register_operator, unregister_operator
from orientdb_spark.errors import OCommandSQLParsingException


@pytest.fixture()
def icontains():
    register_operator("icontains", lambda l, r: F.instr(F.lower(l), F.lower(r)) > 0)
    yield
    unregister_operator("icontains")


def test_custom_operator_in_where(engine, icontains):
    rows = engine.query("select n_name from nation where n_name icontains 'tion_1' order by n_name")
    names = [r.n_name for r in rows]
    expected = [
        r.n_name
        for r in engine.table("nation")
        .filter(F.instr(F.lower("n_name"), "tion_1") > 0)
        .orderBy("n_name")
        .collect()
    ]
    assert names == expected and len(names) > 0


def test_custom_operator_negated(engine, icontains):
    total = engine.table("nation").count()
    pos = len(engine.query("select n_name from nation where n_name icontains 'tion_1'"))
    neg = len(engine.query("select n_name from nation where not (n_name icontains 'tion_1')"))
    assert pos + neg == total


def test_unregistered_operator_is_not_an_operator(engine):
    # without registration the word is not a condition operator: the parser
    # either leaves it dangling (parse error) or treats the head as a bare
    # expression — never silently matches
    with pytest.raises(Exception):
        engine.query("select n_name from nation where n_name icontains2 'x'")


def test_custom_operator_overrides_builtin(engine):
    # registry is consulted before the hardcoded chain — re-registering a
    # builtin word overrides it (reference arrays allow the same)
    register_operator("matches", lambda l, r: F.lit(True))
    try:
        rows = engine.query("select r_name from region where r_name matches 'zzz'")
        assert len(rows) == engine.table("region").count()
    finally:
        unregister_operator("matches")
        # cached plan for the overridden text must not leak
        engine._plan_cache.clear()
    rows = engine.query("select r_name from region where r_name matches 'zzz' ")
    assert rows == []


def test_reregistered_function_replaces_the_cached_plan(spark):
    eng = Engine(spark)
    eng.register_dataframe("t", spark.range(3).withColumnRenamed("id", "x"))
    text = "select myfn(x) as y from t order by y"
    eng.register_function("myfn", lambda a: a[0] + 1)
    assert [r.y for r in eng.query(text)] == [1, 2, 3]
    eng.register_function("myfn", lambda a: a[0] * 100)
    assert [r.y for r in eng.query(text)] == [0, 100, 200]
