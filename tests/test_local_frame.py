"""Driver-held rows become a DataFrame in one place, ``session.local_frame``,
which plans a LocalRelation over an Arrow table: a statement result, an
inserted row or a small lookup table starts no Spark job and no Python
worker (a list of rows would plan a LogicalRDD over pickled rows)."""

from __future__ import annotations

import pathlib

import pytest

from orientdb_spark import Engine, Graph
from orientdb_spark.fulltext import phrase_search, positional_index
from orientdb_spark.session import local_frame

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _logical(df) -> str:
    return df._jdf.queryExecution().logical().toString()


def _assert_local(df) -> None:
    plan = _logical(df)
    assert "LogicalRDD" not in plan, plan
    assert "LocalRelation" in plan, plan


def test_create_dataframe_only_inside_local_frame():
    files = sorted((ROOT / "orientdb_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    hits = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in files
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert len(hits) == 1 and hits[0].startswith("orientdb_spark/session.py:"), hits


def test_dml_results_and_inserted_class_are_local(spark):
    eng = Engine(spark)
    _assert_local(eng.command("insert into lf1 (k, v) values (1, 'a')"))
    _assert_local(eng.command("insert into lf1 (k, v) values (2, 'b')"))
    _assert_local(eng.table("lf1"))
    _assert_local(eng.command("update lf1 set v = 'c' where k = 1"))
    _assert_local(eng.command("delete from lf1 where k = 2"))


def test_small_lookup_frames_are_local(spark):
    docs = local_frame(spark, [(1, "quick brown fox")], "doc_id bigint, text string")
    _assert_local(phrase_search(positional_index(docs), "brown fox"))
    g = Graph(
        local_frame(spark, [("a",), ("b",)], "vid string"),
        local_frame(spark, [], "src string, dst string, label string"),
    )
    _assert_local(g.link("a", "b").edges)
    eng = Engine(spark)
    eng.dictionary.put("k", "region", (1, 2))
    d = eng.dictionary.as_dataframe()
    _assert_local(d)
    assert [tuple(r) for r in d.collect()] == [("k", "region", (1, 2))]


def test_zero_row_local_frame_keeps_schema(spark):
    df = local_frame(spark, [], "id bigint, v array<double>, m map<string,string>")
    _assert_local(df)
    assert df.schema.simpleString() == "struct<id:bigint,v:array<double>,m:map<string,string>>"
    assert df.count() == 0


def test_wrong_value_type_names_the_column(spark):
    with pytest.raises(TypeError, match="column 'vid' is declared string"):
        local_frame(spark, [("a", 1)], "src string, vid string")
