"""The one check of a frame against its DuckDB oracle
(``orientdb_spark.entries.compare``) and the tools built on it: it must
be able to fail, only ``oracle_db`` may open the oracle, and the record
writer merges without losing entries."""

from __future__ import annotations

import importlib.util
import json
import pathlib

import pytest

from orientdb_spark.entries import compare
from tests.conftest import assert_matches_oracle

ROOT = pathlib.Path(__file__).resolve().parents[1]
ORACLE = "SELECT * FROM (VALUES (1, 0.5::DOUBLE, 'a'), (2, 1.25::DOUBLE, 'b')) t(k, v, s)"
SCHEMA = "k long, v double, s string"


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(name, ROOT / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_matching_frame_passes_in_any_row_order(spark, oracle):
    df = spark.createDataFrame([(2, 1.25, "b"), (1, 0.5, "a")], SCHEMA)
    rec = compare(df, oracle, ORACLE)
    assert rec == {"rows_match": True, "schema_match": True, "hash_match": True,
                   "spark_rows": 2, "oracle_rows": 2, "err": None}
    assert not compare(df, oracle, ORACLE, ordered=True)["hash_match"]
    assert_matches_oracle(df, oracle, ORACLE)


def test_float_within_tolerance_passes(spark, oracle):
    df = spark.createDataFrame([(1, 0.5 + 4e-7, "a"), (2, 1.25, "b")], SCHEMA)
    assert compare(df, oracle, ORACLE)["hash_match"]
    # past 1.0 the tolerance is relative: 1e-6 of the value
    big = "SELECT 2500.0::DOUBLE AS v"
    assert compare(spark.createDataFrame([(2500.0015,)], "v double"), oracle, big)["hash_match"]
    assert not compare(spark.createDataFrame([(2500.01,)], "v double"), oracle, big)["hash_match"]


@pytest.mark.parametrize(
    "rows, schema, err",
    [
        ([(1, 0.5, "a")], SCHEMA, "rows 1 vs 2"),
        ([(1, 0.5, "a"), (3, 1.25, "b")], SCHEMA, "first mismatch at 1"),
        ([(1, 0.5, "a"), (2, 1.25 + 1e-5, "b")], SCHEMA, "first mismatch at 1"),
        ([(1, 0.5, "a"), (2, 1.25, "b")], "k long, w double, s string", "columns"),
    ],
    ids=["missing_row", "changed_row", "float_beyond_1e-6", "column_name"],
)
def test_differing_frame_fails(spark, oracle, rows, schema, err):
    df = spark.createDataFrame(rows, schema)
    rec = compare(df, oracle, ORACLE)
    assert not rec["hash_match"] and rec["err"].startswith(err), rec
    with pytest.raises(AssertionError, match=err):
        assert_matches_oracle(df, oracle, ORACLE)


def test_no_other_oracle_connection_or_row_comparator():
    """The DuckDB views and the row comparison live once, in
    orientdb_spark/entries/_registry.py; tests and tools call it."""
    markers = ("read_parquet(", "CREATE VIEW", "duckdb.connect(", "math.isclose(", ".fetchall()")
    files = sorted((ROOT / "tests").rglob("*.py")) + sorted((ROOT / "tools").rglob("*.py"))
    hits = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in files
        if p != pathlib.Path(__file__).resolve()
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if any(m in line for m in markers)
    ]
    assert not hits, hits


def test_record_writer_merges_and_keeps_other_entries(tmp_path):
    check = _tool("check_entries")
    path = tmp_path / "CORRECTNESS_x.json"
    old = {"hash_match": True, "spark_rows": 3, "swept_at_commit": "abc1234"}
    path.write_text(json.dumps({"__provenance__": {"sf_dir": "/d", "generator": "g"}, "old": old}))
    bad = {"hash_match": False, "spark_rows": 1, "err": "rows 1 vs 2"}
    check.write_records(str(path), {"new": bad}, "/d/", "def5678")
    got = json.loads(path.read_text())
    assert got["old"] == old
    assert got["new"] == bad | {"commit": "def5678"}
    assert got["__provenance__"] == {"sf_dir": "/d/", "generator": "g", "entries": 2, "hash_green": 1}
    with pytest.raises(SystemExit, match="/elsewhere"):
        check.write_records(str(path), {"new": bad}, "/elsewhere", "def5678")


def test_record_refuses_a_driver_round_suffix():
    check = _tool("check_entries")
    with pytest.raises(SystemExit, match="refusing --record r14"):
        check.main(["/some/sf", "--record", "r14"])
    assert check.record_path("r13_sweep").endswith("CORRECTNESS_r13_sweep.json")


def test_bench_runs_merge_to_per_query_min():
    runs = [
        {"metric": "m", "value": 5.0, "queries": {"a": 1.0, "b": 4.0},
         "samples": {"a": 10, "b": 3}, "spent_wall": {"a": 12.0, "b": 14.0}, "sf": 1.0},
        {"metric": "m", "value": 5.5, "queries": {"a": 2.5, "b": 3.0},
         "samples": {"a": 10, "b": 3}, "spent_wall": {"a": 27.0, "b": 11.0}, "sf": 1.0},
    ]
    merged = _tool("sf_artifacts").merge_runs(runs)
    assert merged["queries"] == {"a": 1.0, "b": 3.0}
    assert merged["value"] == 4.0
    assert merged["samples"] == {"a": 20, "b": 6}
    assert merged["spent_wall"] == {"a": 39.0, "b": 25.0}
    assert merged["run_totals"] == [5.0, 5.5]
    assert runs[0]["queries"] == {"a": 1.0, "b": 4.0}  # the inputs are not merged in place
    assert merged["metric"] == "m" and merged["sf"] == 1.0
