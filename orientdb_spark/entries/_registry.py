"""The entry registry: each entry is declared once, in its family module,
with its builder, its DuckDB oracle (or the reason it has none) and its
tags. ``@register`` declares a builder function; ``dsl`` declares an
entry that is one engine-dialect statement. ``oracle_db`` and ``compare``
are the one check of a frame against its oracle, shared by the tests
and the tools.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

# headline: a bench.py row; noisy: a headline row that keeps a 3-sample
# floor; smoke: in the default oracle mirror of tests/test_entry.py;
# sf_scale: in the sf1/sf5/sf10 sweep (tools/check_entries.py --tag sf_scale)
TAGS = frozenset({"headline", "noisy", "smoke", "sf_scale"})


@dataclass(frozen=True)
class Entry:
    build: Builder
    oracle: str | None  # DuckDB SQL over the same parquet files
    rows_only: str | None  # why no oracle exists; the driver checks rows only
    tags: frozenset[str]


REGISTRY: dict[str, Entry] = {}


def register(name: str, *, oracle: str | None = None, rows_only: str | None = None,
             tags: tuple[str, ...] = ()) -> Callable[[Builder], Builder]:
    """Declare the decorated builder as entry ``name``; give exactly one
    of ``oracle`` and ``rows_only``."""

    def add(build: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"entry {name!r} is declared twice")
        if (oracle is None) == (rows_only is None):
            raise ValueError(f"entry {name!r} needs exactly one of oracle= and rows_only=")
        if not TAGS.issuperset(tags):
            raise ValueError(f"entry {name!r} has unknown tags {sorted(set(tags) - TAGS)}")
        REGISTRY[name] = Entry(build, oracle, rows_only, frozenset(tags))
        return build

    return add


def dsl(name: str, sql: str, **declared) -> None:
    """Declare entry ``name`` as the engine-dialect statement ``sql``."""
    register(name, **declared)(_dsl(sql))


def tagged(tag: str) -> list[str]:
    """The names of the entries carrying ``tag``, in declaration order."""
    if tag not in TAGS:
        raise ValueError(f"unknown tag {tag!r}")
    return [name for name, e in REGISTRY.items() if tag in e.tags]


# --- the oracle check ---------------------------------------------------------


def oracle_db(sf_dir: str):
    """A DuckDB connection with one view per testdata table in ``sf_dir``."""
    import duckdb

    from orientdb_spark.engine import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def compare(df: DataFrame, con, sql: str, ordered: bool = False) -> dict:
    """Check ``df`` against the oracle ``sql`` on ``con``, as the driver
    does: columns match by name, floats round to 6 dp, rows compare as a
    multiset (in order if ``ordered``), and two values agree when their
    strings do or, for two floats, within 1e-6. Returns the driver-shaped
    record; ``err`` names the first disagreement. Spark and DuckDB errors
    propagate."""
    cols = sorted(df.columns)
    got = [tuple(_round6(r[c]) for c in cols) for r in df.collect()]
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    rows = res.fetchall()
    rec = {"rows_match": False, "schema_match": False, "hash_match": False,
           "spark_rows": len(got), "oracle_rows": len(rows), "err": None}
    if sorted(ocols) != cols:
        rec["err"] = f"columns {ocols} vs {df.columns}"
        return rec
    rec["schema_match"] = True
    if len(got) != len(rows):
        rec["err"] = f"rows {len(got)} vs {len(rows)}"
        return rec
    rec["rows_match"] = True
    idx = [ocols.index(c) for c in cols]
    want = [tuple(_round6(row[i]) for i in idx) for row in rows]
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    for i, (g, w) in enumerate(zip(got, want)):
        if not _row_close(g, w):
            rec["err"] = f"first mismatch at {i}: {g} != {w}"
            return rec
    rec["hash_match"] = True
    return rec


def _round6(v):
    return round(v, 6) if isinstance(v, float) else v


def _row_close(a: tuple, b: tuple) -> bool:
    return all(
        str(x) == str(y)
        or (isinstance(x, float) and isinstance(y, float)
            and math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-6))
        for x, y in zip(a, b)
    )


# --- engine plumbing ---------------------------------------------------------

# one Engine per (session, data directory); perfbench puts its own Engine
# here (through __spark_entry__._ENGINES, this very dict) before timing
_ENGINES: dict = {}


def _engine(spark: SparkSession, sf_dir: str):
    from orientdb_spark import Engine

    key = (id(spark), os.path.normpath(sf_dir))
    if key not in _ENGINES:
        eng = Engine(spark)
        eng.register_parquet_dir(sf_dir)
        _ENGINES[key] = eng
    return _ENGINES[key]


def _fresh_engine(spark: SparkSession, sf_dir: str):
    """Isolated engine for queries that mutate catalog state (DML/DDL)."""
    from orientdb_spark import Engine

    eng = Engine(spark)
    eng.register_parquet_dir(sf_dir)
    return eng


def _dsl(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    return lambda spark, sf_dir: _engine(spark, sf_dir).sql(sql)
