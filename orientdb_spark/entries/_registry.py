"""The entry registry: each entry is declared once, in its family module,
with its builder, its DuckDB oracle (or the reason it has none) and its
tags. ``@register`` declares a builder function; ``dsl`` declares an
entry that is one engine-dialect statement.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

# headline: a bench.py row; noisy: a headline row that keeps a 3-sample
# floor; smoke: in the default oracle mirror of tests/test_entry.py;
# sf_scale: in the sf1/sf5/sf10 artifact sweep of tools/sf_artifacts.py
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
