"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps one entry per implemented operator from SURVEY.md §2
(plus the training-data pipeline operators) to a callable
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB-
runnable ANSI equivalent. An entry without an oracle names the reason
(``rows_only``); the driver records the weaker rows-only check for it.

Each entry is declared once, with its builder, oracle and tags, in a
family module of ``orientdb_spark/entries/``. Engine-dialect queries
run through the orientdb_spark parser/compiler — they exercise the whole
stack, not hand-built DataFrames.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from orientdb_spark.entries import REGISTRY
# _ENGINES is the very dict the builders' _engine() reads: perfbench hands
# the registry its own Engine through it
from orientdb_spark.entries._registry import _ENGINES, _engine  # noqa: F401
from orientdb_spark.entries.sql import _Q1

# the committed driver records: CORRECTNESS_r<NN>.json next to this file
# (not the builder sweeps, CORRECTNESS_r13_sweep.json, nor the sf
# artifacts)
_RECORD = re.compile(r"CORRECTNESS_r(\d+)\.json")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _engine(spark, "/root/testdata/sf0.001").sql(_Q1)


def newest_rounds() -> dict[str, int]:
    """Each driver-recorded entry's newest round."""
    here = os.path.dirname(os.path.abspath(__file__))
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = _RECORD.fullmatch(os.path.basename(path))
        if m:
            with open(path) as f:
                for name in json.load(f):
                    newest[name] = max(newest.get(name, 0), int(m.group(1)))
    return newest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver records the first 50 keys, so they are the entries it
    has never recorded, then those whose newest record is oldest;
    declaration order breaks ties."""
    newest = newest_rounds()
    order = sorted(REGISTRY, key=lambda name: newest.get(name, 0))
    return {name: REGISTRY[name].build for name in order}


def oracle_sql() -> dict[str, str]:
    return {name: e.oracle for name, e in REGISTRY.items() if e.oracle is not None}
