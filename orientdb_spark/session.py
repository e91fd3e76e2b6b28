"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench environment (local[N], single JVM)
while the config choices — AQE, adaptive coalescing, Arrow — are the ones
that matter on a real multi-executor cluster at 100 TB:

- AQE re-plans joins at runtime (broadcast conversion, skew-join splitting),
  which is our substitute for the reference's rule-based index-vs-scan
  choice (core:sql/OCommandExecutorSQLSelect.java:372-429).
- shuffle.partitions sized to cores locally; on a cluster AQE coalesces, so
  a high static number is safe.
- Arrow on: every Pandas UDF in the pipeline ops batch-transfers.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(app_name: str = "orientdb_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(os.cpu_count() or 4, 32)
    # a heap cap above the host's memory lets the driver JVM grow until the
    # kernel's OOM killer ends it: default to half the host's memory, <= 48g
    host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(48, max(1, host_gb // 2))}g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the reference's implicit comparison coercion is lenient — a failed
        # string→number/date parse just doesn't match
        # (core:sql/filter/OSQLFilterCondition.java:73-103); ANSI-off gives
        # the same null-on-malformed-cast semantics
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """The one constructor for driver-held ``rows`` (tuples in ``schema``
    order; ``schema`` a StructType or DDL string — no type is inferred).
    One Arrow table plans a LocalRelation: no Spark job, no Python worker
    (a list of rows would plan a LogicalRDD over pickled rows). A value
    that does not fit its column's type raises a TypeError naming both."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = [dict(zip(arrow.names, r)) for r in rows]
    columns = []
    for field, afield in zip(schema.fields, arrow):
        try:
            columns.append(pa.array([r.get(field.name) for r in rows], type=afield.type))
        except pa.ArrowException as e:
            raise TypeError(
                f"local_frame: column {field.name!r} is declared "
                f"{field.dataType.simpleString()}: {e}"
            ) from e
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), schema)


def release(*dfs: DataFrame) -> None:
    """Free the blocks each frame holds. A localCheckpoint (eager or
    lazy) plans a LogicalRDD over its own persisted RDD, which
    ``DataFrame.unpersist()`` leaves in place (checkpoint blocks bypass
    the CacheManager), so that RDD is unpersisted; any other frame goes
    through ``DataFrame.unpersist()``. Release a checkpoint only once
    nothing live reads it: a later read fails loudly with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, never with wrong rows."""
    for df in dfs:
        plan = df._jdf.logicalPlan()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
        else:
            df.unpersist()
