"""Database persistence — parquet dir per class + JSON catalog.

The reference's storage layer is append-oriented cluster files plus a
persisted schema document (core:storage/impl/local/OStorageLocal.java,
core:metadata/schema/OSchema.java); the Spark-native equivalent (SURVEY
§7.1) is one parquet directory per class and a JSON catalog carrying what
parquet can't: class names, cluster ids, inheritance, property types,
link declarations, constraints, and index definitions.

``save_database`` materializes every class (collapsing any pending
copy-on-write DML lineage into real files — the 'commit' of the
single-writer model); ``open_database`` reconstructs a fully working
engine: scans, polymorphic unions, link joins, and FULLTEXT indexes
(rebuilt from the data, as the reference does on import).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from orientdb_spark.catalog import BACKING_VERSION_COL, OProperty
from orientdb_spark.otypes import OType

_CATALOG_FILE = "catalog.json"


def _prop_dict(p: OProperty) -> dict:
    return {
        "name": p.name,
        "otype": p.otype.name if p.otype is not None else None,
        "linked_class": p.linked_class,
        "linked_key": p.linked_key,
        "mandatory": p.mandatory,
        "not_null": p.not_null,
        "min": p.min,
        "max": p.max,
        "index_type": p.index_type,
    }


def _prop_from_dict(d: dict) -> OProperty:
    return OProperty(
        name=d["name"],
        otype=OType[d["otype"]] if d.get("otype") else None,
        linked_class=d.get("linked_class"),
        linked_key=d.get("linked_key"),
        mandatory=d.get("mandatory", False),
        not_null=d.get("not_null", False),
        min=d.get("min"),
        max=d.get("max"),
        index_type=d.get("index_type"),
    )


def save_database(engine, db_dir: str) -> None:
    """Write every class's rows to ``db_dir/<class>/`` parquet and the
    schema to ``db_dir/catalog.json``. RID positions are materialized to a
    hidden column so identities survive the roundtrip."""
    os.makedirs(db_dir, exist_ok=True)
    manifest: dict[str, dict] = {}
    for name in engine.catalog.class_names():
        cls = engine.catalog.get(name)
        entry = {
            "cluster_id": cls.cluster_id,
            "super_class": cls.super_class,
            "properties": [_prop_dict(p) for p in cls.properties.values()],
            "has_data": cls.df is not None,
        }
        if cls.df is not None:
            df = engine.catalog.dataframe(name, polymorphic=False, internal=True)
            if cls.rid_pos is not None and "__rid_pos" not in df.columns:
                df = df.withColumn("__rid_pos", cls.rid_pos(df).cast("long"))
            df.write.mode("overwrite").parquet(os.path.join(db_dir, name))
        manifest[name] = entry
    with open(os.path.join(db_dir, _CATALOG_FILE), "w") as fh:
        json.dump(manifest, fh, indent=2)


def open_database(engine, db_dir: str) -> None:
    """Register every saved class into ``engine`` from ``db_dir``:
    schema, inheritance, links, constraints; FULLTEXT indexes rebuild
    from the reloaded rows (the reference bulk-builds on import too)."""
    with open(os.path.join(db_dir, _CATALOG_FILE)) as fh:
        manifest = json.load(fh)
    fulltext: list[tuple[str, str]] = []
    for name, entry in manifest.items():
        props = [_prop_from_dict(d) for d in entry.get("properties", [])]
        kw = dict(
            super_class=entry.get("super_class"),
            cluster_id=entry.get("cluster_id"),
            properties=props,
        )
        if entry.get("has_data"):
            df = engine.spark.read.parquet(os.path.join(db_dir, name))
            if "__rid_pos" in df.columns:
                kw["rid_pos"] = lambda d: F.col("__rid_pos")
            engine.catalog.register_class(name, df=df, **kw)
        else:
            engine.catalog.register_class(name, **kw)
        for p in props:
            if p.index_type == "fulltext":
                fulltext.append((name, p.name))
    engine._plan_cache.clear()
    from orientdb_spark.fulltext import build_fulltext_index

    for cname, pname in fulltext:
        build_fulltext_index(engine, cname, pname)


def compact_table(
    spark,
    path: str,
    target_file_mb: int = 128,
) -> dict:
    """Small-files compaction: rewrite a parquet directory into
    ceil(bytes / target) files — the maintenance pass every
    append-heavy table needs (per-batch appends leave thousands of
    KB-sized files whose open/footer overhead dominates scans long
    before data volume does).

    Rewrites into a sibling temp dir first and swaps atomically-enough
    for the single-writer model this storage layer already assumes
    (save_database has the same discipline); the original directory is
    only removed after the rewrite succeeds. Returns
    {files_before, files_after, bytes}.

    ``coalesce`` (not repartition) merges files without a shuffle —
    compaction is IO-bound and must not pay an exchange; row order
    within merged files changes, which parquet tables don't promise
    anyway."""
    import math
    import shutil

    files = [
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    n_before = len(files)
    total_bytes = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    n_target = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    if n_target >= n_before:
        return {"files_before": n_before, "files_after": n_before, "bytes": total_bytes}

    tmp = path.rstrip("/") + ".__compact_tmp__"
    shutil.rmtree(tmp, ignore_errors=True)
    spark.read.parquet(path).coalesce(n_target).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".__compact_old__"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    n_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    return {"files_before": n_before, "files_after": n_after, "bytes": total_bytes}


def write_sorted(
    df,
    path: str,
    by: list[str],
    n_files: int | None = None,
) -> None:
    """Layout-optimized write: range-partition by ``by`` and sort within
    partitions before writing, so each parquet row group covers a tight,
    near-disjoint key range. Parquet stores per-row-group min/max stats;
    a filtered scan then skips every group whose range misses the
    predicate — the poor man's clustered index, and the layout that
    makes key-range queries cheap at 100 TB without any index structure.
    (Random layout gives every row group ~the full key range, so stats
    prune nothing.)"""
    w = df.repartitionByRange(*(([n_files] if n_files else []) + by)).sortWithinPartitions(*by)
    w.write.mode("overwrite").parquet(path)


def zorder_value(x, y, bits: int = 10):
    """Interleave the low ``bits`` of two non-negative integer bucket
    columns into a Morton (Z-order) value: bit b of x lands at position
    2b, bit b of y at 2b+1. Static shifts only — a Python loop over bit
    positions composing Column arithmetic, fully JVM-side."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for b in range(bits):
        z = (
            z
            + (x.bitwiseAND(1 << b) != 0).cast("long") * (1 << (2 * b))
            + (y.bitwiseAND(1 << b) != 0).cast("long") * (1 << (2 * b + 1))
        )
    return z


def write_zordered(
    df,
    path: str,
    cols: list[str],
    bits: int = 10,
    n_files: int | None = None,
) -> None:
    """Multi-dimensional clustered write: normalize TWO numeric columns
    onto a 2^bits grid (global min/max ride back as a broadcast one-row
    cross join) and range-partition + sort by the interleaved Morton
    value. Each parquet row group then covers a tight RECTANGLE of the
    (x, y) space, so min/max stats prune 2-D box predicates — the layout
    single-column sorting cannot give: sorting by x leaves every row
    group spanning the full y domain. The Delta/Iceberg OPTIMIZE ZORDER
    primitive, as a plain write strategy."""
    from pyspark.sql import functions as F

    if len(cols) != 2:
        raise ValueError(f"zorder write takes exactly 2 columns, got {cols}")
    cx, cy = (F.col(c).cast("double") for c in cols)
    stats = df.agg(
        F.min(cx).alias("__x0"),
        F.max(cx).alias("__x1"),
        F.min(cy).alias("__y0"),
        F.max(cy).alias("__y1"),
    )
    grid = (1 << bits) - 1

    def _bucket(c, lo, hi):
        span = F.col(hi) - F.col(lo)
        raw = F.floor((c - F.col(lo)) / span * (grid + 1))
        return (
            F.when(span == 0, F.lit(0))
            .otherwise(F.least(raw, F.lit(grid)))
            .cast("long")
        )

    zed = (
        df.join(F.broadcast(stats))
        .withColumn(
            "__z",
            zorder_value(_bucket(cx, "__x0", "__x1"), _bucket(cy, "__y0", "__y1"), bits),
        )
        .drop("__x0", "__x1", "__y0", "__y1")
    )
    # partition on the ALIGNED top bits of z (quadtree tiles), not raw
    # z-quantiles: sampled range boundaries land mid-tile, and a range
    # crossing a high-order bit flip spans a huge bounding rectangle —
    # aligned tiles keep every file's min/max box tile-sized
    if n_files:
        tile_bits = max((n_files - 1).bit_length(), 1)
        zed = zed.withColumn(
            "__tile", F.shiftright("__z", 2 * bits - tile_bits)
        )
        out = (
            zed.repartitionByRange(n_files, "__tile")
            .sortWithinPartitions("__z")
            .drop("__z", "__tile")
        )
    else:
        out = zed.repartitionByRange("__z").sortWithinPartitions("__z").drop("__z")
    out.write.mode("overwrite").parquet(path)


def merge_upsert(target, source, key: str):
    """MERGE/upsert between snapshots (the warehouse CDC-apply
    primitive): source rows REPLACE same-key target rows, new source
    keys append, untouched target rows survive. Equivalent to
    ``MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *``.

    One left-anti join (target side) + a narrow union — the source is
    usually the small CDC batch, so the anti join broadcasts it and the
    whole merge costs one pass over the target. Schemas must match;
    a duplicate-key source would fan out, so dedupe upstream."""
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"merge_upsert schema mismatch: {sorted(target.columns)} vs "
            f"{sorted(source.columns)}"
        )
    survivors = target.join(source.select(key), key, "left_anti")
    return survivors.unionByName(source)


def snapshot_diff(old, new, key: str, compare_cols: list[str] | None = None):
    """Change-data extraction between two snapshots of a keyed table:
    classify every key as ``insert`` (new only), ``delete`` (old only),
    or ``update`` (present in both with any compared column changed) —
    the inverse of ``merge_upsert``, producing the CDC batch that
    replays one snapshot into the other. Unchanged rows are omitted.

    ONE full outer join on the key; change detection compares the
    column structs null-safely (``<=>``) so NULL-to-value and
    value-to-NULL edits register as updates. Returns
    ``(key, change, <new-side columns named as-is, null for deletes>)``
    — apply inserts+updates via merge_upsert and deletes via anti join
    to reconstruct ``new`` from ``old``.
    """
    cols = compare_cols or [c for c in new.columns if c != key]
    missing = [c for c in cols if c not in old.columns or c not in new.columns]
    if missing:
        raise ValueError(f"compare columns absent from a side: {missing}")
    o = old.select(
        F.col(key).alias("__ko"), F.struct(*cols).alias("__vo")
    )
    n = new.select(
        F.col(key).alias("__kn"), F.struct(*cols).alias("__vn")
    )
    j = o.join(n, F.col("__ko") == F.col("__kn"), "full_outer")
    change = (
        F.when(F.col("__ko").isNull(), F.lit("insert"))
        .when(F.col("__kn").isNull(), F.lit("delete"))
        .when(~F.col("__vo").eqNullSafe(F.col("__vn")), F.lit("update"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            F.coalesce(F.col("__kn"), F.col("__ko")).alias(key),
            "change",
            *[F.col("__vn").getField(c).alias(c) for c in cols],
        )
    )
