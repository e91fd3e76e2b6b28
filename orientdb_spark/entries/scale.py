"""Scale-out primitives: sketches (HLL, count-min, Bloom), salting,
quantile sketches, layout audits, storage merge/diff and
incremental rollups.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from orientdb_spark.entries._registry import _engine, register
from orientdb_spark.entries._shared import _dk_h60


@register("hll_distinct_merge", tags=("sf_scale",), oracle=(
    # agreement-gate shape: the Spark side emits hll_within_bound
    # = |HLL estimate - exact| <= 3sigma analytic envelope; TRUE
    # literals here mean a hash match PROVES the sketches held
    "SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS exact_distinct, "
    "TRUE AS hll_within_bound FROM lineitem GROUP BY l_returnflag "
    "UNION ALL SELECT '__total__', count(DISTINCT l_partkey)::BIGINT, TRUE "
    "FROM lineitem"
))
def _hll_distinct_merge(spark, sf_dir):
    """Mergeable-sketch distinct counts, ORACLE-GATED (r8 upgrade from
    rows-only): scale.mergeable_distinct_audit emits per-flag exact
    distincts plus ``hll_within_bound`` = |HLL − exact| ≤ 3σ·1.04/√2^lgk
    (the analytic HLL error bound), with the TOTAL row still produced by
    unioning the per-group sketch bytes — the oracle's TRUE literals
    make a hash match PROVE the estimates sat inside the envelope.
    The raw-estimate form (mergeable_distinct) keeps its
    merge-equals-direct gate in tests/test_scale.py."""
    from orientdb_spark.scale import mergeable_distinct_audit

    li = _engine(spark, sf_dir).table("lineitem")
    return mergeable_distinct_audit(li, "l_partkey", ["l_returnflag"])


@register("salted_skew_aggregate", oracle=(
    "SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty, "
    "count(l_orderkey)::BIGINT AS n_items, "
    "round(min(l_extendedprice), 2) AS min_price, "
    "round(max(l_extendedprice), 2) AS max_price "
    "FROM lineitem GROUP BY l_returnflag"
))
def _salted_skew_aggregate(spark, sf_dir):
    """Two-phase salted aggregation (scale.salted_aggregate) over a
    genuinely skewed grouping — lineitem has only 3 return-flag groups,
    so a direct groupBy lands each on one reducer. The salt spreads each
    hot key over 32 partial reducers; the oracle is the plain GROUP BY,
    proving the partial/merge decomposition is lossless."""
    from orientdb_spark.scale import salted_aggregate

    li = _engine(spark, sf_dir).table("lineitem")
    out = salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs={
            "sum_qty": ("l_quantity", "sum"),
            "n_items": ("l_orderkey", "count"),
            "min_price": ("l_extendedprice", "min"),
            "max_price": ("l_extendedprice", "max"),
        },
    )
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 2).alias("sum_qty"),
        "n_items",
        F.round("min_price", 2).alias("min_price"),
        F.round("max_price", 2).alias("max_price"),
    )


@register("bloom_prefilter_join", oracle=(
    # the PLAIN join: equality proves the Bloom pre-filter is a
    # pure semi-join reduction (no false negatives, re-checked
    # false positives)
    "SELECT l_returnflag, count(*)::BIGINT AS n_items, "
    "round(sum(l_extendedprice), 2) AS sum_price "
    "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
    "WHERE s_nationkey = 3 GROUP BY l_returnflag"
))
def _bloom_prefilter_join(spark, sf_dir):
    """Semi-join reduction via an explicit Bloom pre-filter
    (scale.bloom_prefilter_join): lineitem rows whose suppkey can't be
    in the nation-3 supplier subset are dropped BEFORE the join shuffle.
    The oracle is the PLAIN join — equality proves the bitmap admits no
    false negatives and the join re-check absorbs its false positives.
    m_bits=1<<16 keeps the bitmap at 8 KiB driver state."""
    from orientdb_spark.scale import bloom_prefilter_join

    eng = _engine(spark, sf_dir)
    dim = eng.table("supplier").filter(F.col("s_nationkey") == 3)
    out = bloom_prefilter_join(
        eng.table("lineitem"), dim, "l_suppkey", "s_suppkey", m_bits=1 << 16, k=5
    )
    return out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@register("cms_event_type_counts", oracle=(
    # exact truth: collision-free sketch => estimate == count
    "SELECT event_type, count(*)::BIGINT AS est_count "
    "FROM events GROUP BY event_type"
))
def _cms_event_type_counts(spark, sf_dir):
    """Count-min-sketch frequency estimates (scale.cms_build/estimate)
    for the event-type keys. The oracle is the EXACT group-by count:
    with 3 distinct keys x depth 5 in a width-2048 sketch, the 15
    occupied cells cannot collide (fixed xxhash64 positions, verified by
    the never-underestimate gate in tests/test_scale.py), so the CMS
    estimate equals truth at every SF — proving the sketch arithmetic,
    not just running it. The general error bound (est <= true + eps*N)
    is pytest-gated on a zipf fixture."""
    from orientdb_spark.scale import cms_build, cms_estimate

    ev = _engine(spark, sf_dir).table("events")
    sk = cms_build(ev, "event_type", width=2048, depth=5)
    keys = ev.select("event_type").distinct()
    return cms_estimate(sk, keys, "event_type", width=2048, depth=5)


@register("cms_join_size_estimate", oracle=(
    "SELECT count(*)::BIGINT AS est_join_size FROM events a "
    "JOIN (SELECT event_type FROM events WHERE value > 100) b "
    "ON a.event_type = b.event_type"
))
def _cms_join_size_estimate(spark, sf_dir):
    """Sketch-only join-cardinality estimation (scale.cms_join_size):
    the AMS/CMS inner product of two event-type sketches — all events
    vs the value>100 slice — sizes the equi-join without touching
    either input again. Same collision-free-key argument as
    cms_event_type_counts, so the estimate EQUALS the oracle's exact
    join count; the general never-underestimate + eps*|A|*|B| bound is
    pytest-gated."""
    from orientdb_spark.scale import cms_build, cms_join_size

    ev = _engine(spark, sf_dir).table("events")
    a = cms_build(ev, "event_type", width=2048, depth=5)
    b = cms_build(
        ev.filter(F.col("value") > 100), "event_type", width=2048, depth=5
    )
    return cms_join_size(a, b, depth=5)


@register("scale_quantile_sketch", oracle=(
    "WITH r AS (SELECT event_type, value, "
    "row_number() OVER (PARTITION BY event_type ORDER BY "
    "(('0x' || substring(md5('42:' || event_id), 1, 15))::UBIGINT::BIGINT), event_id) "
    "AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM events) "
    "SELECT event_type, max(n)::BIGINT AS n_rows, "
    "round(quantile_cont(value, 0.5) FILTER (rn <= 128), 6) AS p50_est, "
    "round(quantile_cont(value, 0.95) FILTER (rn <= 128), 6) AS p95_est "
    "FROM r GROUP BY event_type"
))
def _scale_quantile_sketch(spark, sf_dir):
    """Mergeable bottom-k quantile sketch (scale.quantile_sketch_*):
    per event type, the deterministic 128-sample sketch built shard-wise
    (even/odd event ids) and MERGED — the merge identity makes shard
    order irrelevant — then p50/p95 interpolated over the sample. The
    oracle reproduces the identical sample membership from the md5
    ranks, so the estimates hash-match exactly."""
    from orientdb_spark.scale import (
        quantile_sketch_build,
        quantile_sketch_estimate,
        quantile_sketch_merge,
    )

    ev = _engine(spark, sf_dir).table("events")
    a = quantile_sketch_build(
        ev.filter(F.col("event_id") % 2 == 0), "value", "event_id",
        ["event_type"], b=128,
    )
    b = quantile_sketch_build(
        ev.filter(F.col("event_id") % 2 == 1), "value", "event_id",
        ["event_type"], b=128,
    )
    est = quantile_sketch_estimate(quantile_sketch_merge(a, b, b=128), [0.5, 0.95])
    return est.select(
        "event_type",
        "n_rows",
        F.round("q_0_5", 6).alias("p50_est"),
        F.round("q_0_95", 6).alias("p95_est"),
    )


@register("scale_skew_report", oracle=(
    """(WITH c1 AS (SELECT l_returnflag::VARCHAR AS v, count(*)::BIGINT AS n FROM lineitem GROUP BY 1) SELECT 'l_returnflag' AS "column", sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_distinct, (SELECT min(v) FROM c1 WHERE n = (SELECT max(n) FROM c1)) AS top1_value, max(n)::BIGINT AS top1_count, round(max(n)::DOUBLE / sum(n), 6) AS top1_share FROM c1) UNION ALL (WITH c1 AS (SELECT l_suppkey::VARCHAR AS v, count(*)::BIGINT AS n FROM lineitem GROUP BY 1) SELECT 'l_suppkey' AS "column", sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_distinct, (SELECT min(v) FROM c1 WHERE n = (SELECT max(n) FROM c1)) AS top1_value, max(n)::BIGINT AS top1_count, round(max(n)::DOUBLE / sum(n), 6) AS top1_share FROM c1) UNION ALL (WITH c1 AS (SELECT l_partkey::VARCHAR AS v, count(*)::BIGINT AS n FROM lineitem GROUP BY 1) SELECT 'l_partkey' AS "column", sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_distinct, (SELECT min(v) FROM c1 WHERE n = (SELECT max(n) FROM c1)) AS top1_value, max(n)::BIGINT AS top1_count, round(max(n)::DOUBLE / sum(n), 6) AS top1_share FROM c1)"""
))
def _scale_skew_report(spark, sf_dir):
    """Join/agg key skew diagnostics (scale.key_skew_report): row count,
    distinct keys, and the hottest key's share per candidate column —
    the salting/broadcast decision input. One stacked explode + three
    tiny aggregates over the distinct-values-sized count table."""
    from orientdb_spark.scale import key_skew_report

    li = _engine(spark, sf_dir).table("lineitem")
    out = key_skew_report(li, ["l_returnflag", "l_suppkey", "l_partkey"])
    return out.select(
        "column",
        "n_rows",
        "n_distinct",
        "top1_value",
        "top1_count",
        F.round("top1_share", 6).alias("top1_share"),
    )


@register("storage_merge_upsert", oracle=(
    "WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders), "
    "s AS (SELECT o_orderkey, 'U' AS o_orderstatus, "
    "o_totalprice + 100.0 AS o_totalprice FROM orders "
    "WHERE o_orderkey % 10 = 0 "
    "UNION ALL SELECT o_orderkey + 1000000000, 'N', 1.0 FROM orders "
    "WHERE o_orderkey % 7 = 0) "
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice "
    "FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s) "
    "UNION ALL SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) FROM s"
))
def _storage_merge_upsert(spark, sf_dir):
    """CDC MERGE/upsert (storage.merge_upsert): every 10th order is
    updated (status 'U', price +100), every 7th key reappears shifted as
    a brand-new insert, the rest survive untouched — one anti join plus
    a union, the small batch broadcast. The oracle applies the same
    batch with NOT IN + UNION ALL. The update adds a constant rather
    than scaling: x*1.1 manufactures exact .005 midpoints where Spark's
    BigDecimal HALF_UP and DuckDB's away-from-zero disagree."""
    from orientdb_spark.storage import merge_upsert

    target = _engine(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = target.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
    )
    inserts = target.filter(F.col("o_orderkey") % 7 == 0).select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    out = merge_upsert(target, updates.unionByName(inserts), "o_orderkey")
    return out.select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@register("storage_snapshot_diff", oracle=(
    "WITH old AS (SELECT o_orderkey AS k, o_orderstatus AS st, "
    "o_totalprice AS tp FROM orders) "
    "SELECT k AS o_orderkey, 'delete' AS change, "
    "NULL::VARCHAR AS o_orderstatus, NULL::DOUBLE AS o_totalprice "
    "FROM old WHERE k % 13 = 0 "
    "UNION ALL SELECT k, 'update', 'U', round(tp + 100.0, 2) "
    "FROM old WHERE k % 13 <> 0 AND k % 10 = 0 "
    "UNION ALL SELECT k + 1000000000, 'insert', 'N', 1.0 "
    "FROM old WHERE k % 7 = 0"
))
def _storage_snapshot_diff(spark, sf_dir):
    """CDC extraction between snapshots (storage.snapshot_diff, the
    merge_upsert inverse): the new snapshot drops every 13th order,
    updates every 10th survivor (status 'U', price +100 — constant add,
    see the merge_upsert midpoint note), and adds shifted inserts for
    every 7th key. One full outer join with null-safe struct compare;
    unchanged rows are omitted. The oracle classifies by the same key
    arithmetic, never by float comparison."""
    from orientdb_spark.storage import snapshot_diff

    old = _engine(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = F.col("o_orderkey") % 10 == 0
    new = (
        old.filter(F.col("o_orderkey") % 13 != 0)
        .select(
            "o_orderkey",
            F.when(upd, "U").otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
            F.when(upd, F.col("o_totalprice") + 100.0)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 7 == 0).select(
                (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    out = snapshot_diff(old, new, "o_orderkey")
    return out.select(
        "o_orderkey",
        "change",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


def _zorder_oracle_sql(bits: int = 8, shift: int = 11) -> str:
    """Z-order replay (scale.zorder_key over events(user_id, value)):
    min-max grid + bit interleave, identical left-assoc double
    arithmetic and integer shifts."""
    g = float((1 << bits) - 1)
    interleave = " | ".join(
        f"(((c{i} >> {b}) & 1) << {2 * b + i})"
        for b in range(bits)
        for i in range(2)
    )
    return (
        "WITH s AS (SELECT min(user_id::DOUBLE) AS mn0, "
        "max(user_id::DOUBLE) AS mx0, min(value) AS mn1, "
        "max(value) AS mx1 FROM events), "
        "g AS (SELECT event_id, "
        "coalesce(CASE WHEN mx0 - mn0 > 0 THEN "
        f"floor((user_id::DOUBLE - mn0) / (mx0 - mn0) * {g!r}) "
        "ELSE 0 END, 0)::BIGINT AS c0, "
        "coalesce(CASE WHEN mx1 - mn1 > 0 THEN "
        f"floor((value - mn1) / (mx1 - mn1) * {g!r}) "
        "ELSE 0 END, 0)::BIGINT AS c1 FROM events, s) "
        f"SELECT event_id, zkey, (zkey >> {shift})::BIGINT AS bucket FROM ("
        f"SELECT event_id, ({interleave})::BIGINT AS zkey FROM g)"
    )


@register("scale_zorder_layout", tags=("sf_scale",), oracle=_zorder_oracle_sql(bits=8, shift=11))
def _scale_zorder_layout(spark, sf_dir):
    """Z-order layout key (scale.zorder_key, Morton 1966 / the Delta
    OPTIMIZE ZORDER practice): events gridded on (user_id, value) to an
    8-bit-per-dim interleaved key + the 32-way range bucket a writer
    would repartitionByRange on. Pure floor/shift/or Column arithmetic
    — the oracle replays the identical min-max normalization and bit
    interleave."""
    from orientdb_spark import scale

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = scale.zorder_key(ev, ["user_id", "value"], bits_per_dim=8)
    return out.select(
        "event_id", "zkey", F.shiftright(F.col("zkey"), 11).cast("long").alias("bucket")
    )


@register("scale_zone_map_audit", tags=("sf_scale",), oracle=(
    # zorder replay joined back for user_id, one GROUP BY to
    # per-bucket zone maps, the identical native-integer skip
    # decision for BETWEEN 2 AND 5
    "WITH z AS MATERIALIZED ("
    + _zorder_oracle_sql(bits=8, shift=11)
    + "), j AS (SELECT z.bucket, e.user_id FROM z "
    "JOIN events e USING (event_id)), "
    "m AS (SELECT bucket AS file_id, count(*)::BIGINT AS n_rows, "
    "count(user_id)::BIGINT AS n_nonnull, min(user_id) AS min_value, "
    "max(user_id) AS max_value FROM j GROUP BY 1) "
    "SELECT file_id, n_rows, n_nonnull, min_value, max_value, "
    "(n_nonnull = 0 OR min_value > 5 OR max_value < 2) AS can_skip "
    "FROM m"
))
def _scale_zone_map_audit(spark, sf_dir):
    """Zone-map data-skipping audit (scale.zone_map_audit) of the
    PROSPECTIVE z-order layout: events gridded by zorder_key(user_id,
    value), 32-way bucket as the file id, then per-file min/max of
    user_id and the skip decision for ``user_id BETWEEN 2 AND 5`` —
    the measurement that says whether the layout prunes before you pay
    to write it. One map-side groupBy over the zero-shuffle zkey
    projection; all-integer decisions. Oracle: the zorder replay
    joined back to events + one GROUP BY."""
    from orientdb_spark import scale

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    z = scale.zorder_key(ev, ["user_id", "value"], bits_per_dim=8)
    buckets = z.select(
        "user_id",
        F.shiftright(F.col("zkey"), 11).cast("long").alias("bucket"),
    )
    return scale.zone_map_audit(
        buckets, "bucket", "user_id", pred_lo=2, pred_hi=5
    )


@register("scale_compaction_plan", tags=("sf_scale",), oracle=(
    # replays the (event_type, day) manifest, the h60 sizes,
    # the next-fit-decreasing prefix-sum pack window (order
    # unique on (size desc, file_id) so RANGE==ROWS on both
    # engines), the per-bin totals, and the keep degradations
    "WITH mf AS (SELECT DISTINCT event_type, "
    "strftime(ts, '%Y-%m-%d') AS file_id FROM events), "
    "sz AS (SELECT event_type, file_id, (("
    + _dk_h60("event_type || ':' || file_id")
    + " % 200000) + 1000)::BIGINT AS size_bytes FROM mf), "
    "sm AS (SELECT event_type, file_id, size_bytes, "
    "floor((sum(size_bytes) OVER (PARTITION BY event_type "
    "ORDER BY size_bytes DESC, file_id) - size_bytes) "
    "/ 150000.0)::BIGINT AS bin_id "
    "FROM sz WHERE size_bytes < 150000), "
    "b AS (SELECT *, count(*) OVER ("
    "PARTITION BY event_type, bin_id)::BIGINT AS n_bin_files, "
    "sum(size_bytes) OVER ("
    "PARTITION BY event_type, bin_id)::BIGINT AS bin_bytes FROM sm) "
    "SELECT event_type, file_id, size_bytes, bin_id, n_bin_files, "
    "bin_bytes, CASE WHEN n_bin_files > 1 THEN 'compact' "
    "ELSE 'keep' END AS action FROM b "
    "UNION ALL SELECT event_type, file_id, size_bytes, "
    "(-1)::BIGINT, 1::BIGINT, size_bytes, 'keep' "
    "FROM sz WHERE size_bytes >= 150000"
))
def _scale_compaction_plan(spark, sf_dir):
    """Small-file compaction planner (scale.compaction_plan — the
    Delta/Iceberg OPTIMIZE bin-packing pass) over a deterministic file
    manifest: one "file" per (event_type, day) with an h60-derived
    size in [1000, 201000), target 150 KB, partitioned by event_type.
    Oversized files keep, next-fit-decreasing prefix-sum bins for the
    rest, single-file bins degrade to keep. All-integer arithmetic —
    the oracle replays manifest, sizes, and both windows exactly."""
    from orientdb_spark import scale
    from orientdb_spark.pipeline.common import h60

    ev = _engine(spark, sf_dir).table("events")
    manifest = (
        ev.select(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("file_id")
        )
        .distinct()
        .select(
            "event_type",
            "file_id",
            (
                F.pmod(
                    h60(F.concat(F.col("event_type"), F.lit(":"), F.col("file_id"))),
                    F.lit(200000),
                )
                + 1000
            )
            .cast("long")
            .alias("size_bytes"),
        )
    )
    return scale.compaction_plan(
        manifest, target_bytes=150000, partition_cols=["event_type"]
    )


@register("rollup_incremental_refresh", tags=("sf_scale",), oracle=(
    # the FULL recompute — hash equality against the Spark
    # side's base+delta merge proves the maintenance identity
    "SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, "
    "count(*)::BIGINT AS n_events, "
    "round(sum(value) + 1e-12, 6) AS sum_value "
    "FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')"
))
def _rollup_incremental_refresh(spark, sf_dir):
    """Incremental materialized-view refresh
    (scale.merge_additive_rollup): the per-(event_type, day) cube is
    maintained from an 80/20 arrival split — aggregate ONLY the delta,
    full-outer coalesce-add into the standing cube — and the oracle is
    the FULL recompute over all events, so the hash check IS the
    maintenance identity merge(agg(base), agg(delta)) == agg(all)."""
    from orientdb_spark import scale

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.filter(F.col("event_id") % 10 < 8)
    delta = ev.filter(F.col("event_id") % 10 >= 8)

    def agg(d):
        return d.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )

    merged = scale.merge_additive_rollup(
        agg(base), agg(delta), ["event_type", "day"], ["n_events", "sum_value"]
    )
    return merged.select(
        "event_type",
        "day",
        "n_events",
        F.round(F.col("sum_value") + F.lit(1e-12), 6).alias("sum_value"),
    )
