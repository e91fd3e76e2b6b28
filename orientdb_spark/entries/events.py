"""Event-stream operators: windows, sessions, temporal joins, rolling
and time-weighted aggregates, anomaly and change-point detection,
funnels, attribution and the stream/batch-agnostic stateful family.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from orientdb_spark.entries._registry import _engine, register


@register("event_silence_audit", oracle=(
    "WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events), "
    "pk AS (SELECT user_id, max(epoch_us(ts)) AS lu FROM events "
    "GROUP BY user_id) "
    "SELECT user_id, "
    "date_trunc('second', make_timestamp(lu)) AS last_seen, "
    "date_trunc('second', make_timestamp(lu + 43200000000)) AS deadline "
    "FROM pk, mx WHERE mx.m - pk.lu > 43200000000"
))
def _event_silence_audit(spark, sf_dir):
    """Currently-silent keys (streaming.silence_alerts_stream's batch
    fallback): users whose last event trails the corpus's newest event
    by more than 12 hours — the dead-feed audit; the streaming twin fires
    the same alerts from event-time state timeouts (pytest-gated)."""
    from orientdb_spark.streaming import silence_alerts_stream

    ev = _engine(spark, sf_dir).table("events")
    out = silence_alerts_stream(ev, on=("user_id",), silence="12 hours")
    return out.select(
        "user_id",
        F.date_trunc("second", F.col("last_seen")).alias("last_seen"),
        F.date_trunc("second", F.col("deadline")).alias("deadline"),
    )


@register("event_heavy_hitters_stream", tags=("sf_scale",), oracle=(
    # exactness-regime replay: space-saving with capacity >>
    # distinct IS the exact count table (err 0), so the summary
    # reduces to GROUP BY + per-group rank with item tiebreaks
    "WITH c AS (SELECT event_type, user_id, count(*)::BIGINT AS n "
    "FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2) "
    "SELECT event_type, user_id AS item, n AS est_count, "
    "0::BIGINT AS max_err, rank::INTEGER AS rank FROM ("
    "SELECT *, row_number() OVER (PARTITION BY event_type "
    "ORDER BY n DESC, user_id) AS rank FROM c) WHERE rank <= 10"
))
def _event_heavy_hitters_stream(spark, sf_dir):
    """Space-saving heavy hitters (streaming.heavy_hitters_stream,
    Metwally et al. 2005) — batch path of the bounded-state stateful
    operator: top-10 users per event_type. Run in the exactness regime
    (capacity >> distinct users, vectorized value_counts fast path) so
    the SQL oracle replays it as exact counts + rank; the capped
    eviction arithmetic is pytest-pinned, stream==batch pinned in the
    streaming suite."""
    from orientdb_spark.streaming import heavy_hitters_stream

    ev = _engine(spark, sf_dir).table("events")
    return heavy_hitters_stream(
        ev, group_cols=("event_type",), item_col="user_id",
        capacity=10_000_000, top_k=10,
    )


@register("event_interarrival_stats", oracle=(
    "WITH g AS (SELECT user_id, (epoch_us(ts) - "
    "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts))) "
    "/ 1e6 AS gap FROM events) "
    "SELECT user_id, count(gap)::BIGINT AS n_gaps, "
    "round(avg(gap), 4) AS mean_gap_sec, "
    "round(CASE WHEN count(gap) >= 2 THEN stddev_samp(gap) END, 4) "
    "AS std_gap_sec, "
    "round(CASE WHEN count(gap) >= 2 AND avg(gap) > 0 "
    "THEN stddev_samp(gap) / avg(gap) END, 6) AS cv, "
    "round(CASE WHEN count(gap) >= 2 AND stddev_samp(gap) + avg(gap) > 0 "
    "THEN (stddev_samp(gap) - avg(gap)) / (stddev_samp(gap) + avg(gap)) END, 6) "
    "AS burstiness FROM g GROUP BY user_id"
))
def _event_interarrival_stats(spark, sf_dir):
    """Per-user inter-arrival gaps + burstiness index
    (temporal.interarrival_stats): mean/std/CV of consecutive gaps and
    (sigma-mu)/(sigma+mu) — the watermark/session-gap tuning
    diagnostic; one lag window + groupBy on the shared key exchange."""
    from orientdb_spark.temporal import interarrival_stats

    ev = _engine(spark, sf_dir).table("events")
    out = interarrival_stats(ev, on=["user_id"])
    return out.select(
        "user_id",
        "n_gaps",
        F.round("mean_gap_sec", 4).alias("mean_gap_sec"),
        F.round("std_gap_sec", 4).alias("std_gap_sec"),
        F.round("cv", 6).alias("cv"),
        F.round("burstiness", 6).alias("burstiness"),
    )


@register("event_attribution", tags=("sf_scale",), oracle=(
    # union-tag + carry-forward replay: same (us, isc, id) total
    # order, IGNORE NULLS last_value on one frame, the age
    # decision on integer micros before the 6-dp display round
    "WITH t AS (SELECT user_id, epoch_us(ts) AS us, ts, event_id, "
    "event_type, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END "
    "AS isc FROM events "
    "WHERE event_type IN ('click', 'view', 'purchase')), "
    "c AS (SELECT *, "
    "last_value(CASE WHEN isc = 0 THEN event_id END IGNORE NULLS) "
    "OVER w AS tid, "
    "last_value(CASE WHEN isc = 0 THEN event_type END IGNORE NULLS) "
    "OVER w AS ttype, "
    "last_value(CASE WHEN isc = 0 THEN us END IGNORE NULLS) "
    "OVER w AS tus, "
    "last_value(CASE WHEN isc = 0 THEN ts END IGNORE NULLS) "
    "OVER w AS tts FROM t "
    "WINDOW w AS (PARTITION BY user_id ORDER BY us, isc, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
    "f AS (SELECT *, (tus IS NOT NULL AND us - tus <= 14400000000) "
    "AS ok FROM c WHERE isc = 1) "
    "SELECT user_id, event_id AS conversion_id, ts AS conversion_ts, "
    "CASE WHEN ok THEN tid END AS touch_event_id, "
    "CASE WHEN ok THEN ttype END AS touch_type, "
    "CASE WHEN ok THEN tts END AS touch_ts, "
    "round(CASE WHEN ok THEN (us - tus)::DOUBLE / 1e6 END + 1e-12, 6) "
    "AS seconds_since_touch, ok AS attributed FROM f"
))
def _event_attribution(spark, sf_dir):
    """Last-touch attribution (temporal.last_touch_attribution): every
    purchase attributed to the user's most recent click/view within a
    4-hour lookback — touch id/type/ts, exact-micros age (decided on
    integer micros, displayed 6-dp), attributed flag. ONE window
    exchange on user_id (the asof carry-forward pattern as three
    last-ignorenulls calls on one frame); the fixture's ~10.6 h mean
    per-user gap makes the 4 h window split conversions into a healthy
    attributed/unattributed mix. Oracle: the same IGNORE NULLS window
    replay."""
    from orientdb_spark.temporal import last_touch_attribution

    ev = _engine(spark, sf_dir).table("events")
    return last_touch_attribution(
        ev, ["click", "view"], "purchase", lookback_sec=14400
    )


@register("event_anomaly_mad", tags=("sf_scale",), oracle=(
    # quantile_cont replays both medians on the 6-dp grid; mod_z
    # and the flag derive from the rounded columns
    "WITH m AS (SELECT event_type, "
    "round(quantile_cont(value, 0.5) + 1e-12, 6) AS med "
    "FROM events GROUP BY 1), "
    "d AS (SELECT e.event_id, e.event_type, e.value, m.med, "
    "round(abs(e.value - m.med) + 1e-12, 6) AS dev "
    "FROM events e JOIN m USING (event_type)), "
    "md AS (SELECT event_type, "
    "round(quantile_cont(dev, 0.5) + 1e-12, 6) AS mad "
    "FROM d GROUP BY 1), "
    "z AS (SELECT d.event_id, d.event_type, d.value, d.med, md.mad, "
    "round(CASE WHEN md.mad > 0 THEN "
    "0.6745 * (d.value - d.med) / md.mad END + 1e-12, 6) AS mod_z "
    "FROM d JOIN md USING (event_type)) "
    "SELECT event_id, event_type, value, med, mad, mod_z, "
    "coalesce(abs(mod_z) > 3.5, FALSE) AS is_outlier FROM z"
))
def _event_anomaly_mad(spark, sf_dir):
    """Robust MAD outlier flags (temporal.anomaly_mad — the
    Iglewicz-Hoaglin modified z-score): per event_type, the exact
    interpolated median and MAD (both nudge-rounded to the 6-dp grid
    BEFORE re-entering arithmetic), per-event mod_z and the |mod_z| >
    3.5 flag derived from the rounded column. The robust companion to
    event_anomaly_zscore; oracle: quantile_cont replays both medians."""
    from orientdb_spark.temporal import anomaly_mad

    ev = _engine(spark, sf_dir).table("events")
    return anomaly_mad(ev, on=["event_type"], threshold=3.5)


@register("event_slo_burn", tags=("sf_scale",), oracle=(
    # integer window buckets on epoch micros, exact counts, the
    # identical python-float budget literal, flags from the
    # rounded burn rate vs literal thresholds
    "WITH s AS (SELECT make_timestamp("
    "(epoch_us(ts) // 21600000000) * 21600000000) AS window_start, "
    "(event_type = 'error')::INT AS err FROM events), "
    "a AS (SELECT window_start, count(*)::BIGINT AS n_events, "
    "sum(err)::BIGINT AS n_errors FROM s GROUP BY 1), "
    "r AS (SELECT *, round(n_errors::DOUBLE / n_events::DOUBLE "
    "+ 1e-12, 6) AS error_rate FROM a), "
    "b AS (SELECT *, round(error_rate / 0.020000000000000018 + 1e-12, 6) "
    "AS burn_rate FROM r) "
    "SELECT window_start, n_events, n_errors, error_rate, "
    "burn_rate, (burn_rate >= 14.4) AS page_alert, "
    "(burn_rate >= 6.0) AS ticket_alert FROM b"
))
def _event_slo_burn(spark, sf_dir):
    """SLO error-budget burn-rate table (temporal.slo_burn_rate — the
    SRE-workbook multi-window alert shape): 6 h tumbling windows over
    events with event_type = 'error' as the error signal, slo = 0.98;
    the ~20% base error rate puts typical windows between the 6x
    ticket and 14.4x page thresholds, so both flags carry signal.
    Exact integer counts, two rounded divisions, literal-threshold
    flags — replays exactly."""
    from orientdb_spark.temporal import slo_burn_rate

    ev = _engine(spark, sf_dir).table("events")
    return slo_burn_rate(
        ev, F.col("event_type") == "error", slo=0.98, window_sec=21600
    )


@register("event_seasonal_baseline", oracle=(
    "WITH p AS (SELECT event_type, hour(ts) AS season_slot, "
    "avg(value) AS sm FROM events GROUP BY 1, 2) "
    "SELECT e.event_id, e.event_type, hour(e.ts) AS season_slot, "
    "round(p.sm, 6) AS seasonal_mean, "
    "round(e.value - p.sm, 6) AS residual "
    "FROM events e JOIN p ON p.event_type = e.event_type "
    "AND p.season_slot = hour(e.ts)"
))
def _event_seasonal_baseline(spark, sf_dir):
    """Hour-of-day seasonal profile + residual per event type
    (temporal.seasonal_baseline): the de-seasonalization step in front
    of alerting; one profile aggregate broadcast back onto the rows."""
    from orientdb_spark.temporal import seasonal_baseline

    ev = _engine(spark, sf_dir).table("events")
    out = seasonal_baseline(ev, on=["event_type"], period="hour_of_day")
    return out.select(
        "event_id",
        "event_type",
        "season_slot",
        F.round("seasonal_mean", 6).alias("seasonal_mean"),
        F.round("residual", 6).alias("residual"),
    )


# r7: three former rows-only entries gain exact oracles — the
# sequential recurrences replay as recursive CTEs (one
# row_number / one Kruskal edge per iteration), and the fake
# image decode is pure integer byte arithmetic DuckDB can
# re-derive. NB DuckDB quirk: inside WITH RECURSIVE, a
# union-shaped helper CTE loses UNION's dedup — vertex lists
# below use DISTINCT unnest([a, b]) instead.
@register("event_cusum_changepoints", oracle=(
    "WITH RECURSIVE seq AS ("
    "  SELECT user_id, ts, value, row_number() OVER "
    "(PARTITION BY user_id ORDER BY ts) AS rn FROM events), "
    "r AS ("
    "  SELECT user_id, 0 AS rn, 0.0::DOUBLE AS sp, 0.0::DOUBLE AS sn, "
    "CAST(NULL AS VARCHAR) AS direction, CAST(NULL AS DOUBLE) AS stat, "
    "CAST(NULL AS TIMESTAMP) AS ts "
    "FROM (SELECT DISTINCT user_id FROM seq) "
    "  UNION ALL "
    "  SELECT user_id, rn, "
    "CASE WHEN sp1 > 5.0 OR sn1 < -5.0 THEN 0.0::DOUBLE ELSE sp1 END, "
    "CASE WHEN sp1 > 5.0 OR sn1 < -5.0 THEN 0.0::DOUBLE ELSE sn1 END, "
    "CASE WHEN sp1 > 5.0 THEN 'up' WHEN sn1 < -5.0 THEN 'down' END, "
    "CASE WHEN sp1 > 5.0 THEN sp1 WHEN sn1 < -5.0 THEN sn1 END, ts "
    "  FROM ("
    "    SELECT s.user_id, s.rn, s.ts, "
    "greatest(0.0::DOUBLE, r.sp + (s.value - 50.0)/50.0 - 0.5) AS sp1, "
    "least(0.0::DOUBLE, r.sn + (s.value - 50.0)/50.0 + 0.5) AS sn1 "
    "    FROM r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1)) "
    "SELECT user_id, ts, direction, round(stat, 4) AS statistic "
    "FROM r WHERE direction IS NOT NULL"
))
def _event_cusum_changepoints(spark, sf_dir):
    """CUSUM mean-shift detection per user (temporal.cusum_changepoints,
    Page 1954): standardized deviations accumulate into S+/S-, ±h
    crossings alarm and reset. The oracle unrolls the same per-key
    recurrence as a recursive CTE stepping one row_number per
    iteration (the graph_sssp determinism trick) — (user_id, ts) is
    unique in the testdata so the order is total, and both engines run
    the identical double-precision update ((S + x') - k before the
    clamp), so the 4 dp-rounded statistics hash-match. The remaining
    gates (planted shifts, stream==batch twin) stay in
    tests/test_temporal.py."""
    from orientdb_spark.temporal import cusum_changepoints

    ev = _engine(spark, sf_dir).table("events")
    return cusum_changepoints(
        ev, on=["user_id"], target=50.0, scale=50.0, k=0.5, h=5.0
    ).select("user_id", "ts", "direction", F.round("statistic", 4).alias("statistic"))


@register("event_m4_downsample", oracle=(
    "SELECT user_id, "
    "(epoch_us(ts) // 86400000000) * 86400000000 AS bucket_start_us, "
    "count(*)::BIGINT AS n_points, "
    "round(arg_min(value, epoch_us(ts)), 6) AS v_first, "
    "round(arg_max(value, epoch_us(ts)), 6) AS v_last, "
    "round(min(value), 6) AS v_min, round(max(value), 6) AS v_max "
    "FROM events GROUP BY user_id, bucket_start_us"
))
def _event_m4_downsample(spark, sf_dir):
    """M4 chart downsampling (temporal.m4_downsample, PVLDB'14): per
    user and day, the four pixel-column values (first/last/min/max) in
    one partial-agg groupBy — the dashboard query that never sorts the
    raw series."""
    from orientdb_spark.temporal import m4_downsample

    ev = _engine(spark, sf_dir).table("events")
    out = m4_downsample(ev, on=["user_id"], bucket_sec=86400)
    return out.select(
        "user_id",
        "bucket_start_us",
        "n_points",
        F.round("v_first", 6).alias("v_first"),
        F.round("v_last", 6).alias("v_last"),
        F.round("v_min", 6).alias("v_min"),
        F.round("v_max", 6).alias("v_max"),
    )


@register("event_funnel_rates", tags=("sf_scale",), oracle=(
    "WITH u AS (SELECT DISTINCT user_id FROM events "
    "WHERE event_type IN ('view', 'click', 'purchase')), "
    "t1 AS (SELECT user_id, min(ts) AS ts FROM events "
    "WHERE event_type = 'view' GROUP BY 1), "
    "t2 AS (SELECT e.user_id, min(e.ts) AS ts FROM events e "
    "JOIN t1 ON e.user_id = t1.user_id "
    "WHERE e.event_type = 'click' AND e.ts > t1.ts GROUP BY 1), "
    "t3 AS (SELECT e.user_id, min(e.ts) AS ts FROM events e "
    "JOIN t2 ON e.user_id = t2.user_id "
    "WHERE e.event_type = 'purchase' AND e.ts > t2.ts GROUP BY 1), "
    "s AS (SELECT u.user_id, CASE WHEN t3.ts IS NOT NULL THEN 3 "
    "WHEN t2.ts IS NOT NULL THEN 2 WHEN t1.ts IS NOT NULL THEN 1 "
    "ELSE 0 END AS st FROM u LEFT JOIN t1 USING (user_id) "
    "LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)), "
    "a AS (SELECT count(*)::BIGINT AS n0, "
    "sum((st >= 1)::INT)::BIGINT AS n1, "
    "sum((st >= 2)::INT)::BIGINT AS n2, "
    "sum((st >= 3)::INT)::BIGINT AS n3 FROM s) "
    "SELECT 1 AS stage, n1 AS n_users, "
    "round(n1 / nullif(n0, 0)::DOUBLE, 6) AS conversion_from_prev FROM a "
    "UNION ALL SELECT 2, n2, round(n2 / nullif(n1, 0)::DOUBLE, 6) FROM a "
    "UNION ALL SELECT 3, n3, round(n3 / nullif(n2, 0)::DOUBLE, 6) FROM a"
))
def _event_funnel_rates(spark, sf_dir):
    """Funnel conversion-rate summary: collapses the per-user deepest
    stages (streaming.funnel — the single-exchange formulation) into
    stage populations and step conversion rates, the dashboard number
    on top of the per-user table. One extra tiny aggregate."""
    from orientdb_spark.streaming import funnel

    ev = _engine(spark, sf_dir).table("events")
    per_user = funnel(ev)
    agg = per_user.agg(
        F.count(F.lit(1)).alias("__n0"),
        *[
            F.sum((F.col("funnel_stage") >= s).cast("long")).alias(f"__n{s}")
            for s in (1, 2, 3)
        ],
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(s).alias("stage"),
                F.col(f"__n{s}").alias("n_users"),
                F.round(
                    F.col(f"__n{s}")
                    / F.when(F.col(f"__n{s - 1}") > 0, F.col(f"__n{s - 1}")),
                    6,
                ).alias("conversion_from_prev"),
            )
            for s in (1, 2, 3)
        ]
    )
    return agg.select(F.explode(stages).alias("__s")).select(
        F.col("__s.stage").alias("stage"),
        F.col("__s.n_users").alias("n_users"),
        F.col("__s.conversion_from_prev").alias("conversion_from_prev"),
    )


@register("event_cohort_retention", oracle=(
    "WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw "
    "FROM events GROUP BY user_id) "
    "SELECT cw::DATE AS cohort_week, "
    "(datediff('day', cw::DATE, date_trunc('week', e.ts)::DATE) / 7)::INTEGER "
    "AS week_offset, count(DISTINCT e.user_id)::BIGINT AS n_active "
    "FROM events e JOIN f ON e.user_id = f.user_id GROUP BY 1, 2"
))
def _event_cohort_retention(spark, sf_dir):
    """Weekly cohort retention over events (streaming.cohort_retention);
    Spark and DuckDB both truncate weeks to ISO Monday, so the cohort
    keys line up exactly."""
    from orientdb_spark.streaming import cohort_retention

    return cohort_retention(_engine(spark, sf_dir).table("events"))


@register("event_hierarchical_rollup", oracle=(
    "WITH lv AS ("
    "SELECT 'minute' AS resolution, date_trunc('minute', ts) AS ws, "
    "event_type AS key, count(*)::BIGINT AS n, sum(value) AS tv, "
    "min(value) AS mn, max(value) AS mx FROM events GROUP BY 2, 3 "
    "UNION ALL SELECT 'hour', date_trunc('hour', ts), event_type, "
    "count(*)::BIGINT, sum(value), min(value), max(value) FROM events GROUP BY 2, 3 "
    "UNION ALL SELECT 'day', date_trunc('day', ts), event_type, "
    "count(*)::BIGINT, sum(value), min(value), max(value) FROM events GROUP BY 2, 3) "
    "SELECT resolution, ws AS window_start, key, n AS n_events, "
    "round(tv, 4) AS total_value, round(mn, 4) AS min_value, "
    "round(mx, 4) AS max_value FROM lv"
))
def _event_hierarchical_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate: minute/hour/day levels
    where only the minute level scans raw events — each coarser level
    re-aggregates the finer one (streaming.hierarchical_rollup; single
    raw scan pinned by plan test). The oracle computes every level
    DIRECTLY from raw, so equality proves the hierarchical composition
    is lossless."""
    from orientdb_spark.streaming import hierarchical_rollup

    out = hierarchical_rollup(_engine(spark, sf_dir).table("events"))
    return out.select(
        "resolution",
        F.date_trunc("second", "window_start").alias("window_start"),
        "key",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
    )


@register("event_json_props", oracle=(
    "SELECT event_type, count(json_extract(props, '$.k'))::BIGINT AS n_with_k, "
    "sum(json_extract(props, '$.k')::INTEGER)::BIGINT AS sum_k, "
    "min(json_extract(props, '$.k')::INTEGER) AS min_k, "
    "max(json_extract(props, '$.k')::INTEGER) AS max_k "
    "FROM events GROUP BY event_type"
))
def _event_json_props(spark, sf_dir):
    """Semi-structured extraction (the document-store column shape):
    pull the numeric k out of the props JSON string per event and
    aggregate it per type — get_json_object stays JVM-side, no UDF."""
    ev = _engine(spark, sf_dir).table("events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# §2.10 streaming-shaped (batch/stream agnostic transforms)
@register("event_window_agg", tags=("headline",), oracle=(
    "SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type, "
    "count(*) AS n_events, round(sum(value), 4) AS total_value "
    "FROM events GROUP BY 1, 2"
))
def _event_window_agg(spark, sf_dir):
    from orientdb_spark.streaming import windowed_event_counts

    return windowed_event_counts(_engine(spark, sf_dir).table("events"), "1 hour")


@register("event_sessionize", tags=("headline", "smoke"), oracle=(
    "WITH g AS (SELECT user_id, ts, value, "
    "CASE WHEN lag(ts) OVER w IS NULL "
    "OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS ns "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts "
    "ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id FROM g) "
    "SELECT user_id, session_id, date_trunc('second', min(ts)) AS session_start, "
    "count(*) AS n_events, round(sum(value), 4) AS total_value "
    "FROM s GROUP BY user_id, session_id"
))
def _event_sessionize(spark, sf_dir):
    from orientdb_spark.streaming import sessionize

    out = sessionize(_engine(spark, sf_dir).table("events"), gap_minutes=30)
    # events.parquet stores timestamp[ns]; Spark rounds ns→us while DuckDB
    # truncates, so normalize session_start to whole seconds for the oracle.
    return out.withColumn("session_start", F.date_trunc("second", F.col("session_start")))


@register("event_session_window", oracle=(
    "WITH g AS (SELECT user_id, ts, value, "
    "CASE WHEN lag(ts) OVER w IS NULL "
    "OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS ns "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts "
    "ROWS UNBOUNDED PRECEDING)::BIGINT AS sid FROM g) "
    "SELECT user_id, date_trunc('second', min(ts)) AS session_start, "
    "count(*) AS n_events, round(sum(value), 4) AS total_value "
    "FROM s GROUP BY user_id, sid"
))
def _event_session_window(spark, sf_dir):
    from orientdb_spark.streaming import sessionize_stream

    out = sessionize_stream(_engine(spark, sf_dir).table("events"), gap="30 minutes")
    return out.withColumn("session_start", F.date_trunc("second", F.col("session_start")))


@register("event_first_seen", oracle=(
    "SELECT event_id, user_id, event_type, "
    "date_trunc('second', ts) AS first_ts, round(value, 4) AS value "
    "FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type "
    "ORDER BY ts, event_id) AS rn FROM events) WHERE rn = 1"
))
def _event_first_seen(spark, sf_dir):
    """Batch formulation of the streaming first-seen dedup operator
    (streaming.first_seen_stream is the applyInPandasWithState version;
    the static path is oracle-checkable and semantically identical —
    tests/test_streaming_graph_deep.py proves stream==batch)."""
    from orientdb_spark.streaming import first_seen

    out = first_seen(
        _engine(spark, sf_dir).table("events"), key_cols=("user_id", "event_type")
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_trunc("second", F.col("ts")).alias("first_ts"),
        F.round("value", 4).alias("value"),
    )


def _event_streams(spark, sf_dir):
    ev = _engine(spark, sf_dir).table("events")
    return (
        ev.filter(F.col("event_type") == "error"),
        ev.filter(F.col("event_type") == "click"),
    )


@register("event_asof_join", oracle=(
    "SELECT e.event_id, e.user_id, o.event_id AS prev_click_id, "
    "round(o.value, 4) AS prev_click_value "
    "FROM (SELECT * FROM events WHERE event_type = 'error') e "
    "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') o "
    "ON e.user_id = o.user_id AND e.ts >= o.ts"
))
def _event_asof_join(spark, sf_dir):
    """Point-in-time join: each error event picks up the most recent
    click (<= its ts) by the same user. Single-shuffle union+window
    formulation (orientdb_spark/temporal.py); DuckDB ASOF LEFT JOIN is
    the independent oracle. (user_id, ts) is unique in the click stream
    at every driver SF, so the match is deterministic."""
    from orientdb_spark.temporal import asof_join

    err, clk = _event_streams(spark, sf_dir)
    out = asof_join(
        err, clk, on=["user_id"], payload=("event_id", "value"), prefix="prev_click_"
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("prev_click_event_id").alias("prev_click_id"),
        F.round("prev_click_value", 4).alias("prev_click_value"),
    )


@register("event_gap_fill", tags=("sf_scale",), oracle=(
    # spine re-derived via generate_series, fill via IGNORE NULLS
    "WITH obs AS (SELECT user_id, "
    "floor(epoch_us(ts) / 21600000000) AS b, "
    "count(*)::BIGINT AS n_obs, avg(value) AS v FROM events GROUP BY 1, 2), "
    "bounds AS (SELECT user_id, min(b)::BIGINT AS b0, max(b)::BIGINT AS b1 "
    "FROM obs GROUP BY user_id), "
    "sp AS (SELECT user_id, unnest(generate_series(b0, b1)) AS b FROM bounds), "
    "j AS (SELECT sp.user_id, sp.b, obs.n_obs, obs.v "
    "FROM sp LEFT JOIN obs ON sp.user_id = obs.user_id AND sp.b = obs.b) "
    "SELECT user_id, make_timestamp((b * 21600000000)::BIGINT) AS bucket_ts, "
    "coalesce(n_obs, 0)::BIGINT AS n_obs, "
    "round(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value, "
    "(v IS NULL) AS is_gap FROM j"
))
def _event_gap_fill(spark, sf_dir):
    """Time-series gap-fill + forward-fill (temporal.gap_fill): per-user
    6-hour buckets from first to last observation, missing buckets
    carry the last seen bucket-average forward and are flagged. The
    spine is generated in-row (sequence + explode) per key — bounded by
    each key's own extent, never a global calendar cross join. Oracle:
    DuckDB generate_series spine + IGNORE NULLS window."""
    from orientdb_spark.temporal import gap_fill

    ev = _engine(spark, sf_dir).table("events")
    out = gap_fill(ev, on=["user_id"], step_sec=21600)
    return out.select(
        "user_id",
        F.date_trunc("second", "bucket_ts").alias("bucket_ts"),
        "n_obs",
        F.round("value", 4).alias("value"),
        "is_gap",
    )


@register("event_scd2", oracle=(
    "WITH m AS (SELECT user_id, ts, event_type, "
    "(lag(ts) OVER w IS NULL OR "
    "event_type IS DISTINCT FROM lag(event_type) OVER w) AS chg "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
    "c AS (SELECT user_id, ts, event_type FROM m WHERE chg) "
    "SELECT user_id, event_type, "
    "date_trunc('second', ts) AS valid_from, "
    "date_trunc('second', lead(ts) OVER w2) AS valid_to, "
    "row_number() OVER w2 AS version, "
    "(lead(ts) OVER w2 IS NULL) AS is_current "
    "FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)"
))
def _event_scd2(spark, sf_dir):
    """Type-2 slowly-changing-dimension build (temporal.scd2_intervals):
    each user's event_type change stream collapses into validity
    intervals with version numbers and an open current row — the
    warehouse history-table primitive, two stacked windows on ONE key
    partitioning (plan-pinned in tests). (user_id, ts) is unique at
    every SF, so the lag/lead walk is deterministic."""
    from orientdb_spark.temporal import scd2_intervals

    ev = _engine(spark, sf_dir).table("events")
    out = scd2_intervals(ev, key="user_id", ts="ts", attrs=["event_type"])
    return out.select(
        "user_id",
        "event_type",
        F.date_trunc("second", "valid_from").alias("valid_from"),
        F.date_trunc("second", "valid_to").alias("valid_to"),
        "version",
        "is_current",
    )


@register("event_rolling_avg", tags=("sf_scale",), oracle=(
    "SELECT event_id, user_id, count(*) OVER w AS rolling_n, "
    "round(sum(value) OVER w, 4) AS rolling_sum, "
    "round(avg(value) OVER w, 6) AS rolling_avg "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) "
    "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"
))
def _event_rolling_avg(spark, sf_dir):
    """Trailing 1-hour moving aggregates per user
    (temporal.rolling_aggregate): ONE RANGE-frame window on microsecond
    ordering — no self-join, no probe fan-out. (user_id, ts) unique at
    every SF keeps the frame deterministic."""
    from orientdb_spark.temporal import rolling_aggregate

    ev = _engine(spark, sf_dir).table("events")
    out = rolling_aggregate(ev, on=["user_id"], window_sec=3600)
    return out.select(
        "event_id",
        "user_id",
        "rolling_n",
        F.round("rolling_sum", 4).alias("rolling_sum"),
        F.round("rolling_avg", 6).alias("rolling_avg"),
    )


@register("event_time_weighted_avg", tags=("sf_scale",), oracle=(
    "WITH g AS (SELECT user_id, value AS v, "
    "lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) "
    "- epoch_us(ts) AS w FROM events) "
    "SELECT user_id, count(*)::BIGINT AS n_samples, "
    "coalesce(sum(w), 0)::BIGINT AS span_us, "
    "round(CASE WHEN coalesce(sum(w), 0) = 0 THEN avg(v) "
    "ELSE sum(v * w) / sum(w) END, 6) AS twa "
    "FROM g GROUP BY user_id"
))
def _event_time_weighted_avg(spark, sf_dir):
    """Hypertable-style LOCF time-weighted average per user
    (temporal.time_weighted_average): each value holds until the user's
    next event, weighted by the integer-microsecond gap; one lead()
    window + one groupBy sharing the same key exchange."""
    from orientdb_spark.temporal import time_weighted_average

    ev = _engine(spark, sf_dir).table("events")
    out = time_weighted_average(ev, on=["user_id"])
    return out.select(
        "user_id", "n_samples", "span_us", F.round("twa", 6).alias("twa")
    )


@register("event_interval_overlap", tags=("sf_scale",), oracle=(
    "WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS s, "
    "epoch_us(ts) + 1800000000 AS e FROM events "
    "WHERE event_type = 'purchase'), "
    "r AS (SELECT event_id AS rid, user_id, epoch_us(ts) AS s, "
    "epoch_us(ts) + 600000000 AS e FROM events "
    "WHERE event_type = 'view') "
    "SELECT l.event_id, l.user_id, "
    "count(DISTINCT r.rid)::BIGINT AS n_overlaps "
    "FROM l LEFT JOIN r ON r.user_id = l.user_id "
    "AND l.s <= r.e AND r.s <= l.e "
    "GROUP BY l.event_id, l.user_id"
))
def _event_interval_overlap(spark, sf_dir):
    """Interval-interval overlap join (temporal.interval_overlap_count):
    purchase windows [ts, ts+30 min] vs view windows [ts, ts+10 min] of
    the same user — bucketed equi-join with exact residual, never an
    inequality nested loop."""
    from orientdb_spark.temporal import interval_overlap_count

    ev = _engine(spark, sf_dir).table("events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    right = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("r_event_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    return interval_overlap_count(
        left,
        right,
        on=["user_id"],
        left_id="event_id",
        right_id="r_event_id",
        bucket_sec=1800,
    )


@register("event_anomaly_zscore", oracle=(
    "WITH s AS (SELECT event_id, user_id, value, "
    "count(*) OVER w AS n, avg(value) OVER w AS m, "
    "stddev_samp(value) OVER w AS sd FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) "
    "RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)), "
    "z AS (SELECT *, CASE WHEN n >= 5 AND sd > 1e-12 "
    "THEN round((value - m) / sd, 4) END AS zs FROM s) "
    "SELECT event_id, user_id, round(m, 6) AS rolling_mean, "
    "round(sd, 6) AS rolling_std, zs AS zscore, "
    "abs(zs) > 2.0 AS is_anomaly FROM z"
))
def _event_anomaly_zscore(spark, sf_dir):
    """Rolling z-score anomaly flags (temporal.anomaly_zscore): trailing
    24 h mean/stddev per user in ONE RANGE window; |z| > 2.0 flags, null
    below 5 samples (cold start). The flag compares the 4 dp-rounded z
    so a last-ulp stddev difference cannot flip it."""
    from orientdb_spark.temporal import anomaly_zscore

    ev = _engine(spark, sf_dir).table("events")
    out = anomaly_zscore(
        ev, on=["user_id"], window_sec=86400, z_threshold=2.0, min_samples=5
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("rolling_mean", 6).alias("rolling_mean"),
        F.round("rolling_std", 6).alias("rolling_std"),
        "zscore",
        "is_anomaly",
    )


@register("event_pivot", oracle=(
    "SELECT user_id, "
    "coalesce(round(sum(value) FILTER (event_type = 'click'), 4), 0.0) "
    "AS sum_click, "
    "coalesce(round(sum(value) FILTER (event_type = 'view'), 4), 0.0) "
    "AS sum_view, "
    "coalesce(round(sum(value) FILTER (event_type = 'purchase'), 4), 0.0) "
    "AS sum_purchase "
    "FROM events WHERE event_type IN ('click', 'view', 'purchase') "
    "GROUP BY user_id"
))
def _event_pivot(spark, sf_dir):
    """Pivot/crosstab: per-user event-type value sums spread into
    columns. Spark's groupBy().pivot() with EXPLICIT pivot values — the
    scale-correct form: without the value list the planner runs an extra
    distinct job to discover columns, and an unbounded value domain
    explodes the schema. The oracle is the equivalent conditional
    aggregation."""
    ev = _engine(spark, sf_dir).table("events")
    kinds = ["click", "view", "purchase"]
    out = (
        ev.filter(F.col("event_type").isin(kinds))
        .groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.round(F.sum("value"), 4))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0.0)).alias(f"sum_{k}") for k in kinds],
    )


@register("event_transitions", oracle=(
    "WITH p AS (SELECT event_type AS from_type, "
    "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS to_type "
    "FROM events), "
    "c AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM p "
    "WHERE to_type IS NOT NULL GROUP BY 1, 2) "
    "SELECT from_type, to_type, n, "
    "round(n / (sum(n) OVER (PARTITION BY from_type)), 6) AS p FROM c"
))
def _event_transitions(spark, sf_dir):
    """First-order Markov transition counts between consecutive event
    types per user (the product-analytics path matrix): one lag window
    on (user, ts) + one pair groupBy, with per-source probabilities from
    a window sum — no self-join against the shifted stream."""
    from pyspark.sql import Window

    ev = _engine(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts")
    pairs = (
        ev.select("user_id", "ts", "event_type")
        .withColumn("__next", F.lead("event_type").over(w))
        .filter(F.col("__next").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("__next").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    )


@register("event_sequence_mining", oracle=(
    "WITH s AS (SELECT user_id, list(event_type ORDER BY ts) AS sq "
    "FROM events GROUP BY user_id), "
    "g AS (SELECT array_to_string(sq[i::INTEGER : i::INTEGER + 2], '>') "
    "AS path FROM (SELECT sq, unnest(range(1, len(sq) - 1)) AS i "
    "FROM s WHERE len(sq) >= 3)), "
    "c AS (SELECT path, count(*)::BIGINT AS n FROM g GROUP BY path), "
    "r AS (SELECT path, n, row_number() OVER (ORDER BY n DESC, path) "
    "AS rank FROM c) SELECT rank::INTEGER AS rank, path, n FROM r "
    "WHERE rank <= 20"
))
def _event_sequence_mining(spark, sf_dir):
    """Frequent behavior-path mining: each user's ts-ordered event-type
    stream yields its length-3 subsequences IN-ROW (sort_array over
    (ts, type) structs — one groupBy, no window), counted corpus-wide,
    top-20 under the total (count desc, path) order. The product-
    analytics 'common journeys' query; (user_id, ts) uniqueness makes
    the ordering deterministic."""
    from pyspark.sql import Window

    ev = _engine(spark, sf_dir).table("events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts"), F.col("event_type")))
            ).getField("event_type").alias("__seq")
        )
        .filter(F.size("__seq") >= 3)
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__seq") - 2),
        lambda i: F.array_join(F.slice("__seq", i, 3), ">"),
    )
    counts = (
        seq.select(F.explode(grams).alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # TakeOrderedAndProject for the global top-20, then rank the 20
    # selected rows only (a partition-less rank window over ALL paths
    # would single-partition the count table)
    top = counts.orderBy(F.col("n").desc(), "path").limit(20)
    w = Window.orderBy(F.col("n").desc(), "path")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "path", "n"
    )


@register("event_range_join", oracle=(
    "SELECT e.event_id, e.user_id, count(c.ts)::BIGINT AS n_in_window, "
    "round(coalesce(sum(c.value), 0), 4) AS sum_value "
    "FROM (SELECT * FROM events WHERE event_type = 'error') e "
    "LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c "
    "ON e.user_id = c.user_id AND c.ts > e.ts - INTERVAL 30 MINUTE "
    "AND c.ts <= e.ts GROUP BY 1, 2"
))
def _event_range_join(spark, sf_dir):
    """Binned range join: per error event, count + value-sum of the same
    user's clicks in the preceding 30 minutes. Equi-join on
    (user_id, time-bucket) with a 2x probe fan-out and exact residual
    filter — never an inequality nested-loop (temporal.py)."""
    from orientdb_spark.temporal import range_join_count

    err, clk = _event_streams(spark, sf_dir)
    out = range_join_count(
        err, clk, on=["user_id"], left_id="event_id", window_sec=1800, value="value"
    )
    return out.select(
        "event_id",
        "user_id",
        "n_in_window",
        F.round("sum_value", 4).alias("sum_value"),
    )


@register("event_funnel", oracle=(
    "WITH u AS (SELECT DISTINCT user_id FROM events "
    "WHERE event_type IN ('view', 'click', 'purchase')), "
    "t1 AS (SELECT user_id, min(ts) AS ts FROM events "
    "WHERE event_type = 'view' GROUP BY 1), "
    "t2 AS (SELECT e.user_id, min(e.ts) AS ts FROM events e "
    "JOIN t1 ON e.user_id = t1.user_id "
    "WHERE e.event_type = 'click' AND e.ts > t1.ts GROUP BY 1), "
    "t3 AS (SELECT e.user_id, min(e.ts) AS ts FROM events e "
    "JOIN t2 ON e.user_id = t2.user_id "
    "WHERE e.event_type = 'purchase' AND e.ts > t2.ts GROUP BY 1) "
    "SELECT u.user_id, CASE WHEN t3.ts IS NOT NULL THEN 3 "
    "WHEN t2.ts IS NOT NULL THEN 2 WHEN t1.ts IS NOT NULL THEN 1 "
    "ELSE 0 END AS funnel_stage "
    "FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id) "
    "LEFT JOIN t3 USING (user_id)"
))
def _event_funnel(spark, sf_dir):
    """Ordered funnel (view -> click -> purchase): deepest in-order
    prefix per user. Single-shuffle HOF formulation (streaming.funnel);
    the oracle is the independent sequential-min self-join cascade."""
    from orientdb_spark.streaming import funnel

    return funnel(_engine(spark, sf_dir).table("events"))


@register("event_value_quantiles", oracle=(
    "SELECT event_type, round(quantile_cont(value, 0.25), 6) AS p25, "
    "round(quantile_cont(value, 0.5), 6) AS p50, "
    "round(quantile_cont(value, 0.75), 6) AS p75, "
    "round(quantile_cont(value, 0.95), 6) AS p95 "
    "FROM events GROUP BY event_type"
))
def _event_value_quantiles(spark, sf_dir):
    """Exact per-group quantiles (p25/p50/p75/p95 of value per
    event_type) via F.percentile — linear-interpolation semantics shared
    with DuckDB's quantile_cont. One map-side-combinable groupBy."""
    ev = _engine(spark, sf_dir).table("events")
    pcts = [0.25, 0.5, 0.75, 0.95]
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.percentile("value", F.lit(p)), 6).alias(
                f"p{int(p * 100)}"
            )
            for p in pcts
        ]
    )


@register("event_trend", oracle=(
    "SELECT user_id, count(*)::BIGINT AS n_samples, "
    "round(regr_slope(value, epoch_us(ts) / 86400000000.0), 6) AS slope_per_day, "
    "round(regr_intercept(value, epoch_us(ts) / 86400000000.0), 6) AS intercept, "
    "round(regr_r2(value, epoch_us(ts) / 86400000000.0), 6) AS r2 "
    "FROM events GROUP BY user_id"
))
def _event_trend(spark, sf_dir):
    """Per-user OLS value trend (temporal.trend_fit): slope per day,
    intercept, R² from the built-in regression aggregates — one
    partial-agg groupBy, the metric-drift detector."""
    from orientdb_spark.temporal import trend_fit

    ev = _engine(spark, sf_dir).table("events")
    out = trend_fit(ev, on=["user_id"])
    return out.select(
        "user_id",
        "n_samples",
        F.round("slope_per_day", 6).alias("slope_per_day"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    )
