"""Streaming surface.

The reference's only push-based operator is the async query
(OSQLAsynchQuery + OCommandResultListener with abort-by-return-value,
core:sql/query/OSQLAsynchQuery.java:30-63 — exposed as
Engine.async_query). Everything else here is Spark-native Structured
Streaming the reference lacks (SURVEY §2.10: watermarks/windows are
"pure Structured Streaming, not reference parity").

The transformations are written batch/stream agnostic: the same function
works on a static DataFrame (driver correctness oracle) and on a
readStream DataFrame (production path) — the standard Structured
Streaming discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def fix_event_nanos(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the events table's TIMESTAMP(NANOS) parquet column across
    pyspark versions. On 4.0.x, ``spark.sql.legacy.parquet.nanosAsLong=true``
    surfaces it as epoch-nanos LongType — convert with *integer* division
    (epoch nanos ~1.7e18 exceed 2^53, so ``/ 1000`` through double loses
    microsecond precision). On 4.1+, parquet nanos read natively as
    TIMESTAMP_NTZ, which event-time watermarks reject
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) — cast to TIMESTAMP; the
    session timezone is pinned to UTC (session.py) so the cast is
    value-preserving."""
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if f.name != ts_col:
            continue
        if isinstance(f.dataType, T.LongType):
            df = df.withColumn(
                ts_col, F.timestamp_micros(F.expr(f"`{ts_col}` div 1000"))
            )
        elif isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def read_event_stream(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """File-source stream over an events directory (exactly-once file
    discovery; parquet schema required for streams)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time window per event_type: count + value sum.
    Works on static and streaming inputs; pass ``watermark`` (e.g.
    '2 hours') on streams to bound state and admit late data."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
    tiebreak_col: str | None = "event_id",
) -> DataFrame:
    """Gap-based sessionization (batch formulation): a new session starts
    when the user's inter-event gap exceeds ``gap_minutes``. Returns
    per-session (user_id, session_id, session_start, n_events,
    total_value). On streams the same semantics come from
    ``F.session_window``; the batch version is lag+cumsum — one shuffle
    on user_id."""
    from pyspark.sql import Window

    order = [ts_col] + ([tiebreak_col] if tiebreak_col and tiebreak_col in events.columns else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    gap = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(F.lag(ts_col).over(w))
    df = events.withColumn(
        "__new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), F.lit(1)).otherwise(F.lit(0)),
    )
    df = df.withColumn("session_id", F.sum("__new_session").over(w))
    return (
        df.groupBy(user_col, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Gap sessionization with Spark's native session window — the
    streaming formulation of ``sessionize`` (state is per-user session
    windows, merged on overlap, evicted past the watermark). Works on
    static frames too, where it must agree with the batch lag+cumsum
    version on session count/membership."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col(user_col),
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def funnel(
    events: DataFrame,
    stages: list[str] | None = None,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: per user, the deepest prefix of
    ``stages`` completed IN ORDER (each stage strictly after the
    previous one). Returns (user, funnel_stage) with stage 0..len(stages).

    Single-shuffle formulation: one groupBy collects each user's
    (ts, stage) pairs, ``array_sort`` orders them, and the sequential
    "first stage-k event after the stage-(k-1) match" scan runs as
    chained higher-order ``filter`` calls on the in-row array — no
    self-joins, no second exchange. Per-user state is bounded by that
    user's event count, the same memory profile as sessionize. The
    equivalent sequential-min self-join cascade would shuffle once per
    stage."""
    stages = stages or ["view", "click", "purchase"]
    sts = (
        events.filter(F.col(type_col).isin(stages))
        .select(
            F.col(user_col),
            F.struct(
                F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
                *[
                    (F.col(type_col) == s).alias(f"is{i}")
                    for i, s in enumerate(stages)
                ],
            ).alias("__e"),
        )
        .groupBy(user_col)
        .agg(F.array_sort(F.collect_list("__e")).alias("__es"))
    )
    # walk the funnel: __t{k} = min ts of a stage-k event strictly after
    # __t{k-1}; arrays are ts-sorted so the filter's first element is the
    # min, and a null previous stage null-propagates through element_at
    # NB: single-arg lambdas only — a second lambda param would receive
    # the element INDEX from F.filter (see NOTES_r5), so stage state is
    # captured with a closure factory instead of default args.
    def _stage_pred(idx, prev):
        if prev is None:
            return lambda e: e[f"is{idx}"]
        return lambda e: e[f"is{idx}"] & (e["us"] > prev)

    for i in range(len(stages)):
        prev = F.col(f"__t{i - 1}") if i else None
        matches = F.filter(F.col("__es"), _stage_pred(i, prev))
        sts = sts.withColumn(f"__t{i}", F.element_at(matches, 1)["us"])
    return sts.select(
        F.col(user_col),
        F.coalesce(
            *[
                F.when(F.col(f"__t{i}").isNotNull(), F.lit(i + 1))
                for i in reversed(range(len(stages)))
            ],
            F.lit(0),
        ).alias("funnel_stage"),
    )


def hierarchical_rollup(
    events: DataFrame,
    levels: list[str] | None = None,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Hypertable-style continuous aggregate: per (resolution, bucket,
    key) counts/sums/min/max where ONLY the finest level scans the raw
    events — every coarser level re-aggregates the previous one
    (sum-of-sums, min-of-mins), so adding a day-level rollup to an
    hour-level one costs hours-per-day rows, not another 100 TB scan.
    Returns (resolution, window_start, key, n_events, total_value,
    min_value, max_value) across all levels.

    ``levels`` are date_trunc units ordered fine -> coarse (each must
    nest in the next; date_trunc guarantees that for the standard
    calendar units)."""
    levels = levels or ["minute", "hour", "day"]
    # every level is checkpointed before it feeds both the output union
    # and the next level — otherwise each union branch re-derives its
    # whole lineage from the raw source and the "one scan" contract is
    # silently three scans (the same multi-reference trap as
    # triangle_count / tfidf; pinned by tests/test_plan_shape.py)
    base = events.groupBy(
        F.date_trunc(levels[0], F.col(ts_col)).alias("window_start"),
        F.col(key_col).alias("key"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(value_col).alias("total_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    ).localCheckpoint(eager=False)
    out = base.withColumn("resolution", F.lit(levels[0]))
    prev = base
    for lvl in levels[1:]:
        prev = prev.groupBy(
            F.date_trunc(lvl, F.col("window_start")).alias("window_start"),
            "key",
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").alias("total_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        ).localCheckpoint(eager=False)
        out = out.unionByName(prev.withColumn("resolution", F.lit(lvl)))
    return out.select(
        "resolution", "window_start", "key",
        "n_events", "total_value", "min_value", "max_value",
    )


def rollup_merge(
    existing: DataFrame,
    new_events: DataFrame,
    levels: list[str] | None = None,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Incremental continuous-aggregate refresh: fold a batch of new
    events into an existing ``hierarchical_rollup`` WITHOUT recomputing
    history — the delta rolls up on its own (it only scans the new
    rows), unions with the existing aggregate, and re-merges per
    (resolution, bucket, key). Buckets the delta doesn't touch pass
    through the merge groupBy unchanged; cost is
    O(delta + touched-bucket rows), never O(all history).

    All four aggregates are decomposable (sum/sum/min/max re-merge
    losslessly), so ``rollup_merge(rollup(a), b) == rollup(a ∪ b)``
    exactly — the invariant the tests pin."""
    delta = hierarchical_rollup(new_events, levels, ts_col, key_col, value_col)
    return (
        existing.unionByName(delta)
        .groupBy("resolution", "window_start", "key")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").alias("total_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


def cohort_retention(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the ISO week of
    their first event; returns (cohort_week, week_offset, n_active) =
    distinct users of each cohort active in each later week.

    Two keyed shuffles: the per-user first-event min (map-side
    combinable) and the final (cohort, offset) distinct-count. The
    user->cohort attach is an equi-join on user_id that AQE broadcasts
    when the user dimension is small enough; at 100 TB both sides
    hash-partition on user_id, the same key the first aggregate just
    produced, so the exchange is reused."""
    first = events.groupBy(user_col).agg(
        F.date_trunc("week", F.min(ts_col)).alias("__cw")
    )
    joined = events.select(
        user_col, F.date_trunc("week", F.col(ts_col)).alias("__aw")
    ).join(first, user_col)
    return (
        joined.groupBy(
            F.to_date("__cw").alias("cohort_week"),
            (F.datediff(F.to_date("__aw"), F.to_date("__cw")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count_distinct(F.col(user_col)).alias("n_active"))
    )


def _duration_ms(spec: str) -> int:
    """'24 hours' → milliseconds (the interval grammar subset the
    streaming helpers accept)."""
    qty, unit = spec.split()
    return int(qty) * {
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit]


def first_seen(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First event per key — the batch formulation of streaming
    first-seen dedup (keep the earliest record, drop every later
    occurrence of the key). One shuffle on the key; row_number instead of
    a min-join so ties and payload columns come along in one pass."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(ts_col, tiebreak_col)
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def first_seen_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    state_ttl: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming first-seen dedup as a CUSTOM STATEFUL OPERATOR
    (``applyInPandasWithState``): per-key GroupState holds one boolean —
    "seen" — and the first batch that brings a key emits its earliest row
    (by ``ts_col, tiebreak_col``); later batches emit nothing for that
    key. With ``state_ttl`` (e.g. '24 hours') state expires by event time
    once the watermark passes first_ts + ttl, after which the key is
    admitted again — bounded-state dedup, the shape a 100 TB ingest
    pipeline needs (unbounded exact dedup state would grow with the key
    universe; TTL makes state size track the active-key window instead).

    Spark's built-in ``dropDuplicates`` covers plain streaming dedup; this
    operator exists for the custom-state semantics (earliest-row payload
    emission + TTL re-admission) and as the package's
    ``applyInPandasWithState`` pattern: Arrow-batched per-key groups, an
    explicit state schema, and event-time timeouts.

    Batch/stream agnostic: on a static frame it falls back to
    ``first_seen`` (no TTL) or an ``applyInPandas`` grouped map running
    the same TTL-window loop (identical output to a single-batch
    stream)."""
    import pandas as pd

    if not events.isStreaming:
        if state_ttl is None:
            return first_seen(events, key_cols, ts_col, tiebreak_col)
        ttl_ms_b = _duration_ms(state_ttl)
        schema = events.schema
        cols = [f.name for f in schema.fields]

        def batch_windows(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values([ts_col, tiebreak_col])
            deadline, keep = None, []
            for idx, row in pdf.iterrows():
                ts_ms = int(pd.Timestamp(row[ts_col]).value // 1_000_000)
                if deadline is None or ts_ms > deadline:
                    keep.append(idx)
                    deadline = ts_ms + ttl_ms_b
            return pdf.loc[keep, cols]

        return events.groupBy(*[F.col(c) for c in key_cols]).applyInPandas(
            batch_windows, schema
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_fields = events.schema.fields
    out_schema = events.schema
    col_order = [f.name for f in out_fields]
    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if state_ttl is not None
        else GroupStateTimeout.NoTimeout
    )
    ttl_ms = _duration_ms(state_ttl) if state_ttl is not None else None

    FOREVER_MS = 1 << 62

    def dedup(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # TTL deadline passed the watermark — drop the state; a later
            # occurrence of the key starts a fresh first-seen window
            state.remove()
            return
        rows = pd.concat(list(pdfs)).sort_values([ts_col, tiebreak_col])
        (deadline,) = state.get if state.exists else (None,)
        emit_idx = []
        for idx, row in rows.iterrows():
            ts_ms = int(pd.Timestamp(row[ts_col]).value // 1_000_000)
            if deadline is None or ts_ms > deadline:
                # first occurrence in this TTL window → emit + open window
                emit_idx.append(idx)
                deadline = ts_ms + ttl_ms if ttl_ms is not None else FOREVER_MS
            # else: duplicate inside the window → suppress
        state.update((deadline,))
        if ttl_ms is not None:
            # schedule state cleanup; the timestamp must sit beyond the
            # current watermark or Spark rejects it (late-data edge)
            state.setTimeoutTimestamp(
                max(deadline, state.getCurrentWatermarkMs() + 1)
            )
        if emit_idx:
            yield rows.loc[emit_idx, col_order]

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*[F.col(c) for c in key_cols])
        .applyInPandasWithState(
            dedup,
            outputStructType=out_schema,
            stateStructType="deadline bigint",
            outputMode="append",
            timeoutConf=timeout,
        )
    )


def asof_join_stream(
    left: DataFrame,
    right: DataFrame,
    on: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    payload: tuple[str, ...] = ("event_id", "value"),
    prefix: str = "prev_",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming as-of join (point-in-time feature join) as a CUSTOM
    STATEFUL OPERATOR: per key, GroupState holds the most recent
    right-side (ts, payload); each left row is emitted with the latest
    right payload at or before its timestamp. The streaming analog of
    ``temporal.asof_join`` — the feature-store lookup shape.

    Both streams are tagged and unioned (stream-stream state ops take
    one input), grouped by key, and each micro-batch walks its rows in
    (ts, side) order — the same algorithm as the batch union+window
    formulation, with the window carry replaced by GroupState across
    batches. State is one row per key (bounded by the key universe, not
    the stream length).

    Exactness: identical to the batch join when each key's rows arrive
    in event-time order across micro-batches (always true for a single
    ``availableNow`` batch — the stream==batch test). A right row that
    arrives AFTER a left row it should have matched is missed, and a
    right row older than the remembered one is ignored — the standard
    no-buffering trade; buffer-and-reorder under a watermark would
    trade state size for exactness.

    Batch fallback: on static frames this delegates to
    ``temporal.asof_join``."""
    import pandas as pd

    if not left.isStreaming and not right.isStreaming:
        from orientdb_spark.temporal import asof_join

        return asof_join(
            left, right, on=list(on), ts=ts_col, payload=list(payload), prefix=prefix
        )

    from pyspark.sql.types import StructField, StructType

    on = list(on)
    payload = list(payload)
    overlap = set(left.columns) & {f"{prefix}{c}" for c in payload}
    if overlap:
        raise ValueError(
            f"as-of output column(s) would collide: {sorted(overlap)} — "
            "pick a different prefix"
        )
    rschema = {f.name: f.dataType for f in right.schema.fields}
    r = right.select(
        *on,
        F.col(ts_col).alias(ts_col),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in payload],
    )
    l = left.withColumn("__side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)

    left_cols = left.columns
    out_schema = StructType(
        list(left.schema.fields)
        + [StructField(f"{prefix}{c}", rschema[c]) for c in payload]
    )
    state_schema = ", ".join(
        ["__ts_us bigint"]
        + [f"__p{i} {rschema[c].simpleString()}" for i, c in enumerate(payload)]
    )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def walk(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs)).sort_values([ts_col, "__side"])
        if state.exists:
            last = list(state.get)
        else:
            last = [None] * (1 + len(payload))
        out = []
        for _, row in rows.iterrows():
            ts_us = int(pd.Timestamp(row[ts_col]).value // 1_000)
            if row["__side"] == 0:
                # advance only forward in event time — an out-of-order
                # right row must not regress the remembered payload
                if last[0] is None or ts_us >= last[0]:
                    last = [ts_us] + [row[f"__r_{c}"] for c in payload]
            else:
                out.append(
                    [row[c] for c in left_cols]
                    + (last[1:] if last[0] is not None else [None] * len(payload))
                )
        state.update(tuple(last))
        if out:
            yield pd.DataFrame(
                out, columns=left_cols + [f"{prefix}{c}" for c in payload]
            )

    return (
        u.withWatermark(ts_col, watermark)
        .groupBy(*[F.col(c) for c in on])
        .applyInPandasWithState(
            walk,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def range_join_stream(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts_col: str = "ts",
    window_sec: int = 1800,
    watermark: str = "1 hour",
    right_prefix: str = "r_",
) -> DataFrame:
    """Watermarked stream-stream range join: every (left, right) pair
    with the same key and ``right.ts in (left.ts - window_sec,
    left.ts]``. The streaming counterpart of
    ``temporal.range_join_count`` — here Spark's native stream-stream
    join applies: the event-time range condition plus the watermark let
    the state store evict rows older than ``watermark + window_sec``,
    so state is bounded by the time window, not the stream length
    (the binned trick exists for BATCH because a batch inequality join
    would nested-loop; the streaming join is hash-keyed by ``on`` and
    range-pruned by design).

    Returns the joined pairs (left columns + prefixed right ts/extra
    columns); aggregate downstream as needed. Works identically on
    static frames (Spark plans an ordinary equi+range join)."""
    r_cols = [c for c in right.columns if c != on]
    l = left.withWatermark(ts_col, watermark) if left.isStreaming else left
    r = right.withWatermark(ts_col, watermark) if right.isStreaming else right
    r = r.select(
        F.col(on), *[F.col(c).alias(f"{right_prefix}{c}") for c in r_cols]
    )
    rts = F.col(f"{right_prefix}{ts_col}")
    cond = (
        (l[on] == r[on])
        & (rts > l[ts_col] - F.expr(f"INTERVAL {int(window_sec)} SECONDS"))
        & (rts <= l[ts_col])
    )
    return l.join(r, cond, "inner").drop(r[on])


def gap_fill_stream(
    df: DataFrame,
    on: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    value: str = "value",
    step_sec: int = 21600,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap-fill/forward-fill as a CUSTOM STATEFUL OPERATOR
    (the third in this engine, after first-seen dedup and the as-of
    join): per key, GroupState accumulates the OPEN time bucket
    (bucket, count, sum, carry); when an event lands in a later bucket,
    the open bucket closes and is emitted with its (n_obs, avg), any
    skipped buckets are emitted as gap rows carrying the last average
    forward, and the new bucket opens. Emit-on-close semantics: the
    final open bucket stays in state until a later event closes it —
    so a single availableNow pass equals batch ``temporal.gap_fill``
    minus each key's last bucket (stream==batch test pins exactly
    that). A late event older than the open bucket is dropped — the
    same no-buffering trade as the streaming as-of join. State is one
    4-field row per key.

    Batch fallback: static frames delegate to ``temporal.gap_fill``."""
    import pandas as pd

    if not df.isStreaming:
        from orientdb_spark.temporal import gap_fill

        return gap_fill(df, on=list(on), ts=ts_col, value=value, step_sec=step_sec)

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    if step_sec <= 0:
        raise ValueError(f"step_sec must be positive, got {step_sec}")
    on = list(on)
    width_us = int(step_sec) * 1_000_000
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [in_fields[c] for c in on]
        + [
            StructField("bucket_ts", TimestampType()),
            StructField("n_obs", LongType()),
            StructField(value, DoubleType()),
            StructField("is_gap", BooleanType()),
        ]
    )

    def walk(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        if state.exists:
            cur_b, n, s, carry = state.get
        else:
            cur_b, n, s, carry = None, 0, 0.0, None
        out = []
        for _, row in rows.iterrows():
            ts_us = int(pd.Timestamp(row[ts_col]).value // 1_000)
            b = ts_us // width_us
            v = float(row[value])
            if cur_b is None:
                cur_b, n, s = b, 1, v
            elif b == cur_b:
                n += 1
                s += v
            elif b > cur_b:
                avg = s / n
                out.append((cur_b, n, avg, False))
                carry = avg
                for g in range(cur_b + 1, b):
                    out.append((g, 0, carry, True))
                cur_b, n, s = b, 1, v
            # b < cur_b: late arrival after close — dropped (documented)
        state.update((cur_b, n, s, carry))
        if out:
            yield pd.DataFrame(
                [
                    list(key)
                    + [pd.Timestamp(b * width_us * 1000), nn, vv, gap]
                    for (b, nn, vv, gap) in out
                ],
                columns=on + ["bucket_ts", "n_obs", value, "is_gap"],
            )

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*[F.col(c) for c in on])
        .applyInPandasWithState(
            walk,
            outputStructType=out_schema,
            stateStructType="cur_b bigint, n bigint, s double, carry double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def scd2_stream(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    attrs: tuple[str, ...] = ("event_type",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming SCD2 history build as a CUSTOM STATEFUL OPERATOR (the
    fourth, after first-seen dedup, the as-of join, and gap-fill): per
    key, GroupState holds the OPEN interval (valid_from, version,
    tracked attrs); a row whose attrs differ closes it — emitting
    ``[valid_from, change_ts)`` with its version — and opens the next.
    Unchanged rows extend the open interval silently. Emit-on-close: a
    single availableNow pass equals batch ``temporal.scd2_intervals``
    restricted to CLOSED intervals (the stream==batch test pins
    exactly that); rows older than the open interval drop — the same
    no-buffering trade as the other stateful operators. State is one
    row per key regardless of history length.

    Batch fallback: static frames delegate to scd2_intervals."""
    import pandas as pd

    if not df.isStreaming:
        from orientdb_spark.temporal import scd2_intervals

        return scd2_intervals(df, key=key, ts=ts_col, attrs=list(attrs))

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import IntegerType, StructField, StructType, TimestampType

    attrs = list(attrs)
    if not attrs:
        raise ValueError("scd2_stream needs at least one tracked attribute")
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [in_fields[key]]
        + [in_fields[a] for a in attrs]
        + [
            StructField("valid_from", TimestampType()),
            StructField("valid_to", TimestampType()),
            StructField("version", IntegerType()),
        ]
    )
    state_schema = ", ".join(
        ["__from_us bigint", "__ver int"]
        + [
            f"__a{i} {in_fields[a].dataType.simpleString()}"
            for i, a in enumerate(attrs)
        ]
    )

    def walk(kv, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        if state.exists:
            st = list(state.get)
            open_us, ver, vals = st[0], st[1], st[2:]
        else:
            open_us, ver, vals = None, 0, [None] * len(attrs)
        out = []
        for _, row in rows.iterrows():
            ts_us = int(pd.Timestamp(row[ts_col]).value // 1_000)
            cur = [row[a] for a in attrs]
            if open_us is None:
                open_us, ver, vals = ts_us, 1, cur
            elif ts_us < open_us:
                continue  # late arrival after the interval opened — drop
            elif cur != vals:
                out.append((vals, open_us, ts_us, ver))
                open_us, vals = ts_us, cur
                ver += 1
        state.update(tuple([open_us, ver] + list(vals)))
        if out:
            yield pd.DataFrame(
                [
                    list(kv)
                    + list(v)
                    + [
                        pd.Timestamp(f * 1000),
                        pd.Timestamp(t * 1000),
                        vr,
                    ]
                    for (v, f, t, vr) in out
                ],
                columns=[key] + attrs + ["valid_from", "valid_to", "version"],
            )

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.col(key))
        .applyInPandasWithState(
            walk,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def anomaly_zscore_stream(
    df: DataFrame,
    on: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    window_sec: int = 86400,
    z_threshold: float = 2.0,
    min_samples: int = 5,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming rolling z-score anomaly flags as a CUSTOM STATEFUL
    OPERATOR (the fifth): per key, GroupState buffers the (ts, value)
    pairs inside the trailing ``window_sec`` window; each event evicts
    the expired prefix, appends itself, and is emitted with the
    window's mean / sample stddev / 4 dp z / threshold flag — the
    online-monitoring analog of ``temporal.anomaly_zscore``, same
    gates (null z under ``min_samples`` or ~zero variance, NULL — not
    NaN — stddev on a 1-row window).

    State is the per-key window occupancy (two parallel arrays), so it
    is bounded by event rate * window length per key, not by stream
    length — the inherent cost of an exact trailing window; a
    Welford-style O(1) running summary cannot EVICT, which a trailing
    window requires. Exactness: identical to the batch operator when
    each key's rows arrive in event-time order across micro-batches
    (always true for one availableNow batch — the stream==batch test);
    a late row computes against its batch-local prefix, the standard
    no-reorder trade shared with asof_join_stream.

    Batch fallback: on a static frame this delegates to
    ``temporal.anomaly_zscore``."""
    import pandas as pd

    if not df.isStreaming:
        from orientdb_spark.temporal import anomaly_zscore

        return anomaly_zscore(
            df,
            on=list(on),
            ts=ts_col,
            value=value_col,
            window_sec=window_sec,
            z_threshold=z_threshold,
            min_samples=min_samples,
        )
    if window_sec <= 0:
        raise ValueError(f"window_sec must be positive, got {window_sec}")
    if min_samples < 2:
        raise ValueError(f"min_samples must be >= 2, got {min_samples}")

    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        StructField,
        StructType,
    )
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    on = list(on)
    width_us = int(window_sec) * 1_000_000
    in_cols = df.columns
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("rolling_mean", DoubleType()),
            StructField("rolling_std", DoubleType()),
            StructField("zscore", DoubleType()),
            StructField("is_anomaly", BooleanType()),
        ]
    )
    state_schema = "ts_arr array<bigint>, v_arr array<double>"

    def walk(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        if state.exists:
            ts_arr, v_arr = (list(x) for x in state.get)
        else:
            ts_arr, v_arr = [], []
        out = []
        for _, row in rows.iterrows():
            ts_us = int(pd.Timestamp(row[ts_col]).value // 1_000)
            lo = ts_us - width_us
            while ts_arr and ts_arr[0] < lo:
                ts_arr.pop(0)
                v_arr.pop(0)
            x = float(row[value_col])
            ts_arr.append(ts_us)
            v_arr.append(x)
            n = len(v_arr)
            mean = sum(v_arr) / n
            if n >= 2:
                var = sum((v - mean) ** 2 for v in v_arr) / (n - 1)
                std = var**0.5
            else:
                std = None
            if n >= min_samples and std is not None and std > 1e-12:
                z = round((x - mean) / std, 4)
                flag = abs(z) > z_threshold
            else:
                z, flag = None, None
            out.append([row[c] for c in in_cols] + [mean, std, z, flag])
        state.update((ts_arr, v_arr))
        if out:
            yield pd.DataFrame(
                out,
                columns=in_cols
                + ["rolling_mean", "rolling_std", "zscore", "is_anomaly"],
            )

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*[F.col(c) for c in on])
        .applyInPandasWithState(
            walk,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def cusum_stream(
    df: DataFrame,
    on: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    k: float = 0.5,
    h: float = 5.0,
    target: float = 0.0,
    scale: float = 1.0,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming CUSUM change-point detection as a CUSTOM STATEFUL
    OPERATOR (the sixth): per key, GroupState carries the running
    (S+, S-) sums; each event updates them with the standardized
    deviation and a ±h crossing emits a change-point row and resets —
    the online twin of ``temporal.cusum_changepoints`` with EXPLICIT
    ``target``/``scale`` (an online monitor can't see the future mean;
    the batch operator's per-key default is the retrospective
    convenience). Exactly equal to the batch operator under per-key
    event-time-ordered arrival — stream==batch pinned.

    State is two floats per key — O(keys), the cheapest of the stateful
    family. Emits ``(*on, ts, direction, statistic)``, append mode.
    """
    import pandas as pd

    if not df.isStreaming:
        from orientdb_spark.temporal import cusum_changepoints

        return cusum_changepoints(
            df, on=list(on), ts=ts_col, value=value_col,
            k=k, h=h, target=target, scale=scale,
        )
    if h <= 0 or k < 0:
        raise ValueError(f"need h > 0 and k >= 0, got h={h}, k={k}")
    if scale <= 0:
        raise ValueError(f"scale must be positive, got {scale}")

    from pyspark.sql.types import DoubleType, StringType, StructField, StructType
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    on = list(on)
    key_fields = [f for f in df.schema.fields if f.name in on]
    ts_field = next(f for f in df.schema.fields if f.name == ts_col)
    out_schema = StructType(
        key_fields
        + [
            StructField(ts_col, ts_field.dataType),
            StructField("direction", StringType()),
            StructField("statistic", DoubleType()),
        ]
    )

    def walk(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        sp, sn = state.get if state.exists else (0.0, 0.0)
        out = []
        for _, r in rows.iterrows():
            x = (float(r[value_col]) - target) / scale
            sp = max(0.0, sp + x - k)
            sn = min(0.0, sn + x + k)
            if sp > h:
                out.append(list(key) + [r[ts_col], "up", sp])
                sp = sn = 0.0
            elif sn < -h:
                out.append(list(key) + [r[ts_col], "down", sn])
                sp = sn = 0.0
        state.update((sp, sn))
        if out:
            yield pd.DataFrame(out, columns=on + [ts_col, "direction", "statistic"])

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*[F.col(c) for c in on])
        .applyInPandasWithState(
            walk,
            outputStructType=out_schema,
            stateStructType="sp double, sn double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def silence_alerts_stream(
    df: DataFrame,
    on: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    silence: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Dead-feed / liveness monitoring as a CUSTOM STATEFUL OPERATOR
    (the seventh, and the only one driven by STATE TIMEOUTS): each
    event refreshes its key's last-seen timestamp and arms an
    EVENT-TIME timeout at ``last_seen + silence``; when the watermark
    passes that deadline with no newer event, Spark invokes the
    function in the timed-out branch and the alert row emits — no
    polling, no self-join against a clock table. One alert per silence
    (state clears on alert and re-arms on the key's next event).

    Timeouts fire on WATERMARK ADVANCEMENT, so an alert needs a later
    micro-batch whose data pushes the watermark past the deadline — the
    semantics of event-time monitoring (stream time only moves when
    events prove it moved).

    Batch fallback: keys whose last event precedes the frame's max
    timestamp by more than ``silence`` (the "currently silent" audit).

    Emits ``(*on, last_seen, deadline)``, append mode.
    """
    import pandas as pd

    on = list(on)
    silence_ms = _duration_ms(silence)
    if not df.isStreaming:
        mx = df.agg(F.max(ts_col).alias("__mx"))
        per_key = df.groupBy(*on).agg(F.max(ts_col).alias("last_seen"))
        return (
            per_key.crossJoin(F.broadcast(mx))
            .filter(
                F.unix_micros(F.col("__mx")) - F.unix_micros(F.col("last_seen"))
                > silence_ms * 1000
            )
            .select(
                *on,
                "last_seen",
                (
                    F.timestamp_micros(
                        F.unix_micros(F.col("last_seen")) + silence_ms * 1000
                    )
                ).alias("deadline"),
            )
        )

    from pyspark.sql.types import StructField, StructType, TimestampType
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_fields = [f for f in df.schema.fields if f.name in on]
    out_schema = StructType(
        key_fields
        + [
            StructField("last_seen", TimestampType()),
            StructField("deadline", TimestampType()),
        ]
    )

    def walk(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            (last_us,) = state.get
            state.remove()
            yield pd.DataFrame(
                [list(key) + [pd.Timestamp(last_us * 1000),
                              pd.Timestamp((last_us + silence_ms * 1000) * 1000)]],
                columns=on + ["last_seen", "deadline"],
            )
            return
        last_us = state.get[0] if state.exists else None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            mx = int(pd.Timestamp(pdf[ts_col].max()).value // 1_000)
            last_us = mx if last_us is None else max(last_us, mx)
        if last_us is not None:
            state.update((last_us,))
            state.setTimeoutTimestamp((last_us + silence_ms * 1000) // 1000)
        return
        yield  # pragma: no cover - keeps the function a generator

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*[F.col(c) for c in on])
        .applyInPandasWithState(
            walk,
            outputStructType=out_schema,
            stateStructType="last_us bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def near_dup_pairs_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    threshold: float = 0.7,
    bucket_cap: int = 32,
    state_ttl: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming near-duplicate detection at ingest — the stream analog
    of ``dedup.minhash_lsh_pairs_incremental``: every arriving document
    is MinHash-signed in-row, routed to its LSH band buckets, and
    compared against the signatures of PRIOR documents in each bucket;
    matches stream out as ``(doc_id, dup_of, band, est_jaccard,
    ts_col)`` pairs. A 100 TB ingest pipeline runs exactly this shape
    so recrawls and mirror copies are flagged before they reach
    storage, instead of re-shuffling the accumulated corpus per batch.

    Semantics: ``est_jaccard`` is the standard MinHash estimator (the
    fraction of agreeing signature positions — granularity
    1/num_hashes); a pair is emitted per band bucket where it
    collides, so the same pair can surface in several bands
    (at-least-once pair emission — downstream dedupes, exactly as the
    batch operator's DISTINCT does). Within a bucket, documents
    process in (``ts_col``, id) order, so same-batch duplicates are
    found too. State per bucket is CAPPED at ``bucket_cap`` stored
    signatures (first arrivals win — the batch family's bucket-cap
    parity); later documents still probe but are not added, so state
    is bounded by buckets x cap regardless of stream length. With
    ``state_ttl`` bucket state expires by event time after its last
    activity + ttl (the first_seen_stream TTL discipline), bounding
    state by the ACTIVE-bucket window instead.

    Scale shape: signatures and band keys are computed per-row (no
    pre-aggregation — a stateful operator cannot follow a streaming
    aggregate), the only shuffle is the groupBy on (band, bhash), and
    Arrow batches carry (id, ts, 16 longs) per bucket row, never token
    lists. On a STATIC frame the same per-bucket loop runs via
    ``applyInPandas`` — identical output to a single-batch stream (the
    package's stream==batch testing layer), and that batch path is
    what the driver entry checks against the SQL oracle.
    """
    import pandas as pd

    from orientdb_spark.pipeline.common import MINHASH_P, MINHASH_PARAMS, h60
    from orientdb_spark.pipeline.dedup import _shingle_struct_udf

    if num_hashes <= 0 or num_hashes > len(MINHASH_PARAMS):
        raise ValueError(
            f"num_hashes must be in 1..{len(MINHASH_PARAMS)}, got {num_hashes}"
        )
    if num_hashes % bands != 0:
        raise ValueError(f"bands must divide num_hashes, got {num_hashes}/{bands}")
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if bucket_cap <= 0:
        raise ValueError(f"bucket_cap must be positive, got {bucket_cap}")
    rows_per_band = num_hashes // bands

    # ---- stateless prep: in-row shingle -> signature -> band keys ----
    if shingle <= 1:
        from orientdb_spark.pipeline.common import token_set

        toks = token_set(F.col(text_col))
        hashed = F.transform(toks, lambda t: h60(t) % F.lit(MINHASH_P))
        staged = docs.select(
            F.col(id_col).alias("__doc"), F.col(ts_col), hashed.alias("__h")
        ).filter(F.size("__h") > 0)
    else:
        shingler = _shingle_struct_udf(shingle)
        staged = (
            docs.select(
                F.col(id_col).alias("__doc"),
                F.col(ts_col),
                shingler(F.col(text_col)).alias("__s"),
            )
            .select("__doc", ts_col, F.col("__s.h").alias("__h"))
            .filter(F.size("__h") > 0)
        )
    def _uhash(a, b):
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P)

    sig = F.array(
        *[
            F.array_min(F.transform("__h", _uhash(a, b)))
            for a, b in MINHASH_PARAMS[:num_hashes]
        ]
    )
    signed = staged.select("__doc", ts_col, sig.alias("__sig"))
    banded = signed.select(
        "__doc",
        ts_col,
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        h60(
                            F.concat_ws(
                                "-",
                                *[
                                    F.col("__sig")[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__bk"),
    ).select(
        F.col("__bk.band").alias("band"),
        F.col("__bk.bhash").alias("bhash"),
        "__doc",
        ts_col,
        "__sig",
    )

    out_schema = (
        f"doc_id bigint, dup_of bigint, band int, est_jaccard double, "
        f"{ts_col} timestamp"
    )
    out_cols = ["doc_id", "dup_of", "band", "est_jaccard", ts_col]

    def _probe_rows(band_val, pdf, ids, sigs):
        """ts-ordered probe-then-maybe-add loop shared by both paths;
        mutates ids/sigs, returns emitted tuples."""
        pdf = pdf.sort_values([ts_col, "__doc"])
        out = []
        for _, row in pdf.iterrows():
            s = tuple(int(v) for v in row["__sig"])
            doc = int(row["__doc"])
            for j, prior in enumerate(sigs):
                m = sum(1 for x, y in zip(s, prior) if x == y)
                est = m / num_hashes
                if est >= threshold:
                    out.append((doc, ids[j], band_val, round(est, 6), row[ts_col]))
            if len(ids) < bucket_cap:
                ids.append(doc)
                sigs.append(s)
        return out

    if not docs.isStreaming:
        def batch_bucket(key, pdf: pd.DataFrame) -> pd.DataFrame:
            out = _probe_rows(int(key[0]), pdf, [], [])
            return pd.DataFrame(out, columns=out_cols)

        return banded.groupBy("band", "bhash").applyInPandas(
            batch_bucket, out_schema
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if state_ttl is not None
        else GroupStateTimeout.NoTimeout
    )
    ttl_ms = _duration_ms(state_ttl) if state_ttl is not None else None

    def probe(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs))
        if state.exists:
            ids_st, sigs_st = state.get
            ids = list(ids_st)
            sigs = [tuple(int(v) for v in s.split(",")) for s in sigs_st]
        else:
            ids, sigs = [], []
        out = _probe_rows(int(key[0]), pdf, ids, sigs)
        state.update((ids, [",".join(str(v) for v in s) for s in sigs]))
        if ttl_ms is not None:
            last_ms = int(pd.Timestamp(pdf[ts_col].max()).value // 1_000_000)
            state.setTimeoutTimestamp(
                max(last_ms + ttl_ms, state.getCurrentWatermarkMs() + 1)
            )
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return (
        banded.withWatermark(ts_col, watermark)
        .groupBy("band", "bhash")
        .applyInPandasWithState(
            probe,
            outputStructType=out_schema,
            stateStructType="ids array<bigint>, sigs array<string>",
            outputMode="append",
            timeoutConf=timeout,
        )
    )


def heavy_hitters_stream(
    events: DataFrame,
    group_cols: tuple[str, ...] = ("event_type",),
    item_col: str = "user_id",
    capacity: int = 64,
    top_k: int = 10,
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming top-k heavy hitters with BOUNDED state — the
    space-saving summary (Metwally et al. 2005) as a custom stateful
    operator: per group, at most ``capacity`` (item, count, err)
    counters survive; a new item arriving at a full table evicts the
    minimum-count counter and inherits its count as overestimation
    error (``est_count - max_err`` is the guaranteed lower bound —
    the standard space-saving accounting). Every trigger emits the
    group's current top-``top_k`` snapshot ordered by (est_count DESC,
    max_err ASC, item ASC) with 1-based ranks; later triggers re-emit
    updated snapshots (append-mode monitoring-feed semantics — readers
    keep the latest batch per group).

    Exactness regime: while a group's distinct-item count stays within
    ``capacity`` the summary IS the exact count table (err 0,
    order-independent) — the regime the entry's SQL oracle replays;
    the capped regime's eviction arithmetic is pytest-pinned. Eviction
    order is deterministic: rows process in (``ts_col``,
    ``tiebreak_col``) order and the evicted counter is the smallest
    (count, item) pair.

    This is the 100 TB monitoring shape: exact per-key counting of a
    hot-key audit would shuffle the full key universe every window;
    space-saving state is O(groups x capacity) regardless of key
    cardinality, and NULL items are dropped (they are not a key).

    Batch/stream agnostic: on a static frame the same per-group
    summary runs as ``applyInPandas`` (identical output to a
    single-batch stream); within-capacity groups take a vectorized
    value_counts fast path (legal because the summary is
    order-independent until the first eviction)."""
    import pandas as pd

    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    gcols = list(group_cols)
    if not gcols:
        raise ValueError("heavy_hitters_stream needs at least one group column")
    schema_fields = {f.name: f.dataType for f in events.schema.fields}
    item_type = schema_fields[item_col].simpleString()
    out_schema = (
        ", ".join(f"{c} {schema_fields[c].simpleString()}" for c in gcols)
        + f", item {item_type}, est_count bigint, max_err bigint, rank int"
    )
    out_cols = gcols + ["item", "est_count", "max_err", "rank"]

    def summarize(counters: dict, pdf: pd.DataFrame) -> dict:
        """Fold one sorted batch into the (item -> [count, err]) table."""
        sub = pdf[pdf[item_col].notna()]
        if not counters and sub[item_col].nunique() <= capacity:
            for item, n in sub[item_col].value_counts().items():
                counters[item] = [int(n), 0]
            return counters
        for item in sub.sort_values([ts_col, tiebreak_col])[item_col]:
            if item in counters:
                counters[item][0] += 1
            elif len(counters) < capacity:
                counters[item] = [1, 0]
            else:
                evict = min(counters, key=lambda i: (counters[i][0], i))
                floor = counters.pop(evict)[0]
                counters[item] = [floor + 1, floor]
        return counters

    def snapshot(key, counters: dict) -> pd.DataFrame:
        rows = sorted(
            ((c, e, i) for i, (c, e) in counters.items()),
            key=lambda t: (-t[0], t[1], t[2]),
        )[:top_k]
        return pd.DataFrame(
            [
                key + (item, count, err, rank)
                for rank, (count, err, item) in enumerate(rows, start=1)
            ],
            columns=out_cols,
        )

    if not events.isStreaming:

        def batch_fn(key, pdf):
            # (unannotated on purpose: partial hints trip pyspark's
            # eval-type inference into a UserWarning per batch)
            return snapshot(key, summarize({}, pdf))

        return events.groupBy(*[F.col(c) for c in gcols]).applyInPandas(
            batch_fn, out_schema
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def hh(key, pdfs, state: GroupState):
        if state.exists:
            items, counts, errs = state.get
            counters = {
                i: [c, e] for i, c, e in zip(items, counts, errs)
            }
        else:
            counters = {}
        counters = summarize(counters, pd.concat(list(pdfs)))
        state.update(
            (
                list(counters.keys()),
                [v[0] for v in counters.values()],
                [v[1] for v in counters.values()],
            )
        )
        yield snapshot(key, counters)

    state_schema = (
        f"items array<{item_type}>, counts array<bigint>, errs array<bigint>"
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*[F.col(c) for c in gcols])
        .applyInPandasWithState(
            hh,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
