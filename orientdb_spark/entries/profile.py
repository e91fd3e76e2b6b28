"""Data profiling and governance: column profiles, drift, privacy
audits, quality expectations, integrity checks and frequent-pair
mining.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from orientdb_spark.entries._registry import _engine, register
from orientdb_spark.entries._shared import _dk_h60, _docs


@register("quality_expectations", tags=("sf_scale",), oracle=(
    "SELECT 'not_null(o_orderkey)' AS rule, "
    "sum((o_orderkey IS NULL)::INT)::BIGINT = 0 AS passed, "
    "sum((o_orderkey IS NULL)::INT)::BIGINT AS n_violations FROM orders "
    "UNION ALL SELECT 'unique(o_orderkey)', "
    "count(o_orderkey) - count(DISTINCT o_orderkey) = 0, "
    "count(o_orderkey) - count(DISTINCT o_orderkey) FROM orders "
    "UNION ALL SELECT 'in_range(o_totalprice,0,200000)', "
    "sum((NOT coalesce(o_totalprice BETWEEN 0 AND 200000, false))::INT)::BIGINT = 0, "
    "sum((NOT coalesce(o_totalprice BETWEEN 0 AND 200000, false))::INT)::BIGINT FROM orders "
    "UNION ALL SELECT 'accepted_values(o_orderstatus)', "
    "sum((NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), false))::INT)::BIGINT = 0, "
    "sum((NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), false))::INT)::BIGINT FROM orders "
    "UNION ALL SELECT 'not_null_when(o_orderdate,o_orderstatus=F)', "
    "sum((coalesce(o_orderstatus = 'F', false) AND o_orderdate IS NULL)::INT)::BIGINT = 0, "
    "sum((coalesce(o_orderstatus = 'F', false) AND o_orderdate IS NULL)::INT)::BIGINT FROM orders"
))
def _quality_expectations(spark, sf_dir):
    """Declarative data-contract checks (quality.validate_expectations):
    four rules — including one that FAILS (a deliberately tight price
    range) — compiled into ONE aggregate pass over orders."""
    from orientdb_spark.quality import validate_expectations

    od = _engine(spark, sf_dir).table("orders")
    return validate_expectations(
        od,
        [
            {"kind": "not_null", "col": "o_orderkey"},
            {"kind": "unique", "col": "o_orderkey"},
            {"kind": "in_range", "col": "o_totalprice", "lo": 0, "hi": 200000},
            {"kind": "accepted_values", "col": "o_orderstatus",
             "values": ["O", "F", "P"]},
            {"kind": "not_null_when", "col": "o_orderdate",
             "when_col": "o_orderstatus", "when_value": "F"},
        ],
    )


@register("quality_fd_check", tags=("sf_scale",), oracle=(
    "SELECT l_orderkey, count(DISTINCT coalesce(l_returnflag, chr(0)))::BIGINT "
    "AS n_rhs_values FROM lineitem GROUP BY l_orderkey "
    "HAVING count(DISTINCT coalesce(l_returnflag, chr(0))) > 1"
))
def _quality_fd_check(spark, sf_dir):
    """Functional-dependency audit (quality.fd_violations): does
    l_orderkey determine l_returnflag? Orders whose line items carry
    more than one return flag are the violating keys — one groupBy on
    the determinant."""
    from orientdb_spark.quality import fd_violations

    li = _engine(spark, sf_dir).table("lineitem")
    return fd_violations(li, "l_orderkey", "l_returnflag")


@register("quality_table_digest", tags=("sf_scale",), oracle=(
    "WITH c AS (SELECT concat_ws('|', "
    "coalesce(replace(replace(n_nationkey::VARCHAR, '\\', '\\\\'), '|', '\\|'), '\\N'), "
    "coalesce(replace(replace(n_name, '\\', '\\\\'), '|', '\\|'), '\\N'), "
    "coalesce(replace(replace(n_regionkey::VARCHAR, '\\', '\\\\'), '|', '\\|'), '\\N')) AS canon "
    "FROM nation) "
    "SELECT count(*)::BIGINT AS n_rows, "
    "(sum((('0x' || substring(md5(canon), 1, 15))::UBIGINT::BIGINT)::HUGEINT) % 1152921504606846976)::BIGINT AS digest FROM c"
))
def _quality_table_digest(spark, sf_dir):
    """Order/partition-insensitive content digest (quality.table_digest)
    of the nation table: per-row h60 of the canonical row string,
    summed mod 2^60 — snapshot equality in one exchanged number. The
    oracle recomputes the identical digest in DuckDB (the md5 path is
    cross-engine; int/string canonical forms agree — doubles would
    not)."""
    from orientdb_spark.quality import table_digest

    na = _engine(spark, sf_dir).table("nation")
    return table_digest(na, ["n_nationkey", "n_name", "n_regionkey"])


@register("integrity_orphans", oracle=(
    "SELECT 'lineitem.orderkey' AS relation, "
    "count(l_orderkey)::BIGINT AS n_child, "
    "(SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL AND "
    "l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL))::BIGINT "
    "AS n_orphans FROM lineitem "
    "UNION ALL SELECT 'orders.custkey', count(o_custkey)::BIGINT, "
    "(SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL AND "
    "o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL))::BIGINT "
    "FROM orders "
    "UNION ALL SELECT 'customer.nationkey', count(c_nationkey)::BIGINT, "
    "(SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL AND "
    "c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL))::BIGINT "
    "FROM customer "
    "UNION ALL SELECT 'supplier.nationkey', count(s_nationkey)::BIGINT, "
    "(SELECT count(*) FROM supplier WHERE s_nationkey IS NOT NULL AND "
    "s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL))::BIGINT "
    "FROM supplier "
    "UNION ALL SELECT 'nation.regionkey', count(n_regionkey)::BIGINT, "
    "(SELECT count(*) FROM nation WHERE n_regionkey IS NOT NULL AND "
    "n_regionkey NOT IN (SELECT r_regionkey FROM region WHERE r_regionkey IS NOT NULL))::BIGINT "
    "FROM nation"
))
def _integrity_orphans(spark, sf_dir):
    """Referential-integrity audit over the TPC-H foreign-key chain
    (pipeline/profile.fk_orphans). The synthetic data is consistent, so
    the true orphan counts are zero — the operator's detection logic is
    separately proven on handcrafted orphans in tests/test_profile.py."""
    from orientdb_spark.pipeline.profile import fk_orphans

    eng = _engine(spark, sf_dir)
    t = eng.table
    return fk_orphans(
        [
            ("lineitem.orderkey", t("lineitem"), "l_orderkey", t("orders"), "o_orderkey"),
            ("orders.custkey", t("orders"), "o_custkey", t("customer"), "c_custkey"),
            ("customer.nationkey", t("customer"), "c_nationkey", t("nation"), "n_nationkey"),
            ("supplier.nationkey", t("supplier"), "s_nationkey", t("nation"), "n_nationkey"),
            ("nation.regionkey", t("nation"), "n_regionkey", t("region"), "r_regionkey"),
        ]
    )


@register("profile_correlations", oracle=(
    "SELECT round(corr(l_quantity, l_extendedprice), 6) "
    "AS corr_quantity_extendedprice, "
    "round(corr(l_quantity, l_discount), 6) AS corr_quantity_discount, "
    "round(corr(l_quantity, l_tax), 6) AS corr_quantity_tax, "
    "round(corr(l_extendedprice, l_discount), 6) "
    "AS corr_extendedprice_discount, "
    "round(corr(l_extendedprice, l_tax), 6) AS corr_extendedprice_tax, "
    "round(corr(l_discount, l_tax), 6) AS corr_discount_tax "
    "FROM lineitem"
))
def _profile_correlations(spark, sf_dir):
    """Pairwise Pearson correlations over lineitem numerics in ONE
    aggregate pass (every F.corr rides the same map-side agg — no
    per-pair scans). DuckDB's corr shares the definition; 6-dp rounding
    absorbs accumulation-order ulps."""
    li = _engine(spark, sf_dir).table("lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"corr_{a[2:]}_{b[2:]}")
        for i, a in enumerate(cols)
        for b in cols[i + 1 :]
    ]
    return li.agg(*aggs)


@register("profile_iqr_outliers", oracle=(
    "WITH f AS (SELECT event_type, "
    "quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3 "
    "FROM events GROUP BY event_type), "
    "f2 AS (SELECT event_type, q1, q3, q1 - 1.5 * (q3 - q1) AS lo, "
    "q3 + 1.5 * (q3 - q1) AS hi FROM f) "
    "SELECT e.event_type, round(q1, 6) AS q1, round(q3, 6) AS q3, "
    "round(lo, 6) AS lo_fence, round(hi, 6) AS hi_fence, "
    "count(*)::BIGINT AS n_rows, "
    "sum((value < lo OR value > hi)::INT)::BIGINT AS n_outliers "
    "FROM events e JOIN f2 USING (event_type) "
    "GROUP BY e.event_type, q1, q3, lo, hi"
))
def _profile_iqr_outliers(spark, sf_dir):
    """Tukey 1.5-IQR outlier audit per event type
    (pipeline/profile.iqr_outlier_fences): exact interpolated quartiles
    (the quantile_cont semantics DuckDB shares), fences broadcast back,
    one count agg."""
    from orientdb_spark.pipeline.profile import iqr_outlier_fences

    ev = _engine(spark, sf_dir).table("events")
    out = iqr_outlier_fences(ev, "value", ["event_type"])
    return out.select(
        "event_type",
        F.round("q1", 6).alias("q1"),
        F.round("q3", 6).alias("q3"),
        F.round("lo_fence", 6).alias("lo_fence"),
        F.round("hi_fence", 6).alias("hi_fence"),
        "n_rows",
        "n_outliers",
    )


@register("profile_events", oracle=(
    "SELECT 'event_id' AS column, count(*)::BIGINT AS n_rows, "
    "count(event_id)::BIGINT AS n_nonnull, count(DISTINCT event_id)::BIGINT AS n_distinct, "
    "round(min(event_id)::DOUBLE, 4) AS min_num, round(max(event_id)::DOUBLE, 4) AS max_num, "
    "NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM events "
    "UNION ALL SELECT 'user_id', count(*)::BIGINT, count(user_id)::BIGINT, "
    "count(DISTINCT user_id)::BIGINT, round(min(user_id)::DOUBLE, 4), "
    "round(max(user_id)::DOUBLE, 4), NULL::VARCHAR, NULL::VARCHAR FROM events "
    "UNION ALL SELECT 'event_type', count(*)::BIGINT, count(event_type)::BIGINT, "
    "count(DISTINCT event_type)::BIGINT, NULL::DOUBLE, NULL::DOUBLE, "
    "min(event_type), max(event_type) FROM events "
    "UNION ALL SELECT 'value', count(*)::BIGINT, count(value)::BIGINT, "
    "count(DISTINCT value)::BIGINT, round(min(value)::DOUBLE, 4), "
    "round(max(value)::DOUBLE, 4), NULL::VARCHAR, NULL::VARCHAR FROM events "
    "UNION ALL SELECT 'props', count(*)::BIGINT, count(props)::BIGINT, "
    "count(DISTINCT props)::BIGINT, NULL::DOUBLE, NULL::DOUBLE, "
    "min(props), max(props) FROM events"
))
def _profile_events(spark, sf_dir):
    """One-pass column profiler over the events table (data-quality
    audit: counts, nulls, exact distincts, typed min/max). approx=False
    here because the oracle needs exact distincts; the 100 TB path is
    approx=True (HLL, no Expand) — pipeline/profile.py."""
    from orientdb_spark.pipeline.profile import profile_columns

    ev = _engine(spark, sf_dir).table("events")
    return profile_columns(
        ev, ["event_id", "user_id", "event_type", "value", "props"]
    )


@register("profile_quantile_bins", tags=("sf_scale",), oracle=(
    "WITH c AS (SELECT event_type, "
    "quantile_cont(value, 0.25) AS c1, quantile_cont(value, 0.5) AS c2, "
    "quantile_cont(value, 0.75) AS c3 FROM events GROUP BY event_type), "
    "b AS (SELECT e.event_type, e.value, 1 + (e.value > c.c1)::INT "
    "+ (e.value > c.c2)::INT + (e.value > c.c3)::INT AS bin "
    "FROM events e JOIN c USING (event_type)) "
    "SELECT event_type, bin, count(*)::BIGINT AS n_rows, "
    "round(min(value), 6) AS lo, round(max(value), 6) AS hi "
    "FROM b GROUP BY event_type, bin"
))
def _profile_quantile_bins(spark, sf_dir):
    """Equal-frequency quartile binning of event values per type
    (profile.quantile_bins): exact interpolated cutpoints broadcast
    back, bin = 1 + #{cuts < x}; two groupBys on the same key, nothing
    grows with q."""
    from orientdb_spark.pipeline.profile import quantile_bins

    ev = _engine(spark, sf_dir).table("events")
    out = quantile_bins(ev, "value", ["event_type"], q=4)
    return out.select(
        "event_type",
        "bin",
        "n_rows",
        F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"),
    )


@register("profile_entropy", tags=("sf_scale",), oracle=(
    "WITH c AS (SELECT source, lang, count(*)::BIGINT AS c "
    "FROM documents GROUP BY source, lang) "
    "SELECT source, sum(c)::BIGINT AS n_rows, "
    "count(*)::BIGINT AS n_distinct, "
    "round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy "
    "FROM c GROUP BY source"
))
def _profile_entropy(spark, sf_dir):
    """Language-mix diversity per source (profile.column_entropy):
    Shannon entropy in nats from the ln(n) - sum(c ln c)/n identity —
    two partial-agg groupBys over value counts, no window."""
    from orientdb_spark.pipeline.profile import column_entropy

    docs = _docs(spark, sf_dir)
    out = column_entropy(docs, "lang", ["source"])
    return out.select(
        "source", "n_rows", "n_distinct", F.round("entropy", 6).alias("entropy")
    )


@register("profile_winsorize", oracle=(
    "WITH f AS (SELECT event_type, "
    "quantile_cont(value, 0.05) AS p_lo, quantile_cont(value, 0.95) AS p_hi "
    "FROM events GROUP BY event_type) "
    "SELECT e.event_type, round(p_lo, 6) AS p_lo, round(p_hi, 6) AS p_hi, "
    "count(*)::BIGINT AS n_rows, "
    "sum((value < p_lo)::INT)::BIGINT AS n_clipped_lo, "
    "sum((value > p_hi)::INT)::BIGINT AS n_clipped_hi, "
    "round(avg(value), 6) AS mean_raw, "
    "round(avg(greatest(least(value, p_hi), p_lo)), 6) AS mean_winsorized "
    "FROM events e JOIN f USING (event_type) "
    "GROUP BY e.event_type, p_lo, p_hi"
))
def _profile_winsorize(spark, sf_dir):
    """Winsorized summary per event type (profile.winsorize_stats):
    exact interpolated p05/p95 fences broadcast back, clip counts and
    before/after means in one count agg — the outlier-robust
    preprocessing audit."""
    from orientdb_spark.pipeline.profile import winsorize_stats

    ev = _engine(spark, sf_dir).table("events")
    out = winsorize_stats(ev, "value", ["event_type"], lo=0.05, hi=0.95)
    return out.select(
        "event_type",
        F.round("p_lo", 6).alias("p_lo"),
        F.round("p_hi", 6).alias("p_hi"),
        "n_rows",
        "n_clipped_lo",
        "n_clipped_hi",
        F.round("mean_raw", 6).alias("mean_raw"),
        F.round("mean_winsorized", 6).alias("mean_winsorized"),
    )


@register("mining_frequent_pairs", oracle=(
    "WITH b AS (SELECT DISTINCT l_orderkey AS bid, l_partkey AS item "
    "FROM lineitem), "
    "nb AS (SELECT count(DISTINCT bid)::DOUBLE AS n FROM b), "
    "ic AS (SELECT item, count(*)::BIGINT AS n FROM b GROUP BY item), "
    "pc AS (SELECT a.item AS item_a, b2.item AS item_b, "
    "count(*)::BIGINT AS n_ab FROM b a "
    "JOIN b b2 ON a.bid = b2.bid AND a.item < b2.item "
    "GROUP BY 1, 2 HAVING count(*) >= 2) "
    "SELECT pc.item_a, pc.item_b, pc.n_ab, "
    "round(pc.n_ab * nb.n / (ia.n * ib.n), 6) AS lift, "
    "round(pc.n_ab / sqrt(ia.n * ib.n), 6) AS cosine, "
    "round(pc.n_ab::DOUBLE / (ia.n + ib.n - pc.n_ab), 6) AS jaccard "
    "FROM pc CROSS JOIN nb "
    "JOIN ic ia ON pc.item_a = ia.item "
    "JOIN ic ib ON pc.item_b = ib.item"
))
def _mining_frequent_pairs(spark, sf_dir):
    """Market-basket frequent part pairs over orders
    (mining.frequent_pairs): one row per basket through the shuffle,
    in-row pair expansion, lift against per-item basket counts with the
    total riding a broadcast 1-row crossJoin."""
    from orientdb_spark.mining import frequent_pairs

    li = _engine(spark, sf_dir).table("lineitem")
    out = frequent_pairs(li, "l_orderkey", "l_partkey", min_support=2)
    return out.select(
        "item_a", "item_b", "n_ab",
        F.round("lift", 6).alias("lift"),
        F.round("cosine", 6).alias("cosine"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _dataset_card_oracle_sql() -> str:
    """Dataset-card replay (pipeline/profile.dataset_card): one per-doc
    stats CTE feeding the corpus/length stack, per-language shares, and
    per-source counts."""
    return (
        "WITH pd AS MATERIALIZED (SELECT lang, source, length(text)::DOUBLE AS chars, "
        "len(list_filter(regexp_split_to_array(text, '\\s+'), "
        "t -> len(t) > 0))::DOUBLE AS toks, md5(text) AS dg FROM documents), "
        "c AS MATERIALIZED (SELECT count(*)::DOUBLE AS n, sum(toks) AS tt, "
        "count(DISTINCT lang)::DOUBLE AS dl, "
        "count(DISTINCT source)::DOUBLE AS ds, "
        "count(DISTINCT dg)::DOUBLE AS uq, "
        "round(quantile_cont(chars, 0.5) + 1e-12, 6) AS p50, "
        "round(quantile_cont(chars, 0.9) + 1e-12, 6) AS p90 FROM pd) "
        "SELECT 'corpus' AS section, 'n_docs' AS key, n AS value FROM c "
        "UNION ALL SELECT 'corpus', 'total_ws_tokens', tt FROM c "
        "UNION ALL SELECT 'corpus', 'distinct_langs', dl FROM c "
        "UNION ALL SELECT 'corpus', 'distinct_sources', ds FROM c "
        "UNION ALL SELECT 'corpus', 'exact_dup_rate', "
        "round((n - uq) / n + 1e-12, 6) FROM c "
        "UNION ALL SELECT 'length', 'p50_chars', p50 FROM c "
        "UNION ALL SELECT 'length', 'p90_chars', p90 FROM c "
        "UNION ALL SELECT 'lang_share', lang, "
        "round(count(*)::DOUBLE / (SELECT n FROM c) + 1e-12, 6) "
        "FROM pd GROUP BY lang "
        "UNION ALL SELECT 'source_docs', source, count(*)::DOUBLE "
        "FROM pd GROUP BY source"
    )


@register(
    "profile_dataset_card",
    tags=("headline", "smoke", "sf_scale"),
    oracle=_dataset_card_oracle_sql(),
)
def _profile_dataset_card(spark, sf_dir):
    """Dataset-card statistics (pipeline/profile.dataset_card, the
    Datasheets/data-card disclosure table): corpus totals, language
    shares, source counts, length percentiles, exact-dup rate in long
    (section, key, value) format. One corpus pass feeds five bounded
    aggregate branches. Integer-valued double sums are order-exact
    below 2^53; percentiles ride the quantile_cont parity precedent."""
    from orientdb_spark.pipeline import profile

    return profile.dataset_card(_docs(spark, sf_dir))


def _benford_oracle_sql() -> str:
    """Benford replay (pipeline/profile.benford_audit on
    l_extendedprice by l_returnflag): first-[1-9]-char digit from the
    string rendering (representation-invariant), counts vs the SAME
    literal log10(1+1/d) table the Spark plan embeds."""
    import math

    exp_rows = ", ".join(
        f"('{d}', {math.log10(1.0 + 1.0 / d)!r})" for d in range(1, 10)
    )
    return (
        "WITH b AS (SELECT l_returnflag, regexp_extract("
        "abs(l_extendedprice)::VARCHAR, '[1-9]') AS digit FROM lineitem), "
        "f AS (SELECT l_returnflag, digit FROM b WHERE digit <> ''), "
        "c AS (SELECT l_returnflag, digit, count(*)::BIGINT AS n "
        "FROM f GROUP BY 1, 2), "
        "t AS (SELECT l_returnflag, sum(n)::BIGINT AS total FROM c GROUP BY 1), "
        f"e(digit, ex) AS (VALUES {exp_rows}) "
        "SELECT c.l_returnflag, digit::INTEGER AS digit, n, "
        "round(n::DOUBLE / total::DOUBLE + 1e-12, 6) AS observed_frac, "
        "round(ex + 1e-12, 6) AS expected_frac, "
        "round(abs(n::DOUBLE / total::DOUBLE - ex) + 1e-12, 6) AS deviation "
        "FROM c JOIN t USING (l_returnflag) JOIN e USING (digit)"
    )


@register("profile_benford_audit", tags=("sf_scale",), oracle=_benford_oracle_sql())
def _profile_benford_audit(spark, sf_dir):
    """Benford first-digit audit (pipeline/profile.benford_audit) of
    l_extendedprice per return flag — the forensic data-quality
    tripwire; the synthetic uniform-ish prices deviate visibly from
    log10(1+1/d), which is exactly what the audit exists to surface.
    Digits come from the value's string rendering (first [1-9] —
    representation-invariant); expectations are literal doubles
    (no runtime libm). Oracle-exact."""
    from orientdb_spark.pipeline import profile

    li = _engine(spark, sf_dir).table("lineitem")
    return profile.benford_audit(
        li, "l_extendedprice", group_cols=["l_returnflag"]
    )


@register("profile_distribution_drift", tags=("sf_scale",), oracle=(
    # replays distribution_drift end-to-end: reference span from
    # the even-id side, equal-width clamp binning on the shared
    # IEEE subtract/divide/multiply/floor, 6-dp-grid fractions,
    # chi2 via the grid-pinned expected mass (NULL where ref_n=0)
    "WITH ref AS (SELECT value::DOUBLE AS x FROM events "
    "WHERE event_id % 2 = 0 AND value IS NOT NULL), "
    "cur AS (SELECT (CASE WHEN event_id % 3 = 0 "
    "THEN value * 1.4::DOUBLE ELSE value END)::DOUBLE AS x FROM events "
    "WHERE event_id % 2 = 1 AND value IS NOT NULL), "
    "span AS (SELECT min(x)::DOUBLE AS lo, max(x)::DOUBLE AS hi "
    "FROM ref), "
    "u AS (SELECT 0 AS side, x FROM ref "
    "UNION ALL SELECT 1, x FROM cur), "
    "b AS (SELECT side, CASE WHEN hi > lo THEN GREATEST(0, "
    "LEAST(floor((x - lo) / (hi - lo) * 10)::BIGINT, 9)) "
    "ELSE 0 END AS bin FROM u, span), "
    "g AS (SELECT bin, "
    "sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS ref_n, "
    "sum(side)::BIGINT AS cur_n FROM b GROUP BY bin), "
    "t AS (SELECT GREATEST(sum(ref_n)::DOUBLE, 1.0) AS rt, "
    "GREATEST(sum(cur_n)::DOUBLE, 1.0) AS ct FROM g), "
    "fr AS (SELECT bin, ref_n, cur_n, "
    "round(ref_n / rt + 1e-12, 6) AS ref_frac, "
    "round(cur_n / ct + 1e-12, 6) AS cur_frac, ct "
    "FROM g, t) "
    "SELECT bin::INTEGER AS bin, "
    "round(lo + bin * ((hi - lo) / 10) + 1e-12, 6) AS lo_edge, "
    "round(lo + (bin + 1) * ((hi - lo) / 10) + 1e-12, 6) AS hi_edge, "
    "ref_n, cur_n, ref_frac, cur_frac, "
    "round(abs(ref_frac - cur_frac) + 1e-12, 6) AS abs_diff, "
    "CASE WHEN ref_n > 0 THEN round("
    "(cur_n - ref_frac * ct) * (cur_n - ref_frac * ct) "
    "/ (ref_frac * ct) + 1e-12, 6) END AS chi2_contrib "
    "FROM fr, span"
))
def _profile_distribution_drift(spark, sf_dir):
    """Histogram drift audit (pipeline/profile.distribution_drift):
    even-event_id events are the reference feed, odd the current, and
    the current side scales every 3rd value by 1.4 —
    the per-bin ref/cur fractions, TV contributions and chi-square
    contributions must localize the mass that moved. Bins derived from
    the reference min-max (lazy 1-row broadcast); chi2 undefined
    (NULL) where the reference has no mass. Oracle-exact."""
    from orientdb_spark.pipeline.profile import distribution_drift

    ev = _engine(spark, sf_dir).table("events")
    ref = ev.filter(F.col("event_id") % 2 == 0).select("value")
    cur = ev.filter(F.col("event_id") % 2 == 1).select(
        F.when(
            F.col("event_id") % 3 == 0, F.col("value") * F.lit(1.4)
        ).otherwise(F.col("value")).alias("value")
    )
    return distribution_drift(ref, cur, "value", n_bins=10)


def _dp_counts_oracle_sql(epsilon: float = 1.0, seed: int = 42) -> str:
    """Laplace-mechanism replay (pipeline/profile.dp_noisy_counts):
    h60-seeded uniform -> inverse-CDF Laplace, left-assoc multiply
    chain matching the Column expression."""
    key = _dk_h60(f"'dp:{seed}:' || lang")
    b = repr(-1.0 / float(epsilon))
    return (
        "WITH c AS (SELECT lang, count(*)::BIGINT AS n_true "
        "FROM documents GROUP BY lang), "
        f"u AS (SELECT lang, n_true, (({key})::DOUBLE + 0.5) / "
        "1152921504606846976.0 AS uu FROM c) "
        "SELECT lang, n_true, round(n_true + "
        f"{b} * sign(uu - 0.5) * ln(1.0 - 2.0 * abs(uu - 0.5)) "
        "+ 1e-12, 6) AS noisy_count FROM u"
    )


@register(
    "profile_dp_counts",
    tags=("sf_scale",),
    oracle=_dp_counts_oracle_sql(epsilon=1.0, seed=42),
)
def _profile_dp_counts(spark, sf_dir):
    """Laplace-mechanism noisy group counts
    (pipeline/profile.dp_noisy_counts, Dwork et al. 2006) with
    DETERMINISTIC seeded noise: inverse-CDF Laplace on a (seed, group)
    h60 uniform, so the DuckDB replay walks the identical arithmetic
    (ln is the only libm call — the lm_score parity precedent)."""
    from orientdb_spark.pipeline import profile

    return profile.dp_noisy_counts(
        _docs(spark, sf_dir), group_col="lang", epsilon=1.0, seed=42
    )


@register("profile_json_keys", oracle=(
    "WITH fx AS (SELECT '{\"k\": ' || json_extract_string(props, '$.k') || "
    "', \"et\": \"' || event_type || '\"' || "
    "CASE WHEN user_id % 5 = 0 THEN ', \"vip\": \"y\"' ELSE '' END || '}' "
    "AS props2 FROM events), "
    "kv AS (SELECT u.key AS key, "
    "json_extract_string(props2, '$.' || u.key) AS value "
    "FROM fx, unnest(json_keys(props2)) AS u(key)) "
    "SELECT key, count(*)::BIGINT AS n_present, "
    "count(DISTINCT value)::BIGINT AS n_distinct_values, "
    "count(try_cast(value AS DOUBLE))::BIGINT AS n_numeric "
    "FROM kv GROUP BY key"
))
def _profile_json_keys(spark, sf_dir):
    """Semi-structured schema discovery (pipeline/profile.json_profile):
    the corpus props carry a single key, so the entry derives a richer
    JSON fixture from the event columns (numeric key, string key, a
    conditionally-present key) — the same in-entry derivation pattern as
    the boilerplate/PII fixtures. One from_json parse per row, exploded,
    one key groupBy; the oracle re-derives the fixture and walks it with
    DuckDB's json functions."""
    from orientdb_spark.pipeline.profile import json_profile

    ev = _engine(spark, sf_dir).table("events")
    fixture = ev.select(
        F.concat(
            F.lit('{"k": '),
            F.get_json_object("props", "$.k"),
            F.lit(', "et": "'),
            F.col("event_type"),
            F.lit('"'),
            F.when(F.col("user_id") % 5 == 0, F.lit(', "vip": "y"')).otherwise(
                F.lit("")
            ),
            F.lit("}"),
        ).alias("props2")
    )
    return json_profile(fixture, "props2")


@register("profile_k_anonymity", oracle=(
    "SELECT event_type, floor(value / 20)::BIGINT AS value_band, "
    "count(*)::BIGINT AS class_size, (count(*) < 5) AS violates_k "
    "FROM events GROUP BY 1, 2"
))
def _profile_k_anonymity(spark, sf_dir):
    """k-anonymity audit (pipeline/profile.k_anonymity) over the
    (event_type, value band) quasi-identifier pair at k=5 — equivalence
    class sizes with violation flags."""
    from orientdb_spark.pipeline.profile import k_anonymity

    ev = _engine(spark, sf_dir).table("events")
    fixture = ev.select(
        "event_type", F.floor(F.col("value") / 20).cast("long").alias("value_band")
    )
    return k_anonymity(fixture, ["event_type", "value_band"], k=5)


@register("profile_l_diversity", tags=("sf_scale",), oracle=(
    "WITH vc AS (SELECT event_type, "
    "floor(value / 20)::BIGINT AS value_band, "
    "user_id % 97 AS sv, count(*)::BIGINT AS n "
    "FROM events GROUP BY 1, 2, 3) "
    "SELECT event_type, value_band, sum(n)::BIGINT AS class_size, "
    "count(*)::BIGINT AS l_distinct, max(n)::BIGINT AS top_sensitive_n, "
    "(count(*) < 3) AS violates_l FROM vc GROUP BY 1, 2"
))
def _profile_l_diversity(spark, sf_dir):
    """l-diversity audit (pipeline/profile.l_diversity, Machanavajjhala
    et al. 2006) over the same (event_type, value band) quasi-identifier
    pair as the k-anonymity entry, with the user cohort (user_id % 97)
    as the sensitive attribute at l=3 — class sizes, distinct-sensitive
    counts, and the modal sensitive count a recursive (c,l) check
    reads. Two stacked integer aggregations; oracle-exact trivially."""
    from orientdb_spark.pipeline.profile import l_diversity

    ev = _engine(spark, sf_dir).table("events")
    fixture = ev.select(
        "event_type",
        F.floor(F.col("value") / 20).cast("long").alias("value_band"),
        (F.col("user_id") % 97).alias("cohort"),
    )
    return l_diversity(fixture, ["event_type", "value_band"], "cohort", l=3)


@register("profile_stat_drift", oracle=(
    "WITH o AS (SELECT count(*)::BIGINT AS n, "
    "sum((value IS NULL)::INT) / count(*) AS nf_value, avg(value) AS m_value, "
    "sum((props IS NULL)::INT) / count(*) AS nf_props, "
    "avg(try_cast(props AS DOUBLE)) AS m_props FROM events), "
    "nw AS (SELECT count(*)::BIGINT AS n, "
    "sum((v IS NULL)::INT) / count(*) AS nf_value, avg(v) AS m_value, "
    "sum((p IS NULL)::INT) / count(*) AS nf_props, "
    "avg(try_cast(p AS DOUBLE)) AS m_props FROM ("
    "SELECT value + CASE WHEN event_type = 'click' THEN 5.0 ELSE 0.0 END AS v, "
    "CASE WHEN user_id % 7 = 0 THEN NULL ELSE props END AS p FROM events)) "
    "SELECT 'value' AS column, o.n AS old_n, nw.n AS new_n, "
    "round(o.nf_value, 6) AS old_null_frac, round(nw.nf_value, 6) AS new_null_frac, "
    "round(o.m_value, 6) AS old_mean, round(nw.m_value, 6) AS new_mean, "
    "round(nw.m_value - o.m_value, 6) AS mean_shift FROM o, nw "
    "UNION ALL SELECT 'props', o.n, nw.n, round(o.nf_props, 6), "
    "round(nw.nf_props, 6), round(o.m_props, 6), round(nw.m_props, 6), "
    "round(nw.m_props - o.m_props, 6) FROM o, nw"
))
def _profile_stat_drift(spark, sf_dir):
    """Snapshot drift audit (pipeline/profile.stat_drift): the new
    snapshot injects a +5 mean shift on click values and nulls every
    7th user's props — the audit must surface exactly those deltas.
    One aggregate pass per side, stack-reshaped."""
    from orientdb_spark.pipeline.profile import stat_drift

    ev = _engine(spark, sf_dir).table("events")
    new = ev.select(
        (
            F.col("value")
            + F.when(F.col("event_type") == "click", F.lit(5.0)).otherwise(F.lit(0.0))
        ).alias("value"),
        F.when(F.col("user_id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("props"))
        .alias("props"),
    )
    return stat_drift(ev.select("value", "props"), new, ["value", "props"])


@register("profile_value_histogram", oracle=(
    "WITH s AS (SELECT min(value::DOUBLE) AS lo, max(value::DOUBLE) AS hi "
    "FROM events), "
    "b AS (SELECT (CASE WHEN hi = lo THEN 0 ELSE "
    "least(floor((value::DOUBLE - lo) / ((hi - lo) / 20)), 19) END)::INTEGER "
    "AS bin, lo, hi FROM events, s) "
    "SELECT bin, round(lo + bin * (hi - lo) / 20, 6) AS bin_lo, "
    "round(lo + (bin + 1) * (hi - lo) / 20, 6) AS bin_hi, "
    "count(*)::BIGINT AS n FROM b GROUP BY bin, lo, hi"
))
def _profile_value_histogram(spark, sf_dir):
    """Equi-width 20-bin histogram of events.value
    (pipeline/profile.histogram): global min/max ride back as a
    broadcast one-row cross join; identical IEEE expression order on
    both engines keeps boundary values in the same bin."""
    from orientdb_spark.pipeline.profile import histogram

    return histogram(_engine(spark, sf_dir).table("events"), "value", bins=20)
