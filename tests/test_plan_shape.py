"""Plan-shape regression tests: the scale properties the engine claims
(filter pushdown to the parquet scan, column pruning, shuffle-free
single-pass text ops) asserted against the actual Catalyst plans, so a
future refactor that silently un-pushes a filter or adds an exchange
fails here rather than only showing up as a bench regression.
"""

from __future__ import annotations

import re

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

QUERIES = entrymod.queries()


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _nodes(plan: str, name: str) -> int:
    # formatted explain prints each node in the tree AND in the detail
    # section — count the numbered detail headers only
    return len(re.findall(rf"^\(\d+\) {name}", plan, flags=re.MULTILINE))


def test_tpch_q6_pushdown_and_pruning(spark):
    plan = _formatted(QUERIES["tpch_q6_forecast"](spark, SF_DIR))
    # the date/discount/quantity predicates must reach the parquet reader
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:", 1)[1].splitlines()[0]
    assert "l_shipdate" in pushed or "l_discount" in pushed, pushed
    # the scan must not read the wide comment column for a 4-column query
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_comment" not in read and "l_shipdate" in read, read


def test_filter_projection_pushdown(spark):
    plan = _formatted(QUERIES["filter_projection"](spark, SF_DIR))
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:", 1)[1].splitlines()[0]
    assert "n_regionkey" in pushed, pushed
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "n_comment" not in read, read


def test_text_quality_is_single_pass(spark):
    """quality_score is one scan + codegen projections — any Exchange
    here means someone introduced a shuffle into a per-row operator."""
    plan = _formatted(QUERIES["text_quality_score"](spark, SF_DIR))
    assert _nodes(plan, "Exchange") == 0, plan
    assert _nodes(plan, "Scan parquet") == 1


def test_split_assign_is_shuffle_free(spark):
    """Deterministic split assignment is a pure per-row hash — the
    100 TB contract is exactly 'no shuffle, no RNG state'."""
    plan = _formatted(QUERIES["sample_split_assign"](spark, SF_DIR))
    assert _nodes(plan, "Exchange") == 0, plan


def test_winnow_fingerprints_shuffle_only_for_digest(spark):
    """The fingerprint generation itself is columnar (scan + generate);
    the single allowed exchange is the digest groupBy in the entry."""
    plan = _formatted(QUERIES["text_winnow_fingerprint"](spark, SF_DIR))
    assert _nodes(plan, "Exchange") <= 1, plan


def test_line_quality_and_pii_zero_exchange(spark):
    """line_quality and pii_scan are single-projection array/regex ops —
    the whole pass must ride the parquet scan with no shuffle."""
    for name in ("text_line_quality", "text_pii_redact"):
        plan = _formatted(QUERIES[name](spark, SF_DIR))
        assert _nodes(plan, "Exchange") == 0, (name, plan)
        assert _nodes(plan, "Scan parquet") == 1, name


def test_strip_boilerplate_bounded_exchanges(spark):
    """Boilerplate removal: detection groupBy + reassembly groupBy are
    the only corpus-sized shuffles; the boilerplate set itself must join
    in as a broadcast, never a shuffle join."""
    plan = _formatted(QUERIES["text_boilerplate"](spark, SF_DIR))
    assert _nodes(plan, "BroadcastHashJoin") >= 1, plan
    assert _nodes(plan, "SortMergeJoin") == 0, plan
    # corpus shuffles: line-frequency agg + per-source totals + final
    # reassembly (partial aggs make each a single pair of exchanges)
    assert _nodes(plan, "Exchange") <= 4, plan


def _graph_fixture(spark):
    from orientdb_spark import Engine
    from orientdb_spark.graph import tpch_graph

    eng = Engine(spark)
    eng.register_parquet_dir(SF_DIR)
    return tpch_graph(eng)


def _exchange_keys(plan: str) -> list[str]:
    """First partitioning column of every shuffle Exchange in a formatted
    plan (the detail section prints 'Arguments: hashpartitioning(col#id, …)')."""
    return re.findall(r"Arguments: hashpartitioning\(([a-zA-Z_]+)#", plan)


def test_cc_phases_single_window_exchange(spark, monkeypatch):
    """The one-exchange-per-phase discipline of star contraction
    (graph.py:_large_star/_small_star): per-u minima ride a window over
    ONE hashpartitioning(u) exchange — a regression back to groupBy+join
    (second exchange kind) or a separate dropDuplicates (an (u,v)
    exchange) fails here. Checkpoints are neutralized so the full
    lineage is visible to explain."""
    from pyspark.sql import functions as F

    from orientdb_spark.graph import Graph

    g = _graph_fixture(spark)
    monkeypatch.setattr(
        type(g.edges), "localCheckpoint", lambda self, eager=True: self
    )
    e = g.edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    large = _formatted(Graph._large_star(e))
    assert _nodes(large, "Exchange") == 1, large
    assert _exchange_keys(large) == ["u"]
    # small-star: the same single logical u-shuffle appears once per
    # union branch in the static plan (AQE stage-dedup reuses it at
    # runtime); the load-bearing claim is that EVERY exchange partitions
    # on u — min, row_number, and the dedup all share it, and no
    # dropDuplicates-style (u,v) exchange exists
    small = _formatted(Graph._small_star(e))
    keys = _exchange_keys(small)
    assert keys and set(keys) == {"u"}, small
    assert _nodes(small, "Exchange") <= 2, small


def test_pagerank_one_ranks_exchange_per_iteration(spark, monkeypatch):
    """PageRank's per-iteration shuffle budget (graph.py:pagerank): the
    message groupBy is the ONLY per-iteration exchange of rank state —
    exactly one new hashpartitioning(vid) exchange per extra iteration.
    (src-keyed exchanges in the static plan are the adjacency build,
    re-inlined per join by explain but built once at runtime via
    persist; the dangling-mass union adds none.)"""
    g = _graph_fixture(spark)
    monkeypatch.setattr(
        type(g.edges), "localCheckpoint", lambda self, eager=True: self
    )
    vid_counts = []
    for k in (1, 2, 3):
        plan = _formatted(g.pagerank(iterations=k))
        vid_counts.append(sum(c == "vid" for c in _exchange_keys(plan)))
    assert vid_counts == [1, 2, 3], vid_counts


def test_hierarchical_rollup_single_raw_scan(spark):
    """The continuous-aggregate claim: only the finest level reads the
    source — three resolutions, ONE scan in the plan."""
    from orientdb_spark.streaming import hierarchical_rollup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = (
        hierarchical_rollup(ev)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the checkpointed levels surface as RDD scans; the raw parquet
    # relation must appear at most once across all three resolutions
    assert plan.count("Relation") <= 1, plan


def test_duplicate_spans_two_exchanges(spark):
    """duplicate_spans claims exactly two shuffles: one on the gram key
    (dense_rank/max doc-frequency windows share it) and one on the doc
    key (island merge window + span groupBy share it via partial agg)."""
    from pyspark.sql import functions as F

    from orientdb_spark.pipeline.dedup import duplicate_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    plan = _formatted(duplicate_spans(docs, n=5, min_df=2))
    assert _nodes(plan, "Exchange") == 2, plan
    assert _nodes(plan, "Scan parquet") == 1


def test_sssp_linear_exchange_growth(spark, monkeypatch):
    """shortest_paths' per-round shuffle budget is LINEAR: two vid
    exchanges per relaxation round (state-join alignment + message
    min-groupBy) over the one-time self-loop-carrier distinct. Round 1's
    state is the sources' local frame, whose known size makes its join a
    broadcast: no alignment exchange there. The self-loop carry is
    load-bearing — the naive union carry references the state twice per
    round and the inlined plan doubles (2^k)."""
    g = _graph_fixture(spark)
    monkeypatch.setattr(
        type(g.edges), "localCheckpoint", lambda self, eager=True: self
    )
    src = [g.vertices.limit(1).collect()[0]["vid"]]
    vid_counts = []
    for k in (1, 2, 3):
        plan = _formatted(g.shortest_paths(src, iterations=k))
        vid_counts.append(sum(c == "vid" for c in _exchange_keys(plan)))
    assert vid_counts == [2, 4, 6], vid_counts


def test_m4_downsample_single_exchange(spark):
    """M4 is one partial-agg groupBy — a second Exchange would mean the
    endpoint picks (min_by/max_by) forced an extra pass."""
    from orientdb_spark.temporal import m4_downsample

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = m4_downsample(ev, on=["user_id"], bucket_sec=86400)
    plan = _formatted(out)
    assert _nodes(plan, "Exchange") == 1, plan


def test_time_weighted_average_single_exchange(spark):
    """The lead() window's hash partitioning must be reused by the
    groupBy — the single-shuffle claim in temporal.py."""
    from orientdb_spark.temporal import time_weighted_average

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = time_weighted_average(ev, on=["user_id"])
    plan = _formatted(out)
    assert _nodes(plan, "Exchange") == 1, plan


def test_pq_topk_precomputed_codes_never_reads_vectors(spark):
    """The PQ serving claim: with prebuilt codebooks + codes the query
    path scans CODES only — the corpus embedding column must not appear
    in any parquet ReadSchema, and the only exchange is the per-query
    ranking window."""
    import tempfile

    from pyspark.sql import functions as F

    from orientdb_spark.pipeline.quantize import pq_encode, pq_fit, pq_topk

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_fit(embs, m=8, k=16, refine_iters=0)
    with tempfile.TemporaryDirectory() as d:
        codes_path = f"{d}/codes.parquet"
        pq_encode(embs, books).write.parquet(codes_path)
        codes = spark.read.parquet(codes_path)
        q = embs.filter(F.col("vec_id") < 3)
        out = pq_topk(embs, q, k=3, codebooks=books, codes=codes)
        plan = _formatted(out)
        # corpus side reads the codes file only; 'embedding' appears in
        # no ReadSchema except the 3-row query side's own scan
        reads = [
            seg.splitlines()[0]
            for seg in plan.split("ReadSchema:")[1:]
        ]
        corpus_reads = [r for r in reads if "codes" in r]
        assert corpus_reads, f"no codes scan found: {reads}"
        assert all("embedding" not in r for r in corpus_reads)
        # exactly one Exchange (the rank window on query_id, map-side
        # pruned by WindowGroupLimit): broadcast of the tiny query side
        # doesn't count as a shuffle exchange
        assert _nodes(plan, "Exchange") <= 1, plan


def test_ivf_build_has_no_corpus_self_join(spark):
    """IvfIndex.build (r14): the cell assignment is computed DIRECTLY
    on the cell frame — the old corpus ⋈ assignments formulation was a
    corpus self-join on id (two exchanges + a second corpus scan per
    index build) whose probe side was just the corpus plus the
    _assign_udf column. The one-shot ivf_topk plan must carry only the
    two ranking windows' exchanges and no join between two corpus
    scans."""
    from pyspark.sql import functions as F

    from orientdb_spark.pipeline import similarity as S

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = S.ivf_topk(
        embs, embs.filter(F.col("vec_id") < 3), k=3, n_cells=4, nprobe=4,
        refine_iters=0,
    )
    plan = _formatted(out)
    assert _nodes(plan, "SortMergeJoin") == 0, plan
    # probe window + per-query rank window; the centroid probe and the
    # probes->cells attach are broadcasts, not shuffles
    assert _nodes(plan, "Exchange") <= 2, plan


def test_topk_rank_window_group_limit_prunes_map_side(spark):
    """The scale-safe top-k contract (common.per_query_topk_rank): the
    per-query exchange must NOT receive the full scored corpus.
    Catalyst's InferWindowGroupLimit (Spark 3.5+) provides exactly this
    when the rank filter sits directly above the window: a
    WindowGroupLimit(Partial) on the MAP side prunes every task's
    output to <= k rows per query BEFORE the shuffle (so the exchange
    receives <= Q*P*k rows and the reduce-side sort handles <= P*k rows
    per query), and a Final pass runs after. The r9 A/B (BENCH.md)
    measured an explicit salted two-phase rank at +19% wall-clock over
    this native form at sf1/Q=64 — this pin keeps the inference alive:
    a refactor that breaks it (e.g. a projection between the filter and
    the window) fails here."""
    import re

    from pyspark.sql import functions as F

    from orientdb_spark.pipeline.similarity import brute_force_topk

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = brute_force_topk(embs, embs.filter(F.col("vec_id") < 3), k=5)
    plan = _formatted(out)
    # exactly one rank window over exactly one query_id-keyed exchange
    assert len(re.findall(r"^\(\d+\) Window$", plan, flags=re.MULTILINE)) == 1, plan
    parts = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(parts) == 1 and parts[0].startswith("query_id#"), plan
    # the group-limit pair: a Partial pass (by definition the map-side,
    # pre-shuffle variant — it prunes each task to k rows per query)
    # and a Final pass after the exchange
    assert _nodes(plan, "WindowGroupLimit") == 2, plan
    assert "row_number(), 5, Partial" in plan, plan
    assert "row_number(), 5, Final" in plan, plan


def test_semantic_dedup_plan_shape(spark):
    """SemDeDup's scale contract: the within-cell verify rides the
    grouped Arrow verifier (ONE FlatMapGroupsInPandas; members fan out
    to their own cell only), the corpus is never self-joined (no
    CartesianProduct / BroadcastNestedLoopJoin — the oracle's quadratic
    within-cell join is the ORACLE'S shape, not the engine's), and the
    whole query runs in three hash exchanges (verify groupBy, dropped
    distinct, flags join)."""
    from orientdb_spark.pipeline.dedup import semantic_dedup

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = semantic_dedup(embs, threshold=0.3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("+- Exchange hashpartitioning") <= 3, plan


def test_global_topk_is_take_ordered(spark):
    """Global top-k selections (dsir_resample, global weighted_sample)
    must compile to TakeOrderedAndProject — per-task k-heaps merged on
    the driver — NOT a partition-less rank window, which funnels every
    row through one partition (Catalyst's InferWindowGroupLimit needs a
    non-constant partition spec: verified here both that the inference
    does NOT fire on Window.orderBy-without-partitionBy and that the
    operators avoid that shape)."""
    from pyspark.sql import Window, functions as F

    from orientdb_spark.pipeline import sampling

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tgt = docs.filter(F.col("lang") == "en")
    plan = (
        sampling.dsir_resample(docs, tgt, k=50)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan
    wplan = (
        sampling.weighted_sample(docs, weight_col="n_chars", k=20)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in wplan, wplan
    assert "Window" not in wplan, wplan
    # the grouped path keeps the map-side group limit
    gplan = (
        sampling.weighted_sample(docs, weight_col="n_chars", k=20, group_col="source")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert gplan.count("WindowGroupLimit") == 2, gplan
    # and document the Catalyst behavior this guards against: the
    # inference does not fire without a real partition key
    w = Window.orderBy(F.col("n_chars").desc())
    bare = (
        docs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" not in bare
    # the other global top-k surfaces fixed in the same sweep
    from orientdb_spark.pipeline.text import cooccurrence
    from orientdb_spark.scale import quantile_sketch_build

    cplan = (
        cooccurrence(docs, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in cplan and "Window" not in cplan, cplan
    qplan = (
        quantile_sketch_build(docs, value_col="n_chars", id_col="doc_id", b=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in qplan and "Window" not in qplan, qplan


def test_bm25_topk_plan_shape(spark):
    """BM25's scale contract (text.bm25_topk): the per-query rank must
    ride WindowGroupLimit (filter directly above the window), the
    query-vocabulary restriction and corpus stats must broadcast (never
    shuffle the postings against a tiny term list), and nothing may
    cartesian beyond the two 1-row stats crossJoins (the
    tfidf_top_terms N pattern)."""
    from pyspark.sql import functions as F  # noqa: F811

    from orientdb_spark.pipeline.text import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    qdf = spark.createDataFrame(
        [(1, "filter merge join"), (2, "slow query batch")],
        "query_id bigint, query_text string",
    )
    plan = _formatted(bm25_topk(docs, qdf, k=10))
    assert _nodes(plan, "WindowGroupLimit") == 2, plan
    assert "row_number(), 10, Partial" in plan and "row_number(), 10, Final" in plan
    assert _nodes(plan, "CartesianProduct") == 0, plan
    # the only nested-loop nodes are the two single-row stats joins
    assert _nodes(plan, "BroadcastNestedLoopJoin") <= 2, plan
    assert _nodes(plan, "SortMergeJoin") == 0, plan


def test_unimax_plan_single_member_window(spark):
    """unimax_sample's scale contract: the corpus-sized side sees ONE
    window (the member hash-rank over the group key) and ONE broadcast
    join (the S-row quota table); the waterfill windows all run over
    the S-row aggregate, never the corpus."""
    import re  # noqa: F811

    from orientdb_spark.pipeline.sampling import unimax_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _formatted(unimax_sample(docs, total=200, epoch_cap=0.5))
    # member-rank window partitioned by the group key
    parts = re.findall(r"hashpartitioning\(lang#", plan)
    assert parts, plan
    assert _nodes(plan, "BroadcastHashJoin") == 1, plan
    assert _nodes(plan, "SortMergeJoin") == 0, plan
    assert _nodes(plan, "CartesianProduct") == 0, plan


def test_gopher_rules_plan_zero_exchanges(spark):
    """gopher_rules' scale contract: the whole rule table is one
    per-row projection — zero exchanges, zero joins, zero windows;
    a single scan feeds one codegen span."""
    from orientdb_spark.pipeline.text import gopher_rules

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _formatted(gopher_rules(docs))
    assert _nodes(plan, "Exchange") == 0, plan
    assert _nodes(plan, "Window") == 0, plan
    assert "Join" not in plan, plan


def test_readability_zero_exchange(spark):
    """readability is a pure per-row projection — any Exchange means a
    shuffle crept into a scan-bound operator."""
    plan = _formatted(QUERIES["text_readability"](spark, SF_DIR))
    assert _nodes(plan, "Exchange") == 0, plan
    assert _nodes(plan, "Scan parquet") == 1


def test_length_buckets_single_exchange(spark):
    """length_buckets is one scan + a literal CASE + ONE
    map-side-combinable groupBy (partial_count in the plan)."""
    plan = _formatted(QUERIES["sample_length_buckets"](spark, SF_DIR))
    assert _nodes(plan, "Exchange") == 1, plan
    assert "partial_count" in plan


def test_zone_map_audit_two_bounded_exchanges(spark):
    """The zone-map audit is TWO exchanges: the 1-row zorder min/max
    reduce (broadcast back as a nested-loop over one row) and the
    per-file groupBy — the zkey projection itself never shuffles."""
    plan = _formatted(QUERIES["scale_zone_map_audit"](spark, SF_DIR))
    assert _nodes(plan, "Exchange") == 2, plan
    assert _nodes(plan, "BroadcastNestedLoopJoin") == 1, plan


def test_l_diversity_no_expand_distinct(spark):
    """l-diversity is two STACKED groupBys — no Expand node (the
    count_distinct rewrite) and no distinct shuffle of raw rows."""
    plan = _formatted(QUERIES["profile_l_diversity"](spark, SF_DIR))
    assert _nodes(plan, "Expand") == 0, plan
    assert _nodes(plan, "Exchange") <= 2, plan


def test_attribution_single_window_exchange(spark):
    """last_touch_attribution is ONE user-keyed window exchange — the
    asof carry-forward pattern; a join-based rewrite would show here."""
    plan = _formatted(QUERIES["event_attribution"](spark, SF_DIR))
    assert _nodes(plan, "Exchange") == 1, plan
    assert _nodes(plan, "Window") == 1, plan


def test_pr_eval_labels_join_is_broadcast(spark):
    """pr_eval's labels join must broadcast (an eval set is panel-sized);
    a sort-merge join here would shuffle the ranked side."""
    plan = _formatted(QUERIES["sim_pr_eval"](spark, SF_DIR))
    assert _nodes(plan, "BroadcastHashJoin") >= 1, plan
    # (the residual SortMergeJoin joins two <= nq-row per-query
    # aggregates — panel-sized by construction, not the ranked side)
