"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps one entry per implemented operator from SURVEY.md §2
(plus the training-data pipeline operators) to a callable
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB-
runnable ANSI equivalent. Entries without an oracle are the genuinely
non-SQL-expressible ops (approximate sketches, LSH ANN, PageRank, the
multimodal decode stub) — the driver records the weaker rows-only check
for those.

Engine-dialect queries run through the orientdb_spark parser/compiler —
they exercise the whole stack, not hand-built DataFrames.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from orientdb_spark.session import local_frame

# --- engine plumbing ---------------------------------------------------------

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


# --- flagship ----------------------------------------------------------------

_Q1 = (
    "select l_returnflag, l_linestatus, round(sum(l_quantity), 2) as sum_qty, "
    "round(sum(l_extendedprice), 2) as sum_base_price, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price, "
    "round(avg(l_quantity), 6) as avg_qty, round(avg(l_discount), 6) as avg_disc, "
    "count(*) as count_order from lineitem where l_shipdate <= '1998-09-02' "
    "group by l_returnflag, l_linestatus order by l_returnflag, l_linestatus"
)

_Q1_ORACLE = (
    "select l_returnflag, l_linestatus, round(sum(l_quantity), 2) as sum_qty, "
    "round(sum(l_extendedprice), 2) as sum_base_price, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price, "
    "round(avg(l_quantity), 6) as avg_qty, round(avg(l_discount), 6) as avg_disc, "
    "count(*) as count_order from lineitem where l_shipdate <= timestamp '1998-09-02' "
    "group by l_returnflag, l_linestatus order by l_returnflag, l_linestatus"
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _engine(spark, "/root/testdata/sf0.001").sql(_Q1)


# --- python-side query impls -------------------------------------------------


def _dictionary_get(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.dictionary.put("capital-key", "region", (eng.catalog.get("region").cluster_id, 2))
    df = eng.dictionary.get_record("capital-key")
    return df.select("r_regionkey", "r_name")


def _json_roundtrip(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    df = eng.table("nation")
    js = df.select(F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("js"))
    return js.select(F.from_json("js", df.schema).alias("d")).select("d.*")


def _export_import_diff(spark, sf_dir):
    # whole-class JSON dump (with @rid/@class/@version) → reload →
    # structural diff (ODatabaseExport/Import/Compare, SURVEY §2.1) —
    # diff must be empty both directions
    from orientdb_spark.tools import compare_classes, export_class, import_class

    eng = _fresh_engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ospark_export_")
    export_class(eng, "nation", f"{tmp}/nation")
    import_class(eng, "nation_reimport", f"{tmp}/nation")
    return compare_classes(eng, "nation", "nation_reimport").drop("__side")


def _db_save_open_roundtrip(spark, sf_dir):
    # storage layer: save (parquet per class + JSON catalog) → open in a
    # fresh engine; DML lineage collapsed, schema + versions restored.
    # Engines hold ONLY the class under test — save_database persists
    # every registered class, so registering the full TPC-H set here
    # would write ten parquet tables to disk for a one-table check.
    from orientdb_spark import Engine

    eng = Engine(spark)
    eng.register_dataframe("regionsave", spark.read.parquet(f"{sf_dir}/region.parquet"))
    eng.command("update regionsave set r_name = r_name.append('_S') where r_regionkey <= 1")
    db = tempfile.mkdtemp(prefix="ospark_dbrt_")
    eng.save_database(db)
    eng2 = Engine(spark)
    eng2.open_database(db)
    return eng2.sql(
        "select r_regionkey, r_name, @version as ver from regionsave order by r_regionkey"
    )


def _json_metadata_export(spark, sf_dir):
    # ORecordSerializerJSON metadata parity: the JSON dump carries
    # @rid ('#cluster:pos' literal), @class, @version keys
    from orientdb_spark.tools import export_class

    eng = _fresh_engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ospark_jsonmeta_")
    export_class(eng, "nation", f"{tmp}/nation")
    back = spark.read.json(f"{tmp}/nation")
    return back.select(
        F.col("`@rid`").alias("rid"),
        F.col("`@class`").alias("cls"),
        F.col("`@version`").alias("ver"),
        "n_nationkey",
    ).orderBy("n_nationkey")


def _embedded_struct_nav(spark, sf_dir):
    # EMBEDDED type: nested document owned by the parent → StructType
    # column navigated with dotted paths (SURVEY §1.2 EMBEDDED row)
    eng = _fresh_engine(spark, sf_dir)
    docs = eng.table("orders").select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"), F.col("o_totalprice").alias("total")
        ).alias("info"),
    )
    eng.register_dataframe("ordersemb", docs, rid_pos=lambda df: F.col("o_orderkey"))
    return eng.sql(
        "select o_orderkey, info.status as status, round(info.total, 2) as total "
        "from ordersemb where info.total > 5000 order by o_orderkey"
    )


def _flat_record(spark, sf_dir):
    # ORecordFlat: single opaque string payload (SURVEY §1.1) — one
    # `value` column, queried through method chains
    eng = _fresh_engine(spark, sf_dir)
    eng.register_dataframe(
        "flatdocs", eng.table("documents").select(F.col("text").alias("value"))
    )
    return eng.sql("select value.length() as len, value.left(10) as head from flatdocs")


def _bytes_record(spark, sf_dir):
    # ORecordBytes: raw byte blob → BinaryType column (SURVEY §1.1)
    eng = _fresh_engine(spark, sf_dir)
    blobs = eng.table("documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("blob")
    )
    eng.register_dataframe("docblobs", blobs, rid_pos=lambda df: F.col("doc_id"))
    return eng.sql("select doc_id, blob.length() as n_bytes from docblobs order by doc_id")


def _polymorphic_scan(spark, sf_dir):
    # class inheritance: scanning the base class unions all subclass
    # tables (polymorphicClusterIds, OClass.java:294)
    eng = _fresh_engine(spark, sf_dir)
    base = spark.read.parquet(f"{sf_dir}/region.parquet").select(
        F.col("r_regionkey").alias("key"), F.col("r_name").alias("name")
    )
    sub = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").alias("key"), F.col("n_name").alias("name")
    )
    eng.register_dataframe("place", base)
    eng.register_dataframe("nationplace", sub, super_class="place")
    return eng.sql("select key, name from place order by name")


def _event_session_window(spark, sf_dir):
    from orientdb_spark.streaming import sessionize_stream

    out = sessionize_stream(_engine(spark, sf_dir).table("events"), gap="30 minutes")
    return out.withColumn("session_start", F.date_trunc("second", F.col("session_start")))


def _contains_condition(spark, sf_dir):
    # CONTAINS with an inner condition over collection elements
    # (core:sql/operator/OQueryOperatorContains.java:39-66)
    eng = _fresh_engine(spark, sf_dir)
    items = (
        eng.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_list(F.struct("l_returnflag", "l_quantity")).alias("items"))
    )
    eng.register_dataframe("orderitems", items)
    return eng.sql(
        "select l_orderkey from orderitems where items contains (l_quantity > 49) "
        "order by l_orderkey"
    )


def _containstext_indexed(spark, sf_dir):
    from orientdb_spark.fulltext import build_fulltext_index, containstext_semijoin

    eng = _fresh_engine(spark, sf_dir)
    build_fulltext_index(eng, "documents", "text")
    hit = containstext_semijoin(eng, "documents", "text", "spark")
    return hit.select("doc_id", "n_chars").orderBy("doc_id")


def _fulltext_dml_maintenance(spark, sf_dir):
    """Index maintenance under DML, end-to-end (reference analog
    core:index/OPropertyIndexManager.java — index updates ride the write
    path as hooks): create a FULLTEXT index, then UPDATE text (adds a
    token that exists nowhere else in the corpus) and DELETE a sub-range;
    the containstext query auto-routes through the inverted index, so a
    stale index returns wrong rows, not just slow ones. The oracle states
    the post-DML ground truth directly."""
    eng = _fresh_engine(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eng.register_dataframe("ftcorpus", docs, rid_pos=lambda df: F.col("doc_id"))
    eng.command("create index ftcorpus.text fulltext")
    eng.command("update ftcorpus set text = text.append(' zeppelin') where doc_id < 60")
    eng.command("delete from ftcorpus where doc_id >= 30 and doc_id < 45")
    return eng.sql(
        "select doc_id from ftcorpus where text containstext 'zeppelin' order by doc_id"
    )


def _create_link_materialize(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.register_dataframe(
        "nationtmp",
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
        cluster_id=41,
        rid_pos=lambda df: F.col("n_nationkey"),
    )
    eng.register_dataframe(
        "regiontmp",
        spark.read.parquet(f"{sf_dir}/region.parquet"),
        cluster_id=42,
        rid_pos=lambda df: F.col("r_regionkey"),
    )
    eng.command("create link region_ref from nationtmp.n_regionkey to regiontmp.r_regionkey")
    return eng.sql(
        "select n_nationkey, region_ref.cluster as link_cluster, "
        "region_ref.pos as link_pos from nationtmp order by n_nationkey"
    )


def _fetchplan_prefetch(spark, sf_dir):
    from orientdb_spark.fetchplan import fetch

    eng = _engine(spark, sf_dir)
    df = fetch(eng, "orders", "o_custkey:2")  # reference string plan form
    return df.select(
        "o_orderkey",
        F.col("o_custkey__doc.c_name").alias("c_name"),
        F.col("o_custkey__doc.c_nationkey__doc.n_name").alias("n_name"),
    )


def _window_rank_topn(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        eng.table("orders")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


def _set_operations(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    a = (
        eng.table("customer")
        .filter(F.col("c_acctbal") > 9500)
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    b = (
        eng.table("supplier")
        .filter(F.col("s_acctbal") > 9500)
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    return (
        a.union(b).distinct().select(F.lit("union").alias("op"), "nationkey")
        .unionByName(a.intersect(b).select(F.lit("intersect").alias("op"), "nationkey"))
        .unionByName(a.subtract(b).select(F.lit("except").alias("op"), "nationkey"))
    )


def _dml_insert(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.register_dataframe("nationtmp", spark.read.parquet(f"{sf_dir}/nation.parquet"))
    eng.command(
        "insert into nationtmp (n_nationkey, n_name, n_regionkey) values (99, 'ATLANTIS', 0)"
    )
    return eng.table("nationtmp")


def _dml_update(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.register_dataframe("regiontmp", spark.read.parquet(f"{sf_dir}/region.parquet"))
    eng.command("update regiontmp set r_name = r_name.append('_EU') where r_regionkey <= 2")
    return eng.table("regiontmp")


def _dml_delete(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.register_dataframe("orderstmp", spark.read.parquet(f"{sf_dir}/orders.parquet"))
    eng.command("delete from orderstmp where o_orderstatus = 'F'")
    return eng.table("orderstmp").select("o_orderkey", "o_orderstatus")


def _graph(spark, sf_dir):
    from orientdb_spark.graph import tpch_graph

    return tpch_graph(_engine(spark, sf_dir))


def _graph_out_degree(spark, sf_dir):
    g = _graph(spark, sf_dir)
    return g.out_degrees().filter(F.col("vid").like("customer:%"))


def _graph_bfs_levels(spark, sf_dir):
    g = _graph(spark, sf_dir)
    start = local_frame(spark, [("region:0",)], "vid string")
    return (
        g.bfs(start, 3)
        .groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .orderBy("depth")
    )


def _graph_connected_components(spark, sf_dir):
    g = _graph(spark, sf_dir)
    return (
        g.connected_components()
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def _graph_pagerank_personalized(spark, sf_dir):
    """Personalized PageRank with the restart vector pinned to region:0
    (Graph.pagerank(personalized_for=...)): teleport mass rides the
    zero-message carrier, so personalization costs no extra join or
    exchange. Oracle: the same unrolled power-iteration CTE with the
    restart-vector teleport."""
    g = _graph(spark, sf_dir)
    return g.pagerank(iterations=5, personalized_for=["region:0"]).select(
        "vid", F.round("rank", 8).alias("rank")
    )


def _graph_cc_incremental(spark, sf_dir):
    """Warm-start connected components (graph.incremental_components):
    prev = CC of the region-nation-customer subgraph; the orders edges
    arrive as the delta and re-cluster via the CONTRACTED graph (old
    components + delta endpoints), never re-touching old edges. The
    oracle is the full-graph ground truth — equality proves the
    incremental path lands on identical components."""
    from orientdb_spark.graph import Graph, incremental_components

    g = _graph(spark, sf_dir)
    base_edges = g.edges.filter(F.col("label") != "placed")
    base_verts = (
        base_edges.select(F.col("src").alias("vid"))
        .unionByName(base_edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    prev = Graph(base_verts, base_edges).connected_components()
    delta = g.edges.filter(F.col("label") == "placed").select("src", "dst")
    final = incremental_components(prev, delta)
    return final.groupBy("component").agg(F.count(F.lit(1)).alias("n_vertices"))


def _graph_pagerank(spark, sf_dir):
    g = _graph(spark, sf_dir)
    return g.pagerank(iterations=5).select("vid", F.round("rank", 8).alias("rank"))


def _graph_betweenness(spark, sf_dir):
    """Sampled Brandes betweenness (Graph.betweenness_sampled, Brandes
    2001 + Brandes-Pich 2007 sampling): all sampled sources BFS forward
    in one wave carrying (dist, σ), then the backward dependency sweep
    accumulates δ level by level — 2·diameter exchanges total. Fixture:
    the bounded region→nation→customer(%20) hierarchy; sources = the 8
    smallest-(h60, vid) vertices, the same deterministic draw the
    unrolled-Brandes oracle replays. Rounded at 6 dp with the +1e-12
    midpoint discipline both sides."""
    from orientdb_spark.graph import Graph

    eng = _engine(spark, sf_dir)
    cu = eng.table("customer").filter(F.col("c_custkey") % 20 == 0)
    na = eng.table("nation")
    ed = na.select(
        F.concat(F.lit("region:"), F.col("n_regionkey").cast("string")).alias("src"),
        F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("dst"),
    ).unionAll(
        cu.select(
            F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string")),
            F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")),
        )
    )
    verts = (
        eng.table("region").select(
            F.concat(F.lit("region:"), F.col("r_regionkey").cast("string")).alias("vid")
        )
        .unionAll(na.select(F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string"))))
        .unionAll(cu.select(F.concat(F.lit("customer:"), F.col("c_custkey").cast("string"))))
    )
    out = Graph(verts, ed).betweenness_sampled(n_samples=8, max_depth=6)
    return out.select(
        "vid", F.round(F.col("betweenness") + F.lit(1e-12), 6).alias("betweenness")
    )


def _graph_hits(spark, sf_dir):
    """HITS hubs/authorities (Graph.hits, Kleinberg '99): mutual
    recursion with per-half-iteration L1 normalization, one edge join +
    one groupBy per half-iteration, scores kept alive for isolated
    vertices via the vertex-set left join. Oracle unrolls the identical
    recursion (4 iterations) with scalar-subquery normalization —
    _pagerank_oracle's discipline, 8-dp end rounding."""
    g = _graph(spark, sf_dir)
    return g.hits(iterations=4).select(
        "vid", F.round("hub", 8).alias("hub"), F.round("authority", 8).alias("authority")
    )


def _graph_sssp(spark, sf_dir):
    """Weighted single-source shortest paths (Graph.shortest_paths,
    Bellman-Ford with a fixed 6-round horizon — one min-groupBy exchange
    per round). Edge weights are deterministic residue functions of the
    FK keys so both engines derive identical weights; the oracle unrolls
    the same relaxation recurrence as a 6-step CTE chain. Integer-valued
    weights keep the min() exact — no FP-order sensitivity."""
    from orientdb_spark.graph import Graph

    eng = _engine(spark, sf_dir)

    def vid(prefix, col):
        return F.concat(F.lit(prefix + ":"), F.col(col).cast("string"))

    e1 = eng.table("nation").select(
        vid("region", "n_regionkey").alias("src"),
        vid("nation", "n_nationkey").alias("dst"),
        ((F.col("n_nationkey") % 3) + 1).cast("double").alias("w"),
    )
    e2 = eng.table("customer").select(
        vid("nation", "c_nationkey").alias("src"),
        vid("customer", "c_custkey").alias("dst"),
        ((F.col("c_custkey") % 5) + 1).cast("double").alias("w"),
    )
    e3 = eng.table("orders").select(
        vid("customer", "o_custkey").alias("src"),
        vid("orders", "o_orderkey").alias("dst"),
        ((F.col("o_orderkey") % 7) + 1).cast("double").alias("w"),
    )
    edges = e1.unionByName(e2).unionByName(e3)
    g = Graph(edges.select(F.col("src").alias("vid")).distinct(), edges)
    return g.shortest_paths(["region:0"], iterations=6, weight_col="w").select(
        "vid", F.round("dist", 6).alias("dist")
    )


def _graph_label_propagation(spark, sf_dir):
    """Deterministic synchronous label propagation over the FK graph
    (Graph.label_propagation — min-label tie break makes the classic
    order-sensitive algorithm reproducible and CTE-oracle-able). Three
    sweeps; the oracle unrolls vote-count + per-vertex argmax + carry
    per round."""
    return _graph(spark, sf_dir).label_propagation(iterations=3)


def _graph_modularity(spark, sf_dir):
    """Newman modularity of the LPA-3 partition over the FK graph
    (Graph.modularity ∘ Graph.label_propagation): per-community
    n_nodes / internal_edges / degree_sum / q_contrib. Per-community
    rows keep the float work order-free (two exact integer ratios per
    row — no global float sum), so the table replays bit-exactly: the
    oracle composes the unrolled LPA replay with the degree/internal
    aggregations."""
    g = _graph(spark, sf_dir)
    return g.modularity(g.label_propagation(iterations=3))


def _graph_degree_distribution(spark, sf_dir):
    """Log-binned degree histogram (Graph.degree_distribution): per
    power-of-two bucket over the undirected FK-graph degree,
    vertex counts with min/max — the first profiling pass on any large
    graph and the partitioning-decision input assortativity refines.
    All-integer comparison-chain binning; oracle-exact trivially."""
    g = _graph(spark, sf_dir)
    return g.degree_distribution()


def _graph_assortativity(spark, sf_dir):
    """Degree assortativity (Graph.assortativity, Newman 2002) of the
    FK graph — one row of exact integer stub sums plus the 6-dp
    Pearson coefficient on one fixed IEEE tree. The FK tree is
    hub-and-spoke, so r comes out strongly negative — the shape where
    hub-key salting pays. Order-free float work, replays bit-exactly."""
    g = _graph(spark, sf_dir)
    return g.assortativity()


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


def _event_cohort_retention(spark, sf_dir):
    """Weekly cohort retention over events (streaming.cohort_retention);
    Spark and DuckDB both truncate weeks to ISO Monday, so the cohort
    keys line up exactly."""
    from orientdb_spark.streaming import cohort_retention

    return cohort_retention(_engine(spark, sf_dir).table("events"))


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


def _graph_kcore(spark, sf_dir):
    """6-core of the tripartite lineitem graph. The peeling fixpoint IS
    recursive-CTE expressible (r7): the working table carries the
    doubled (both-direction) edge set, per-row degrees come from two
    windows (PARTITION BY each endpoint — symmetric under doubling),
    and the recursive term emits the next state only while a weak
    vertex exists — so the recursion self-terminates at the fixpoint
    and the max-step rows are the core (an all-peeled graph emits an
    empty final state via the fin-guard). The sequential Python peeling
    gate in tests/test_graph_cc.py stays."""
    from orientdb_spark.graph import Graph

    li = _engine(spark, sf_dir).table("lineitem")

    def pref(c, p):
        return F.concat(F.lit(p), F.col(c).cast("string"))

    ed = (
        li.select(
            pref("l_orderkey", "order:").alias("src"),
            pref("l_partkey", "part:").alias("dst"),
        )
        .unionAll(li.select(pref("l_orderkey", "order:"), pref("l_suppkey", "supp:")))
        .unionAll(li.select(pref("l_partkey", "part:"), pref("l_suppkey", "supp:")))
    )
    g = Graph(ed.select(F.col("src").alias("vid")).distinct(), ed)
    return g.kcore(6)


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


def _text_vocab_growth(spark, sf_dir):
    """Lexical-diversity screen per source (text.vocab_growth_stats):
    token/type/hapax counts, TTR, hapax share — two map-side
    groupBys."""
    from orientdb_spark.pipeline.text import vocab_growth_stats

    docs = _docs(spark, sf_dir)
    out = vocab_growth_stats(docs, group_cols=["source"])
    return out.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.round("ttr", 6).alias("ttr"),
        F.round("hapax_ratio", 6).alias("hapax_ratio"),
    )


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


def _multimodal_phash_dedup(spark, sf_dir):
    """Perceptual-hash image near-dup join (multimodal.perceptual_hash
    -> dedup.hamming_pairs): every 7th payload reappears with its first
    byte changed; the 64-bit aHash puts the copy within Hamming 6 and
    the block join recovers it. The fake decode is pure integer
    arithmetic on the payload bytes, so the oracle re-derives the hash
    in SQL: the testdata text is ASCII (unicode(char) == byte) and the
    fixture keeps docs with length >= 64, where the average-pool
    segments partition the bytes and char p's cell has the closed form
    (64*(p+1)+n-1)//n - 1 (pinned against the numpy pooling in
    tests). Bit 63 packs as -2^63 — two's-complement addition gives the
    signed 64-bit hash both engines compare. Recall/brute-force gates
    stay in tests/test_multimodal.py."""
    from orientdb_spark.pipeline.dedup import hamming_pairs
    from orientdb_spark.pipeline.multimodal import (
        perceptual_hash,
        with_binary_payload,
    )

    docs = _docs(spark, sf_dir).filter(F.length("text") >= 64)
    corpus = with_binary_payload(docs).select("doc_id", "payload").unionByName(
        with_binary_payload(
            docs.filter(F.col("doc_id") % 7 == 0).withColumn(
                "text", F.concat(F.lit("Z"), F.expr("substring(text, 2)"))
            )
        ).select((F.col("doc_id") + 1_000_000).alias("doc_id"), "payload")
    )
    ph = perceptual_hash(corpus)
    return hamming_pairs(ph, "doc_id", "phash", 64, 6)


def _pipeline_entity_resolution(spark, sf_dir):
    """Entity-resolution composition: the key-suffixed part-name corpus
    (clean + corrupted every-5th copies, the text_edit_distance_join
    fixture) -> PassJoin distance-1 pairs -> star-contraction CC ->
    every record mapped to its entity (min id in the component;
    singletons to themselves) with member counts. The oracle recomputes
    the pairs quadratically and the components with a recursive CTE."""
    from orientdb_spark.pipeline.dedup import edit_distance_join
    from orientdb_spark.pipeline.sampling import duplicate_clusters

    pa = _engine(spark, sf_dir).table("part")
    name = F.concat(F.col("p_name"), F.lit(" #"), F.col("p_partkey").cast("string"))
    corpus = pa.select(F.col("p_partkey").alias("doc_id"), name.alias("text")).unionAll(
        pa.filter(F.col("p_partkey") % 5 == 0).select(
            (F.col("p_partkey") + 10_000_000).alias("doc_id"),
            F.concat(
                F.lit("x"), F.expr("substring(p_name, 2)"),
                F.lit(" #"), F.col("p_partkey").cast("string"),
            ).alias("text"),
        )
    )
    pairs = edit_distance_join(corpus, max_dist=1)
    clusters = duplicate_clusters(pairs)
    joined = corpus.join(clusters, "doc_id", "left")
    ent = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    from pyspark.sql import Window as W

    return (
        joined.withColumn("entity_id", ent)
        .withColumn(
            "n_members", F.count(F.lit(1)).over(W.partitionBy("entity_id"))
        )
        .select("doc_id", "entity_id", "n_members")
    )


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


def _quality_fd_check(spark, sf_dir):
    """Functional-dependency audit (quality.fd_violations): does
    l_orderkey determine l_returnflag? Orders whose line items carry
    more than one return flag are the violating keys — one groupBy on
    the determinant."""
    from orientdb_spark.quality import fd_violations

    li = _engine(spark, sf_dir).table("lineitem")
    return fd_violations(li, "l_orderkey", "l_returnflag")


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


def _graph_triangle_count(spark, sf_dir):
    """Per-vertex triangle counts via degree-ordered wedge enumeration
    (graph.py triangle_count). The TPC-H hierarchy graph is a forest
    (triangle-free), so the entry builds the tripartite
    order-part-supplier co-occurrence graph from lineitem — real
    triangle structure with skewed supplier degrees. The oracle
    enumerates triangles independently by canonical vid ordering."""
    from orientdb_spark.graph import Graph

    li = _engine(spark, sf_dir).table("lineitem")

    def pref(c, p):
        return F.concat(F.lit(p), F.col(c).cast("string"))

    ed = (
        li.select(
            pref("l_orderkey", "order:").alias("src"),
            pref("l_partkey", "part:").alias("dst"),
        )
        .unionAll(
            li.select(pref("l_orderkey", "order:"), pref("l_suppkey", "supp:"))
        )
        .unionAll(li.select(pref("l_partkey", "part:"), pref("l_suppkey", "supp:")))
    )
    g = Graph(ed.select(F.col("src").alias("vid")).distinct(), ed)
    return g.triangle_count()


def _graph_clustering_coeff(spark, sf_dir):
    """Per-vertex local clustering coefficient
    (graph.clustering_coefficient) over the same tripartite
    order-part-supplier graph as the triangle entry: 2T/(d(d-1)), one
    degree agg + left join on top of the O(m^1.5) triangle pass. The
    oracle recomputes triangles and degrees independently."""
    from orientdb_spark.graph import Graph

    li = _engine(spark, sf_dir).table("lineitem")

    def pref(c, p):
        return F.concat(F.lit(p), F.col(c).cast("string"))

    ed = (
        li.select(
            pref("l_orderkey", "order:").alias("src"),
            pref("l_partkey", "part:").alias("dst"),
        )
        .unionAll(
            li.select(pref("l_orderkey", "order:"), pref("l_suppkey", "supp:"))
        )
        .unionAll(li.select(pref("l_partkey", "part:"), pref("l_suppkey", "supp:")))
    )
    g = Graph(ed.select(F.col("src").alias("vid")).distinct(), ed)
    out = g.clustering_coefficient()
    return out.select(
        "vid", "degree", "n_triangles", F.round("coefficient", 6).alias("coefficient")
    )


def _graph_random_walks(spark, sf_dir):
    """Deterministic DeepWalk corpus (graph.random_walks) over the
    customer-nation graph: every step is h60(seed:walk:t) mod degree
    into the sorted neighbor array, so the DuckDB oracle replays the
    walks bit-identically with a recursive CTE — a fully hash-green
    random-walk generator."""
    from orientdb_spark.graph import Graph

    cu = _engine(spark, sf_dir).table("customer")
    ed = cu.select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    verts = ed.select(F.col("src").alias("vid")).unionAll(
        ed.select(F.col("dst").alias("vid"))
    ).distinct()
    g = Graph(verts, ed)
    out = g.random_walks(length=4, walks_per_vertex=1, seed=42)
    return out.select(
        "walk_id", "start", F.array_join("path", ">").alias("path_str")
    )


def _graph_walk_skipgrams(spark, sf_dir):
    """DeepWalk skip-gram pairs (graph.walk_skipgrams over
    graph.random_walks): in-row window expansion of the deterministic
    walks, both directions, counted per (center, context, distance).
    The oracle replays the walks with the recursive CTE and expands
    positions with a double unnest."""
    from orientdb_spark.graph import Graph

    cu = _engine(spark, sf_dir).table("customer")
    ed = cu.select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    verts = ed.select(F.col("src").alias("vid")).unionAll(
        ed.select(F.col("dst").alias("vid"))
    ).distinct()
    walks = Graph(verts, ed).random_walks(length=4, walks_per_vertex=1, seed=42)
    return Graph.walk_skipgrams(walks, window=2)


def _graph_effective_diameter(spark, sf_dir):
    """HyperBall neighborhood function (graph.neighborhood_function),
    ORACLE-GATED (r8 upgrade from rows-only): N(t) per round via HLL
    ball sketches — one exchange per round, O(2^lgk) state per vertex,
    never materializing a closure. The fixture restricts to the
    region→nation→customer(custkey%20) hierarchy so every ball stays
    below the DataSketches sparse-mode threshold, where HLL estimates
    are EXACT integers under the fixed hash seed — the oracle replays
    the exact BFS neighborhood function as a recursive CTE and the
    hashes must agree bit-for-bit. converge_tol=0 disables the
    early-stop so both engines enumerate the same t range. Full-graph
    scale behavior (sketch-bounded state at any ball size) keeps its
    2%-closure pytest gate."""
    from orientdb_spark.graph import Graph

    eng = _engine(spark, sf_dir)
    cu = eng.table("customer").filter(F.col("c_custkey") % 20 == 0)
    na = eng.table("nation")
    ed = na.select(
        F.concat(F.lit("region:"), F.col("n_regionkey").cast("string")).alias("src"),
        F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("dst"),
    ).unionAll(
        cu.select(
            F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string")),
            F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")),
        )
    )
    verts = (
        eng.table("region").select(
            F.concat(F.lit("region:"), F.col("r_regionkey").cast("string")).alias("vid")
        )
        .unionAll(na.select(F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string"))))
        .unionAll(cu.select(F.concat(F.lit("customer:"), F.col("c_custkey").cast("string"))))
    )
    nf = Graph(verts, ed).neighborhood_function(max_t=6, converge_tol=0.0)
    return nf.select(
        "t",
        F.col("reachable_pairs").cast("long").alias("reachable_pairs"),
        F.round("avg_ball_size", 6).alias("avg_ball_size"),
    )


def _graph_min_spanning_forest(spark, sf_dir):
    """Distributed Borůvka MSF (graph.minimum_spanning_forest) over a
    part-supplier subgraph (l_partkey % 20 and l_suppkey % 3 — bounds
    the oracle's sequential simulation to ~900 edges / ~13 s at sf0.01,
    inside any reasonable driver budget) weighted by minimum shipped
    quantity. The
    (w, a, b) total order makes the forest unique, so the oracle can
    replay sequential Kruskal as a recursive CTE — one edge per
    iteration, carrying the component labeling as the working table —
    and Borůvka must land on the exact same edge set. The full-graph
    Kruskal-equality gate stays in tests/test_graph_paths.py."""
    from orientdb_spark.graph import Graph

    li = (
        _engine(spark, sf_dir)
        .table("lineitem")
        .filter((F.col("l_partkey") % 20 == 0) & (F.col("l_suppkey") % 3 == 0))
    )
    ed = li.select(
        F.concat(F.lit("part:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("supp:"), F.col("l_suppkey").cast("string")).alias("dst"),
        F.col("l_quantity").cast("double").alias("w"),
    )
    g = Graph(ed.select(F.col("src").alias("vid")).distinct(), ed)
    return g.minimum_spanning_forest()


def _graph_topological_levels(spark, sf_dir):
    """DAG scheduling depth (graph.topological_levels): distributed
    Kahn peeling over the region -> nation -> customer -> orders
    hierarchy; level = longest predecessor chain. The oracle walks all
    root paths with a recursive CTE and takes each vertex's max
    depth."""
    from orientdb_spark.graph import Graph

    eng = _engine(spark, sf_dir)

    def pref(df, c, p):
        return df.select(F.concat(F.lit(p), F.col(c).cast("string")))

    na, cu, od = eng.table("nation"), eng.table("customer"), eng.table("orders")
    ed = (
        na.select(
            F.concat(F.lit("region:"), F.col("n_regionkey").cast("string")).alias("src"),
            F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("dst"),
        )
        .unionAll(cu.select(
            F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string")),
            F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")),
        ))
        .unionAll(od.select(
            F.concat(F.lit("customer:"), F.col("o_custkey").cast("string")),
            F.concat(F.lit("orders:"), F.col("o_orderkey").cast("string")),
        ))
    )
    verts = ed.select(F.col("src").alias("vid")).unionAll(
        ed.select(F.col("dst").alias("vid"))
    ).distinct()
    out = Graph(verts, ed).topological_levels()
    return out.select("vid", "level", "is_cyclic")


def _graph_link_prediction(spark, sf_dir):
    """Common-neighbors / Adamic-Adar link prediction
    (graph.link_prediction) over the order-part bipartite graph from
    lineitem: order pairs sharing >= 2 parts (and part pairs sharing
    >= 2 orders) that aren't already adjacent, scored by
    sum 1/ln(deg(center)). Wedge self-join + one pair groupBy + edge
    anti join; min_common prunes the tail inside the aggregate."""
    from orientdb_spark.graph import Graph

    li = _engine(spark, sf_dir).table("lineitem")
    ed = li.select(
        F.concat(F.lit("order:"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("part:"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    g = Graph(ed.select(F.col("src").alias("vid")).distinct(), ed)
    out = g.link_prediction(min_common=2)
    return out.select(
        "id_a", "id_b", "common_neighbors", F.round("aa_score", 6).alias("aa_score")
    )


def _graph_neighbor_features(spark, sf_dir):
    """Two-hop mean feature propagation (graph.neighbor_aggregate,
    GraphSAGE mean-aggregator analog): customer acctbal seeds the
    customer-nation bipartite graph; hop 1 lands each nation the mean
    of its customers, hop 2 hands it back to every customer — the
    classic 'neighborhood average' feature a training pipeline joins
    onto each record. One join + one groupBy per hop."""
    from orientdb_spark.graph import Graph

    cu = _engine(spark, sf_dir).table("customer")
    ed = cu.select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    feats = cu.select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias("vid"),
        F.col("c_acctbal").alias("f"),
    )
    g = Graph(ed.select(F.col("src").alias("vid")).distinct(), ed)
    out = g.neighbor_aggregate(feats, value="f", hops=2)
    return out.select("vid", "n_neighbors", F.round("feature", 6).alias("feature"))


def _event_window_agg(spark, sf_dir):
    from orientdb_spark.streaming import windowed_event_counts

    return windowed_event_counts(_engine(spark, sf_dir).table("events"), "1 hour")


def _event_sessionize(spark, sf_dir):
    from orientdb_spark.streaming import sessionize

    out = sessionize(_engine(spark, sf_dir).table("events"), gap_minutes=30)
    # events.parquet stores timestamp[ns]; Spark rounds ns→us while DuckDB
    # truncates, so normalize session_start to whole seconds for the oracle.
    return out.withColumn("session_start", F.date_trunc("second", F.col("session_start")))


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


def _docs_cube(spark, sf_dir):
    """CUBE grouping sets over (source, lang): all four aggregation
    levels in one pass (Spark Expand), NULL as the roll-up marker on
    both engines."""
    docs = _engine(spark, sf_dir).table("documents")
    return (
        docs.cube("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


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


def _event_funnel(spark, sf_dir):
    """Ordered funnel (view -> click -> purchase): deepest in-order
    prefix per user. Single-shuffle HOF formulation (streaming.funnel);
    the oracle is the independent sequential-min self-join cascade."""
    from orientdb_spark.streaming import funnel

    return funnel(_engine(spark, sf_dir).table("events"))


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


def _docs(spark, sf_dir):
    return _engine(spark, sf_dir).table("documents")


def _embs(spark, sf_dir):
    return _engine(spark, sf_dir).table("embeddings")


def _dedup_exact(spark, sf_dir):
    from orientdb_spark.pipeline import dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recrawl = docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return dedup.exact_duplicate_groups(docs.unionByName(recrawl))


def _dedup_cluster_size_report(spark, sf_dir):
    """Duplicate-cluster size distribution (pipeline/dedup.
    cluster_size_report): the recrawl-union fixture log-binned by
    exact-dup cluster size — n_clusters / n_docs / n_removable /
    frac_of_corpus per bucket, uniques included so the buckets
    partition the corpus. All-integer binning + one division;
    oracle-exact trivially."""
    from orientdb_spark.pipeline import dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recrawl = docs.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    recrawl2 = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    return dedup.cluster_size_report(
        docs.unionByName(recrawl).unionByName(recrawl2)
    )


def _dedup_fingerprint(spark, sf_dir):
    from orientdb_spark.pipeline import dedup

    return dedup.doc_fingerprints(_docs(spark, sf_dir))


def _dedup_minhash(spark, sf_dir):
    from orientdb_spark.pipeline import dedup

    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.9)


def _dedup_near_dup_stream(spark, sf_dir):
    """Ingest-time streaming near-dup detection, batch path
    (streaming.near_dup_pairs_stream — the stream analog of
    minhash_lsh_pairs_incremental): docs plus a recrawl of every 5th
    doc arrive in (ts, id) order; each probes its LSH band buckets
    against PRIOR signatures (bucket state capped at 32, first
    arrivals win) and emits (doc_id, dup_of, band, est_jaccard) match
    rows. The static-frame path runs the identical per-bucket loop via
    applyInPandas (pytest pins stream==batch); the oracle replays
    signatures, band routing, the (ts, id) rank, the cap rule, and the
    agreeing-position estimator in SQL. est values are exact dyadic
    (m/16), so the hash check is rounding-free."""
    from orientdb_spark.streaming import near_dup_pairs_stream

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recrawl = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(recrawl).withColumn(
        "ts", F.timestamp_seconds(F.col("doc_id") % 1000000)
    )
    return near_dup_pairs_stream(corpus, threshold=0.7).select(
        "doc_id", "dup_of", "band", "est_jaccard"
    )


def _dedup_minhash_incremental(spark, sf_dir):
    """Incremental MinHash-LSH dedup (dedup.minhash_lsh_pairs_
    incremental): the ingest-batch shape — docs with doc_id % 10 == 0
    are the new batch, the rest the already-deduped corpus. The batch's
    band postings BROADCAST against the corpus posting list (no corpus
    shuffle), touched buckets reassemble for exact cap parity, verify
    re-shingles only collided corpus docs. Oracle = the full-run
    minhash replay restricted to pairs with >= 1 new side — the
    operator's equivalence contract, hash-checked. threshold=0.7 so the
    sf fixtures yield cross-boundary pairs."""
    from orientdb_spark.pipeline import dedup

    docs = _docs(spark, sf_dir)
    return dedup.minhash_lsh_pairs_incremental(
        docs.filter("doc_id % 10 = 0"),
        docs.filter("doc_id % 10 != 0"),
        threshold=0.7,
    )


def _dedup_simhash(spark, sf_dir):
    from orientdb_spark.pipeline import dedup

    return dedup.simhash(_docs(spark, sf_dir))


def _dedup_simhash_hamming(spark, sf_dir):
    """Banded SimHash near-dup pairs within Hamming distance 3
    (dedup.simhash_hamming_pairs, the WWW'07 block scheme): pigeonhole
    block equi-join + bit_count(xor) residual — never all-pairs.
    48-bit fingerprints (12-bit blocks): 16 bits saturate on this
    homogeneous synthetic corpus (73k of 125k pairs within distance 3 —
    the fingerprint, not the join, degenerates). The oracle recomputes
    the fingerprints and compares every pair quadratically."""
    from orientdb_spark.pipeline import dedup

    return dedup.simhash_hamming_pairs(
        _docs(spark, sf_dir), bits=48, max_hamming=3
    )


def _dedup_ngram(spark, sf_dir):
    from orientdb_spark.pipeline import dedup

    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=2, threshold=0.05)


def _dedup_embedding(spark, sf_dir):
    from orientdb_spark.pipeline import dedup

    return dedup.embedding_duplicate_pairs(_embs(spark, sf_dir), threshold=0.3)


def _dedup_embedding_decontaminate(spark, sf_dir):
    """Semantic decontamination: drop train vectors with cosine >= 0.3
    to any refset vector (refset = every 25th vector — a stand-in
    benchmark corpus). Clean rows returned, NOT-EXISTS oracle."""
    from orientdb_spark.pipeline import dedup

    embs = _embs(spark, sf_dir)
    ref = embs.filter(F.col("vec_id") % 25 == 0)
    return dedup.embedding_decontaminate(embs, ref, threshold=0.3).select(
        "vec_id", "label"
    )


def _dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): within-cluster keep-lowest-id
    semantic dedup over the embedding corpus. The oracle replays the
    whole pipeline — h60 seeds, argmax-cosine assignment (+1e-12/6-dp,
    lower-cid ties), within-cell >= t neighbor test — in SQL."""
    from orientdb_spark.pipeline import dedup

    return dedup.semantic_dedup(_embs(spark, sf_dir), threshold=0.3)


def _dedup_semantic_scaled(spark, sf_dir):
    """SemDeDup with the cells-scale-with-N LSH coarse clusterer
    (dedup.semantic_dedup_lsh) — the variant whose within-bucket
    quadratic oracle stays tractable at EVERY scale factor because
    2^planes grows ∝ N (expected occupancy ~32), which is what puts
    the semantic-dedup family into the sf1/sf5/sf10 artifact set. The
    oracle re-derives the plane count from COUNT(*) (integer-exact, no
    FP log), rebuilds the md5 hyperplanes and sign-bit buckets (the
    sim_topk_lsh replay), and applies the keep-lowest-id ≥ t rule
    within each bucket."""
    from orientdb_spark.pipeline import dedup

    return dedup.semantic_dedup_lsh(_embs(spark, sf_dir), threshold=0.3)


def _sample_dsir(spark, sf_dir):
    """DSIR top-k importance resampling (Xie et al. 2023): select the
    50 most target-like docs (target = lang('en') subset) under hashed
    unigram+bigram bag-of-words LMs with add-1 smoothing."""
    from orientdb_spark.pipeline import sampling

    docs = _docs(spark, sf_dir)
    return sampling.dsir_resample(docs, docs.filter(F.col("lang") == "en"), k=50)


def _sample_prototype_prune(spark, sf_dir):
    """Sorscher et al. NeurIPS'22 prototypicality pruning: keep the 50%
    hardest (lowest cosine-to-center) examples per h60-seeded cluster.
    The oracle replays assignment + per-cluster ranking in SQL."""
    from orientdb_spark.pipeline import similarity

    return similarity.prototype_prune(
        _embs(spark, sf_dir), keep_fraction=0.5, keep="hard"
    )


def _sample_kcenter_coreset(spark, sf_dir):
    """k-center greedy / farthest-point sampling (Sener & Savarese
    ICLR'18): 8 diversity-maximizing representatives; the oracle
    unrolls the greedy steps as chained CTEs."""
    from orientdb_spark.pipeline import similarity

    return similarity.kcenter_coreset(_embs(spark, sf_dir), k=8)


def _sample_token_budget(spark, sf_dir):
    """Token-budget corpus selection: best documents first (quality =
    n_chars), maximal prefix whose running whitespace-token total fits
    a 20k budget. Distributed prefix sum, window-cumsum oracle."""
    from orientdb_spark.pipeline import sampling
    from orientdb_spark.pipeline.common import ws_tokens

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("n_chars").alias("quality"),
        F.size(ws_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return sampling.token_budget_select(docs, budget=20_000)


def _sample_split_assign(spark, sf_dir):
    from orientdb_spark.pipeline import sampling

    return sampling.assign_split(_docs(spark, sf_dir)).select("doc_id", "split")


def _sample_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle + shard assignment (sampling.epoch_
    shard_order): 2 epochs × 8 reader shards over the documents table —
    the materialized "global shuffle" a training run reads. Pure
    h60(epoch-seeded) arithmetic: shard = key % S, within-shard pos =
    rank by (key, id) — fully SQL-replayable, window partitioned by
    (epoch, shard), never a global sort."""
    from orientdb_spark.pipeline import sampling

    return sampling.epoch_shard_order(
        _docs(spark, sf_dir), n_epochs=2, n_shards=8
    )


def _sample_quota_per_source(spark, sf_dir):
    from orientdb_spark.pipeline import sampling

    return sampling.quota_sample(_docs(spark, sf_dir), ["source"], quota=20).select(
        "doc_id", "source", "sample_rank"
    )


def _sample_mixture(spark, sf_dir):
    """Data-mixture construction: 60-doc sample at weights
    50/30/15/5 over four sources (integer floor quotas: 30/18/9/3;
    src0 holds only 25 docs so it contributes everything — the
    undershoot path is part of the contract)."""
    from orientdb_spark.pipeline.sampling import sample_mixture

    out = sample_mixture(
        _docs(spark, sf_dir),
        weights={"src0": 50, "src1": 30, "src2": 15, "src3": 5},
        total=60,
    )
    return out.select("doc_id", "source", "sample_rank")


def _sample_temperature_mixture(spark, sf_dir):
    """Temperature-scaled corpus balancing
    (pipeline/sampling.temperature_mixture, Conneau & Lample 2019 /
    Xue et al. 2021): per-language quotas ∝ n_lang^0.5 apportioned over
    total=200 by largest remainder, members drawn by the h60 hash rank.
    Oracle-exact: sqrt is IEEE-exact, the raw allocation is pinned to
    the 6-dp nudge grid before floor/remainder, and remainder ranking
    tiebreaks on the group value."""
    from orientdb_spark.pipeline.sampling import temperature_mixture

    out = temperature_mixture(
        _docs(spark, sf_dir), total=200, alpha=0.5, group_col="lang"
    )
    return out.select("doc_id", "lang", "quota", "sample_rank")


def _sample_unimax(spark, sf_dir):
    """UniMax budget-capped uniform mixing
    (pipeline/sampling.unimax_sample, Chung et al. 2023): waterfill a
    row budget of 40% of the corpus uniformly across languages with a
    0.5-epoch per-language cap — small languages cap out (capped=1),
    the freed budget redistributes EQUALLY (not proportionally) to the
    rest. total ∝ corpus keeps the cap/waterfill split binding at
    every SF (a fixed total degenerates to all-capped or all-uniform
    as the corpus grows). Oracle-exact: caps, prefix sums, and the
    uniform share live on the 6-dp nudge grid; prefix sums accumulate
    in one deterministic order; Hamilton integerization replays the
    temperature_mixture machinery."""
    from orientdb_spark.pipeline.sampling import unimax_sample

    docs = _docs(spark, sf_dir)
    total = docs.count() * 2 // 5
    out = unimax_sample(docs, total=total, epoch_cap=0.5, group_col="lang")
    return out.select(
        "doc_id",
        "lang",
        "quota",
        F.col("capped").cast("int").alias("capped"),
        "sample_rank",
    )


def _dedup_canonicalize(spark, sf_dir):
    from orientdb_spark.pipeline import dedup, sampling

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9)
    clusters = sampling.duplicate_clusters(pairs)
    out = sampling.canonicalize(docs, clusters, quality_col="n_chars")
    return out.join(clusters.select("doc_id"), "doc_id", "left_semi").select(
        "doc_id",
        "cluster_id",
        "canonical_id",
        F.col("keep").cast("int").alias("keep"),
    )


def _pipeline_end_to_end(spark, sf_dir):
    """The dedup-to-training-set pipeline as ONE composed dataflow —
    minhash-LSH pair mining → duplicate clustering (star-contraction CC)
    → per-cluster canonical election → deterministic split assignment of
    the surviving corpus — proving the LLM-pipeline operators compose.
    Output: the cleaned corpus, one row per surviving doc."""
    from orientdb_spark.pipeline import dedup, sampling

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9)
    clusters = sampling.duplicate_clusters(pairs)
    canon = sampling.canonicalize(docs, clusters, quality_col="n_chars")
    kept = canon.filter(F.col("keep"))
    return sampling.assign_split(kept).select(
        "doc_id", "cluster_id", "lang", "source", "split"
    )


def _sample_leakage_safe_split(spark, sf_dir):
    """Leakage-safe split (sampling.leakage_safe_split): minhash-LSH
    duplicate pairs → star-contraction CC → split assignment keyed on
    the CLUSTER id, so near-duplicates can never straddle train/test.
    The oracle replays the full composition: the minhash pipeline, the
    recursive-CTE closure, and the split hash on the cluster key."""
    from orientdb_spark.pipeline import dedup, sampling

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9)
    return sampling.leakage_safe_split(docs, pairs).select(
        "doc_id", "cluster_key", "split"
    )


def _embedding_quantize(spark, sf_dir):
    """Scalar quantization digest: per-vec code sum + midpoint
    reconstruction error. floor/sub/mul/div are IEEE-exact so the
    DuckDB oracle reproduces codes bit-identically (pipeline/quantize)."""
    from orientdb_spark.pipeline.quantize import scalar_quantize

    q = scalar_quantize(_embs(spark, sf_dir))
    return q.select(
        "vec_id",
        F.aggregate("codes", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "code_sum"
        ),
        F.round("max_abs_err", 9).alias("max_abs_err"),
    )


def _embedding_label_centroids(spark, sf_dir):
    """Per-label centroid digest (element-wise mean vector summed to one
    scalar per label for the hash compare; similarity.label_centroids)."""
    from orientdb_spark.pipeline.similarity import label_centroids

    out = label_centroids(_embs(spark, sf_dir))
    return out.select(
        "label",
        "n_members",
        F.round(
            F.aggregate("centroid", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("centroid_sum"),
    )


def _embedding_random_projection(spark, sf_dir):
    """Deterministic ±1 random projection 64 -> 8 dims
    (pipeline/quantize.sign_random_projection): the sign matrix derives
    from md5 arithmetic, so the oracle regenerates it in SQL and
    reproduces every component bit-for-bit via the same sequential-fold
    dot product. Zero shuffles — pure narrow projection."""
    from orientdb_spark.pipeline.quantize import sign_random_projection

    out = sign_random_projection(_embs(spark, sf_dir), in_dim=64, out_dim=8)
    return out.select("vec_id", F.posexplode("proj").alias("j", "y")).select(
        "vec_id", "j", F.round("y", 6).alias("y")
    )


def _embedding_ood_audit(spark, sf_dir):
    """Per-class embedding outlier audit (pipeline/similarity.
    ood_audit): cosine to the OWN label centroid, 5%-quantile cutoff
    per label, is_ood flag — the per-example drill-down behind the
    nearest-centroid confusion view. Cosines on the 6-dp grid, the
    threshold an exact interpolated quantile OF the grid scores, the
    flag a grid-double compare — replays exactly."""
    from orientdb_spark.pipeline import similarity

    return similarity.ood_audit(_embs(spark, sf_dir), q=0.05)


def _embedding_nearest_centroid(spark, sf_dir):
    """Nearest-centroid classification confusion matrix
    (pipeline/similarity.nearest_centroid_confusion): every vector
    assigned to its highest-cosine class prototype, cross-tabbed
    against the true label. Oracle rebuilds centroids and the rounded
    argmax in SQL."""
    from orientdb_spark.pipeline.similarity import nearest_centroid_confusion

    return nearest_centroid_confusion(_embs(spark, sf_dir))


def _embedding_kmeans(spark, sf_dir):
    """Spherical k-means cluster sizes. ORACLE-EXACT (r11 upgrade from
    rows-only, the k-center unrolled-CTE discipline applied to Lloyd):
    the oracle replays both fixed iterations — h60 seeds, argmax of the
    rounded-nudged cosine (ties -> lower cid), element-wise-mean
    re-centering with dense cid renumbering — and the final assignment.
    The former rows-only excuse (centroid last-ulp wiggle from
    partition-order float sums) is absorbed by the same +1e-12-nudged
    6-dp round the assignment itself applies before the argmax — the
    embedding_nearest_centroid precedent, green since r8. The
    numpy-Lloyd agreement gate in tests/test_ivf_index.py stays as the
    independent quality check."""
    from orientdb_spark.pipeline.similarity import kmeans

    _, assign = kmeans(_embs(spark, sf_dir), k=8, iters=2)
    return assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))


def _embedding_pca(spark, sf_dir):
    """Distributed PCA projection (quantize.pca_fit/pca_project):
    Arrow-batched per-partition covariance partials, driver-side d x d
    eig, narrow literal-array projection. Rows-only by design: the
    eigenbasis is LAPACK-derived, so a cross-engine value hash is the
    wrong check — the quality gate is the numpy agreement + variance-
    recovery test in tests/test_quantize.py. Output is posexploded to
    scalar (vec_id, component, value) rows — the r8 driver record
    errored because its canonicalizer can't hash an array<double>
    column (the same shape fix embedding_pq_encode uses)."""
    from orientdb_spark.pipeline.quantize import pca_fit, pca_project

    embs = _embs(spark, sf_dir)
    model = pca_fit(embs, n_components=8)
    return pca_project(embs, model).select(
        "vec_id", F.posexplode("proj").alias("component", "value")
    ).withColumn("value", F.round("value", 6))


def _pipeline_multimodal_end_to_end(spark, sf_dir):
    """Multimodal composition proof: binary payload -> frame sampling
    (1->N fan-out) -> per-frame resize to a 2x2 grid, all under one
    oracle — the modality analog of pipeline_end_to_end /
    pipeline_quality_gate. Frames get a synthetic composite id
    (doc_id*1000 + frame_index; frame counts are ~8 per doc, far below
    1000) because the resize stage keys rows by a single id column."""
    from orientdb_spark.pipeline import multimodal

    docs = multimodal.with_binary_payload(_docs(spark, sf_dir))
    fr = multimodal.sample_frames(docs, frame_bytes=64, every=4)
    fr2 = fr.select(
        (F.col("doc_id") * 1000 + F.col("frame_index")).alias("fid"),
        F.col("frame").alias("payload"),
    )
    px = multimodal.resize_images(fr2, id_col="fid", width=2, height=2)
    return px.select(
        F.floor(F.col("fid") / 1000).cast("long").alias("doc_id"),
        (F.col("fid") % 1000).cast("int").alias("frame_index"),
        F.posexplode("pixels").alias("cell", "pixel"),
    )


def _sim_bruteforce(spark, sf_dir):
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    return similarity.brute_force_topk(embs, embs.filter(F.col("vec_id") < 10), k=5)


def _sim_lsh(spark, sf_dir):
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    # planes sized for the fixture corpus (~2^planes·30 vectors); nprobe=6
    # multi-probes the 5 lowest-margin bit flips, and 6 independent salted
    # tables union their candidates (miss probability decays exponentially
    # in tables). Measured recall vs brute force: 0.32 (1 table, sf0.01)
    # → 0.74 (4 tables) → 0.88 (6 tables, nprobe=4); 0.80 at sf0.001.
    # nprobe raised 4→6 in r8 so the isotropic worst-case estimate
    # (1−(1−6/32)^6 = 0.71) clears the 0.6 derivation gate without a
    # warning, and probes now include 2-bit perturbations (Lv et al.
    # ordering). Gate: recall >= 0.65 in tests/test_entry.py — tight
    # enough that a silent recall regression can't hide under it.
    # ORACLE-EXACT since r9: every step — md5 hyperplanes, sequential-
    # fold dots, sign-bit buckets, cost-ordered probe enumeration,
    # bucket join, exact cosine rerank — is a deterministic function of
    # the shared md5 arithmetic, so the DuckDB oracle replays the whole
    # pipeline bit-for-bit (approximate w.r.t. brute force, reproducible
    # across engines — the sim_topk_pq philosophy).
    return similarity.lsh_topk(
        embs, embs.filter(F.col("vec_id") < 10), k=5, planes=5, nprobe=6, tables=6
    )


def _sim_ivf(spark, sf_dir):
    """IVF probe-and-rerank top-k (similarity.ivf_topk). ORACLE-EXACT
    (r11 upgrade from rows-only, the sim_topk_ivfpq trick minus the PQ
    stage): n_cells/nprobe=None exercises the scale-aware derivation
    end-to-end (~sqrt(N) cells clamped [16, 4096], probe width sized to
    the 0.6 isotropic recall target — derive_ivf_params), and the SQL
    oracle re-derives those SAME parameters from a COUNT(*), so the
    derivation itself is under the hash check. refine_iters=0 keeps the
    coarse centroids at the h60 seed vectors (deterministic, replayable
    — the pq_fit convention); cell assignment and the probe set are the
    rounded-nudged dimension-major cosine argmax/top-nprobe
    (_assign_udf/probe_cells FP discipline), and the within-cell rerank
    is the exact sequential-fold cosine the brute-force oracle already
    replays. The Lloyd-refined (refine_iters>=1) path keeps its
    recall-vs-brute-force and numpy-agreement gates in
    tests/test_ivf_index.py."""
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    return similarity.ivf_topk(
        embs, embs.filter(F.col("vec_id") < 10), k=5, refine_iters=0
    )


def _embedding_pq_encode(spark, sf_dir):
    """Product-quantization encode (quantize.pq_fit/pq_encode; Jégou et
    al. TPAMI'11): 64 doubles collapse to 8 codes of 16 — the 32x
    storage cut that makes a 100 TB embedding corpus ADC-scannable.
    refine_iters=0 keeps the quantizer fully derivable from the shared
    md5-h60 arithmetic, so the oracle re-derives the seed centroids
    (smallest (h60, id) corpus vectors), slices them per subspace, and
    replays the argmin assignment — codes match exactly. The Lloyd-
    refined path is distortion-gated in tests/test_quantize.py."""
    from orientdb_spark.pipeline.quantize import pq_encode, pq_fit

    embs = _embs(spark, sf_dir)
    books = pq_fit(embs, m=8, k=16, refine_iters=0)
    return pq_encode(embs, books).select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    )


def _sim_topk_pq(spark, sf_dir):
    """Asymmetric-distance top-k over PQ codes (quantize.pq_topk): each
    query precomputes an m x n_codes lookup table; the corpus scan reads
    CODES only (m ints/row, never the vectors) and scores via a pure
    Column zip_with/element_at fold. ORACLE-EXACT (r8 upgrade from
    rows-only): with refine_iters=0 the seed quantizer, the codes, the
    LUT dot products, and the 6-dp-rounded ADC ranking are all
    deterministic functions of the shared md5-h60 arithmetic, so the
    oracle replays the IDENTICAL computation (approximate w.r.t. true
    cosine, but bit-reproducible — the graph_random_walks philosophy).
    The Lloyd-refined path keeps its cluster-precision / planted-twin
    gates in tests/test_quantize.py."""
    from orientdb_spark.pipeline.quantize import pq_topk

    embs = _embs(spark, sf_dir)
    return pq_topk(
        embs, embs.filter(F.col("vec_id") < 10), k=5, m=8, n_codes=16,
        refine_iters=0,
    )


def _sim_topk_ivfpq(spark, sf_dir):
    """IVF-PQ top-k (similarity.ivfpq_topk — the IVFADC composition,
    Jégou et al. TPAMI'11 §IV): coarse cells prune, ADC over PQ codes
    ranks within the probed cells; a query touches ~nprobe/n_cells of
    the corpus and reads only code ints. ORACLE-EXACT (r9 upgrade from
    rows-only, the sim_topk_pq trick extended to the whole composition):
    with refine_iters=0 the coarse centroids are the 16 h60-seed corpus
    vectors, cell assignment is the rounded-nudged dimension-major
    cosine argmax (_assign_udf's FP discipline), the probe set is each
    query's top-6 cells by the same rounded cosine (probe_cells), and
    the ADC ranking replays the deterministic PQ arithmetic — so the
    oracle re-derives the ENTIRE pipeline (coarse quantizer, inverted
    file, probe set, codes, LUTs, final rank) from the shared md5-h60
    arithmetic: approximate w.r.t. true cosine, bit-reproducible across
    engines. target_recall=0.5: the fixed 6-of-16 probe width puts the
    isotropic estimate at 0.5625 — above the declared target, so no
    warning; the full-probe==pq_topk equality, cluster-precision, and
    residual-accuracy gates for the Lloyd/derived path live in
    tests/test_quantize.py."""
    from orientdb_spark.pipeline.similarity import ivfpq_topk

    embs = _embs(spark, sf_dir)
    return ivfpq_topk(
        embs, embs.filter(F.col("vec_id") < 10), k=5, n_cells=16, nprobe=6,
        m=8, n_codes=16, refine_iters=0, target_recall=0.5,
    )


def _sim_topk_imi(spark, sf_dir):
    """Inverted multi-index top-k (similarity.imi_topk; Babenko &
    Lempitsky, CVPR 2012) — the two-level coarse quantizer that takes
    over when flat IVF hits its 4096-cell driver boundary: two k_half
    codebooks over the vector halves give k_half^2 effective product
    cells from 2*k_half stored centroids, and the probe enumeration is
    the multi-sequence walk made declarative (exact — pinned against a
    numpy all-pairs reference in tests/test_imi_index.py, alongside the
    full-probe==brute-force equality and the clustered-corpus recall/
    precision gates). ORACLE-EXACT from its first record: with
    refine_iters=0 the half-codebooks are the 4 smallest-(h60, id)
    corpus vectors sliced in two (pq_fit(m=2) seeds), cell assignment
    is pq_encode's 6-dp-rounded dimension-major argmin, the probe set
    is the top-8 product cells by the unrounded sequential-fold
    d1 + d2 (probe_cells), and the cosine rerank is the shared exact
    fold — the DuckDB oracle replays all of it (approximate w.r.t.
    brute force, bit-reproducible across engines; the Lloyd-refined
    path keeps its pytest gates). k_half=4 sizes product cells for the
    fixture corpus; nprobe=8 of ≤16 occupied cells puts the isotropic
    recall estimate at 0.75 ≥ the 0.6 default (no warning)."""
    from orientdb_spark.pipeline.similarity import imi_topk

    embs = _embs(spark, sf_dir)
    return imi_topk(
        embs, embs.filter(F.col("vec_id") < 10), k=5, k_half=4, nprobe=8,
        refine_iters=0,
    )


def _text_langid(spark, sf_dir):
    from orientdb_spark.pipeline import text

    return text.language_id(_docs(spark, sf_dir))


def _text_quality(spark, sf_dir):
    from orientdb_spark.pipeline import text

    return text.quality_score(_docs(spark, sf_dir))


def _text_tokens(spark, sf_dir):
    from orientdb_spark.pipeline import text

    return text.token_stats(_docs(spark, sf_dir))


def _dedup_bucket_audit(spark, sf_dir):
    """LSH bucket-population audit (the companion to minhash_lsh_pairs'
    max_bucket_size cap): top bucket sizes tell you what a cap would
    drop. Digested as size→bucket-count histogram for a stable compare."""
    from orientdb_spark.pipeline import dedup

    sizes = dedup.minhash_bucket_sizes(_docs(spark, sf_dir))
    return (
        sizes.groupBy("n_docs")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .orderBy("n_docs")
    )


def _dedup_decontaminate(spark, sf_dir):
    """Winnow-based benchmark decontamination: docs with doc_id % 10 == 0
    play the eval/reference set; the returned rows are the training docs
    sharing < 100 winnowing fingerprints with it. The threshold sits near
    the corpus median (~90) because the synthetic documents are template-
    generated and heavily self-similar — a real web corpus uses small
    min_shared; here the high cut keeps the result discriminative (a
    0-row or all-row output would be a weak correctness signal)."""
    from orientdb_spark.pipeline import dedup

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    refset = docs.filter(F.col("doc_id") % 10 == 0)
    clean = dedup.decontaminate(train, refset, method="winnow", min_shared=100)
    return clean.select("doc_id", "lang", "source")


def _dedup_decontaminate_report(spark, sf_dir):
    """Per-eval-doc contamination audit (dedup.decontamination_report):
    for each refset doc (doc_id % 10 == 0), how many training docs share
    >= 10 winnowing fingerprints with it, the max overlap, and the
    worst-offender train id (deterministic tie-break). The disclosure
    table a corpus release publishes — same fingerprint machinery as
    dedup_decontaminate, aggregated per REF doc instead of dropped.
    k=25/window=16 (shared substrings >= 40 normalized chars — the
    13-gram-scale signature real decontamination uses): on the
    template-generated fixture text, k=5 fingerprints are degenerate
    (994 distinct over 2.5M sf5 docs -> a 126-billion-row pair join);
    k=25 is selective (6.1M distinct, 750k pair rows at sf5), so the
    entry scales with the corpus instead of with its redundancy."""
    from orientdb_spark.pipeline import dedup

    docs = _docs(spark, sf_dir)
    return dedup.decontamination_report(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        min_shared=10,
        k=25,
        window=16,
    )


def _text_winnow(spark, sf_dir):
    """Per-doc digest over the winnowing fingerprint set (count/min/max/
    modular sum) — compact for the driver compare while still sensitive
    to any fingerprint-level discrepancy."""
    from orientdb_spark.pipeline import text

    fps = text.winnow_fingerprints(_docs(spark, sf_dir), k=5, window=4)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.min("fingerprint").alias("min_fp"),
        F.max("fingerprint").alias("max_fp"),
        F.sum(F.col("fingerprint") % F.lit(1_000_000_007)).alias("sum_fp"),
    )


def _text_repetition(spark, sf_dir):
    from orientdb_spark.pipeline import text

    return text.repetition_stats(_docs(spark, sf_dir), n=3)


def _text_token_budget(spark, sf_dir):
    from orientdb_spark.pipeline import text

    return text.token_budget(_docs(spark, sf_dir))


def _text_lm_score(spark, sf_dir):
    """Corpus-trained bigram-LM quality score (CCNet-style perplexity
    filter; pipeline/text.lm_score). 6-dp rounding dwarfs cross-engine
    FP accumulation noise (verified value-exact at all three SFs)."""
    from orientdb_spark.pipeline import text

    return text.lm_score(_docs(spark, sf_dir))


def _pipeline_quality_gate(spark, sf_dir):
    """Composite quality gate: language-ID + quality score + repetition
    + bigram-LM NLL joined per doc, with keep = quality >= 0.5 AND
    dup_ngram_frac <= 0.3 AND nll <= corpus-p90(nll). Proves the text
    operators compose under one oracle the way pipeline_end_to_end
    proves it for the dedup family; the p90 threshold exercises
    exact-percentile parity inside a composition."""
    from orientdb_spark.pipeline import text

    docs = _docs(spark, sf_dir)
    lid = text.language_id(docs).select("doc_id", "predicted_lang")
    q = text.quality_score(docs).select("doc_id", "quality")
    rep = text.repetition_stats(docs, n=3).select("doc_id", "dup_ngram_frac")
    lm = text.lm_score(docs).select("doc_id", "nll")
    p90 = lm.agg(F.percentile("nll", F.lit(0.9)).alias("__p90"))
    joined = (
        lid.join(q, "doc_id")
        .join(rep, "doc_id")
        .join(lm, "doc_id")
        .crossJoin(F.broadcast(p90))
    )
    keep = (
        (F.col("quality") >= 0.5)
        & (F.col("dup_ngram_frac") <= 0.3)
        & (F.col("nll") <= F.col("__p90"))
    )
    # component values pass through at their native 6 dp. The former
    # known edge (a composite score within one ulp of a 6-dp rounding
    # midpoint, where Spark's exact-decimal HALF_UP and DuckDB's
    # shortest-decimal round() disagree in the last digit — 1 of 5000
    # docs at sf0.1, 5 of 50k at sf1) is CLOSED in r8: quality_score and
    # its oracle both add 1e-12 before rounding, pushing both engines to
    # the same side of the boundary (re-verified green at sf0.01/0.1/1).
    return joined.select(
        "doc_id",
        "predicted_lang",
        "quality",
        "dup_ngram_frac",
        "nll",
        F.when(keep, F.lit(1)).otherwise(F.lit(0)).alias("keep"),
    )


def _text_unicode_normalize(spark, sf_dir):
    """NFC normalization over a derived fixture (the corpus is already
    composed, so every third doc gets a deterministic decomposed
    ' cafe'+COMBINING-ACUTE suffix — same in-entry synthesis pattern as
    the boilerplate/PII entries). Digested to md5 so the oracle compares
    the normalized text byte-exactly (unicodedata vs utf8proc — both
    implement the Unicode standard)."""
    from orientdb_spark.pipeline import text

    docs = _docs(spark, sf_dir)
    fx = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" cafe\u0301")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    out = text.unicode_normalize(fx)
    return out.select(
        "doc_id",
        F.md5(F.encode(F.col("normalized"), "UTF-8")).alias("digest"),
        "changed",
    )


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


def _sample_weighted(spark, sf_dir):
    """Deterministic weighted sampling without replacement (A-ES
    exponential keys, pipeline/sampling.weighted_sample): top-20 docs
    per source weighted by n_chars. The oracle re-derives u = h60/2^60
    and the rounded u^(1/w) ranking key from the same md5 arithmetic."""
    from orientdb_spark.pipeline.sampling import weighted_sample

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return weighted_sample(docs, weight_col="n_chars", k=20, group_col="source")


def _pipeline_rag_prep(spark, sf_dir):
    """Composition proof for the RAG-prep chain: chunk (32/8) -> drop
    short chunks (<16 tokens) -> deterministic split keyed on the
    chunk identity -> per-split totals, all under ONE oracle that
    re-derives every stage in SQL. Chunk-keyed splitting is the
    leakage-safe choice the composition demonstrates: a chunk keeps its
    split even as the corpus grows."""
    from orientdb_spark.pipeline import sampling, text

    chunks = text.chunk_documents(_docs(spark, sf_dir), chunk_tokens=32, overlap=8)
    kept = chunks.filter(F.col("n_tokens") >= 16).withColumn(
        "chunk_id",
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("chunk_idx").cast("string")
        ),
    )
    split = sampling.assign_split(kept, id_col="chunk_id")
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("chunk_id").alias("first_chunk"),
    )


def _pipeline_incremental_dedup(spark, sf_dir):
    """Incremental near-dup clustering — the daily-crawl shape: the old
    batch (doc_id % 3 != 0) is already clustered; the delta arrives,
    only pairs TOUCHING a delta doc feed graph.incremental_components,
    and old pairs never re-enter (their connectivity lives in the prev
    labels; delta docs start as registered singletons). The oracle is
    the FULL-corpus minhash -> transitive-closure ground truth, so
    equality proves incremental == from-scratch. (Pair mining here
    reuses the full-corpus LSH run for simplicity; in production the
    stored band signatures make the delta-restricted bucket join
    incremental too. Old-old pairs agree between the runs because
    bucket ids depend only on each doc's own signature; the bucket-size
    cap never triggers at these SFs.)"""
    from orientdb_spark.graph import incremental_components
    from orientdb_spark.pipeline import dedup, sampling

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    prev_pairs = dedup.minhash_lsh_pairs(old, threshold=0.9)
    old_clusters = sampling.duplicate_clusters(prev_pairs)
    prev = (
        docs.select(F.col("doc_id").alias("vid"))
        .join(
            old_clusters.select(F.col("doc_id").alias("vid"), "cluster_id"),
            "vid",
            "left",
        )
        .select("vid", F.coalesce("cluster_id", F.col("vid")).alias("component"))
    )
    all_pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9)
    new_pairs = all_pairs.filter(
        (F.col("id_a") % 3 == 0) | (F.col("id_b") % 3 == 0)
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    final = incremental_components(prev, new_pairs)
    return final.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).select(F.col("component").alias("cluster_id"), "n_docs")


def _sample_negatives(spark, sf_dir):
    """Deterministic contrastive negative sampling
    (pipeline/sampling.contrastive_negatives): 3 hash-drawn partners per
    document via bucket-bounded equi-join + argmin — never a cross join.
    Every draw is a pure function of (seed, id, slot), so the oracle
    re-derives the identical pairs from the md5 arithmetic alone."""
    from orientdb_spark.pipeline.sampling import contrastive_negatives

    return contrastive_negatives(
        _docs(spark, sf_dir), id_col="doc_id", k=3, n_buckets=32
    )


def _fulltext_phrase_search(spark, sf_dir):
    """Exact phrase query over the positional inverted index
    (fulltext.positional_index + phrase_search — IR posting
    intersection, one shuffle, no raw-text scan). The oracle rebuilds
    the token stream in SQL and counts consecutive-position matches;
    this corpus is punctuation-free so the ignore-chars tokenizer
    reduces to ws-split + stop-word drop on both engines."""
    from orientdb_spark.fulltext import phrase_search, positional_index

    idx = positional_index(_docs(spark, sf_dir))
    return phrase_search(idx, "table scan")


def _text_chunk_documents(spark, sf_dir):
    """RAG chunking (pipeline/text.chunk_documents): 32-token windows,
    8-token overlap, digested to md5 so the compare stays byte-exact
    without shipping chunk bodies. Start enumeration is pure integer
    arithmetic — both engines derive the identical chunk set."""
    from orientdb_spark.pipeline.text import chunk_documents

    out = chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=32, overlap=8
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        "n_tokens",
        F.md5(F.encode("chunk_text", "UTF-8")).alias("chunk_digest"),
    )


def _text_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (pipeline/text.bpe_train) — 10 merge
    rounds over the corpus word-frequency table. ORACLE-EXACT (r11
    upgrade from rows-only, the unrolled-CTE discipline): every round
    is integer arithmetic — pair counts are exact sums, the argmax
    order (count desc, a, b) is total, and the merge fold is replayed
    as a delimiter-exact string replace (see _bpe_oracle_sql) — so the
    10 collected argmax rows are bit-reproducible across engines. The
    sequential-reference equality and segmentation-consistency gates in
    tests/test_text_pipeline.py stay as the independent checks."""
    from orientdb_spark.pipeline.text import bpe_train

    merges, _ = bpe_train(_docs(spark, sf_dir), n_merges=10)
    return local_frame(
        spark,
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "rank bigint, left string, right string",
    )


def _text_cooccurrence(spark, sf_dir):
    """Top-40 token co-occurrence pairs with PMI over the top-30
    document-frequency vocabulary (pipeline/text.cooccurrence). The
    in-row pair expansion is checked against the oracle's naive
    (doc, token) self-join — two independent formulations of the same
    counts."""
    from orientdb_spark.pipeline import text

    return text.cooccurrence(_docs(spark, sf_dir), top_terms=30, k=40)


def _text_feature_hashing(spark, sf_dir):
    """Hashing-trick featurizer (pipeline/text.feature_hashing,
    HashingTF analog): sparse per-doc bucket counts over 256 buckets —
    h60(token) % 256 with collisions merging counts by design. One
    explode + one map-side-combinable groupBy; no vocabulary state.
    The oracle re-derives the identical md5-based bucket ids."""
    from orientdb_spark.pipeline import text

    return text.feature_hashing(_docs(spark, sf_dir), n_buckets=256)


def _text_hash_embedding(spark, sf_dir):
    """Hash embeddings (pipeline/text.hash_embedding): feature hashing
    x sign random projection, 256 buckets -> 16 dims. Components are
    integer sums (order-independent -> oracle-exact); only the final
    norm/round touches floats."""
    from orientdb_spark.pipeline import text

    return text.hash_embedding(_docs(spark, sf_dir), n_buckets=256, dim=16)


def _text_vocabulary(spark, sf_dir):
    """Tokenizer-style vocabulary construction (pipeline/text.vocabulary):
    top-200 lowercased whitespace tokens at min_count>=2 under the total
    (count desc, token) order — the rank-k boundary is deterministic, so
    the DuckDB oracle reproduces the truncation exactly."""
    from orientdb_spark.pipeline import text

    return text.vocabulary(_docs(spark, sf_dir), min_count=2, k=200)


def _profile_value_histogram(spark, sf_dir):
    """Equi-width 20-bin histogram of events.value
    (pipeline/profile.histogram): global min/max ride back as a
    broadcast one-row cross join; identical IEEE expression order on
    both engines keeps boundary values in the same bin."""
    from orientdb_spark.pipeline.profile import histogram

    return histogram(_engine(spark, sf_dir).table("events"), "value", bins=20)


def _text_tfidf(spark, sf_dir):
    """Per-doc top-3 terms by TF-IDF (keyword extraction). Ranking
    compares the 6-dp-rounded score, so cross-engine ln() ulp noise
    can't flip ranks (verified value-exact at all three SFs)."""
    from orientdb_spark.pipeline import text

    return text.tfidf_top_terms(_docs(spark, sf_dir), k=3)


# Fixed query batch for the BM25 entry — terms drawn from the synthetic
# corpus vocabulary so every query matches; literal so the DuckDB
# replay is a VALUES list.
_BM25_QUERIES = [
    (1, "filter merge join"),
    (2, "customer order line"),
    (3, "window sort hash scan"),
    (4, "slow query batch"),
    (5, "data stream value table"),
]
_BM25_QUERY_SCHEMA = "query_id bigint, query_text string"


def _text_bm25_topk(spark, sf_dir):
    """Batch BM25 ranked retrieval (pipeline/text.bm25_topk, Robertson
    & Zaragoza 2009, Lucene's always-positive idf): five fixed
    queries, top-10 docs each. Oracle-exact: tf/dl/df/N are integers,
    avgdl and each term contribution fixed double expressions of
    them, the per-(query, doc) sum nudge-rounded to 6 dp before the
    rank with doc-id tiebreaks (the tfidf/lm_score convention)."""
    from orientdb_spark.pipeline.text import bm25_topk

    queries = local_frame(spark, _BM25_QUERIES, _BM25_QUERY_SCHEMA)
    return bm25_topk(_docs(spark, sf_dir), queries, k=10)


def _text_rocchio_prf(spark, sf_dir):
    """Pseudo-relevance-feedback retrieval (pipeline/text.
    rocchio_prf_topk — Rocchio 1971 / Robertson offer weights): BM25
    pass 1 over the five fixed queries, top-3 feedback docs, 2
    strongest new terms by summed tf·idf (6-dp, term tiebreaks)
    appended per query, re-ranked top-10 over the SAME corpus tables
    (one tokenize). The oracle replays both passes and the expansion
    pick end-to-end."""
    from orientdb_spark.pipeline.text import rocchio_prf_topk

    queries = local_frame(spark, _BM25_QUERIES, _BM25_QUERY_SCHEMA)
    return rocchio_prf_topk(
        _docs(spark, sf_dir), queries, k=10, fb_docs=3, fb_terms=2
    )


_GOPHER_STOPS = ["a", "data", "key", "window", "scan"]


def _gopher_fixture(docs):
    """Deterministic rule-signal decoration for the Gopher filter entry.

    The synthetic corpus is single-line all-alphabetic text, so rules
    3-7 would be constant on the raw table. Stamps (composable — a
    doc_id divisible by several moduli gets several): %5 -> bullet
    prefix plus a second bulleted line (bullet ratio 1.0, fails rule 4);
    %6 -> fourteen digit words (alpha ratio drops; short docs also dip
    below mean-word-len 3); %4 -> ``# # #`` (symbol ratio); %7 ->
    trailing ``...`` (ellipsis line + symbol ratio). The word-count and
    stop-word rules draw signal from the raw corpus (word counts 10-99
    vs min 50; stop set chosen from the fixture vocabulary)."""
    i = F.col("doc_id")
    t = F.col("text")
    stamped = F.concat(
        F.when(i % 5 == 0, F.lit("- ")).otherwise(F.lit("")),
        t,
        F.when(i % 6 == 0, F.lit(" 0 1 2 3 4 5 6 7 8 9 10 11 12 13")).otherwise(
            F.lit("")
        ),
        F.when(i % 4 == 0, F.lit(" # # #")).otherwise(F.lit("")),
        F.when(i % 7 == 0, F.lit(" ...")).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.concat(F.lit("\n- "), t)).otherwise(F.lit("")),
    )
    return docs.select("doc_id", stamped.alias("text"))


def _text_gopher_rules(spark, sf_dir):
    """The Gopher/MassiveText rule-table filter (pipeline/text.
    gopher_rules, Rae et al. 2021 appendix A1.1): per-doc measured
    stats, one boolean per rule, keep = AND. Paper thresholds except
    the stop-word set, which comes from the fixture vocabulary so rule
    7 has signal. Pure per-row projection — the plan pin asserts zero
    exchanges. Oracle-exact: every flag derives from the already
    6-dp-rounded ratio columns."""
    from orientdb_spark.pipeline.text import gopher_rules

    fixture = _gopher_fixture(_docs(spark, sf_dir))
    return gopher_rules(
        fixture, stop_words=_GOPHER_STOPS, min_stop_words=2
    )


def _text_fim_transform(spark, sf_dir):
    """Fill-in-the-middle example construction (pipeline/text.
    fim_transform, Bavarian et al. 2022): a deterministic 60% of
    >=20-char docs split at two h60-drawn character cuts into
    prefix/middle/suffix and re-serialized with sentinels (PSM, or SPM
    for half of them); the rest pass through as mode='none'. Every
    decision is an integer hash residue, so the whole corpus transform
    replays in SQL. One scan, in-row string arithmetic, zero
    exchanges."""
    from orientdb_spark.pipeline.text import fim_transform

    return fim_transform(
        _docs(spark, sf_dir), fim_rate=0.6, spm_rate=0.5, min_chars=20
    )


def _text_span_corruption(spark, sf_dir):
    """T5-style span corruption (pipeline/text.span_corruption, Raffel
    et al. 2020 / UL2 R-denoiser): deterministic per-segment spans
    (S = floor(n*0.15/3), one per equal-width token segment, h60-drawn
    length/start), sentinel-marked encoder inputs + decoder targets.
    Docs under 20 tokens pass through with n_spans=0. Pure in-row
    array arithmetic; the oracle replays the whole construction."""
    from orientdb_spark.pipeline.text import span_corruption

    return span_corruption(
        _docs(spark, sf_dir), corruption_rate=0.15, mean_span=3, min_tokens=20
    )


def _text_duplicate_spans(spark, sf_dir):
    """Exact duplicated-substring spans (the distributed analog of
    Lee et al. 2022 suffix-array substring dedup;
    pipeline/dedup.duplicate_spans — two-exchange n-gram window plan).
    Corpus = documents plus a prefixed recrawl of every 3rd doc: the
    prefix SHIFTS token positions in the copy, so matching spans prove
    the position arithmetic and the island merge, not just gram
    equality. The oracle re-derives the corpus and the islands-and-gaps
    walk independently in SQL."""
    from orientdb_spark.pipeline.dedup import duplicate_spans

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recrawl = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.lit("RECRAWL "), F.col("doc_id").cast("string"), F.lit(" "), F.col("text")
        ).alias("text"),
    )
    return duplicate_spans(docs.unionByName(recrawl), n=5, min_df=2)


def _text_boilerplate(spark, sf_dir):
    """Cross-doc boilerplate detection + removal. The synthetic corpus
    has no boilerplate signal (measured max trigram doc-frequency 7/500,
    no newlines — NOTES_r5), so the entry derives a fixture the same way
    the embeddings/events entries do: a deterministic per-source header
    and footer stamped onto every doc. The operator must rediscover
    exactly those lines via per-source document frequency and strip
    them; the oracle re-implements detection+strip independently in SQL."""
    from orientdb_spark.pipeline import text

    src = F.col("source")
    fixture = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.concat(
            F.lit("== "), src, F.lit(" newsletter ==\n"),
            F.col("text"),
            F.lit("\nunsubscribe at "), src, F.lit(".example.com"),
        ).alias("text"),
    )
    return text.strip_boilerplate(fixture)


def _text_line_quality(spark, sf_dir):
    """C4-style per-line quality pass over a fixture with deterministic
    noise lines (too short / nav chrome / digit soup) plus one extra
    good line on every third doc so per-doc counts vary."""
    from orientdb_spark.pipeline import text

    extra = F.when(
        F.col("doc_id") % 3 == 0,
        F.lit("\nthe quick brown fox jumps over the lazy dog today"),
    ).otherwise(F.lit(""))
    fixture = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("ok\n"),
            F.col("text"),
            F.lit("\nHOME | ABOUT\n404 503 2024 17 42 99"),
            extra,
        ).alias("text"),
    )
    return text.line_quality(fixture)


def _text_pii_redact(spark, sf_dir):
    """PII pattern scan + redaction over a fixture injecting an email
    per doc and phone/SSN/IP shapes on deterministic doc_id residues."""
    from orientdb_spark.pipeline import text

    did = F.col("doc_id")
    fixture = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
            F.when(did % 2 == 0, F.lit(" call 555-867-5309")).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
            F.when(did % 7 == 0, F.lit(" node 10.0.0.7 up")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return text.pii_scan(fixture)


def _sample_pack_sequences(spark, sf_dir):
    """Sequence packing over the documents table: whitespace token
    counts, concatenated in doc_id order, cut into 256-token training
    sequences via the distributed prefix sum."""
    from orientdb_spark.pipeline import sampling, text

    counts = text.token_stats(_docs(spark, sf_dir)).select(
        "doc_id", F.col("n_ws_tokens").cast("long").alias("n_tokens")
    )
    return sampling.pack_sequences(counts, budget=256)


def _sample_stratified_split(spark, sf_dir):
    """Exact-proportion stratified split by language
    (sampling.stratified_split): per-lang hash-ranked 80/10/10 carve
    with integer-permille thresholds — every stratum's split sizes are
    exact floors, rare labels included. One window exchange."""
    from orientdb_spark.pipeline.sampling import stratified_split

    docs = _docs(spark, sf_dir)
    return stratified_split(docs, strata=["lang"]).select("doc_id", "lang", "split")


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


def _text_edit_distance_join(spark, sf_dir):
    """Typo-tolerant entity-resolution join (dedup.edit_distance_join,
    PassJoin segment signatures): part names plus a deterministically
    corrupted copy of every 5th name (first char replaced) — the join
    must recover each corruption at distance 1 via the segment
    equi-join, never an all-pairs product. The oracle is the naive
    quadratic levenshtein join."""
    from orientdb_spark.pipeline.dedup import edit_distance_join

    pa = _engine(spark, sf_dir).table("part")
    # p_name has only 64 distinct values (347x duplication at sf0.1), so
    # raw names make the ANSWER quadratic (dist-0 pairs alone ~3M);
    # suffixing the key yields a realistic near-unique entity corpus
    name = F.concat(F.col("p_name"), F.lit(" #"), F.col("p_partkey").cast("string"))
    clean = pa.select(F.col("p_partkey").alias("doc_id"), name.alias("text"))
    dirty = pa.filter(F.col("p_partkey") % 5 == 0).select(
        (F.col("p_partkey") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("x"), F.expr("substring(p_name, 2)"),
                 F.lit(" #"), F.col("p_partkey").cast("string")).alias("text"),
    )
    return edit_distance_join(clean.unionAll(dirty), max_dist=1)


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


def _text_paragraph_dedup(spark, sf_dir):
    """Cross-corpus paragraph dedup on a fixture injecting (a) one
    paragraph shared across every fourth doc — only the lowest doc_id
    keeps it — and (b) a paragraph doubled WITHIN every tenth doc — the
    first occurrence in the lowest such doc survives, all others
    (including the same doc's second copy) are removed."""
    from orientdb_spark.pipeline import text

    did = F.col("doc_id")
    fixture = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 4 == 1, F.lit("\njoin our promo newsletter now")).otherwise(
                F.lit("")
            ),
            F.when(
                did % 10 == 2,
                F.lit("\nrate this article five stars\nrate this article five stars"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return text.paragraph_dedup(fixture)


def _multimodal_features(spark, sf_dir):
    from orientdb_spark.pipeline import multimodal

    docs = multimodal.with_binary_payload(_docs(spark, sf_dir))
    return multimodal.binary_features(docs)


def _multimodal_fake_decode(spark, sf_dir):
    """Driver-comparable shape: the array<int> histogram is exploded to
    one (bin, bin_count) row per bucket — the driver's pandas
    canonicalizer sorts over all columns and cannot hash Python lists, so
    arrays must leave the entry as scalars. The library API keeps the
    array form for users."""
    from orientdb_spark.pipeline import multimodal

    docs = multimodal.with_binary_payload(_docs(spark, sf_dir))
    feats = multimodal.fake_decode_features(docs)
    return feats.select(
        "doc_id", "n_bytes", F.posexplode("histogram").alias("bin", "bin_count")
    )


def _multimodal_resize(spark, sf_dir):
    """Same scalarization as fake_decode: the pixel grid is exploded to
    one (cell, pixel) row per cell so every average-pooled value is
    hash-compared against the DuckDB oracle."""
    from orientdb_spark.pipeline import multimodal

    docs = multimodal.with_binary_payload(_docs(spark, sf_dir))
    px = multimodal.resize_images(docs, width=4, height=4)
    return px.select(
        "doc_id", "width", "height", F.posexplode("pixels").alias("cell", "pixel")
    )


def _multimodal_scene_cuts(spark, sf_dir):
    """Scene-cut detection (pipeline/multimodal.scene_cuts): per-frame
    byte-energy over the 64-byte fake-decode frame stream, cuts where
    the consecutive delta exceeds 200 — exact integer arithmetic end
    to end, so the oracle replays chunking + energies + the lag window
    from the payload's character codes (the corpus is ASCII: byte ==
    ascii(char))."""
    from orientdb_spark.pipeline import multimodal

    docs = multimodal.with_binary_payload(_docs(spark, sf_dir))
    return multimodal.scene_cuts(docs, frame_bytes=64, threshold=200)


def _multimodal_frame_sample(spark, sf_dir):
    """Frame rows with the binary frame digested to (byte length, md5) —
    binary columns come back to pandas as unhashable bytearrays, and the
    md5 keeps the compare sensitive to every frame byte."""
    from orientdb_spark.pipeline import multimodal

    docs = multimodal.with_binary_payload(_docs(spark, sf_dir))
    fr = multimodal.sample_frames(docs, frame_bytes=64, every=4)
    return fr.select(
        "doc_id",
        "frame_index",
        "frame_ts",
        F.length("frame").alias("n_frame_bytes"),
        F.md5("frame").alias("frame_digest"),
    )


def _events_map_engine(spark, sf_dir):
    """events with props parsed into a real MapType column (EMBEDDEDMAP)."""
    eng = _fresh_engine(spark, sf_dir)
    ev = eng.table("events").withColumn(
        "props_map", F.from_json("props", "map<string,int>")
    )
    eng.register_dataframe("eventsmap", ev, rid_pos=lambda df: F.col("event_id"))
    return eng


def _map_containskey(spark, sf_dir):
    return _events_map_engine(spark, sf_dir).sql(
        "select event_id from eventsmap where props_map containskey 'k' "
        "and event_id <= 20 order by event_id"
    )


def _map_containsvalue(spark, sf_dir):
    return _events_map_engine(spark, sf_dir).sql(
        "select event_id from eventsmap where props_map containsvalue 42 order by event_id"
    )


def _containsall_condition(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    items = (
        eng.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_list(F.struct("l_returnflag", "l_quantity")).alias("items"))
    )
    eng.register_dataframe("orderitems2", items)
    return eng.sql(
        "select l_orderkey from orderitems2 where items containsall (l_quantity > 2) "
        "order by l_orderkey"
    )


def _update_add_collection(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    base = spark.read.parquet(f"{sf_dir}/region.parquet").withColumn(
        "tags", F.array(F.lit("a"))
    )
    eng.register_dataframe("regiontags", base)
    eng.command("update regiontags add tags = 'b' where r_regionkey <= 2")
    return eng.table("regiontags").select(
        "r_regionkey", F.array_join("tags", ",").alias("tags")
    )


def _update_put_map(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    base = spark.read.parquet(f"{sf_dir}/region.parquet").withColumn(
        "m", F.create_map(F.lit("k1"), F.lit(1))
    )
    eng.register_dataframe("regionmap", base)
    eng.command("update regionmap put m = 'k2', 5 where r_regionkey >= 3")
    return eng.table("regionmap").select("r_regionkey", F.explode("m").alias("key", "value"))


def _update_remove_ops(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    base = (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .withColumn("tags", F.array(F.lit("a"), F.lit("b")))
        .withColumn("extra", F.lit("x"))
    )
    eng.register_dataframe("regiontags2", base)
    eng.command("update regiontags2 remove tags = 'a' where r_regionkey = 0")
    eng.command("update regiontags2 remove extra where r_regionkey = 1")
    return eng.table("regiontags2").select(
        "r_regionkey", F.array_join("tags", ",").alias("tags"), "extra"
    )


def _custom_udf(spark, sf_dir):
    # user-registered function usable from the dialect (the reference's
    # e2e UDF test registers bigger(a, b) — SQLFunctionsTest.java:63-98)
    eng = _fresh_engine(spark, sf_dir)
    eng.register_function("bigger", lambda a: F.greatest(a[0], a[1]))
    return eng.sql(
        "select o_orderkey, bigger(o_totalprice, 1000) as big from orders "
        "where o_orderkey <= 200 order by o_orderkey"
    )


def _csv_positional_roundtrip(spark, sf_dir):
    # ORecordColumn: positional CSV record addressed by column index
    # (core:record/impl/ORecordColumn.java:32-41 → SURVEY §1.1)
    eng = _fresh_engine(spark, sf_dir)
    path = os.path.join(tempfile.mkdtemp(prefix="ospark_csv_"), "region_csv")
    eng.table("region").write.mode("overwrite").csv(path)
    eng.register_dataframe("regioncsv", spark.read.csv(path))
    return eng.sql(
        "select column(0).asInteger() as r_regionkey, column(1) as r_name "
        "from regioncsv order by r_regionkey"
    )


def _graph_delete_cascade(spark, sf_dir):
    # vertex delete cascades to in/out edges (OGraphVertex.java:364-388)
    g = _graph(spark, sf_dir).delete_vertex("nation:3")
    return g.out_degrees().filter(F.col("vid").like("region:%")).orderBy("vid")


def _window_running_frames(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return eng.table("orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(frame), 2).alias("running_total"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
    )


def _rollup_pricing(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return (
        eng.table("lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


def _dictionary_keyset(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.dictionary.put("k1", "region", (1, 0))
    eng.dictionary.put("k2", "region", (1, 1))
    eng.dictionary.put("k3", "nation", (2, 5))
    eng.dictionary.remove("k2")
    return (
        eng.dictionary.as_dataframe()
        .select("key", F.col("class").alias("cls"), F.col("rid.pos").alias("pos"))
        .orderBy("key")
    )


def _ddl_schema_evolution(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.command("create class doctmp")
    eng.command("create property doctmp.name string")
    eng.command("create property doctmp.score integer")
    eng.command("insert into doctmp (name, score) values ('alpha', 10)")
    eng.command("insert into doctmp (name, score) values ('beta', 20)")
    return eng.sql("select name, score from doctmp order by name")


def _unique_index_violation(spark, sf_dir):
    # UNIQUE property-index enforcement (negative test): the duplicate
    # insert MUST raise (reference: the property index rejects the save,
    # core:metadata/schema/OProperty.java:257, tests/.../IndexTest.java);
    # the returned rows are the accepted state
    from orientdb_spark.errors import OIndexException

    eng = _fresh_engine(spark, sf_dir)
    eng.command("create class uniqtmp")
    eng.command("create property uniqtmp.code string")
    eng.command("create property uniqtmp.v long")
    eng.command("create index uniqtmp.code unique")
    eng.command("insert into uniqtmp (code, v) values ('A', 1)")
    eng.command("insert into uniqtmp (code, v) values ('B', 2)")
    try:
        eng.command("insert into uniqtmp (code, v) values ('A', 3)")
        raise AssertionError("duplicate key insert must raise OIndexException")
    except OIndexException:
        pass
    return eng.sql("select code, v from uniqtmp order by code")


def _schema_mixed_insert(spark, sf_dir):
    # schema-mixed records (ODocument.java:55-57): an INSERT carrying
    # fields outside the declared schema lands them in the _extra
    # map<string,string> overflow; reads resolve overflow fields stringly
    # and chain ops coerce (SURVEY §7 hard-part 1)
    eng = _fresh_engine(spark, sf_dir)
    eng.command("create class mixtmp")
    eng.command("create property mixtmp.name string")
    eng.command("insert into mixtmp (name) values ('plain')")
    eng.command("insert into mixtmp (name, nickname, age) values ('rich', 'Rico', 33)")
    return eng.sql(
        "select name, nickname, nickname.touppercase() as nick_upper, "
        "age.asinteger() as age_n from mixtmp order by name"
    )


def _ddl_truncate(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.command("create class trunctmp")
    eng.command("insert into trunctmp (v) values (1)")
    eng.command("insert into trunctmp (v) values (2)")
    eng.command("truncate class trunctmp")
    return eng.sql("select count(*) as n from trunctmp")


def _is_null_filter(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    base = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "o_pri",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(F.col("o_orderpriority")),
    )
    eng.register_dataframe("ordersnull", base)
    return eng.sql("select o_orderkey from ordersnull where o_pri is null order by o_orderkey")


# --- effect queries: non-SQL §2 surfaces observed through SQL ---------------
# Each performs the operation through its API surface and SELECTs the
# observable aftermath; the oracle is the expected literal table
# (reference analog: tests:database/auto/SQLCommandsTest.java:36-70 runs
# DDL then asserts the visible state).


def _ddl_remove_property_effect(spark, sf_dir):
    """REMOVE PROPERTY drops the property from the schema AND the column
    from the class data (dml.py RemovePropertyCmd); the aftermath SELECT *
    proves the column is gone via the driver's schema compare — `extra`
    appearing in the Spark result would fail the column-set match."""
    eng = _fresh_engine(spark, sf_dir)
    eng.command("create class rptmp")
    eng.command("create property rptmp.name string")
    eng.command("create property rptmp.extra integer")
    eng.command("insert into rptmp (name, extra) values ('a', 1)")
    eng.command("insert into rptmp (name, extra) values ('b', 2)")
    eng.command("remove property rptmp.extra")
    return eng.sql("select * from rptmp order by name")


def _ddl_remove_index_effect(spark, sf_dir):
    """REMOVE INDEX lifts unique enforcement: the same duplicate INSERT
    that raises OIndexException while the index exists succeeds after
    removal — the aftermath count proves both phases ran."""
    from orientdb_spark.errors import OIndexException

    eng = _fresh_engine(spark, sf_dir)
    eng.command("create class ritmp")
    eng.command("create property ritmp.code string")
    eng.command("create index ritmp.code unique")
    eng.command("insert into ritmp (code) values ('A')")
    try:
        eng.command("insert into ritmp (code) values ('A')")
        raise AssertionError("unique index must reject the duplicate")
    except OIndexException:
        pass
    eng.command("remove index ritmp.code")
    eng.command("insert into ritmp (code) values ('A')")
    return eng.sql("select code, count(*) as n from ritmp group by code")


def _security_grant_effect(spark, sf_dir):
    """GRANT/REVOKE enforcement observed as an outcome table: a role
    holding READ on one class can select it and nothing else, writes
    stay denied (ORole CRUD bitmask checked at query entry,
    core:sql/OCommandExecutorSQLSelect.java:90,158-165), and REVOKE
    restores the denial."""
    from orientdb_spark.security import OSecurityAccessException

    eng = _fresh_engine(spark, sf_dir)
    eng.command("grant read on database.class.region to auditor")
    probes = []

    def attempt(probe, fn):
        eng.set_role("auditor")
        try:
            fn()
            probes.append((probe, "allowed"))
        except OSecurityAccessException as e:
            # "... has no permission to <OP> against the resource: ..."
            op = str(e).split("permission to ")[1].split(" ")[0]
            probes.append((probe, f"denied:{op}"))
        finally:
            eng.set_role(None)

    attempt("read_granted_class", lambda: eng.query("select r_name from region"))
    attempt("read_other_class", lambda: eng.sql("select n_name from nation"))
    attempt(
        "insert_granted_class",
        lambda: eng.command(
            "insert into region (r_regionkey, r_name) values (99, 'X')"
        ),
    )
    eng.command("revoke read on database.class.region from auditor")
    attempt("read_after_revoke", lambda: eng.sql("select r_name from region"))
    return local_frame(spark, probes, "probe string, outcome string")


def _dictionary_named_roots(spark, sf_dir):
    """Named graph roots (dictionary-backed, ODictionary analog): put
    two named roots pointing at records, then resolve each root back to
    its record — the lookup table IS the observable effect. RID position
    in the synthetic region cluster equals r_regionkey (same mapping the
    recorded dictionary_get entry pins)."""
    eng = _fresh_engine(spark, sf_dir)
    cid = eng.catalog.get("region").cluster_id
    eng.dictionary.put("root:apac", "region", (cid, 2))
    eng.dictionary.put("root:emea", "region", (cid, 3))
    parts = [
        eng.dictionary.get_record(k).select(
            F.lit(k).alias("root"), "r_regionkey", "r_name"
        )
        for k in ("root:apac", "root:emea")
    ]
    return parts[0].unionByName(parts[1])


def _async_query_abort_effect(spark, sf_dir):
    """Push-based async query with abort-by-return-value
    (OSQLAsynchQuery + OCommandResultListener, SQLSelect.java:228-242):
    the listener stops after three rows, so exactly the three smallest
    orderkeys of the ordered stream are observed."""
    eng = _engine(spark, sf_dir)
    seen = []

    def listener(row):
        seen.append((row["o_orderkey"],))
        return len(seen) < 3

    eng.async_query("select o_orderkey from orders order by o_orderkey", listener)
    return local_frame(spark, seen, "o_orderkey long")


def _custom_operator_where(spark, sf_dir):
    """Custom WHERE operator registry (OSQLHelper.registerOperator
    parity, core:sql/OSQLHelper.java:98-102): a registered word becomes
    a binary condition operator compiled to its Column builder; the
    oracle re-expresses the predicate in plain SQL."""
    from orientdb_spark import register_operator, unregister_operator

    register_operator(
        "icontains", lambda l, r: F.instr(F.lower(l), F.lower(r)) > 0
    )
    try:
        return _fresh_engine(spark, sf_dir).sql(
            "select n_name from nation where n_name icontains 'tion_1' "
            "order by n_name"
        )
    finally:
        unregister_operator("icontains")


def _native_fluent_query(spark, sf_dir):
    """Native fluent query API (OQueryContextNative /
    ONativeSynchQuery, core:query/nativ/): field chains with casts,
    between, and negation compile to one distributed filter."""
    from orientdb_spark.native import ONativeSynchQuery, OQueryContextNative

    ctx = (
        OQueryContextNative()
        .field("n_nationkey")
        .to_long()
        .between(3, 7)
        .and_()
        .not_()
        .field("n_name")
        .eq("NATION_5")
    )
    eng = _engine(spark, sf_dir)
    return (
        ONativeSynchQuery(eng, "nation", ctx)
        .dataframe()
        .select("n_nationkey", "n_name")
    )


# --- model-based curation entries (pipeline/model.py, r11) -------------------


def _classifier_label(df):
    """Deterministic binary label for the classifier entries: the
    'target language' proxy (lang = 'en') — the GPT-3 App. A shape is
    'looks like the curated corpus vs not'; any 0/1 column works."""
    return df.withColumn("__lbl", (F.col("lang") == "en").cast("int"))


def _text_classifier_train(spark, sf_dir):
    """Distributed logistic-regression training of a linear quality
    classifier over hashed bag-of-words features (the fasttext /
    GPT-3-App.A / FineWeb-Edu filter family; pipeline/model.py).
    ORACLE-EXACT: every GD iteration quantizes the weights to the
    6-dp nudge-rounded grid (the kmeans/k-center discipline), so the
    oracle's unrolled-CTE replay — feature hashing, L1 normalization,
    sigmoid errors, gradient sums, weight updates — reproduces the
    trained model bit-for-bit. The numpy-GD agreement gate lives in
    tests/test_model.py."""
    from orientdb_spark.pipeline import model

    w = model.train_quality_classifier(
        _classifier_label(_docs(spark, sf_dir)),
        "__lbl",
        n_buckets=16,
        iters=3,
        lr=1.0,
    )
    return local_frame(
        spark,
        [(int(k), float(v)) for k, v in sorted(w.items())],
        "bucket BIGINT, weight DOUBLE",
    )


def _text_classifier_score(spark, sf_dir):
    """Train-then-score composition: the broadcast-weights inference
    pass over the whole corpus (scan → in-row hash → per-token weight
    lookup in a d-element literal array → one map-side-combinable
    groupBy — the plan a 100 TB quality filter actually runs;
    plan-pinned single-exchange in tests/test_model.py). The oracle
    replays training AND scoring under one hash check. r14: train and
    score share ONE tokenize+hash pass (the oracle's materialized tk
    CTE shape) instead of scanning the corpus twice — same weights,
    same per-token score formula."""
    from orientdb_spark.pipeline import model

    docs = _classifier_label(_docs(spark, sf_dir))
    return model.train_and_score_quality_classifier(
        docs, "__lbl", n_buckets=16, iters=3, lr=1.0
    )


def _text_classifier_calibration(spark, sf_dir):
    """Reliability / threshold-tuning table for the trained filter
    (pipeline/model.score_calibration, the Guo et al. 2017 shape):
    decile bins over the broadcast-inference scores with per-bin
    positive rates and cumulative-from-top precision/recall — how a
    pipeline picks its quality cutoff. The oracle replays training,
    scoring, binning, and the window arithmetic under one hash check
    (scores live on the 6-dp grid, so bin membership is engine-exact)."""
    from orientdb_spark.pipeline import model

    docs = _classifier_label(_docs(spark, sf_dir))
    w = model.train_quality_classifier(docs, "__lbl", n_buckets=16, iters=3, lr=1.0)
    scored = model.classifier_score(docs, w).join(
        docs.select("doc_id", F.col("__lbl").alias("label")), "doc_id"
    )
    # range binning: the undertrained fixture model is discriminative
    # but uncalibrated (scores concentrate near 0.46), so observed
    # min-max deciles carry the signal unit deciles would collapse
    return model.score_calibration(scored, n_bins=10, binning="range")


def _text_classifier_pr_curve(spark, sf_dir):
    """Operating-point sweep for the trained filter (pipeline/model.
    threshold_sweep): per candidate threshold over the broadcast-
    inference scores, the full confusion-matrix counts plus
    precision/recall/F1/accuracy — the table a pipeline reads to PICK
    the cutoff score_calibration only characterizes. Thresholds span
    the undertrained fixture's observed score band (~0.46). Every
    metric is one division of exact integer counts on the 6-dp score
    grid; the oracle replays train → score → sweep under one hash."""
    from orientdb_spark.pipeline import model

    docs = _classifier_label(_docs(spark, sf_dir))
    w = model.train_quality_classifier(docs, "__lbl", n_buckets=16, iters=3, lr=1.0)
    scored = model.classifier_score(docs, w).join(
        docs.select("doc_id", F.col("__lbl").alias("label")), "doc_id"
    )
    return model.threshold_sweep(scored)


def _sample_length_buckets(spark, sf_dir):
    """Padding-waste audit for length-bucketed batching (pipeline/
    sampling.length_buckets — the group_by_length practice): per
    bucket (ascending caps 16/24/32/40/48/64 + overflow), doc counts,
    observed max, total vs padded tokens, waste fraction. Literal
    integer CASE assignment, exact integer aggregates, one division.
    Oracle-exact trivially."""
    from orientdb_spark.pipeline.sampling import length_buckets

    return length_buckets(
        _docs(spark, sf_dir), bounds=(16, 24, 32, 40, 48, 64)
    )


def _sample_moore_lewis(spark, sf_dir):
    """Moore-Lewis cross-entropy-difference selection (pipeline/
    sampling.moore_lewis_score, Moore & Lewis 2010): every doc scored
    under the en-subset bigram LM and the whole-corpus LM, ce_diff =
    nll_in − nll_gen ranks domain-typicality (negative = select).
    OOV bigrams back off to the add-k floor via LEFT joins + exact-0
    coalesce. The oracle replays both models and the difference."""
    from orientdb_spark.pipeline.sampling import moore_lewis_score

    docs = _docs(spark, sf_dir)
    return moore_lewis_score(docs, F.col("lang") == "en")


def _sample_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity stratification (Wenzek et al.
    2020; pipeline/model.perplexity_buckets): per-language exact
    interpolated tercile cuts over the corpus-trained bigram-LM NLL.
    Composes the text_lm_score oracle with quantile_cont thresholds —
    the F.percentile == quantile_cont parity precedent."""
    from orientdb_spark.pipeline import model

    return model.perplexity_buckets(_docs(spark, sf_dir))


def _multimodal_pair_filter(spark, sf_dir):
    """CLIP-score pair filtering (Schuhmann et al. 2021, LAION;
    pipeline/multimodal.pair_score_filter): image/caption embedding
    pairs (even/odd vec_id halves of the embeddings table) kept when
    the nudge-rounded cosine clears the threshold; zero-norm sides
    dropped explicitly (a NaN cosine would be silently KEPT by both
    engines' NaN-is-largest ordering — the guard encodes the contract
    instead). τ=0.0 on the isotropic fixture keeps ~half the pairs."""
    from orientdb_spark.pipeline import multimodal

    embs = _embs(spark, sf_dir)
    img = embs.filter(F.col("vec_id") % 2 == 0).select(
        F.expr("vec_id div 2").alias("pair_id"), "embedding"
    )
    txt = embs.filter(F.col("vec_id") % 2 == 1).select(
        F.expr("vec_id div 2").alias("pair_id"), "embedding"
    )
    return multimodal.pair_score_filter(img, txt, threshold=0.0)


def _sim_topk_mmr(spark, sf_dir):
    """Maximal-marginal-relevance diversified top-k
    (pipeline/similarity.mmr_topk, Carbonell & Goldstein 1998): exact
    top-20 candidates per query, then 5 greedy picks maximizing
    0.5·rel − 0.5·max-sim-to-picked. Oracle-exact: the greedy loop is
    unrolled as chained CTEs (the k-center/betweenness discipline) —
    relevance, pair sims, and scores all live on the 6-dp nudge-rounded
    grid with neighbor_id tiebreaks, so both engines walk the identical
    selection path."""
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    return similarity.mmr_topk(
        embs, embs.filter(F.col("vec_id") < 8), k=5, m=20, lam=0.5
    )


def _sim_bitext_mine(spark, sf_dir):
    """Margin-based bitext mining (pipeline/similarity.bitext_mine,
    Artetxe & Schwenk 2019 — the LASER/CCMatrix parallel-corpus mining
    recipe): the embeddings table split by vec_id parity plays the two
    monolingual sides; ratio margin over k=4 neighborhoods, mutual
    top-1 pairs at threshold 1.0. Oracle-exact: cosines and margins
    live on the 6-dp nudge-rounded grid with id tiebreaks (the
    sim_topk_bruteforce cosine convention), so k-NN membership, margin
    argmaxes, and the mutual filter replay identically in DuckDB."""
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    return similarity.bitext_mine(
        embs.filter(F.col("vec_id") % 2 == 0),
        embs.filter(F.col("vec_id") % 2 == 1),
        k=4,
        threshold=1.0,
    )


def _sim_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive retriever training
    (pipeline/similarity.hard_negatives — the DPR recipe, Karpukhin et
    al. 2020): queries are vec_id < 8, each query's labeled positive is
    its exact nearest neighbor (the standard relevance-label proxy),
    and the mined output is the top-5 highest-cosine NON-positive docs
    per query, positives anti-joined BEFORE the rank. Oracle-exact: the
    sim_topk_bruteforce cosine convention (dimension-major double dot
    products, 6-dp display rounding, neighbor-id tiebreaks) replays
    both the positive derivation and the negative rank in SQL."""
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 8)
    positives = similarity.brute_force_topk(embs, queries, k=1).select(
        "query_id", F.col("neighbor_id").alias("pos_id")
    )
    return similarity.hard_negatives(embs, queries, positives, k=5)


def _sim_ann_recall(spark, sf_dir):
    """Recall@k of the IVF index against exact ground truth
    (pipeline/similarity.ann_recall_report) — the tuning harness an
    ANN deployment runs before trusting its index: per query,
    ground-truth size, hits, and recall over a 10-query panel at
    n_cells=16 / nprobe=4. refine_iters=0 keeps h60 seed centroids,
    so ground truth, probe routing, and the hit counts all replay
    exactly in SQL (the sim_topk_ivf convention composed with the
    bruteforce oracle)."""
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    return similarity.ann_recall_report(
        embs, queries, k=5, n_cells=16, nprobe=4, refine_iters=0
    )


def _sim_matryoshka_recall(spark, sf_dir):
    """Truncated-dimension retrieval evaluation (pipeline/similarity.
    matryoshka_recall, Kusupati et al. 2022): recall@5 of cosine
    retrieval over the first 8/16/32/64 embedding components vs
    full-64-dim ground truth, per (dim, query) over an 8-query panel.
    The synthetic embeddings are unstructured, so recall decays hard at
    small prefixes and the full-dim row sanity-checks at 1.0 — the
    table a serving-dim decision reads. Fully deterministic prefix
    slicing; the oracle replays every dim's sliced ranking."""
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 8)
    return similarity.matryoshka_recall(
        embs, queries, dims=[8, 16, 32, 64], k=5
    )


def _sim_index_health(spark, sf_dir):
    """IVF index-health audit (pipeline/similarity.ivf_cell_stats):
    per-cell occupancy and load factor of the fixed 16-cell h60-seed
    quantizer — the imbalance table checked before trusting an index.
    Oracle-exact: the sim_topk_ivf assignment replay + one GROUP BY."""
    from orientdb_spark.pipeline import similarity

    return similarity.ivf_cell_stats(
        _embs(spark, sf_dir), n_cells=16, refine_iters=0
    )


def _sim_rank_eval(spark, sf_dir):
    """Ranked-retrieval metrics (pipeline/similarity.rank_eval — MRR +
    nDCG@10, the TREC/BEIR pair): the fixed 16-cell/4-probe IVF top-10
    scored against graded labels = each query's exact neighbors at
    ranks 2-4 (rel 3/2/1; the top-1 is excluded so first_rel_rank and
    mrr vary with the index's actual hit pattern). Discount factors
    1/log2(r+1) are literal doubles embedded identically in the plan
    and the oracle — no runtime transcendentals, so the metric replays
    bit-exactly."""
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    labels = (
        similarity.brute_force_topk(embs, queries, k=4)
        .filter(F.col("rank") >= 2)
        .select(
            "query_id", "neighbor_id", (F.lit(5) - F.col("rank")).alias("rel")
        )
    )
    ranked = similarity.ivf_topk(
        embs, queries, k=10, n_cells=16, nprobe=4, refine_iters=0
    )
    return similarity.rank_eval(ranked, labels, k=10)


def _sim_pr_eval(spark, sf_dir):
    """Set-based ranked-retrieval metrics (pipeline/similarity.pr_eval
    -- precision@k / recall@k / average precision, the trec_eval MAP
    components): the same fixed 16-cell/4-probe IVF top-10 vs graded
    labels fixture as sim_rank_eval, binarized (rel > 0). Every term is
    a ratio of small integers (hit index over rank), so the metric
    replays bit-exactly with no transcendentals on either engine."""
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    labels = (
        similarity.brute_force_topk(embs, queries, k=4)
        .filter(F.col("rank") >= 2)
        .select(
            "query_id", "neighbor_id", (F.lit(5) - F.col("rank")).alias("rel")
        )
    )
    ranked = similarity.ivf_topk(
        embs, queries, k=10, n_cells=16, nprobe=4, refine_iters=0
    )
    return similarity.pr_eval(ranked, labels, k=10)


def _text_rake_keyphrases(spark, sf_dir):
    """RAKE keyphrase extraction (pipeline/text.rake_keyphrases, Rose
    et al. 2010): per doc, the top-3 non-stopword runs ranked by the
    deg/freq word-score sum. Exact integer deg/freq, grid word scores,
    phrase-ascending tiebreaks — the ranking replays exactly."""
    from orientdb_spark.pipeline.text import rake_keyphrases

    return rake_keyphrases(_docs(spark, sf_dir), top_k=3)


def _text_source_quality_rollup(spark, sf_dir):
    """Domain-level quality rollup (pipeline/text.source_quality_rollup
    — the C4/RefinedWeb per-source blocklist pass above doc scoring):
    per source, doc counts, the 6-dp-rounded quality sum (the
    centroid_sum accumulation discipline), mean/low-fraction from the
    ROUNDED sum and exact integers, and the blocklist-candidate flag
    (low_frac > 0.4 at quality < 0.6). One scan + one groupBy;
    oracle composes the quality replay."""
    from orientdb_spark.pipeline.text import source_quality_rollup

    return source_quality_rollup(
        _docs(spark, sf_dir), low_threshold=0.6, max_low_frac=0.4
    )


def _text_readability(spark, sf_dir):
    """Flesch reading ease + FK grade (pipeline/text.readability,
    Flesch 1948 / Kincaid 1975) over the corpus with deterministic
    sentence punctuation stamped on ('merge' -> 'merge.', 'scan' ->
    'scan!' — the raw fixture has none): exact word/sentence/syllable
    counts (whitespace tokens, [.!?] runs, vowel-group runs with the
    min-1-per-word floor) plus both scores on one fixed IEEE tree.
    Zero-exchange scan; oracle-exact."""
    from orientdb_spark.pipeline.text import readability

    docs = _docs(spark, sf_dir)
    fixture = docs.select(
        "doc_id",
        F.expr(
            "replace(replace(text, 'merge', 'merge.'), 'scan', 'scan!')"
        ).alias("text"),
    )
    return readability(fixture)


def _text_min_k_prob(spark, sf_dir):
    """Min-K%-prob memorization audit (pipeline/text.min_k_prob, Shi et
    al. 2023): per doc, the mean NLL of the 20% least-likely bigram
    occurrences under the corpus bigram LM — low scores flag absorbed /
    templated content. Oracle-exact: ordering key and averaged values
    both live on the 6-dp grid with (w1, w2) tiebreaks, so the weighted
    top-m pick replays identically in SQL."""
    from orientdb_spark.pipeline import text

    return text.min_k_prob(_docs(spark, sf_dir), k_frac=0.2)


def _sim_bitext_mine_ivf(spark, sf_dir):
    """The scale path of bitext mining (bitext_mine(method='ivf')):
    candidate pairs come from two IVF sweeps with derived
    n_cells/nprobe (scale-aware: ~sqrt(N) cells, ~40% probed at the
    0.6 recall target) at refine_iters=0 (h60-seed quantizer — fully
    replayable), k_candidates=8 > k=4; the margin stages are identical
    to the exact entry. Oracle-exact: the replay re-derives BOTH
    per-side indexes end-to-end (seeds, assignment, probes, top-kc
    candidates — the sim_topk_ivf oracle machinery) and then walks the
    same 6-dp-grid margin arithmetic over the candidate set."""
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    return similarity.bitext_mine(
        embs.filter(F.col("vec_id") % 2 == 0),
        embs.filter(F.col("vec_id") % 2 == 1),
        k=4,
        threshold=1.0,
        method="ivf",
        k_candidates=8,
        refine_iters=0,
    )


def _sim_hybrid_rrf(spark, sf_dir):
    """Hybrid lexical+vector retrieval with reciprocal-rank fusion
    (pipeline/similarity.hybrid_rrf_topk, Cormack et al. 2009): tf-idf
    posting-list top-50 for the query terms, exact cosine top-50 for
    the query vector (vec_id 0, paired to doc ids), RRF-fused top-10.
    The fusion arithmetic is rational on integer ranks — exact in both
    engines; the rank lists order on the same bit-identical doubles the
    tfidf and brute-force oracles already replay."""
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    return similarity.hybrid_rrf_topk(
        _docs(spark, sf_dir),
        embs,
        query_terms=["spark", "join", "window"],
        query_vec=embs.filter(F.col("vec_id") == 0),
        k=10,
        m=50,
    )


def _sample_domain_reweight(spark, sf_dir):
    """DoReMi-shaped domain-mixture reweighting
    (pipeline/sampling.domain_reweight, Xie et al. 2023): per-source
    mean bigram-LM NLL (the text_lm_score corpus pass) -> excess loss
    over the easiest domain -> 3 multiplicative-weights iterations
    (linear payoff — no exp() in the loop, so the trajectory is pure
    +,·,/ double arithmetic) -> uniform-smoothed sampling weights.
    Oracle-exact: the lm_score replay feeds per-source aggregates and
    the iterations unroll as S-row CTEs on the 6-dp nudge-rounded
    grid."""
    from orientdb_spark.pipeline import sampling

    return sampling.domain_reweight(
        _docs(spark, sf_dir), iters=3, eta=0.5, smoothing=0.2
    )


def _text_bpe_encode(spark, sf_dir):
    """Tokenizer APPLICATION (pipeline/text.bpe_encode): train the
    10-merge BPE table on the corpus (the text_bpe_merges loop), then
    encode every document — per-doc word and token counts under the
    trained tokenizer, the number a token-budget pipeline actually
    bills by. Oracle-exact: the merge replay extends one CTE further
    (the FINAL symbol table), and per-doc encoding is a words->vocab
    join — no per-word re-derivation, because BPE segmentation is a
    function of the word alone."""
    from orientdb_spark.pipeline.text import bpe_encode, bpe_train

    docs = _docs(spark, sf_dir)
    merges, _ = bpe_train(docs, n_merges=10)
    return bpe_encode(docs, merges)


def _sim_index_persist(spark, sf_dir):
    """Index persistence round-trip (similarity.IvfIndex.save/load):
    build the refine_iters=0 IVF index, write it as parquet (cells
    PARTITIONED BY cid — the file-level pruning layout), reload, and
    serve top-k from the LOADED index. Oracle-exact: the loaded index
    must reproduce the fixed-parameter h60-seeded IVF pipeline
    bit-for-bit — persistence is only correct if it is invisible.
    tests/test_ivf_index.py additionally pins the loaded probe plan's
    dynamic partition pruning."""
    import hashlib
    import os
    import tempfile

    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    idx = similarity.IvfIndex.build(
        embs, n_cells=16, refine_iters=0, persist=False
    )
    # deterministic per-(sf, process) path + save()'s overwrite mode:
    # repeat runs WITHIN a process (mirror harness, driver re-records)
    # REUSE the directory instead of accumulating one index copy per
    # run, while the pid suffix keeps concurrent harness processes (or
    # other users on a shared host) from overwriting a directory
    # another run's loaded index is still lazily scanning
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"ivfidx_{tag}_{os.getpid()}")
    idx.save(path)
    loaded = similarity.IvfIndex.load(spark, path)
    # nprobe=4 of 16 cells: the fixture serving point; target_recall
    # lowered to match (the derivation gate stays tested elsewhere)
    return loaded.topk(
        embs.filter(F.col("vec_id") < 10), k=5, nprobe=4, target_recall=0.2
    )


def _sim_index_incremental(spark, sf_dir):
    """Incremental index ingest (similarity.IvfIndex.extend): build on
    90% of the corpus (vec_id % 10 != 0), EXTEND with the 10% batch —
    new vectors assigned to the existing centroids, no requantization,
    O(batch) work — then serve top-k over the merged index.
    Oracle-exact: seeds derive from the CORPUS rows only, assignment
    covers the union — the replay proves extend() is exactly
    'same quantizer, more postings'."""
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    corpus = embs.filter(F.col("vec_id") % 10 != 0)
    batch = embs.filter(F.col("vec_id") % 10 == 0)
    idx = similarity.IvfIndex.build(
        corpus, n_cells=16, refine_iters=0, persist=True
    )
    merged = idx.extend(batch)
    out = merged.topk(
        embs.filter(F.col("vec_id") < 10), k=5, nprobe=4, target_recall=0.2
    )
    return out


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


def _pipeline_forget_cascade(spark, sf_dir):
    """Right-to-be-forgotten cascade (the GDPR erasure shape a training
    corpus must support): a forget set (doc_id % 17 == 0) is purged
    from the base table AND every derived artifact — RAG chunks
    (text.chunk_documents) and the embedding table — each via ONE
    broadcast anti-join on the forget set. Emits the compliance audit
    row per artifact: (artifact, n_before, n_after, n_purged,
    residual_refs) where residual_refs COUNTS forget-set rows
    surviving the purge — the oracle pins it to zero, so a purge
    regression hash-fails rather than silently leaking. Scale shape:
    the forget set broadcasts (erasure requests are tiny vs the
    corpus); every purge is one scan of its artifact."""
    from orientdb_spark.pipeline.text import chunk_documents

    docs = _docs(spark, sf_dir)
    embs = _embs(spark, sf_dir)
    del_ids = docs.filter(F.col("doc_id") % 17 == 0).select("doc_id")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8)

    def audit(name, frame, key):
        keyed_del = F.broadcast(del_ids.select(F.col("doc_id").alias(key)))
        kept = frame.join(keyed_del, key, "left_anti")
        # the residual check must NOT reuse the purge's own join/frame
        # (anti-then-semi on the same key set is empty by construction
        # and would verify nothing): re-test the forget PREDICATE
        # directly on the purged rows, so a purge that anti-joined the
        # wrong key, the wrong frame, or the wrong join type counts > 0
        # and hash-fails against the oracle's pinned zero. (Predicate
        # re-test assumes the artifact's id domain matches documents' —
        # true of the generated tables, where doc_id and vec_id are the
        # same 0..N-1 range; the sf artifacts re-verify this at scale.)
        residual = kept.filter(F.col(key) % 17 == 0)
        return (
            frame.agg(F.count(F.lit(1)).alias("n_before"))
            .crossJoin(kept.agg(F.count(F.lit(1)).alias("n_after")))
            .crossJoin(residual.agg(F.count(F.lit(1)).alias("residual_refs")))
            .select(
                F.lit(name).alias("artifact"),
                "n_before",
                "n_after",
                (F.col("n_before") - F.col("n_after")).alias("n_purged"),
                "residual_refs",
            )
        )

    return (
        audit("documents", docs, "doc_id")
        .unionByName(audit("chunks", chunks, "doc_id"))
        .unionByName(audit("embeddings", embs, "vec_id"))
    )


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


_EPOCHS_WEIGHTS = {"en": 0.1, "de": 0.05, "es": 0.05, "fr": 0.05, "zh": 0.75}


def _sample_epochs_report(spark, sf_dir):
    """Data-constrained mixing accountant (pipeline/sampling.
    epochs_report, Muennighoff et al. 2023): per language, the epochs a
    3-corpus-pass budget implies under a deliberately zh-heavy mix —
    zh (~15% of tokens at weight 0.75) blows past the 4-epoch cap
    (over_cap, excess_tokens), en (~37% of tokens at weight 0.1) stays
    under one epoch, so both audit branches carry signal at every SF.
    One groupBy + a 1-row broadcast total + S-row arithmetic;
    oracle-exact (identical IEEE expression trees, 6-dp ratios)."""
    from orientdb_spark.pipeline import sampling

    return sampling.epochs_report(
        _docs(spark, sf_dir), weights=_EPOCHS_WEIGHTS, budget_epochs=3.0
    )


def _sample_curriculum_order(spark, sf_dir):
    """Curriculum schedule (pipeline/sampling.curriculum_order, Bengio
    et al. 2009): stage docs easy->hard by corpus-LM NLL with exact
    quantile cuts, then per-stage deterministic shard order (the
    epoch_shard_order shape). Oracle-exact: the lm_score replay +
    nudge-rounded quantile_cont cuts + h60 shard arithmetic."""
    from orientdb_spark.pipeline import sampling

    return sampling.curriculum_order(
        _docs(spark, sf_dir), n_stages=3, n_shards=8, seed=0
    )


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


def _profile_dataset_card(spark, sf_dir):
    """Dataset-card statistics (pipeline/profile.dataset_card, the
    Datasheets/data-card disclosure table): corpus totals, language
    shares, source counts, length percentiles, exact-dup rate in long
    (section, key, value) format. One corpus pass feeds five bounded
    aggregate branches. Integer-valued double sums are order-exact
    below 2^53; percentiles ride the quantile_cont parity precedent."""
    from orientdb_spark.pipeline import profile

    return profile.dataset_card(_docs(spark, sf_dir))


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


# --- queries registry --------------------------------------------------------


# The driver's CORRECTNESS record caps at the FIRST 50 keys of queries()
# in insertion order. Rotation history: r1-r3 recorded the core-SQL
# front; r5 the back half; r6 the core-SQL surface + first
# never-recorded batch; r7 a 10-row canary + 40 first-evers; r8 the
# CLOSING rotation (after r8 every registry entry has a driver
# signature; `tools/check_entries.py --never-recorded` asserts the set
# difference stays empty); r9 the ANN-upgrade + r3/r4-era refresh;
# r10 the r5-era tail + 23 r6-era §2 rows + the six new operators.
# Round 11 policy (per the r10 verdict items 1-2 and 4): retire the
# r6-era tail — ALL 23 entries whose newest record is r6 — plus the
# three rows-only entries upgraded to oracle-exact this round
# (sim_topk_ivf, embedding_kmeans, text_bpe_merges: their first
# HASH-checked driver records) and the new cells-scaled SemDeDup
# variant (never recorded), then 23 r7-era refreshes prioritizing the
# §2 operator surface (scan/filter/projection/link-nav/traverse,
# DDL-effect and security rows, TPC-H heads) and one representative
# per r7 family (graph loops, temporal SCD2, quality FD, multimodal
# pHash, simhash-hamming, async-abort). After r11 no registry record
# is older than r7. Round 12 (per the r11 verdict item 3): the whole
# 47-entry r7-era tail rotates in at once (+3 r8-era fills), so after
# r12 no registry record is older than r8. Rows rotating out keep
# their standing records plus per-run mirror-harness coverage
# (tests/test_entry.py re-compares all oracle entries each run).
_DRIVER_FRONT = [
    # r13 rotation (r12 verdict item 5): the COMPLETE r8-era tail — all
    # 45 entries whose newest driver record is r8 (sketch audits, the
    # graph-analytics long tail, profiling/governance, text
    # featurizers, storage ops, event shapes) — so after r13 no
    # registry record is older than r9.
    "cms_join_size_estimate",
    "docs_cube_rollup",
    "embedding_label_centroids",
    "embedding_nearest_centroid",
    "embedding_pq_encode",
    "embedding_random_projection",
    "event_funnel_rates",
    "event_interarrival_stats",
    "event_json_props",
    "event_pivot",
    "event_sequence_mining",
    "event_transitions",
    "event_trend",
    "fulltext_phrase_search",
    "graph_betweenness",
    "graph_effective_diameter",
    "graph_hits",
    "graph_kcore",
    "graph_link_prediction",
    "graph_neighbor_features",
    "graph_walk_skipgrams",
    "hll_distinct_merge",
    "mining_frequent_pairs",
    "pipeline_multimodal_end_to_end",
    "profile_correlations",
    "profile_entropy",
    "profile_iqr_outliers",
    "profile_json_keys",
    "profile_k_anonymity",
    "profile_stat_drift",
    "profile_value_histogram",
    "profile_winsorize",
    "sample_negatives",
    "sample_stratified_split",
    "sample_weighted",
    "storage_merge_upsert",
    "storage_snapshot_diff",
    "text_chunk_documents",
    "text_cooccurrence",
    "text_edit_distance_join",
    "text_feature_hashing",
    "text_hash_embedding",
    "text_unicode_normalize",
    "text_vocab_growth",
    "text_vocabulary",
    # + the two NEW r13 entries (never recorded — must sit in the
    # front so check_entries.py --never-recorded closes at round end)
    "sim_hard_negatives",
    "text_min_k_prob",
    "sim_bitext_mine_ivf",
    # + the round's other two NEW operators (BM25 ranked retrieval and
    # UniMax budget-capped mixing) — new entries take the remaining
    # slots over hash refreshes: the quiet-host re-adjudication rows
    # (set_operations, graph_connected_components) keep their r9
    # records plus the per-run mirror-harness coverage and rotate in
    # r14 with the rest of the r9 cohort
    "text_bm25_topk",
    "sample_unimax",
    # r14 NOTE: the front was full when THIRTY-TWO more r13 operators
    # landed across the continuation sessions (text_gopher_rules,
    # sim_ann_recall, scale_compaction_plan, sample_epochs_report,
    # sim_matryoshka_recall, dedup_near_dup_stream, sim_rank_eval,
    # graph_modularity, profile_benford_audit, sim_index_health,
    # profile_distribution_drift, text_fim_transform,
    # text_span_corruption, sim_pr_eval, profile_l_diversity,
    # graph_assortativity, text_readability, event_attribution,
    # scale_zone_map_audit, text_classifier_pr_curve,
    # sample_moore_lewis, text_rocchio_prf, event_heavy_hitters_stream,
    # sample_length_buckets, event_anomaly_mad,
    # graph_degree_distribution, multimodal_scene_cuts,
    # embedding_ood_audit, dedup_cluster_size_report,
    # text_source_quality_rollup, event_slo_burn,
    # text_rake_keyphrases). They carry
    # builder-sweep records (CORRECTNESS_r13_sweep.json, provenance
    # in-file) and all three sf artifacts — but NO driver record yet.
    # The r14 front MUST lead with these thirty-two, then fill from
    # the r9-era record tail.
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = _queries_by_section()
    missing = set(_DRIVER_FRONT) - q.keys()
    assert not missing, f"_DRIVER_FRONT names unknown queries: {sorted(missing)}"
    front = {k: q[k] for k in _DRIVER_FRONT}
    return front | {k: v for k, v in q.items() if k not in front}


def _queries_by_section() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # §2.1 scans / sources / sinks
        "scan_class": _dsl("select from region"),
        "filter_projection": _dsl("select n_name from nation where n_regionkey = 2"),
        "rid_point": _dsl("select r_name from 1:3"),
        "rid_list": _dsl("select n_name from [2:1, 2:3]"),
        "cluster_scan": _dsl("select p_name from cluster:part where p_size >= 48"),
        "dictionary_get": _dictionary_get,
        "json_roundtrip": _json_roundtrip,
        "export_import_diff": _export_import_diff,
        "json_metadata_export": _json_metadata_export,
        "db_save_open_roundtrip": _db_save_open_roundtrip,
        "polymorphic_scan": _polymorphic_scan,
        "flat_record": _flat_record,
        "bytes_record": _bytes_record,
        "embedded_struct_nav": _embedded_struct_nav,
        # §2.2 projections
        "projection_methods": _dsl(
            "select c_name.toUpperCase() as up, c_name.left(8) as l8, "
            "c_name.length() as len, c_name.subString(0, 4) as sub4, "
            "c_name.charAt(9) as c9, c_name.indexOf('1') as i1, "
            "c_name.append('_x') as ax, c_name.prefix('y_') as py, "
            "c_name.right(9) as r9 from customer where c_custkey <= 50"
        ),
        "projection_casts": _dsl(
            "select c_acctbal.asInteger() as bal_int, c_custkey.asString() as key_str, "
            "c_name.toLowerCase().trim() as lower_name from customer where c_custkey <= 20"
        ),
        "format_and_coercion": _dsl(
            # .format dispatches date-pattern vs printf; the WHERE exercises
            # the reference's implicit string→number and string→date
            # comparison coercion (OSQLFilterCondition.java:73-103)
            "select o_orderkey, o_orderdate.format('yyyy-MM') as ym, "
            "o_orderkey.format('%05d') as padded from orders "
            "where o_orderkey = '3' or o_orderdate > '2000-06-01' order by o_orderkey"
        ),
        "record_attributes": _dsl(
            "select @rid.cluster as rc, @rid.pos as rp, @class as cls, @version as ver, "
            "n_nationkey from nation where n_nationkey <= 3"
        ),
        "flatten_unnest": _dsl(
            "select flatten(embedding) from (select embedding from embeddings where vec_id = 1)"
        ),
        "column_positional": _dsl("select column(1) as r_name from region"),
        # §2.3 filters
        "any_wildcard": _dsl("select n_name from nation where any() = 1"),
        "all_wildcard_notnull": _dsl("select r_name from region where all() is not null"),
        "like_underscore_literal": _dsl("select p_name from part where p_name like '%RT_1%'"),
        "compound_predicates": _dsl(
            "select o_orderkey from orders where o_orderstatus <> 'F' and "
            "o_totalprice between 900 and 1500 and "
            "o_orderpriority in ['1-URGENT', '2-HIGH'] and o_orderkey not in [1, 2, 3]"
        ),
        "matches_anchored": _dsl("select n_name from nation where n_name matches 'NATION_1[0-2]'"),
        "not_prefix": _dsl("select r_name from region where not (r_regionkey > 2)"),
        "is_null_filter": _is_null_filter,
        "map_containskey": _map_containskey,
        "map_containsvalue": _map_containsvalue,
        "containsall_condition": _containsall_condition,
        "contains_value": _dsl(
            "select l_orderkey from (select l_orderkey, collect_set(l_returnflag) as flags "
            "from lineitem group by l_orderkey) where flags contains 'R' and l_orderkey <= 2000 "
            "order by l_orderkey"
        ),
        "contains_condition": _contains_condition,
        "containstext_fallback": _dsl(
            "select doc_id from documents where text containstext 'spark' order by doc_id"
        ),
        "containstext_indexed": _containstext_indexed,
        "fulltext_dml_maintenance": _fulltext_dml_maintenance,
        "traverse_reachability": _dsl(
            "select c_name from customer where any() traverse(0, 2) (r_name = 'ASIA') "
            "order by c_name"
        ),
        "traverse_field_restricted": _dsl(
            # TRAVERSE with an explicit link-field list (third operator param,
            # OQueryOperatorTraverse.configure)
            "select c_name from customer where any() traverse(0, 1, 'c_nationkey') "
            "(n_regionkey = 2) order by c_name"
        ),
        "select_distinct": _dsl(
            "select distinct l_returnflag, l_linestatus from lineitem "
            "order by l_returnflag, l_linestatus"
        ),
        # §2.4 joins / links
        "link_nav_2hop": _dsl(
            "select o_orderkey, o_custkey.c_name as cust_name, "
            "o_custkey.c_nationkey.n_name as nation_name from orders "
            "where o_custkey.c_nationkey.n_name = 'NATION_3' order by o_orderkey"
        ),
        "create_link_materialize": _create_link_materialize,
        "fetchplan_prefetch": _fetchplan_prefetch,
        # §2.5 aggregations
        "tpch_q1_pricing": _dsl(_Q1),
        "tpch_q3_shipping": _dsl(
            "select l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue, "
            "l_orderkey.o_orderdate.format('yyyy-MM-dd') as odate "
            "from lineitem where l_orderkey.o_orderdate < '1997-06-01' "
            "and l_shipdate > '1997-06-01' "
            "group by l_orderkey, l_orderkey.o_orderdate.format('yyyy-MM-dd') "
            "order by revenue desc, l_orderkey limit 10"
        ),
        "tpch_q10_returns": _dsl(
            "select l_orderkey.o_custkey as custkey, l_orderkey.o_custkey.c_name as c_name, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue "
            "from lineitem where l_returnflag = 'R' "
            "and l_orderkey.o_orderdate >= '1997-01-01' "
            "and l_orderkey.o_orderdate < '1997-04-01' "
            "group by l_orderkey.o_custkey, l_orderkey.o_custkey.c_name "
            "order by revenue desc, custkey limit 20"
        ),
        "tpch_q6_forecast": _dsl(
            "select round(sum(l_extendedprice * l_discount), 2) as revenue from lineitem "
            "where l_shipdate >= '1997-01-01' and l_shipdate < '1998-01-01' "
            "and l_discount between 0.05 and 0.07 and l_quantity < 24"
        ),
        "tpch_q5_local_supplier": _dsl(
            # Q5 shape through link chains: 3-hop navigation on one side,
            # chain-equality join condition on the other (customer and
            # supplier in the same nation)
            "select l_orderkey.o_custkey.c_nationkey.n_name as nation, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue "
            "from lineitem where l_suppkey.s_nationkey = l_orderkey.o_custkey.c_nationkey "
            "and l_orderkey.o_orderdate >= '1997-01-01' "
            "and l_orderkey.o_orderdate < '1998-01-01' "
            "group by l_orderkey.o_custkey.c_nationkey.n_name order by revenue desc, nation"
        ),
        "global_aggregates": _dsl(
            "select count(*) as n, round(min(o_totalprice), 2) as min_p, "
            "round(max(o_totalprice), 2) as max_p, round(avg(o_totalprice), 4) as avg_p "
            "from orders"
        ),
        "count_distinct_suppliers": _dsl(
            "select count(distinct l_suppkey) as n_supp from lineitem"
        ),
        "approx_distinct_parts": _dsl(
            "select approxcountdistinct(l_partkey) as approx_parts from lineitem"
        ),
        "group_having_order": _dsl(
            "select l_returnflag, count(*) as cnt from lineitem group by l_returnflag "
            "having count(*) > 100 order by cnt desc"
        ),
        # §2.6 sort / limit / range / window / set ops
        "order_multikey_topk": _dsl(
            "select c_name, c_acctbal from customer order by c_acctbal desc, c_name limit 25"
        ),
        "range_keyset_pagination": _dsl("select n_nationkey, n_name from nation range 2:5, 2:14"),
        "window_rank_topn": _window_rank_topn,
        "window_running_frames": _window_running_frames,
        "rollup_pricing": _rollup_pricing,
        "set_operations": _set_operations,
        # §2.7 DML / DDL
        "dml_insert_append": _dml_insert,
        "dml_update_rewrite": _dml_update,
        "dml_delete_filter": _dml_delete,
        "update_add_collection": _update_add_collection,
        "update_put_map": _update_put_map,
        "update_remove_ops": _update_remove_ops,
        "ddl_schema_evolution": _ddl_schema_evolution,
        "ddl_truncate": _ddl_truncate,
        "unique_index_violation": _unique_index_violation,
        # effect queries: non-SQL §2 surfaces observed through SQL (r7)
        "ddl_remove_property_effect": _ddl_remove_property_effect,
        "ddl_remove_index_effect": _ddl_remove_index_effect,
        "security_grant_effect": _security_grant_effect,
        "dictionary_named_roots": _dictionary_named_roots,
        "async_query_abort_effect": _async_query_abort_effect,
        "custom_operator_where": _custom_operator_where,
        "native_fluent_query": _native_fluent_query,
        "schema_mixed_insert": _schema_mixed_insert,
        "dictionary_keyset": _dictionary_keyset,
        "csv_positional_roundtrip": _csv_positional_roundtrip,
        # §2.8 functions
        "custom_udf_bigger": _custom_udf,
        "geo_distance_filter": _dsl(
            "select c_custkey, round(distance(c_acctbal / 1000, c_custkey % 90, 45.0, 10.0), 4) "
            "as dist_km from customer where c_custkey <= 100"
        ),
        # §2.9 graph
        "graph_out_degree": _graph_out_degree,
        "graph_delete_cascade": _graph_delete_cascade,
        "graph_bfs_levels": _graph_bfs_levels,
        "graph_connected_components": _graph_connected_components,
        "graph_pagerank": _graph_pagerank,
        "graph_hits": _graph_hits,
        "graph_betweenness": _graph_betweenness,
        "graph_cc_incremental": _graph_cc_incremental,
        "graph_pagerank_personalized": _graph_pagerank_personalized,
        "graph_sssp": _graph_sssp,
        "graph_label_propagation": _graph_label_propagation,
        "graph_modularity": _graph_modularity,
        "graph_assortativity": _graph_assortativity,
        "graph_degree_distribution": _graph_degree_distribution,
        "graph_triangle_count": _graph_triangle_count,
        "graph_clustering_coeff": _graph_clustering_coeff,
        "graph_neighbor_features": _graph_neighbor_features,
        "graph_random_walks": _graph_random_walks,
        "graph_walk_skipgrams": _graph_walk_skipgrams,
        "graph_effective_diameter": _graph_effective_diameter,
        "graph_min_spanning_forest": _graph_min_spanning_forest,
        "graph_topological_levels": _graph_topological_levels,
        "graph_link_prediction": _graph_link_prediction,
        "graph_kcore": _graph_kcore,
        "hll_distinct_merge": _hll_distinct_merge,
        "salted_skew_aggregate": _salted_skew_aggregate,
        "bloom_prefilter_join": _bloom_prefilter_join,
        "cms_event_type_counts": _cms_event_type_counts,
        "cms_join_size_estimate": _cms_join_size_estimate,
        "event_silence_audit": _event_silence_audit,
        "event_heavy_hitters_stream": _event_heavy_hitters_stream,
        "event_interarrival_stats": _event_interarrival_stats,
        "event_attribution": _event_attribution,
        "event_anomaly_mad": _event_anomaly_mad,
        "event_slo_burn": _event_slo_burn,
        "event_seasonal_baseline": _event_seasonal_baseline,
        "text_vocab_growth": _text_vocab_growth,
        "event_cusum_changepoints": _event_cusum_changepoints,
        "event_m4_downsample": _event_m4_downsample,
        "event_funnel_rates": _event_funnel_rates,
        "multimodal_phash_dedup": _multimodal_phash_dedup,
        "pipeline_entity_resolution": _pipeline_entity_resolution,
        "quality_expectations": _quality_expectations,
        "quality_fd_check": _quality_fd_check,
        "quality_table_digest": _quality_table_digest,
        "scale_quantile_sketch": _scale_quantile_sketch,
        "scale_skew_report": _scale_skew_report,
        "event_cohort_retention": _event_cohort_retention,
        "event_hierarchical_rollup": _event_hierarchical_rollup,
        "event_json_props": _event_json_props,
        "integrity_orphans": _integrity_orphans,
        # §2.10 streaming-shaped (batch/stream agnostic transforms)
        "event_window_agg": _event_window_agg,
        "event_sessionize": _event_sessionize,
        "event_session_window": _event_session_window,
        "event_first_seen": _event_first_seen,
        "event_asof_join": _event_asof_join,
        "event_gap_fill": _event_gap_fill,
        "event_scd2": _event_scd2,
        "event_rolling_avg": _event_rolling_avg,
        "event_time_weighted_avg": _event_time_weighted_avg,
        "event_interval_overlap": _event_interval_overlap,
        "event_anomaly_zscore": _event_anomaly_zscore,
        "event_pivot": _event_pivot,
        "event_transitions": _event_transitions,
        "docs_cube_rollup": _docs_cube,
        "event_sequence_mining": _event_sequence_mining,
        "profile_correlations": _profile_correlations,
        "profile_iqr_outliers": _profile_iqr_outliers,
        "storage_merge_upsert": _storage_merge_upsert,
        "storage_snapshot_diff": _storage_snapshot_diff,
        "event_range_join": _event_range_join,
        "profile_events": _profile_events,
        "event_funnel": _event_funnel,
        "event_value_quantiles": _event_value_quantiles,
        # pipeline: dedup
        "dedup_exact": _dedup_exact,
        "dedup_cluster_size_report": _dedup_cluster_size_report,
        "dedup_fingerprint": _dedup_fingerprint,
        "dedup_minhash_lsh": _dedup_minhash,
        "dedup_near_dup_stream": _dedup_near_dup_stream,
        "dedup_minhash_incremental": _dedup_minhash_incremental,
        "dedup_decontaminate": _dedup_decontaminate,
        "dedup_decontaminate_report": _dedup_decontaminate_report,
        "dedup_canonicalize": _dedup_canonicalize,
        "pipeline_end_to_end": _pipeline_end_to_end,
        "sample_split_assign": _sample_split_assign,
        "sample_quota_per_source": _sample_quota_per_source,
        "sample_epoch_shuffle": _sample_epoch_shuffle,
        "sample_stratified_split": _sample_stratified_split,
        "profile_quantile_bins": _profile_quantile_bins,
        "profile_entropy": _profile_entropy,
        "profile_winsorize": _profile_winsorize,
        "event_trend": _event_trend,
        "text_edit_distance_join": _text_edit_distance_join,
        "mining_frequent_pairs": _mining_frequent_pairs,
        "sample_mixture": _sample_mixture,
        "sample_temperature_mixture": _sample_temperature_mixture,
        # r13: UniMax budget-capped uniform mixing (Chung et al. 2023)
        "sample_unimax": _sample_unimax,
        "dedup_bucket_audit": _dedup_bucket_audit,
        "dedup_simhash": _dedup_simhash,
        "dedup_simhash_hamming": _dedup_simhash_hamming,
        "dedup_ngram_jaccard": _dedup_ngram,
        "dedup_embedding_cosine": _dedup_embedding,
        "dedup_semantic": _dedup_semantic,
        "dedup_semantic_scaled": _dedup_semantic_scaled,
        "dedup_embedding_decontaminate": _dedup_embedding_decontaminate,
        "sample_dsir": _sample_dsir,
        "sample_token_budget": _sample_token_budget,
        "sample_prototype_prune": _sample_prototype_prune,
        "sample_kcenter_coreset": _sample_kcenter_coreset,
        "embedding_quantize": _embedding_quantize,
        "embedding_random_projection": _embedding_random_projection,
        "embedding_pq_encode": _embedding_pq_encode,
        "sim_topk_pq": _sim_topk_pq,
        "sim_topk_ivfpq": _sim_topk_ivfpq,
        "sim_topk_imi": _sim_topk_imi,
        "embedding_nearest_centroid": _embedding_nearest_centroid,
        "embedding_ood_audit": _embedding_ood_audit,
        "embedding_kmeans": _embedding_kmeans,
        "embedding_pca": _embedding_pca,
        "embedding_label_centroids": _embedding_label_centroids,
        # pipeline: similarity
        "sim_topk_bruteforce": _sim_bruteforce,
        "sim_topk_lsh": _sim_lsh,
        "sim_topk_ivf": _sim_ivf,
        # retrieval serving ops (r11 continuation): diversity re-rank +
        # hybrid fusion; r12: margin-based bitext pair mining
        "sim_topk_mmr": _sim_topk_mmr,
        "sim_bitext_mine": _sim_bitext_mine,
        "sim_bitext_mine_ivf": _sim_bitext_mine_ivf,
        "sim_hybrid_rrf": _sim_hybrid_rrf,
        # r13: contrastive hard-negative mining (DPR)
        "sim_hard_negatives": _sim_hard_negatives,
        "sim_ann_recall": _sim_ann_recall,
        "sim_matryoshka_recall": _sim_matryoshka_recall,
        "sim_rank_eval": _sim_rank_eval,
        "sim_pr_eval": _sim_pr_eval,
        "sim_index_health": _sim_index_health,
        "sim_index_persist": _sim_index_persist,
        "sim_index_incremental": _sim_index_incremental,
        # pipeline: text analysis
        "text_language_id": _text_langid,
        "text_quality_score": _text_quality,
        "text_token_stats": _text_tokens,
        "text_winnow_fingerprint": _text_winnow,
        "text_repetition_stats": _text_repetition,
        "text_token_budget": _text_token_budget,
        "text_tfidf_topterms": _text_tfidf,
        # r13: BM25 ranked retrieval (Robertson & Zaragoza 2009)
        "text_bm25_topk": _text_bm25_topk,
        "text_rocchio_prf": _text_rocchio_prf,
        "text_vocabulary": _text_vocabulary,
        "text_feature_hashing": _text_feature_hashing,
        "text_hash_embedding": _text_hash_embedding,
        "text_chunk_documents": _text_chunk_documents,
        "text_cooccurrence": _text_cooccurrence,
        "text_bpe_merges": _text_bpe_merges,
        "text_bpe_encode": _text_bpe_encode,
        "sample_domain_reweight": _sample_domain_reweight,
        "sample_curriculum_order": _sample_curriculum_order,
        "profile_dataset_card": _profile_dataset_card,
        "profile_benford_audit": _profile_benford_audit,
        "profile_distribution_drift": _profile_distribution_drift,
        "profile_dp_counts": _profile_dp_counts,
        "scale_zorder_layout": _scale_zorder_layout,
        "scale_zone_map_audit": _scale_zone_map_audit,
        "scale_compaction_plan": _scale_compaction_plan,
        "sample_epochs_report": _sample_epochs_report,
        "pipeline_forget_cascade": _pipeline_forget_cascade,
        "rollup_incremental_refresh": _rollup_incremental_refresh,
        "pipeline_rag_prep": _pipeline_rag_prep,
        "pipeline_incremental_dedup": _pipeline_incremental_dedup,
        "sample_negatives": _sample_negatives,
        "sample_weighted": _sample_weighted,
        "profile_json_keys": _profile_json_keys,
        "profile_k_anonymity": _profile_k_anonymity,
        "profile_l_diversity": _profile_l_diversity,
        "profile_stat_drift": _profile_stat_drift,
        "fulltext_phrase_search": _fulltext_phrase_search,
        "profile_value_histogram": _profile_value_histogram,
        "text_lm_score": _text_lm_score,
        # r13: Min-K%-prob memorization audit (Shi et al. 2023)
        "text_min_k_prob": _text_min_k_prob,
        # model-based curation (pipeline/model.py, r11)
        "text_classifier_train": _text_classifier_train,
        "text_classifier_score": _text_classifier_score,
        "text_classifier_calibration": _text_classifier_calibration,
        "text_classifier_pr_curve": _text_classifier_pr_curve,
        "sample_perplexity_buckets": _sample_perplexity_buckets,
        "sample_moore_lewis": _sample_moore_lewis,
        "sample_length_buckets": _sample_length_buckets,
        "multimodal_pair_filter": _multimodal_pair_filter,
        "sample_leakage_safe_split": _sample_leakage_safe_split,
        "pipeline_quality_gate": _pipeline_quality_gate,
        "text_unicode_normalize": _text_unicode_normalize,
        "pipeline_multimodal_end_to_end": _pipeline_multimodal_end_to_end,
        "text_boilerplate": _text_boilerplate,
        "text_duplicate_spans": _text_duplicate_spans,
        "text_gopher_rules": _text_gopher_rules,
        "text_readability": _text_readability,
        "text_source_quality_rollup": _text_source_quality_rollup,
        "text_rake_keyphrases": _text_rake_keyphrases,
        "text_fim_transform": _text_fim_transform,
        "text_span_corruption": _text_span_corruption,
        "text_line_quality": _text_line_quality,
        "text_pii_redact": _text_pii_redact,
        "text_paragraph_dedup": _text_paragraph_dedup,
        "sample_pack_sequences": _sample_pack_sequences,
        # pipeline: multimodal
        "multimodal_binary_features": _multimodal_features,
        "multimodal_fake_decode": _multimodal_fake_decode,
        "multimodal_resize": _multimodal_resize,
        "multimodal_frame_sample": _multimodal_frame_sample,
        "multimodal_scene_cuts": _multimodal_scene_cuts,
    }


# --- oracle SQL --------------------------------------------------------------

# shared duckdb snippets (must mirror orientdb_spark/pipeline exactly)


def _rp_oracle_sql(in_dim: int = 64, out_dim: int = 8, seed: int = 42) -> str:
    """Regenerates the ±1 sign matrix from the shared md5-h60 arithmetic
    and projects with the same sequential-fold dot product; the scale
    multiplies by the identical double literal Spark uses (x * (1/sqrt k)
    is NOT x / sqrt k in IEEE)."""
    scale = repr(1.0 / (out_dim ** 0.5))
    sign = _dk_h60(f"'{seed}:rp:' || i || ':' || j")
    return (
        f"WITH s AS (SELECT j, list_transform(range(0, {in_dim}), "
        f"i -> CASE WHEN {sign} % 2 = 0 THEN 1.0 ELSE -1.0 END) AS sg "
        f"FROM range(0, {out_dim}) t(j)), "
        "p AS (SELECT vec_id, j::INTEGER AS j, "
        "list_dot_product(list_transform(embedding, x -> x::DOUBLE), sg) "
        f"* {scale} AS y FROM embeddings, s) "
        "SELECT vec_id, j, round(y, 6) AS y FROM p"
    )


def _phrase_oracle_sql() -> str:
    """Rebuilds the reference-tokenizer stream (punctuation-free corpus:
    ws-split + stop-word drop) and counts consecutive-position 'table
    scan' matches per doc — the ground truth for the positional-index
    posting intersection."""
    from orientdb_spark.fulltext import STOP_WORDS

    sl = ", ".join(f"'{s}'" for s in sorted(STOP_WORDS))
    return (
        "WITH toks AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(lower(text), '\\s+'), "
        f"t -> len(t) > 0 AND NOT list_contains([{sl}], t)) AS t FROM documents), "
        "m AS (SELECT doc_id, len(list_filter(range(1, len(t)), "
        "i -> t[i::INTEGER] = 'table' AND t[i::INTEGER + 1] = 'scan'))::BIGINT AS n_matches "
        "FROM toks) "
        "SELECT doc_id, n_matches FROM m WHERE n_matches > 0"
    )


def _dk_h60(s: str) -> str:
    return f"(('0x' || substring(md5({s}), 1, 15))::UBIGINT::BIGINT)"


def _dk_cos(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b}))))"
    )


def _kcenter_oracle_sql(k: int) -> str:
    """Unrolled k-center greedy replay (the graph unrolled-CTE-sweep
    discipline): s1 = min (h60, id) seed; d_j folds the newest center
    into the running min rounded cosine distance; s_{j+1} = argmax
    (d desc, id) over the not-yet-selected rows. Every s_j and d_j is
    AS MATERIALIZED: d_j reads d_{j-1} directly and through s_j, and
    DuckDB inlines a plain CTE once per reference, so the unmaterialized
    chain ran over 5 minutes at k=8 on sf0.01 (values are the same)."""
    h = _dk_h60("CAST(vec_id AS VARCHAR)")
    parts = [
        "WITH vv0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
        "AS v FROM embeddings), "
        "vv AS (SELECT vec_id, v FROM vv0 WHERE list_dot_product(v, v) > 0), "
        f"s1 AS MATERIALIZED (SELECT vec_id, v FROM vv ORDER BY {h}, vec_id LIMIT 1), "
        "d1 AS MATERIALIZED (SELECT t.vec_id, t.v, round(1.0 - "
        + _dk_cos("t.v", "s.v")
        + " + 1e-12, 6) AS d FROM vv t, s1 s)"
    ]
    for j in range(2, k + 1):
        prev_sel = " UNION ALL ".join(
            f"SELECT vec_id FROM s{i}" for i in range(1, j)
        )
        parts.append(
            f", s{j} AS MATERIALIZED (SELECT vec_id, v, d FROM d{j - 1} WHERE vec_id NOT IN "
            f"({prev_sel}) ORDER BY d DESC, vec_id LIMIT 1)"
        )
        if j < k:
            parts.append(
                f", d{j} AS MATERIALIZED (SELECT t.vec_id, t.v, least(t.d, round(1.0 - "
                + _dk_cos("t.v", "s.v")
                + f" + 1e-12, 6)) AS d FROM d{j - 1} t, s{j} s)"
            )
    ranks = " UNION ALL ".join(
        f"SELECT vec_id, {i}::BIGINT AS selection_rank FROM s{i}"
        for i in range(1, k + 1)
    )
    return "".join(parts) + " " + ranks


def _kmeans_oracle_sql(k: int, iters: int) -> str:
    """Unrolled spherical-Lloyd replay (similarity.kmeans /
    build_ivf_index): c0 = the k smallest-(h60, id) seed vectors; each
    iteration assigns every vector to its argmax rounded-nudged cosine
    cell (ties -> lower cid, the _assign_udf FP discipline) and
    re-centers surviving cells at the element-wise mean with DENSE cid
    renumbering (empty cells drop out — sorted(by_cid) in
    build_ivf_index); the final assignment against the last centers
    yields the cluster sizes. Cross-engine mean agreement is the
    embedding_nearest_centroid precedent: avg over the same doubles,
    divergence absorbed by the +1e-12-nudged 6-dp round before the
    argmax."""
    h = _dk_h60("CAST(vec_id AS VARCHAR)")

    def assign_cte(j: int) -> str:
        # a{j}: argmax rounded-nudged cosine of every vector vs c{j}
        return (
            f", a{j} AS (SELECT vec_id, cid FROM ("
            "SELECT vv.vec_id, c.cid, row_number() OVER (PARTITION BY vv.vec_id "
            "ORDER BY round(" + _dk_cos("vv.v", "c.v") + " + 1e-12, 6) DESC, c.cid) "
            f"AS rk FROM vv, c{j} c) WHERE rk = 1)"
        )

    parts = [
        "WITH vv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
        "AS v FROM embeddings), "
        f"c0 AS (SELECT row_number() OVER (ORDER BY {h}, vec_id) - 1 AS cid, "
        f"v FROM vv ORDER BY {h}, vec_id LIMIT {k})"
    ]
    for it in range(iters):
        parts.append(assign_cte(it))
        parts.append(
            f", m{it + 1} AS (SELECT a.cid, u.pos AS pos, avg(u.x) AS m "
            f"FROM a{it} a JOIN (SELECT vec_id, unnest(list_transform("
            "range(1, len(v) + 1), i -> {'pos': i, 'x': v[i::INTEGER]})) AS u "
            "FROM vv) t ON t.vec_id = a.vec_id GROUP BY a.cid, u.pos)"
        )
        parts.append(
            f", c{it + 1} AS (SELECT row_number() OVER (ORDER BY cid) - 1 AS cid, "
            f"v FROM (SELECT cid, list(m ORDER BY pos) AS v FROM m{it + 1} "
            "GROUP BY cid))"
        )
    parts.append(assign_cte(iters))
    parts.append(
        f" SELECT cid, count(*)::BIGINT AS n_members FROM a{iters} GROUP BY cid"
    )
    return "".join(parts)


def _bpe_oracle_sql(n_merges: int, output: str = "merges") -> str:
    """Unrolled BPE-training replay (pipeline/text.bpe_train): w0 is the
    (word, freq, chars+'</w>') table; each round counts adjacent symbol
    pairs weighted by word frequency, takes the (count desc, a, b)
    argmax, and applies the merge. The left-to-right non-overlapping
    merge fold (_merge_pair_col's replace-last trick) is replayed with a
    plain string replace(): symbols render as
    chr(31) || join(syms, chr(31)chr(31)) || chr(31) — every symbol
    flanked by single separators, adjacency marked by the double — so
    replace(sep+a+sep2+b+sep -> sep+ab+sep) consumes both symbols'
    delimiters, scans left-to-right without rescanning replacements
    (exactly the fold's semantics), and the result parses back by
    stripping the flanks and splitting on the double separator. chr(31)
    cannot collide: the corpus alphabet is printable ASCII and the only
    synthesized symbol characters are '<', '/', '>'."""
    sep, sep2 = "chr(31)", "(chr(31) || chr(31))"
    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)"
    parts = [
        # every w{r} is referenced twice (by the next round's pair count
        # AND the next w-table), so each round must be MATERIALIZED —
        # DuckDB inlines plain CTEs per reference and the corpus-wide
        # word collapse would re-execute O(2^n_merges) times (measured
        # 230 s at sf1 for the encode variant; materialized, seconds)
        "WITH w0 AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq, "
        "list_append(str_split(word, ''), '</w>') AS syms FROM ("
        f"SELECT unnest({toks}) AS word FROM documents) GROUP BY word)"
    ]
    for r in range(n_merges):
        parts.append(
            f", p{r} AS (SELECT a, b, sum(freq) AS n FROM ("
            f"SELECT freq, syms[i] AS a, syms[i + 1] AS b "
            f"FROM w{r}, unnest(range(1, len(syms))) AS t(i) "
            "WHERE len(syms) >= 2) GROUP BY a, b)"
            f", t{r} AS MATERIALIZED "
            f"(SELECT a, b FROM p{r} ORDER BY n DESC, a, b LIMIT 1)"
        )
        if r < n_merges - 1 or output == "encode":
            # LEFT JOIN ON 1=1, not a cross join: when the corpus runs
            # out of pairs before n_merges (bpe_train's early break),
            # t{r} is EMPTY — a cross join would empty every later
            # w-table (and the encode vocab with it); the left join
            # passes symbols through unchanged instead, exactly the
            # fold-with-no-merge semantics
            parts.append(
                f", w{r + 1} AS MATERIALIZED (SELECT word, freq, "
                f"CASE WHEN s2 IS NULL THEN syms ELSE "
                f"str_split(substr(s2, 2, len(s2) - 2), {sep2}) END AS syms FROM ("
                f"SELECT word, freq, syms, CASE WHEN t.a IS NULL THEN NULL ELSE "
                f"replace({sep} || array_to_string(syms, {sep2}) "
                f"|| {sep}, {sep} || t.a || {sep2} || t.b || {sep}, "
                f"{sep} || t.a || t.b || {sep}) END AS s2 "
                f"FROM w{r} LEFT JOIN t{r} t ON 1 = 1))"
            )
    if output == "encode":
        # one CTE past the merge loop: the FINAL per-word symbol table
        # IS the tokenizer — per-doc encoding is a words->vocab join
        # (BPE segmentation depends on the word alone), exactly the
        # join pipeline/text.bpe_encode's segmentation-consistency test
        # pins on the Spark side
        tail = (
            f", vocab AS (SELECT word, len(syms) AS ntok FROM w{n_merges})"
            f", dw AS (SELECT doc_id, unnest({toks}) AS word FROM documents)"
            ", per AS (SELECT dw.doc_id, count(*)::INTEGER AS n_words, "
            "sum(v.ntok)::INTEGER AS n_tokens "
            "FROM dw JOIN vocab v USING (word) GROUP BY dw.doc_id) "
            "SELECT d.doc_id, coalesce(p.n_words, 0)::INTEGER AS n_words, "
            "coalesce(p.n_tokens, 0)::INTEGER AS n_tokens, "
            "round(coalesce(p.n_tokens, 0) / "
            "greatest(coalesce(p.n_words, 0), 1), 6) AS tokens_per_word "
            "FROM documents d LEFT JOIN per p USING (doc_id)"
        )
        return "".join(parts) + tail
    sel = " UNION ALL ".join(
        f'SELECT {r + 1}::BIGINT AS rank, a AS "left", b AS "right" FROM t{r}'
        for r in range(n_merges)
    )
    return "".join(parts) + " " + sel


def _mmr_oracle_sql(nq: int = 8, k: int = 5, m: int = 20, lam: float = 0.5) -> str:
    """Unrolled MMR-greedy replay (pipeline/similarity.mmr_topk): exact
    cosine top-m candidates per query (the brute-force oracle), one
    candidate↔candidate pair-sim CTE, then k chained selection steps —
    each an EXISTS-excluded max-sim groupBy against the selected set and
    a (score desc, neighbor_id) argmax. Scores live on the 6-dp
    nudge-rounded grid (lam·6dp-value lands EXACTLY on decimal
    midpoints, where un-nudged rounds diverge across engines).

    Shared CTEs are declared AS MATERIALIZED: DuckDB inlines plain
    CTEs per reference, and each sel{t} references sel{t-1} twice
    (max-sim join + NOT EXISTS), so un-materialized the full corpus
    cosine scan re-executes O(2^k) times — measured 242 s at sf1;
    materialized it is sub-second, values identical."""
    cos_qe = _COS.format(a="q.qv", b="e.ev")
    cos_ab = _COS.format(a="a.v", b="b.v")
    lm, il = repr(float(lam)), repr(1.0 - float(lam))
    parts = [
        f"WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
        f"FROM embeddings WHERE vec_id < {nq}), "
        "e AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ev "
        "FROM embeddings), "
        f"s AS (SELECT query_id, neighbor_id, {cos_qe} AS c FROM q, e "
        "WHERE neighbor_id <> query_id), "
        "cand AS MATERIALIZED (SELECT query_id, neighbor_id, round(c, 6) AS rel, "
        "row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) "
        f"AS rnk FROM s QUALIFY rnk <= {m}), "
        "cv AS (SELECT cand.query_id, cand.neighbor_id, e.ev AS v "
        "FROM cand JOIN e USING (neighbor_id)), "
        "ps AS MATERIALIZED (SELECT a.query_id, a.neighbor_id AS ia, "
        "b.neighbor_id AS ib, "
        f"round({cos_ab}, 6) AS s FROM cv a JOIN cv b "
        "ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id), "
        f"sel1 AS MATERIALIZED (SELECT query_id, neighbor_id, rel, "
        f"round({lm} * rel + 1e-12, 6) AS mmr_score, 1 AS mmr_rank "
        "FROM cand WHERE rnk = 1)"
    ]
    for t in range(2, k + 1):
        score = f"round({lm} * c.rel - {il} * x.ms + 1e-12, 6)"
        parts.append(
            f", mx{t} AS (SELECT p.query_id, p.ia, max(p.s) AS ms FROM ps p "
            f"JOIN sel{t - 1} sl ON p.query_id = sl.query_id "
            "AND p.ib = sl.neighbor_id GROUP BY p.query_id, p.ia)"
            f", pick{t} AS (SELECT query_id, neighbor_id, rel, mmr_score, "
            f"{t} AS mmr_rank FROM ("
            f"SELECT c.query_id, c.neighbor_id, c.rel, {score} AS mmr_score, "
            f"row_number() OVER (PARTITION BY c.query_id "
            f"ORDER BY {score} DESC, c.neighbor_id) AS rn "
            f"FROM cand c JOIN mx{t} x "
            "ON x.query_id = c.query_id AND x.ia = c.neighbor_id "
            f"WHERE NOT EXISTS (SELECT 1 FROM sel{t - 1} s2 "
            "WHERE s2.query_id = c.query_id "
            "AND s2.neighbor_id = c.neighbor_id)) WHERE rn = 1)"
            f", sel{t} AS MATERIALIZED (SELECT * FROM sel{t - 1} "
            f"UNION ALL SELECT * FROM pick{t})"
        )
    parts.append(
        f" SELECT query_id, neighbor_id, rel AS relevance, mmr_score, "
        f"mmr_rank FROM sel{k}"
    )
    return "".join(parts)


def _domain_reweight_oracle_sql(
    iters: int = 3, eta: float = 0.5, smoothing: float = 0.2
) -> str:
    """Unrolled multiplicative-weights replay
    (pipeline/sampling.domain_reweight): the lm_score oracle feeds
    per-source mean NLL and excess-over-min; each iteration is one
    S-row CTE computing normalize(w·(1+eta·excess)) on the 6-dp
    nudge-rounded grid — linear payoff, so the loop has no libm
    transcendentals and replays bit-for-bit."""
    e, sm = repr(float(eta)), repr(float(smoothing))
    parts = [
        f"WITH m AS ({_lm_oracle_sql()}), "
        "ps AS (SELECT d.source, count(*)::BIGINT AS n_docs, "
        "round(avg(m.nll) + 1e-12, 6) AS mean_nll "
        "FROM m JOIN documents d USING (doc_id) GROUP BY d.source), "
        "w0 AS (SELECT source, n_docs, mean_nll, "
        "round(mean_nll - min(mean_nll) OVER () + 1e-12, 6) AS excess_nll, "
        "(count(*) OVER ())::DOUBLE AS s, "
        "1.0 / (count(*) OVER ())::DOUBLE AS w FROM ps)"
    ]
    for t in range(iters):
        u = f"(w * (1.0 + {e} * excess_nll))"
        parts.append(
            f", w{t + 1} AS (SELECT source, n_docs, mean_nll, excess_nll, s, "
            f"round({u} / sum({u}) OVER () + 1e-12, 6) AS w FROM w{t})"
        )
    parts.append(
        f" SELECT source, n_docs, mean_nll, excess_nll, "
        f"round((1.0 - {sm}) * w + {sm} / s + 1e-12, 6) AS weight FROM w{iters}"
    )
    return "".join(parts)


def _forget_cascade_oracle_sql() -> str:
    """Erasure-cascade replay: the forget set is doc_id % 17 = 0;
    chunk counts replay chunk_documents(32, 8)'s start enumeration
    ((greatest(n-32,0)+23)//24 + 1 chunks for token count n > 0);
    embeddings purge by semi-join against the forget set (no id-range
    assumption); residual_refs is the contract — zero by construction
    in a correct purge, so it is pinned as the literal the Spark side
    must COUNT its way to."""
    return (
        "WITH del AS (SELECT doc_id FROM documents WHERE doc_id % 17 = 0), "
        "dd AS (SELECT count(*)::BIGINT AS nb, "
        "count(*) FILTER (WHERE doc_id % 17 <> 0)::BIGINT AS na FROM documents), "
        "tc AS (SELECT doc_id, len(list_filter(regexp_split_to_array(text, "
        "'\\s+'), t -> len(t) > 0)) AS n FROM documents), "
        "cc AS (SELECT sum(CASE WHEN n > 0 THEN "
        "(greatest(n - 32, 0) + 23) // 24 + 1 ELSE 0 END)::BIGINT AS nb, "
        "sum(CASE WHEN n > 0 THEN (greatest(n - 32, 0) + 23) // 24 + 1 "
        "ELSE 0 END) FILTER (WHERE doc_id % 17 <> 0)::BIGINT AS na FROM tc), "
        "ee AS (SELECT count(*)::BIGINT AS nb, "
        "count(*) FILTER (WHERE vec_id NOT IN (SELECT doc_id FROM del))::BIGINT "
        "AS na FROM embeddings) "
        "SELECT 'documents' AS artifact, nb AS n_before, na AS n_after, "
        "nb - na AS n_purged, 0::BIGINT AS residual_refs FROM dd "
        "UNION ALL SELECT 'chunks', nb, na, nb - na, 0::BIGINT FROM cc "
        "UNION ALL SELECT 'embeddings', nb, na, nb - na, 0::BIGINT FROM ee"
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


def _ivf_fixed_oracle_sql(
    n_cells: int = 16,
    nprobe: int = 4,
    nq: int = 10,
    k: int = 5,
    seed_filter: str | None = None,
) -> str:
    """Fixed-parameter refine_iters=0 IVF replay (the sim_topk_ivf
    pipeline with explicit n_cells/nprobe instead of the COUNT(*)
    derivation): seeds = the n_cells smallest (h60, id) vectors of the
    (optionally ``seed_filter``-restricted) corpus, assignment/probes =
    the rounded-nudged cosine argmax / top-nprobe, rerank = exact
    sequential-fold cosine. ``seed_filter`` is how the incremental-index
    replay proves extend() is 'same quantizer, more postings': seeds
    from the base corpus only, postings over everything."""
    sf = f" WHERE {seed_filter}" if seed_filter else ""
    return (
        "WITH vv AS (SELECT vec_id, "
        "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), "
        "sr AS (SELECT v, row_number() OVER (ORDER BY "
        + _dk_h60("CAST(vec_id AS VARCHAR)")
        + f", vec_id) AS rk FROM vv{sf}), "
        f"seeds AS (SELECT rk - 1 AS cid, v FROM sr WHERE rk <= {n_cells}), "
        "ac AS (SELECT vv.vec_id, s.cid, "
        "round(" + _COS.format(a="vv.v", b="s.v") + " + 1e-12, 6) AS c6 "
        "FROM vv, seeds s), "
        "asg AS (SELECT vec_id, cid FROM ("
        "SELECT vec_id, cid, row_number() OVER ("
        "PARTITION BY vec_id ORDER BY c6 DESC, cid) AS rk FROM ac) "
        "WHERE rk = 1), "
        "probes AS (SELECT vec_id AS qid, cid FROM ("
        "SELECT vec_id, cid, row_number() OVER ("
        "PARTITION BY vec_id ORDER BY c6 DESC, cid) AS rk FROM ac "
        f"WHERE vec_id < {nq}) WHERE rk <= {nprobe}), "
        "sc AS (SELECT p.qid AS query_id, a.vec_id AS neighbor_id, "
        + _COS.format(a="q.v", b="n.v")
        + " AS c FROM probes p "
        "JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid "
        "JOIN vv q ON q.vec_id = p.qid "
        "JOIN vv n ON n.vec_id = a.vec_id), "
        "rk AS (SELECT query_id, neighbor_id, c, row_number() OVER ("
        "PARTITION BY query_id ORDER BY c DESC, neighbor_id)::INTEGER "
        "AS rank FROM sc) "
        "SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank "
        f"FROM rk WHERE rank <= {k}"
    )


def _ann_recall_oracle_sql(
    n_cells: int = 16, nprobe: int = 4, nq: int = 10, k: int = 5
) -> str:
    """Recall@k replay (pipeline/similarity.ann_recall_report): the
    fixed-parameter IVF replay as the approximate side, the bruteforce
    cosine convention as ground truth, hits via an equi-join on
    (query_id, neighbor_id), recall nudge-rounded to 6 dp."""
    return (
        "WITH ap AS MATERIALIZED (SELECT query_id, neighbor_id FROM ("
        + _ivf_fixed_oracle_sql(n_cells, nprobe, nq, k)
        + ") ivf), "
        "qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
        f"FROM embeddings WHERE vec_id < {nq}), "
        "ev AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ev "
        "FROM embeddings), "
        "s AS (SELECT query_id, neighbor_id, "
        + _COS.format(a="qv", b="ev")
        + " AS c FROM qv, ev WHERE neighbor_id <> query_id), "
        "ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM ("
        "SELECT query_id, neighbor_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rk FROM s) "
        f"WHERE rk <= {k}), "
        "h AS (SELECT query_id, count(*)::BIGINT AS n_hits "
        "FROM ex JOIN ap USING (query_id, neighbor_id) GROUP BY 1), "
        "b AS (SELECT query_id, count(*)::BIGINT AS n_exact FROM ex GROUP BY 1) "
        "SELECT b.query_id, n_exact, coalesce(n_hits, 0)::BIGINT AS n_hits, "
        "round(coalesce(n_hits, 0) / n_exact::DOUBLE + 1e-12, 6) AS recall "
        "FROM b LEFT JOIN h USING (query_id)"
    )


def _rank_eval_oracle_sql(
    n_cells: int = 16, nprobe: int = 4, nq: int = 10, k: int = 10
) -> str:
    """MRR/nDCG replay (pipeline/similarity.rank_eval): the fixed IVF
    replay as the ranked side, exact ranks 2-4 as graded labels, and
    the SAME literal 1/log2(r+1) discount table the Spark plan embeds
    (repr round-trips the exact double, so no libm is involved on
    either engine)."""
    import math

    disc = {r: repr(1.0 / math.log2(r + 1)) for r in range(1, k + 1)}
    disc_case = (
        "CASE rank " + " ".join(f"WHEN {r} THEN {d}" for r, d in disc.items())
        + " END"
    )
    idisc_case = (
        "CASE irank " + " ".join(f"WHEN {r} THEN {d}" for r, d in disc.items())
        + " END"
    )
    return (
        "WITH rk AS MATERIALIZED (SELECT query_id, neighbor_id, rank FROM ("
        + _ivf_fixed_oracle_sql(n_cells, nprobe, nq, k)
        + ") ivf), "
        "qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
        f"FROM embeddings WHERE vec_id < {nq}), "
        "ev AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ev "
        "FROM embeddings), "
        "s AS (SELECT query_id, neighbor_id, "
        + _COS.format(a="qv", b="ev")
        + " AS c FROM qv, ev WHERE neighbor_id <> query_id), "
        "lab AS MATERIALIZED (SELECT query_id, neighbor_id, "
        "(5 - xrk)::DOUBLE AS rel FROM ("
        "SELECT query_id, neighbor_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS xrk FROM s) "
        "WHERE xrk BETWEEN 2 AND 4), "
        "hits AS (SELECT rk.query_id, rank, rel, "
        f"rel * ({disc_case}) AS gain "
        "FROM rk JOIN lab USING (query_id, neighbor_id)), "
        "pq AS (SELECT query_id, min(CASE WHEN rel > 0 THEN rank END) "
        "AS first_rel_rank, sum(gain) AS dcg0 FROM hits GROUP BY 1), "
        "ideal AS (SELECT query_id, rel, row_number() OVER ("
        "PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS irank "
        "FROM lab), "
        f"pi AS (SELECT query_id, sum(rel * ({idisc_case})) AS idcg0 "
        f"FROM ideal WHERE irank <= {k} GROUP BY 1), "
        "nr AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM lab GROUP BY 1) "
        "SELECT nr.query_id, n_rel, first_rel_rank::INTEGER AS first_rel_rank, "
        "round(coalesce(1.0 / first_rel_rank, 0.0) + 1e-12, 6) AS mrr, "
        "round(coalesce(dcg0, 0.0) + 1e-12, 6) AS dcg, "
        "round(coalesce(idcg0, 0.0) + 1e-12, 6) AS idcg, "
        "round(CASE WHEN coalesce(idcg0, 0.0) > 0 "
        "THEN coalesce(dcg0, 0.0) / coalesce(idcg0, 0.0) ELSE 0.0 END "
        "+ 1e-12, 6) AS ndcg "
        "FROM nr JOIN pi USING (query_id) LEFT JOIN pq USING (query_id)"
    )


def _pr_eval_oracle_sql(
    n_cells: int = 16, nprobe: int = 4, nq: int = 10, k: int = 10
) -> str:
    """Precision/recall/AP replay (pipeline/similarity.pr_eval): the
    fixed IVF replay as the ranked side, exact ranks 2-4 as (binary)
    relevant labels; every metric term is a small-integer ratio, so the
    replay involves no transcendental on either engine."""
    return (
        "WITH rk AS MATERIALIZED (SELECT query_id, neighbor_id, rank FROM ("
        + _ivf_fixed_oracle_sql(n_cells, nprobe, nq, k)
        + ") ivf), "
        "qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
        f"FROM embeddings WHERE vec_id < {nq}), "
        "ev AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ev "
        "FROM embeddings), "
        "s AS (SELECT query_id, neighbor_id, "
        + _COS.format(a="qv", b="ev")
        + " AS c FROM qv, ev WHERE neighbor_id <> query_id), "
        "lab AS MATERIALIZED (SELECT query_id, neighbor_id FROM ("
        "SELECT query_id, neighbor_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS xrk FROM s) "
        "WHERE xrk BETWEEN 2 AND 4), "
        "hits AS (SELECT rk.query_id, rank, row_number() OVER ("
        "PARTITION BY rk.query_id ORDER BY rank) AS i "
        "FROM rk JOIN lab USING (query_id, neighbor_id)), "
        "pq AS (SELECT query_id, count(*)::BIGINT AS n_hits, "
        "sum(i::DOUBLE / rank::DOUBLE) AS ap_num FROM hits GROUP BY 1), "
        "nr AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM lab GROUP BY 1) "
        "SELECT nr.query_id, n_rel, "
        "coalesce(n_hits, 0)::BIGINT AS n_hits, "
        f"round(coalesce(n_hits, 0) / {float(k)!r} + 1e-12, 6) AS precision_k, "
        "round(coalesce(n_hits, 0)::DOUBLE / n_rel + 1e-12, 6) AS recall_k, "
        f"round(coalesce(ap_num, 0.0) / least(n_rel, {k})::DOUBLE + 1e-12, 6) "
        "AS ap "
        "FROM nr LEFT JOIN pq USING (query_id)"
    )


def _matryoshka_oracle_sql(
    dims: tuple[int, ...] = (8, 16, 32, 64), nq: int = 8, k: int = 5
) -> str:
    """Matryoshka recall replay (pipeline/similarity.matryoshka_recall):
    full-dim bruteforce ground truth, one sliced-prefix ranking CTE per
    dim, hits joined per (dim, query), recall nudge-rounded."""
    head = (
        "WITH qf AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
        f"FROM embeddings WHERE vec_id < {nq}), "
        "ef AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ev "
        "FROM embeddings), "
        "sf AS (SELECT query_id, neighbor_id, "
        + _COS.format(a="qv", b="ev")
        + " AS c FROM qf, ef WHERE neighbor_id <> query_id), "
        "ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM ("
        "SELECT query_id, neighbor_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rk FROM sf) "
        f"WHERE rk <= {k}), "
        "b AS (SELECT query_id, count(*)::BIGINT AS n_exact FROM ex GROUP BY 1)"
    )
    parts, selects = [head], []
    for d in dims:
        parts.append(
            f"q{d} AS (SELECT vec_id AS query_id, "
            f"list_transform(embedding[1:{d}], x -> x::DOUBLE) AS qv "
            f"FROM embeddings WHERE vec_id < {nq}), "
            f"e{d} AS (SELECT vec_id AS neighbor_id, "
            f"list_transform(embedding[1:{d}], x -> x::DOUBLE) AS ev "
            "FROM embeddings), "
            f"s{d} AS (SELECT query_id, neighbor_id, "
            + _COS.format(a="qv", b="ev")
            + f" AS c FROM q{d}, e{d} WHERE neighbor_id <> query_id), "
            f"a{d} AS (SELECT query_id, neighbor_id FROM ("
            "SELECT query_id, neighbor_id, row_number() OVER ("
            f"PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rk FROM s{d}) "
            f"WHERE rk <= {k}), "
            f"h{d} AS (SELECT query_id, count(*)::BIGINT AS n_hits "
            f"FROM ex JOIN a{d} USING (query_id, neighbor_id) GROUP BY 1)"
        )
        selects.append(
            f"SELECT {d}::INTEGER AS dim, b.query_id, n_exact, "
            "coalesce(n_hits, 0)::BIGINT AS n_hits, "
            "round(coalesce(n_hits, 0) / n_exact::DOUBLE + 1e-12, 6) AS recall "
            f"FROM b LEFT JOIN h{d} USING (query_id)"
        )
    return ", ".join(parts) + " " + " UNION ALL ".join(selects)


def _curriculum_oracle_sql(
    n_stages: int = 3, n_shards: int = 8, seed: int = 0
) -> str:
    """Curriculum replay (pipeline/sampling.curriculum_order): the
    lm_score oracle LEFT-joined so bigram-less docs carry NLL 0.0,
    nudge-rounded interpolated quantile cuts, h60 shard arithmetic,
    and a (stage, shard)-partitioned position window."""
    qs = [s / n_stages for s in range(1, n_stages)]
    cuts = ", ".join(
        f"round(quantile_cont(nll, {q!r}) + 1e-12, 6) AS c{i}"
        for i, q in enumerate(qs)
    )
    case = "CASE " + " ".join(
        f"WHEN nll <= c{i} THEN {i}" for i in range(len(qs))
    ) + f" ELSE {n_stages - 1} END"
    key = _dk_h60(f"'curr:{seed}:' || doc_id::VARCHAR")
    return (
        f"WITH m AS ({_lm_oracle_sql()}), "
        "sc AS MATERIALIZED (SELECT d.doc_id, coalesce(m.nll, 0.0) AS nll "
        "FROM documents d LEFT JOIN m USING (doc_id)), "
        f"cuts AS (SELECT {cuts} FROM sc), "
        f"st AS (SELECT doc_id, nll, ({case})::INTEGER AS stage, "
        f"{key} AS kk FROM sc, cuts) "
        "SELECT doc_id, nll, stage, "
        f"(kk % {n_shards})::INTEGER AS shard, "
        "(row_number() OVER (PARTITION BY stage, kk % "
        f"{n_shards} ORDER BY kk, doc_id) - 1)::BIGINT AS pos FROM st"
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


def _hybrid_rrf_oracle_sql(k: int = 10, m: int = 50, kappa: int = 60) -> str:
    """Hybrid RRF replay (pipeline/similarity.hybrid_rrf_topk): tf-idf
    posting scores for the fixed query terms, exact cosine for query
    vec 0, per-list top-m ranks, full-outer RRF fusion. Rank lists
    order on the same doubles the tfidf/brute-force oracles replay;
    rrf is rational arithmetic on integer ranks — exact."""
    cos = _COS.format(a="e.embedding::DOUBLE[]", b="q.qv")
    kap = repr(float(kappa))
    return (
        "WITH toks AS (SELECT doc_id, unnest("
        "list_filter(regexp_split_to_array(lower(text), '\\s+'), "
        "t -> len(t) > 0)) AS term FROM documents), "
        "ft AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks "
        "WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term), "
        "dfq AS (SELECT term, count(*)::DOUBLE AS df FROM ft GROUP BY term), "
        "nd AS (SELECT count(*)::DOUBLE AS n FROM documents), "
        "lexs AS (SELECT doc_id, round(sum(tf * ln(nd.n / dfq.df)), 6) AS lex "
        "FROM ft JOIN dfq USING (term), nd GROUP BY doc_id), "
        "lex AS (SELECT doc_id, row_number() OVER "
        "(ORDER BY lex DESC, doc_id)::INTEGER AS lex_rank FROM lexs "
        f"QUALIFY lex_rank <= {m}), "
        "q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings "
        "WHERE vec_id = 0), "
        f"vs AS (SELECT e.vec_id AS doc_id, {cos} AS c FROM embeddings e, q "
        "WHERE e.vec_id <> 0), "
        "vec AS (SELECT doc_id, row_number() OVER "
        "(ORDER BY c DESC, doc_id)::INTEGER AS vec_rank FROM vs "
        f"QUALIFY vec_rank <= {m}), "
        "f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, "
        "l.lex_rank, v.vec_rank, "
        f"coalesce(1.0 / ({kap} + l.lex_rank), 0.0) + "
        f"coalesce(1.0 / ({kap} + v.vec_rank), 0.0) AS raw "
        "FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id) "
        "SELECT doc_id, lex_rank, vec_rank, "
        "round(raw + 1e-12, 6) AS rrf_score, "
        "row_number() OVER (ORDER BY raw DESC, doc_id)::INTEGER AS fused_rank "
        f"FROM f QUALIFY fused_rank <= {k}"
    )


_DK_TOKS = (
    "list_sort(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'), "
    "t -> len(t) > 0)))"
)
_DK_TOKS_RAW = "list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0)"
_DK_TOKS_LOWER = (
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)"
)


def _near_dup_stream_oracle_sql(
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    threshold: float = 0.7,
    bucket_cap: int = 32,
) -> str:
    """Batch-path replay of streaming.near_dup_pairs_stream over the
    recrawl corpus: the _minhash_oracle_sql signature/band machinery,
    then per-bucket (ts, id)-ranked pairs — b must PRECEDE a and sit
    within the first ``bucket_cap`` ranks (the state-add rule), and
    est_jaccard is the agreeing-position fraction (exact dyadic m/16,
    no rounding ambiguity)."""
    from orientdb_spark.pipeline.common import MINHASH_P, MINHASH_PARAMS

    rows = num_hashes // bands
    sigs = ", ".join(
        f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {MINHASH_P})) AS s_{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS[:num_hashes])
    )
    band_exprs = ", ".join(
        _dk_h60(
            "concat_ws('-', "
            + ", ".join(f"s_{b * rows + r}::VARCHAR" for r in range(rows))
            + ")"
        )
        + f" AS b_{b}"
        for b in range(bands)
    )
    posts = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, b_{b} AS bhash FROM band"
        for b in range(bands)
    )
    sl = "[" + ", ".join(f"s_{i}" for i in range(num_hashes)) + "]"
    tok_hash = _dk_h60("x") + f" % {MINHASH_P}"
    return f"""
WITH corpus AS (SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
t0 AS (SELECT doc_id, {_DK_TOKS_RAW} AS t FROM corpus),
toks AS (SELECT doc_id, list_sort(list_distinct(list_transform(
           range(1, greatest(len(t) - {shingle} + 2, 1)),
           i -> array_to_string(t[i:i+{shingle - 1}], ' ')))) AS t
         FROM t0 WHERE len(t) >= {shingle}),
h AS (SELECT doc_id, list_transform(t, x -> {tok_hash}) AS hs FROM toks),
sig AS MATERIALIZED (SELECT doc_id, {sigs} FROM h),
band AS (SELECT doc_id, {band_exprs} FROM sig),
sigl AS (SELECT doc_id, {sl} AS sl FROM sig),
posts0 AS ({posts}),
bkt AS MATERIALIZED (SELECT band, bhash, doc_id, row_number() OVER (
  PARTITION BY band, bhash ORDER BY doc_id % 1000000, doc_id) AS rk FROM posts0),
p AS (SELECT a.doc_id AS doc_id, b.doc_id AS dup_of, a.band,
        len(list_filter(range(1, {num_hashes + 1}),
            i -> sa.sl[i] = sb.sl[i]))::DOUBLE / {num_hashes} AS est
      FROM bkt a JOIN bkt b ON a.band = b.band AND a.bhash = b.bhash
        AND b.rk < a.rk AND b.rk <= {bucket_cap}
      JOIN sigl sa ON sa.doc_id = a.doc_id
      JOIN sigl sb ON sb.doc_id = b.doc_id)
SELECT doc_id, dup_of, band, round(est, 6) AS est_jaccard
FROM p WHERE est >= {threshold}
"""


def _minhash_oracle_sql(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.9,
    shingle: int = 3,
    max_bucket_size: int = 2000,
    stop_at_posts: bool = False,
    pairs_cte: bool = False,
    pair_filter: str | None = None,
) -> str:
    from orientdb_spark.pipeline.common import MINHASH_P, MINHASH_PARAMS

    rows = num_hashes // bands
    sig_parts = []
    for i in range(num_hashes):
        a, b = MINHASH_PARAMS[i]
        sig_parts.append(
            f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {MINHASH_P})) AS s_{i}"
        )
    sigs = ", ".join(sig_parts)
    band_parts = []
    for b in range(bands):
        members = ", ".join("s_" + str(b * rows + r) + "::VARCHAR" for r in range(rows))
        concat_expr = "concat_ws('-', " + members + ")"
        band_parts.append(_dk_h60(concat_expr) + " AS b_" + str(b))
    band_exprs = ", ".join(band_parts)
    posts = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, b_{b} AS bhash FROM band" for b in range(bands)
    )
    tok_hash = _dk_h60("x") + f" % {MINHASH_P}"
    prefix = f"""
WITH t0 AS (SELECT doc_id, {_DK_TOKS_RAW} AS t FROM documents),
toks AS (SELECT doc_id, list_sort(list_distinct(list_transform(
           range(1, greatest(len(t) - {shingle} + 2, 1)),
           i -> array_to_string(t[i:i+{shingle - 1}], ' ')))) AS t
         FROM t0 WHERE len(t) >= {shingle}),
h AS (SELECT doc_id, list_transform(t, x -> {tok_hash}) AS hs FROM toks),
sig AS (SELECT doc_id, {sigs} FROM h),
band AS (SELECT doc_id, {band_exprs} FROM sig),
posts0 AS ({posts})"""
    if stop_at_posts:
        return prefix + """
SELECT n_docs, count(*)::BIGINT AS n_buckets FROM (
  SELECT band, bhash, count(*)::BIGINT AS n_docs FROM posts0 GROUP BY band, bhash)
GROUP BY n_docs ORDER BY n_docs
"""
    body = prefix + f""",
posts AS (SELECT * FROM posts0
          QUALIFY count(*) OVER (PARTITION BY band, bhash) <= {max_bucket_size}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM posts a JOIN posts b ON a.band = b.band AND a.bhash = b.bhash
         WHERE a.doc_id < b.doc_id),
j AS (SELECT id_a, id_b,
        round(len(list_intersect(ta.t, tb.t))::DOUBLE /
              len(list_distinct(list_concat(ta.t, tb.t))), 6) AS jaccard
      FROM cand JOIN toks ta ON cand.id_a = ta.doc_id
                JOIN toks tb ON cand.id_b = tb.doc_id)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= {threshold}{
        " AND (" + pair_filter + ")" if pair_filter else ""}
"""
    if pairs_cte:
        # everything up to a `pairs(id_a, id_b)` CTE, opened with WITH
        # RECURSIVE so callers can append recursive closure CTEs
        head, tail = body.split("\nSELECT id_a, id_b, jaccard", 1)
        return (
            head.replace("WITH t0 AS", "WITH RECURSIVE t0 AS", 1)
            + f""",
pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= {threshold})"""
        )
    return body


def _simhash_oracle_sql(bits: int = 16) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, v -> ((v >> {j}) & 1) * 2 - 1)) > 0 "
        f"THEN {2 ** j} ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_DK_TOKS} AS t FROM documents),
h AS (SELECT doc_id, list_transform(t, x -> {_dk_h60('x')}) AS hs FROM toks)
SELECT doc_id, ({terms})::BIGINT AS simhash FROM h
"""


def _simhash_hamming_oracle_sql(bits: int = 16, k: int = 3) -> str:
    inner = _simhash_oracle_sql(bits)
    return (
        f"WITH sh AS ({inner}) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming "
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {k}"
    )


def _ngram_oracle_sql(n: int = 2, threshold: float = 0.05) -> str:
    return f"""
WITH toks AS (SELECT doc_id, lang, source, {_DK_TOKS_RAW} AS t FROM documents),
ng AS (SELECT doc_id, lang, source,
         list_sort(list_distinct(list_transform(
           range(1, greatest(len(t) - {n} + 2, 1)),
           i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS g
       FROM toks),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            round(len(list_intersect(a.g, b.g))::DOUBLE /
                  len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
          FROM ng a JOIN ng b
            ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {threshold}
"""


def _langid_oracle_sql() -> str:
    from orientdb_spark.pipeline.text import LANG_MARKERS

    score_cols = []
    for lang in sorted(LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        score_cols.append(
            f"len(list_filter(t, x -> list_contains([{markers}], x)))::DOUBLE / "
            f"greatest(len(t), 1) AS s_{lang}"
        )
    best = "greatest(" + ", ".join(f"s_{l}" for l in sorted(LANG_MARKERS)) + ")"
    case = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in sorted(LANG_MARKERS))
    return f"""
WITH toks AS (SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS t
  FROM documents),
s AS (SELECT doc_id, {', '.join(score_cols)} FROM toks),
b AS (SELECT *, {best} AS best FROM s)
SELECT doc_id, CASE {case} END AS predicted_lang, round(best, 6) AS lang_score FROM b
"""


def _repetition_oracle_sql() -> str:
    return (
        # whitespace-token trigrams; dup fraction = (total-distinct)/total
        "WITH t0 AS (SELECT doc_id, list_filter(regexp_split_to_array("
        "lower(text), '\\s+'), x -> len(x) > 0) AS t FROM documents), "
        "g AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN "
        "list_transform(range(1, len(t) - 3 + 2), "
        "i -> array_to_string(t[i::INTEGER:i::INTEGER+2], ' ')) "
        "ELSE [] END AS grams FROM t0), "
        "u AS (SELECT doc_id, unnest(grams) AS gram FROM g), "
        "pg AS (SELECT doc_id, gram, count(*) AS c FROM u GROUP BY doc_id, gram), "
        "agg AS (SELECT doc_id, sum(c) AS n_ngrams, count(*) AS n_distinct, "
        "max(c) AS top_count FROM pg GROUP BY doc_id) "
        "SELECT g.doc_id, coalesce(agg.n_ngrams, 0)::BIGINT AS n_ngrams, "
        "coalesce(agg.n_distinct, 0)::BIGINT AS n_distinct, "
        "coalesce(agg.top_count, 0)::BIGINT AS top_count, "
        "round((coalesce(agg.n_ngrams, 0) - coalesce(agg.n_distinct, 0)) "
        "/ greatest(coalesce(agg.n_ngrams, 0), 1), 6) AS dup_ngram_frac, "
        "round(coalesce(agg.top_count, 0) "
        "/ greatest(coalesce(agg.n_ngrams, 0), 1), 6) AS top_ngram_frac "
        "FROM g LEFT JOIN agg ON g.doc_id = agg.doc_id"
    )


def _lm_oracle_sql() -> str:
    return (
        "WITH staged AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS t "
        "FROM documents), "
        "s2 AS (SELECT doc_id, t FROM staged WHERE len(t) >= 2), "
        "pairs AS MATERIALIZED (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM ("
        "SELECT doc_id, unnest(list_transform(range(1, len(t)), "
        "i -> {'w1': t[i::INTEGER], 'w2': t[i::INTEGER + 1]})) AS u FROM s2)), "
        "c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM pairs GROUP BY 1, 2), "
        "c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM pairs GROUP BY 1), "
        "v AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM ("
        "SELECT w1 AS w FROM pairs UNION ALL SELECT w2 FROM pairs)), "
        "sc AS (SELECT doc_id, -ln((c2 + 0.5) / (c1 + 0.5 * v)) AS nll "
        "FROM pairs JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v) "
        "SELECT doc_id, count(*)::BIGINT AS n_bigrams, "
        "round(avg(nll), 6) AS nll FROM sc GROUP BY doc_id"
    )


def _rocchio_oracle_sql(fb_docs: int = 3, fb_terms: int = 2, k: int = 10) -> str:
    """Two-pass Rocchio PRF replay (text.rocchio_prf_topk): the bm25
    oracle's corpus tables built once, pass-1 rank over the original
    term sets, offer-weight expansion (summed tf·idf over the feedback
    docs, 6-dp nudge, term tiebreaks, original terms anti-joined out),
    pass-2 rank over the union term sets. Both passes share the exact
    scoring expression of the text_bm25_topk oracle."""
    score = (
        "round(sum(ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * "
        "(t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / (tok / nd))))) "
        "+ 1e-12, 6)"
    )
    return (
        "WITH q(query_id, query_text) AS (VALUES "
        "(1, 'filter merge join'), (2, 'customer order line'), "
        "(3, 'window sort hash scan'), (4, 'slow query batch'), "
        "(5, 'data stream value table')), "
        "qt0 AS (SELECT DISTINCT query_id::BIGINT AS query_id, term FROM ("
        "SELECT query_id, unnest(list_filter("
        "regexp_split_to_array(lower(query_text), '\\s+'), t -> len(t) > 0)"
        ") AS term FROM q)), "
        "toks AS (SELECT doc_id, unnest(list_filter("
        "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS term "
        "FROM documents), "
        "tf AS MATERIALIZED (SELECT doc_id, term, count(*)::BIGINT AS tf "
        "FROM toks GROUP BY 1, 2), "
        "dl AS MATERIALIZED (SELECT doc_id, sum(tf)::BIGINT AS dl "
        "FROM tf GROUP BY 1), "
        "st AS (SELECT (SELECT count(*)::DOUBLE FROM documents) AS nd, "
        "(SELECT coalesce(sum(tf), 0)::DOUBLE FROM tf) AS tok), "
        "tfq0 AS MATERIALIZED (SELECT tf.* FROM tf "
        "JOIN (SELECT DISTINCT term FROM qt0) v USING (term)), "
        "dfq0 AS (SELECT term, count(*)::BIGINT AS df FROM tfq0 GROUP BY 1), "
        f"s0 AS (SELECT qt0.query_id, t.doc_id, {score} AS bm25 "
        "FROM qt0 JOIN tfq0 t USING (term) JOIN dfq0 USING (term) "
        "JOIN dl ON dl.doc_id = t.doc_id, st GROUP BY 1, 2), "
        "fb AS MATERIALIZED (SELECT query_id, doc_id FROM ("
        "SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id "
        "ORDER BY bm25 DESC, doc_id) AS rank FROM s0) "
        f"WHERE rank <= {fb_docs}), "
        "cand AS MATERIALIZED (SELECT f.query_id, t.term, t.tf "
        "FROM fb f JOIN tf t USING (doc_id)), "
        "dfc AS (SELECT term, count(*)::BIGINT AS df FROM tf "
        "JOIN (SELECT DISTINCT term FROM cand) c USING (term) GROUP BY 1), "
        "wt AS (SELECT query_id, term, "
        "round(sum(tf * ln(1.0 + (nd - df + 0.5) / (df + 0.5))) + 1e-12, 6) "
        "AS w FROM cand JOIN dfc USING (term), st GROUP BY 1, 2), "
        "ex AS (SELECT wt.query_id, wt.term, w FROM wt "
        "LEFT JOIN qt0 q0 ON wt.query_id = q0.query_id "
        "AND wt.term = q0.term WHERE q0.term IS NULL), "
        "texp AS (SELECT query_id, term FROM ("
        "SELECT query_id, term, row_number() OVER (PARTITION BY query_id "
        "ORDER BY w DESC, term) AS r FROM ex) "
        f"WHERE r <= {fb_terms}), "
        "qt1 AS MATERIALIZED (SELECT query_id, term FROM qt0 "
        "UNION SELECT query_id, term FROM texp), "
        "tfq1 AS MATERIALIZED (SELECT tf.* FROM tf "
        "JOIN (SELECT DISTINCT term FROM qt1) v USING (term)), "
        "dfq1 AS (SELECT term, count(*)::BIGINT AS df FROM tfq1 GROUP BY 1), "
        f"s1 AS (SELECT qt1.query_id, t.doc_id, {score} AS bm25 "
        "FROM qt1 JOIN tfq1 t USING (term) JOIN dfq1 USING (term) "
        "JOIN dl ON dl.doc_id = t.doc_id, st GROUP BY 1, 2) "
        "SELECT query_id, doc_id, bm25, rank::INTEGER AS rank FROM ("
        "SELECT query_id, doc_id, bm25, row_number() OVER ("
        "PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank FROM s1) "
        f"WHERE rank <= {k}"
    )


def _bitext_ivf_side_sql(
    tag: str, corpus: str, cid_col: str, queries: str, qid_col: str, kc: int
) -> str:
    """One side of the bitext IVF candidate replay: re-derives the
    corpus index (n_cells = clamp(ceil(sqrt(N)), 16, 4096), seeds = the
    n_cells smallest (h60, id) corpus vectors, rounded-nudged cosine
    argmax assignment — the sim_topk_ivf oracle machinery), probes the
    derived top-nprobe cells per query, and emits each query's top-kc
    raw-cosine candidates (neighbor-id tiebreaks; the self-filter
    mirrors ivf_topk's query_id != neighbor_id). ``corpus``/``queries``
    are CTE names exposing (id, v) as ({cid_col}, cv) / ({qid_col}, qv)."""
    h = _dk_h60(f"CAST({cid_col} AS VARCHAR)")
    cos_assign = _COS.format(a=f"c.cv", b="s.v")
    cos_probe = _COS.format(a="q.qv", b="s.v")
    cos_rank = _COS.format(a="q.qv", b="c.cv")
    return (
        f"{tag}prm AS (SELECT GREATEST(16, LEAST(4096, "
        f"CEIL(SQRT(count(*)))))::BIGINT AS n_cells FROM {corpus}), "
        f"{tag}prm2 AS (SELECT n_cells, GREATEST(1, LEAST(n_cells, "
        f"CEIL(n_cells * 0.6 / 1.5)))::BIGINT AS nprobe FROM {tag}prm), "
        f"{tag}sr AS (SELECT cv AS v, row_number() OVER (ORDER BY {h}, "
        f"{cid_col}) AS rk FROM {corpus} c), "
        f"{tag}seeds AS (SELECT rk - 1 AS cid, v FROM {tag}sr, {tag}prm2 "
        f"WHERE rk <= {tag}prm2.n_cells), "
        f"{tag}asg AS MATERIALIZED (SELECT {cid_col}, cid FROM ("
        f"SELECT c.{cid_col}, s.cid, row_number() OVER (PARTITION BY "
        f"c.{cid_col} ORDER BY round({cos_assign} + 1e-12, 6) DESC, s.cid) "
        f"AS rk FROM {corpus} c, {tag}seeds s) WHERE rk = 1), "
        f"{tag}probes AS (SELECT {qid_col}, cid FROM ("
        f"SELECT q.{qid_col}, s.cid, row_number() OVER (PARTITION BY "
        f"q.{qid_col} ORDER BY round({cos_probe} + 1e-12, 6) DESC, s.cid) "
        f"AS rk FROM {queries} q, {tag}seeds s) t, {tag}prm2 "
        f"WHERE t.rk <= {tag}prm2.nprobe), "
        f"{tag}cand AS (SELECT {qid_col}, {cid_col} FROM ("
        f"SELECT p.{qid_col}, c.{cid_col}, row_number() OVER (PARTITION BY "
        f"p.{qid_col} ORDER BY {cos_rank} DESC, c.{cid_col}) AS rk "
        f"FROM {tag}probes p JOIN {tag}asg a USING (cid) "
        f"JOIN {corpus} c ON c.{cid_col} = a.{cid_col} "
        f"JOIN {queries} q ON q.{qid_col} = p.{qid_col} "
        f"WHERE c.{cid_col} <> p.{qid_col}) WHERE rk <= {kc})"
    )


def _bitext_ivf_oracle_sql(k: int, threshold: float, kc: int) -> str:
    """bitext_mine(method='ivf', refine_iters=0, derived cells/probes)
    replay: both per-side IVF candidate sweeps re-derived end-to-end
    (_bitext_ivf_side_sql), candidate pairs unioned with the restored
    same-id pairs, 6-dp grid cosines recomputed on the pair list, then
    the UNCHANGED margin stages of the exact bitext oracle over the
    candidate set. The pair CTE is referenced 3x -> AS MATERIALIZED."""
    cos_sq = _COS.format(a="q.qv", b="e.cv")
    return (
        "WITH q AS (SELECT vec_id AS src_id, embedding::DOUBLE[] AS qv "
        "FROM embeddings WHERE vec_id % 2 = 0), "
        "e AS (SELECT vec_id AS tgt_id, embedding::DOUBLE[] AS cv "
        "FROM embeddings WHERE vec_id % 2 = 1), "
        + _bitext_ivf_side_sql("f", "e", "tgt_id", "q", "src_id", kc)
        + ", "
        # backward sweep: roles flip — tgt rows query the src-side index
        + _bitext_ivf_side_sql(
            "b",
            "(SELECT src_id, qv AS cv FROM q)",
            "src_id",
            "(SELECT tgt_id, cv AS qv FROM e)",
            "tgt_id",
            kc,
        )
        + ", "
        "cand AS (SELECT DISTINCT src_id, tgt_id FROM ("
        "SELECT src_id, tgt_id FROM fcand "
        "UNION ALL SELECT src_id, tgt_id FROM bcand "
        "UNION ALL SELECT q.src_id, e.tgt_id FROM q JOIN e "
        "ON q.src_id = e.tgt_id)), "
        "s AS MATERIALIZED (SELECT c.src_id, c.tgt_id, "
        f"round({cos_sq} + 1e-12, 6) AS c FROM cand c "
        "JOIN q USING (src_id) JOIN e USING (tgt_id)), "
        "ns AS (SELECT src_id, sum(c) AS ss FROM ("
        "SELECT src_id, c, row_number() OVER (PARTITION BY src_id "
        f"ORDER BY c DESC, tgt_id) AS r FROM s) WHERE r <= {k} "
        "GROUP BY src_id), "
        "nt AS (SELECT tgt_id, sum(c) AS ts FROM ("
        "SELECT tgt_id, c, row_number() OVER (PARTITION BY tgt_id "
        f"ORDER BY c DESC, src_id) AS r FROM s) WHERE r <= {k} "
        "GROUP BY tgt_id), "
        "m AS (SELECT s.src_id, s.tgt_id, s.c, "
        f"round({2.0 * k!r} * s.c / (ns.ss + nt.ts) + 1e-12, 6) AS margin "
        "FROM s JOIN ns USING (src_id) JOIN nt USING (tgt_id)), "
        "r AS (SELECT src_id, tgt_id, c, margin, "
        "row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, "
        "tgt_id) AS fwd, "
        "row_number() OVER (PARTITION BY tgt_id ORDER BY margin DESC, "
        "src_id) AS bwd FROM m) "
        "SELECT src_id, tgt_id, c AS cosine, margin FROM r "
        f"WHERE fwd = 1 AND bwd = 1 AND margin >= {threshold!r}"
    )


def _min_k_prob_oracle_sql(k_frac: float) -> str:
    """Min-K%-prob replay (text.min_k_prob): the lm_score bigram model
    down to per-distinct-bigram (doc, w1, w2, nb, nll6), then the
    occurrence-weighted top-m pick — m = max(1, ceil(round(k_frac·n, 6)))
    — via one cumulative window ordered (nll6 DESC, w1, w2), boundary
    bigram taken partially, averaged on the 6-dp grid with the +1e-12
    midpoint nudge. pairs/sc are MATERIALIZED (multi-referenced — the
    NOTES_r11 CTE-inlining lesson)."""
    return (
        "WITH staged AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS t "
        "FROM documents), "
        "s2 AS (SELECT doc_id, t FROM staged WHERE len(t) >= 2), "
        "pairs AS MATERIALIZED (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM ("
        "SELECT doc_id, unnest(list_transform(range(1, len(t)), "
        "i -> {'w1': t[i::INTEGER], 'w2': t[i::INTEGER + 1]})) AS u FROM s2)), "
        "pc AS MATERIALIZED (SELECT doc_id, w1, w2, count(*)::BIGINT AS nb "
        "FROM pairs GROUP BY 1, 2, 3), "
        "c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM pairs GROUP BY 1, 2), "
        "c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM pairs GROUP BY 1), "
        "v AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM ("
        "SELECT w1 AS w FROM pairs UNION ALL SELECT w2 FROM pairs)), "
        "sc AS MATERIALIZED (SELECT pc.doc_id, pc.w1, pc.w2, pc.nb, "
        "round(-ln((c2 + 0.5) / (c1 + 0.5 * v)), 6) AS nll6 "
        "FROM pc JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v), "
        "st AS (SELECT doc_id, nb, nll6, "
        "sum(nb) OVER (PARTITION BY doc_id) AS n, "
        "sum(nb) OVER (PARTITION BY doc_id ORDER BY nll6 DESC, w1, w2 "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sc), "
        "tk AS (SELECT doc_id, n, nll6, "
        f"greatest(1, ceil(round({k_frac!r} * n, 6))::BIGINT) AS m, "
        f"least(nb, greatest(1, ceil(round({k_frac!r} * n, 6))::BIGINT) "
        "- (cum - nb)) AS take FROM st) "
        "SELECT doc_id, max(n)::BIGINT AS n_bigrams, "
        "round(sum(take * nll6) / max(m) + 1e-12, 6) AS mink_nll "
        "FROM tk WHERE take > 0 GROUP BY doc_id"
    )


def _classifier_oracle_sql(d: int, iters: int, lr: float, output: str) -> str:
    """Unrolled logistic-GD replay (model.train_quality_classifier /
    classifier_score): t0 tokenizes and labels (lang = 'en'); x is the
    L1-normalized hashed bucket frequency; each iteration computes
    per-doc z against w{t} (missing buckets contribute exact 0.0 on
    both engines), sigmoid errors, per-bucket gradient sums over the
    w{t} spine (range(-1, d) — bucket -1 is the intercept), and the
    6-dp nudge-rounded weight update — the same grid quantization the
    Spark driver loop applies, so distributed-sum order noise never
    crosses an iteration boundary. output='train' emits the weight
    table; 'score' adds the per-token broadcast-lookup inference pass
    (mean bucket weight + intercept through the sigmoid, rounded)."""
    h = _dk_h60("tok")
    # Every chained CTE here is AS MATERIALIZED: w{t}/e{t}/x are each
    # referenced 2-4 times per iteration, and DuckDB inlines plain CTEs
    # once PER REFERENCE — un-materialized, the w-chain re-executes the
    # whole upstream tokenize+aggregate pipeline exponentially in iters
    # (the NOTES_r11 inlining lesson; fine at sf0.01, hours at sf5).
    parts = [
        "WITH t0 AS MATERIALIZED (SELECT doc_id, "
        "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, "
        f"{_DK_TOKS_LOWER} AS t FROM documents), "
        "docs AS MATERIALIZED (SELECT doc_id, y FROM t0 WHERE len(t) >= 1), "
        f"tk AS MATERIALIZED (SELECT doc_id, ({h}) % {d} AS bucket FROM "
        "(SELECT doc_id, unnest(t) AS tok FROM t0 WHERE len(t) >= 1)), "
        "f AS MATERIALIZED (SELECT doc_id, bucket, count(*)::DOUBLE AS c "
        "FROM tk GROUP BY 1, 2), "
        "x AS MATERIALIZED (SELECT f.doc_id, f.bucket, f.c / nt.n AS x FROM f JOIN "
        "(SELECT doc_id, sum(c) AS n FROM f GROUP BY 1) nt USING (doc_id)), "
        "nd AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM docs), "
        f"w0 AS MATERIALIZED (SELECT unnest(range(-1, {d})) AS bucket, 0.0 AS w)",
    ]
    for t in range(iters):
        parts.append(
            f", zs{t} AS MATERIALIZED (SELECT x.doc_id, sum(x.x * w.w) AS zz FROM x "
            f"JOIN w{t} w USING (bucket) GROUP BY 1)"
            f", e{t} AS MATERIALIZED (SELECT d.doc_id, "
            f"1.0 / (1.0 + exp(-(coalesce(zz, 0.0) "
            f"+ (SELECT w FROM w{t} WHERE bucket = -1)))) - d.y AS err "
            f"FROM docs d LEFT JOIN zs{t} USING (doc_id))"
            f", g{t} AS MATERIALIZED (SELECT x.bucket, sum(e.err * x.x) AS g FROM x "
            f"JOIN e{t} e USING (doc_id) GROUP BY 1)"
            f", w{t + 1} AS MATERIALIZED (SELECT bucket, round(w.w - {lr!r} * "
            f"(CASE WHEN bucket = -1 THEN (SELECT sum(err) FROM e{t}) "
            f"ELSE coalesce(g.g, 0.0) END) / (SELECT n FROM nd) + 1e-12, 6) AS w "
            f"FROM w{t} w LEFT JOIN g{t} g USING (bucket))"
        )
    if output == "train":
        parts.append(f" SELECT bucket::BIGINT AS bucket, w AS weight FROM w{iters}")
        return "".join(parts)
    parts.append(
        f", sc AS (SELECT tk.doc_id, sum(w.w) / count(*) AS z FROM tk "
        f"JOIN w{iters} w USING (bucket) GROUP BY 1)"
        f", scores AS MATERIALIZED (SELECT doc_id, round(1.0 / (1.0 + exp(-(z + "
        f"(SELECT w FROM w{iters} WHERE bucket = -1)))) + 1e-12, 6) AS score "
        "FROM sc)"
    )
    if output == "score":
        parts.append(" SELECT doc_id, score FROM scores")
    elif output == "pr_curve":
        # threshold_sweep replay: literal threshold fan-out over the
        # scored corpus, exact integer confusion counts, each metric
        # ONE division (f1 in the integer form 2tp/(2tp+fp+fn)), NULL
        # at undefined operating points
        # ::DOUBLE on every literal — bare decimals in a DuckDB list are
        # DECIMAL(3,2), which would flip the threshold column's type
        ths = ", ".join(
            f"{t!r}::DOUBLE" for t in (0.40, 0.42, 0.44, 0.46, 0.48, 0.50, 0.52)
        )
        parts.append(
            f", th AS (SELECT unnest([{ths}]) AS threshold)"
            ", jo AS MATERIALIZED (SELECT s.score, d.y FROM scores s "
            "JOIN docs d USING (doc_id))"
            ", ag AS (SELECT threshold, count(*)::BIGINT AS n, "
            "sum(CASE WHEN score >= threshold AND y >= 0.5 THEN 1 ELSE 0 END)"
            "::BIGINT AS tp, "
            "sum(CASE WHEN score >= threshold AND y < 0.5 THEN 1 ELSE 0 END)"
            "::BIGINT AS fp, "
            "sum(CASE WHEN score < threshold AND y >= 0.5 THEN 1 ELSE 0 END)"
            "::BIGINT AS fn, "
            "sum(CASE WHEN score < threshold AND y < 0.5 THEN 1 ELSE 0 END)"
            "::BIGINT AS tn FROM jo, th GROUP BY 1) "
            "SELECT threshold, n, tp, fp, fn, tn, "
            "round(CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) END "
            "+ 1e-12, 6) AS precision, "
            "round(CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn) END "
            "+ 1e-12, 6) AS recall, "
            "round(CASE WHEN 2 * tp + fp + fn > 0 THEN "
            "2.0 * tp::DOUBLE / (2 * tp + fp + fn) END + 1e-12, 6) AS f1, "
            "round((tp + tn)::DOUBLE / n::DOUBLE + 1e-12, 6) AS accuracy "
            "FROM ag"
        )
    else:  # calibration: range-binned deciles + cumulative-from-top metrics
        parts.append(
            ", mnmx AS (SELECT min(score) AS mn, max(score) AS mx FROM scores)"
            ", ag AS MATERIALIZED (SELECT (CASE WHEN mx > mn THEN "
            "least(floor(((score - mn) / (mx - mn)) * 10), 9) ELSE 0 END)::BIGINT "
            "AS bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos, "
            "sum(score) AS ssum "
            "FROM scores JOIN docs USING (doc_id), mnmx GROUP BY 1) "
            "SELECT bin, n, n_pos, round(ssum / n + 1e-12, 6) AS mean_score, "
            "round(n_pos / n::DOUBLE + 1e-12, 6) AS pos_rate, "
            "round(sum(n_pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW)::DOUBLE / sum(n) OVER (ORDER BY bin DESC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-12, 6) "
            "AS precision_at, "
            "round(sum(n_pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW)::DOUBLE / (SELECT sum(n_pos) FROM ag) "
            "+ 1e-12, 6) AS recall_at FROM ag"
        )
    return "".join(parts)


def _perplexity_buckets_oracle_sql(lo: float, hi: float) -> str:
    """CCNet bucket replay: the lm_score oracle as a subquery, joined
    with lang; per-language exact interpolated percentiles nudge-rounded
    to the same 6-dp grid as the NLLs they cut (so the ≤ comparisons
    see identical grid doubles in both engines)."""
    return (
        f"WITH m AS ({_lm_oracle_sql()}), "
        "sl AS MATERIALIZED (SELECT m.doc_id, d.lang, m.nll FROM m JOIN documents d "
        "USING (doc_id)), "
        f"thr AS (SELECT lang, round(quantile_cont(nll, {lo!r}) + 1e-12, 6) "
        f"AS tlo, round(quantile_cont(nll, {hi!r}) + 1e-12, 6) AS thi "
        "FROM sl GROUP BY lang) "
        "SELECT doc_id, lang, nll, CASE WHEN nll <= tlo THEN 'head' "
        "WHEN nll <= thi THEN 'middle' ELSE 'tail' END AS bucket "
        "FROM sl JOIN thr USING (lang)"
    )


def _quality_oracle_sql() -> str:
    from orientdb_spark.pipeline.text import STOPWORDS_EN

    stops = ", ".join(f"'{s}'" for s in STOPWORDS_EN)
    return f"""
WITH base AS (SELECT doc_id, text,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS t
  FROM documents),
m AS (SELECT doc_id,
    len(t) AS n_tokens,
    length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / greatest(len(t), 1) AS mwl,
    len(list_filter(t, x -> list_contains([{stops}], x)))::DOUBLE / greatest(len(t), 1) AS sr,
    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE /
      greatest(length(text), 1) AS pr
  FROM base)
SELECT doc_id, n_tokens::INTEGER AS n_tokens, round(mwl, 6) AS mean_word_len,
  round(sr, 6) AS stopword_ratio, round(pr, 6) AS punct_ratio,
  round(least(n_tokens::DOUBLE / 100.0, 1.0) * 0.4
      + (1.0 - least(abs(mwl - 5.0) / 5.0, 1.0)) * 0.3
      + least(sr * 5.0, 1.0) * 0.2
      + (1.0 - least(pr * 10.0, 1.0)) * 0.1 + 1e-12, 6) AS quality
FROM m
"""


_NORM_TEXT = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), "
    "'\\s+', ' ', 'g'))"
)

_COS = (
    "(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
)


def _sssp_oracle(iterations: int = 6) -> str:
    """Unrolled Bellman-Ford relaxation mirroring Graph.shortest_paths on
    the residue-weighted FK graph: d_i = min(d_{i-1} ∪ relax(d_{i-1}))."""
    steps = []
    for i in range(1, iterations + 1):
        steps.append(
            f"d{i} AS (SELECT vid, min(dist) AS dist FROM ("
            f"SELECT vid, dist FROM d{i-1} "
            f"UNION ALL SELECT e.dst, d{i-1}.dist + e.w "
            f"FROM d{i-1} JOIN e ON d{i-1}.vid = e.src) GROUP BY vid)"
        )
    return (
        "WITH e AS ("
        "SELECT 'region:' || n_regionkey AS src, 'nation:' || n_nationkey AS dst, "
        "(n_nationkey % 3 + 1)::DOUBLE AS w FROM nation "
        "UNION ALL SELECT 'nation:' || c_nationkey, 'customer:' || c_custkey, "
        "(c_custkey % 5 + 1)::DOUBLE FROM customer "
        "UNION ALL SELECT 'customer:' || o_custkey, 'orders:' || o_orderkey, "
        "(o_orderkey % 7 + 1)::DOUBLE FROM orders), "
        "d0 AS (SELECT 'region:0' AS vid, 0.0::DOUBLE AS dist), "
        + ", ".join(steps)
        + f" SELECT vid, round(dist, 6) AS dist FROM d{iterations}"
    )


def _lpa_oracle(iterations: int = 3) -> str:
    """Unrolled synchronous label propagation on the FK graph: per round,
    per-(vertex,label) vote counts over the undirected edge set, then the
    (max count, min label) winner, isolated vertices keeping their own
    vid — exactly Graph.label_propagation's deterministic sweep."""
    steps = []
    for i in range(1, iterations + 1):
        steps.append(
            f"v{i} AS (SELECT e.dst AS vid, l.label, count(*) AS n "
            f"FROM l{i-1} l JOIN e ON l.vid = e.src GROUP BY 1, 2), "
            f"w{i} AS (SELECT vid, label FROM ("
            f"SELECT vid, label, row_number() OVER ("
            f"PARTITION BY vid ORDER BY n DESC, label) AS rk FROM v{i}) WHERE rk = 1), "
            f"l{i} AS (SELECT v.vid, coalesce(w{i}.label, v.vid) AS label "
            f"FROM v LEFT JOIN w{i} ON v.vid = w{i}.vid)"
        )
    return (
        "WITH v AS ("
        "SELECT 'region:' || r_regionkey AS vid FROM region "
        "UNION ALL SELECT 'nation:' || n_nationkey FROM nation "
        "UNION ALL SELECT 'customer:' || c_custkey FROM customer "
        "UNION ALL SELECT 'orders:' || o_orderkey FROM orders), "
        "e0 AS ("
        "SELECT 'region:' || n_regionkey AS src, 'nation:' || n_nationkey AS dst "
        "FROM nation "
        "UNION ALL SELECT 'nation:' || c_nationkey, 'customer:' || c_custkey "
        "FROM customer "
        "UNION ALL SELECT 'customer:' || o_custkey, 'orders:' || o_orderkey "
        "FROM orders), "
        "e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0), "
        "l0 AS (SELECT vid, vid AS label FROM v), "
        + ", ".join(steps)
        + f" SELECT vid, label FROM l{iterations}"
    )


def _betweenness_oracle(levels: int = 6, n_sources: int = 8) -> str:
    """Unrolled Brandes (2001) on the bounded region→nation→customer
    hierarchy (max undirected distance 4 — unrolled to ``levels`` with
    empty tails contributing nothing): forward BFS levels l{t} carry
    (source, vid, σ) with σ summed over predecessors and a NOT-EXISTS
    visited guard; the backward sweep d{t} accumulates
    δ_v = Σ σ_v/σ_w·(1+δ_w) over level-(t+1) neighbors. Sources are the
    ``n_sources`` smallest-(h60, vid) vertices — the same deterministic
    sample Graph.betweenness_sampled draws. MATERIALIZED CTEs
    throughout (the HITS lesson: re-evaluated CTE chains go
    combinatorial); +1e-12 before round (the quality_score midpoint
    discipline)."""
    fwd = []
    vis_prev = "vis0"
    for t in range(1, levels + 1):
        fwd.append(
            f"l{t} AS MATERIALIZED (SELECT l.s, a.v AS vid, sum(l.sigma) AS sigma "
            f"FROM l{t-1} l JOIN adj a ON l.vid = a.u "
            f"WHERE NOT EXISTS (SELECT 1 FROM {vis_prev} w "
            f"WHERE w.s = l.s AND w.vid = a.v) "
            f"GROUP BY l.s, a.v), "
            f"vis{t} AS MATERIALIZED (SELECT s, vid FROM {vis_prev} "
            f"UNION ALL SELECT s, vid FROM l{t})"
        )
        vis_prev = f"vis{t}"
    bwd = [
        f"d{levels} AS MATERIALIZED (SELECT s, vid, sigma, 0.0 AS delta FROM l{levels})"
    ]
    for t in range(levels - 1, 0, -1):
        bwd.append(
            f"d{t} AS MATERIALIZED (SELECT l.s, l.vid, l.sigma, "
            f"coalesce(sum(l.sigma / c.wsigma * (1.0 + c.wdelta)), 0.0) AS delta "
            f"FROM l{t} l LEFT JOIN ("
            f"SELECT d.s, a.u AS vid, d.sigma AS wsigma, d.delta AS wdelta "
            f"FROM d{t+1} d JOIN adj a ON d.vid = a.v) c "
            f"ON c.s = l.s AND c.vid = l.vid "
            f"GROUP BY l.s, l.vid, l.sigma)"
        )
    all_d = " UNION ALL ".join(f"SELECT vid, delta FROM d{t}" for t in range(1, levels + 1))
    return (
        "WITH v AS ("
        "SELECT 'region:' || CAST(r_regionkey AS VARCHAR) AS vid FROM region "
        "UNION ALL SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) FROM nation "
        "UNION ALL SELECT 'customer:' || CAST(c_custkey AS VARCHAR) FROM customer "
        "WHERE c_custkey % 20 = 0), "
        "ed AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM ("
        "SELECT 'region:' || CAST(n_regionkey AS VARCHAR) AS x, "
        "'nation:' || CAST(n_nationkey AS VARCHAR) AS y FROM nation "
        "UNION ALL SELECT 'nation:' || CAST(c_nationkey AS VARCHAR), "
        "'customer:' || CAST(c_custkey AS VARCHAR) FROM customer "
        "WHERE c_custkey % 20 = 0) WHERE x <> y), "
        "adj AS (SELECT a AS u, b AS v FROM ed UNION ALL SELECT b, a FROM ed), "
        f"src AS MATERIALIZED (SELECT vid AS s FROM v ORDER BY "
        + _dk_h60("CAST(vid AS VARCHAR)")
        + f", vid LIMIT {n_sources}), "
        "l0 AS MATERIALIZED (SELECT s, s AS vid, 1.0 AS sigma FROM src), "
        "vis0 AS MATERIALIZED (SELECT s, vid FROM l0), "
        + ", ".join(fwd) + ", "
        + ", ".join(bwd) + ", "
        f"b AS (SELECT vid, sum(delta) AS bc FROM ({all_d}) GROUP BY vid) "
        "SELECT v.vid, round(coalesce(b.bc, 0.0) + 1e-12, 6) AS betweenness "
        "FROM v LEFT JOIN b ON v.vid = b.vid"
    )


def _hits_oracle(iterations: int = 4) -> str:
    """Unrolled HITS mutual recursion mirroring Graph.hits on the
    tpch_graph fixture: a_i = normalize(Σ_in h_{i-1}), h_i =
    normalize(Σ_out a_i) — the same LEFT-JOIN-back/zero-coalesce and
    end-rounding discipline as _pagerank_oracle. L1 normalization rides
    as ``sum(raw) OVER ()`` (one pass) and every step CTE is
    MATERIALIZED: scalar-subquery normalization re-evaluated the CTE
    per reference and the 4-deep mutual chain went combinatorial
    (measured: did not finish in 300 s; this form runs in ~1 s)."""
    steps = []
    for i in range(1, iterations + 1):
        steps.append(
            f"a{i} AS MATERIALIZED (SELECT vid, CASE WHEN sum(raw) OVER () > 0 "
            f"THEN raw / sum(raw) OVER () ELSE 0.0 END AS authority FROM ("
            f"SELECT v.vid, coalesce(s.m, 0) AS raw FROM v LEFT JOIN "
            f"(SELECT e.dst AS vid, sum(h{i-1}.hub) AS m FROM e "
            f"JOIN h{i-1} ON e.src = h{i-1}.vid GROUP BY e.dst) s ON v.vid = s.vid)), "
            f"h{i} AS MATERIALIZED (SELECT vid, CASE WHEN sum(raw) OVER () > 0 "
            f"THEN raw / sum(raw) OVER () ELSE 0.0 END AS hub FROM ("
            f"SELECT v.vid, coalesce(s.m, 0) AS raw FROM v LEFT JOIN "
            f"(SELECT e.src AS vid, sum(a{i}.authority) AS m FROM e "
            f"JOIN a{i} ON e.dst = a{i}.vid GROUP BY e.src) s ON v.vid = s.vid))"
        )
    return (
        "WITH v AS ("
        "SELECT 'region:' || r_regionkey AS vid FROM region "
        "UNION ALL SELECT 'nation:' || n_nationkey FROM nation "
        "UNION ALL SELECT 'customer:' || c_custkey FROM customer "
        "UNION ALL SELECT 'orders:' || o_orderkey FROM orders), "
        "e AS (SELECT DISTINCT src, dst FROM ("
        "SELECT 'region:' || n_regionkey AS src, 'nation:' || n_nationkey AS dst "
        "FROM nation "
        "UNION ALL SELECT 'nation:' || c_nationkey, 'customer:' || c_custkey "
        "FROM customer "
        "UNION ALL SELECT 'customer:' || o_custkey, 'orders:' || o_orderkey "
        "FROM orders)), "
        "h0 AS (SELECT vid, 1.0 AS hub FROM v), "
        + ", ".join(steps)
        + f" SELECT h{iterations}.vid, round(h{iterations}.hub, 8) AS hub, "
        f"round(a{iterations}.authority, 8) AS authority "
        f"FROM h{iterations} JOIN a{iterations} ON h{iterations}.vid = a{iterations}.vid"
    )


def _pagerank_oracle(
    iterations: int = 5, damping: float = 0.85, sources: list | None = None
) -> str:
    """Unrolled power-iteration CTE chain mirroring Graph.pagerank on the
    tpch_graph fixture (region→nation→customer→orders). DuckDB follows
    the Postgres rule of no aggregates in a recursive term, so the fixed
    iteration count is unrolled: r_i = (1-d)·tp(v) + d·Σ_in r_{i-1}·w,
    with the LEFT JOIN back to the vertex set standing in for the
    engine's zero-message dangling carrier. ``sources`` switches tp to
    the personalized restart vector (1/|S| on sources, 0 elsewhere);
    the uniform branch multiplies (1-d) by (1/n) — the engine's exact
    IEEE expression order, not the algebraically-equal (1-d)/n."""
    if sources:
        in_list = ", ".join(f"'{s}'" for s in sources)
        tp = f"(CASE WHEN v.vid IN ({in_list}) THEN {1.0 / len(sources)!r} ELSE 0.0 END)"
    else:
        tp = "(1.0 / (SELECT nv FROM nn))"
    steps = []
    for i in range(1, iterations + 1):
        steps.append(
            f"s{i} AS (SELECT adj.dst AS vid, sum(r{i-1}.rank * adj.w) AS m "
            f"FROM r{i-1} JOIN adj ON r{i-1}.vid = adj.src GROUP BY adj.dst), "
            f"r{i} AS (SELECT v.vid, {1.0 - damping} * {tp} + "
            f"{damping} * coalesce(s{i}.m, 0) AS rank "
            f"FROM v LEFT JOIN s{i} ON v.vid = s{i}.vid)"
        )
    return (
        "WITH v AS ("
        "SELECT 'region:' || r_regionkey AS vid FROM region "
        "UNION ALL SELECT 'nation:' || n_nationkey FROM nation "
        "UNION ALL SELECT 'customer:' || c_custkey FROM customer "
        "UNION ALL SELECT 'orders:' || o_orderkey FROM orders), "
        "nn AS (SELECT count(*)::DOUBLE AS nv FROM v), "
        "e AS ("
        "SELECT 'region:' || n_regionkey AS src, 'nation:' || n_nationkey AS dst "
        "FROM nation "
        "UNION ALL SELECT 'nation:' || c_nationkey, 'customer:' || c_custkey "
        "FROM customer "
        "UNION ALL SELECT 'customer:' || o_custkey, 'orders:' || o_orderkey "
        "FROM orders), "
        "adj AS (SELECT src, dst, 1.0 / count(*) OVER (PARTITION BY src) AS w FROM e), "
        f"r0 AS (SELECT vid, {tp.replace('v.vid', 'vid')} AS rank FROM v), "
        + ", ".join(steps)
        + f" SELECT vid, round(rank, 8) AS rank FROM r{iterations}"
    )


def oracle_sql() -> dict[str, str]:
    cos_ab = _COS.format(a="a.e", b="b.e")
    cos_qn = _COS.format(a="q.qv", b="e.ev")
    return {
        "scan_class": "SELECT * FROM region",
        "filter_projection": "SELECT n_name FROM nation WHERE n_regionkey = 2",
        "rid_point": "SELECT r_name FROM region WHERE r_regionkey = 3",
        "rid_list": "SELECT n_name FROM nation WHERE n_nationkey IN (1, 3)",
        "cluster_scan": "SELECT p_name FROM part WHERE p_size >= 48",
        "dictionary_get": "SELECT r_regionkey, r_name FROM region WHERE r_regionkey = 2",
        "json_roundtrip": "SELECT * FROM nation",
        "export_import_diff": "SELECT * FROM nation LIMIT 0",
        "json_metadata_export": (
            "SELECT '#2:' || n_nationkey AS rid, 'nation' AS cls, 0 AS ver, n_nationkey "
            "FROM nation ORDER BY n_nationkey"
        ),
        "db_save_open_roundtrip": (
            "SELECT r_regionkey, CASE WHEN r_regionkey <= 1 THEN r_name || '_S' "
            "ELSE r_name END AS r_name, CASE WHEN r_regionkey <= 1 THEN 1 ELSE 0 END AS ver "
            "FROM region ORDER BY r_regionkey"
        ),
        "polymorphic_scan": (
            "SELECT key, name FROM (SELECT r_regionkey AS key, r_name AS name FROM region "
            "UNION ALL SELECT n_nationkey, n_name FROM nation) ORDER BY name"
        ),
        "flat_record": (
            "SELECT length(text)::INTEGER AS len, substring(text, 1, 10) AS head "
            "FROM documents"
        ),
        "bytes_record": (
            "SELECT doc_id, strlen(text)::INTEGER AS n_bytes FROM documents ORDER BY doc_id"
        ),
        "embedded_struct_nav": (
            "SELECT o_orderkey, o_orderstatus AS status, round(o_totalprice, 2) AS total "
            "FROM orders WHERE o_totalprice > 5000 ORDER BY o_orderkey"
        ),
        "projection_methods": (
            "SELECT upper(c_name) AS up, substring(c_name, 1, 8) AS l8, "
            "length(c_name)::INTEGER AS len, substring(c_name, 1, 4) AS sub4, "
            "substring(c_name, 10, 1) AS c9, (instr(c_name, '1') - 1)::INTEGER AS i1, "
            "c_name || '_x' AS ax, 'y_' || c_name AS py, substring(c_name, 10) AS r9 "
            "FROM customer WHERE c_custkey <= 50"
        ),
        "projection_casts": (
            "SELECT trunc(c_acctbal)::INTEGER AS bal_int, c_custkey::VARCHAR AS key_str, "
            "trim(lower(c_name)) AS lower_name FROM customer WHERE c_custkey <= 20"
        ),
        "format_and_coercion": (
            "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym, "
            "printf('%05d', o_orderkey) AS padded FROM orders "
            "WHERE o_orderkey = 3 OR o_orderdate > TIMESTAMP '2000-06-01' ORDER BY o_orderkey"
        ),
        "record_attributes": (
            "SELECT 2 AS rc, n_nationkey::BIGINT AS rp, 'nation' AS cls, 0 AS ver, "
            "n_nationkey FROM nation WHERE n_nationkey <= 3"
        ),
        "flatten_unnest": (
            "SELECT unnest(embedding) AS embedding FROM embeddings WHERE vec_id = 1"
        ),
        "column_positional": "SELECT r_name FROM region",
        "any_wildcard": "SELECT n_name FROM nation WHERE n_nationkey = 1 OR n_regionkey = 1",
        "all_wildcard_notnull": (
            "SELECT r_name FROM region WHERE r_regionkey IS NOT NULL AND r_name IS NOT NULL"
        ),
        "like_underscore_literal": (
            "SELECT p_name FROM part WHERE p_name LIKE '%RT\\_1%' ESCAPE '\\'"
        ),
        "compound_predicates": (
            "SELECT o_orderkey FROM orders WHERE o_orderstatus <> 'F' AND "
            "o_totalprice BETWEEN 900 AND 1500 AND "
            "o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderkey NOT IN (1, 2, 3)"
        ),
        "matches_anchored": (
            "SELECT n_name FROM nation WHERE regexp_full_match(n_name, 'NATION_1[0-2]')"
        ),
        "not_prefix": "SELECT r_name FROM region WHERE NOT (r_regionkey > 2)",
        "is_null_filter": (
            "SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey"
        ),
        "map_containskey": (
            "SELECT event_id FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL "
            "AND event_id <= 20 ORDER BY event_id"
        ),
        "map_containsvalue": (
            "SELECT event_id FROM events WHERE json_extract_string(props, '$.k')::INTEGER = 42 "
            "ORDER BY event_id"
        ),
        "containsall_condition": (
            "SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
            "HAVING bool_and(l_quantity > 2) ORDER BY l_orderkey"
        ),
        "contains_value": (
            "SELECT l_orderkey FROM lineitem WHERE l_orderkey <= 2000 "
            "GROUP BY l_orderkey HAVING bool_or(l_returnflag = 'R') ORDER BY l_orderkey"
        ),
        "contains_condition": (
            "SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
            "HAVING bool_or(l_quantity > 49) ORDER BY l_orderkey"
        ),
        "containstext_fallback": (
            "SELECT doc_id FROM documents WHERE instr(lower(text), 'spark') > 0 "
            "ORDER BY doc_id"
        ),
        "containstext_indexed": (
            "SELECT doc_id, n_chars FROM documents WHERE list_contains("
            "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0), "
            "'spark') ORDER BY doc_id"
        ),
        "fulltext_dml_maintenance": (
            # post-DML ground truth: 'zeppelin' was appended to doc_id < 60,
            # then doc_id in [30, 45) deleted — a stale inverted index
            # (missed rebuild on UPDATE or DELETE) diverges from this
            "SELECT doc_id FROM documents WHERE doc_id < 30 "
            "OR (doc_id >= 45 AND doc_id < 60) ORDER BY doc_id"
        ),
        "traverse_reachability": (
            "SELECT c_name FROM customer JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' ORDER BY c_name"
        ),
        "traverse_field_restricted": (
            "SELECT c_name FROM customer JOIN nation ON c_nationkey = n_nationkey "
            "WHERE n_regionkey = 2 ORDER BY c_name"
        ),
        "select_distinct": (
            "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem "
            "ORDER BY l_returnflag, l_linestatus"
        ),
        "link_nav_2hop": (
            "SELECT o_orderkey, c_name AS cust_name, n_name AS nation_name FROM orders "
            "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
            "WHERE n_name = 'NATION_3' ORDER BY o_orderkey"
        ),
        "create_link_materialize": (
            "SELECT n_nationkey, 42 AS link_cluster, n_regionkey::BIGINT AS link_pos "
            "FROM nation ORDER BY n_nationkey"
        ),
        "fetchplan_prefetch": (
            "SELECT o_orderkey, c_name, n_name FROM orders "
            "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey"
        ),
        "tpch_q1_pricing": _Q1_ORACLE,
        "tpch_q3_shipping": (
            "SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "strftime(o_orderdate, '%Y-%m-%d') AS odate FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_orderdate < TIMESTAMP '1997-06-01' "
            "AND l_shipdate > TIMESTAMP '1997-06-01' "
            "GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d') "
            "ORDER BY revenue DESC, l_orderkey LIMIT 10"
        ),
        "tpch_q10_returns": (
            "SELECT o_custkey AS custkey, c_name, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-04-01' "
            "GROUP BY o_custkey, c_name ORDER BY revenue DESC, custkey LIMIT 20"
        ),
        "tpch_q6_forecast": (
            "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' "
            "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
        ),
        "tpch_q5_local_supplier": (
            "SELECT n_name AS nation, round(sum(l_extendedprice * (1 - l_discount)), 2) "
            "AS revenue FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "WHERE s_nationkey = c_nationkey "
            "AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01' "
            "GROUP BY n_name ORDER BY revenue DESC, nation"
        ),
        "global_aggregates": (
            "SELECT count(*) AS n, round(min(o_totalprice), 2) AS min_p, "
            "round(max(o_totalprice), 2) AS max_p, round(avg(o_totalprice), 4) AS avg_p "
            "FROM orders"
        ),
        "count_distinct_suppliers": (
            "SELECT count(DISTINCT l_suppkey) AS n_supp FROM lineitem"
        ),
        "group_having_order": (
            "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag "
            "HAVING count(*) > 100 ORDER BY cnt DESC"
        ),
        "order_multikey_topk": (
            "SELECT c_name, c_acctbal FROM customer ORDER BY c_acctbal DESC, c_name LIMIT 25"
        ),
        "range_keyset_pagination": (
            "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey BETWEEN 5 AND 14"
        ),
        "window_rank_topn": (
            "SELECT o_custkey, o_orderkey, o_totalprice, "
            "row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey)::INTEGER AS rnk "
            "FROM orders QUALIFY rnk <= 3"
        ),
        "set_operations": (
            "WITH a AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer "
            "WHERE c_acctbal > 9500), "
            "b AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier "
            "WHERE s_acctbal > 9500) "
            "SELECT 'union' AS op, nationkey FROM (SELECT * FROM a UNION SELECT * FROM b) "
            "UNION ALL SELECT 'intersect', nationkey FROM "
            "(SELECT * FROM a INTERSECT SELECT * FROM b) "
            "UNION ALL SELECT 'except', nationkey FROM (SELECT * FROM a EXCEPT SELECT * FROM b)"
        ),
        "dml_insert_append": (
            "SELECT * FROM nation UNION ALL SELECT 99, 'ATLANTIS', 0"
        ),
        "dml_update_rewrite": (
            "SELECT r_regionkey, CASE WHEN r_regionkey <= 2 THEN r_name || '_EU' "
            "ELSE r_name END AS r_name FROM region"
        ),
        "dml_delete_filter": (
            "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus <> 'F'"
        ),
        "update_add_collection": (
            "SELECT r_regionkey, CASE WHEN r_regionkey <= 2 THEN 'a,b' ELSE 'a' END AS tags "
            "FROM region"
        ),
        "update_put_map": (
            "SELECT r_regionkey, 'k1' AS key, 1 AS value FROM region "
            "UNION ALL SELECT r_regionkey, 'k2', 5 FROM region WHERE r_regionkey >= 3"
        ),
        "update_remove_ops": (
            "SELECT r_regionkey, CASE WHEN r_regionkey = 0 THEN 'b' ELSE 'a,b' END AS tags, "
            "CASE WHEN r_regionkey = 1 THEN NULL ELSE 'x' END AS extra FROM region"
        ),
        "ddl_schema_evolution": (
            "SELECT * FROM (VALUES ('alpha', 10), ('beta', 20)) AS t(name, score) ORDER BY name"
        ),
        "ddl_truncate": "SELECT 0::BIGINT AS n",
        # effect-query literals (r7): the expected aftermath tables
        "ddl_remove_property_effect": (
            "SELECT * FROM (VALUES ('a'), ('b')) AS t(name) ORDER BY name"
        ),
        "ddl_remove_index_effect": "SELECT 'A' AS code, 2::BIGINT AS n",
        "security_grant_effect": (
            "SELECT * FROM (VALUES "
            "('read_granted_class', 'allowed'), "
            "('read_other_class', 'denied:READ'), "
            "('insert_granted_class', 'denied:CREATE'), "
            "('read_after_revoke', 'denied:READ')) AS t(probe, outcome)"
        ),
        "dictionary_named_roots": (
            "SELECT 'root:apac' AS root, r_regionkey, r_name FROM region "
            "WHERE r_regionkey = 2 UNION ALL "
            "SELECT 'root:emea', r_regionkey, r_name FROM region "
            "WHERE r_regionkey = 3"
        ),
        "async_query_abort_effect": (
            "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3"
        ),
        "custom_operator_where": (
            "SELECT n_name FROM nation "
            "WHERE position('tion_1' IN lower(n_name)) > 0 ORDER BY n_name"
        ),
        "native_fluent_query": (
            "SELECT n_nationkey, n_name FROM nation "
            "WHERE n_nationkey BETWEEN 3 AND 7 AND n_name <> 'NATION_5'"
        ),
        "unique_index_violation": (
            "SELECT * FROM (VALUES ('A', 1::BIGINT), ('B', 2::BIGINT)) "
            "AS t(code, v) ORDER BY code"
        ),
        "schema_mixed_insert": (
            "SELECT * FROM (VALUES ('plain', NULL, NULL, NULL), "
            "('rich', 'Rico', 'RICO', 33)) "
            "AS t(name, nickname, nick_upper, age_n) ORDER BY name"
        ),
        "dictionary_keyset": (
            "SELECT * FROM (VALUES ('k1', 'region', 0::BIGINT), ('k3', 'nation', 5::BIGINT)) "
            "AS t(key, cls, pos) ORDER BY key"
        ),
        "csv_positional_roundtrip": (
            "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
        ),
        "custom_udf_bigger": (
            "SELECT o_orderkey, greatest(o_totalprice, 1000) AS big FROM orders "
            "WHERE o_orderkey <= 200 ORDER BY o_orderkey"
        ),
        "window_running_frames": (
            "SELECT o_custkey, o_orderkey, "
            "round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey "
            "ROWS UNBOUNDED PRECEDING), 2) AS running_total, "
            "round(lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 2) "
            "AS prev_price, "
            "round(lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 2) "
            "AS next_price FROM orders"
        ),
        "rollup_pricing": (
            "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
            "round(sum(l_quantity), 2) AS sum_qty FROM lineitem "
            "GROUP BY ROLLUP (l_returnflag, l_linestatus)"
        ),
        "graph_delete_cascade": (
            "SELECT 'region:' || n_regionkey AS vid, count(*) AS out_degree FROM nation "
            "WHERE n_nationkey <> 3 GROUP BY n_regionkey ORDER BY vid"
        ),
        "geo_distance_filter": (
            "SELECT c_custkey, round(2 * atan2(sqrt(a), sqrt(-a + 1)) * 6371.0, 4) AS dist_km "
            "FROM (SELECT c_custkey, "
            "sin(radians(45.0 - c_acctbal / 1000) / 2) * sin(radians(45.0 - c_acctbal / 1000) / 2) "
            "+ cos(radians(c_acctbal / 1000)) * cos(radians(45.0)) * "
            "sin(radians(10.0 - c_custkey % 90) / 2) * sin(radians(10.0 - c_custkey % 90) / 2) "
            "AS a FROM customer WHERE c_custkey <= 100) t"
        ),
        "graph_out_degree": (
            "SELECT 'customer:' || o_custkey AS vid, count(*) AS out_degree "
            "FROM orders GROUP BY o_custkey"
        ),
        "graph_bfs_levels": (
            "SELECT 0 AS depth, 1::BIGINT AS n_vertices "
            "UNION ALL SELECT 1, count(*) FROM nation WHERE n_regionkey = 0 "
            "UNION ALL SELECT 2, count(*) FROM customer JOIN nation "
            "ON c_nationkey = n_nationkey WHERE n_regionkey = 0 "
            "UNION ALL SELECT 3, count(*) FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 0"
        ),
        "graph_cc_incremental": (
            # full-graph ground truth: incremental must land exactly here
            "WITH vids AS ("
            "SELECT r_regionkey AS rk, 'region:' || r_regionkey AS vid FROM region "
            "UNION ALL SELECT n_regionkey, 'nation:' || n_nationkey FROM nation "
            "UNION ALL SELECT n_regionkey, 'customer:' || c_custkey FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey "
            "UNION ALL SELECT n_regionkey, 'orders:' || o_orderkey FROM orders "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey) "
            "SELECT min(vid) AS component, count(*) AS n_vertices FROM vids GROUP BY rk"
        ),
        "graph_connected_components": (
            "WITH vids AS ("
            "SELECT r_regionkey AS rk, 'region:' || r_regionkey AS vid FROM region "
            "UNION ALL SELECT n_regionkey, 'nation:' || n_nationkey FROM nation "
            "UNION ALL SELECT n_regionkey, 'customer:' || c_custkey FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey "
            "UNION ALL SELECT n_regionkey, 'orders:' || o_orderkey FROM orders "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey) "
            "SELECT min(vid) AS component, count(*) AS n_vertices FROM vids GROUP BY rk"
        ),
        "event_json_props": (
            "SELECT event_type, count(json_extract(props, '$.k'))::BIGINT AS n_with_k, "
            "sum(json_extract(props, '$.k')::INTEGER)::BIGINT AS sum_k, "
            "min(json_extract(props, '$.k')::INTEGER) AS min_k, "
            "max(json_extract(props, '$.k')::INTEGER) AS max_k "
            "FROM events GROUP BY event_type"
        ),
        "event_hierarchical_rollup": (
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
        ),
        "event_gap_fill": (
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
        ),
        "event_scd2": (
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
        ),
        "event_sequence_mining": (
            "WITH s AS (SELECT user_id, list(event_type ORDER BY ts) AS sq "
            "FROM events GROUP BY user_id), "
            "g AS (SELECT array_to_string(sq[i::INTEGER : i::INTEGER + 2], '>') "
            "AS path FROM (SELECT sq, unnest(range(1, len(sq) - 1)) AS i "
            "FROM s WHERE len(sq) >= 3)), "
            "c AS (SELECT path, count(*)::BIGINT AS n FROM g GROUP BY path), "
            "r AS (SELECT path, n, row_number() OVER (ORDER BY n DESC, path) "
            "AS rank FROM c) SELECT rank::INTEGER AS rank, path, n FROM r "
            "WHERE rank <= 20"
        ),
        "docs_cube_rollup": (
            "SELECT source, lang, count(*)::BIGINT AS n_docs, "
            "sum(n_chars)::BIGINT AS total_chars "
            "FROM documents GROUP BY CUBE (source, lang)"
        ),
        "event_transitions": (
            "WITH p AS (SELECT event_type AS from_type, "
            "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS to_type "
            "FROM events), "
            "c AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM p "
            "WHERE to_type IS NOT NULL GROUP BY 1, 2) "
            "SELECT from_type, to_type, n, "
            "round(n / (sum(n) OVER (PARTITION BY from_type)), 6) AS p FROM c"
        ),
        "profile_correlations": (
            "SELECT round(corr(l_quantity, l_extendedprice), 6) "
            "AS corr_quantity_extendedprice, "
            "round(corr(l_quantity, l_discount), 6) AS corr_quantity_discount, "
            "round(corr(l_quantity, l_tax), 6) AS corr_quantity_tax, "
            "round(corr(l_extendedprice, l_discount), 6) "
            "AS corr_extendedprice_discount, "
            "round(corr(l_extendedprice, l_tax), 6) AS corr_extendedprice_tax, "
            "round(corr(l_discount, l_tax), 6) AS corr_discount_tax "
            "FROM lineitem"
        ),
        "event_pivot": (
            "SELECT user_id, "
            "coalesce(round(sum(value) FILTER (event_type = 'click'), 4), 0.0) "
            "AS sum_click, "
            "coalesce(round(sum(value) FILTER (event_type = 'view'), 4), 0.0) "
            "AS sum_view, "
            "coalesce(round(sum(value) FILTER (event_type = 'purchase'), 4), 0.0) "
            "AS sum_purchase "
            "FROM events WHERE event_type IN ('click', 'view', 'purchase') "
            "GROUP BY user_id"
        ),
        "event_rolling_avg": (
            "SELECT event_id, user_id, count(*) OVER w AS rolling_n, "
            "round(sum(value) OVER w, 4) AS rolling_sum, "
            "round(avg(value) OVER w, 6) AS rolling_avg "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) "
            "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"
        ),
        "event_time_weighted_avg": (
            "WITH g AS (SELECT user_id, value AS v, "
            "lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) "
            "- epoch_us(ts) AS w FROM events) "
            "SELECT user_id, count(*)::BIGINT AS n_samples, "
            "coalesce(sum(w), 0)::BIGINT AS span_us, "
            "round(CASE WHEN coalesce(sum(w), 0) = 0 THEN avg(v) "
            "ELSE sum(v * w) / sum(w) END, 6) AS twa "
            "FROM g GROUP BY user_id"
        ),
        "event_interval_overlap": (
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
        ),
        "event_anomaly_zscore": (
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
        ),
        "profile_iqr_outliers": (
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
        ),
        "storage_snapshot_diff": (
            "WITH old AS (SELECT o_orderkey AS k, o_orderstatus AS st, "
            "o_totalprice AS tp FROM orders) "
            "SELECT k AS o_orderkey, 'delete' AS change, "
            "NULL::VARCHAR AS o_orderstatus, NULL::DOUBLE AS o_totalprice "
            "FROM old WHERE k % 13 = 0 "
            "UNION ALL SELECT k, 'update', 'U', round(tp + 100.0, 2) "
            "FROM old WHERE k % 13 <> 0 AND k % 10 = 0 "
            "UNION ALL SELECT k + 1000000000, 'insert', 'N', 1.0 "
            "FROM old WHERE k % 7 = 0"
        ),
        "storage_merge_upsert": (
            "WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders), "
            "s AS (SELECT o_orderkey, 'U' AS o_orderstatus, "
            "o_totalprice + 100.0 AS o_totalprice FROM orders "
            "WHERE o_orderkey % 10 = 0 "
            "UNION ALL SELECT o_orderkey + 1000000000, 'N', 1.0 FROM orders "
            "WHERE o_orderkey % 7 = 0) "
            "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice "
            "FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s) "
            "UNION ALL SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) FROM s"
        ),
        "event_cohort_retention": (
            "WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw "
            "FROM events GROUP BY user_id) "
            "SELECT cw::DATE AS cohort_week, "
            "(datediff('day', cw::DATE, date_trunc('week', e.ts)::DATE) / 7)::INTEGER "
            "AS week_offset, count(DISTINCT e.user_id)::BIGINT AS n_active "
            "FROM events e JOIN f ON e.user_id = f.user_id GROUP BY 1, 2"
        ),
        "integrity_orphans": (
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
        ),
        "hll_distinct_merge": (
            # agreement-gate shape: the Spark side emits hll_within_bound
            # = |HLL estimate - exact| <= 3sigma analytic envelope; TRUE
            # literals here mean a hash match PROVES the sketches held
            "SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS exact_distinct, "
            "TRUE AS hll_within_bound FROM lineitem GROUP BY l_returnflag "
            "UNION ALL SELECT '__total__', count(DISTINCT l_partkey)::BIGINT, TRUE "
            "FROM lineitem"
        ),
        "graph_effective_diameter": (
            # exact BFS neighborhood function on the bounded hierarchy
            # subgraph: walks of length <= 6 (UNION-deduped), min step
            # count per (src, dst) = distance, N(t) = pairs within <= t.
            # The Spark side's HLL balls are sparse-mode-exact there, so
            # the two curves must agree bit-for-bit.
            "WITH RECURSIVE "
            "verts AS (SELECT 'region:' || CAST(r_regionkey AS VARCHAR) AS vid FROM region "
            "UNION ALL SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) FROM nation "
            "UNION ALL SELECT 'customer:' || CAST(c_custkey AS VARCHAR) FROM customer "
            "WHERE c_custkey % 20 = 0), "
            "ed AS (SELECT 'region:' || CAST(n_regionkey AS VARCHAR) AS a, "
            "'nation:' || CAST(n_nationkey AS VARCHAR) AS b FROM nation "
            "UNION ALL SELECT 'nation:' || CAST(c_nationkey AS VARCHAR), "
            "'customer:' || CAST(c_custkey AS VARCHAR) FROM customer "
            "WHERE c_custkey % 20 = 0), "
            "adj AS (SELECT a AS vid, b AS nbr FROM ed UNION ALL SELECT b, a FROM ed), "
            "walks(src, dst, t) AS (SELECT vid, vid, 0 FROM verts "
            "UNION SELECT w.src, a.nbr, w.t + 1 FROM walks w "
            "JOIN adj a ON w.dst = a.vid WHERE w.t < 6), "
            "dist AS (SELECT src, dst, min(t) AS d FROM walks GROUP BY src, dst), "
            "n0 AS (SELECT count(*) AS n FROM verts) "
            "SELECT t.range::INT AS t, "
            "(SELECT count(*) FROM dist WHERE d <= t.range)::BIGINT AS reachable_pairs, "
            "round((SELECT count(*) FROM dist WHERE d <= t.range) / "
            "(SELECT n::DOUBLE FROM n0), 6) AS avg_ball_size "
            "FROM range(0, 7) t ORDER BY t"
        ),
        "salted_skew_aggregate": (
            "SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty, "
            "count(l_orderkey)::BIGINT AS n_items, "
            "round(min(l_extendedprice), 2) AS min_price, "
            "round(max(l_extendedprice), 2) AS max_price "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "pipeline_entity_resolution": (
            "WITH RECURSIVE c AS (SELECT p_partkey AS id, "
            "p_name || ' #' || p_partkey AS s FROM part "
            "UNION ALL SELECT p_partkey + 10000000, "
            "'x' || substring(p_name, 2) || ' #' || p_partkey "
            "FROM part WHERE p_partkey % 5 = 0), "
            "pairs AS (SELECT a.id AS id_a, b.id AS id_b FROM c a JOIN c b "
            "ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 1 "
            "AND levenshtein(a.s, b.s) <= 1), "
            "e AS (SELECT id_a AS a, id_b AS b FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach AS (SELECT a, b FROM e "
            "UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a), "
            "comp AS (SELECT a AS id, least(a, min(b)) AS cid "
            "FROM reach GROUP BY a) "
            "SELECT c.id AS doc_id, coalesce(comp.cid, c.id) AS entity_id, "
            "count(*) OVER (PARTITION BY coalesce(comp.cid, c.id))::BIGINT "
            "AS n_members FROM c LEFT JOIN comp ON comp.id = c.id"
        ),
        "quality_expectations": (
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
        ),
        "quality_fd_check": (
            "SELECT l_orderkey, count(DISTINCT coalesce(l_returnflag, chr(0)))::BIGINT "
            "AS n_rhs_values FROM lineitem GROUP BY l_orderkey "
            "HAVING count(DISTINCT coalesce(l_returnflag, chr(0))) > 1"
        ),
        "quality_table_digest": (
            "WITH c AS (SELECT concat_ws('|', "
            "coalesce(replace(replace(n_nationkey::VARCHAR, '\\', '\\\\'), '|', '\\|'), '\\N'), "
            "coalesce(replace(replace(n_name, '\\', '\\\\'), '|', '\\|'), '\\N'), "
            "coalesce(replace(replace(n_regionkey::VARCHAR, '\\', '\\\\'), '|', '\\|'), '\\N')) AS canon "
            "FROM nation) "
            "SELECT count(*)::BIGINT AS n_rows, "
            "(sum((('0x' || substring(md5(canon), 1, 15))::UBIGINT::BIGINT)::HUGEINT) % 1152921504606846976)::BIGINT AS digest FROM c"
        ),
        "scale_quantile_sketch": (
            "WITH r AS (SELECT event_type, value, "
            "row_number() OVER (PARTITION BY event_type ORDER BY "
            "(('0x' || substring(md5('42:' || event_id), 1, 15))::UBIGINT::BIGINT), event_id) "
            "AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM events) "
            "SELECT event_type, max(n)::BIGINT AS n_rows, "
            "round(quantile_cont(value, 0.5) FILTER (rn <= 128), 6) AS p50_est, "
            "round(quantile_cont(value, 0.95) FILTER (rn <= 128), 6) AS p95_est "
            "FROM r GROUP BY event_type"
        ),
        "scale_skew_report": (
            """(WITH c1 AS (SELECT l_returnflag::VARCHAR AS v, count(*)::BIGINT AS n FROM lineitem GROUP BY 1) SELECT 'l_returnflag' AS "column", sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_distinct, (SELECT min(v) FROM c1 WHERE n = (SELECT max(n) FROM c1)) AS top1_value, max(n)::BIGINT AS top1_count, round(max(n)::DOUBLE / sum(n), 6) AS top1_share FROM c1) UNION ALL (WITH c1 AS (SELECT l_suppkey::VARCHAR AS v, count(*)::BIGINT AS n FROM lineitem GROUP BY 1) SELECT 'l_suppkey' AS "column", sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_distinct, (SELECT min(v) FROM c1 WHERE n = (SELECT max(n) FROM c1)) AS top1_value, max(n)::BIGINT AS top1_count, round(max(n)::DOUBLE / sum(n), 6) AS top1_share FROM c1) UNION ALL (WITH c1 AS (SELECT l_partkey::VARCHAR AS v, count(*)::BIGINT AS n FROM lineitem GROUP BY 1) SELECT 'l_partkey' AS "column", sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_distinct, (SELECT min(v) FROM c1 WHERE n = (SELECT max(n) FROM c1)) AS top1_value, max(n)::BIGINT AS top1_count, round(max(n)::DOUBLE / sum(n), 6) AS top1_share FROM c1)"""
        ),
        "cms_join_size_estimate": (
            "SELECT count(*)::BIGINT AS est_join_size FROM events a "
            "JOIN (SELECT event_type FROM events WHERE value > 100) b "
            "ON a.event_type = b.event_type"
        ),
        "cms_event_type_counts": (
            # exact truth: collision-free sketch => estimate == count
            "SELECT event_type, count(*)::BIGINT AS est_count "
            "FROM events GROUP BY event_type"
        ),
        "bloom_prefilter_join": (
            # the PLAIN join: equality proves the Bloom pre-filter is a
            # pure semi-join reduction (no false negatives, re-checked
            # false positives)
            "SELECT l_returnflag, count(*)::BIGINT AS n_items, "
            "round(sum(l_extendedprice), 2) AS sum_price "
            "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE s_nationkey = 3 GROUP BY l_returnflag"
        ),
        "graph_triangle_count": (
            "WITH raw AS (SELECT 'order:' || l_orderkey AS s, "
            "'part:' || l_partkey AS t FROM lineitem "
            "UNION ALL SELECT 'order:' || l_orderkey, 'supp:' || l_suppkey FROM lineitem "
            "UNION ALL SELECT 'part:' || l_partkey, 'supp:' || l_suppkey FROM lineitem), "
            "e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b "
            "FROM raw WHERE s <> t), "
            "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z "
            "FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b "
            "JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b), "
            "c AS (SELECT x AS vid FROM tri UNION ALL SELECT y FROM tri "
            "UNION ALL SELECT z FROM tri) "
            "SELECT vid, count(*)::BIGINT AS n_triangles FROM c GROUP BY vid"
        ),
        "graph_clustering_coeff": (
            "WITH raw AS (SELECT 'order:' || l_orderkey AS s, "
            "'part:' || l_partkey AS t FROM lineitem "
            "UNION ALL SELECT 'order:' || l_orderkey, 'supp:' || l_suppkey FROM lineitem "
            "UNION ALL SELECT 'part:' || l_partkey, 'supp:' || l_suppkey FROM lineitem), "
            "e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b "
            "FROM raw WHERE s <> t), "
            "deg AS (SELECT vid, count(*)::BIGINT AS degree FROM "
            "(SELECT a AS vid FROM e UNION ALL SELECT b FROM e) GROUP BY vid), "
            "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z "
            "FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b "
            "JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b), "
            "c AS (SELECT x AS vid FROM tri UNION ALL SELECT y FROM tri "
            "UNION ALL SELECT z FROM tri), "
            "t AS (SELECT vid, count(*)::BIGINT AS n_triangles FROM c GROUP BY vid) "
            "SELECT d.vid, d.degree, coalesce(t.n_triangles, 0) AS n_triangles, "
            "round(CASE WHEN d.degree >= 2 THEN "
            "2.0 * coalesce(t.n_triangles, 0) / (d.degree * (d.degree - 1)) "
            "ELSE 0.0 END, 6) AS coefficient "
            "FROM deg d LEFT JOIN t USING (vid)"
        ),
        "graph_random_walks": (
            "WITH RECURSIVE e AS (SELECT DISTINCT "
            "least('customer:' || c_custkey, 'nation:' || c_nationkey) AS a, "
            "greatest('customer:' || c_custkey, 'nation:' || c_nationkey) AS b "
            "FROM customer), "
            "adj AS (SELECT vid, list_sort(list(nbr)) AS nbrs FROM "
            "(SELECT a AS vid, b AS nbr FROM e UNION ALL SELECT b, a FROM e) "
            "GROUP BY vid), "
            "v AS (SELECT DISTINCT vid FROM "
            "(SELECT a AS vid FROM e UNION ALL SELECT b FROM e)), "
            "walk AS (SELECT vid || '#0' AS wid, vid AS start, vid AS cur, "
            "[vid] AS path, 0 AS t FROM v "
            "UNION ALL SELECT w.wid, w.start, "
            "CASE WHEN a.nbrs IS NULL THEN NULL "
            "ELSE a.nbrs[(1 + (('0x' || substring(md5('42:' || w.wid || ':' || w.t + 1), 1, 15))::UBIGINT::BIGINT % len(a.nbrs)))::INT] END, "
            "CASE WHEN a.nbrs IS NULL THEN w.path "
            "ELSE list_append(w.path, "
            "a.nbrs[(1 + (('0x' || substring(md5('42:' || w.wid || ':' || w.t + 1), 1, 15))::UBIGINT::BIGINT % len(a.nbrs)))::INT]) END, w.t + 1 "
            "FROM walk w LEFT JOIN adj a ON a.vid = w.cur WHERE w.t < 4) "
            "SELECT wid AS walk_id, start, "
            "array_to_string(path, '>') AS path_str FROM walk WHERE t = 4"
        ),
        "graph_walk_skipgrams": (
            "WITH RECURSIVE e AS (SELECT DISTINCT "
            "least('customer:' || c_custkey, 'nation:' || c_nationkey) AS a, "
            "greatest('customer:' || c_custkey, 'nation:' || c_nationkey) AS b "
            "FROM customer), "
            "adj AS (SELECT vid, list_sort(list(nbr)) AS nbrs FROM "
            "(SELECT a AS vid, b AS nbr FROM e UNION ALL SELECT b, a FROM e) "
            "GROUP BY vid), "
            "v AS (SELECT DISTINCT vid FROM "
            "(SELECT a AS vid FROM e UNION ALL SELECT b FROM e)), "
            "walk AS (SELECT vid || '#0' AS wid, vid AS start, vid AS cur, "
            "[vid] AS path, 0 AS t FROM v "
            "UNION ALL SELECT w.wid, w.start, "
            "CASE WHEN a.nbrs IS NULL THEN NULL "
            "ELSE a.nbrs[(1 + (('0x' || substring(md5('42:' || w.wid || ':' || w.t + 1), 1, 15))::UBIGINT::BIGINT % len(a.nbrs)))::INT] END, "
            "CASE WHEN a.nbrs IS NULL THEN w.path "
            "ELSE list_append(w.path, "
            "a.nbrs[(1 + (('0x' || substring(md5('42:' || w.wid || ':' || w.t + 1), 1, 15))::UBIGINT::BIGINT % len(a.nbrs)))::INT]) END, w.t + 1 "
            "FROM walk w LEFT JOIN adj a ON a.vid = w.cur WHERE w.t < 4), "
            "pos AS (SELECT path, i FROM (SELECT path FROM walk WHERE t = 4), "
            "(VALUES (1), (2), (3), (4), (5)) g(i) WHERE i <= len(path)), "
            "pairs AS (SELECT path[i] AS center, path[i + 1] AS context, "
            "1 AS distance FROM pos WHERE i + 1 <= len(path) "
            "UNION ALL SELECT path[i], path[i + 2], 2 FROM pos "
            "WHERE i + 2 <= len(path)), "
            "sym AS (SELECT * FROM pairs "
            "UNION ALL SELECT context, center, distance FROM pairs) "
            "SELECT center, context, distance, count(*)::BIGINT AS n_pairs "
            "FROM sym GROUP BY center, context, distance"
        ),
        "graph_topological_levels": (
            "WITH RECURSIVE e AS ("
            "SELECT 'region:' || n_regionkey AS src, 'nation:' || n_nationkey AS dst "
            "FROM nation "
            "UNION ALL SELECT 'nation:' || c_nationkey, 'customer:' || c_custkey "
            "FROM customer "
            "UNION ALL SELECT 'customer:' || o_custkey, 'orders:' || o_orderkey "
            "FROM orders), "
            "v AS (SELECT DISTINCT vid FROM "
            "(SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)), "
            "roots AS (SELECT vid FROM v WHERE vid NOT IN (SELECT dst FROM e)), "
            "p AS (SELECT vid, 0 AS d FROM roots "
            "UNION ALL SELECT e.dst, p.d + 1 FROM p JOIN e ON e.src = p.vid), "
            "lv AS (SELECT vid, max(d)::INTEGER AS level FROM p GROUP BY vid) "
            "SELECT vid, level, false AS is_cyclic FROM lv"
        ),
        "graph_link_prediction": (
            "WITH e AS (SELECT DISTINCT "
            "least('order:' || l_orderkey, 'part:' || l_partkey) AS a, "
            "greatest('order:' || l_orderkey, 'part:' || l_partkey) AS b "
            "FROM lineitem), "
            "adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e), "
            "d AS (SELECT w, count(*)::BIGINT AS dw FROM adj GROUP BY w), "
            "wed AS (SELECT e1.n AS id_a, e2.n AS id_b, d.dw "
            "FROM adj e1 JOIN adj e2 ON e1.w = e2.w AND e1.n < e2.n "
            "JOIN d ON d.w = e1.w), "
            "sc AS (SELECT id_a, id_b, count(*)::BIGINT AS common_neighbors, "
            "round(sum(1.0 / ln(dw)), 6) AS aa_score "
            "FROM wed GROUP BY id_a, id_b HAVING count(*) >= 2) "
            "SELECT sc.* FROM sc LEFT JOIN e "
            "ON e.a = sc.id_a AND e.b = sc.id_b WHERE e.a IS NULL"
        ),
        "graph_neighbor_features": (
            "WITH e AS (SELECT 'customer:' || c_custkey AS c, "
            "'nation:' || c_nationkey AS n, c_acctbal FROM customer), "
            "nav AS (SELECT n, avg(c_acctbal) AS av, count(*)::BIGINT AS deg "
            "FROM e GROUP BY n) "
            "SELECT c AS vid, 1::BIGINT AS n_neighbors, round(av, 6) AS feature "
            "FROM e JOIN nav USING (n) "
            "UNION ALL SELECT n, deg, NULL FROM nav"
        ),
        "event_window_agg": (
            "SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type, "
            "count(*) AS n_events, round(sum(value), 4) AS total_value "
            "FROM events GROUP BY 1, 2"
        ),
        "event_asof_join": (
            "SELECT e.event_id, e.user_id, o.event_id AS prev_click_id, "
            "round(o.value, 4) AS prev_click_value "
            "FROM (SELECT * FROM events WHERE event_type = 'error') e "
            "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') o "
            "ON e.user_id = o.user_id AND e.ts >= o.ts"
        ),
        "event_range_join": (
            "SELECT e.event_id, e.user_id, count(c.ts)::BIGINT AS n_in_window, "
            "round(coalesce(sum(c.value), 0), 4) AS sum_value "
            "FROM (SELECT * FROM events WHERE event_type = 'error') e "
            "LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c "
            "ON e.user_id = c.user_id AND c.ts > e.ts - INTERVAL 30 MINUTE "
            "AND c.ts <= e.ts GROUP BY 1, 2"
        ),
        "event_heavy_hitters_stream": (
            # exactness-regime replay: space-saving with capacity >>
            # distinct IS the exact count table (err 0), so the summary
            # reduces to GROUP BY + per-group rank with item tiebreaks
            "WITH c AS (SELECT event_type, user_id, count(*)::BIGINT AS n "
            "FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2) "
            "SELECT event_type, user_id AS item, n AS est_count, "
            "0::BIGINT AS max_err, rank::INTEGER AS rank FROM ("
            "SELECT *, row_number() OVER (PARTITION BY event_type "
            "ORDER BY n DESC, user_id) AS rank FROM c) WHERE rank <= 10"
        ),
        "event_silence_audit": (
            "WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events), "
            "pk AS (SELECT user_id, max(epoch_us(ts)) AS lu FROM events "
            "GROUP BY user_id) "
            "SELECT user_id, "
            "date_trunc('second', make_timestamp(lu)) AS last_seen, "
            "date_trunc('second', make_timestamp(lu + 43200000000)) AS deadline "
            "FROM pk, mx WHERE mx.m - pk.lu > 43200000000"
        ),
        "event_slo_burn": (
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
        ),
        "event_anomaly_mad": (
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
        ),
        "event_attribution": (
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
        ),
        "event_interarrival_stats": (
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
        ),
        "event_seasonal_baseline": (
            "WITH p AS (SELECT event_type, hour(ts) AS season_slot, "
            "avg(value) AS sm FROM events GROUP BY 1, 2) "
            "SELECT e.event_id, e.event_type, hour(e.ts) AS season_slot, "
            "round(p.sm, 6) AS seasonal_mean, "
            "round(e.value - p.sm, 6) AS residual "
            "FROM events e JOIN p ON p.event_type = e.event_type "
            "AND p.season_slot = hour(e.ts)"
        ),
        "text_vocab_growth": (
            "WITH t AS (SELECT source, unnest(list_filter("
            "regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)) AS tok "
            "FROM documents), "
            "c AS (SELECT source, tok, count(*)::BIGINT AS n FROM t GROUP BY 1, 2) "
            "SELECT source, sum(n)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types, "
            "sum((n = 1)::INT)::BIGINT AS n_hapax, "
            "round(count(*)::DOUBLE / sum(n), 6) AS ttr, "
            "round(sum((n = 1)::INT)::DOUBLE / count(*), 6) AS hapax_ratio "
            "FROM c GROUP BY source"
        ),
        "event_m4_downsample": (
            "SELECT user_id, "
            "(epoch_us(ts) // 86400000000) * 86400000000 AS bucket_start_us, "
            "count(*)::BIGINT AS n_points, "
            "round(arg_min(value, epoch_us(ts)), 6) AS v_first, "
            "round(arg_max(value, epoch_us(ts)), 6) AS v_last, "
            "round(min(value), 6) AS v_min, round(max(value), 6) AS v_max "
            "FROM events GROUP BY user_id, bucket_start_us"
        ),
        "event_funnel_rates": (
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
        ),
        "event_funnel": (
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
        ),
        "event_value_quantiles": (
            "SELECT event_type, round(quantile_cont(value, 0.25), 6) AS p25, "
            "round(quantile_cont(value, 0.5), 6) AS p50, "
            "round(quantile_cont(value, 0.75), 6) AS p75, "
            "round(quantile_cont(value, 0.95), 6) AS p95 "
            "FROM events GROUP BY event_type"
        ),
        "profile_events": (
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
        ),
        "event_first_seen": (
            "SELECT event_id, user_id, event_type, "
            "date_trunc('second', ts) AS first_ts, round(value, 4) AS value "
            "FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type "
            "ORDER BY ts, event_id) AS rn FROM events) WHERE rn = 1"
        ),
        "event_sessionize": (
            "WITH g AS (SELECT user_id, ts, value, "
            "CASE WHEN lag(ts) OVER w IS NULL "
            "OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS ns "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
            "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts "
            "ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id FROM g) "
            "SELECT user_id, session_id, date_trunc('second', min(ts)) AS session_start, "
            "count(*) AS n_events, round(sum(value), 4) AS total_value "
            "FROM s GROUP BY user_id, session_id"
        ),
        "event_session_window": (
            "WITH g AS (SELECT user_id, ts, value, "
            "CASE WHEN lag(ts) OVER w IS NULL "
            "OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS ns "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
            "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts "
            "ROWS UNBOUNDED PRECEDING)::BIGINT AS sid FROM g) "
            "SELECT user_id, date_trunc('second', min(ts)) AS session_start, "
            "count(*) AS n_events, round(sum(value), 4) AS total_value "
            "FROM s GROUP BY user_id, sid"
        ),
        "dedup_exact": (
            "SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS canonical_id "
            "FROM (SELECT doc_id, text FROM documents "
            "UNION ALL SELECT doc_id + 1000000, text FROM documents) "
            "GROUP BY md5(text) HAVING count(*) > 1"
        ),
        "dedup_cluster_size_report": (
            # cluster sizes over the same recrawl fixture, the identical
            # half-open literal bins, exact integer aggregates, the
            # corpus fraction as the single division
            "WITH u AS (SELECT doc_id, text FROM documents "
            "UNION ALL SELECT doc_id + 1000000, text FROM documents "
            "WHERE doc_id % 2 = 0 "
            "UNION ALL SELECT doc_id + 2000000, text FROM documents "
            "WHERE doc_id % 10 = 0), "
            "s AS (SELECT count(*)::BIGINT AS n FROM u GROUP BY md5(text)), "
            "t AS (SELECT count(*)::DOUBLE AS corpus FROM u), "
            "b AS (SELECT n, "
            "CASE WHEN n < 2 THEN 0 WHEN n < 3 THEN 1 WHEN n < 5 THEN 2 "
            "WHEN n < 9 THEN 3 WHEN n < 17 THEN 4 WHEN n < 33 THEN 5 "
            "WHEN n < 65 THEN 6 WHEN n < 129 THEN 7 WHEN n < 1025 THEN 8 "
            "ELSE 9 END AS bucket_id, "
            "(CASE WHEN n < 2 THEN 1 WHEN n < 3 THEN 2 WHEN n < 5 THEN 3 "
            "WHEN n < 9 THEN 5 WHEN n < 17 THEN 9 WHEN n < 33 THEN 17 "
            "WHEN n < 65 THEN 33 WHEN n < 129 THEN 65 WHEN n < 1025 THEN 129 "
            "ELSE 1025 END)::BIGINT AS bucket_lo, "
            "(CASE WHEN n < 2 THEN 1 WHEN n < 3 THEN 2 WHEN n < 5 THEN 4 "
            "WHEN n < 9 THEN 8 WHEN n < 17 THEN 16 WHEN n < 33 THEN 32 "
            "WHEN n < 65 THEN 64 WHEN n < 129 THEN 128 WHEN n < 1025 THEN 1024 "
            "END)::BIGINT AS bucket_hi FROM s) "
            "SELECT bucket_id::INTEGER AS bucket_id, bucket_lo, bucket_hi, "
            "count(*)::BIGINT AS n_clusters, sum(n)::BIGINT AS n_docs, "
            "(sum(n) - count(*))::BIGINT AS n_removable, "
            "round(sum(n)::DOUBLE / greatest(corpus, 1.0) + 1e-12, 6) "
            "AS frac_of_corpus "
            "FROM b, t GROUP BY bucket_id, bucket_lo, bucket_hi, corpus"
        ),
        "dedup_fingerprint": (
            f"SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint FROM documents"
        ),
        "dedup_minhash_lsh": _minhash_oracle_sql(),
        "dedup_near_dup_stream": _near_dup_stream_oracle_sql(),
        "dedup_bucket_audit": _minhash_oracle_sql(stop_at_posts=True),
        # incremental contract: the FULL-run replay restricted to pairs
        # with >= 1 new (doc_id % 10 = 0) side — cap verdicts included
        "dedup_minhash_incremental": _minhash_oracle_sql(
            threshold=0.7, pair_filter="id_a % 10 = 0 OR id_b % 10 = 0"
        ),
        "dedup_simhash": _simhash_oracle_sql(),
        "dedup_simhash_hamming": _simhash_hamming_oracle_sql(48, 3),
        "dedup_ngram_jaccard": _ngram_oracle_sql(),
        "dedup_embedding_cosine": (
            "SELECT id_a, id_b, cosine FROM ("
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(" + cos_ab + ", 6) AS cosine "
            "FROM (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings) a "
            "JOIN (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings) b "
            "ON a.label = b.label AND a.vec_id < b.vec_id) t "
            "WHERE cosine >= 0.3"
        ),
        "dedup_embedding_decontaminate": (
            # the EXISTS is restricted to NON-zero-norm train vectors so
            # the SQL encodes embedding_decontaminate's zero-norm-kept
            # contract (score -2, "no cosine definable") instead of
            # relying on the corpus never containing one: DuckDB's
            # 0/0 = NaN compares greater than any float, so an unguarded
            # round(NaN, 6) >= 0.3 would drop the row Spark keeps
            "WITH e AS (SELECT vec_id, label, list_transform(embedding, "
            "x -> x::DOUBLE) AS v FROM embeddings), "
            "r AS (SELECT v AS rv FROM e WHERE vec_id % 25 = 0 "
            "AND list_dot_product(v, v) > 0) "
            "SELECT t.vec_id, t.label FROM e t WHERE NOT EXISTS ("
            "SELECT 1 FROM r WHERE list_dot_product(t.v, t.v) > 0 "
            "AND round(list_dot_product(t.v, r.rv) / "
            "(sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(r.rv, r.rv)))"
            ", 6) >= 0.3)"
        ),
        "dedup_semantic": (
            # full SemDeDup replay: h60 seeds over the non-zero-norm
            # corpus, argmax-cosine assignment (+1e-12 nudge, 6-dp
            # round, lower-cid ties — the _assign_udf contract), then
            # drop = exists a smaller-id same-cell member with
            # round(cosine, 6) >= 0.3; zero-norm rows keep cid -1
            "WITH vv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
            "AS v FROM embeddings), "
            "nz AS (SELECT vec_id, v FROM vv WHERE list_dot_product(v, v) > 0), "
            "seeds AS (SELECT row_number() OVER (ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id) - 1 AS cid, v FROM nz ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id LIMIT 16), "
            "ac AS (SELECT n.vec_id, s.cid, round((list_dot_product(n.v, s.v) / "
            "(sqrt(list_dot_product(n.v, n.v)) * sqrt(list_dot_product(s.v, s.v)))) "
            "+ 1e-12, 6) AS c6 FROM nz n, seeds s), "
            "asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() "
            "OVER (PARTITION BY vec_id ORDER BY c6 DESC, cid) AS rk FROM ac) "
            "WHERE rk = 1), "
            "drp AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b "
            "ON a.cid = b.cid AND a.vec_id < b.vec_id "
            "JOIN nz va ON va.vec_id = a.vec_id JOIN nz vb ON vb.vec_id = b.vec_id "
            "WHERE round(list_dot_product(va.v, vb.v) / "
            "(sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v)))"
            ", 6) >= 0.3) "
            "SELECT a.vec_id, a.cid::BIGINT AS cid, (d.vec_id IS NULL) AS is_kept "
            "FROM asg a LEFT JOIN drp d ON a.vec_id = d.vec_id "
            "UNION ALL SELECT vec_id, (-1)::BIGINT AS cid, TRUE AS is_kept "
            "FROM vv WHERE list_dot_product(v, v) <= 0"
        ),
        "dedup_semantic_scaled": (
            # the cells-scale-with-N SemDeDup replay: plane count =
            # smallest p in [4, 20] with n <= 32*2^p (integer-exact —
            # derive_semantic_lsh_planes), md5 hyperplanes + sign-bit
            # buckets (the sim_topk_lsh replay, table 0), drop = exists
            # a smaller-id SAME-BUCKET member with round(cos, 6) >= 0.3;
            # zero-norm rows keep cid -1
            "WITH vv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
            "AS v FROM embeddings), "
            "nz AS (SELECT vec_id, v FROM vv WHERE list_dot_product(v, v) > 0), "
            "nn AS (SELECT count(*) AS n FROM nz), "
            "pp AS (SELECT COALESCE(MIN(p), 20)::INTEGER AS planes "
            "FROM range(4, 21) t(p), nn WHERE nn.n <= 32 * (1::BIGINT << p)), "
            "pl AS (SELECT pr.range AS p, list_transform(range(0, 64), j -> "
            "((('0x' || substring(md5('plane:' || pr.range::VARCHAR || ':' || "
            "j::VARCHAR), 1, 15))::UBIGINT::BIGINT "
            "/ 1152921504606846976.0) * 2.0 - 1.0)) AS w "
            "FROM range(0, 20) pr, pp WHERE pr.range < pp.planes), "
            "dt AS (SELECT vec_id, p, list_sum(list_transform(range(1, 65), "
            "i -> v[i::INTEGER] * w[i::INTEGER])) AS d FROM nz, pl), "
            "cb AS (SELECT vec_id, sum(CASE WHEN d > 0 THEN (1::BIGINT << p) "
            "ELSE 0 END)::BIGINT AS cid FROM dt GROUP BY vec_id), "
            "drp AS (SELECT DISTINCT b.vec_id FROM cb a JOIN cb b "
            "ON a.cid = b.cid AND a.vec_id < b.vec_id "
            "JOIN nz va ON va.vec_id = a.vec_id JOIN nz vb ON vb.vec_id = b.vec_id "
            "WHERE round(list_dot_product(va.v, vb.v) / "
            "(sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v)))"
            ", 6) >= 0.3) "
            "SELECT c.vec_id, c.cid, (d.vec_id IS NULL) AS is_kept "
            "FROM cb c LEFT JOIN drp d ON c.vec_id = d.vec_id "
            "UNION ALL SELECT vec_id, (-1)::BIGINT AS cid, TRUE AS is_kept "
            "FROM vv WHERE list_dot_product(v, v) <= 0"
        ),
        "sample_prototype_prune": (
            # assignment replay (the dedup_semantic CTEs) + per-cluster
            # rank by (score asc, id) keeping ceil(|cluster| * 0.5);
            # the proto score IS the assignment's own rounded cosine
            "WITH vv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
            "AS v FROM embeddings), "
            "nz AS (SELECT vec_id, v FROM vv WHERE list_dot_product(v, v) > 0), "
            "seeds AS (SELECT row_number() OVER (ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id) - 1 AS cid, v FROM nz ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id LIMIT 16), "
            "ac AS (SELECT n.vec_id, s.cid, round("
            + _dk_cos("n.v", "s.v")
            + " + 1e-12, 6) AS c6 FROM nz n, seeds s), "
            "asg AS (SELECT vec_id, cid, c6 FROM (SELECT vec_id, cid, c6, "
            "row_number() OVER (PARTITION BY vec_id ORDER BY c6 DESC, cid) AS rk "
            "FROM ac) WHERE rk = 1), "
            "r AS (SELECT vec_id, cid::BIGINT AS cid, c6 AS proto_score, "
            "row_number() OVER (PARTITION BY cid ORDER BY c6 ASC, vec_id)"
            "::INTEGER AS prune_rank, "
            "count(*) OVER (PARTITION BY cid) AS csize FROM asg) "
            "SELECT vec_id, cid, proto_score, prune_rank FROM r "
            "WHERE prune_rank <= ceil(csize * 0.5 - 1e-9) "
            "UNION ALL SELECT vec_id, (-1)::BIGINT AS cid, NULL::DOUBLE AS "
            "proto_score, 1::INTEGER AS prune_rank FROM vv "
            "WHERE list_dot_product(v, v) <= 0"
        ),
        "sample_kcenter_coreset": _kcenter_oracle_sql(8),
        "sample_token_budget": (
            # quality-ordered window cumsum: kept iff the inclusive
            # running token total fits the budget (maximal-prefix rule)
            "WITH t AS (SELECT doc_id, n_chars AS quality, "
            "len(" + _DK_TOKS_RAW + ")::BIGINT AS n_tokens FROM documents), "
            "r AS (SELECT doc_id, quality, n_tokens, "
            "row_number() OVER (ORDER BY quality DESC, doc_id)::BIGINT AS budget_rank, "
            "coalesce(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT "
            "AS tokens_before FROM t) "
            "SELECT doc_id, quality, n_tokens, budget_rank, tokens_before "
            "FROM r WHERE tokens_before + n_tokens <= 20000"
        ),
        "sample_dsir": (
            # DSIR replay: unigram+bigram gram stream (occurrences, not
            # distinct), b = h60(gram) % 10000, add-1 Laplace log-ratio
            # per bucket, per-doc weight = sum of log-ratios rounded at
            # 6 dp after the +1e-12 nudge, top-50 by (weight desc, id)
            "WITH toks AS (SELECT doc_id, " + _DK_TOKS_LOWER + " AS t "
            "FROM documents), "
            "tt AS (SELECT doc_id, t FROM toks WHERE len(t) > 0), "
            "grams AS (SELECT doc_id, u.g FROM tt, unnest(t) AS u(g) "
            "UNION ALL SELECT doc_id, u.g FROM (SELECT doc_id, "
            "list_transform(range(1, len(t)), i -> t[i::INTEGER] || ' ' || "
            "t[(i + 1)::INTEGER]) AS bg FROM tt WHERE len(t) >= 2), "
            "unnest(bg) AS u(g)), "
            "sb AS (SELECT doc_id, " + _dk_h60("g") + " % 10000 AS b FROM grams), "
            "tb AS (SELECT sb.b FROM sb JOIN documents USING (doc_id) "
            "WHERE lang = 'en'), "
            "tc AS (SELECT b, count(*) AS ct FROM tb GROUP BY b), "
            "scnt AS (SELECT b, count(*) AS cs FROM sb GROUP BY b), "
            "tot AS (SELECT (SELECT count(*) FROM tb)::DOUBLE AS nt, "
            "(SELECT count(*) FROM sb)::DOUBLE AS ns), "
            "lr AS (SELECT scnt.b AS b, ln((coalesce(ct, 0) + 1.0) / "
            "(tot.nt + 10000.0)) - ln((cs + 1.0) / (tot.ns + 10000.0)) AS lr "
            "FROM scnt LEFT JOIN tc ON scnt.b = tc.b, tot), "
            "w AS (SELECT sb.doc_id, count(*)::BIGINT AS n_grams, "
            "round(sum(lr.lr) + 1e-12, 6) AS weight FROM sb "
            "JOIN lr ON sb.b = lr.b GROUP BY sb.doc_id), "
            "r AS (SELECT doc_id, n_grams, weight, row_number() OVER "
            "(ORDER BY weight DESC, doc_id) AS rank FROM w) "
            "SELECT doc_id, n_grams, weight, rank::INTEGER AS rank FROM r "
            "WHERE rank <= 50"
        ),
        "sim_topk_bruteforce": (
            "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
            "FROM embeddings WHERE vec_id < 10), "
            "e AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ev FROM embeddings), "
            "s AS (SELECT query_id, neighbor_id, " + cos_qn + " AS c FROM q, e "
            "WHERE neighbor_id <> query_id), "
            "r AS (SELECT query_id, neighbor_id, c, row_number() OVER "
            "(PARTITION BY query_id ORDER BY c DESC, neighbor_id)::INTEGER AS rank FROM s) "
            "SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank FROM r WHERE rank <= 5"
        ),
        "sim_hard_negatives": (
            # mirrors similarity.hard_negatives(k=5) with positives =
            # exact top-1 per query: s is the scored pair table (the
            # bruteforce cosine convention), pos the rank-1 pick, and
            # the negative rank re-runs the SAME window over s minus pos
            "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
            "FROM embeddings WHERE vec_id < 8), "
            "e AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ev "
            "FROM embeddings), "
            "s AS MATERIALIZED (SELECT query_id, neighbor_id, " + cos_qn
            + " AS c FROM q, e WHERE neighbor_id <> query_id), "
            "pos AS (SELECT query_id, neighbor_id FROM ("
            "SELECT query_id, neighbor_id, row_number() OVER "
            "(PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS r FROM s) "
            "WHERE r = 1), "
            "neg AS (SELECT s.query_id, s.neighbor_id, s.c FROM s "
            "LEFT JOIN pos ON s.query_id = pos.query_id "
            "AND s.neighbor_id = pos.neighbor_id "
            "WHERE pos.query_id IS NULL), "
            "r AS (SELECT query_id, neighbor_id, c, row_number() OVER "
            "(PARTITION BY query_id ORDER BY c DESC, neighbor_id)::INTEGER "
            "AS rank FROM neg) "
            "SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank "
            "FROM r WHERE rank <= 5"
        ),
        "sim_bitext_mine": (
            # mirrors similarity.bitext_mine(k=4, threshold=1.0) on the
            # parity split: 6-dp nudge-rounded cosines (id tiebreaks fix
            # k-NN membership), per-side top-4 sums, ratio margin
            # round(2k·c/(ss+ts)+1e-12, 6), mutual top-1 filter. The
            # pair CTE is referenced 3x -> AS MATERIALIZED (the DuckDB
            # CTE-inlining lesson, NOTES_r11).
            "WITH q AS (SELECT vec_id AS src_id, embedding::DOUBLE[] AS qv "
            "FROM embeddings WHERE vec_id % 2 = 0), "
            "e AS (SELECT vec_id AS tgt_id, embedding::DOUBLE[] AS ev "
            "FROM embeddings WHERE vec_id % 2 = 1), "
            "s AS MATERIALIZED (SELECT src_id, tgt_id, "
            "round(" + cos_qn + " + 1e-12, 6) AS c FROM q, e), "
            "ns AS (SELECT src_id, sum(c) AS ss FROM ("
            "SELECT src_id, c, row_number() OVER (PARTITION BY src_id "
            "ORDER BY c DESC, tgt_id) AS r FROM s) WHERE r <= 4 GROUP BY src_id), "
            "nt AS (SELECT tgt_id, sum(c) AS ts FROM ("
            "SELECT tgt_id, c, row_number() OVER (PARTITION BY tgt_id "
            "ORDER BY c DESC, src_id) AS r FROM s) WHERE r <= 4 GROUP BY tgt_id), "
            "m AS (SELECT s.src_id, s.tgt_id, s.c, "
            "round(8.0 * s.c / (ns.ss + nt.ts) + 1e-12, 6) AS margin "
            "FROM s JOIN ns USING (src_id) JOIN nt USING (tgt_id)), "
            "r AS (SELECT src_id, tgt_id, c, margin, "
            "row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS fwd, "
            "row_number() OVER (PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS bwd "
            "FROM m) "
            "SELECT src_id, tgt_id, c AS cosine, margin FROM r "
            "WHERE fwd = 1 AND bwd = 1 AND margin >= 1.0"
        ),
        "text_language_id": _langid_oracle_sql(),
        "text_quality_score": _quality_oracle_sql(),
        "text_rake_keyphrases": (
            # stopword-run segmentation via the cumulative-flag window,
            # phrase assembly in pos order, integer deg/freq word scores
            # on the grid, phrase-score sums, top-3 with phrase tiebreaks
            "WITH tk AS (SELECT doc_id, list_filter("
            "regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) "
            "AS t FROM documents), "
            "ex AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM ("
            "SELECT doc_id, unnest(list_transform(range(1, len(t) + 1), "
            "i -> {'pos': i, 'w': t[i::INTEGER]})) AS u FROM tk)), "
            "st AS (SELECT doc_id, pos, w, (w IN ('the', 'a', 'and', 'of', "
            "'to', 'is', 'in', 'that', 'it', 'for'))::INT AS stop FROM ex), "
            "rn AS (SELECT *, sum(stop) OVER (PARTITION BY doc_id "
            "ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "AS run FROM st), "
            "runs AS MATERIALIZED (SELECT doc_id, run, pos, w FROM rn "
            "WHERE stop = 0), "
            "ph AS MATERIALIZED (SELECT doc_id, run, "
            "string_agg(w, ' ' ORDER BY pos) AS phrase, "
            "count(*)::BIGINT AS len FROM runs GROUP BY 1, 2), "
            "mem AS MATERIALIZED (SELECT r.doc_id, r.run, r.w, p.len "
            "FROM runs r JOIN ph p USING (doc_id, run)), "
            "ws AS (SELECT doc_id, w, "
            "round(sum(len)::DOUBLE / count(*)::DOUBLE + 1e-12, 6) AS wscore "
            "FROM mem GROUP BY 1, 2), "
            "ps AS (SELECT m.doc_id, m.run, "
            "round(sum(ws.wscore) + 1e-12, 6) AS score FROM mem m "
            "JOIN ws ON m.doc_id = ws.doc_id AND m.w = ws.w GROUP BY 1, 2), "
            "pp AS (SELECT ph.doc_id, ph.phrase, ph.len AS n_words, "
            "max(ps.score) AS score FROM ph JOIN ps USING (doc_id, run) "
            "GROUP BY 1, 2, 3), "
            "rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
            "ORDER BY score DESC, phrase) AS rank FROM pp) "
            "SELECT doc_id, phrase, n_words, score, rank::INTEGER AS rank "
            "FROM rk WHERE rank <= 3"
        ),
        "text_source_quality_rollup": (
            # composes the quality replay, joins source, then the
            # rounded-sum rollup: mean/low_frac from the ROUNDED sum and
            # exact integers, flags from the rounded fraction
            "WITH q AS ("
            + _quality_oracle_sql()
            + "), j AS (SELECT d.source AS \"group\", q.quality FROM q "
            "JOIN documents d USING (doc_id)), "
            "a AS (SELECT \"group\", count(*)::BIGINT AS n_docs, "
            "round(sum(quality) + 1e-12, 6) AS quality_sum, "
            "sum((quality < 0.6)::INT)::BIGINT AS n_low FROM j GROUP BY 1) "
            "SELECT \"group\", n_docs, quality_sum, "
            "round(quality_sum / n_docs::DOUBLE + 1e-12, 6) AS mean_quality, "
            "n_low, round(n_low::DOUBLE / n_docs::DOUBLE + 1e-12, 6) "
            "AS low_frac, "
            "(round(n_low::DOUBLE / n_docs::DOUBLE + 1e-12, 6) > 0.4) "
            "AS flag_source FROM a"
        ),
        "text_token_stats": (
            "SELECT doc_id, "
            "len(list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0))::INTEGER "
            "AS n_ws_tokens, "
            "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::INTEGER "
            "AS n_bpe_tokens, "
            "length(text)::INTEGER AS n_chars FROM documents"
        ),
        "multimodal_binary_features": (
            "SELECT doc_id, strlen(text)::INTEGER AS n_bytes, md5(text) AS digest "
            "FROM documents"
        ),
        "dedup_decontaminate": (
            # mirrors pipeline/dedup.decontaminate(method='winnow',
            # min_shared=100, k=5, window=4) with refset = doc_id % 10 == 0
            f"WITH nrm AS (SELECT doc_id, {_NORM_TEXT} AS t FROM documents), "
            "g AS (SELECT doc_id, list_transform(range(1, length(t) - 5 + 2), "
            f"i -> {_dk_h60('substring(t, i::INTEGER, 5)')}) AS hs "
            "FROM nrm WHERE length(t) >= 5), "
            "fps AS (SELECT doc_id, unnest(list_distinct(list_transform("
            "range(1, greatest(len(hs) - 4 + 2, 2)), "
            "j -> list_min(hs[j::INTEGER:j::INTEGER+3])))) AS fp FROM g), "
            "ref AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 = 0), "
            "bad AS (SELECT f.doc_id FROM fps f JOIN ref USING (fp) "
            "WHERE f.doc_id % 10 != 0 GROUP BY f.doc_id HAVING count(*) >= 100) "
            "SELECT d.doc_id, d.lang, d.source FROM documents d "
            "WHERE d.doc_id % 10 != 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)"
        ),
        "dedup_decontaminate_report": (
            # same winnow replay (k=25, window=16 — the selective entry
            # params), aggregated per REF doc: pair shared-fp counts
            # >= 10, then per ref_id (count, max, worst offender = most
            # shared / smallest train id). fps is referenced twice
            # (self-join) and pairs twice (rk, ag) -> AS MATERIALIZED, or
            # DuckDB re-executes the whole winnow chain per reference
            # (the NOTES_r11 inlining lesson; measured 40+ min at sf5
            # un-materialized)
            f"WITH nrm AS MATERIALIZED (SELECT doc_id, {_NORM_TEXT} AS t "
            "FROM documents), "
            "g AS MATERIALIZED (SELECT doc_id, "
            "list_transform(range(1, length(t) - 25 + 2), "
            f"i -> {_dk_h60('substring(t, i::INTEGER, 25)')}) AS hs "
            "FROM nrm WHERE length(t) >= 25), "
            "fps AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform("
            "range(1, greatest(len(hs) - 16 + 2, 2)), "
            "j -> list_min(hs[j::INTEGER:j::INTEGER+15])))) AS fp FROM g), "
            "pairs AS MATERIALIZED (SELECT r.doc_id AS ref_id, t.doc_id AS train_id, "
            "count(*)::BIGINT AS ns FROM fps t JOIN fps r ON t.fp = r.fp "
            "WHERE t.doc_id % 10 != 0 AND r.doc_id % 10 = 0 "
            "GROUP BY 1, 2 HAVING count(*) >= 10), "
            "rk AS (SELECT ref_id, train_id, row_number() OVER ("
            "PARTITION BY ref_id ORDER BY ns DESC, train_id ASC) AS rk "
            "FROM pairs), "
            "ag AS (SELECT ref_id, count(*)::BIGINT AS n_contaminated, "
            "max(ns)::BIGINT AS max_shared FROM pairs GROUP BY ref_id) "
            "SELECT ag.ref_id, ag.n_contaminated, ag.max_shared, "
            "rk.train_id AS top_train_id FROM ag "
            "JOIN rk ON ag.ref_id = rk.ref_id AND rk.rk = 1"
        ),
        "sample_split_assign": (
            "SELECT doc_id, CASE WHEN (('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 10000 < 9800 THEN 'train' "
            "WHEN (('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 10000 < 9900 THEN 'valid' ELSE 'test' END AS split "
            "FROM documents"
        ),
        "sample_epoch_shuffle": (
            # per-(doc, epoch) key = h60('epoch:0:' || epoch || ':' || id);
            # shard = key % 8, pos = rank by (key, id) within (epoch, shard)
            "WITH e AS (SELECT doc_id, unnest([0, 1])::INTEGER AS epoch "
            "FROM documents), "
            "k AS (SELECT doc_id, epoch, "
            "(('0x' || substring(md5('epoch:0:' || epoch || ':' || doc_id), "
            "1, 15))::UBIGINT::BIGINT) AS k FROM e) "
            "SELECT doc_id, epoch, (k % 8)::INTEGER AS shard, "
            "(row_number() OVER (PARTITION BY epoch, k % 8 "
            "ORDER BY k, doc_id) - 1)::BIGINT AS pos FROM k"
        ),
        "text_edit_distance_join": (
            "WITH c AS (SELECT p_partkey AS id, "
            "p_name || ' #' || p_partkey AS s FROM part "
            "UNION ALL SELECT p_partkey + 10000000, "
            "'x' || substring(p_name, 2) || ' #' || p_partkey "
            "FROM part WHERE p_partkey % 5 = 0) "
            "SELECT a.id AS id_a, b.id AS id_b, "
            "levenshtein(a.s, b.s)::INTEGER AS dist "
            "FROM c a JOIN c b ON a.id < b.id "
            "AND abs(length(a.s) - length(b.s)) <= 1 "
            "WHERE levenshtein(a.s, b.s) <= 1"
        ),
        "mining_frequent_pairs": (
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
        ),
        "sample_stratified_split": (
            "WITH r AS (SELECT doc_id, lang, row_number() OVER "
            "(PARTITION BY lang ORDER BY "
            "(('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 1000000, doc_id) "
            "AS rk, count(*) OVER (PARTITION BY lang) AS n FROM documents) "
            "SELECT doc_id, lang, "
            "CASE WHEN rk <= floor(n * 800 / 1000.0) THEN 'train' "
            "WHEN rk <= floor(n * 900 / 1000.0) THEN 'valid' "
            "ELSE 'test' END AS split FROM r"
        ),
        "profile_entropy": (
            "WITH c AS (SELECT source, lang, count(*)::BIGINT AS c "
            "FROM documents GROUP BY source, lang) "
            "SELECT source, sum(c)::BIGINT AS n_rows, "
            "count(*)::BIGINT AS n_distinct, "
            "round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy "
            "FROM c GROUP BY source"
        ),
        "profile_winsorize": (
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
        ),
        "event_trend": (
            "SELECT user_id, count(*)::BIGINT AS n_samples, "
            "round(regr_slope(value, epoch_us(ts) / 86400000000.0), 6) AS slope_per_day, "
            "round(regr_intercept(value, epoch_us(ts) / 86400000000.0), 6) AS intercept, "
            "round(regr_r2(value, epoch_us(ts) / 86400000000.0), 6) AS r2 "
            "FROM events GROUP BY user_id"
        ),
        "profile_quantile_bins": (
            "WITH c AS (SELECT event_type, "
            "quantile_cont(value, 0.25) AS c1, quantile_cont(value, 0.5) AS c2, "
            "quantile_cont(value, 0.75) AS c3 FROM events GROUP BY event_type), "
            "b AS (SELECT e.event_type, e.value, 1 + (e.value > c.c1)::INT "
            "+ (e.value > c.c2)::INT + (e.value > c.c3)::INT AS bin "
            "FROM events e JOIN c USING (event_type)) "
            "SELECT event_type, bin, count(*)::BIGINT AS n_rows, "
            "round(min(value), 6) AS lo, round(max(value), 6) AS hi "
            "FROM b GROUP BY event_type, bin"
        ),
        "sample_mixture": (
            "WITH r AS (SELECT doc_id, source, row_number() OVER "
            "(PARTITION BY source ORDER BY "
            "(('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 1000000, doc_id) "
            "AS sample_rank FROM documents "
            "WHERE source IN ('src0', 'src1', 'src2', 'src3')) "
            "SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= "
            "CASE source WHEN 'src0' THEN 30 WHEN 'src1' THEN 18 "
            "WHEN 'src2' THEN 9 ELSE 3 END"
        ),
        "sample_temperature_mixture": (
            # mirrors sampling.temperature_mixture(total=200, alpha=0.5,
            # group_col='lang'): sqrt(n) shares, raw allocation pinned to
            # the 6-dp nudge grid, largest-remainder apportionment
            # (remainder DESC, lang ASC), h60 hash-rank selection
            "WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY lang), "
            "wts AS MATERIALIZED (SELECT lang, sqrt(n) AS w FROM c), "
            "q0 AS MATERIALIZED (SELECT lang, "
            "round(w / (SELECT sum(w) FROM wts) * 200.0 + 1e-12, 6) AS raw FROM wts), "
            "q1 AS MATERIALIZED (SELECT lang, floor(raw) AS fl, raw - floor(raw) AS rem "
            "FROM q0), "
            "q2 AS MATERIALIZED (SELECT lang, fl, "
            "row_number() OVER (ORDER BY rem DESC, lang) AS lead FROM q1), "
            "q AS (SELECT lang, (fl + CASE WHEN lead <= 200 - "
            "(SELECT sum(fl) FROM q2) THEN 1 ELSE 0 END)::BIGINT AS quota FROM q2), "
            "r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY "
            "(('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 1000000, "
            "doc_id) AS sample_rank FROM documents) "
            "SELECT r.doc_id, r.lang, q.quota, r.sample_rank FROM r JOIN q USING (lang) "
            "WHERE sample_rank <= quota"
        ),
        "sample_unimax": (
            # mirrors sampling.unimax_sample(total=2N//5, epoch_cap=0.5,
            # group_col='lang'): caps/prefix-sums/uniform-share on the
            # 6-dp nudge grid, cap-ascending waterfill prefix test,
            # Hamilton integerization to min(B, floor(sum alloc)),
            # h60 hash-rank member selection
            "WITH b AS (SELECT ((count(*) * 2) // 5)::BIGINT AS bi, "
            "((count(*) * 2) // 5)::DOUBLE AS bb FROM documents), "
            "c AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang), "
            "w0 AS MATERIALIZED (SELECT lang, round(n * 0.5 + 1e-12, 6) AS cap FROM c), "
            "w1 AS MATERIALIZED (SELECT lang, cap, "
            "row_number() OVER (ORDER BY cap, lang) AS j, "
            "count(*) OVER () AS s, "
            "round(coalesce(sum(cap) OVER (ORDER BY cap, lang "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) + 1e-12, 6) AS pre "
            "FROM w0), "
            "w2 AS MATERIALIZED (SELECT lang, cap, s, "
            "(cap * (s - j + 1) + pre < bb) AS capped FROM w1, b), "
            "w3 AS MATERIALIZED (SELECT lang, cap, s, capped, "
            "sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS ncap, "
            "round(coalesce(sum(CASE WHEN capped THEN cap END) OVER (), 0.0) "
            "+ 1e-12, 6) AS csum FROM w2), "
            "w4 AS MATERIALIZED (SELECT lang, capped, "
            "CASE WHEN capped THEN cap "
            "ELSE round((bb - csum) / (s - ncap) + 1e-12, 6) END AS a FROM w3, b), "
            "w5 AS MATERIALIZED (SELECT lang, capped, a, "
            "floor(a)::BIGINT AS fl, "
            "row_number() OVER (ORDER BY (a - floor(a)) DESC, lang) AS lead FROM w4), "
            "w6 AS MATERIALIZED (SELECT lang, capped, fl, lead, "
            "sum(fl) OVER () AS flsum, "
            "floor(round(sum(a) OVER () + 1e-12, 6))::BIGINT AS asumfl FROM w5), "
            "q AS (SELECT lang, capped::INT AS capped, "
            "(fl + CASE WHEN lead <= least(bi, asumfl) - flsum THEN 1 ELSE 0 END)"
            "::BIGINT AS quota FROM w6, b), "
            "r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY "
            "(('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 1000000, "
            "doc_id) AS sample_rank FROM documents) "
            "SELECT r.doc_id, r.lang, q.quota, q.capped, r.sample_rank "
            "FROM r JOIN q USING (lang) WHERE sample_rank <= quota"
        ),
        "sample_quota_per_source": (
            "SELECT doc_id, source, row_number() OVER "
            "(PARTITION BY source ORDER BY (('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 1000000, doc_id) AS sample_rank "
            "FROM documents QUALIFY sample_rank <= 20"
        ),
        "dedup_canonicalize": _minhash_oracle_sql(pairs_cte=True)
        + """,
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b AS a, id_a AS b FROM pairs),
reach AS (SELECT a, b FROM e
          UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
q AS (SELECT c.doc_id, c.cluster_id, d.n_chars,
        row_number() OVER (PARTITION BY c.cluster_id
                           ORDER BY d.n_chars DESC, c.doc_id) AS rk
      FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
SELECT doc_id, cluster_id,
       min(CASE WHEN rk = 1 THEN doc_id END)
         OVER (PARTITION BY cluster_id) AS canonical_id,
       (rk = 1)::INT AS keep
FROM q
""",
        "pipeline_end_to_end": _minhash_oracle_sql(pairs_cte=True)
        + """,
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b AS a, id_a AS b FROM pairs),
reach AS (SELECT a, b FROM e
          UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
full0 AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                 d.n_chars, d.lang, d.source
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
q AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id) AS rk FROM full0)
SELECT doc_id, cluster_id, lang, source,
       CASE WHEN (('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 10000 < 9800 THEN 'train'
            WHEN (('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 10000 < 9900 THEN 'valid'
            ELSE 'test' END AS split
FROM q WHERE rk = 1
""",
        "sample_leakage_safe_split": _minhash_oracle_sql(pairs_cte=True)
        + """,
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b AS a, id_a AS b FROM pairs),
reach AS (SELECT a, b FROM e
          UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
full0 AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_key
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
SELECT doc_id, cluster_key,
       CASE WHEN (('0x' || substring(md5('42:' || cluster_key), 1, 15))::UBIGINT::BIGINT) % 10000 < 9800 THEN 'train'
            WHEN (('0x' || substring(md5('42:' || cluster_key), 1, 15))::UBIGINT::BIGINT) % 10000 < 9900 THEN 'valid'
            ELSE 'test' END AS split
FROM full0
""",
        "pipeline_incremental_dedup": _minhash_oracle_sql(pairs_cte=True)
        + """,
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b AS a, id_a AS b FROM pairs),
reach AS (SELECT a, b FROM e
          UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
full0 AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
SELECT cluster_id, count(*)::BIGINT AS n_docs FROM full0 GROUP BY cluster_id
""",
        "text_winnow_fingerprint": (
            # mirrors pipeline/text.winnow_fingerprints(k=5, window=4):
            # char-5-gram h60 hashes of normalized text, min per sliding
            # window of 4, distinct — digested per doc
            f"WITH nrm AS (SELECT doc_id, {_NORM_TEXT} AS t FROM documents), "
            "g AS (SELECT doc_id, list_transform(range(1, length(t) - 5 + 2), "
            f"i -> {_dk_h60('substring(t, i::INTEGER, 5)')}) AS hs "
            "FROM nrm WHERE length(t) >= 5), "
            "w AS (SELECT doc_id, list_distinct(list_transform("
            "range(1, greatest(len(hs) - 4 + 2, 2)), "
            "j -> list_min(hs[j::INTEGER:j::INTEGER+3]))) AS fps FROM g) "
            "SELECT doc_id, len(fps)::BIGINT AS n_fp, list_min(fps) AS min_fp, "
            "list_max(fps) AS max_fp, "
            "list_sum(list_transform(fps, x -> x % 1000000007))::BIGINT AS sum_fp FROM w"
        ),
        "embedding_ood_audit": (
            # centroid replay (per-(label,pos) avg, assembled in pos
            # order), grid cosines, exact per-label quantile OF the grid
            # scores, grid-double flag compare
            "WITH ex AS (SELECT label, u.pos AS pos, u.x AS x FROM ("
            "SELECT label, unnest(list_transform(range(1, len(embedding) + 1), "
            "i -> {'pos': i, 'x': embedding[i::INTEGER]::DOUBLE})) AS u "
            "FROM embeddings)), "
            "dims AS (SELECT label, pos, avg(x) AS m FROM ex GROUP BY 1, 2), "
            "cent AS (SELECT label, "
            "list(round(m + 1e-12, 6) ORDER BY pos) AS c "
            "FROM dims GROUP BY label), "
            "vv AS (SELECT vec_id, label, "
            "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), "
            "sc AS (SELECT vv.vec_id, vv.label, "
            "round(" + _COS.format(a="vv.v", b="cent.c") + " + 1e-12, 6) "
            "AS cos_to_centroid FROM vv JOIN cent USING (label)), "
            "thr AS (SELECT label, "
            "round(quantile_cont(cos_to_centroid, 0.05) + 1e-12, 6) "
            "AS threshold FROM sc GROUP BY label) "
            "SELECT vec_id, label, cos_to_centroid, threshold, "
            "(cos_to_centroid < threshold) AS is_ood "
            "FROM sc JOIN thr USING (label)"
        ),
        "embedding_label_centroids": (
            "WITH ex AS (SELECT label, u.pos AS pos, u.x AS x FROM ("
            "SELECT label, unnest(list_transform(range(1, len(embedding) + 1), "
            "i -> {'pos': i, 'x': embedding[i::INTEGER]::DOUBLE})) AS u "
            "FROM embeddings)), "
            "dims AS (SELECT label, pos, avg(x) AS m, count(*)::BIGINT AS n "
            "FROM ex GROUP BY 1, 2) "
            "SELECT label, max(n) AS n_members, round(sum(m), 6) AS centroid_sum "
            "FROM dims GROUP BY label"
        ),
        "embedding_quantize": (
            "WITH ex0 AS (SELECT vec_id, unnest(list_transform("
            "range(1, len(embedding) + 1), "
            "i -> {'pos': i, 'x': embedding[i::INTEGER]::DOUBLE})) AS u "
            "FROM embeddings), "
            "ex AS (SELECT vec_id, u.pos AS pos, u.x AS x FROM ex0), "
            "st AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos), "
            "c AS (SELECT vec_id, x, mn, mx, (CASE WHEN mx = mn THEN 0 "
            "ELSE greatest(least(floor((x - mn) / (mx - mn) * 256), 255), 0) "
            "END)::INTEGER AS code FROM ex JOIN st USING (pos)), "
            "e AS (SELECT vec_id, code, CASE WHEN mx = mn THEN 0.0 "
            "ELSE abs(x - (mn + (code + 0.5) * (mx - mn) / 256)) END AS err FROM c) "
            "SELECT vec_id, sum(code)::BIGINT AS code_sum, "
            "round(max(err), 9) AS max_abs_err FROM e GROUP BY vec_id"
        ),
        "embedding_random_projection": _rp_oracle_sql(),
        "sim_topk_pq": (
            # replays the refine_iters=0 ADC ranking end-to-end: seed
            # codebooks + codes as in embedding_pq_encode, per-query
            # LUT = subspace dot products against the seed centroids,
            # score = round(sum of m lookups, 6), rank by (score desc,
            # neighbor) — deterministic, so approximate-vs-cosine but
            # bit-reproducible across engines
            "WITH seeds AS (SELECT row_number() OVER (ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id) - 1 AS cid, "
            "list_transform(embedding, x -> x::DOUBLE) AS v "
            "FROM embeddings ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id LIMIT 16), "
            "subs AS (SELECT range AS s FROM range(0, 8)), "
            "cent AS (SELECT s, cid, v[(s*8+1)::BIGINT:(s*8+8)::BIGINT] AS c "
            "FROM seeds, subs), "
            "vsub AS (SELECT vec_id, s, "
            "list_transform(embedding, x -> x::DOUBLE)"
            "[(s*8+1)::BIGINT:(s*8+8)::BIGINT] AS xs FROM embeddings, subs), "
            "dist AS (SELECT vec_id, s, cid, round(list_sum(list_transform("
            "range(1, 9), i -> (xs[i::INTEGER] - c[i::INTEGER]) * "
            "(xs[i::INTEGER] - c[i::INTEGER]))), 6) AS d6 "
            "FROM vsub JOIN cent USING (s)), "
            "codes AS (SELECT vec_id, s, cid AS code FROM ("
            "SELECT vec_id, s, cid, row_number() OVER ("
            "PARTITION BY vec_id, s ORDER BY d6, cid) AS rk FROM dist) "
            "WHERE rk = 1), "
            "lutv AS (SELECT q.vec_id AS qid, c.s, c.cid, "
            "list_sum(list_transform(range(1, 9), "
            "i -> q.xs[i::INTEGER] * c.c[i::INTEGER])) AS l "
            "FROM vsub q JOIN cent c USING (s) WHERE q.vec_id < 10), "
            "sc AS (SELECT l.qid AS query_id, b.vec_id AS neighbor_id, "
            "round(sum(l.l) + 1e-12, 6) AS score "
            "FROM codes b JOIN lutv l ON b.s = l.s AND b.code = l.cid "
            "WHERE b.vec_id <> l.qid "
            "GROUP BY l.qid, b.vec_id), "
            "rk AS (SELECT query_id, neighbor_id, score, row_number() OVER ("
            "PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank "
            "FROM sc) "
            "SELECT query_id, neighbor_id, score, rank::INTEGER AS rank "
            "FROM rk WHERE rank <= 5"
        ),
        "sim_topk_imi": (
            # replays the refine_iters=0 inverted multi-index end-to-end:
            # half-codebooks = the 4 smallest-(h60, id) corpus vectors
            # sliced in two (pq_fit(m=2) seeds); cell assignment =
            # pq_encode's 6-dp-rounded dimension-major argmin per half
            # (ties -> lower cid); probe set = top-8 (cid1, cid2) pairs
            # by UNROUNDED sequential-fold d1 + d2 with the (sum, cid1,
            # cid2) tiebreak (probe_cells); exact cosine rerank within
            # probed cells — deterministic, so approximate-vs-brute but
            # bit-reproducible across engines
            "WITH seeds AS (SELECT row_number() OVER (ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id) - 1 AS cid, "
            "list_transform(embedding, x -> x::DOUBLE) AS v "
            "FROM embeddings ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id LIMIT 4), "
            "halves AS (SELECT range AS h FROM range(0, 2)), "
            "cent AS (SELECT h, cid, v[(h*32+1)::BIGINT:(h*32+32)::BIGINT] "
            "AS c FROM seeds, halves), "
            "vv AS (SELECT vec_id, "
            "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), "
            "vsub AS (SELECT vec_id, h, "
            "v[(h*32+1)::BIGINT:(h*32+32)::BIGINT] AS xs FROM vv, halves), "
            "dist AS (SELECT vec_id, h, cid, round(list_sum(list_transform("
            "range(1, 33), i -> (xs[i::INTEGER] - c[i::INTEGER]) * "
            "(xs[i::INTEGER] - c[i::INTEGER]))), 6) AS d6 "
            "FROM vsub JOIN cent USING (h)), "
            "asg0 AS (SELECT vec_id, h, cid FROM (SELECT vec_id, h, cid, "
            "row_number() OVER (PARTITION BY vec_id, h ORDER BY d6, cid) "
            "AS rk FROM dist) WHERE rk = 1), "
            "asg AS (SELECT a1.vec_id, a1.cid AS cid1, a2.cid AS cid2 "
            "FROM asg0 a1 JOIN asg0 a2 ON a1.vec_id = a2.vec_id "
            "AND a1.h = 0 AND a2.h = 1), "
            "qd AS (SELECT vec_id, h, cid, list_sum(list_transform("
            "range(1, 33), i -> (xs[i::INTEGER] - c[i::INTEGER]) * "
            "(xs[i::INTEGER] - c[i::INTEGER]))) AS d "
            "FROM vsub JOIN cent USING (h) WHERE vec_id < 10), "
            "pairs AS (SELECT q1.vec_id AS qid, q1.cid AS cid1, "
            "q2.cid AS cid2, q1.d + q2.d AS ds "
            "FROM qd q1 JOIN qd q2 ON q1.vec_id = q2.vec_id "
            "AND q1.h = 0 AND q2.h = 1), "
            "probes AS (SELECT qid, cid1, cid2 FROM (SELECT qid, cid1, "
            "cid2, row_number() OVER (PARTITION BY qid "
            "ORDER BY ds, cid1, cid2) AS rk FROM pairs) WHERE rk <= 8), "
            "cand AS (SELECT p.qid AS query_id, a.vec_id AS neighbor_id "
            "FROM probes p JOIN asg a ON a.cid1 = p.cid1 "
            "AND a.cid2 = p.cid2 WHERE a.vec_id <> p.qid), "
            "s AS (SELECT query_id, neighbor_id, "
            + _COS.format(a="q.v", b="n.v")
            + " AS c FROM cand JOIN vv q ON q.vec_id = query_id "
            "JOIN vv n ON n.vec_id = neighbor_id), "
            "r AS (SELECT query_id, neighbor_id, c, row_number() OVER ("
            "PARTITION BY query_id ORDER BY c DESC, neighbor_id)::INTEGER "
            "AS rank FROM s) "
            "SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank "
            "FROM r WHERE rank <= 5"
        ),
        "sim_topk_lsh": (
            # replays the multi-probe multi-table LSH pipeline end-to-end:
            # md5-derived hyperplanes (table 0 unsalted — signature
            # stability), one sequential-fold dot per (vector, table,
            # plane) feeding BOTH the sign-bit buckets and the probe
            # costs, Lv-et-al 1+2-bit perturbations ranked by
            # (flipped-margin cost, mask), bucket join per table, exact
            # cosine rerank — every step deterministic, so the oracle is
            # bit-exact despite the path being approximate-vs-brute-force
            "WITH tp AS (SELECT t.range AS t, p.range AS p "
            "FROM range(0, 6) t, range(0, 5) p), "
            "pl AS (SELECT t, p, list_transform(range(0, 64), j -> "
            "((('0x' || substring(md5(CASE WHEN t = 0 "
            "THEN 'plane:' || p::VARCHAR || ':' || j::VARCHAR "
            "ELSE 'plane:t' || t::VARCHAR || ':' || p::VARCHAR || ':' || "
            "j::VARCHAR END), 1, 15))::UBIGINT::BIGINT "
            "/ 1152921504606846976.0) * 2.0 - 1.0)) AS w FROM tp), "
            "vv AS (SELECT vec_id, "
            "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), "
            "dt AS (SELECT vec_id, t, p, list_sum(list_transform("
            "range(1, 65), i -> v[i::INTEGER] * w[i::INTEGER])) AS d "
            "FROM vv, pl), "
            "cb AS (SELECT vec_id, t, sum(CASE WHEN d > 0 THEN (1 << p) "
            "ELSE 0 END)::BIGINT AS b FROM dt GROUP BY vec_id, t), "
            "qb AS (SELECT vec_id, t, b FROM cb WHERE vec_id < 10), "
            "cands AS (SELECT vec_id, t, abs(d) AS cost, "
            "(1 << p)::BIGINT AS mask FROM dt WHERE vec_id < 10 "
            "UNION ALL SELECT a.vec_id, a.t, abs(a.d) + abs(b.d) AS cost, "
            "((1 << a.p) | (1 << b.p))::BIGINT AS mask "
            "FROM dt a JOIN dt b ON a.vec_id = b.vec_id AND a.t = b.t "
            "AND a.p < b.p WHERE a.vec_id < 10), "
            "flips AS (SELECT vec_id, t, mask FROM (SELECT vec_id, t, mask, "
            "row_number() OVER (PARTITION BY vec_id, t "
            "ORDER BY cost, mask) AS rk FROM cands) WHERE rk <= 5), "
            "pr AS (SELECT vec_id, t, b AS pb FROM qb "
            "UNION ALL SELECT q.vec_id, q.t, xor(q.b, f.mask) AS pb "
            "FROM qb q JOIN flips f USING (vec_id, t)), "
            "cand AS (SELECT DISTINCT p.vec_id AS query_id, "
            "c.vec_id AS neighbor_id FROM pr p "
            "JOIN cb c ON c.t = p.t AND c.b = p.pb "
            "WHERE c.vec_id <> p.vec_id), "
            "s AS (SELECT query_id, neighbor_id, "
            + _COS.format(a="q.v", b="n.v")
            + " AS c FROM cand JOIN vv q ON q.vec_id = query_id "
            "JOIN vv n ON n.vec_id = neighbor_id), "
            "r AS (SELECT query_id, neighbor_id, c, row_number() OVER ("
            "PARTITION BY query_id ORDER BY c DESC, neighbor_id)::INTEGER "
            "AS rank FROM s) "
            "SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank "
            "FROM r WHERE rank <= 5"
        ),
        "sim_topk_ivfpq": (
            # replays the refine_iters=0 IVFADC composition end-to-end:
            # the 16 h60-seed vectors serve as BOTH the coarse centroids
            # (n_cells=16) and the PQ codebook seeds (n_codes=16, same
            # (h60, id) order). Coarse assignment = argmax of the
            # rounded-nudged cosine (ties → lower cid; _assign_udf's FP
            # discipline), probe set = each query's top-6 cells by the
            # same rounded cosine (probe_cells), codes/LUT/score = the
            # sim_topk_pq arithmetic restricted to neighbors whose cell
            # is probed — deterministic, so approximate-vs-cosine but
            # bit-reproducible across engines
            "WITH seeds AS (SELECT row_number() OVER (ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id) - 1 AS cid, "
            "list_transform(embedding, x -> x::DOUBLE) AS v "
            "FROM embeddings ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id LIMIT 16), "
            "vv AS (SELECT vec_id, "
            "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), "
            "ac AS (SELECT vv.vec_id, s.cid, "
            "round(" + _COS.format(a="vv.v", b="s.v") + " + 1e-12, 6) AS c6 "
            "FROM vv, seeds s), "
            "asg AS (SELECT vec_id, cid FROM ("
            "SELECT vec_id, cid, row_number() OVER ("
            "PARTITION BY vec_id ORDER BY c6 DESC, cid) AS rk FROM ac) "
            "WHERE rk = 1), "
            "probes AS (SELECT vec_id AS qid, cid FROM ("
            "SELECT vec_id, cid, row_number() OVER ("
            "PARTITION BY vec_id ORDER BY c6 DESC, cid) AS rk FROM ac "
            "WHERE vec_id < 10) WHERE rk <= 6), "
            "subs AS (SELECT range AS s FROM range(0, 8)), "
            "cent AS (SELECT s, cid, v[(s*8+1)::BIGINT:(s*8+8)::BIGINT] AS c "
            "FROM seeds, subs), "
            "vsub AS (SELECT vec_id, s, "
            "v[(s*8+1)::BIGINT:(s*8+8)::BIGINT] AS xs FROM vv, subs), "
            "dist AS (SELECT vec_id, s, cid, round(list_sum(list_transform("
            "range(1, 9), i -> (xs[i::INTEGER] - c[i::INTEGER]) * "
            "(xs[i::INTEGER] - c[i::INTEGER]))), 6) AS d6 "
            "FROM vsub JOIN cent USING (s)), "
            "codes AS (SELECT vec_id, s, cid AS code FROM ("
            "SELECT vec_id, s, cid, row_number() OVER ("
            "PARTITION BY vec_id, s ORDER BY d6, cid) AS rk FROM dist) "
            "WHERE rk = 1), "
            "lutv AS (SELECT q.vec_id AS qid, c.s, c.cid, "
            "list_sum(list_transform(range(1, 9), "
            "i -> q.xs[i::INTEGER] * c.c[i::INTEGER])) AS l "
            "FROM vsub q JOIN cent c USING (s) WHERE q.vec_id < 10), "
            "sc AS (SELECT l.qid AS query_id, b.vec_id AS neighbor_id, "
            "round(sum(l.l) + 1e-12, 6) AS score "
            "FROM codes b "
            "JOIN asg a ON a.vec_id = b.vec_id "
            "JOIN probes p ON p.cid = a.cid "
            "JOIN lutv l ON b.s = l.s AND b.code = l.cid AND l.qid = p.qid "
            "WHERE b.vec_id <> l.qid "
            "GROUP BY l.qid, b.vec_id), "
            "rk AS (SELECT query_id, neighbor_id, score, row_number() OVER ("
            "PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank "
            "FROM sc) "
            "SELECT query_id, neighbor_id, score, rank::INTEGER AS rank "
            "FROM rk WHERE rank <= 5"
        ),
        "sim_ann_recall": _ann_recall_oracle_sql(
            n_cells=16, nprobe=4, nq=10, k=5
        ),
        "sim_matryoshka_recall": _matryoshka_oracle_sql(
            dims=(8, 16, 32, 64), nq=8, k=5
        ),
        "sim_rank_eval": _rank_eval_oracle_sql(
            n_cells=16, nprobe=4, nq=10, k=10
        ),
        "sim_pr_eval": _pr_eval_oracle_sql(
            n_cells=16, nprobe=4, nq=10, k=10
        ),
        "sim_index_health": (
            # replays the refine_iters=0 16-cell assignment (h60 seeds +
            # rounded-nudged cosine argmax — the _ivf_fixed_oracle_sql
            # CTEs minus probes/rerank), then counts per occupied cell;
            # occupancy/load_factor use the same left-assoc double
            # arithmetic as ivf_cell_stats (n_vectors/N, n_vectors*16/N)
            "WITH vv AS (SELECT vec_id, "
            "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), "
            "sr AS (SELECT v, row_number() OVER (ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id) AS rk FROM vv), "
            "seeds AS (SELECT rk - 1 AS cid, v FROM sr WHERE rk <= 16), "
            "ac AS (SELECT vv.vec_id, s.cid, "
            "round(" + _COS.format(a="vv.v", b="s.v") + " + 1e-12, 6) AS c6 "
            "FROM vv, seeds s), "
            "asg AS (SELECT vec_id, cid FROM ("
            "SELECT vec_id, cid, row_number() OVER ("
            "PARTITION BY vec_id ORDER BY c6 DESC, cid) AS rk FROM ac) "
            "WHERE rk = 1), "
            "counts AS (SELECT cid, count(*)::BIGINT AS n_vectors "
            "FROM asg GROUP BY cid), "
            "tot AS (SELECT sum(n_vectors)::DOUBLE AS n FROM counts) "
            "SELECT cid::INTEGER AS cid, n_vectors, "
            "round(n_vectors / greatest(n, 1.0) + 1e-12, 6) AS occupancy, "
            "round(n_vectors * 16.0 / greatest(n, 1.0) + 1e-12, 6) "
            "AS load_factor FROM counts, tot"
        ),
        "sim_topk_ivf": (
            # replays the DERIVED refine_iters=0 IVF pipeline end-to-end,
            # including the parameter derivation itself: n_cells =
            # clamp(ceil(sqrt(N)), 16, 4096) and nprobe =
            # ceil(n_cells*0.6/1.5) re-derived from COUNT(*) (same
            # left-assoc double arithmetic as derive_ivf_params /
            # IvfIndex.topk), seeds = the n_cells smallest (h60, id)
            # corpus vectors, assignment/probe set = the rounded-nudged
            # cosine argmax / top-nprobe (_assign_udf + probe_cells FP
            # discipline — the sim_topk_ivfpq trick), and the final
            # within-cell rerank is the exact unrounded sequential-fold
            # cosine the sim_topk_bruteforce oracle already replays
            "WITH vv AS (SELECT vec_id, "
            "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), "
            "prm AS (SELECT GREATEST(16, LEAST(4096, "
            "CEIL(SQRT(count(*)))))::BIGINT AS n_cells FROM vv), "
            "prm2 AS (SELECT n_cells, GREATEST(1, LEAST(n_cells, "
            "CEIL(n_cells * 0.6 / 1.5)))::BIGINT AS nprobe FROM prm), "
            "sr AS (SELECT v, row_number() OVER (ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id) AS rk FROM vv), "
            "seeds AS (SELECT sr.rk - 1 AS cid, sr.v FROM sr, prm2 "
            "WHERE sr.rk <= prm2.n_cells), "
            "ac AS (SELECT vv.vec_id, s.cid, "
            "round(" + _COS.format(a="vv.v", b="s.v") + " + 1e-12, 6) AS c6 "
            "FROM vv, seeds s), "
            "asg AS (SELECT vec_id, cid FROM ("
            "SELECT vec_id, cid, row_number() OVER ("
            "PARTITION BY vec_id ORDER BY c6 DESC, cid) AS rk FROM ac) "
            "WHERE rk = 1), "
            "probes AS (SELECT t.vec_id AS qid, t.cid FROM ("
            "SELECT vec_id, cid, row_number() OVER ("
            "PARTITION BY vec_id ORDER BY c6 DESC, cid) AS rk FROM ac "
            "WHERE vec_id < 10) t, prm2 WHERE t.rk <= prm2.nprobe), "
            "sc AS (SELECT p.qid AS query_id, a.vec_id AS neighbor_id, "
            + _COS.format(a="q.v", b="n.v")
            + " AS c FROM probes p "
            "JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid "
            "JOIN vv q ON q.vec_id = p.qid "
            "JOIN vv n ON n.vec_id = a.vec_id), "
            "rk AS (SELECT query_id, neighbor_id, c, row_number() OVER ("
            "PARTITION BY query_id ORDER BY c DESC, neighbor_id)::INTEGER "
            "AS rank FROM sc) "
            "SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank "
            "FROM rk WHERE rank <= 5"
        ),
        "embedding_pq_encode": (
            # re-derives the refine_iters=0 PQ quantizer: seeds = the 16
            # corpus vectors with smallest (h60, id), sliced into 8
            # subspaces; code = argmin over the 6-dp-rounded squared L2
            # (dimension-ascending fold both engines share), ties to the
            # lower centroid index
            "WITH seeds AS (SELECT row_number() OVER (ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id) - 1 AS cid, "
            "list_transform(embedding, x -> x::DOUBLE) AS v "
            "FROM embeddings ORDER BY "
            + _dk_h60("CAST(vec_id AS VARCHAR)")
            + ", vec_id LIMIT 16), "
            "subs AS (SELECT range AS s FROM range(0, 8)), "
            "cent AS (SELECT s, cid, v[(s*8+1)::BIGINT:(s*8+8)::BIGINT] AS c "
            "FROM seeds, subs), "
            "vsub AS (SELECT vec_id, s, "
            "list_transform(embedding, x -> x::DOUBLE)"
            "[(s*8+1)::BIGINT:(s*8+8)::BIGINT] AS xs FROM embeddings, subs), "
            "dist AS (SELECT vec_id, s, cid, round(list_sum(list_transform("
            "range(1, 9), i -> (xs[i::INTEGER] - c[i::INTEGER]) * "
            "(xs[i::INTEGER] - c[i::INTEGER]))), 6) AS d6 "
            "FROM vsub JOIN cent USING (s)), "
            "best AS (SELECT vec_id, s, cid, row_number() OVER ("
            "PARTITION BY vec_id, s ORDER BY d6, cid) AS rk FROM dist) "
            "SELECT vec_id, s::INTEGER AS sub, cid::INTEGER AS code "
            "FROM best WHERE rk = 1"
        ),
        "embedding_kmeans": _kmeans_oracle_sql(k=8, iters=2),
        "embedding_nearest_centroid": (
            "WITH ex AS (SELECT label, u.pos AS pos, u.x AS x FROM ("
            "SELECT label, unnest(list_transform(range(1, len(embedding) + 1), "
            "i -> {'pos': i, 'x': embedding[i::INTEGER]::DOUBLE})) AS u "
            "FROM embeddings)), "
            "dims AS (SELECT label AS clabel, pos, avg(x) AS m FROM ex GROUP BY 1, 2), "
            "cent AS (SELECT clabel, list(m ORDER BY pos) AS c FROM dims "
            "GROUP BY clabel), "
            "vv AS (SELECT vec_id, label, "
            "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), "
            "sc AS (SELECT vec_id, label, clabel, "
            "round(" + _COS.format(a="v", b="c") + ", 6) AS s FROM vv, cent), "
            "b AS (SELECT vec_id, label, clabel, row_number() OVER ("
            "PARTITION BY vec_id ORDER BY s DESC, clabel) AS rk FROM sc) "
            "SELECT label, clabel::INTEGER AS predicted, count(*)::BIGINT AS n "
            "FROM b WHERE rk = 1 GROUP BY 1, 2"
        ),
        "text_lm_score": _lm_oracle_sql(),
        "text_min_k_prob": _min_k_prob_oracle_sql(0.2),
        "sim_bitext_mine_ivf": _bitext_ivf_oracle_sql(4, 1.0, 8),
        "text_classifier_train": _classifier_oracle_sql(16, 3, 1.0, "train"),
        "text_classifier_score": _classifier_oracle_sql(16, 3, 1.0, "score"),
        "text_classifier_calibration": _classifier_oracle_sql(
            16, 3, 1.0, "calibration"
        ),
        "text_classifier_pr_curve": _classifier_oracle_sql(
            16, 3, 1.0, "pr_curve"
        ),
        "sample_perplexity_buckets": _perplexity_buckets_oracle_sql(1 / 3, 2 / 3),
        "sample_length_buckets": (
            # ws-token lengths, the identical literal CASE chain, exact
            # integer aggregates, waste_frac as the single division
            "WITH s AS (SELECT doc_id, len(list_filter("
            "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0))"
            "::BIGINT AS n FROM documents), "
            "b AS (SELECT doc_id, n, "
            "CASE WHEN n <= 16 THEN 0 WHEN n <= 24 THEN 1 "
            "WHEN n <= 32 THEN 2 WHEN n <= 40 THEN 3 WHEN n <= 48 THEN 4 "
            "WHEN n <= 64 THEN 5 ELSE 6 END AS bucket_id, "
            "(CASE WHEN n <= 16 THEN 16 WHEN n <= 24 THEN 24 "
            "WHEN n <= 32 THEN 32 WHEN n <= 40 THEN 40 WHEN n <= 48 THEN 48 "
            "WHEN n <= 64 THEN 64 END)::BIGINT AS bucket_cap FROM s) "
            "SELECT bucket_id::INTEGER AS bucket_id, bucket_cap, "
            "count(*)::BIGINT AS n_docs, max(n)::BIGINT AS max_len, "
            "sum(n)::BIGINT AS total_tokens, "
            "(count(*) * max(n))::BIGINT AS padded_tokens, "
            "round(CASE WHEN count(*) * max(n) > 0 THEN "
            "(count(*) * max(n) - sum(n))::DOUBLE / "
            "(count(*) * max(n))::DOUBLE ELSE 0.0 END + 1e-12, 6) "
            "AS waste_frac FROM b GROUP BY 1, 2"
        ),
        "sample_moore_lewis": (
            # two add-k bigram LMs over ONE shared per-doc bigram-count
            # frame (general = everything, in-domain = lang='en'), LEFT
            # joins + exact-0 coalesce for OOV backoff, per-doc weighted
            # means on lm_score's plain 6-dp round, ce_diff from the
            # ROUNDED pair with the nudge
            "WITH staged AS (SELECT doc_id, lang = 'en' AS ind, "
            "list_filter(regexp_split_to_array(lower(text), '\\s+'), "
            "t -> len(t) > 0) AS t FROM documents), "
            "s2 AS (SELECT doc_id, ind, t FROM staged WHERE len(t) >= 2), "
            "pairs AS MATERIALIZED (SELECT doc_id, ind, u.w1 AS w1, "
            "u.w2 AS w2 FROM (SELECT doc_id, ind, "
            "unnest(list_transform(range(1, len(t)), "
            "i -> {'w1': t[i::INTEGER], 'w2': t[i::INTEGER + 1]})) AS u "
            "FROM s2)), "
            "pc AS MATERIALIZED (SELECT doc_id, ind, w1, w2, "
            "count(*)::BIGINT AS nb FROM pairs GROUP BY 1, 2, 3, 4), "
            "c2g AS (SELECT w1, w2, sum(nb)::BIGINT AS c FROM pc "
            "GROUP BY 1, 2), "
            "c1g AS (SELECT w1, sum(nb)::BIGINT AS c FROM pc GROUP BY 1), "
            "vg AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM ("
            "SELECT w1 AS w FROM pc UNION ALL SELECT w2 FROM pc)), "
            "pci AS MATERIALIZED (SELECT * FROM pc WHERE ind), "
            "c2i AS (SELECT w1, w2, sum(nb)::BIGINT AS c FROM pci "
            "GROUP BY 1, 2), "
            "c1i AS (SELECT w1, sum(nb)::BIGINT AS c FROM pci GROUP BY 1), "
            "vi AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM ("
            "SELECT w1 AS w FROM pci UNION ALL SELECT w2 FROM pci)), "
            "sc AS (SELECT pc.doc_id, pc.nb, "
            "-ln((coalesce(g2.c, 0) + 0.5) / (coalesce(g1.c, 0) + 0.5 * vg.v)) "
            "AS ng, "
            "-ln((coalesce(i2.c, 0) + 0.5) / (coalesce(i1.c, 0) + 0.5 * vi.v)) "
            "AS ni FROM pc "
            "LEFT JOIN c2g g2 USING (w1, w2) LEFT JOIN c1g g1 USING (w1) "
            "LEFT JOIN c2i i2 USING (w1, w2) LEFT JOIN c1i i1 USING (w1), "
            "vg, vi) "
            "SELECT doc_id, sum(nb)::BIGINT AS n_bigrams, "
            "round(sum(nb * ni) / sum(nb), 6) AS nll_in, "
            "round(sum(nb * ng) / sum(nb), 6) AS nll_gen, "
            "round(round(sum(nb * ni) / sum(nb), 6) - "
            "round(sum(nb * ng) / sum(nb), 6) + 1e-12, 6) AS ce_diff "
            "FROM sc GROUP BY doc_id"
        ),
        "multimodal_pair_filter": (
            "WITH i AS (SELECT vec_id // 2 AS pair_id, "
            "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings "
            "WHERE vec_id % 2 = 0), "
            "tt AS (SELECT vec_id // 2 AS pair_id, "
            "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings "
            "WHERE vec_id % 2 = 1), "
            "s AS (SELECT pair_id, round(" + _dk_cos("i.v", "tt.v") + " + 1e-12, 6) "
            "AS pair_score FROM i JOIN tt USING (pair_id) "
            "WHERE list_dot_product(i.v, i.v) > 0 "
            "AND list_dot_product(tt.v, tt.v) > 0) "
            "SELECT pair_id, pair_score FROM s WHERE pair_score >= 0.0"
        ),
        "text_unicode_normalize": (
            "WITH fx AS (SELECT doc_id, text || CASE WHEN doc_id % 3 = 0 "
            "THEN ' cafe' || chr(769) ELSE '' END AS t FROM documents), "
            "n AS (SELECT doc_id, t, nfc_normalize(t) AS nt FROM fx) "
            "SELECT doc_id, md5(nt) AS digest, (t <> nt)::INTEGER AS changed FROM n"
        ),
        "pipeline_quality_gate": (
            f"WITH l AS ({_langid_oracle_sql()}), "
            f"q AS ({_quality_oracle_sql()}), "
            f"r AS ({_repetition_oracle_sql()}), "
            f"lmq AS MATERIALIZED ({_lm_oracle_sql()}), "
            "thr AS (SELECT quantile_cont(nll, 0.9) AS p90 FROM lmq) "
            "SELECT l.doc_id, l.predicted_lang, q.quality, r.dup_ngram_frac, "
            "lmq.nll, (CASE WHEN q.quality >= 0.5 AND r.dup_ngram_frac <= 0.3 "
            "AND lmq.nll <= thr.p90 THEN 1 ELSE 0 END) AS keep "
            "FROM l JOIN q ON l.doc_id = q.doc_id "
            "JOIN r ON l.doc_id = r.doc_id "
            "JOIN lmq ON l.doc_id = lmq.doc_id, thr"
        ),
        "text_tfidf_topterms": (
            "WITH toks AS (SELECT doc_id, unnest(list_filter("
            "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS term "
            "FROM documents), "
            "tf AS MATERIALIZED (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2), "
            "dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1), "
            "n AS (SELECT count(*)::DOUBLE AS nd FROM documents), "
            "s AS (SELECT doc_id, term, round(tf * ln(nd / df), 6) AS tfidf "
            "FROM tf JOIN dfq USING (term), n), "
            "r AS (SELECT doc_id, term, tfidf, row_number() OVER "
            "(PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank FROM s) "
            "SELECT doc_id, term, tfidf, rank::INTEGER AS rank FROM r WHERE rank <= 3"
        ),
        "text_bm25_topk": (
            # mirrors text.bm25_topk(k=10, k1=1.2, b=0.75) over the five
            # fixed _BM25_QUERIES: Lucene idf ln(1+(N-df+.5)/(df+.5)),
            # dl = sum(tf) per doc (so token-less docs count in N and
            # avgdl only), per-(query, doc) sum nudge-rounded to 6 dp
            # BEFORE the rank, doc-id tiebreaks
            "WITH q(query_id, query_text) AS (VALUES "
            "(1, 'filter merge join'), (2, 'customer order line'), "
            "(3, 'window sort hash scan'), (4, 'slow query batch'), "
            "(5, 'data stream value table')), "
            "qt AS (SELECT DISTINCT query_id::BIGINT AS query_id, term FROM ("
            "SELECT query_id, unnest(list_filter("
            "regexp_split_to_array(lower(query_text), '\\s+'), t -> len(t) > 0)"
            ") AS term FROM q)), "
            "toks AS (SELECT doc_id, unnest(list_filter("
            "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS term "
            "FROM documents), "
            "tf AS MATERIALIZED (SELECT doc_id, term, count(*)::BIGINT AS tf "
            "FROM toks GROUP BY 1, 2), "
            "dl AS MATERIALIZED (SELECT doc_id, sum(tf)::BIGINT AS dl "
            "FROM tf GROUP BY 1), "
            "st AS (SELECT (SELECT count(*)::DOUBLE FROM documents) AS nd, "
            "(SELECT coalesce(sum(tf), 0)::DOUBLE FROM tf) AS tok), "
            "tfq AS MATERIALIZED (SELECT tf.* FROM tf "
            "JOIN (SELECT DISTINCT term FROM qt) v USING (term)), "
            "dfq AS (SELECT term, count(*)::BIGINT AS df FROM tfq GROUP BY 1), "
            "s AS (SELECT qt.query_id, t.doc_id, "
            "round(sum(ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * "
            "(t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / (tok / nd))))) "
            "+ 1e-12, 6) AS bm25 "
            "FROM qt JOIN tfq t USING (term) JOIN dfq USING (term) "
            "JOIN dl ON dl.doc_id = t.doc_id, st GROUP BY 1, 2), "
            "r AS (SELECT query_id, doc_id, bm25, row_number() OVER "
            "(PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank FROM s) "
            "SELECT query_id, doc_id, bm25, rank::INTEGER AS rank "
            "FROM r WHERE rank <= 10"
        ),
        "text_rocchio_prf": _rocchio_oracle_sql(fb_docs=3, fb_terms=2, k=10),
        "text_token_budget": (
            # mirrors pipeline/text.token_budget(group_cols=[source, lang])
            "SELECT source, lang, count(*)::BIGINT AS n_docs, "
            "sum(len(list_filter(regexp_split_to_array(text, '\\s+'), "
            "t -> len(t) > 0)))::BIGINT AS total_ws_tokens, "
            "sum(len(regexp_extract_all(text, "
            "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))::BIGINT AS total_bpe_tokens, "
            "sum(length(text))::BIGINT AS total_chars "
            "FROM documents GROUP BY source, lang"
        ),
        "text_bpe_merges": _bpe_oracle_sql(10),
        "text_bpe_encode": _bpe_oracle_sql(10, output="encode"),
        "sim_topk_mmr": _mmr_oracle_sql(nq=8, k=5, m=20, lam=0.5),
        "sim_hybrid_rrf": _hybrid_rrf_oracle_sql(k=10, m=50, kappa=60),
        "sample_domain_reweight": _domain_reweight_oracle_sql(
            iters=3, eta=0.5, smoothing=0.2
        ),
        "sample_curriculum_order": _curriculum_oracle_sql(
            n_stages=3, n_shards=8, seed=0
        ),
        "profile_dataset_card": _dataset_card_oracle_sql(),
        "profile_benford_audit": _benford_oracle_sql(),
        "profile_distribution_drift": (
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
        ),
        "profile_dp_counts": _dp_counts_oracle_sql(epsilon=1.0, seed=42),
        "scale_zorder_layout": _zorder_oracle_sql(bits=8, shift=11),
        "scale_zone_map_audit": (
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
        ),
        "sample_epochs_report": (
            # mirrors sampling.epochs_report(weights=_EPOCHS_WEIGHTS,
            # budget_epochs=3.0, max_epochs=4.0): same IEEE expression
            # trees — alloc = floor(w * (3.0 * T)), cap = floor(4.0 *
            # group_tokens), ratios nudge-rounded to 6 dp
            "WITH tk AS (SELECT lang, count(*)::BIGINT AS n_docs, "
            "sum(len(list_filter(regexp_split_to_array(text, '\\s+'), "
            "t -> len(t) > 0)))::BIGINT AS group_tokens "
            "FROM documents GROUP BY lang), "
            "tt AS (SELECT sum(group_tokens)::BIGINT AS t FROM tk), "
            "w(lang, w) AS (VALUES ('en', 0.1), ('de', 0.05), "
            "('es', 0.05), ('fr', 0.05), ('zh', 0.75)), "
            "a AS (SELECT tk.lang, n_docs, group_tokens, "
            "coalesce(w.w, 0.0) AS weight, "
            "floor(coalesce(w.w, 0.0) * (3.0 * t))::BIGINT AS alloc_tokens, "
            "floor(4.0 * group_tokens)::BIGINT AS cap "
            "FROM tk LEFT JOIN w USING (lang), tt) "
            "SELECT lang, n_docs, group_tokens, "
            "round(weight + 1e-12, 6) AS weight, alloc_tokens, "
            "round(alloc_tokens / greatest(group_tokens, 1)::DOUBLE "
            "+ 1e-12, 6) AS epochs, "
            "round(least(alloc_tokens / greatest(group_tokens, 1)::DOUBLE, "
            "4.0) + 1e-12, 6) AS capped_epochs, "
            "least(alloc_tokens, cap) AS effective_tokens, "
            "alloc_tokens - least(alloc_tokens, cap) AS excess_tokens, "
            "alloc_tokens > cap AS over_cap FROM a"
        ),
        "scale_compaction_plan": (
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
        ),
        "pipeline_forget_cascade": _forget_cascade_oracle_sql(),
        "rollup_incremental_refresh": (
            # the FULL recompute — hash equality against the Spark
            # side's base+delta merge proves the maintenance identity
            "SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, "
            "count(*)::BIGINT AS n_events, "
            "round(sum(value) + 1e-12, 6) AS sum_value "
            "FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')"
        ),
        "sim_index_persist": _ivf_fixed_oracle_sql(n_cells=16, nprobe=4),
        "sim_index_incremental": _ivf_fixed_oracle_sql(
            n_cells=16, nprobe=4, seed_filter="vec_id % 10 <> 0"
        ),
        "text_repetition_stats": _repetition_oracle_sql(),
        "fulltext_phrase_search": _phrase_oracle_sql(),
        "profile_k_anonymity": (
            "SELECT event_type, floor(value / 20)::BIGINT AS value_band, "
            "count(*)::BIGINT AS class_size, (count(*) < 5) AS violates_k "
            "FROM events GROUP BY 1, 2"
        ),
        "profile_l_diversity": (
            "WITH vc AS (SELECT event_type, "
            "floor(value / 20)::BIGINT AS value_band, "
            "user_id % 97 AS sv, count(*)::BIGINT AS n "
            "FROM events GROUP BY 1, 2, 3) "
            "SELECT event_type, value_band, sum(n)::BIGINT AS class_size, "
            "count(*)::BIGINT AS l_distinct, max(n)::BIGINT AS top_sensitive_n, "
            "(count(*) < 3) AS violates_l FROM vc GROUP BY 1, 2"
        ),
        "profile_stat_drift": (
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
        ),
        "profile_json_keys": (
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
        ),
        "sample_weighted": (
            "WITH kx AS (SELECT doc_id, source, n_chars, round(pow("
            + _dk_h60("'42:' || doc_id")
            + " / 1152921504606846976.0, 1.0 / n_chars), 9) AS wk "
            "FROM documents WHERE n_chars > 0), "
            "r AS (SELECT doc_id, source, n_chars, row_number() OVER ("
            "PARTITION BY source ORDER BY wk DESC, doc_id) AS rk FROM kx) "
            "SELECT doc_id, source, n_chars FROM r WHERE rk <= 20"
        ),
        "sample_negatives": (
            # re-derives bucket membership, probe targets, and the
            # (score, partner) argmin from the shared md5-h60 arithmetic
            "WITH m AS (SELECT "
            + _dk_h60("'42:m:' || doc_id")
            + " % 32 AS b, doc_id AS partner_id FROM documents), "
            "p AS (SELECT doc_id, u.slot AS slot, "
            + _dk_h60("'42:p:' || doc_id || ':' || u.slot")
            + " % 32 AS b FROM documents, "
            "unnest([0, 1, 2]) AS u(slot)), "
            "c AS (SELECT p.doc_id, p.slot, m.partner_id, "
            + _dk_h60("'42:w:' || p.doc_id || ':' || p.slot || ':' || m.partner_id")
            + " AS s FROM p JOIN m ON p.b = m.b WHERE m.partner_id <> p.doc_id), "
            "r AS (SELECT doc_id, slot, partner_id, row_number() OVER ("
            "PARTITION BY doc_id, slot ORDER BY s, partner_id) AS rk FROM c) "
            "SELECT doc_id, slot::INTEGER AS slot, partner_id FROM r WHERE rk = 1"
        ),
        "text_chunk_documents": (
            # same integer start enumeration: 1 + k*24 for
            # k in [0, ceil(max(len-32,0)/24)], tail chunk may be short
            "WITH toks AS (SELECT doc_id, list_filter("
            "regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) AS t "
            "FROM documents), "
            "st AS (SELECT doc_id, t, k::INTEGER AS chunk_idx, "
            "(1 + k * 24)::INTEGER AS start_tok FROM ("
            "SELECT doc_id, t, unnest(range(0, 1 + "
            "((greatest(len(t) - 32, 0) + 23) // 24))) AS k "
            "FROM toks WHERE len(t) > 0)), "
            "c AS (SELECT doc_id, chunk_idx::INTEGER AS chunk_idx, start_tok, "
            "t[start_tok : start_tok + 31] AS ck FROM st) "
            "SELECT doc_id, chunk_idx, start_tok, len(ck)::INTEGER AS n_tokens, "
            "md5(array_to_string(ck, ' ')) AS chunk_digest FROM c"
        ),
        "pipeline_rag_prep": (
            # chunk -> len>=16 filter -> h60 split -> per-split totals
            "WITH toks AS (SELECT doc_id, list_filter("
            "regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) AS t "
            "FROM documents), "
            "st AS (SELECT doc_id, t, k::INTEGER AS chunk_idx, "
            "(1 + k * 24)::INTEGER AS start_tok FROM ("
            "SELECT doc_id, t, unnest(range(0, 1 + "
            "((greatest(len(t) - 32, 0) + 23) // 24))) AS k "
            "FROM toks WHERE len(t) > 0)), "
            "c AS (SELECT doc_id || ':' || chunk_idx AS chunk_id, "
            "len(t[start_tok : start_tok + 31])::BIGINT AS n_tokens FROM st), "
            "kept AS (SELECT chunk_id, n_tokens, "
            + _dk_h60("'42:' || chunk_id")
            + " % 10000 AS b FROM c WHERE n_tokens >= 16), "
            "sp AS (SELECT chunk_id, n_tokens, CASE WHEN b < 9800 THEN 'train' "
            "WHEN b < 9900 THEN 'valid' ELSE 'test' END AS split FROM kept) "
            "SELECT split, count(*)::BIGINT AS n_chunks, "
            "sum(n_tokens)::BIGINT AS total_tokens, "
            "min(chunk_id) AS first_chunk FROM sp GROUP BY split"
        ),
        "text_cooccurrence": (
            # naive (doc, token) self-join — independent of the in-row
            # pair expansion the Spark side uses
            "WITH ex AS (SELECT DISTINCT doc_id, unnest(list_filter("
            "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS token "
            "FROM documents), "
            "dfq AS (SELECT token, count(*)::BIGINT AS n_docs FROM ex GROUP BY token "
            "ORDER BY n_docs DESC, token LIMIT 30), "
            "kept AS (SELECT ex.doc_id, ex.token FROM ex JOIN dfq USING (token)), "
            "pc AS (SELECT a.token AS ta, b.token AS tb, count(*)::BIGINT AS n_ab "
            "FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.token < b.token "
            "GROUP BY 1, 2), "
            "nn AS (SELECT count(*)::DOUBLE AS N FROM documents), "
            "sc AS (SELECT ta, tb, n_ab, round(ln(n_ab * N / "
            "(da.n_docs * db.n_docs)), 6) AS pmi "
            "FROM pc JOIN dfq da ON pc.ta = da.token "
            "JOIN dfq db ON pc.tb = db.token, nn), "
            "r AS (SELECT *, row_number() OVER (ORDER BY n_ab DESC, ta, tb) AS rk "
            "FROM sc) SELECT ta, tb, n_ab, pmi FROM r WHERE rk <= 40"
        ),
        "text_vocabulary": (
            "WITH toks AS (SELECT unnest(list_filter("
            "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS token "
            "FROM documents), "
            "c AS (SELECT token, count(*)::BIGINT AS n_occurrences FROM toks "
            "GROUP BY token HAVING count(*) >= 2 "
            "ORDER BY n_occurrences DESC, token LIMIT 200) "
            "SELECT row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank, "
            "token, n_occurrences FROM c"
        ),
        "text_feature_hashing": (
            "WITH toks AS (SELECT doc_id, unnest(list_filter("
            "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS token "
            "FROM documents) "
            "SELECT doc_id, "
            "((('0x' || substring(md5(token), 1, 15))::UBIGINT::BIGINT) % 256)::INT AS bucket, "
            "count(*)::BIGINT AS n_tokens "
            "FROM toks GROUP BY doc_id, bucket"
        ),
        "text_hash_embedding": (
            "WITH toks AS (SELECT doc_id, unnest(list_filter("
            "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS token "
            "FROM documents), "
            "fh AS (SELECT doc_id, "
            "((('0x' || substring(md5(token), 1, 15))::UBIGINT::BIGINT) % 256)::INT AS bucket, "
            "count(*)::BIGINT AS n FROM toks GROUP BY doc_id, bucket), "
            "comp AS (SELECT doc_id, d.dim, "
            "sum(n * (1 - 2 * ((('0x' || substring(md5(d.dim::VARCHAR || ':' || bucket::VARCHAR), 1, 15))::UBIGINT::BIGINT) % 2)))::BIGINT AS c "
            "FROM fh, (SELECT unnest(range(0, 16)) AS dim) d GROUP BY doc_id, d.dim) "
            "SELECT doc_id, dim, round(CASE WHEN nrm > 0 THEN c / nrm ELSE 0.0 END, 6) AS value "
            "FROM (SELECT doc_id, dim, c, "
            "sqrt(sum(c * c) OVER (PARTITION BY doc_id)) AS nrm FROM comp)"
        ),
        "profile_value_histogram": (
            "WITH s AS (SELECT min(value::DOUBLE) AS lo, max(value::DOUBLE) AS hi "
            "FROM events), "
            "b AS (SELECT (CASE WHEN hi = lo THEN 0 ELSE "
            "least(floor((value::DOUBLE - lo) / ((hi - lo) / 20)), 19) END)::INTEGER "
            "AS bin, lo, hi FROM events, s) "
            "SELECT bin, round(lo + bin * (hi - lo) / 20, 6) AS bin_lo, "
            "round(lo + (bin + 1) * (hi - lo) / 20, 6) AS bin_hi, "
            "count(*)::BIGINT AS n FROM b GROUP BY bin, lo, hi"
        ),
        "text_duplicate_spans": (
            # re-derives the recrawl corpus, the positioned 5-grams, the
            # distinct-doc frequency filter, and the islands-and-gaps
            # span merge (break when the position gap exceeds n-1)
            "WITH corpus AS (SELECT doc_id, text FROM documents "
            "UNION ALL SELECT doc_id + 1000000, "
            "'RECRAWL ' || doc_id || ' ' || text FROM documents WHERE doc_id % 3 = 0), "
            "toks AS (SELECT doc_id, list_filter("
            "regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) AS t FROM corpus), "
            "grams AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM ("
            "SELECT doc_id, unnest(list_transform(range(1, len(t) - 3), i -> "
            "{'pos': i::INTEGER, 'gram': array_to_string("
            "t[i::INTEGER : i::INTEGER + 4], ' ')})) AS u "
            "FROM toks WHERE len(t) >= 5)), "
            "dfq AS (SELECT gram FROM grams GROUP BY gram "
            "HAVING count(DISTINCT doc_id) >= 2), "
            "dup AS (SELECT g.doc_id, g.pos FROM grams g JOIN dfq USING (gram)), "
            "isl AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER "
            "(PARTITION BY doc_id ORDER BY pos) <= 4 THEN 0 ELSE 1 END AS brk FROM dup), "
            "sp AS (SELECT doc_id, pos, sum(brk) OVER "
            "(PARTITION BY doc_id ORDER BY pos) AS span_id FROM isl) "
            "SELECT doc_id, min(pos)::INTEGER AS span_start, "
            "(max(pos) + 4)::INTEGER AS span_end, "
            "(max(pos) + 4 - min(pos) + 1)::INTEGER AS n_dup_tokens "
            "FROM sp GROUP BY doc_id, span_id"
        ),
        "text_fim_transform": (
            # replays fim_transform: select/mode via integer h60
            # residues vs rate*1e6, cuts = sorted pair of h60 % (len+1),
            # parts via 1-indexed substring arithmetic, PSM/SPM sentinel
            # serialization; 'none' docs pass through unchanged
            "WITH base AS (SELECT doc_id, text, length(text) AS ln, "
            + _dk_h60("CAST(doc_id AS VARCHAR) || ':fim'")
            + " % 1000000 AS uf, "
            + _dk_h60("CAST(doc_id AS VARCHAR) || ':spm'")
            + " % 1000000 AS um, "
            + _dk_h60("CAST(doc_id AS VARCHAR) || ':c1'")
            + " AS h1, "
            + _dk_h60("CAST(doc_id AS VARCHAR) || ':c2'")
            + " AS h2 FROM documents), "
            "cut AS (SELECT doc_id, text, ln, "
            "(ln >= 20 AND uf < 600000) AS sel, um < 500000 AS spm, "
            "LEAST(h1 % (ln + 1), h2 % (ln + 1))::INTEGER AS lo, "
            "GREATEST(h1 % (ln + 1), h2 % (ln + 1))::INTEGER AS hi "
            "FROM base), "
            "p AS (SELECT *, substring(text, 1, lo) AS pre, "
            "substring(text, lo + 1, hi - lo) AS mid, "
            "substring(text, hi + 1, ln - hi) AS suf FROM cut) "
            "SELECT doc_id, "
            "CASE WHEN NOT sel THEN 'none' WHEN spm THEN 'spm' "
            "ELSE 'psm' END AS mode, "
            "CASE WHEN sel THEN lo END AS fim_lo, "
            "CASE WHEN sel THEN hi END AS fim_hi, "
            "CASE WHEN sel THEN pre END AS prefix, "
            "CASE WHEN sel THEN mid END AS middle, "
            "CASE WHEN sel THEN suf END AS suffix, "
            "CASE WHEN NOT sel THEN text "
            "WHEN spm THEN '<PRE><SUF>' || suf || '<MID>' || pre || mid "
            "ELSE '<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid "
            "END AS formatted FROM p"
        ),
        "text_span_corruption": (
            # replays span_corruption: S = floor(n*0.15/3) equal-width
            # segments, per-segment h60-drawn span length (1 + h%5,
            # clamped) and start, sentinel-marked inputs via an index
            # classification list, targets via per-span slices + the
            # closing <extra_id_S>; under-20-token docs pass through
            "WITH d AS (SELECT doc_id, text, "
            "list_filter(regexp_split_to_array(text, '\\s+'), "
            "w -> len(w) > 0) AS t FROM documents), "
            "m AS (SELECT doc_id, text, t, len(t)::BIGINT AS n FROM d), "
            "el AS (SELECT doc_id, text, t, n, GREATEST(1, "
            "floor(n * 0.15::DOUBLE / 3.0::DOUBLE)::BIGINT) AS s "
            "FROM m WHERE n >= 20), "
            "sg AS (SELECT *, floor(n::DOUBLE / s)::BIGINT AS seg FROM el), "
            "ls AS (SELECT *, list_transform(range(0, s), k -> LEAST(1 + "
            + _dk_h60("CAST(doc_id AS VARCHAR) || ':sc-len:' || CAST(k AS VARCHAR)")
            + " % 5, seg)) AS ll FROM sg), "
            "ss AS (SELECT *, list_transform(range(0, s), k -> k * seg + "
            + _dk_h60("CAST(doc_id AS VARCHAR) || ':sc-pos:' || CAST(k AS VARCHAR)")
            + " % (seg - list_extract(ll, (k + 1)::INTEGER) + 1)) AS sl "
            "FROM ls), "
            "inp AS (SELECT *, array_to_string(list_filter("
            "list_transform(range(0, n), i -> CASE WHEN (i // seg) < s "
            "AND i >= list_extract(sl, ((i // seg) + 1)::INTEGER) "
            "AND i < list_extract(sl, ((i // seg) + 1)::INTEGER) "
            "+ list_extract(ll, ((i // seg) + 1)::INTEGER) "
            "THEN CASE WHEN i = list_extract(sl, ((i // seg) + 1)::INTEGER) "
            "THEN '<extra_id_' || (i // seg) || '>' ELSE '' END "
            "ELSE list_extract(t, (i + 1)::INTEGER) END), "
            "x -> len(x) > 0), ' ') AS inputs FROM ss), "
            "tg AS (SELECT *, array_to_string(list_transform(range(0, s), "
            "k -> '<extra_id_' || k || '> ' || array_to_string("
            "list_slice(t, (list_extract(sl, (k + 1)::INTEGER) + 1)::INTEGER, "
            "(list_extract(sl, (k + 1)::INTEGER) "
            "+ list_extract(ll, (k + 1)::INTEGER))::INTEGER), ' ')), ' ') "
            "|| ' <extra_id_' || s || '>' AS targets, "
            "list_sum(ll)::BIGINT AS n_masked FROM inp) "
            "SELECT doc_id, n AS n_tokens, s AS n_spans, n_masked, "
            "inputs, targets FROM tg "
            "UNION ALL SELECT doc_id, n, 0::BIGINT, 0::BIGINT, text, '' "
            "FROM m WHERE n < 20"
        ),
        "text_readability": (
            # re-derives the punctuation-stamped fixture, then the exact
            # word / sentence-run / vowel-run counts and both scores on
            # the identical left-associated IEEE tree
            "WITH d AS (SELECT doc_id, "
            "replace(replace(text, 'merge', 'merge.'), 'scan', 'scan!') "
            "AS t FROM documents), "
            "s AS (SELECT doc_id, "
            "list_filter(regexp_split_to_array(lower(t), '\\s+'), "
            "w -> len(w) > 0) AS toks, "
            "len(regexp_extract_all(lower(t), '[.!?]+')) AS sruns, "
            "len(regexp_extract_all(lower(t), '[aeiouy]+')) AS vruns "
            "FROM d), "
            "m AS (SELECT doc_id, len(toks) AS nw, "
            "greatest(sruns, 1) AS ns, "
            "vruns + len(list_filter(toks, "
            "w -> NOT regexp_matches(w, '[aeiouy]'))) AS sy FROM s) "
            "SELECT doc_id, nw::BIGINT AS n_words, ns::BIGINT AS n_sentences, "
            "sy::BIGINT AS n_syllables, "
            "round(CASE WHEN nw > 0 THEN 206.835 - 1.015 * "
            "(nw::DOUBLE / ns::DOUBLE) - 84.6 * (sy::DOUBLE / nw::DOUBLE) END "
            "+ 1e-12, 6) AS flesch, "
            "round(CASE WHEN nw > 0 THEN 0.39 * (nw::DOUBLE / ns::DOUBLE) + "
            "11.8 * (sy::DOUBLE / nw::DOUBLE) - 15.59 END + 1e-12, 6) "
            "AS fk_grade FROM m"
        ),
        "text_gopher_rules": (
            # re-derives the stamped fixture and the full Gopher rule
            # table (Rae et al. 2021 A1.1): ws tokens, newline lines,
            # non-overlapping replace arithmetic for #/... counts,
            # 6-dp-rounded ratios, flags derived FROM the rounded
            # columns, keep = AND of the seven rules
            "WITH d AS (SELECT doc_id, "
            "concat(CASE WHEN doc_id % 5 = 0 THEN '- ' ELSE '' END, text, "
            "CASE WHEN doc_id % 6 = 0 THEN ' 0 1 2 3 4 5 6 7 8 9 10 11 12 13' "
            "ELSE '' END, "
            "CASE WHEN doc_id % 4 = 0 THEN ' # # #' ELSE '' END, "
            "CASE WHEN doc_id % 7 = 0 THEN ' ...' ELSE '' END, "
            "CASE WHEN doc_id % 5 = 0 THEN chr(10) || '- ' || text ELSE '' END"
            ") AS t FROM documents), "
            "s AS (SELECT doc_id, t, "
            "list_filter(regexp_split_to_array(t, '\\s+'), w -> len(w) > 0) AS toks, "
            "string_split(t, chr(10)) AS lines FROM d), "
            "m AS (SELECT doc_id, len(toks) AS n_words, "
            "greatest(len(toks), 1)::DOUBLE AS nwd, "
            "greatest(len(lines), 1)::DOUBLE AS nld, "
            "length(regexp_replace(t, '\\s+', '', 'g')) AS charlen, "
            "length(t) - length(replace(t, '#', '')) AS nhash, "
            "(length(t) - length(replace(t, '...', ''))) / 3 AS nell, "
            "len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %' "
            "OR l LIKE '• %')) AS nbul, "
            "len(list_filter(lines, l -> l LIKE '%...')) AS nelll, "
            "len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS nalpha, "
            "len(list_intersect(list_distinct(list_transform(toks, w -> lower(w))), "
            "['a', 'data', 'key', 'window', 'scan'])) AS nstop FROM s), "
            "r AS (SELECT doc_id, n_words::BIGINT AS n_words, "
            "round(charlen / nwd + 1e-12, 6) AS mean_word_len, "
            "round((nhash + nell) / nwd + 1e-12, 6) AS symbol_word_ratio, "
            "round(nbul / nld + 1e-12, 6) AS bullet_line_ratio, "
            "round(nelll / nld + 1e-12, 6) AS ellipsis_line_ratio, "
            "round(nalpha / nwd + 1e-12, 6) AS alpha_word_ratio, "
            "nstop::BIGINT AS n_stop_words FROM m), "
            "f AS (SELECT *, "
            "(n_words BETWEEN 50 AND 100000) AS pass_word_count, "
            "(mean_word_len BETWEEN 3.0 AND 10.0) AS pass_mean_word_len, "
            "(symbol_word_ratio <= 0.1) AS pass_symbol_ratio, "
            "(bullet_line_ratio <= 0.9) AS pass_bullet_lines, "
            "(ellipsis_line_ratio <= 0.3) AS pass_ellipsis_lines, "
            "(alpha_word_ratio >= 0.8) AS pass_alpha_words, "
            "(n_stop_words >= 2) AS pass_stop_words FROM r) "
            "SELECT *, (pass_word_count AND pass_mean_word_len AND "
            "pass_symbol_ratio AND pass_bullet_lines AND pass_ellipsis_lines "
            "AND pass_alpha_words AND pass_stop_words) AS keep FROM f"
        ),
        "text_boilerplate": (
            # independently re-derives the fixture and re-implements
            # detect (per-source line doc-frequency >= 0.5) + strip +
            # ordered reassembly in SQL
            "WITH b AS (SELECT doc_id, source, '== ' || source || "
            "' newsletter ==' || chr(10) || text || chr(10) || "
            "'unsubscribe at ' || source || '.example.com' AS text FROM documents), "
            "p AS (SELECT doc_id, source, string_split(text, chr(10)) AS parts FROM b), "
            "ld AS (SELECT DISTINCT doc_id, source, line FROM "
            "(SELECT doc_id, source, trim(unnest(parts)) AS line FROM p) "
            "WHERE len(line) >= 3), "
            "lf AS (SELECT source, line, count(*) AS nd FROM ld GROUP BY source, line), "
            "tot AS (SELECT source, count(*) AS n FROM b GROUP BY source), "
            "boiler AS (SELECT lf.source, lf.line FROM lf JOIN tot ON lf.source = tot.source "
            "WHERE round(nd * 1.0 / n, 6) >= 0.5), "
            "lines AS (SELECT doc_id, source, unnest(list_transform(parts, "
            "(x, i) -> struct_pack(pos := i, line := x))) AS s FROM p), "
            "kept AS (SELECT l.doc_id, l.s.pos AS pos, l.s.line AS line FROM lines l "
            "ANTI JOIN boiler bo ON l.source = bo.source AND trim(l.s.line) = bo.line), "
            "agg AS (SELECT doc_id, count(*) AS n_kept, "
            "string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id), "
            "nl AS (SELECT doc_id, len(parts) AS n_lines FROM p) "
            "SELECT nl.doc_id, nl.n_lines::INT AS n_lines, "
            "(nl.n_lines - agg.n_kept)::INT AS n_removed, agg.clean_text "
            "FROM nl JOIN agg ON nl.doc_id = agg.doc_id"
        ),
        "text_line_quality": (
            # mirrors pipeline/text.line_quality: keep a trimmed line iff
            # len >= 20 AND ws-tokens >= 3 AND digit fraction <= 0.5
            "WITH fx AS (SELECT doc_id, 'ok' || chr(10) || text || chr(10) || "
            "'HOME | ABOUT' || chr(10) || '404 503 2024 17 42 99' || "
            "CASE WHEN doc_id % 3 = 0 THEN chr(10) || "
            "'the quick brown fox jumps over the lazy dog today' ELSE '' END AS text "
            "FROM documents), "
            "p AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM fx), "
            "k AS (SELECT doc_id, len(parts) AS n_lines, list_filter(parts, "
            "l -> len(trim(l)) >= 20 AND "
            "len(list_filter(regexp_split_to_array(trim(l), '\\s+'), w -> len(w) > 0)) >= 3 "
            "AND (len(trim(l)) - len(regexp_replace(trim(l), '[0-9]', '', 'g'))) * 1.0 "
            "/ greatest(len(trim(l)), 1) <= 0.5) AS kept FROM p) "
            "SELECT doc_id, n_lines::INT AS n_lines, len(kept)::INT AS n_kept, "
            "round(len(kept) * 1.0 / greatest(n_lines, 1), 6) AS kept_frac, "
            "array_to_string(kept, chr(10)) AS clean_text FROM k"
        ),
        "text_pii_redact": (
            # mirrors pipeline/text.pii_scan patterns + redaction order
            # (email -> ssn -> phone -> ip); RE2 and java.util.regex agree
            # on these constructs
            "WITH fx AS (SELECT doc_id, text || ' contact user' || doc_id::VARCHAR || "
            "'@example.com' || "
            "CASE WHEN doc_id % 2 = 0 THEN ' call 555-867-5309' ELSE '' END || "
            "CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END || "
            "CASE WHEN doc_id % 7 = 0 THEN ' node 10.0.0.7 up' ELSE '' END AS text "
            "FROM documents) "
            "SELECT doc_id, "
            "len(regexp_extract_all(text, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT AS n_emails, "
            "len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b'))::INT AS n_ssns, "
            "len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b'))::INT AS n_phones, "
            "len(regexp_extract_all(text, "
            "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::INT AS n_ips, "
            "(len(regexp_extract_all(text, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) + "
            "len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) + "
            "len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) + "
            "len(regexp_extract_all(text, "
            "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) > 0) AS has_pii, "
            "regexp_replace(regexp_replace(regexp_replace(regexp_replace(text, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
            "'\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'), "
            "'\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'), "
            "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') "
            "AS redacted_text FROM fx"
        ),
        # Multimodal oracles work on the exact UTF-8 bytes of documents.text
        # via hex(encode(text)) — byte i (0-indexed) is the 2-char hex slice
        # at position 2i+1 — so they stay byte-exact even for non-ASCII text.
        # (frame_digest additionally relies on chars==bytes, verified: all
        # driver SFs are pure ASCII.)
        "multimodal_fake_decode": (
            # mirrors pipeline/multimodal.fake_decode_features(bins=16):
            # byte-value histogram over payload = encode(text, 'UTF-8')
            "WITH hx AS (SELECT doc_id, hex(encode(text)) AS h, "
            "octet_length(encode(text)) AS nb FROM documents), "
            "b AS (SELECT doc_id, unnest(range(1, nb + 1)) AS i FROM hx), "
            "byt AS (SELECT b.doc_id, (('0x' || substring(hx.h, (2*b.i - 1)::INTEGER, 2))"
            "::INTEGER) % 16 AS bin FROM b JOIN hx USING (doc_id)), "
            "cnt AS (SELECT doc_id, bin, count(*)::INTEGER AS bin_count "
            "FROM byt GROUP BY doc_id, bin), "
            "grid AS (SELECT doc_id, unnest(range(0, 16)) AS bin FROM hx) "
            "SELECT grid.doc_id, hx.nb::INTEGER AS n_bytes, grid.bin::INTEGER AS bin, "
            "coalesce(cnt.bin_count, 0)::INTEGER AS bin_count "
            "FROM grid JOIN hx ON grid.doc_id = hx.doc_id "
            "LEFT JOIN cnt ON cnt.doc_id = grid.doc_id AND cnt.bin = grid.bin"
        ),
        "multimodal_resize": (
            # mirrors pipeline/multimodal.resize_images(width=4, height=4):
            # cell i average-pools bytes [i*n//16, max((i+1)*n//16, lo+1))
            "WITH hx AS (SELECT doc_id, hex(encode(text)) AS h, "
            "octet_length(encode(text)) AS n FROM documents), "
            "c AS (SELECT doc_id, unnest(range(0, 16)) AS cell FROM hx), "
            "seg AS (SELECT c.doc_id, c.cell, hx.h, (c.cell * hx.n) // 16 AS lo, "
            "least(greatest(((c.cell + 1) * hx.n) // 16, (c.cell * hx.n) // 16 + 1), hx.n) AS hi "
            "FROM c JOIN hx USING (doc_id)), "
            "px AS (SELECT doc_id, cell, CASE WHEN hi <= lo THEN 0 ELSE "
            "list_sum(list_transform(range(lo, hi), "
            "j -> ('0x' || substring(h, (2*j + 1)::INTEGER, 2))::INTEGER)) // (hi - lo) "
            "END AS pixel FROM seg) "
            "SELECT doc_id, 4 AS width, 4 AS height, cell::INTEGER AS cell, "
            "pixel::INTEGER AS pixel FROM px"
        ),
        "pipeline_multimodal_end_to_end": (
            # frames = every 4th 64-byte chunk (ASCII precondition as in
            # multimodal_frame_sample); each frame average-pools into a
            # 2x2 grid with the resize segment formula over fn bytes
            "WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n "
            "FROM documents), "
            "f AS (SELECT doc_id, unnest(range(0, (n + 63) // 64, 4)) AS fi, text FROM d), "
            "fr AS (SELECT doc_id, fi, substring(text, (fi * 64 + 1)::INTEGER, 64) AS ftxt FROM f), "
            "hx AS (SELECT doc_id, fi, hex(encode(ftxt)) AS h, "
            "octet_length(encode(ftxt)) AS fn FROM fr), "
            "c AS (SELECT doc_id, fi, h, fn, unnest(range(0, 4)) AS cell FROM hx), "
            "seg AS (SELECT doc_id, fi, cell, h, fn, (cell * fn) // 4 AS lo, "
            "least(greatest(((cell + 1) * fn) // 4, (cell * fn) // 4 + 1), fn) AS hi FROM c), "
            "px AS (SELECT doc_id, fi, cell, CASE WHEN hi <= lo THEN 0 ELSE "
            "list_sum(list_transform(range(lo, hi), "
            "j -> ('0x' || substring(h, (2 * j + 1)::INTEGER, 2))::INTEGER)) // (hi - lo) "
            "END AS pixel FROM seg) "
            "SELECT doc_id, fi::INTEGER AS frame_index, cell::INTEGER AS cell, "
            "pixel::INTEGER AS pixel FROM px"
        ),
        "multimodal_scene_cuts": (
            # replays 64-byte chunking, per-frame ascii-code energy, the
            # lag delta, and the integer cut decision (ASCII corpus:
            # byte == ascii(char))
            "WITH d AS (SELECT doc_id, text, length(text) AS n "
            "FROM documents), "
            "f AS (SELECT doc_id, unnest(range(0, (n + 63) // 64)) AS fi, "
            "text FROM d), "
            "e AS (SELECT doc_id, fi::BIGINT AS frame_index, "
            "list_sum(list_transform(string_split("
            "substring(text, (fi * 64 + 1)::BIGINT, 64), ''), "
            "c -> ascii(c)))::BIGINT AS energy FROM f), "
            "l AS (SELECT doc_id, frame_index, energy, "
            "abs(energy - lag(energy) OVER (PARTITION BY doc_id "
            "ORDER BY frame_index))::BIGINT AS delta FROM e) "
            "SELECT doc_id, frame_index, energy, delta, "
            "coalesce(delta > 200, FALSE) AS is_cut FROM l"
        ),
        "multimodal_frame_sample": (
            # mirrors pipeline/multimodal.sample_frames(frame_bytes=64,
            # every=4, fps=30): every 4th 64-byte chunk; text is ASCII at
            # every driver SF so substring-by-chars == substring-by-bytes
            "WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n "
            "FROM documents), "
            "f AS (SELECT doc_id, text, n, unnest(range(0, (n + 63) // 64, 4)) AS fi FROM d) "
            "SELECT doc_id, fi::INTEGER AS frame_index, fi / 30.0 AS frame_ts, "
            "least(64, n - fi * 64)::INTEGER AS n_frame_bytes, "
            "md5(substring(text, (fi * 64 + 1)::INTEGER, 64)) AS frame_digest FROM f"
        ),
        "sample_pack_sequences": (
            # mirrors pipeline/sampling.pack_sequences(budget=256): the
            # global-window formulation IS the spec; the Spark side must
            # reproduce it with the distributed prefix sum
            "WITH t AS (SELECT doc_id, len(list_filter("
            "regexp_split_to_array(text, '\\s+'), w -> len(w) > 0))::BIGINT AS n_tokens "
            "FROM documents), "
            "c AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER ("
            "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
            "AS bef FROM t) "
            "SELECT doc_id, n_tokens, (bef // 256)::BIGINT AS seq_index, "
            "(bef % 256)::BIGINT AS seq_offset, "
            "(CASE WHEN n_tokens = 0 THEN 1 ELSE "
            "((bef + n_tokens - 1) // 256) - (bef // 256) + 1 END)::BIGINT "
            "AS n_seqs_spanned FROM c"
        ),
        "text_paragraph_dedup": (
            # mirrors pipeline/text.paragraph_dedup: first occurrence by
            # (doc_id, pos) wins corpus-wide; survivors rejoin in order
            "WITH b AS (SELECT doc_id, text || "
            "CASE WHEN doc_id % 4 = 1 THEN chr(10) || 'join our promo newsletter now' "
            "ELSE '' END || "
            "CASE WHEN doc_id % 10 = 2 THEN chr(10) || 'rate this article five stars' "
            "|| chr(10) || 'rate this article five stars' ELSE '' END AS text "
            "FROM documents), "
            "p AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM b), "
            "x AS (SELECT doc_id, unnest(list_transform(parts, "
            "(e, i) -> struct_pack(pos := i, para := e))) AS s FROM p), "
            "r AS (SELECT doc_id, s.pos AS pos, s.para AS para, "
            "row_number() OVER (PARTITION BY md5(trim(s.para)) "
            "ORDER BY doc_id, s.pos) AS rn FROM x), "
            "k AS (SELECT doc_id, pos, para FROM r WHERE rn = 1 OR len(trim(para)) < 1), "
            "agg AS (SELECT doc_id, count(*) AS n_kept, "
            "string_agg(para, chr(10) ORDER BY pos) AS clean_text FROM k GROUP BY doc_id), "
            "np AS (SELECT doc_id, len(parts) AS n_paras FROM p) "
            "SELECT np.doc_id, np.n_paras::INT AS n_paras, "
            "(np.n_paras - agg.n_kept)::INT AS n_removed, agg.clean_text "
            "FROM np JOIN agg USING (doc_id)"
        ),
        # deterministic fixed-iteration PageRank is SQL-expressible after
        # all (round 6): unrolled power-iteration CTE, rounded at 1e-8 on
        # both sides (the pytest power-iteration gate at 1e-6 stays)
        "graph_pagerank": _pagerank_oracle(iterations=5, damping=0.85),
        "graph_hits": _hits_oracle(iterations=4),
        "graph_betweenness": _betweenness_oracle(levels=6, n_sources=8),
        "graph_pagerank_personalized": _pagerank_oracle(
            iterations=5, damping=0.85, sources=["region:0"]
        ),
        "graph_sssp": _sssp_oracle(iterations=6),
        "graph_label_propagation": _lpa_oracle(iterations=3),
        "graph_degree_distribution": (
            # FK edges redeclared, stub degrees + isolate pickup, the
            # identical power-of-two comparison chain, one GROUP BY
            "WITH e0 AS ("
            "SELECT 'region:' || n_regionkey AS src, "
            "'nation:' || n_nationkey AS dst FROM nation "
            "UNION ALL SELECT 'nation:' || c_nationkey, "
            "'customer:' || c_custkey FROM customer "
            "UNION ALL SELECT 'customer:' || o_custkey, "
            "'orders:' || o_orderkey FROM orders), "
            "ed AS (SELECT src, dst FROM e0 WHERE src <> dst), "
            "vx AS (SELECT 'region:' || r_regionkey AS vid FROM region "
            "UNION ALL SELECT 'nation:' || n_nationkey FROM nation "
            "UNION ALL SELECT 'customer:' || c_custkey FROM customer "
            "UNION ALL SELECT 'orders:' || o_orderkey FROM orders), "
            "deg AS (SELECT vid, count(*)::BIGINT AS dg FROM ("
            "SELECT src AS vid FROM ed UNION ALL SELECT dst FROM ed) "
            "GROUP BY 1), "
            "alld AS (SELECT coalesce(d.dg, 0) AS dg FROM vx "
            "LEFT JOIN deg d USING (vid)), "
            "b AS (SELECT dg, (CASE WHEN dg >= 549755813888 THEN 39 WHEN dg >= 274877906944 THEN 38 WHEN dg >= 137438953472 THEN 37 WHEN dg >= 68719476736 THEN 36 WHEN dg >= 34359738368 THEN 35 WHEN dg >= 17179869184 THEN 34 WHEN dg >= 8589934592 THEN 33 WHEN dg >= 4294967296 THEN 32 WHEN dg >= 2147483648 THEN 31 WHEN dg >= 1073741824 THEN 30 WHEN dg >= 536870912 THEN 29 WHEN dg >= 268435456 THEN 28 WHEN dg >= 134217728 THEN 27 WHEN dg >= 67108864 THEN 26 WHEN dg >= 33554432 THEN 25 WHEN dg >= 16777216 THEN 24 WHEN dg >= 8388608 THEN 23 WHEN dg >= 4194304 THEN 22 WHEN dg >= 2097152 THEN 21 WHEN dg >= 1048576 THEN 20 WHEN dg >= 524288 THEN 19 WHEN dg >= 262144 THEN 18 WHEN dg >= 131072 THEN 17 WHEN dg >= 65536 THEN 16 WHEN dg >= 32768 THEN 15 WHEN dg >= 16384 THEN 14 WHEN dg >= 8192 THEN 13 WHEN dg >= 4096 THEN 12 WHEN dg >= 2048 THEN 11 WHEN dg >= 1024 THEN 10 WHEN dg >= 512 THEN 9 WHEN dg >= 256 THEN 8 WHEN dg >= 128 THEN 7 WHEN dg >= 64 THEN 6 WHEN dg >= 32 THEN 5 WHEN dg >= 16 THEN 4 WHEN dg >= 8 THEN 3 WHEN dg >= 4 THEN 2 WHEN dg >= 2 THEN 1 WHEN dg >= 1 THEN 0 ELSE -1 END) AS bucket_id FROM alld) "
            "SELECT bucket_id::INTEGER AS bucket_id, "
            "(CASE WHEN bucket_id >= 0 THEN (1::BIGINT << bucket_id) "
            "ELSE 0 END)::BIGINT AS lo, "
            "(CASE WHEN bucket_id >= 0 THEN (1::BIGINT << (bucket_id + 1)) - 1 "
            "ELSE 0 END)::BIGINT AS hi, "
            "count(*)::BIGINT AS n_vertices, min(dg)::BIGINT AS min_degree, "
            "max(dg)::BIGINT AS max_degree FROM b GROUP BY bucket_id"
        ),
        "graph_assortativity": (
            # FK edges redeclared, both directed stubs per edge, exact
            # integer sums, then the identical one-tree Pearson ratio
            "WITH e0 AS ("
            "SELECT 'region:' || n_regionkey AS src, "
            "'nation:' || n_nationkey AS dst FROM nation "
            "UNION ALL SELECT 'nation:' || c_nationkey, "
            "'customer:' || c_custkey FROM customer "
            "UNION ALL SELECT 'customer:' || o_custkey, "
            "'orders:' || o_orderkey FROM orders), "
            "ed AS (SELECT src, dst FROM e0 WHERE src <> dst), "
            "stubs AS (SELECT src, dst FROM ed "
            "UNION ALL SELECT dst, src FROM ed), "
            "deg AS (SELECT src AS vid, count(*)::BIGINT AS dg "
            "FROM stubs GROUP BY 1), "
            "pr AS (SELECT dx.dg AS x, dy.dg AS y FROM stubs s "
            "JOIN deg dx ON s.src = dx.vid "
            "JOIN deg dy ON s.dst = dy.vid), "
            "ag AS (SELECT count(*)::BIGINT AS m_directed, "
            "sum(x)::BIGINT AS s_deg, sum(x * y)::BIGINT AS s_deg_prod, "
            "sum(x * x)::BIGINT AS s_deg_sq FROM pr) "
            "SELECT m_directed, s_deg, s_deg_prod, s_deg_sq, "
            "round(CASE WHEN (s_deg_sq::DOUBLE / m_directed::DOUBLE - "
            "(s_deg::DOUBLE / m_directed::DOUBLE) * "
            "(s_deg::DOUBLE / m_directed::DOUBLE)) > 0 "
            "THEN (s_deg_prod::DOUBLE / m_directed::DOUBLE - "
            "(s_deg::DOUBLE / m_directed::DOUBLE) * "
            "(s_deg::DOUBLE / m_directed::DOUBLE)) / "
            "(s_deg_sq::DOUBLE / m_directed::DOUBLE - "
            "(s_deg::DOUBLE / m_directed::DOUBLE) * "
            "(s_deg::DOUBLE / m_directed::DOUBLE)) END + 1e-12, 6) "
            "AS assortativity FROM ag"
        ),
        "graph_modularity": (
            # LPA-3 replay as the assignment, FK edges redeclared, then
            # the per-community degree/internal aggregations; q_contrib
            # = e_c/m - (deg_c/(2m))^2 on identical IEEE trees
            "WITH asg AS MATERIALIZED (SELECT vid, label FROM ("
            + _lpa_oracle(iterations=3)
            + ") lpa), "
            "e0 AS ("
            "SELECT 'region:' || n_regionkey AS src, "
            "'nation:' || n_nationkey AS dst FROM nation "
            "UNION ALL SELECT 'nation:' || c_nationkey, "
            "'customer:' || c_custkey FROM customer "
            "UNION ALL SELECT 'customer:' || o_custkey, "
            "'orders:' || o_orderkey FROM orders), "
            "ed AS (SELECT src, dst FROM e0 WHERE src <> dst), "
            "st AS (SELECT count(*)::DOUBLE AS mm FROM ed), "
            "deg AS (SELECT vid, count(*)::BIGINT AS dg FROM ("
            "SELECT src AS vid FROM ed UNION ALL SELECT dst FROM ed) "
            "GROUP BY 1), "
            "nodes AS (SELECT label AS community, count(*)::BIGINT AS n_nodes "
            "FROM asg GROUP BY 1), "
            "degc AS (SELECT a.label AS community, sum(d.dg)::BIGINT AS ds "
            "FROM asg a JOIN deg d USING (vid) GROUP BY 1), "
            "intra AS (SELECT sa.label AS community, count(*)::BIGINT AS ie "
            "FROM ed JOIN asg sa ON ed.src = sa.vid "
            "JOIN asg sb ON ed.dst = sb.vid "
            "WHERE sa.label = sb.label GROUP BY 1) "
            "SELECT n.community, n_nodes, "
            "coalesce(ie, 0)::BIGINT AS internal_edges, "
            "coalesce(ds, 0)::BIGINT AS degree_sum, "
            "round(coalesce(ie, 0)::DOUBLE / greatest(mm, 1.0) - "
            "(coalesce(ds, 0)::DOUBLE / (2.0 * greatest(mm, 1.0))) * "
            "(coalesce(ds, 0)::DOUBLE / (2.0 * greatest(mm, 1.0))) "
            "+ 1e-12, 6) AS q_contrib "
            "FROM nodes n LEFT JOIN degc USING (community) "
            "LEFT JOIN intra USING (community), st"
        ),
        # r7: three former rows-only entries gain exact oracles — the
        # sequential recurrences replay as recursive CTEs (one
        # row_number / one Kruskal edge per iteration), and the fake
        # image decode is pure integer byte arithmetic DuckDB can
        # re-derive. NB DuckDB quirk: inside WITH RECURSIVE, a
        # union-shaped helper CTE loses UNION's dedup — vertex lists
        # below use DISTINCT unnest([a, b]) instead.
        "event_cusum_changepoints": (
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
        ),
        "graph_min_spanning_forest": (
            "WITH RECURSIVE e AS ("
            "  SELECT a, b, w, row_number() OVER (ORDER BY w, a, b) AS rn FROM ("
            "    SELECT least('part:'||l_partkey::VARCHAR, 'supp:'||l_suppkey::VARCHAR) AS a, "
            "greatest('part:'||l_partkey::VARCHAR, 'supp:'||l_suppkey::VARCHAR) AS b, "
            "min(l_quantity::DOUBLE) AS w "
            "    FROM lineitem WHERE l_partkey % 20 = 0 AND l_suppkey % 3 = 0 GROUP BY 1, 2)), "
            "v AS (SELECT DISTINCT unnest([a, b]) AS vid FROM e), "
            "k AS ("
            "  SELECT 0 AS s, vid, vid AS comp FROM v "
            "  UNION ALL "
            "  SELECT s + 1, vid, "
            "CASE WHEN ca <> cb AND comp IN (ca, cb) THEN least(ca, cb) ELSE comp END "
            "  FROM ("
            "    SELECT k.s, k.vid, k.comp, "
            "max(CASE WHEN k.vid = e.a THEN k.comp END) OVER () AS ca, "
            "max(CASE WHEN k.vid = e.b THEN k.comp END) OVER () AS cb "
            "    FROM k JOIN e ON e.rn = k.s + 1)) "
            "SELECT e.a AS src, e.b AS dst, e.w AS weight FROM e "
            "JOIN k ka ON ka.s = e.rn - 1 AND ka.vid = e.a "
            "JOIN k kb ON kb.s = e.rn - 1 AND kb.vid = e.b "
            "WHERE ka.comp <> kb.comp"
        ),
        "graph_kcore": (
            "WITH RECURSIVE und AS ("
            "  SELECT DISTINCT least(a0,b0) AS a, greatest(a0,b0) AS b FROM ("
            "    SELECT 'order:'||l_orderkey::VARCHAR AS a0, 'part:'||l_partkey::VARCHAR AS b0 FROM lineitem"
            "    UNION ALL SELECT 'order:'||l_orderkey::VARCHAR, 'supp:'||l_suppkey::VARCHAR FROM lineitem"
            "    UNION ALL SELECT 'part:'||l_partkey::VARCHAR, 'supp:'||l_suppkey::VARCHAR FROM lineitem"
            "  ) WHERE a0 <> b0), "
            "k AS ("
            "  SELECT 0 AS s, v, u FROM (SELECT a AS v, b AS u FROM und UNION ALL SELECT b, a FROM und)"
            "  UNION ALL"
            "  SELECT s + 1, v, u FROM ("
            "    SELECT s, v, u, dv, du, "
            "max(CASE WHEN dv < 6 THEN 1 ELSE 0 END) OVER () AS anyweak"
            "    FROM ("
            "      SELECT s, v, u, "
            "count(*) OVER (PARTITION BY v) AS dv, "
            "count(*) OVER (PARTITION BY u) AS du"
            "      FROM k)"
            "  ) WHERE anyweak = 1 AND dv >= 6 AND du >= 6), "
            "fin AS ("
            "  SELECT v, count(*) AS dg FROM k "
            "WHERE s = (SELECT max(s) FROM k) GROUP BY v) "
            "SELECT v AS vid, dg::BIGINT AS core_degree FROM fin "
            "WHERE (SELECT max(CASE WHEN dg < 6 THEN 1 ELSE 0 END) FROM fin) = 0"
        ),
        "multimodal_phash_dedup": (
            "WITH base AS ("
            "  SELECT doc_id, text FROM documents WHERE length(text) >= 64 "
            "  UNION ALL "
            "  SELECT doc_id + 1000000, 'Z' || substring(text, 2) "
            "FROM documents WHERE length(text) >= 64 AND doc_id % 7 = 0), "
            "chars AS ("
            "  SELECT doc_id, ((64*i + length(text) - 1) // length(text)) - 1 AS cell, "
            "unicode(substring(text, i, 1)) AS bv "
            "  FROM base, unnest(range(1, length(text)+1)) AS t(i)), "
            "pooled AS ("
            "  SELECT doc_id, cell, sum(bv) // count(*) AS px "
            "FROM chars GROUP BY doc_id, cell), "
            "hashed AS ("
            "  SELECT doc_id, sum(CASE WHEN px > m THEN "
            "CASE WHEN cell = 63 THEN -9223372036854775808 "
            "ELSE (1::BIGINT << cell::INT) END ELSE 0 END)::BIGINT AS phash "
            "  FROM (SELECT doc_id, cell, px, "
            "sum(px) OVER (PARTITION BY doc_id) / 64.0 AS m FROM pooled) "
            "  GROUP BY doc_id) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "bit_count(xor(a.phash, b.phash))::INT AS hamming "
            "FROM hashed a JOIN hashed b ON a.doc_id < b.doc_id "
            "WHERE bit_count(xor(a.phash, b.phash)) <= 6"
        ),
        # no-oracle entries (approximate / stub): approx_distinct_parts,
        # sim_topk_lsh
    }
