"""Graph analytics over the TPC-H link graph (``orientdb_spark.graph``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from orientdb_spark.entries._registry import _engine, register
from orientdb_spark.entries._shared import _dk_h60
from orientdb_spark.session import local_frame


def _graph(spark, sf_dir):
    from orientdb_spark.graph import tpch_graph

    return tpch_graph(_engine(spark, sf_dir))


# §2.9 graph
@register("graph_out_degree", oracle=(
    "SELECT 'customer:' || o_custkey AS vid, count(*) AS out_degree "
    "FROM orders GROUP BY o_custkey"
))
def _graph_out_degree(spark, sf_dir):
    g = _graph(spark, sf_dir)
    return g.out_degrees().filter(F.col("vid").like("customer:%"))


@register("graph_delete_cascade", oracle=(
    "SELECT 'region:' || n_regionkey AS vid, count(*) AS out_degree FROM nation "
    "WHERE n_nationkey <> 3 GROUP BY n_regionkey ORDER BY vid"
))
def _graph_delete_cascade(spark, sf_dir):
    # vertex delete cascades to in/out edges (OGraphVertex.java:364-388)
    g = _graph(spark, sf_dir).delete_vertex("nation:3")
    return g.out_degrees().filter(F.col("vid").like("region:%")).orderBy("vid")


@register("graph_bfs_levels", tags=("sf_scale",), oracle=(
    "SELECT 0 AS depth, 1::BIGINT AS n_vertices "
    "UNION ALL SELECT 1, count(*) FROM nation WHERE n_regionkey = 0 "
    "UNION ALL SELECT 2, count(*) FROM customer JOIN nation "
    "ON c_nationkey = n_nationkey WHERE n_regionkey = 0 "
    "UNION ALL SELECT 3, count(*) FROM orders JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 0"
))
def _graph_bfs_levels(spark, sf_dir):
    g = _graph(spark, sf_dir)
    start = local_frame(spark, [("region:0",)], "vid string")
    return (
        g.bfs(start, 3)
        .groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .orderBy("depth")
    )


@register("graph_connected_components", tags=("headline", "noisy", "smoke", "sf_scale"), oracle=(
    "WITH vids AS ("
    "SELECT r_regionkey AS rk, 'region:' || r_regionkey AS vid FROM region "
    "UNION ALL SELECT n_regionkey, 'nation:' || n_nationkey FROM nation "
    "UNION ALL SELECT n_regionkey, 'customer:' || c_custkey FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey "
    "UNION ALL SELECT n_regionkey, 'orders:' || o_orderkey FROM orders "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey) "
    "SELECT min(vid) AS component, count(*) AS n_vertices FROM vids GROUP BY rk"
))
def _graph_connected_components(spark, sf_dir):
    g = _graph(spark, sf_dir)
    return (
        g.connected_components()
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
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


# deterministic fixed-iteration PageRank is SQL-expressible after
# all (round 6): unrolled power-iteration CTE, rounded at 1e-8 on
# both sides (the pytest power-iteration gate at 1e-6 stays)
@register(
    "graph_pagerank",
    tags=("headline", "noisy", "smoke"),
    oracle=_pagerank_oracle(iterations=5, damping=0.85),
)
def _graph_pagerank(spark, sf_dir):
    g = _graph(spark, sf_dir)
    return g.pagerank(iterations=5).select("vid", F.round("rank", 8).alias("rank"))


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


@register("graph_hits", oracle=_hits_oracle(iterations=4))
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


@register("graph_betweenness", oracle=_betweenness_oracle(levels=6, n_sources=8))
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


@register("graph_cc_incremental", oracle=(
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
))
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


@register("graph_pagerank_personalized", oracle=_pagerank_oracle(
    iterations=5, damping=0.85, sources=["region:0"]
))
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


@register("graph_sssp", oracle=_sssp_oracle(iterations=6))
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


@register("graph_label_propagation", oracle=_lpa_oracle(iterations=3))
def _graph_label_propagation(spark, sf_dir):
    """Deterministic synchronous label propagation over the FK graph
    (Graph.label_propagation — min-label tie break makes the classic
    order-sensitive algorithm reproducible and CTE-oracle-able). Three
    sweeps; the oracle unrolls vote-count + per-vertex argmax + carry
    per round."""
    return _graph(spark, sf_dir).label_propagation(iterations=3)


@register("graph_modularity", tags=("sf_scale",), oracle=(
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
))
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


@register("graph_assortativity", tags=("sf_scale",), oracle=(
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
))
def _graph_assortativity(spark, sf_dir):
    """Degree assortativity (Graph.assortativity, Newman 2002) of the
    FK graph — one row of exact integer stub sums plus the 6-dp
    Pearson coefficient on one fixed IEEE tree. The FK tree is
    hub-and-spoke, so r comes out strongly negative — the shape where
    hub-key salting pays. Order-free float work, replays bit-exactly."""
    g = _graph(spark, sf_dir)
    return g.assortativity()


@register("graph_degree_distribution", tags=("sf_scale",), oracle=(
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
))
def _graph_degree_distribution(spark, sf_dir):
    """Log-binned degree histogram (Graph.degree_distribution): per
    power-of-two bucket over the undirected FK-graph degree,
    vertex counts with min/max — the first profiling pass on any large
    graph and the partitioning-decision input assortativity refines.
    All-integer comparison-chain binning; oracle-exact trivially."""
    g = _graph(spark, sf_dir)
    return g.degree_distribution()


@register("graph_triangle_count", oracle=(
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
))
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


@register("graph_clustering_coeff", oracle=(
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
))
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


@register("graph_neighbor_features", oracle=(
    "WITH e AS (SELECT 'customer:' || c_custkey AS c, "
    "'nation:' || c_nationkey AS n, c_acctbal FROM customer), "
    "nav AS (SELECT n, avg(c_acctbal) AS av, count(*)::BIGINT AS deg "
    "FROM e GROUP BY n) "
    "SELECT c AS vid, 1::BIGINT AS n_neighbors, round(av, 6) AS feature "
    "FROM e JOIN nav USING (n) "
    "UNION ALL SELECT n, deg, NULL FROM nav"
))
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


@register("graph_random_walks", oracle=(
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
))
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


@register("graph_walk_skipgrams", oracle=(
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
))
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


@register("graph_effective_diameter", oracle=(
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
))
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


@register("graph_min_spanning_forest", oracle=(
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
))
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


@register("graph_topological_levels", oracle=(
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
))
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


@register("graph_link_prediction", oracle=(
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
))
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


@register("graph_kcore", oracle=(
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
))
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
