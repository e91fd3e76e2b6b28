"""Two-phase connected components (alternating large-star/small-star,
Kiveris et al. SoCC'14): round count must be diameter-independent —
O(log²n) alternations where min-label propagation needs O(diameter)."""

from __future__ import annotations

import pytest

from orientdb_spark.graph import Graph

DEPTH = 100


@pytest.fixture(scope="module")
def chain(spark):
    verts = spark.createDataFrame([(f"v{i:03d}",) for i in range(DEPTH + 1)], ["vid"])
    edges = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i + 1:03d}") for i in range(DEPTH)], ["src", "dst"]
    )
    return Graph(verts, edges)


def test_two_phase_cc_chain_converges_fast(chain):
    cc = chain.connected_components()
    rows = {r.vid: r.component for r in cc.collect()}
    assert len(rows) == DEPTH + 1
    assert all(v == "v000" for v in rows.values())
    # the point of the algorithm: ≤10 alternations on a 100-deep chain
    assert chain.last_cc_iterations <= 10


@pytest.mark.parametrize("method", ["two_phase", "label_prop"])
def test_cc_rejects_max_iter_below_one(chain, method):
    """With no round run, vertices seen only as ``dst`` would silently
    keep their own id as component: max_iter < 1 is refused up front."""
    with pytest.raises(ValueError, match="max_iter must be >= 1, got 0"):
        chain.connected_components(max_iter=0, method=method)


def test_two_phase_matches_label_prop(spark):
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("lone",)], ["vid"]
    )
    edges = spark.createDataFrame([("b", "a"), ("c", "b"), ("y", "x")], ["src", "dst"])
    g = Graph(verts, edges)
    two = sorted((r.vid, r.component) for r in g.connected_components().collect())
    lp = sorted(
        (r.vid, r.component)
        for r in g.connected_components(method="label_prop").collect()
    )
    assert two == lp
    assert two == [
        ("a", "a"),
        ("b", "a"),
        ("c", "a"),
        ("lone", "lone"),
        ("x", "x"),
        ("y", "x"),
    ]


# --- triangle counting -------------------------------------------------------


def test_triangle_count_k4_plus_isolates(spark):
    """K4 has 4 triangles with every vertex in 3; reverse duplicates,
    self-loops, and triangle-free edges must not contribute."""
    from orientdb_spark.graph import Graph

    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
        ("e", "f"), ("b", "a"), ("g", "g"),
    ]
    g = Graph(
        spark.createDataFrame([(x,) for x in "abcdefg"], ["vid"]),
        spark.createDataFrame(edges, ["src", "dst"]),
    )
    got = {r["vid"]: r["n_triangles"] for r in g.triangle_count().collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_triangle_count_hub_is_wedge_cheap(spark):
    """A star (hub + leaves) has no triangles, and the degree-ordered
    orientation must not generate the hub's quadratic wedge set: the
    hub ranks above every leaf, so every star edge orients leaf->hub
    and the wedge join finds nothing to expand at the hub."""
    from orientdb_spark.graph import Graph

    hub_edges = [("hub", f"leaf{i}") for i in range(50)]
    g = Graph(
        spark.createDataFrame(
            [("hub",)] + [(f"leaf{i}",) for i in range(50)], ["vid"]
        ),
        spark.createDataFrame(hub_edges, ["src", "dst"]),
    )
    assert g.triangle_count().count() == 0


def test_kcore_handcrafted(spark):
    """K4 + a pendant chain: the 3-core is exactly the K4; pendant and
    chain vertices peel away; core_degree is the in-core degree."""
    from orientdb_spark.graph import Graph

    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
        ("d", "e"), ("e", "f"),  # tail hanging off the clique
    ]
    g = Graph(
        spark.createDataFrame([(x,) for x in "abcdef"], ["vid"]),
        spark.createDataFrame(edges, ["src", "dst"]),
    )
    got = {r["vid"]: r["core_degree"] for r in g.kcore(3).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}
    # 1-core keeps everything connected by an edge
    assert g.kcore(1).count() == 6
    # empty core
    assert g.kcore(4).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        g.kcore(0)


def test_kcore_matches_python_peeling(spark):
    """The distributed peeling must match a sequential Python reference
    on the tripartite lineitem graph."""
    from collections import defaultdict

    from orientdb_spark.graph import Graph
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1500)

    def pref(c, p):
        return F.concat(F.lit(p), F.col(c).cast("string"))

    ed = (
        li.select(pref("l_orderkey", "o:").alias("src"), pref("l_partkey", "p:").alias("dst"))
        .unionAll(li.select(pref("l_orderkey", "o:"), pref("l_suppkey", "s:")))
        .unionAll(li.select(pref("l_partkey", "p:"), pref("l_suppkey", "s:")))
    )
    g = Graph(ed.select(F.col("src").alias("vid")).distinct(), ed)
    k = 6
    got = {r["vid"]: r["core_degree"] for r in g.kcore(k).collect()}

    pairs = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in ed.collect()
        if r["src"] != r["dst"]
    }
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for n in adj[v]:
                    adj[n].discard(v)
                del adj[v]
                changed = True
    exp = {v: len(ns) for v, ns in adj.items()}
    assert got == exp


def test_kcore_property_random_graphs(spark):
    """Randomized graphs (derandomized hypothesis, few examples — each
    runs a distributed peel loop) must match sequential Python peeling
    for k in {2, 3}."""
    from collections import defaultdict

    from hypothesis import HealthCheck, given, settings, strategies as st

    verts = [f"v{i}" for i in range(8)]
    edge = st.tuples(st.sampled_from(verts), st.sampled_from(verts))

    @settings(
        max_examples=5,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(edge, min_size=0, max_size=16), st.sampled_from([2, 3]))
    def run(edges, k):
        pairs = {(min(a, b), max(a, b)) for a, b in edges if a != b}
        if not pairs:
            return
        g = Graph(
            spark.createDataFrame([(v,) for v in verts], ["vid"]),
            spark.createDataFrame(sorted(pairs), ["src", "dst"]),
        )
        got = {r["vid"]: r["core_degree"] for r in g.kcore(k).collect()}
        adj = defaultdict(set)
        for a, b in pairs:
            adj[a].add(b)
            adj[b].add(a)
        changed = True
        while changed:
            changed = False
            for v in list(adj):
                if len(adj[v]) < k:
                    for n in adj[v]:
                        adj[n].discard(v)
                    del adj[v]
                    changed = True
        exp = {v: len(ns) for v, ns in adj.items() if ns}
        assert got == exp, (sorted(pairs), k, got, exp)

    run()


def test_triangle_property_random_graphs(spark):
    """Randomized graphs must match a brute-force Python triangle count
    (all C(n,3) checks — fine at n=8)."""
    from itertools import combinations

    from hypothesis import HealthCheck, given, settings, strategies as st

    verts = [f"v{i}" for i in range(8)]
    edge = st.tuples(st.sampled_from(verts), st.sampled_from(verts))

    @settings(
        max_examples=5,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(edge, min_size=0, max_size=18))
    def run(edges):
        pairs = {(min(a, b), max(a, b)) for a, b in edges if a != b}
        if not pairs:
            return
        g = Graph(
            spark.createDataFrame([(v,) for v in verts], ["vid"]),
            spark.createDataFrame(sorted(pairs), ["src", "dst"]),
        )
        got = {r["vid"]: r["n_triangles"] for r in g.triangle_count().collect()}
        exp = {}
        for x, y, z in combinations(sorted(verts), 3):
            if (
                (x, y) in pairs and (x, z) in pairs and (y, z) in pairs
            ):
                for v in (x, y, z):
                    exp[v] = exp.get(v, 0) + 1
        assert got == exp, (sorted(pairs), got, exp)

    run()
