"""shortest_paths (Bellman-Ford) and label_propagation: handcrafted
semantics + property tests against sequential Python references.

Reference analog: the 2010 engine's graph surface stops at traversal
(GraphDatabaseTest.java); weighted paths and communities are the
analytics extension, same family as pagerank/kcore.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from orientdb_spark.graph import Graph
from tests.conftest import persisted_rdd_ids


def _graph(spark, edges, weights=None, vertices=None):
    vs = vertices or sorted({v for e in edges for v in e})
    vdf = spark.createDataFrame([(v,) for v in vs], ["vid"])
    if weights is not None:
        edf = spark.createDataFrame(
            [(s, d, float(w)) for (s, d), w in zip(edges, weights)],
            ["src", "dst", "w"],
        )
    else:
        edf = spark.createDataFrame(edges, ["src", "dst"])
    return Graph(vdf, edf)


def test_sssp_prefers_cheap_long_path(spark):
    # a->b->c->d costs 3, direct a->d costs 10: more hops, less weight
    g = _graph(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")],
        weights=[1, 1, 1, 10],
    )
    got = {r["vid"]: r["dist"] for r in g.shortest_paths(["a"], 5, "w").collect()}
    assert got == {"a": 0.0, "b": 1.0, "c": 2.0, "d": 3.0}


def test_sssp_horizon_bounds_hops(spark):
    # with only 2 relaxation rounds the 3-hop path is invisible
    g = _graph(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")],
        weights=[1, 1, 1, 10],
    )
    got = {r["vid"]: r["dist"] for r in g.shortest_paths(["a"], 2, "w").collect()}
    assert got["d"] == 10.0


def test_sssp_multi_source_and_multi_edge(spark):
    # two sources; parallel edges of different weight — min absorbs them
    g = _graph(
        spark,
        [("s1", "x"), ("s2", "x"), ("s2", "x")],
        weights=[5, 9, 2],
    )
    got = {r["vid"]: r["dist"] for r in g.shortest_paths(["s1", "s2"], 3, "w").collect()}
    assert got == {"s1": 0.0, "s2": 0.0, "x": 2.0}


def _py_bf(edges, sources, rounds):
    dist = {s: 0.0 for s in sources}
    for _ in range(rounds):
        nxt = dict(dist)
        for s, d, w in edges:
            if s in dist and dist[s] + w < nxt.get(d, float("inf")):
                nxt[d] = dist[s] + w
        dist = nxt
    return dist


def test_sssp_property_random_graphs(spark):
    rng = random.Random(11)
    for trial in range(3):
        n = 12
        edges = [
            (f"v{rng.randrange(n)}", f"v{rng.randrange(n)}")
            for _ in range(30)
        ]
        ws = [rng.randrange(1, 9) for _ in edges]
        g = _graph(spark, edges, weights=ws, vertices=[f"v{i}" for i in range(n)])
        got = {r["vid"]: r["dist"] for r in g.shortest_paths(["v0"], 6, "w").collect()}
        ref = _py_bf([(s, d, w) for (s, d), w in zip(edges, ws)], ["v0"], 6)
        assert got == ref, f"trial {trial}"


def _py_lpa(vertices, edges, rounds):
    adj: dict = {v: [] for v in vertices}
    for s, d in edges:
        adj[s].append(d)
        adj[d].append(s)
    labels = {v: v for v in vertices}
    for _ in range(rounds):
        nxt = {}
        for v in vertices:
            if not adj[v]:
                nxt[v] = v
                continue
            counts: dict = {}
            for nb in adj[v]:
                counts[labels[nb]] = counts.get(labels[nb], 0) + 1
            nxt[v] = min(counts, key=lambda l: (-counts[l], l))
        labels = nxt
    return labels


def test_lpa_triangle_adopts_min_label_isolated_keeps_own(spark):
    g = _graph(spark, [("b", "c"), ("c", "d"), ("d", "b")], vertices=["b", "c", "d", "z"])
    got = {r["vid"]: r["label"] for r in g.label_propagation(1).collect()}
    # each triangle vertex sees two distinct neighbor labels -> min wins
    assert got == {"b": "c", "c": "b", "d": "b", "z": "z"}


def test_lpa_two_cliques_with_bridge(spark):
    clique1 = [("a1", "a2"), ("a1", "a3"), ("a2", "a3")]
    clique2 = [("b1", "b2"), ("b1", "b3"), ("b2", "b3")]
    edges = clique1 + clique2 + [("a1", "b1")]
    vs = sorted({v for e in edges for v in e})
    g = _graph(spark, edges)
    # after ONE sweep each clique coalesces on its own min label
    got1 = {r["vid"]: r["label"] for r in g.label_propagation(1).collect()}
    assert {got1["a2"], got1["a3"]} == {"a1"} and {got1["b2"], got1["b3"]} == {"b1"}
    # more rounds: the global min floods across the bridge (known LPA
    # epidemic under min tie-break) — pin equality with the reference
    got4 = {r["vid"]: r["label"] for r in g.label_propagation(4).collect()}
    assert got4 == _py_lpa(vs, edges, 4)


def test_lpa_property_random_graphs(spark):
    rng = random.Random(23)
    for trial in range(3):
        n = 10
        vertices = [f"v{i}" for i in range(n)]
        edges = list(
            {
                tuple(sorted((f"v{rng.randrange(n)}", f"v{rng.randrange(n)}")))
                for _ in range(14)
            }
        )
        edges = [(s, d) for s, d in edges if s != d]
        g = _graph(spark, edges, vertices=vertices)
        for rounds in (1, 3):
            got = {r["vid"]: r["label"] for r in g.label_propagation(rounds).collect()}
            assert got == _py_lpa(vertices, edges, rounds), f"trial {trial} r{rounds}"


def test_incremental_components_equals_full(spark):
    """Warm-start CC on an edge delta must produce IDENTICAL labels to a
    from-scratch run on the union graph — including merges across old
    components and brand-new vertices."""
    import random

    from orientdb_spark.graph import Graph, incremental_components

    rng = random.Random(31)
    n = 40
    all_edges = list(
        {
            tuple(sorted((f"v{rng.randrange(n)}", f"v{rng.randrange(n)}")))
            for _ in range(45)
        }
    )
    all_edges = [(s, d) for s, d in all_edges if s != d]
    half = len(all_edges) // 2
    batch1, batch2 = all_edges[:half], all_edges[half:]
    # new vertices appear only in batch2 (v40..) plus a bridging edge
    batch2 += [("v40", "v41"), ("v0", "v40")]

    def g(edges, verts):
        return Graph(
            spark.createDataFrame([(v,) for v in verts], ["vid"]),
            spark.createDataFrame(edges, ["src", "dst"]),
        )

    verts1 = sorted({v for e in batch1 for v in e})
    prev = g(batch1, verts1).connected_components()
    inc = {
        (r["vid"], r["component"])
        for r in incremental_components(
            prev, spark.createDataFrame(batch2, ["src", "dst"])
        ).collect()
    }
    verts_all = sorted({v for e in all_edges + batch2 for v in e})
    full = {
        (r["vid"], r["component"])
        for r in g(all_edges + batch2, verts_all).connected_components().collect()
    }
    # incremental covers prev vertices + batch2 endpoints; the full run
    # additionally lists batch-1-isolated vertices — compare on overlap
    inc_vids = {v for v, _ in inc}
    assert inc == {(v, c) for v, c in full if v in inc_vids}
    assert {v for v, _ in full} == inc_vids  # same coverage here in fact


# --- clustering coefficient / neighborhood feature aggregation ---


def test_clustering_coefficient_known_shapes(spark):
    """Triangle with a pendant: the pendant vertex has cc 0 (degree 1),
    its anchor drops to 2*1/(3*2)=1/3, the other two corners stay 1.0;
    a hub star stays 0 everywhere."""
    tri_plus = _graph(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("a", "p")])
    got = {
        r["vid"]: (r["degree"], r["n_triangles"], round(r["coefficient"], 6))
        for r in tri_plus.clustering_coefficient().collect()
    }
    assert got == {
        "a": (3, 1, round(1 / 3, 6)),
        "b": (2, 1, 1.0),
        "c": (2, 1, 1.0),
        "p": (1, 0, 0.0),
    }
    star = _graph(spark, [("h", f"l{i}") for i in range(6)])
    sc = {r["vid"]: r["coefficient"] for r in star.clustering_coefficient().collect()}
    assert all(v == 0.0 for v in sc.values())


def test_clustering_coefficient_ignores_direction_and_dupes(spark):
    """Reverse edges, duplicates, and self-loops collapse to the simple
    undirected graph before counting."""
    g = _graph(
        spark,
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "a"), ("b", "c")],
    )
    got = {
        r["vid"]: (r["degree"], r["coefficient"])
        for r in g.clustering_coefficient().collect()
    }
    assert got == {"a": (2, 1.0), "b": (2, 1.0), "c": (2, 1.0)}


def test_neighbor_aggregate_one_hop_mean(spark):
    """Hop 1 is the plain neighbor mean, nulls (featureless vertices)
    ignored; all-null neighborhoods stay null."""
    g = _graph(spark, [("a", "b"), ("a", "c"), ("c", "d")])
    feats = spark.createDataFrame(
        [("b", 10.0), ("c", 20.0)], ["vid", "f"]
    )
    got = {
        r["vid"]: (r["n_neighbors"], r["feature"])
        for r in g.neighbor_aggregate(feats, value="f", hops=1).collect()
    }
    # a: nbrs {b,c} -> 15; b: nbr {a} null; c: nbrs {a,d} null; d: nbr {c} -> 20
    assert got == {
        "a": (2, 15.0),
        "b": (1, None),
        "c": (2, None),
        "d": (1, 20.0),
    }


def test_neighbor_aggregate_two_hops_matches_manual(spark):
    """Hop 2 averages the hop-1 means — verified against a hand-rolled
    two-step computation on a small graph."""
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("b", "d")]
    base = {"a": 1.0, "b": 2.0, "c": 3.0, "d": 4.0}
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)

    def step(f):
        out = {}
        for v, ns in adj.items():
            vals = [f[n] for n in ns if f.get(n) is not None]
            out[v] = sum(vals) / len(vals) if vals else None
        return out

    expect = step(step(base))
    g = _graph(spark, edges)
    feats = spark.createDataFrame(list(base.items()), ["vid", "f"])
    got = {
        r["vid"]: r["feature"]
        for r in g.neighbor_aggregate(feats, value="f", hops=2).collect()
    }
    assert got.keys() == expect.keys()
    for v in expect:
        assert abs(got[v] - expect[v]) < 1e-9, v


def test_neighbor_aggregate_rejects_zero_hops(spark):
    import pytest

    g = _graph(spark, [("a", "b")])
    feats = spark.createDataFrame([("a", 1.0)], ["vid", "f"])
    with pytest.raises(ValueError):
        g.neighbor_aggregate(feats, value="f", hops=0)


def test_link_prediction_semantics(spark):
    """Path graph a-b-c-d: (a,c) and (b,d) share one center each,
    (a,d) shares none; adjacent pairs are excluded; AA = 1/ln(2) for
    degree-2 centers."""
    import math

    g = _graph(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = {
        (r["id_a"], r["id_b"]): (r["common_neighbors"], r["aa_score"])
        for r in g.link_prediction().collect()
    }
    aa = 1 / math.log(2)
    assert set(got) == {("a", "c"), ("b", "d")}
    for cn, score in got.values():
        assert cn == 1 and abs(score - aa) < 1e-12


def test_link_prediction_min_common_and_hub_cap(spark):
    """K2,3: the two left vertices share all 3 centers (the r-pairs
    share only the 2 left ones); min_common=3 keeps just the l-pair."""
    edges = [(u, v) for u in ("l1", "l2") for v in ("r1", "r2", "r3")]
    g = _graph(spark, edges)
    got = {
        (r["id_a"], r["id_b"]): r["common_neighbors"]
        for r in g.link_prediction(min_common=3).collect()
    }
    assert got == {("l1", "l2"): 3}
    # r-side pairs share the 2 high-degree left centers; capping center
    # degree at 2 kills exactly those wedges
    capped = g.link_prediction(max_center_degree=2)
    assert {(r["id_a"], r["id_b"]) for r in capped.collect()} == {("l1", "l2")}
    import pytest

    with pytest.raises(ValueError):
        g.link_prediction(min_common=0)


def test_topological_levels_dag_and_cycle(spark):
    """Diamond DAG levels = longest predecessor chain; a cycle (and
    everything downstream of it) is flagged, the clean prefix still
    levels; a self-loop is inherently cyclic."""
    # diamond: a -> b, a -> c, b -> d, c -> d, plus chain d -> e
    g = _graph(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")])
    got = {r["vid"]: (r["level"], r["is_cyclic"]) for r in g.topological_levels().collect()}
    assert got == {
        "a": (0, False), "b": (1, False), "c": (1, False),
        "d": (2, False), "e": (3, False),
    }
    # cycle x <-> y hangs off root r; z depends on the cycle
    g2 = _graph(spark, [("r", "x"), ("x", "y"), ("y", "x"), ("y", "z")])
    got2 = {r["vid"]: (r["level"], r["is_cyclic"]) for r in g2.topological_levels().collect()}
    assert got2["r"] == (0, False)
    assert got2["x"] == (None, True) and got2["y"] == (None, True)
    assert got2["z"] == (None, True)
    g3 = _graph(spark, [("s", "s")])
    assert {r["vid"]: r["is_cyclic"] for r in g3.topological_levels().collect()} == {
        "s": True
    }


# --- minimum spanning forest (Boruvka) ---


def _kruskal(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = []
    for w, a, b in sorted((w, a, b) for a, b, w in edges):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            out.append((a, b, w))
    return sorted(out)


def test_msf_property_vs_kruskal(spark):
    """Random weighted graphs: the distributed Boruvka forest equals
    sequential Kruskal under the shared (w, a, b) total order."""
    import random

    rng = random.Random(17)
    for trial in range(2):
        raw = {}
        for _ in range(60):
            a, b = rng.randrange(25), rng.randrange(25)
            if a == b:
                continue
            a, b = sorted((f"v{a}", f"v{b}"))
            raw[(a, b)] = min(raw.get((a, b), 1e9), round(rng.uniform(1, 100), 3))
        edges = [(a, b, w) for (a, b), w in raw.items()]
        g = _graph(spark, [(a, b) for a, b, _ in edges],
                   weights=[w for _, _, w in edges])
        got = sorted(
            (r["src"], r["dst"], r["weight"])
            for r in g.minimum_spanning_forest().collect()
        )
        assert got == _kruskal(edges), trial


def test_msf_forest_ties_and_parallel_edges(spark):
    """Two components stay two trees; equal weights break by (a, b);
    parallel edges collapse to their minimum."""
    edges = [
        ("a", "b"), ("b", "c"), ("a", "c"),   # triangle, all weight 1
        ("b", "a"),                           # parallel (reversed), heavier
        ("x", "y"),                           # separate component
    ]
    g = _graph(spark, edges, weights=[1.0, 1.0, 1.0, 5.0, 2.0])
    got = sorted(
        (r["src"], r["dst"], r["weight"])
        for r in g.minimum_spanning_forest().collect()
    )
    # tie-break picks (a,b) then (a,c) over (b,c); parallel 5.0 collapses to 1.0
    assert got == [("a", "b", 1.0), ("a", "c", 1.0), ("x", "y", 2.0)]


def test_neighborhood_function_vs_exact_closure(spark):
    """HLL ball estimates track the exact BFS closure (exact below the
    sketch's sparse threshold; <=2% in general at lgk=12), and the
    monotone convergence early-stop fires."""
    import random

    rng = random.Random(31)
    n = 30
    edges = list(
        {tuple(sorted((f"v{rng.randrange(n)}", f"v{rng.randrange(n)}"))) for _ in range(40)}
    )
    edges = [(a, b) for a, b in edges if a != b]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    verts = [f"v{i}" for i in range(n)]

    def exact(t):
        total = 0
        for v in verts:
            seen, frontier = {v}, {v}
            for _ in range(t):
                frontier = {w for u in frontier for w in adj.get(u, ())} - seen
                seen |= frontier
            total += len(seen)
        return total

    g = _graph(spark, edges, vertices=verts)
    out = {r["t"]: r["reachable_pairs"] for r in g.neighborhood_function(max_t=12).collect()}
    for t, est in out.items():
        ex = exact(t)
        assert abs(est - ex) / ex <= 0.02, (t, est, ex)
    # early stop: the 30-vertex graph converges long before t=12
    assert max(out) < 12


def test_neighborhood_function_chain_effective_diameter(spark, chain_like=None):
    """On a 40-chain the ball grows linearly: N(t) = sum min ball sizes;
    the 90% effective diameter lands near 0.9 * length."""
    n = 40
    edges = [(f"c{i}", f"c{i+1}") for i in range(n - 1)]
    g = _graph(spark, edges)
    out = sorted(
        (r["t"], r["reachable_pairs"])
        for r in g.neighborhood_function(max_t=39, converge_tol=1e-9).collect()
    )
    # exact chain N(t): each vertex reaches min(i, t) left + min(n-1-i, t) right + itself
    def exact(t):
        return sum(1 + min(i, t) + min(n - 1 - i, t) for i in range(n))

    for t, est in out:
        assert abs(est - exact(t)) / exact(t) <= 0.02, t
    n_inf = exact(n - 1)
    eff = min(t for t, est in out if est >= 0.9 * n_inf)
    assert 25 <= eff <= 39  # 90% of pairs within ~this radius on a 40-chain


def test_random_walks_deterministic_and_correct(spark):
    """Walks replay a sequential reference exactly (same md5 choices),
    are stable across repartitioning, and freeze at dead ends."""
    import hashlib
    import random

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rng = random.Random(3)
    n = 20
    edges = list(
        {tuple(sorted((f"v{rng.randrange(n)}", f"v{rng.randrange(n)}"))) for _ in range(28)}
    )
    edges = [(a, b) for a, b in edges if a != b]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    verts = [f"v{i}" for i in range(n)]

    def py_walk(start, i, L, seed=42):
        wid = f"{start}#{i}"
        cur, path = start, [start]
        for t in range(1, L + 1):
            nbrs = sorted(adj.get(cur, ()))
            if not nbrs:
                break
            cur = nbrs[h60(f"{seed}:{wid}:{t}") % len(nbrs)]
            path.append(cur)
        return wid, path

    g = _graph(spark, edges, vertices=verts)
    got = {
        r["walk_id"]: r["path"]
        for r in g.random_walks(length=6, walks_per_vertex=2).collect()
    }
    want = dict(py_walk(v, i, 6) for v in verts for i in range(2))
    assert got == want
    # isolated vertex: walk freezes at length 1
    g2 = _graph(spark, [("a", "b")], vertices=["a", "b", "z"])
    paths = {r["walk_id"]: r["path"] for r in g2.random_walks(length=3).collect()}
    assert paths["z#0"] == ["z"]
    assert len(paths["a#0"]) == 4  # bounces a-b-a-b
    import pytest

    with pytest.raises(ValueError):
        g2.random_walks(length=0)


def test_walk_skipgrams_semantics(spark):
    """A single path a-b-c with window 2 yields the textbook pair set,
    symmetric, with correct distances; window validation."""
    from orientdb_spark.graph import Graph

    walks = spark.createDataFrame(
        [("w0", "a", ["a", "b", "c"])],
        "walk_id STRING, start STRING, path ARRAY<STRING>",
    )
    got = {
        (r["center"], r["context"], r["distance"]): r["n_pairs"]
        for r in Graph.walk_skipgrams(walks, window=2).collect()
    }
    assert got == {
        ("a", "b", 1): 1, ("b", "a", 1): 1,
        ("b", "c", 1): 1, ("c", "b", 1): 1,
        ("a", "c", 2): 1, ("c", "a", 2): 1,
    }
    import pytest

    with pytest.raises(ValueError):
        Graph.walk_skipgrams(walks, window=0)


def test_hits_matches_python_reference(spark):
    """Graph.hits vs the sequential Kleinberg recursion (L1-normalized)
    on a digraph with a clear hub (h) and authority (a) structure,
    including an isolated vertex that must survive at score 0."""
    from orientdb_spark.graph import Graph

    edges = [("h1", "a1"), ("h1", "a2"), ("h2", "a1"), ("h2", "a3"),
             ("a1", "h1"), ("x", "a2")]
    vids = sorted({v for e in edges for v in e} | {"iso"})
    g = Graph(
        spark.createDataFrame([(v,) for v in vids], ["vid"]),
        spark.createDataFrame(edges, ["src", "dst"]),
    )
    got = {r["vid"]: (r["hub"], r["authority"]) for r in g.hits(iterations=3).collect()}

    hub = {v: 1.0 for v in vids}
    auth = {}
    for _ in range(3):
        auth = {v: sum(hub[s] for s, d in edges if d == v) for v in vids}
        t = sum(auth.values())
        auth = {v: (x / t if t > 0 else 0.0) for v, x in auth.items()}
        hub = {v: sum(auth[d] for s, d in edges if s == v) for v in vids}
        t = sum(hub.values())
        hub = {v: (x / t if t > 0 else 0.0) for v, x in hub.items()}
    for v in vids:
        assert got[v][0] == pytest.approx(hub[v], abs=1e-12), v
        assert got[v][1] == pytest.approx(auth[v], abs=1e-12), v
    assert got["iso"] == (0.0, 0.0)
    # structural sanity: h1/h2 are the dominant hubs, a1 the authority
    assert got["h1"][0] > got["x"][0] and got["h2"][0] > got["x"][0]
    assert max(got, key=lambda v: got[v][1]) == "a1"


def test_hits_validation(spark):
    from orientdb_spark.graph import Graph

    g = Graph(
        spark.createDataFrame([("a",)], ["vid"]),
        spark.createDataFrame([("a", "a")], ["src", "dst"]),
    )
    with pytest.raises(ValueError):
        g.hits(iterations=0)


def _brandes_reference(vids, edges, sources):
    """Sequential Brandes (2001): returns raw Σ_s δ_s(v) over the given
    sources — the same definition betweenness_sampled computes (for the
    classic undirected betweenness over all sources, halve it)."""
    from collections import deque

    adj = {v: set() for v in vids}
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    bc = {v: 0.0 for v in vids}
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1.0}
        order = []
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    sigma[w] = 0.0
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = {v: 0.0 for v in dist}
        for w in reversed(order):
            for v in adj[w]:
                if v in dist and dist[v] == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


def test_betweenness_exact_vs_reference(spark):
    """sources = all vertices → exact Brandes; the distributed sweep
    must match the sequential reference on a graph with branching,
    a cycle, and a disconnected component."""
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"), ("d", "e"),
             ("x", "y")]
    vids = sorted({v for e in edges for v in e} | {"iso"})
    g = _graph(spark, edges, vertices=vids)
    got = {
        r["vid"]: r["betweenness"]
        for r in g.betweenness_sampled(sources=vids).collect()
    }
    want = _brandes_reference(vids, edges, vids)
    assert set(got) == set(want)
    for v in vids:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
    # structure: the path center d (bridge to e) dominates; isolated = 0
    assert got["d"] > got["c"] and got["iso"] == 0.0


def test_betweenness_star_center(spark):
    """Star with k leaves: every leaf pair's unique shortest path runs
    through the center → raw Σ_s δ_s(center) = k(k-1)."""
    k = 6
    edges = [("c", f"l{i}") for i in range(k)]
    vids = ["c"] + [f"l{i}" for i in range(k)]
    g = _graph(spark, edges, vertices=vids)
    got = {
        r["vid"]: r["betweenness"]
        for r in g.betweenness_sampled(sources=vids).collect()
    }
    assert got["c"] == pytest.approx(k * (k - 1))
    assert all(got[f"l{i}"] == 0.0 for i in range(k))


def test_betweenness_sampled_subset_and_validation(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    vids = ["a", "b", "c", "d"]
    g = _graph(spark, edges, vertices=vids)
    # deterministic h60 sampling: same call twice → same result
    r1 = sorted(map(tuple, g.betweenness_sampled(n_samples=2).collect()))
    r2 = sorted(map(tuple, g.betweenness_sampled(n_samples=2).collect()))
    assert r1 == r2
    # sampled subset matches the reference restricted to those sources
    want = _brandes_reference(vids, edges, ["a", "c"])
    got = {
        r["vid"]: r["betweenness"]
        for r in g.betweenness_sampled(sources=["a", "c"]).collect()
    }
    for v in vids:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
    with pytest.raises(ValueError):
        g.betweenness_sampled(n_samples=0)


def test_modularity_hand_checked(spark):
    """Two triangles joined by one bridge edge, plus an isolated
    vertex: per-community contributions match the hand calculation,
    the single-community partition scores exactly 0, and the isolated
    community contributes 0."""
    from orientdb_spark.graph import Graph

    v = spark.createDataFrame([(x,) for x in "abcdefg"], ["vid"])
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")],
        ["src", "dst"],
    )
    g = Graph(v, e)
    asg = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1), ("d", 2), ("e", 2), ("f", 2), ("g", 3)],
        ["vid", "label"],
    )
    got = {r["community"]: r.asDict() for r in g.modularity(asg).collect()}
    # m=7; each triangle: e_c=3, deg_c=7 -> 3/7 - (7/14)^2 = 0.178571
    assert got[1]["internal_edges"] == 3 and got[1]["degree_sum"] == 7
    assert got[1]["q_contrib"] == 0.178571 and got[2]["q_contrib"] == 0.178571
    assert got[3]["n_nodes"] == 1 and got[3]["q_contrib"] == 0.0
    # the trivial one-community partition has modularity exactly 0
    one = spark.createDataFrame([(x, 0) for x in "abcdefg"], ["vid", "label"])
    q = g.modularity(one).collect()
    assert len(q) == 1 and q[0]["q_contrib"] == 0.0
    # self-loops are dropped from m and internal counts
    g_loop = Graph(v, e.unionByName(
        spark.createDataFrame([("a", "a")], ["src", "dst"])
    ))
    got2 = {r["community"]: r.asDict() for r in g_loop.modularity(asg).collect()}
    assert got2[1]["internal_edges"] == 3 and got2[1]["degree_sum"] == 7


def test_assortativity_hand_checked(spark):
    """A star is perfectly disassortative (r = -1); a cycle is
    degree-regular (zero variance -> NULL); self-loops are dropped
    from the stub list."""
    from orientdb_spark.graph import Graph

    v = spark.createDataFrame([(x,) for x in "abcd"], ["vid"])
    star = Graph(v, spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d")], ["src", "dst"]
    ))
    r = star.assortativity().collect()
    assert len(r) == 1
    row = r[0].asDict()
    # stubs: (3,1) x3 and (1,3) x3 -> M=6, sums 12/18/30, r = -1
    assert row["m_directed"] == 6 and row["s_deg"] == 12
    assert row["s_deg_prod"] == 18 and row["s_deg_sq"] == 30
    assert row["assortativity"] == -1.0

    cycle = Graph(v, spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], ["src", "dst"]
    ))
    row = cycle.assortativity().collect()[0].asDict()
    assert row["assortativity"] is None  # regular graph: zero variance

    loop = Graph(v, spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "b")], ["src", "dst"]
    ))
    row = loop.assortativity().collect()[0].asDict()
    assert row["m_directed"] == 6 and row["assortativity"] == -1.0


def test_degree_distribution_hand_checked(spark):
    """Power-of-two binning: a 3-leaf star has the hub in bucket 1
    (lo 2, hi 3), leaves in bucket 0, and an isolate in bucket -1."""
    from orientdb_spark.graph import Graph

    v = spark.createDataFrame([(x,) for x in "abcde"], ["vid"])
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "b")], ["src", "dst"]
    )
    got = {
        r["bucket_id"]: r.asDict()
        for r in Graph(v, e).degree_distribution().collect()
    }
    assert got[1]["n_vertices"] == 1          # hub, degree 3
    assert (got[1]["lo"], got[1]["hi"]) == (2, 3)
    assert got[1]["min_degree"] == got[1]["max_degree"] == 3
    assert got[0]["n_vertices"] == 3          # leaves, degree 1
    assert got[-1]["n_vertices"] == 1         # isolate 'e' (self-loop b drops)
    assert got[-1]["min_degree"] == 0 and got[-1]["lo"] == 0


# K4 on a-d with the tail d-e-f-g-h: CC needs several rounds, and the
# 2-core peels the tail one vertex per round
_RELEASE_EDGES = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
                  ("c", "d"), ("d", "e"), ("e", "f"), ("f", "g"), ("g", "h")]


@pytest.mark.parametrize("run, held", [
    (lambda g: g.connected_components(method="two_phase"), 1),
    (lambda g: g.connected_components(method="label_prop"), 1),
    (lambda g: g.pagerank(iterations=10), 1),
    (lambda g: g.hits(iterations=2), 2),
    (lambda g: g.shortest_paths(["a"], iterations=6), 1),
    (lambda g: g.label_propagation(iterations=6), 1),
    (lambda g: g.kcore(2), 1),
], ids=["cc_two_phase", "cc_label_prop", "pagerank", "hits",
        "shortest_paths", "label_propagation", "kcore"])
def test_state_loops_release_superseded_state(spark, run, held):
    """A state loop frees each state it replaces: after the call and a
    read of its result, only the checkpoints the returned frame reads
    stay persisted (one, or HITS's hub and authority vectors)."""
    g = _graph(spark, _RELEASE_EDGES)
    before = persisted_rdd_ids(spark)
    out = run(g)
    assert out.count() > 0
    left = persisted_rdd_ids(spark) - before
    assert len(left) <= held, f"persisted RDDs left: {sorted(left)}"
