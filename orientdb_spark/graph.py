"""Property-graph layer — vertices/edges DataFrames + traversal analytics.

Reference model (SURVEY §1.4): vertex = document with inEdges/outEdges
LINKLISTs (core:db/graph/OGraphVertex.java:37-43), edge = document with
in/out LINKs (OGraphEdge.java:32-35), traversal API
(OGraphVertex.java:182-353), named roots (ODatabaseGraphTx.java:63-80),
cascade delete (OGraphVertex.java:364-465).

Spark shape: ``vertices(vid, ...props)`` and ``edges(src, dst, label)``
DataFrames — the GraphX/GraphFrames property-graph layout. Adjacency is
*derived* (a groupBy/join), not stored: the reference's inEdges/outEdges
lists are exactly what those joins compute. Iterative analytics (BFS,
connected components, PageRank) run as aggregate-messages loops over
DataFrames — the GraphX Pregel fit named in BASELINE.json, expressed
through the DataFrame API (PySpark has no GraphX binding; the join-based
formulation shuffles on the same keys Pregel would).

Scale notes: every iteration shuffles on vid — pre-partitioning both
frames on vid makes those shuffles co-located; localCheckpoint every few
rounds cuts the growing lineage (same discipline as traverse.py).

Release rule: a state loop (CC, PageRank, HITS, shortest paths, label
propagation, k-core) keeps only its live state. Once a job has
materialized the successor checkpoint and nothing live reads the state it
replaces, ``session.release`` frees the old one, so a call leaves only
the checkpoint its returned frame reads. The union-lineage loops (BFS,
``betweenness_sampled``, traverse.py) keep theirs: their state unions the
previous rounds, so no round's checkpoint is dead until the call ends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from orientdb_spark.session import local_frame, release

_CHECKPOINT_EVERY = 5
# CC alternations to run before the first convergence probe (see
# _cc_two_phase): probing earlier than realistic convergence only adds
# job waves; the first probe materializes the whole warmup pipeline in
# one job.
_CC_WARMUP = 3


class Graph:
    """vertices: any DataFrame with a ``vid`` column; edges: ``src``/``dst``
    (+ optional ``label`` — the edge-class analog)."""

    def __init__(self, vertices: DataFrame, edges: DataFrame):
        self.vertices = vertices
        self.edges = edges

    # -- CRUD (OGraphVertex.link/unlink, delete cascade) -----------------------

    def link(self, src, dst, label: str | None = None) -> "Graph":
        es = self.edges.schema
        schema = T.StructType().add("src", es["src"].dataType).add("dst", es["dst"].dataType)
        row = [(src, dst, label)]
        new = local_frame(self.edges.sparkSession, row, schema.add("label", T.StringType()))
        return Graph(self.vertices, self.edges.unionByName(new, allowMissingColumns=True))

    def unlink(self, src, dst) -> "Graph":
        return Graph(
            self.vertices,
            self.edges.filter(~((F.col("src") == src) & (F.col("dst") == dst))),
        )

    def delete_vertex(self, vid) -> "Graph":
        """Vertex delete cascades to its in/out edges (OGraphVertex.java:364-388)."""
        return Graph(
            self.vertices.filter(F.col("vid") != vid),
            self.edges.filter((F.col("src") != vid) & (F.col("dst") != vid)),
        )

    # -- adjacency (OGraphVertex.getOutEdges/getInEdges/browse*) ----------------

    def out_edges(self, vid=None) -> DataFrame:
        e = self.edges
        return e.filter(F.col("src") == vid) if vid is not None else e

    def in_edges(self, vid=None) -> DataFrame:
        e = self.edges
        return e.filter(F.col("dst") == vid) if vid is not None else e

    def out_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("src").alias("vid")).agg(
            F.count(F.lit(1)).alias("out_degree")
        )

    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("vid")).agg(
            F.count(F.lit(1)).alias("in_degree")
        )

    def out_neighbors(self, vid) -> DataFrame:
        """browseOutEdgesVertexes — skip edge materialization
        (OGraphVertex.java:271-317): one join, vertices out."""
        nbrs = self.edges.filter(F.col("src") == vid).select(F.col("dst").alias("vid"))
        return self.vertices.join(nbrs, "vid", "left_semi")

    # -- analytics ---------------------------------------------------------------

    def bfs(self, start_vids: DataFrame, max_depth: int) -> DataFrame:
        """Breadth-first reachability: (vid, depth) with the minimal hop
        count ≤ max_depth. Iterative frontier joins with an anti-join
        visited set — the distributed analog of the reference's
        recursive DFS walk (GraphTestFixedDensity.java:100-114)."""
        frontier = (
            start_vids.select("vid")
            .dropDuplicates()
            .withColumn("depth", F.lit(0))
            .localCheckpoint(eager=True)
        )
        visited = frontier
        depth = 0
        while depth < max_depth:
            depth += 1
            # frontier is checkpointed every round (it's frontier-sized, so
            # this is cheap) — the expansion join never re-derives earlier
            # rounds; visited's union lineage is collapsed every few rounds
            # so the anti-join plan stays bounded at any depth
            nxt = (
                frontier.join(self.edges, frontier["vid"] == self.edges["src"])
                .select(F.col("dst").alias("vid"))
                .dropDuplicates()
                .join(visited.select("vid"), "vid", "left_anti")
                .withColumn("depth", F.lit(depth))
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
            visited = visited.unionByName(nxt)
            if depth % _CHECKPOINT_EVERY == 0:
                visited = visited.localCheckpoint(eager=True)
            frontier = nxt
        return visited

    def connected_components(self, max_iter: int = 50, method: str = "two_phase") -> DataFrame:
        """Connected components: component id = min reachable vid.
        Returns (vid, component). Undirected semantics (edges both ways).

        ``method="two_phase"`` (default) runs alternating large-star /
        small-star rounds (Kiveris et al., "Connected Components in
        MapReduce and Beyond", SoCC'14): round count grows O(log²n) in the
        component DIAMETER-independent sense — a 100-deep chain converges
        in ~6 alternations where min-label propagation needs ~100. That is
        the difference between feasible and not on a 100 TB high-diameter
        graph. ``method="label_prop"`` keeps the classic per-hop
        propagation (useful as a cross-check; same output).

        Both return identical labels (min vid per component — string min,
        matching the SQL oracle's semantics). ``self.last_cc_iterations``
        records the rounds the call took. ``max_iter`` must be >= 1: with no
        round run, vertices seen only as ``dst`` would keep their own id."""
        if max_iter < 1:
            raise ValueError(f"max_iter must be >= 1, got {max_iter}")
        if method == "two_phase":
            return self._cc_two_phase(max_iter)
        return self._cc_label_prop(max_iter)

    def _cc_two_phase(self, max_iter: int) -> DataFrame:
        """Alternating star contraction. Each phase is 2 shuffles on the
        current edge set (groupBy min + join), checkpointed per phase so
        lineage stays flat; the edge set only shrinks-or-stars, never
        grows beyond O(E). Convergence = stable canonical edge checksum."""
        e = (
            self.edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .filter(F.col("u") != F.col("v"))
            # no input dedup: round 0's large-star is min-over-partition
            # (duplicate-insensitive) and small-star dedups at orient time
            # — the init dropDuplicates was one full wasted shuffle
            .localCheckpoint(eager=True)
        )
        self.last_cc_iterations = 0
        prev_sig = None
        stale = []  # superseded edge sets, freed once a probe materializes e
        # Probe schedule: the signature aggregate is the only JOB each
        # alternation runs (phase checkpoints are lazy), so the first
        # _CC_WARMUP alternations run completely unprobed — real-world
        # star contraction converges in ~3-5 alternations (SoCC'14;
        # measured 3 at sf0.1, 4 on the 100-deep chain fixture), so
        # probing earlier only adds job waves — then every alternation is
        # probed so convergence is detected exactly one alternation after
        # it happens. Correctness of deferred probing: star rounds are
        # deterministic functions of the edge multiset and idempotent on
        # a converged configuration (min-aggregates over a stable star
        # set — monotone, no oscillation; see _large_star/_small_star),
        # so consecutive-signature equality remains a sound convergence
        # witness regardless of when probing starts, and overshooting
        # cannot change the output.
        while self.last_cc_iterations < max_iter:
            stale.append(e)
            e = self._small_star(self._large_star(e))
            self.last_cc_iterations += 1
            if self.last_cc_iterations < _CC_WARMUP:
                continue
            sig_row = e.agg(
                F.sum(F.xxhash64("u", "v")).alias("s"), F.count(F.lit(1)).alias("n")
            ).first()
            release(*stale)
            stale = []
            sig = (sig_row["s"], sig_row["n"])
            if sig == prev_sig:
                break
            prev_sig = sig
        # converged stars: every edge is (member, component-min); a node's
        # component is the min over itself and its OUT-endpoints. The old
        # rev-side union is provably redundant for ANY small_star output:
        # every edge has v < u (greatest/least orientation), so a reversed
        # edge only ever hands a node a candidate LARGER than itself,
        # which least(vid, ...) discards — dropping it halves the final
        # aggregate's input and removes a union (guide §2.3).
        comp = e.groupBy("u").agg(F.min("v").alias("__nbr_min"))
        return (
            self.vertices.select("vid")
            .join(comp.withColumnRenamed("u", "vid"), "vid", "left")
            .select(
                "vid",
                F.least(F.col("vid"), F.coalesce("__nbr_min", F.col("vid"))).alias(
                    "component"
                ),
            )
        )

    @staticmethod
    def _large_star(e: DataFrame) -> DataFrame:
        """large-star(u): connect every neighbor v > u to m = min(Γ(u)∪{u}).

        Per-u minimum via a WINDOW over u, not groupBy+join: one exchange
        per phase instead of two (measured ~25% off the round time; same
        skew exposure — a hot u clusters its adjacency either way, and
        AQE's skew handling applies to both shapes).

        No dedup here: min-over-partition is duplicate-insensitive and the
        following small-star round dedups once after orienting — a dedup
        per phase was measured as two wasted shuffles per alternation."""
        from pyspark.sql import Window

        nbrs = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        nb = nbrs.withColumn("__mn", F.min("v").over(Window.partitionBy("u")))
        return (
            nb.filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"), F.least(F.col("__mn"), F.col("u")).alias("v")
            )
            .filter(F.col("u") != F.col("v"))
        )

    @staticmethod
    def _small_star(e: DataFrame) -> DataFrame:
        """small-star(u): orient edges big→small; connect every smaller
        neighbor (and u) to the minimum neighbor. The single dedup per
        alternation lives here (post-orient), bounding edge growth.

        min, row_number, and the dedup all share ONE window exchange on
        u: partitioning by u colocates every duplicate of an oriented
        (u, v) pair, so duplicates are exactly the rows whose lag(v)
        within (u ORDER BY v) equals their own v — a separate
        dropDuplicates would add a second full exchange (hash on (u, v))
        for the same effect. min feeds the rewiring; rn==1 emits the
        single (u, min) center edge the join formulation needed a
        separate aggregate for."""
        from pyspark.sql import Window

        ed = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        w = Window.partitionBy("u").orderBy("v")
        ed2 = (
            ed.withColumn("__mn", F.min("v").over(Window.partitionBy("u")))
            .withColumn("__rn", F.row_number().over(w))
            .withColumn("__dup", F.lag("v").over(w) == F.col("v"))
        )
        kept = ed2.filter(F.col("__dup").isNull() | ~F.col("__dup"))
        rewired = kept.filter(F.col("v") != F.col("__mn")).select(
            F.col("v").alias("u"), F.col("__mn").alias("v")
        )
        center = ed2.filter(F.col("__rn") == 1).select("u", F.col("__mn").alias("v"))
        return (
            rewired.unionByName(center)
            .filter(F.col("u") != F.col("v"))
            # no output dedup: the next round's orient step dedups once;
            # the convergence signature is over a deterministic multiset,
            # so consecutive-equality detection is unaffected
            # lazy checkpoint: the per-round signature aggregate is the
            # one job that materializes (and caches) this round's edges
            .localCheckpoint(eager=False)
        )

    def _cc_label_prop(self, max_iter: int = 50) -> DataFrame:
        """Min-label propagation (one hop per round — O(diameter) rounds).

        Per iteration: one join (neighbor messages) + one groupBy that
        folds the self-message in via union — 2 shuffles, both on vid.
        Labels are checkpointed every round (constant-size lineage) and
        convergence is a checksum aggregate over the checkpointed result,
        so the stop check costs one in-memory pass, not a recompute."""
        sym = (
            self.edges.select("src", "dst")
            .unionByName(self.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .persist()
        )
        labels = (
            self.vertices.select("vid")
            .withColumn("component", F.col("vid"))
            .localCheckpoint(eager=True)
        )
        prev_sig = None
        self.last_cc_iterations = 0
        for _ in range(max_iter):
            self.last_cc_iterations += 1
            msgs = labels.join(sym, labels["vid"] == sym["src"]).select(
                F.col("dst").alias("vid"), F.col("component")
            )
            prev, labels = labels, (
                msgs.unionByName(labels.select("vid", "component"))
                .groupBy("vid")
                .agg(F.min("component").alias("component"))
                .localCheckpoint(eager=True)
            )
            release(prev)
            sig = labels.agg(
                F.sum(F.xxhash64("component")).alias("s"), F.count(F.lit(1)).alias("n")
            ).first()
            if (sig["s"], sig["n"]) == prev_sig:
                break
            prev_sig = (sig["s"], sig["n"])
        sym.unpersist()
        return labels

    def triangle_count(self) -> DataFrame:
        """Per-vertex triangle counts over the undirected simple graph
        (direction/label/self-loops/multi-edges ignored). Returns
        (vid, n_triangles) for vertices in >= 1 triangle.

        Degree-ordered wedge enumeration (node-iterator++): each edge is
        oriented from its lower-(degree, vid)-rank endpoint to the
        higher, wedges are generated only at a triangle's lowest-rank
        apex, and the closing oriented edge is matched with one
        equi-join. The orientation bounds wedge count by O(m^1.5)
        regardless of skew — a hub of degree d generates no wedges
        unless it ranks below both neighbors, so the power-law hub that
        would explode a naive shared-neighbor join contributes almost
        nothing. Three shuffles total (degree agg, wedge join, closure
        join) plus the final per-vertex count."""
        und, deg = self._und_deg()
        return self._triangle_counts(und, deg)

    def _und_deg(self) -> tuple[DataFrame, DataFrame]:
        """Undirected simple edge list (a < b) + per-vertex degrees —
        the shared base of the triangle family. The edge list is
        checkpointed because every consumer feeds it into multiple plan
        branches."""
        und = (
            self.edges.select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates()
            .localCheckpoint(eager=False)
        )
        deg = (
            und.select(F.col("a").alias("v"))
            .unionAll(und.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        return und, deg

    @staticmethod
    def _triangle_counts(und: DataFrame, deg: DataFrame) -> DataFrame:
        # rank = (degree, vid); orient u -> w upward in rank
        ranked = (
            und.join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
            .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
        )
        up = F.struct(F.col("da").alias("d"), F.col("a").alias("v")) < F.struct(
            F.col("db").alias("d"), F.col("b").alias("v")
        )
        rb = F.struct(F.col("db").alias("d"), F.col("b").alias("v"))
        ra = F.struct(F.col("da").alias("d"), F.col("a").alias("v"))
        # the oriented edge list feeds three plan branches (both wedge
        # sides + the closure probe); checkpoint it once or each branch
        # re-derives the dedup + degree joins — measured 64 Exchanges
        # without this, 7 with
        o = ranked.select(
            F.when(up, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(up, F.col("b")).otherwise(F.col("a")).alias("w"),
            F.when(up, rb).otherwise(ra).alias("wr"),
        ).localCheckpoint(eager=False)
        e1, e2 = o.alias("e1"), o.alias("e2")
        wedges = e1.join(e2, F.col("e1.u") == F.col("e2.u")).filter(
            F.col("e1.wr") < F.col("e2.wr")
        ).select(
            F.col("e1.u").alias("x"), F.col("e1.w").alias("y"), F.col("e2.w").alias("z")
        )
        closing = o.select(F.col("u").alias("y"), F.col("w").alias("z"))
        tris = wedges.join(closing, ["y", "z"], "left_semi")
        # one pass over the triangle set — a 3-way unionAll of tris
        # would re-run the wedge+closure joins per corner column
        corners = tris.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("vid")
        )
        return corners.groupBy("vid").agg(F.count(F.lit(1)).alias("n_triangles"))

    def clustering_coefficient(self) -> DataFrame:
        """Per-vertex local clustering coefficient over the undirected
        simple graph: ``cc(v) = 2*T(v) / (d(v)*(d(v)-1))`` with T from
        the degree-ordered O(m^1.5) triangle enumeration. Vertices of
        degree < 2 (no possible wedge) get 0.0; isolated vertices (no
        edges at all) don't appear, matching triangle_count. Cost on
        top of triangle_count: one degree aggregate + one left join —
        triangle-free vertices count 0 triangles.

        Returns ``(vid, degree, n_triangles, coefficient)``."""
        und, deg = self._und_deg()  # shared with the triangle pass
        degrees = deg.select(F.col("v").alias("vid"), F.col("d").alias("degree"))
        j = degrees.join(self._triangle_counts(und, deg), "vid", "left").withColumn(
            "n_triangles", F.coalesce("n_triangles", F.lit(0))
        )
        coef = F.when(
            F.col("degree") >= 2,
            2.0 * F.col("n_triangles") / (F.col("degree") * (F.col("degree") - 1)),
        ).otherwise(F.lit(0.0))
        return j.select("vid", "degree", "n_triangles", coef.alias("coefficient"))

    def neighbor_aggregate(
        self, features: DataFrame, value: str, hops: int = 1
    ) -> DataFrame:
        """GNN-style mean neighborhood feature aggregation (the
        mean-aggregator GraphSAGE propagation step without learned
        weights): round t assigns every vertex the mean of its
        undirected-simple-graph neighbors' round-(t-1) values, nulls
        ignored; a vertex whose neighbors are all null stays null.
        Round 0 is ``features`` (vid, value) — vertices absent from it
        start null.

        One equi-join + one groupBy per hop, both on vid — linear in
        edges per round, no neighborhood materialization beyond the
        message stream. Returns ``(vid, n_neighbors, feature)`` for
        every vertex with >= 1 edge."""
        if hops < 1:
            raise ValueError(f"hops must be >= 1, got {hops}")
        und = (
            self.edges.select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates()
        )
        # both directions: message u -> v for every undirected edge
        adj = und.select(
            F.col("a").alias("vid"), F.col("b").alias("nbr")
        ).unionAll(und.select(F.col("b").alias("vid"), F.col("a").alias("nbr")))
        state = features.select(F.col("vid"), F.col(value).alias("__f"))
        for _ in range(hops):
            msgs = adj.join(
                state.select(F.col("vid").alias("nbr"), "__f"), "nbr", "left"
            )
            state = msgs.groupBy("vid").agg(
                F.count(F.lit(1)).alias("n_neighbors"),
                F.avg("__f").alias("__f"),
            )
        return state.select("vid", "n_neighbors", F.col("__f").alias("feature"))

    def random_walks(
        self,
        length: int = 5,
        walks_per_vertex: int = 1,
        seed: int = 42,
    ) -> DataFrame:
        """Deterministic uniform random walks over the undirected simple
        graph — the DeepWalk/node2vec corpus-generation step. Every
        step's choice is ``h60(seed:walk_id:t) mod degree`` into the
        vertex's SORTED neighbor array, so walks are a pure function of
        (seed, start, walk index): reproducible across runs, engines,
        and partitionings — no RNG state, the same discipline as the
        split/sample operators. Dead ends freeze the walk.

        One adjacency-array build (groupBy + sorted collect,
        checkpointed), then ``length`` equi-joins of the walk frontier
        against it — walk state is one row per walk with the path
        in-row, so the shuffle carries walks, not steps. Returns
        ``(walk_id, start, path array<string-of-vid-type>)``."""
        if length < 1 or walks_per_vertex < 1:
            raise ValueError(
                f"need length >= 1 and walks_per_vertex >= 1, got "
                f"{length}, {walks_per_vertex}"
            )
        und = (
            self.edges.select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates()
        )
        adj = (
            und.select(F.col("a").alias("vid"), F.col("b").alias("nbr"))
            .unionAll(und.select(F.col("b").alias("vid"), F.col("a").alias("nbr")))
            .groupBy("vid")
            .agg(F.array_sort(F.collect_set("nbr")).alias("__nbrs"))
            .localCheckpoint(eager=False)
        )
        walks = self.vertices.select("vid").dropDuplicates().select(
            F.col("vid").alias("start"),
            F.explode(
                F.array(*[F.lit(i) for i in range(walks_per_vertex)])
            ).alias("__i"),
        ).select(
            F.concat(F.col("start").cast("string"), F.lit("#"), F.col("__i")).alias(
                "walk_id"
            ),
            "start",
            F.col("start").alias("__cur"),
            F.array(F.col("start")).alias("path"),
        )
        from orientdb_spark.pipeline.common import h60

        for t in range(1, length + 1):
            step = walks.join(
                adj.select(F.col("vid").alias("__cur"), "__nbrs"), "__cur", "left"
            )
            alive = F.col("__cur").isNotNull() & F.col("__nbrs").isNotNull()
            idx = F.pmod(
                h60(F.concat(F.lit(f"{seed}:"), F.col("walk_id"), F.lit(f":{t}"))),
                F.size("__nbrs"),
            )
            nxt = F.when(alive, F.element_at("__nbrs", (idx + 1).cast("int")))
            walks = step.select(
                "walk_id",
                "start",
                nxt.alias("__cur"),
                F.when(alive, F.concat(F.col("path"), F.array(nxt)))
                .otherwise(F.col("path"))
                .alias("path"),
            )
        return walks.select("walk_id", "start", "path")

    @staticmethod
    def walk_skipgrams(walks: DataFrame, window: int = 2) -> DataFrame:
        """Skip-gram training pairs from random-walk paths — the step
        between ``random_walks`` and embedding training (DeepWalk's
        corpus → (center, context) expansion). For every path position
        i and offset d in [1, window], emits both directions of the
        (path[i], path[i+d]) pair with its distance. IN-ROW expansion
        over the path array (posexplode of positions, unrolled offsets
        — no self-join), then one count groupBy; the shuffle carries
        distinct pairs, not walk steps.

        Returns ``(center, context, distance, n_pairs)`` aggregated
        over all walks."""
        if window < 1:
            raise ValueError(f"window must be >= 1, got {window}")
        ex = walks.select(
            F.posexplode(F.col("path")).alias("__i", "center"),
            F.col("path").alias("__p"),
        )
        pairs = None
        for d in range(1, window + 1):
            ctx = F.element_at(F.col("__p"), F.col("__i") + 1 + d)
            part = ex.select(
                "center", ctx.alias("context"), F.lit(d).alias("distance")
            ).filter(F.col("context").isNotNull())
            pairs = part if pairs is None else pairs.unionAll(part)
        sym = pairs.unionAll(
            pairs.select(
                F.col("context").alias("center"),
                F.col("center").alias("context"),
                "distance",
            )
        )
        return sym.groupBy("center", "context", "distance").agg(
            F.count(F.lit(1)).alias("n_pairs")
        )

    def neighborhood_function(
        self, max_t: int = 10, lgk: int = 12, converge_tol: float = 0.001
    ) -> DataFrame:
        """HyperBall/HyperANF-style neighborhood function (Boldi &
        Vigna, public): N(t) = the number of (u, v) pairs within
        undirected distance <= t, estimated by giving every vertex an
        HLL sketch of its ball and unioning sketches along edges each
        round — ball_t(v) = ball_{t-1}(v) ∪ ball_{t-1}(neighbors).
        Sketches make the per-vertex state O(2^lgk) bytes instead of
        O(ball size), which is the whole trick: exact transitive
        closure is quadratic, this is |V| sketches and one exchange per
        round. N(t)'s growth curve yields the effective diameter (the
        smallest t with N(t) >= 0.9 * N(inf)) without ever
        materializing a closure.

        Stops early when N(t) grows by < ``converge_tol`` (relative) —
        the ball union is monotone, so a flat round means (near-)
        convergence. Returns one row per computed t:
        ``(t, reachable_pairs, avg_ball_size)`` (estimates, HLL
        accuracy ~1.6% at lgk=12; gated vs exact closure in tests)."""
        if max_t < 1:
            raise ValueError(f"max_t must be >= 1, got {max_t}")
        und = (
            self.edges.select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates()
        )
        adj = und.select(
            F.col("a").alias("vid"), F.col("b").alias("nbr")
        ).unionAll(und.select(F.col("b").alias("vid"), F.col("a").alias("nbr")))
        verts = self.vertices.select("vid").dropDuplicates()
        state = verts.groupBy("vid").agg(
            F.hll_sketch_agg(F.col("vid"), F.lit(lgk)).alias("__ball")
        ).localCheckpoint()
        n0 = float(verts.count())
        rows = [(0, n0, 1.0)]
        prev = n0
        for t in range(1, max_t + 1):
            msgs = adj.join(
                state.select(F.col("vid").alias("nbr"), "__ball"), "nbr"
            ).select("vid", "__ball")
            state = (
                state.select("vid", "__ball")
                .unionByName(msgs)
                .groupBy("vid")
                .agg(F.hll_union_agg(F.col("__ball")).alias("__ball"))
                .localCheckpoint()
            )
            total = float(
                state.select(
                    F.sum(F.hll_sketch_estimate(F.col("__ball"))).alias("s")
                ).first()["s"]
            )
            rows.append((t, total, total / n0))
            if prev > 0 and (total - prev) / prev < converge_tol:
                break
            prev = total
        schema = "t INT, reachable_pairs DOUBLE, avg_ball_size DOUBLE"
        return local_frame(self.vertices.sparkSession, rows, schema)

    def minimum_spanning_forest(
        self, weight_col: str = "w", max_iter: int = 30
    ) -> DataFrame:
        """Distributed Borůvka minimum spanning forest over the
        undirected simple graph: every round, each component selects
        its minimum outgoing edge under the TOTAL order
        ``(weight, a, b)`` (the tie-break plays the role of unique
        weights, so simultaneous selection can never close a cycle —
        the classic Borůvka argument), the selected edges join the
        forest, and components merge by running the star-contraction CC
        over the selection graph (component-count-sized, a forest — it
        contracts in a couple of alternations). Rounds are O(log V):
        every component merges every round. Per round: one
        endpoint-relabel join, one per-component min (struct-min agg —
        map-side combinable), the small CC, one label-remap join.

        Parallel edges collapse to their minimum weight under the same
        total order; self-loops drop. Returns the forest edges
        ``(src, dst, weight)`` with ``src < dst`` — |V| - #components
        rows, the unique MSF under the total order (pytest-pinned
        against sequential Kruskal)."""
        und = (
            self.edges.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
                F.col(weight_col).cast("double").alias("w"),
            )
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.min("w").alias("w"))
            .localCheckpoint(eager=False)
        )
        comp = (
            und.select(F.col("a").alias("vid"))
            .unionAll(und.select(F.col("b").alias("vid")))
            .dropDuplicates()
            .withColumn("component", F.col("vid"))
            .localCheckpoint()
        )
        forest = None
        for _ in range(max_iter):
            lab = comp.select(
                F.col("vid"), F.col("component").alias("__c")
            )
            e = (
                und.join(lab.withColumnRenamed("vid", "a").withColumnRenamed("__c", "__ca"), "a")
                .join(lab.withColumnRenamed("vid", "b").withColumnRenamed("__c", "__cb"), "b")
                .filter(F.col("__ca") != F.col("__cb"))
            )
            # min outgoing edge per component under the (w, a, b) total
            # order; each side of the edge votes from its own component
            cand = e.select(F.col("__ca").alias("__c"), "w", "a", "b").unionAll(
                e.select(F.col("__cb").alias("__c"), "w", "a", "b")
            )
            picked = (
                cand.groupBy("__c")
                .agg(F.min(F.struct("w", "a", "b")).alias("__m"))
                .select(
                    F.col("__m.a").alias("a"),
                    F.col("__m.b").alias("b"),
                    F.col("__m.w").alias("w"),
                )
                .dropDuplicates(["a", "b"])
                .localCheckpoint()
            )
            if not picked.take(1):
                break
            forest = picked if forest is None else forest.unionByName(picked).localCheckpoint(eager=False)
            # merge the touched components: CC over the selection graph,
            # expressed on component labels
            sel = (
                picked.join(lab.withColumnRenamed("vid", "a").withColumnRenamed("__c", "__ca"), "a")
                .join(lab.withColumnRenamed("vid", "b").withColumnRenamed("__c", "__cb"), "b")
                .select(F.col("__ca").alias("src"), F.col("__cb").alias("dst"))
            )
            cverts = sel.select(F.col("src").alias("vid")).unionAll(
                sel.select(F.col("dst").alias("vid"))
            ).dropDuplicates()
            merged = Graph(cverts, sel).connected_components().select(
                F.col("vid").alias("__old"), F.col("component").alias("__new")
            )
            comp = (
                comp.join(merged, comp["component"] == merged["__old"], "left")
                .select(
                    "vid",
                    F.coalesce(F.col("__new"), F.col("component")).alias("component"),
                )
                .localCheckpoint()
            )
        if forest is None:
            return und.filter(F.lit(False)).select(
                F.col("a").alias("src"), F.col("b").alias("dst"),
                F.col("w").alias("weight"),
            )
        return forest.select(
            F.col("a").alias("src"), F.col("b").alias("dst"), F.col("w").alias("weight")
        )

    def topological_levels(self, max_iter: int = 200) -> DataFrame:
        """Topological level assignment over the DIRECTED graph by
        distributed Kahn peeling: round t removes the vertices with no
        remaining incoming edge and assigns them ``level = t`` — so a
        vertex's level is the length of the longest predecessor chain
        above it (the scheduling depth of a DAG of jobs / tables).
        Vertices never peeled (a cycle, or past ``max_iter``) come back
        with null level and ``is_cyclic = true`` — cycle DETECTION
        falls out of the algorithm for free.

        Per round: two anti joins (surviving vertices minus the ones
        with incoming edges; surviving edges minus those from peeled
        sources), each frontier eagerly checkpointed because it feeds
        the result union AND both prunes. Round count = DAG depth, the
        same iteration profile as kcore's peeling. Self-loops are
        inherently cyclic and left unpeeled.

        Returns ``(vid, level, is_cyclic)`` for every vertex."""
        if max_iter < 1:
            raise ValueError(f"max_iter must be >= 1, got {max_iter}")
        edges = (
            self.edges.select("src", "dst")
            .dropDuplicates()
            .localCheckpoint(eager=False)
        )
        remaining_v = self.vertices.select("vid").dropDuplicates()
        remaining_e = edges
        peeled = []
        for t in range(max_iter):
            has_in = remaining_e.select(F.col("dst").alias("vid")).dropDuplicates()
            zero_in = (
                remaining_v.join(has_in, "vid", "left_anti")
                .withColumn("level", F.lit(t))
                .localCheckpoint()
            )
            if not zero_in.take(1):
                break
            peeled.append(zero_in)
            remaining_v = remaining_v.join(
                zero_in.select("vid"), "vid", "left_anti"
            ).localCheckpoint(eager=False)
            remaining_e = remaining_e.join(
                zero_in.select(F.col("vid").alias("src")), "src", "left_anti"
            ).localCheckpoint(eager=False)
        acyclic = peeled[0] if peeled else None
        for df in peeled[1:]:
            acyclic = acyclic.unionByName(df)
        cyclic = remaining_v.select(
            "vid",
            F.lit(None).cast("int").alias("level"),
            F.lit(True).alias("is_cyclic"),
        )
        if acyclic is None:
            return cyclic
        return acyclic.select(
            "vid", F.col("level").cast("int"), F.lit(False).alias("is_cyclic")
        ).unionByName(cyclic)

    def link_prediction(
        self,
        min_common: int = 1,
        max_center_degree: int | None = None,
    ) -> DataFrame:
        """Common-neighbors / Adamic-Adar link prediction over the
        undirected simple graph: for every non-adjacent vertex pair at
        distance 2, the number of shared neighbors and the Adamic-Adar
        score ``sum_w 1/ln(deg(w))`` over the shared neighbors w — the
        classic "who should be connected" feature.

        Wedge enumeration (one adjacency self-join keyed on the center)
        + one pair groupBy + an anti join against the existing edges.
        A center of degree d emits C(d,2) wedges, so hubs dominate cost
        exactly as they dominate the answer; ``max_center_degree`` caps
        wedge generation at hub centers for the 100 TB run (documented
        recall trade — pairs whose ONLY shared neighbors are capped
        hubs are lost, and surviving pairs lose those hubs'
        contributions; the [-1/ln(deg)] terms are the least informative
        ones, which is why the cap is the standard mitigation).
        ``min_common`` prunes the pair tail early, inside the aggregate.

        Returns ``(id_a, id_b, common_neighbors, aa_score)`` with
        ``id_a < id_b``. Degree-1 vertices cannot be wedge centers, so
        ``ln(deg)`` never sees 1."""
        if min_common < 1:
            raise ValueError(f"min_common must be >= 1, got {min_common}")
        und = (
            self.edges.select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates()
            # feeds adjacency (twice via the union), the degree agg, and
            # the final anti join — checkpoint once, same discipline as
            # triangle_count's oriented edge list
            .localCheckpoint(eager=False)
        )
        adj = und.select(
            F.col("a").alias("w"), F.col("b").alias("n")
        ).unionAll(und.select(F.col("b").alias("w"), F.col("a").alias("n")))
        deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("__d"))
        if max_center_degree is not None:
            deg = deg.filter(F.col("__d") <= max_center_degree)
        # both wedge sides read the same degree-annotated adjacency
        centers = adj.join(deg, "w").localCheckpoint(eager=False)
        e1, e2 = centers.alias("e1"), centers.alias("e2")
        wedges = e1.join(
            e2,
            (F.col("e1.w") == F.col("e2.w")) & (F.col("e1.n") < F.col("e2.n")),
        ).select(
            F.col("e1.n").alias("id_a"),
            F.col("e2.n").alias("id_b"),
            F.col("e1.__d").alias("__dw"),
        )
        scored = (
            wedges.groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).alias("common_neighbors"),
                F.sum(1.0 / F.log("__dw")).alias("aa_score"),
            )
            .filter(F.col("common_neighbors") >= min_common)
        )
        return scored.join(
            und.select(F.col("a").alias("id_a"), F.col("b").alias("id_b")),
            ["id_a", "id_b"],
            "left_anti",
        )

    def kcore(self, k: int, max_iter: int = 100) -> DataFrame:
        """Vertices of the k-core (maximal subgraph where every vertex
        has undirected degree >= k). Returns (vid, core_degree) —
        the vertex's degree WITHIN the surviving core.

        Iterative peeling: each round drops every vertex whose current
        degree is < k, until none is (the fixpoint is unique regardless
        of drop order, so peeling all weak vertices per round is both
        correct and round-minimal). Per round: one degree aggregate and
        two anti-joins on the shrinking edge list, checkpointed so the
        lineage stays bounded — the same loop discipline as BFS/CC. The
        weak-set emptiness probe is the per-round materializing job."""
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        und = (
            self.edges.select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
        for _ in range(max_iter):
            deg = (
                und.select(F.col("a").alias("v"))
                .unionAll(und.select(F.col("b").alias("v")))
                .groupBy("v")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            weak = deg.filter(F.col("d") < k).select("v").localCheckpoint(eager=True)
            if weak.isEmpty():
                release(weak)
                return deg.select(
                    F.col("v").alias("vid"), F.col("d").alias("core_degree")
                )
            prev, und = und, (
                und.join(weak.withColumnRenamed("v", "a"), "a", "left_anti")
                .join(weak.withColumnRenamed("v", "b"), "b", "left_anti")
                .select("a", "b")
                .localCheckpoint(eager=True)
            )
            release(prev, weak)
        raise RuntimeError(f"k-core did not converge in {max_iter} rounds")

    def pagerank(
        self,
        iterations: int = 10,
        damping: float = 0.85,
        personalized_for: list | None = None,
    ) -> DataFrame:
        """Iterative PageRank via aggregate-messages joins (the Pregel
        formulation on DataFrames). Returns (vid, rank).

        ``personalized_for`` switches to personalized PageRank (the
        recommendation/similarity ranking): the teleport mass lands only
        on the given source vertices (1/|S| each) instead of uniformly —
        r_i(v) = (1-d)·p(v) + d·Σ msgs. Same one-exchange-per-iteration
        loop: the teleport vector rides the zero-message carrier (max()
        recovers it after the sum groupBy — msgs carry tp=0), so
        personalization adds NO join.

        Dangling-vertex semantics: sink vertices KEEP receiving rank
        (the zero-message carrier keeps them alive) but their outgoing
        mass is dropped, not redistributed — so Σrank < 1 on graphs
        with sinks. This is the no-redistribution variant (what a
        plain aggregate-messages loop computes, and what the unrolled
        power-iteration oracle replays); classic-PageRank semantics
        would add a per-iteration dangling-sum aggregate spread
        uniformly. Chosen deliberately: ranks stay proportional within
        a component, and the invariants are pinned in
        tests/test_pagerank_gate.py."""
        from pyspark.sql import Window

        n = self.vertices.count()
        # weighted adjacency (src, dst, w=1/out_degree) computed once and
        # persisted — the per-iteration work is then join + groupBy, both
        # shuffling on vertex id (explicit pre-partitioning was measured
        # slower here: AQE coalesces the tiny shuffles anyway and the
        # repartition barrier just adds a stage). The out-degree rides a
        # single window exchange on src; the former groupBy + join-back
        # shuffled the edge set twice for the same column (the same
        # one-exchange discipline as _large_star/_small_star).
        adj = (
            self.edges.select(
                "src",
                "dst",
                (
                    F.lit(1.0)
                    / F.count(F.lit(1)).over(Window.partitionBy("src"))
                ).alias("w"),
            )
            .persist()
        )
        vids = self.vertices.select("vid").persist()
        if personalized_for is not None:
            if not personalized_for:
                raise ValueError("personalized_for must name at least one vertex")
            tp = F.when(
                F.col("vid").isin(list(personalized_for)),
                F.lit(1.0 / len(personalized_for)),
            ).otherwise(F.lit(0.0))
        else:
            tp = F.lit(1.0 / n)
        # zero-message carrier: unioned into every round's aggregation so
        # dangling vertices (no in-edges) survive with msg=0 WITHOUT a
        # second join per iteration — one exchange per round (the message
        # groupBy) instead of two (groupBy + vids left-join). The union is
        # narrow; sum() absorbs the zeros, and max() recovers the carried
        # teleport (message rows ride tp=0).
        zeros = vids.withColumn("contrib", F.lit(0.0)).withColumn("__tp", tp)
        ranks = vids.withColumn("rank", tp)
        held = []  # the checkpoint the live ranks read
        for i in range(iterations):
            msgs = ranks.join(adj, ranks["vid"] == adj["src"]).select(
                F.col("dst").alias("vid"),
                (F.col("rank") * F.col("w")).alias("contrib"),
                F.lit(0.0).alias("__tp"),
            )
            ranks = (
                msgs.unionByName(zeros)
                .groupBy("vid")
                .agg(F.sum("contrib").alias("msg"), F.max("__tp").alias("__t"))
                .select(
                    "vid",
                    (
                        F.lit(1.0 - damping) * F.col("__t")
                        + F.lit(damping) * F.col("msg")
                    ).alias("rank"),
                )
            )
            if i % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1 or i == iterations - 1:
                ranks = ranks.localCheckpoint(eager=True)
                release(*held)
                held = [ranks]
        adj.unpersist()
        vids.unpersist()
        return ranks

    def betweenness_sampled(
        self,
        sources: list | None = None,
        n_samples: int = 8,
        max_depth: int = 20,
    ) -> DataFrame:
        """Betweenness centrality by sampled Brandes (Brandes 2001 +
        the Brandes–Pich 2007 source-sampling estimator, both public):
        for each source s, a forward level-synchronous BFS computes
        (dist, σ = #shortest paths), then the backward dependency sweep
        accumulates δ(v) = Σ_{w: dist_w = dist_v+1, (v,w)∈E}
        (σ_v/σ_w)(1+δ_w) level by level; betweenness(v) = Σ_s δ_s(v)
        over the sampled sources (endpoints excluded, undirected simple
        graph — parallel edges collapse). Passing ``sources=None``
        samples the ``n_samples`` vertices with the smallest
        (h60(vid), vid) — deterministic, no RNG; pass every vertex for
        EXACT Brandes. The unbiased full-graph estimate is
        (|V|/|S|)·betweenness — left to the caller, who knows |V|.

        Scale shape: ALL sources run in one wave — state is keyed
        (source, vid), so the per-level cost is one frontier join + one
        (s, vid) σ-sum groupBy forward, and one join + one groupBy per
        level backward; 2·diameter exchanges total, frontier frames
        checkpointed per level (the bfs() discipline). State is
        O(|S|·V) rows — the sampling parameter is exactly the
        state/precision dial the estimator literature prescribes.
        Returns (vid, betweenness) for every vertex (zeros included).
        """
        from orientdb_spark.pipeline.common import h60

        if n_samples < 1 or max_depth < 1:
            raise ValueError(
                f"need n_samples >= 1 and max_depth >= 1, got {n_samples}, {max_depth}"
            )
        und = (
            self.edges.select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates()
        )
        adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            und.select(F.col("b").alias("u"), F.col("a").alias("v"))
        ).persist()
        verts = self.vertices.select("vid").dropDuplicates()
        spark = self.vertices.sparkSession
        if sources is None:
            srcs = [
                r["vid"]
                for r in verts.withColumn("__h", h60(F.col("vid").cast("string")))
                .orderBy("__h", "vid")
                .limit(n_samples)
                .collect()
            ]
        else:
            srcs = list(dict.fromkeys(sources))
        if not srcs:
            raise ValueError("no source vertices to sample")
        vid = T.StructType().add("s", self.vertices.schema["vid"].dataType)
        src_df = local_frame(spark, [(s,) for s in srcs], vid)
        state = src_df.select(
            "s",
            F.col("s").alias("vid"),
            F.lit(0).alias("dist"),
            F.lit(1.0).alias("sigma"),
        ).localCheckpoint(eager=True)
        frontier = state
        levels = [state]  # per-level (s, vid, dist, sigma)
        depth = 0
        while depth < max_depth:
            depth += 1
            nxt = (
                frontier.join(adj, frontier["vid"] == adj["u"])
                .select("s", F.col("v").alias("vid"), "sigma")
                .groupBy("s", "vid")
                .agg(F.sum("sigma").alias("sigma"))
                .join(state.select("s", "vid"), ["s", "vid"], "left_anti")
                .withColumn("dist", F.lit(depth))
                .select("s", "vid", "dist", "sigma")
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                depth -= 1
                break
            levels.append(nxt)
            state = state.unionByName(nxt).localCheckpoint(eager=False)
            frontier = nxt
        # backward dependency sweep, deepest level first; level frames
        # are frontier-sized and already materialized
        deltas: list[DataFrame] = []
        below = levels[depth].withColumn("delta", F.lit(0.0))
        if depth >= 1:
            deltas.append(below)
        for lev in range(depth - 1, 0, -1):
            contrib = (
                below.join(adj, below["vid"] == adj["u"])
                .select(
                    "s",
                    F.col("v").alias("vid"),
                    (F.lit(1.0) + F.col("delta")).alias("__t"),
                    F.col("sigma").alias("__sw"),
                )
            )
            cur = (
                levels[lev]
                .join(contrib, ["s", "vid"], "left")
                .groupBy("s", "vid", "dist", "sigma")
                .agg(
                    F.coalesce(
                        F.sum(F.col("sigma") / F.col("__sw") * F.col("__t")), F.lit(0.0)
                    ).alias("delta")
                )
                .localCheckpoint(eager=True)
            )
            deltas.append(cur)
            below = cur
        adj.unpersist()
        if not deltas:
            return verts.withColumn("betweenness", F.lit(0.0))
        acc = deltas[0]
        for d in deltas[1:]:
            acc = acc.unionByName(d)
        bc = acc.groupBy("vid").agg(F.sum("delta").alias("betweenness"))
        return verts.join(bc, "vid", "left").select(
            "vid", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
        )

    def hits(self, iterations: int = 8) -> DataFrame:
        """HITS hubs & authorities (Kleinberg, "Authoritative Sources in
        a Hyperlinked Environment", JACM 1999 — public): mutual
        recursion ``authority(v) = Σ_{u→v} hub(u)``, ``hub(u) =
        Σ_{u→v} authority(v)``, each vector L1-normalized per
        half-iteration (normalization choice is free up to scale; L1
        keeps the oracle sqrt-free). Returns (vid, hub, authority).

        Scale shape (the PageRank discipline): per half-iteration one
        edge join + one groupBy — both shuffling on vertex id — plus an
        L1-sum that rides as a broadcast one-row cross join (no extra
        job); vertices with no in/out edges stay alive at score 0 via
        the LEFT join back to the vertex set. State checkpoints every
        ``_CHECKPOINT_EVERY`` iterations to keep lineage flat. Parallel
        edges collapse first (classic HITS is defined on the simple
        digraph)."""
        if iterations < 1:
            raise ValueError(f"iterations must be >= 1, got {iterations}")
        ed = (
            self.edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates()
            .persist()
        )
        verts = self.vertices.select("vid").dropDuplicates().persist()
        # the checkpoint each live score vector reads
        held: dict[str, DataFrame] = {}

        def _norm(raw: DataFrame, out: str) -> DataFrame:
            # raw is referenced TWICE (the L1-sum agg and the divide) —
            # without materializing it first, each half-iteration DOUBLES
            # the logical plan and 4 iterations go combinatorial at
            # plan-analysis time (measured: >400 s before any job).
            # One eager checkpoint per half-iteration is the PageRank
            # job cadence and keeps the plan flat.
            raw = raw.localCheckpoint(eager=True)
            # the vector this one replaces fed the other half's
            # checkpoint, which is materialized: it is dead
            if out in held:
                release(held[out])
            held[out] = raw
            tot = raw.agg(F.sum("raw").alias("__t"))
            return raw.crossJoin(F.broadcast(tot)).select(
                "vid",
                F.when(F.col("__t") > 0, F.col("raw") / F.col("__t"))
                .otherwise(F.lit(0.0))
                .alias(out),
            )

        h = verts.withColumn("hub", F.lit(1.0))
        a = verts.withColumn("authority", F.lit(0.0))
        for i in range(iterations):
            a_raw = (
                ed.join(h.withColumnRenamed("vid", "src"), "src")
                .groupBy("dst")
                .agg(F.sum("hub").alias("raw"))
            )
            a = _norm(
                verts.join(a_raw.withColumnRenamed("dst", "vid"), "vid", "left")
                .select("vid", F.coalesce("raw", F.lit(0.0)).alias("raw")),
                "authority",
            )
            h_raw = (
                ed.join(a.withColumnRenamed("vid", "dst"), "dst")
                .groupBy("src")
                .agg(F.sum("authority").alias("raw"))
            )
            h = _norm(
                verts.join(h_raw.withColumnRenamed("src", "vid"), "vid", "left")
                .select("vid", F.coalesce("raw", F.lit(0.0)).alias("raw")),
                "hub",
            )
            if i % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1 or i == iterations - 1:
                a = a.localCheckpoint(eager=True)
                h = h.localCheckpoint(eager=True)
                release(*held.values())
                held.update(authority=a, hub=h)
        ed.unpersist()
        verts.unpersist()
        return h.join(a, "vid")

    def shortest_paths(
        self,
        source_vids: list,
        iterations: int = 10,
        weight_col: str | None = None,
    ) -> DataFrame:
        """Single-source (or multi-source) shortest paths, Bellman-Ford
        style: ``iterations`` synchronous relaxation rounds, so the
        result is the exact minimum path weight over paths of at most
        ``iterations`` edges (set it >= the graph diameter for the true
        SSSP fixpoint). Returns (vid, dist) for reached vertices only.

        Shuffle budget (plan-pinned): LINEAR in rounds — two vid
        exchanges per round (the relax join's state alignment + the
        message min-groupBy) plus the one-time self-loop carrier build.
        The self-loop trick is what keeps it linear: every vertex gets a
        zero-weight loop once, so the carried distance rides the SAME
        relax join as the messages — new_dist(v) = min over (in-edges ∪
        self-loop) — and the state DataFrame feeds exactly ONE operator
        per round. The naive carry (union old dist with messages)
        references the state twice and doubles the inlined plan every
        round (measured 2^k growth). Deterministic for a fixed
        iteration count — the driver oracle unrolls the same recurrence
        as a CTE chain. Multi-edges need no pre-aggregation: min()
        absorbs them. Negative weights are fine (it's Bellman-Ford),
        but no negative-cycle detection at a fixed horizon."""
        w = F.col(weight_col) if weight_col else F.lit(1.0)
        spark = self.edges.sparkSession
        real = self.edges.select("src", "dst", w.cast("double").alias("__w"))
        vid = T.StructType().add("vid", self.edges.schema["src"].dataType)
        srcs = local_frame(spark, [(v,) for v in source_vids], vid)
        # self-loop carrier over every vertex that could ever hold a
        # distance (edge endpoints + sources) — built once, persisted
        loops = (
            real.select(F.col("src").alias("vid"))
            .unionByName(real.select(F.col("dst").alias("vid")))
            .unionByName(srcs)
            .distinct()
            .select(
                F.col("vid").alias("src"),
                F.col("vid").alias("dst"),
                F.lit(0.0).alias("__w"),
            )
        )
        edges = real.unionByName(loops).persist()
        dist = srcs.withColumn("dist", F.lit(0.0)).localCheckpoint(eager=True)
        held = [dist]  # the checkpoint the live dist reads
        for i in range(iterations):
            dist = (
                dist.join(edges, dist["vid"] == edges["src"])
                .select(
                    F.col("dst").alias("vid"),
                    (F.col("dist") + F.col("__w")).alias("dist"),
                )
                .groupBy("vid")
                .agg(F.min("dist").alias("dist"))
            )
            if i % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1 or i == iterations - 1:
                dist = dist.localCheckpoint(eager=True)
                release(*held)
                held = [dist]
        edges.unpersist()
        return dist

    def label_propagation(self, iterations: int = 5) -> DataFrame:
        """Synchronous label-propagation community detection (Raghavan et
        al. 2007), made DETERMINISTIC: every vertex starts with its own
        vid as label, and each round adopts the most frequent label among
        its (undirected) neighbors, ties broken by the SMALLEST label;
        isolated vertices keep their own. Returns (vid, label).

        A fixed iteration count + total tie order makes the result
        reproducible and CTE-oracle-able — the usual LPA caveat (update
        order changes communities) is removed by the synchronous sweep.
        Per round: one exchange for the (dst,label) vote count, one for
        the per-dst argmax (min over (-count, label) structs — max
        count, then min label, in one deterministic agg)."""
        both = self.edges.select("src", "dst").unionByName(
            self.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).persist()
        labels = self.vertices.select("vid", F.col("vid").alias("label"))
        held = []  # the checkpoint the live labels read
        for i in range(iterations):
            votes = (
                labels.join(both, labels["vid"] == both["src"])
                .groupBy(F.col("dst").alias("vid"), "label")
                .agg(F.count(F.lit(1)).alias("__n"))
            )
            winner = (
                votes.groupBy("vid")
                .agg(
                    F.min(F.struct((-F.col("__n")).alias("nn"), F.col("label"))).alias(
                        "__win"
                    )
                )
                .select("vid", F.col("__win.label").alias("label"))
            )
            labels = (
                self.vertices.select("vid")
                .join(winner, "vid", "left")
                .select(
                    "vid",
                    F.coalesce(F.col("label"), F.col("vid")).alias("label"),
                )
            )
            if i % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1 or i == iterations - 1:
                labels = labels.localCheckpoint(eager=True)
                release(*held)
                held = [labels]
        both.unpersist()
        return labels

    def modularity(
        self, assignment: DataFrame, label_col: str = "label"
    ) -> DataFrame:
        """Newman modularity of a community assignment (Newman & Girvan
        2004) — the quality score a pipeline uses to compare
        label_propagation / connected-component partitions or pick an
        iteration count: per community ``c``,

            q_contrib(c) = e_c / m  -  (deg_c / (2m))^2

        where ``m`` is the undirected edge count (self-loops dropped),
        ``e_c`` the edges internal to ``c``, and ``deg_c`` the degree
        sum of its members; Q = sum of q_contrib. Returns one row per
        community — ``(community, n_nodes, internal_edges, degree_sum,
        q_contrib)`` — rather than the single global Q, because (a)
        which communities are weak is the actionable signal, and (b) a
        per-community table keeps the float work ORDER-FREE: each row
        is two exact integer ratios of identical IEEE expression trees,
        so the whole result replays bit-exactly in SQL, while a global
        float sum would pick up partition-order ulps. Consumers sum
        q_contrib for Q.

        Scale shape: one edge-list pass for degrees, one
        assignment-join pass for internal edges (both map-side
        combinable groupBys), a 1-row broadcast total — no window, no
        corpus-order dependence."""
        asg = assignment.select(
            F.col("vid"), F.col(label_col).alias("__community")
        )
        ed = self.edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
        st = ed.agg(F.count(F.lit(1)).cast("double").alias("__m"))
        deg = (
            ed.select(F.col("src").alias("vid"))
            .unionByName(ed.select(F.col("dst").alias("vid")))
            .groupBy("vid")
            .agg(F.count(F.lit(1)).alias("__deg"))
        )
        nodes = asg.groupBy("__community").agg(
            F.count(F.lit(1)).alias("n_nodes")
        )
        degc = (
            asg.join(deg, "vid")
            .groupBy("__community")
            .agg(F.sum("__deg").alias("__degsum"))
        )
        sa = asg.select(F.col("vid").alias("src"), F.col("__community").alias("__ca"))
        sb = asg.select(F.col("vid").alias("dst"), F.col("__community").alias("__cb"))
        intra = (
            ed.join(sa, "src")
            .join(sb, "dst")
            .filter(F.col("__ca") == F.col("__cb"))
            .groupBy(F.col("__ca").alias("__community"))
            .agg(F.count(F.lit(1)).alias("__internal"))
        )
        m = F.greatest(F.col("__m"), F.lit(1.0))
        e_c = F.coalesce(F.col("__internal"), F.lit(0)).cast("double")
        d_c = F.coalesce(F.col("__degsum"), F.lit(0)).cast("double")
        frac = d_c / (F.lit(2.0) * m)
        return (
            nodes.join(degc, "__community", "left")
            .join(intra, "__community", "left")
            .crossJoin(F.broadcast(st))
            .select(
                F.col("__community").alias("community"),
                F.col("n_nodes").cast("long").alias("n_nodes"),
                F.coalesce(F.col("__internal"), F.lit(0))
                .cast("long")
                .alias("internal_edges"),
                F.coalesce(F.col("__degsum"), F.lit(0))
                .cast("long")
                .alias("degree_sum"),
                F.round(e_c / m - frac * frac + F.lit(1e-12), 6).alias(
                    "q_contrib"
                ),
            )
        )

    def degree_distribution(self) -> DataFrame:
        """Log-binned degree histogram — the first profiling pass run on
        any large graph (is this a power-law web graph or a bounded-
        degree FK mesh?), and the input to the partitioning decision
        ``assortativity`` refines: per power-of-two bucket over the
        undirected degree (self-loops dropped), ``(bucket_id, lo, hi,
        n_vertices, min_degree, max_degree)`` with bucket b covering
        degrees [2^b, 2^(b+1)) and hi = 2^(b+1)-1. Buckets are integer
        comparisons (bucket = floor(log2 d) via a comparison chain on
        the aggregated DEGREE TABLE, not per edge) — no floats, so
        the table replays exactly in SQL. Zero-degree vertices (present
        in the vertex table, touching no edge) land in bucket -1 with
        lo/hi 0.

        Scale shape: one stub groupBy for degrees (map-side
        combinable), a left anti-free join of vertices to pick up
        isolates (left join + coalesce 0), the literal bucket CASE,
        and ONE groupBy to <= ~60 rows."""
        ed = self.edges.select("src", "dst").filter(
            F.col("src") != F.col("dst")
        )
        stubs = ed.select(F.col("src").alias("vid")).unionByName(
            ed.select(F.col("dst").alias("vid"))
        )
        deg = stubs.groupBy("vid").agg(F.count(F.lit(1)).alias("__deg"))
        alld = (
            self.vertices.select("vid")
            .join(deg, "vid", "left")
            .select(F.coalesce(F.col("__deg"), F.lit(0)).alias("__deg"))
        )
        # power-of-two bucket via comparison chain over the degree table
        # (40 buckets bound any realizable degree; int64-safe shifts)
        bucket = F.lit(-1)
        for b in range(40):
            bucket = F.when(F.col("__deg") >= (1 << b), F.lit(b)).otherwise(
                bucket
            )
        binned = alld.withColumn("bucket_id", bucket)
        return (
            binned.groupBy("bucket_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_vertices"),
                F.min("__deg").cast("long").alias("min_degree"),
                F.max("__deg").cast("long").alias("max_degree"),
            )
            .select(
                F.col("bucket_id").cast("int").alias("bucket_id"),
                F.expr(
                    "CASE WHEN bucket_id >= 0 THEN shiftleft(1L, bucket_id) "
                    "ELSE 0L END"
                ).alias("lo"),
                F.expr(
                    "CASE WHEN bucket_id >= 0 THEN "
                    "shiftleft(1L, bucket_id + 1) - 1L ELSE 0L END"
                ).alias("hi"),
                "n_vertices",
                "min_degree",
                "max_degree",
            )
        )

    def assortativity(self) -> DataFrame:
        """Degree assortativity coefficient (Newman 2002) — do
        high-degree vertices attach to other hubs (r > 0, social-graph
        shape) or to leaves (r < 0, hub-and-spoke / FK-tree shape)?
        The one-number structural signature read before choosing a
        partitioning strategy: disassortative hub graphs are exactly
        the ones where per-vertex salting of the hub keys pays.

        Over the undirected edge list (self-loops dropped), each edge
        contributes both directed stubs (u,v) and (v,u) with x=deg(u),
        y=deg(v); r is the Pearson correlation of (x, y) over stub
        pairs. Returns ONE row of exact integer sums plus the 6-dp
        coefficient: ``(m_directed, s_deg, s_deg_prod, s_deg_sq,
        assortativity)`` where s_deg = Σx, s_deg_prod = Σxy, s_deg_sq
        = Σx² (symmetric in x/y by construction), and

            r = (Σxy/M − (Σx/M)²) / (Σx²/M − (Σx/M)²)

        evaluated on one fixed IEEE expression tree from the exact
        integer sums — so the float work is ORDER-FREE (the modularity
        discipline) and replays bit-exactly in SQL. NULL when the
        graph is degree-regular (zero variance). The integer sums are
        exact in int64 up to ~1e6-degree hubs at ~1e6 edges; beyond
        that re-derive r from the emitted sums in higher precision.

        Scale shape: one stub-list groupBy for degrees, two equi-joins
        of the edge list against the degree table on vid (broadcast
        when the vertex table is dimension-sized, shuffle otherwise),
        ONE final aggregate to a single row — no window, no
        corpus-order dependence."""
        ed = self.edges.select("src", "dst").filter(
            F.col("src") != F.col("dst")
        )
        stubs = ed.unionByName(
            ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        deg = stubs.groupBy(F.col("src").alias("vid")).agg(
            F.count(F.lit(1)).alias("__deg")
        )
        pairs = (
            stubs.join(deg.withColumnRenamed("vid", "src"), "src")
            .withColumnRenamed("__deg", "__x")
            .join(
                deg.select(
                    F.col("vid").alias("dst"), F.col("__deg").alias("__y")
                ),
                "dst",
            )
        )
        agg = pairs.agg(
            F.count(F.lit(1)).cast("long").alias("m_directed"),
            F.sum("__x").cast("long").alias("s_deg"),
            F.sum(F.col("__x") * F.col("__y")).cast("long").alias("s_deg_prod"),
            F.sum(F.col("__x") * F.col("__x")).cast("long").alias("s_deg_sq"),
        )
        mm = F.col("m_directed").cast("double")
        mean = F.col("s_deg").cast("double") / mm
        num = F.col("s_deg_prod").cast("double") / mm - mean * mean
        den = F.col("s_deg_sq").cast("double") / mm - mean * mean
        return agg.select(
            "m_directed",
            "s_deg",
            "s_deg_prod",
            "s_deg_sq",
            F.round(
                F.when(den > 0, num / den) + F.lit(1e-12), 6
            ).alias("assortativity"),
        )


def tpch_graph(engine) -> Graph:
    """The driver tables as a property graph: region→nation→customer→
    orders→lineitem(part/supplier) — vertex ids are ``type:key`` strings,
    edges follow the FK links (SURVEY §2.4's join-shaped capabilities)."""
    cat = engine.catalog

    def v(name: str, key: str) -> DataFrame:
        return cat.dataframe(name, polymorphic=False).select(
            F.concat(F.lit(name + ":"), F.col(key).cast("string")).alias("vid"),
            F.lit(name).alias("vclass"),
        )

    vertices = (
        v("region", "r_regionkey")
        .unionByName(v("nation", "n_nationkey"))
        .unionByName(v("customer", "c_custkey"))
        .unionByName(v("orders", "o_orderkey"))
    )

    def e(name: str, skey: str, sname: str, dkey: str, dname: str, label: str) -> DataFrame:
        return cat.dataframe(name, polymorphic=False).select(
            F.concat(F.lit(sname + ":"), F.col(skey).cast("string")).alias("src"),
            F.concat(F.lit(dname + ":"), F.col(dkey).cast("string")).alias("dst"),
            F.lit(label).alias("label"),
        )

    edges = (
        e("nation", "n_regionkey", "region", "n_nationkey", "nation", "has_nation")
        .unionByName(e("customer", "c_nationkey", "nation", "c_custkey", "customer", "has_customer"))
        .unionByName(e("orders", "o_custkey", "customer", "o_orderkey", "orders", "placed"))
    )
    return Graph(vertices, edges)


def incremental_components(
    prev: DataFrame, new_edges: DataFrame, **cc_kwargs
) -> DataFrame:
    """Warm-start connected components: given a previous (vid, component)
    assignment and a batch of NEW edges, contract every old component to
    its representative id, run star contraction on the CONTRACTED graph
    (old components + new endpoints — usually orders of magnitude
    smaller than the full graph), and map the merged labels back.
    Labels equal a from-scratch run on the union graph exactly: the
    contracted representative ids are old min-vids, new vertices ride
    as themselves, so the final min is the global min (tested).

    This is the 100 TB ingest pattern: a daily edge delta re-clusters
    in time proportional to (components + delta), not (vertices +
    edges). Old edges never re-enter — their connectivity is fully
    summarized by ``prev``."""
    e = new_edges.select("src", "dst")
    lsrc = prev.select(F.col("vid").alias("src"), F.col("component").alias("__cs"))
    ldst = prev.select(F.col("vid").alias("dst"), F.col("component").alias("__cd"))
    m = (
        e.join(lsrc, "src", "left")
        .join(ldst, "dst", "left")
        .select(
            F.coalesce("__cs", "src").alias("src"),
            F.coalesce("__cd", "dst").alias("dst"),
        )
    )
    verts = (
        prev.select(F.col("component").alias("vid"))
        .unionByName(m.select(F.col("src").alias("vid")))
        .unionByName(m.select(F.col("dst").alias("vid")))
        .distinct()
    )
    cc2 = Graph(verts, m).connected_components(**cc_kwargs)
    old = (
        prev.select("vid", F.col("component").alias("__pc"))
        .join(cc2.select(F.col("vid").alias("__pc"), "component"), "__pc")
        .select("vid", "component")
    )
    newv = (
        e.select(F.col("src").alias("vid"))
        .unionByName(e.select(F.col("dst").alias("vid")))
        .distinct()
        .join(prev.select("vid"), "vid", "left_anti")
        .join(cc2, "vid")
        .select("vid", "component")
    )
    return old.unionByName(newv)
