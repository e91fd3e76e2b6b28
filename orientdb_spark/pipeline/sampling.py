"""Corpus sampling / splitting / dedup-canonicalization operators.

A training-data pipeline needs, beyond pair *detection* (pipeline/dedup),
the corpus-shaping steps that consume those results:

- ``assign_split``: deterministic train/valid/test assignment by content
  hash — reproducible across runs, engines, and re-orderings of the
  input (the property random() splits lack). Pure per-row Column work:
  no shuffle, scales linearly to 100 TB.
- ``quota_sample``: deterministic per-group quota (e.g. "at most N docs
  per source domain"). One window shuffle on the group key; for hot
  groups at scale, an optional count-based hash prefilter cuts the sort
  input before the window (two cheap passes beat one skewed sort).
- ``duplicate_clusters`` / ``canonicalize``: turn *pairs* from any
  detector (minhash-LSH, simhash, embedding-ANN) into connected
  duplicate clusters and pick one survivor per cluster by a quality
  ordering. Clustering reuses the two-phase star-contraction CC from
  ``orientdb_spark.graph`` — diameter-independent rounds, O(E) shuffle
  per round — so a 100 TB pair set with long duplicate chains (doc A ~
  B ~ C ~ ... via transitive near-dups) still converges in O(log n)
  alternations.

All hashing uses the md5-derived 60-bit ``h60`` (pipeline/common.py), so
every operator here is bit-reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from orientdb_spark.pipeline.common import h60
from orientdb_spark.session import local_frame


def _split_key(id_col, seed: int):
    """Per-row 60-bit hash of ``seed:id`` — the only randomness source, so
    assignment is a pure function of (seed, id)."""
    return h60(F.concat(F.lit(str(seed) + ":"), F.col(id_col).cast("string")))


def assign_split(
    df: DataFrame,
    ratios: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: int = 42,
    buckets: int = 10_000,
) -> DataFrame:
    """Add a ``split`` column assigning each row to a named split with the
    given ratios (default 98/1/1 train/valid/test).

    bucket = h60(seed:id) % buckets; cumulative ratio thresholds carve the
    bucket space. Properties a training pipeline needs and a random()
    split lacks: (a) stable under re-runs and input reordering, (b) a doc
    keeps its split when the corpus grows (no leakage of yesterday's test
    docs into today's train), (c) embarrassingly parallel — no shuffle,
    no RNG state.
    """
    ratios = ratios or {"train": 0.98, "valid": 0.01, "test": 0.01}
    bucket = F.pmod(_split_key(id_col, seed), F.lit(buckets))
    expr = None
    acc = 0.0
    items = list(ratios.items())
    for name, frac in items[:-1]:
        acc += frac
        cond = bucket < int(round(acc * buckets))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def quota_sample(
    df: DataFrame,
    group_cols: list[str],
    quota: int,
    id_col: str = "doc_id",
    seed: int = 42,
    prefilter_overshoot: float | None = None,
) -> DataFrame:
    """Keep a deterministic sample of at most ``quota`` rows per group
    (e.g. per source domain), chosen by hash order — an unbiased,
    reproducible "cap every domain at N docs" operator.

    Rank = row_number over (group, ORDER BY h60(seed:id), id). One
    window shuffle on the group key.

    Rows rank by ``bucket = h60(seed:id) % 1e6`` (ties by id) — uniform,
    so rank order is an unbiased draw.

    Scale path (``prefilter_overshoot``): when quota << group size, the
    window sorts entire hot groups just to discard almost everything.
    With overshoot k, a first pass computes per-group counts (map-side
    partial agg → tiny result, broadcast back), then rows are
    pre-filtered to ``bucket < k*quota/count * 1e6`` before the window.
    Because the prefilter thresholds the SAME value the window orders
    by, the surviving set is a superset of the final sample whenever it
    has ≥ quota rows — i.e. the prefiltered result is IDENTICAL to the
    plain one with probability ≈ 1 - P[Binom(n, k·quota/n) < quota]
    (vanishing for k ≥ 2); in the rare shortfall the group just yields
    its < quota survivors. Undersized groups skip the prefilter
    entirely (fraction ≥ 1), so only hot groups pay/benefit.
    """
    bucket = F.pmod(_split_key(id_col, seed), F.lit(1_000_000))
    work = df
    if prefilter_overshoot is not None:
        counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("__gcnt"))
        work = df.join(F.broadcast(counts), group_cols)
        frac_buckets = F.least(
            F.lit(1_000_000).cast("long"),
            F.ceil(F.lit(float(prefilter_overshoot) * quota) * 1_000_000 / F.col("__gcnt")).cast("long"),
        )
        work = work.filter(bucket < frac_buckets).drop("__gcnt")
    w = Window.partitionBy(*group_cols).orderBy(bucket.asc(), F.col(id_col).asc())
    return (
        work.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= quota)
    )


def sample_mixture(
    df: DataFrame,
    weights: dict[str, int],
    total: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Data-mixture construction: draw a deterministic ``total``-row
    sample whose per-source composition follows integer ``weights``
    (e.g. the temperature-scaled proportions of a training mix).
    ``quota_s = total * w_s // sum(w)`` — integer floor allocation, so
    the result can undershoot ``total`` by < n_sources rows but is
    exactly reproducible (quotas never depend on float rounding).
    Sources not in ``weights`` are excluded; a source smaller than its
    quota contributes everything it has.

    One window shuffle on source (the same hash-rank draw as
    quota_sample, so mixtures and per-group caps compose); quotas ride
    a map literal, not a join."""
    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    if not weights:
        raise ValueError("weights must name at least one source")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError(f"weights must be non-negative with a positive sum: {weights}")
    wsum = sum(weights.values())
    quotas = {s: total * w // wsum for s, w in weights.items()}
    qmap = F.create_map(
        *[x for s, qv in quotas.items() for x in (F.lit(s), F.lit(qv))]
    )
    bucket = F.pmod(_split_key(id_col, seed), F.lit(1_000_000))
    w = Window.partitionBy(source_col).orderBy(bucket.asc(), F.col(id_col).asc())
    return (
        df.filter(F.col(source_col).isin(list(weights)))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= qmap[F.col(source_col)])
    )


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Connected components over duplicate pairs → (doc_id, cluster_id)
    for every doc that appears in at least one pair. cluster_id = min doc
    id in the component.

    Near-dup relations are not transitive, but dedup treats them as if
    they were (A~B, B~C ⇒ {A,B,C} is one cluster) — this is the standard
    corpus-dedup formulation, and exactly a connected-components problem.
    Reuses the two-phase star-contraction CC (graph.py): rounds grow with
    log of component size, not diameter, so million-doc template chains
    (the pathological web-corpus case) don't blow the round count.
    """
    from orientdb_spark.graph import Graph

    verts = (
        pairs.select(F.col(id_a).alias("vid"))
        .unionByName(pairs.select(F.col(id_b).alias("vid")))
        .dropDuplicates()
    )
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    return (
        Graph(verts, edges)
        .connected_components()
        .select(F.col("vid").alias("doc_id"), F.col("component").alias("cluster_id"))
    )


def canonicalize(
    corpus: DataFrame,
    clusters: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick one survivor per duplicate cluster: highest ``quality_col``,
    ties broken by lowest id. Returns the corpus plus
    (cluster_id, keep, canonical_id):

    - docs in no cluster: their own canonical, keep = true
    - clustered docs: keep = true only for the elected survivor;
      canonical_id points every member at it (the redirect map a
      dedup pass emits).

    Shuffle profile: one left join on id (clusters is the small side —
    only docs that matched a pair — so AQE broadcasts it when it fits)
    plus one window over cluster_id. Cluster sizes are bounded in
    practice by the pair detector's bucket caps, so the window key is
    not meaningfully skewed.
    """
    joined = corpus.join(clusters, id_col, "left")
    cid = F.coalesce(F.col("cluster_id"), F.col(id_col))
    w = Window.partitionBy(cid).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("cluster_id", cid)
        .withColumn("__rk", F.row_number().over(w))
        .withColumn("keep", F.col("__rk") == 1)
        .withColumn(
            "canonical_id",
            F.min(F.when(F.col("__rk") == 1, F.col(id_col))).over(
                Window.partitionBy("cluster_id")
            ),
        )
        .drop("__rk")
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    ratios: dict[str, float] | None = None,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    seed: int = 42,
    buckets: int = 10_000,
) -> DataFrame:
    """Leakage-safe train/valid/test split: docs connected by duplicate
    pairs are split as ONE unit — the split hash keys on the duplicate
    CLUSTER id (min member id; docs in no pair key on themselves), so a
    near-duplicate of a test doc can never land in train. Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better")
    measured eval sets leaking into train through near-duplicates;
    deduplication shrinks the leak, co-assigning whole clusters
    eliminates it even for the duplicates a pipeline chooses to keep.

    Composition: pairs (any detector — minhash / simhash / jaccard /
    embedding) → star-contraction CC (duplicate_clusters) →
    assign_split keyed on the cluster id. Properties inherited from
    assign_split: pure function of (seed, key), re-run stable,
    corpus-growth stable — plus one new one: stable under dup-cluster
    GROWTH (a new member adopts the existing cluster's split as long
    as the cluster id, its min member id, stands).

    Scale shape: the clusters frame holds only docs that matched a
    pair (bounded by the detector's bucket caps), so the left join
    broadcasts in the common regime; the split assignment itself stays
    shuffle-free in-row hashing.

    Returns df + (cluster_key, split)."""
    clusters = duplicate_clusters(pairs, id_a, id_b)
    joined = (
        df.join(clusters, id_col, "left")
        .withColumn(
            "cluster_key", F.coalesce(F.col("cluster_id"), F.col(id_col))
        )
        .drop("cluster_id")
    )
    return assign_split(
        joined, ratios, id_col="cluster_key", seed=seed, buckets=buckets
    )


def pack_sequences(
    df: DataFrame,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    budget: int = 2048,
    partitions: int | None = None,
) -> DataFrame:
    """Sequence packing — the "where does each document land in the
    training stream" assignment: documents are concatenated in ascending
    id order into one token stream, which is cut into fixed ``budget``-
    token training sequences (GPT-style pack-and-split: a document may
    straddle a boundary and continue into the next sequence). Returns
    (id, n_tokens, seq_index, seq_offset, n_seqs_spanned): the doc's
    tokens begin at ``seq_offset`` inside sequence ``seq_index`` and
    touch ``n_seqs_spanned`` consecutive sequences.

    Scale shape — a distributed prefix sum, NOT a global single-partition
    window (Window.orderBy without partitionBy funnels the corpus through
    one task; at 10^10 docs that is the difference between minutes and
    never): (1) repartitionByRange on id gives ordered partitions,
    eagerly checkpointed so the partition assignment is frozen between
    the two passes; (2) per-partition token totals (a counters-only
    groupBy, n_partitions rows to the driver) become cumulative prefix
    offsets, broadcast back as a literal map; (3) a window partitioned by
    the physical partition id computes the local running sum, and
    global_before = prefix[pid] + local_before. The shuffled payload is
    (id, n_tokens) pairs — counters, never content. Output is a pure
    function of (id order, token counts, budget): independent of the
    partition count, re-runs, and input ordering."""
    spark = df.sparkSession
    n_parts = partitions or spark.sparkContext.defaultParallelism
    base = (
        df.select(F.col(id_col), F.col(token_col).cast("long").alias("__tok"))
        .repartitionByRange(n_parts, F.col(id_col))
        .localCheckpoint(eager=True)
    )
    with_pid = base.withColumn("__pid", F.spark_partition_id())
    totals = with_pid.groupBy("__pid").agg(F.sum("__tok").alias("__t")).collect()
    prefix: dict[int, int] = {}
    acc = 0
    for r in sorted(totals, key=lambda row: row["__pid"]):
        prefix[r["__pid"]] = acc
        acc += r["__t"] or 0
    pmap = F.create_map(
        *[F.lit(v) for kv in prefix.items() for v in kv]
    ) if prefix else F.create_map()
    w = Window.partitionBy("__pid").orderBy(id_col)
    local_before = F.sum("__tok").over(w) - F.col("__tok")
    gb = (F.coalesce(F.element_at(pmap, F.col("__pid")), F.lit(0)) + local_before).alias(
        "__before"
    )
    staged = with_pid.select(F.col(id_col), F.col("__tok"), gb)
    tok = F.col("__tok")
    before = F.col("__before")
    # integer `div`, not float `/`+cast: exact past 2^53 total tokens
    return staged.select(
        F.col(id_col),
        tok.alias("n_tokens"),
        F.expr(f"__before div {budget}").alias("seq_index"),
        (before % budget).cast("long").alias("seq_offset"),
        F.when(tok == 0, F.lit(1).cast("long"))
        .otherwise(
            F.expr(f"(__before + __tok - 1) div {budget}")
            - F.expr(f"__before div {budget}")
            + 1
        )
        .alias("n_seqs_spanned"),
    )


def contrastive_negatives(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
    n_buckets: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document draws up to ``k`` pseudo-random partners, every draw a pure
    function of (seed, id, slot) — reproducible across runs, engines,
    and input orderings, unlike rand()-based sampling.

    Never a cross join: documents hash into ``n_buckets`` groups, each
    (id, slot) probe hashes to ONE bucket, and the winner inside the
    bucket is the minimal (h60(seed:w:id:slot:partner), partner) pair —
    a bucket-bounded equi-join plus one argmin groupBy, so candidate
    fan-out is k * N/B per document, tunable by ``n_buckets``. At 100 TB
    you scale n_buckets with the corpus to hold the per-probe candidate
    count constant. A slot whose probe lands in a bucket holding only
    its own document yields no pair (self-pairs are excluded); with
    N >> n_buckets this is vanishingly rare. Returns
    (id_col, slot, partner_id).
    """
    if k <= 0 or n_buckets <= 0:
        raise ValueError(f"k and n_buckets must be positive, got {k}, {n_buckets}")
    sid = F.col(id_col).cast("string")
    members = df.select(
        F.pmod(h60(F.concat(F.lit(f"{seed}:m:"), sid)), F.lit(n_buckets)).alias("__b"),
        F.col(id_col).alias("partner_id"),
    )
    probes = df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("slot"),
    ).select(
        id_col,
        "slot",
        F.pmod(
            h60(
                F.concat(
                    F.lit(f"{seed}:p:"), sid, F.lit(":"), F.col("slot").cast("string")
                )
            ),
            F.lit(n_buckets),
        ).alias("__b"),
    )
    cand = probes.join(members, "__b").filter(F.col("partner_id") != F.col(id_col))
    score = h60(
        F.concat(
            F.lit(f"{seed}:w:"),
            F.col(id_col).cast("string"),
            F.lit(":"),
            F.col("slot").cast("string"),
            F.lit(":"),
            F.col("partner_id").cast("string"),
        )
    )
    return (
        cand.groupBy(id_col, "slot")
        .agg(
            F.min(
                F.struct(score.alias("s"), F.col("partner_id").alias("p"))
            ).alias("__w")
        )
        .select(id_col, "slot", F.col("__w.p").alias("partner_id"))
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_col: str | None = None,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirtsis A-ES): each row draws u = h60(seed:id)/2^60 and keeps key
    u^(1/w); the top-k keys per group are EXACTLY a weight-proportional
    sample, as one window pass. Heavier rows win more often, every draw
    is a pure function of (seed, id), and re-runs/engines agree — the
    reproducibility rand()-weighted sampling can't give. Non-positive
    weights are excluded (their inclusion probability is 0).

    The ranking key is rounded to 9 decimals with the id as tiebreak:
    u^(1/w) crosses engines through libm pow, whose last-ulp differences
    would otherwise flip near-equal ranks (same discipline as tfidf's
    rounded-score ranking). One exchange (the group window; a constant
    group for global sampling)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    u = _split_key(id_col, seed) / F.lit(float(1 << 60))
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 9
    )
    staged = df.filter(F.col(weight_col) > 0).withColumn("__wkey", key)
    if group_col:
        # per-group window: Catalyst's InferWindowGroupLimit plants a
        # map-side WindowGroupLimit(Partial), so the exchange carries
        # <= P*k rows per group
        w = Window.partitionBy(F.col(group_col)).orderBy(
            F.col("__wkey").desc(), F.col(id_col)
        )
        return (
            staged.withColumn("__wrank", F.row_number().over(w))
            .filter(F.col("__wrank") <= k)
            .drop("__wkey", "__wrank")
        )
    # GLOBAL sampling: a partition-less (or constant-partitioned) window
    # does NOT get the group-limit inference — it funnels every weighted
    # row through one partition. orderBy().limit(k) compiles to
    # TakeOrderedAndProject instead: each task keeps its local top-k and
    # the driver merges P heaps — the native global top-k at any scale.
    return (
        staged.orderBy(F.col("__wkey").desc(), F.col(id_col))
        .limit(k)
        .drop("__wkey")
    )


def stratified_split(
    df: DataFrame,
    strata: list[str],
    ratios: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Exact-proportion per-stratum split: within every stratum, rows
    rank by the deterministic hash draw (ties by id) and cumulative
    floor thresholds carve the ranked order, so each stratum's split
    sizes are exact integer floors of its row count — unlike
    ``assign_split``'s global hash-bucket carve, which is only exact in
    expectation and can starve a rare stratum's eval splits entirely.
    The class-imbalance use case: every label, however rare, lands in
    valid/test in exact proportion.

    Ratios must be expressible in thousandths (validated); thresholds
    are pure integer arithmetic (``floor(n * permille / 1000)``) so the
    carve is bit-reproducible cross-engine — no FP cumsum drift.
    Earlier-listed splits take the floor, the last absorbs the
    remainder. ONE window exchange on the stratum key; the per-stratum
    count rides the same partition.
    """
    ratios = ratios or {"train": 0.8, "valid": 0.1, "test": 0.1}
    permille = {k: int(round(v * 1000)) for k, v in ratios.items()}
    if sum(permille.values()) != 1000:
        raise ValueError(
            f"ratios must be thousandths summing to 1.0, got {ratios}"
        )
    if any(p <= 0 for p in permille.values()):
        raise ValueError(f"every ratio must be >= 0.001, got {ratios}")
    bucket = F.pmod(_split_key(id_col, seed), F.lit(1_000_000))
    wp = Window.partitionBy(*strata)
    w = wp.orderBy(bucket.asc(), F.col(id_col).asc())
    n = F.count(F.lit(1)).over(wp)
    r = F.row_number().over(w)
    expr = None
    acc = 0
    items = list(permille.items())
    for name, pm in items[:-1]:
        acc += pm
        cond = r <= F.floor(n * F.lit(acc) / F.lit(1000))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def _dsir_grams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """DSIR featurization: lower-cased word unigrams + bigrams, one row
    per OCCURRENCE (counts matter for the language-model estimates).
    Bigram expansion is the lm_score in-row transform — w[i] paired with
    w[i+1] by element index, no self-join."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: F.length(t) > 0
    )
    staged = df.select(F.col(id_col).alias("__id"), toks.alias("__t")).filter(
        F.size("__t") > 0
    )
    uni = staged.select("__id", F.explode("__t").alias("__g"))
    bi = staged.filter(F.size("__t") >= 2).select(
        "__id",
        F.explode(
            F.transform(
                F.slice(F.col("__t"), 1, F.size("__t") - 1),
                lambda w, i: F.concat_ws(
                    " ", w, F.element_at(F.col("__t"), (i + F.lit(2)).cast("int"))
                ),
            )
        ).alias("__g"),
    )
    return uni.unionAll(bi)


def dsir_importance_weights(
    source: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10_000,
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", NeurIPS'23): score every
    SOURCE document by how target-like it is under hashed-n-gram
    bag-of-words language models —

        weight(x) = Σ_{gram occurrences g ∈ x} [ log p̂_target(b(g))
                                                − log p̂_source(b(g)) ]

    with the paper's featurization (word unigrams + bigrams hashed into
    ``buckets`` feature buckets; here b = h60(gram) mod buckets, so the
    DuckDB oracle derives identical features) and add-``smoothing``
    Laplace estimates p̂(b) = (c(b) + s) / (N + s·buckets). Returns
    (id_col, n_grams, weight) for source docs with ≥ 1 token; weight is
    rounded at 6 dp after a +1e-12 midpoint nudge (the cross-engine FP
    convention — per-doc log sums carry ~1e-15 relative accumulation
    noise, far under the round).

    Scale: the bucket tables are ``buckets``-bounded (two map-side
    partial-agg groupBys over the gram streams) and are collected ONCE
    — the gram totals are their sums, so no extra count() pass ever
    re-runs the tokenize+explode lineage, and the source gram stream is
    persisted across its two uses (bucket counts + scoring join). The
    per-doc scoring joins the gram stream to the BROADCAST log-ratio
    table — one shuffle (the per-doc groupBy) regardless of corpus
    size. The hot path is pure Column arithmetic; no UDFs. ``buckets``
    is driver-bounded (default 10k ≈ nothing; 1M ≈ 16 MB collected)."""
    if buckets < 1 or smoothing <= 0:
        raise ValueError(
            f"need buckets >= 1 and smoothing > 0, got {buckets}, {smoothing}"
        )
    # persist the SOURCE gram stream: it feeds both the bucket counts
    # and the final scoring join, and tokenize+explode is the most
    # expensive stage — without this the whole expansion runs twice
    sb = (
        _dsir_grams(source, text_col, id_col)
        .withColumn("__b", F.pmod(h60(F.col("__g")), F.lit(buckets)))
        .persist()
    )
    tb = _dsir_grams(target, text_col, id_col).withColumn(
        "__b", F.pmod(h60(F.col("__g")), F.lit(buckets))
    )
    # the bucket tables are ``buckets``-bounded — pull them to the
    # driver ONCE (every gram occurrence lands in exactly one bucket,
    # so the totals are their sums: no separate count() passes over the
    # gram lineage) and re-emit the log-ratio table as a broadcast.
    # The log arithmetic stays IN SPARK (F.log over the same doubles as
    # before) so the replay oracles' 6-dp agreement is untouched.
    tcounts = {
        r["__b"]: r["__ct"]
        for r in tb.groupBy("__b").agg(F.count(F.lit(1)).alias("__ct")).collect()
    }
    scounts = {
        r["__b"]: r["__cs"]
        for r in sb.groupBy("__b").agg(F.count(F.lit(1)).alias("__cs")).collect()
    }
    nt = sum(tcounts.values())
    ns = sum(scounts.values())
    if not scounts:
        # empty / all-empty-text source: no grams, no weights
        return (
            source.select(F.col(id_col))
            .limit(0)
            .withColumn("n_grams", F.lit(0).cast("long"))
            .withColumn("weight", F.lit(0.0))
        )
    # only SOURCE-occupied buckets can ever join a source gram
    lr = local_frame(
        source.sparkSession,
        [(b, tcounts.get(b, 0), cs) for b, cs in scounts.items()],
        "__b bigint, __ct bigint, __cs bigint",
    ).select(
        "__b",
        (
            F.log(
                (F.col("__ct") + F.lit(smoothing))
                / F.lit(nt + smoothing * buckets)
            )
            - F.log(
                (F.col("__cs") + F.lit(smoothing))
                / F.lit(ns + smoothing * buckets)
            )
        ).alias("__lr"),
    )
    return (
        sb.join(F.broadcast(lr), "__b")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.sum("__lr") + F.lit(1e-12), 6).alias("weight"),
        )
        .select(F.col("__id").alias(id_col), "n_grams", "weight")
    )


def dsir_resample(
    source: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10_000,
    smoothing: float = 1.0,
    mode: str = "topk",
    seed: int = 42,
) -> DataFrame:
    """Select ``k`` source documents by DSIR importance: ``mode="topk"``
    keeps the k highest-weight docs (the paper's top-k heuristic —
    deterministic, id tiebreak); ``mode="gumbel"`` adds per-doc Gumbel
    noise g = −ln(−ln(u)), u = (h60(seed:id)+0.5)/2^60 to the weight
    before ranking — the Gumbel-top-k trick samples WITHOUT replacement
    with probability ∝ exp(weight), still a pure function of (seed, id)
    so re-runs and engines agree. Returns (id_col, n_grams, weight,
    rank). The global selection is TakeOrderedAndProject (orderBy +
    limit: per-task k-heaps merged on the driver — no full-corpus
    single-partition window); the rank column is computed over the k
    selected rows only."""
    if mode not in ("topk", "gumbel"):
        raise ValueError(f"mode must be 'topk' or 'gumbel', got {mode!r}")
    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    w = dsir_importance_weights(
        source, target, text_col=text_col, id_col=id_col,
        buckets=buckets, smoothing=smoothing,
    )
    if mode == "gumbel":
        u = (
            h60(F.concat(F.lit(f"dsir:{seed}:"), F.col(id_col).cast("string")))
            .cast("double")
            + F.lit(0.5)
        ) / F.lit(float(1 << 60))
        key = F.round(F.col("weight") - F.log(-F.log(u)) + F.lit(1e-12), 6)
    else:
        key = F.col("weight")
    # global top-k via orderBy().limit(k) = TakeOrderedAndProject (each
    # task keeps a local k-heap, the driver merges) — a partition-less
    # rank window would funnel EVERY weighted row through one partition
    # (Catalyst's group-limit inference needs a non-constant partition
    # spec, verified in tests/test_plan_shape.py). The rank column is
    # then a window over the k selected rows only — trivial.
    sel = (
        w.withColumn("__key", key)
        .orderBy(F.col("__key").desc(), F.col(id_col).asc())
        .limit(k)
    )
    win = Window.orderBy(F.col("__key").desc(), F.col(id_col).asc())
    return (
        sel.withColumn("rank", F.row_number().over(win))
        .select(id_col, "n_grams", "weight", "rank")
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    quality_col: str = "quality",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """Token-budget corpus selection — "fill the training budget with
    the best documents", the step after scoring/dedup in a training-
    data pipeline: rank documents by (quality desc, id asc) and keep
    the maximal prefix whose cumulative token count fits ``budget``.
    A document is kept iff its INCLUSIVE running total ≤ budget (the
    maximal-prefix rule — the first overflowing document and everything
    ranked after it is cut; a skip-and-fill greedy that backtracks over
    smaller docs is inherently sequential and not a distributed plan).
    Returns (id_col, quality, n_tokens, budget_rank, tokens_before),
    kept rows only.

    Scale shape: the ``pack_sequences`` distributed prefix sum applied
    to the quality order — NOT a global single-partition window:
    (1) repartitionByRange on (quality desc, id) gives ordered
    partitions, eagerly checkpointed so the assignment is frozen
    between passes; (2) per-partition token totals AND row counts (a
    counters-only groupBy, n_partitions rows to the driver) become
    broadcast prefix offsets; (3) a window partitioned by the physical
    partition id supplies the local running sum and local rank. The
    shuffled payload is (id, quality, token count) triples — counters,
    never content. Output is a pure function of (quality, id, tokens,
    budget): independent of partition count and input order."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    spark = df.sparkSession
    n_parts = partitions or spark.sparkContext.defaultParallelism
    base = (
        df.select(
            F.col(id_col),
            F.col(quality_col).alias("__q"),
            F.coalesce(F.col(token_col).cast("long"), F.lit(0)).alias("__tok"),
        )
        .repartitionByRange(n_parts, F.col("__q").desc(), F.col(id_col).asc())
        .localCheckpoint(eager=True)
    )
    with_pid = base.withColumn("__pid", F.spark_partition_id())
    totals = with_pid.groupBy("__pid").agg(
        F.sum("__tok").alias("__t"), F.count(F.lit(1)).alias("__c")
    ).collect()
    tok_prefix: dict[int, int] = {}
    cnt_prefix: dict[int, int] = {}
    tacc = cacc = 0
    for r in sorted(totals, key=lambda row: row["__pid"]):
        tok_prefix[r["__pid"]] = tacc
        cnt_prefix[r["__pid"]] = cacc
        tacc += r["__t"] or 0
        cacc += r["__c"]
    tmap = (
        F.create_map(*[F.lit(v) for kv in tok_prefix.items() for v in kv])
        if tok_prefix
        else F.create_map()
    )
    cmap = (
        F.create_map(*[F.lit(v) for kv in cnt_prefix.items() for v in kv])
        if cnt_prefix
        else F.create_map()
    )
    w = Window.partitionBy("__pid").orderBy(F.col("__q").desc(), F.col(id_col).asc())
    local_before = F.sum("__tok").over(w) - F.col("__tok")
    before = (
        F.coalesce(F.element_at(tmap, F.col("__pid")), F.lit(0)) + local_before
    )
    rank = (
        F.coalesce(F.element_at(cmap, F.col("__pid")), F.lit(0))
        + F.row_number().over(w)
    ).cast("long")
    staged = with_pid.select(
        F.col(id_col),
        F.col("__q").alias(quality_col if quality_col != "__q" else "quality"),
        F.col("__tok").alias("n_tokens"),
        rank.alias("budget_rank"),
        before.cast("long").alias("tokens_before"),
    )
    return staged.filter(
        F.col("tokens_before") + F.col("n_tokens") <= F.lit(budget)
    )


def epoch_shard_order(
    df: DataFrame,
    n_epochs: int = 1,
    n_shards: int = 64,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic epoch shuffle + shard assignment — the "global
    shuffle" step a large-scale training run materializes before
    reading: each epoch re-shuffles the corpus into ``n_shards`` reader
    shards with a fresh permutation, so no data-loader sees the same
    order twice and every shard is an unbiased sample. Returns one row
    per (document, epoch): (id_col, epoch, shard, pos) where ``pos`` is
    the document's 0-based reading position within its shard.

    Everything is a pure function of (seed, epoch, id): the per-epoch
    key is h60("epoch:<seed>:<epoch>:<id>") — shard = key % n_shards,
    within-shard order = (key, id) ascending — so re-runs, engines, and
    partial re-materializations agree row-for-row (the assign_split
    determinism contract, and what makes resumable training possible:
    shard files can be regenerated for one epoch without touching the
    others).

    Scale shape: epochs fan out in-row (explode of a literal range —
    output is the N×E assignment table, which is the deliverable), and
    the within-shard position is a window partitioned by (epoch,
    shard) — E·S independent groups, one hash exchange, NO global sort
    or single-partition window. At 100 TB choose n_shards ≫ cluster
    cores (standard practice) and the groups stay small and balanced:
    h60 is uniform, so expected shard skew is O(sqrt(N/S))."""
    if n_epochs < 1:
        raise ValueError(f"need n_epochs >= 1, got {n_epochs}")
    if n_shards < 1:
        raise ValueError(f"need n_shards >= 1, got {n_shards}")
    base = df.select(F.col(id_col)).withColumn(
        "epoch", F.explode(F.array(*[F.lit(e) for e in range(n_epochs)]))
    )
    key = h60(
        F.concat(
            F.lit(f"epoch:{seed}:"),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col(id_col).cast("string"),
        )
    )
    keyed = base.withColumn("__k", key).withColumn(
        "shard", (F.col("__k") % F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy("epoch", "shard").orderBy(
        F.col("__k").asc(), F.col(id_col).asc()
    )
    return keyed.select(
        id_col,
        "epoch",
        "shard",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


def domain_reweight(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = 3,
    eta: float = 0.5,
    smoothing: float = 0.2,
) -> DataFrame:
    """Domain-mixture reweighting (the DoReMi shape, Xie et al. 2023):
    upweight domains whose corpus-LM excess loss is high — the
    under-represented / hard domains a proxy model learns least — and
    return the smoothed sampling weights a mixture sampler
    (``sample_mixture``) feeds from. The reference loss here is the
    repo's corpus-trained bigram LM (``text.lm_score``, the CCNet
    proxy); excess loss is each domain's mean NLL above the easiest
    domain's.

    Update rule: multiplicative weights with a LINEAR payoff,
    ``w ← normalize(w · (1 + eta·excess))`` — Hedge's small-eta linear
    approximation of DoReMi's exponentiated gradient, chosen
    deliberately: +,·,/ only, so the whole trajectory is deterministic
    double arithmetic with NO libm transcendentals inside the loop and
    a DuckDB replay is bit-identical (exp() is the one op with no
    cross-engine bit guarantee). Each iteration re-normalizes and
    snaps to the 6-dp nudge-rounded grid — distributed-sum order noise
    never crosses an iteration boundary (the classifier-GD precedent,
    model.py). Final weights get uniform smoothing:
    ``(1−smoothing)·w + smoothing/S``.

    Shape at scale: ONE corpus pass (the lm_score join) reduced to an
    S-row frame (S = #domains, bounded by construction); the iteration
    loop is S-row window arithmetic — partitionBy() over S rows, never
    the corpus. Returns (source, n_docs, mean_nll, excess_nll, weight).
    """
    from orientdb_spark.pipeline.text import lm_score

    if iters < 1:
        raise ValueError(f"need iters >= 1, got {iters}")
    if not 0.0 <= smoothing <= 1.0:
        raise ValueError(f"smoothing must be in [0, 1], got {smoothing}")
    nll = lm_score(df, text_col=text_col, id_col=id_col)
    per_src = (
        df.select(F.col(id_col), F.col(source_col).alias("source"))
        .join(nll, on=id_col)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("nll") + F.lit(1e-12), 6).alias("mean_nll"),
        )
    )
    everything = Window.partitionBy()  # S rows total — never corpus-sized
    per_src = per_src.withColumn(
        "excess_nll",
        F.round(
            F.col("mean_nll") - F.min("mean_nll").over(everything) + F.lit(1e-12),
            6,
        ),
    ).withColumn("__s", F.count(F.lit(1)).over(everything).cast("double"))
    w = F.lit(1.0) / F.col("__s")
    for _ in range(iters):
        u = w * (F.lit(1.0) + F.lit(float(eta)) * F.col("excess_nll"))
        per_src = per_src.withColumn("__u", u).withColumn(
            "__w",
            F.round(
                F.col("__u") / F.sum("__u").over(everything) + F.lit(1e-12), 6
            ),
        )
        w = F.col("__w")
    return per_src.select(
        "source",
        "n_docs",
        "mean_nll",
        "excess_nll",
        F.round(
            F.lit(1.0 - float(smoothing)) * w
            + F.lit(float(smoothing)) / F.col("__s")
            + F.lit(1e-12),
            6,
        ).alias("weight"),
    )


def curriculum_order(
    df: DataFrame,
    n_stages: int = 3,
    n_shards: int = 16,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    approx: bool = False,
    approx_accuracy: int = 10000,
) -> DataFrame:
    """Curriculum schedule (Bengio et al. 2009, easy-first training):
    stage documents easiest→hardest by corpus-LM typicality
    (``text.lm_score`` NLL — low NLL = typical = easy), cutting stages
    at exact NLL quantiles, then give every stage a deterministic
    shuffled reading order in the epoch_shard_order shape:
    (id, nll, stage, shard, pos). A trainer consumes stages in order
    and reads (shard, pos) within each — no global sort ever
    materializes.

    Documents with no bigram (empty/one-word text) carry NLL 0.0 —
    trivially "easy", and deterministic so both engines stage them
    identically. Stage cuts are nudge-rounded interpolated quantiles
    (the perplexity_buckets parity precedent): stage s takes
    nll <= cut_s, last stage takes the rest.

    Shape at scale: the lm_score corpus pass, ONE exact-percentile
    aggregate (S-1 cut points ride a broadcast 1-row crossJoin), h60
    shard arithmetic in-row, and the position window partitions by
    (stage, shard) — stages·shards independent groups, no
    single-partition window. The EXACT percentile (the ``approx=False``
    default) buffers the NLL column on one reducer — the
    cross-engine-parity choice, fine to ~10⁸ docs. ``approx=True`` is
    the 100 TB path: the cut stage becomes ``percentile_approx`` (a
    mergeable sketch, partial-aggregable, no value buffering;
    ``approx_accuracy`` trades sketch size for error) — stage cuts are
    semantically tolerant of approximation, only the oracle forces
    exact as the default."""
    from orientdb_spark.pipeline.text import lm_score

    if n_stages < 2:
        raise ValueError(f"need n_stages >= 2, got {n_stages}")
    if n_shards < 1:
        raise ValueError(f"need n_shards >= 1, got {n_shards}")
    nll = lm_score(df, text_col=text_col, id_col=id_col).select(
        id_col, "nll"
    )
    scored = (
        df.select(F.col(id_col))
        .join(nll, on=id_col, how="left")
        .select(id_col, F.coalesce(F.col("nll"), F.lit(0.0)).alias("nll"))
        # consumed TWICE below (the quantile-cut aggregate and the
        # staging pass): without this lazy checkpoint the whole
        # lm_score pipeline above pc ran twice per evaluation — r13
        # plan: 28 Exchanges / 4 corpus scans; the checkpoint halves it
        # (the bitext/mmr precedent). (doc_id, nll) rows only — doc-
        # count-sized, never wider than the corpus key space.
        .localCheckpoint(eager=False)
    )
    qs = [s / n_stages for s in range(1, n_stages)]
    pctl = (
        (lambda c, q: F.percentile_approx(c, F.lit(q), F.lit(int(approx_accuracy))))
        if approx
        else (lambda c, q: F.percentile(c, F.lit(q)))
    )
    cuts = scored.agg(
        *[
            F.round(pctl(F.col("nll"), q) + F.lit(1e-12), 6).alias(f"__cut{i}")
            for i, q in enumerate(qs)
        ]
    )
    stage = F.lit(n_stages - 1)
    for i in reversed(range(len(qs))):
        stage = F.when(F.col("nll") <= F.col(f"__cut{i}"), F.lit(i)).otherwise(stage)
    keyed = (
        scored.crossJoin(F.broadcast(cuts))
        .withColumn("stage", stage.cast("int"))
        .withColumn(
            "__k",
            h60(F.concat(F.lit(f"curr:{seed}:"), F.col(id_col).cast("string"))),
        )
        .withColumn("shard", (F.col("__k") % F.lit(n_shards)).cast("int"))
    )
    w = Window.partitionBy("stage", "shard").orderBy(
        F.col("__k").asc(), F.col(id_col).asc()
    )
    return keyed.select(
        id_col,
        "nll",
        "stage",
        "shard",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


def temperature_mixture(
    df: DataFrame,
    total: int,
    alpha: float = 0.5,
    group_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Temperature-scaled corpus re-balancing (Conneau & Lample 2019
    XLM / Xue et al. 2021 mT5): sample group ``g`` with probability
    ``p_g ∝ n_g^alpha`` — ``alpha < 1`` (temperature 1/alpha > 1)
    upsamples tail languages/domains a raw-proportion draw would
    starve, the standard multilingual-pretraining mix. Differs from
    ``sample_mixture`` (explicit caller weights) and ``domain_reweight``
    (model-signal-iterated DoReMi): here the weights derive from the
    corpus itself in one aggregate pass.

    Per-group quotas apportion ``total`` by largest remainder
    (Hamilton): floor(total·p_g) each, then +1 to the largest
    fractional remainders (ties by group value) until the quotas sum
    to exactly ``total``; the RETURNED sample is then capped at
    min(total, corpus) rows because an undersized group contributes
    fewer rows than its quota column claims (the shortfall is not
    redistributed — see below). Selection within a group is the
    quota_sample hash draw — rank by h60(seed:id) % 1e6, id tiebreak.

    Determinism: with the default ``alpha = 0.5`` the weight is
    IEEE-exact sqrt, and +,·,/ on binary64 are bit-identical across
    engines; the raw allocation is then pinned to the 6-dp nudge grid
    (round(·+1e-12, 6) — the repo convention) BEFORE floor/remainder,
    so the only cross-engine wiggle (sum order of the S weights,
    ~1e-16) cannot flip a floor or a remainder comparison. Other
    alphas go through pow (libm — cross-engine last-bit parity not
    guaranteed; fine for production, not for hash oracles).

    Shape at scale: one map-side-combinable groupBy to S group rows;
    the apportionment is S-row window arithmetic (unpartitioned windows
    over the aggregate — bounded by group cardinality, the
    domain_reweight precedent); quotas broadcast back; ONE window
    shuffle on the group key ranks members. A group smaller than its
    quota contributes everything it has (the shortfall is not
    redistributed — quotas stay a pure function of counts).

    Returns df's rows (the selected subset) + ``quota`` + ``sample_rank``.
    """
    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    n = F.col("__n").cast("double")
    wcol = F.sqrt(n) if alpha == 0.5 else F.pow(n, F.lit(float(alpha)))
    everything = Window.partitionBy()
    raw = F.round(
        F.col("__w") / F.sum("__w").over(everything) * F.lit(float(total))
        + F.lit(1e-12),
        6,
    )
    lead = Window.orderBy(F.col("__rem").desc(), F.col(group_col).asc())
    quotas = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__w", wcol)
        .withColumn("__floor", F.floor(raw).cast("long"))
        .withColumn("__rem", raw - F.floor(raw))
        .withColumn("__lead", F.row_number().over(lead))
        .withColumn(
            "quota",
            F.col("__floor")
            + (
                F.col("__lead")
                <= F.lit(total) - F.sum("__floor").over(everything)
            ).cast("long"),
        )
        .select(group_col, "quota")
    )
    bucket = F.pmod(_split_key(id_col, seed), F.lit(1_000_000))
    w = Window.partitionBy(group_col).orderBy(bucket.asc(), F.col(id_col).asc())
    return (
        df.join(F.broadcast(quotas), group_col)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= F.col("quota"))
    )


def unimax_sample(
    df: DataFrame,
    total: int,
    epoch_cap: float = 2.0,
    group_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """UniMax corpus mixing (Chung et al. 2023): apportion a row budget
    as UNIFORMLY as possible across groups, subject to a per-group
    repetition cap of ``epoch_cap`` epochs — the successor to
    temperature sampling (``temperature_mixture``) that removes the
    alpha knob: tail languages are never starved (they get the uniform
    share until their cap binds) and head languages never dominate
    (excess budget from capped tails redistributes to them, not
    proportionally but equally).

    The allocation is the classic waterfill: sort groups by cap
    ``c_g = n_g * epoch_cap`` ascending; walking that order, group j is
    capped iff ``c_j * (S - j + 1) + presum(c_1..c_{j-1}) < B`` (the
    test is monotone in j because caps ascend, so the capped set is a
    prefix); every uncapped group gets the equal share
    ``u = (B - sum of capped c) / #uncapped``. Real-valued allocations
    are then integerized by largest-remainder (Hamilton) apportionment
    to ``T = min(B, floor(sum of allocations))`` — the
    temperature_mixture machinery — and members are drawn by the h60
    hash rank with id tiebreaks. ``epoch_cap > 1`` expresses the
    paper's repetition budget: the quota column reports the budgeted
    rows (up to cap), while the RETURNED sample is naturally capped at
    the group's actual size by the rank filter (rows are not
    repeated; epoch expansion is the trainer's job).

    Determinism: caps, the prefix sums, and the uniform share are
    pinned to the 6-dp nudge grid (round(x + 1e-12, 6)); prefix sums
    accumulate in ONE deterministic order (cap asc, group asc) via an
    ordered window frame, so both engines add the same doubles in the
    same sequence — bit-identical, no libm involved (products and
    divisions of grid values only).

    Shape at scale: one map-side-combinable groupBy to S group rows;
    the waterfill + Hamilton apportionment is S-row unpartitioned
    window arithmetic (bounded by group cardinality — the
    domain_reweight / temperature_mixture precedent); quotas broadcast
    back; ONE window shuffle on the group key ranks members.

    Returns df's rows (the selected subset) + ``quota`` (budgeted
    rows), ``capped`` (did the epoch cap bind), ``sample_rank``.
    """
    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    if epoch_cap <= 0:
        raise ValueError(f"epoch_cap must be positive, got {epoch_cap}")
    everything = Window.partitionBy()
    order = Window.orderBy(F.col("__cap").asc(), F.col(group_col).asc())
    presum = Window.orderBy(F.col("__cap").asc(), F.col(group_col).asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    b_lit = F.lit(float(total))
    grid = lambda c: F.round(c + F.lit(1e-12), 6)  # noqa: E731
    caps = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__cap", grid(F.col("__n") * F.lit(float(epoch_cap))))
        .withColumn("__j", F.row_number().over(order))
        .withColumn("__s", F.count(F.lit(1)).over(everything))
        .withColumn("__pre", grid(F.coalesce(F.sum("__cap").over(presum), F.lit(0.0))))
        .withColumn(
            "capped",
            F.col("__cap") * (F.col("__s") - F.col("__j") + 1) + F.col("__pre")
            < b_lit,
        )
    )
    n_capped = F.sum(F.col("capped").cast("long")).over(everything)
    capped_sum = grid(
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("__cap"))).over(everything),
            F.lit(0.0),
        )
    )
    share = grid((b_lit - capped_sum) / (F.col("__s") - n_capped))
    alloc = caps.withColumn(
        "__a", F.when(F.col("capped"), F.col("__cap")).otherwise(share)
    )
    # Hamilton integerization to T = min(B, floor(sum of allocations)):
    # with an uncapped group present the allocation sum is B up to grid
    # rounding; all-capped (corpus exhausted) it is the cap sum.
    t_target = F.least(
        F.lit(int(total)),
        F.floor(grid(F.sum("__a").over(everything))).cast("long"),
    )
    lead = Window.orderBy((F.col("__a") - F.floor(F.col("__a"))).desc(), F.col(group_col).asc())
    quotas = (
        alloc.withColumn("__floor", F.floor("__a").cast("long"))
        .withColumn("__lead", F.row_number().over(lead))
        .withColumn(
            "quota",
            F.col("__floor")
            + (
                F.col("__lead") <= t_target - F.sum("__floor").over(everything)
            ).cast("long"),
        )
        .select(group_col, "quota", "capped")
    )
    bucket = F.pmod(_split_key(id_col, seed), F.lit(1_000_000))
    w = Window.partitionBy(group_col).orderBy(bucket.asc(), F.col(id_col).asc())
    return (
        df.join(F.broadcast(quotas), group_col)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= F.col("quota"))
    )


def epochs_report(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    budget_tokens: int | None = None,
    budget_epochs: float | None = None,
    max_epochs: float = 4.0,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Data-constrained mixing accountant (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"): given a target token
    budget and per-group mixture weights, how many EPOCHS of each
    group the training run implies — the table every mix design doc
    carries, because repeating a group beyond ~4 epochs buys rapidly
    diminishing returns (the paper's R* decay fit), and a weight that
    implies 12 epochs of a small group is a bug in the mix, not a plan.

    Per group: ``n_docs``, ``group_tokens`` (whitespace tokens),
    ``weight``, ``alloc_tokens`` = floor(weight x budget),
    ``epochs`` = alloc / group_tokens, ``capped_epochs`` =
    min(epochs, max_epochs), ``effective_tokens`` =
    min(alloc, floor(max_epochs x group_tokens)) — the tokens the run
    can actually spend before the cap, ``excess_tokens`` = alloc -
    effective (budget wasted past the cap), and ``over_cap`` (the
    audit flag). ``weights=None`` splits the budget uniformly across
    groups. The budget is either explicit (``budget_tokens``) or
    corpus-relative (``budget_epochs`` x total corpus tokens — the
    "train for ~3 corpus passes" framing).

    Scale shape: ONE map-side-combinable groupBy to S group rows, a
    1-row total aggregate riding a broadcast crossJoin, and S-row
    arithmetic — nothing after the first aggregate touches corpus
    cardinality. Ratios nudge-round to 6 dp; allocations are floors
    of identical IEEE expression trees on both engines, so the whole
    table replays exactly in SQL."""
    if (budget_tokens is None) == (budget_epochs is None):
        raise ValueError("pass exactly one of budget_tokens / budget_epochs")
    if budget_tokens is not None and budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be positive, got {max_epochs}")
    from orientdb_spark.pipeline.common import ws_tokens

    grp = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(ws_tokens(F.col(text_col)))).cast("long").alias("group_tokens"),
    )
    tot = grp.agg(
        F.sum("group_tokens").cast("long").alias("__total_tokens"),
        F.count(F.lit(1)).cast("long").alias("__n_groups"),
    )
    g = grp.crossJoin(F.broadcast(tot))
    if weights is None:
        w = (F.lit(1.0) / F.col("__n_groups")).alias("weight")
    else:
        wmap = F.create_map(
            *[F.lit(x) for kv in weights.items() for x in kv]
        )
        w = F.coalesce(wmap[F.col(group_col)], F.lit(0.0)).alias("weight")
    budget = (
        F.lit(budget_tokens).cast("double")
        if budget_tokens is not None
        else F.lit(float(budget_epochs)) * F.col("__total_tokens")
    )
    staged = g.select(
        F.col(group_col),
        "n_docs",
        "group_tokens",
        w,
        "__total_tokens",
    ).select(
        F.col(group_col),
        "n_docs",
        "group_tokens",
        "weight",
        F.floor(F.col("weight") * budget).cast("long").alias("alloc_tokens"),
        F.floor(F.lit(max_epochs) * F.col("group_tokens"))
        .cast("long")
        .alias("__cap_tokens"),
    )
    gt = F.greatest(F.col("group_tokens"), F.lit(1)).cast("double")
    epochs = F.col("alloc_tokens") / gt
    effective = F.least(F.col("alloc_tokens"), F.col("__cap_tokens"))
    return staged.select(
        group_col,
        "n_docs",
        "group_tokens",
        F.round(F.col("weight") + F.lit(1e-12), 6).alias("weight"),
        "alloc_tokens",
        F.round(epochs + F.lit(1e-12), 6).alias("epochs"),
        F.round(F.least(epochs, F.lit(max_epochs)) + F.lit(1e-12), 6).alias(
            "capped_epochs"
        ),
        effective.alias("effective_tokens"),
        (F.col("alloc_tokens") - effective).alias("excess_tokens"),
        (F.col("alloc_tokens") > F.col("__cap_tokens")).alias("over_cap"),
    )


def moore_lewis_score(
    df: DataFrame,
    in_domain,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Moore-Lewis cross-entropy-difference data selection (Moore &
    Lewis 2010 — the in-domain selection method CCNet/GPT-3-era
    pipelines descend from): score every document under TWO add-k
    bigram LMs — one trained on the in-domain subset (``in_domain`` is
    a boolean Column over ``df``'s rows), one on the whole corpus —
    and rank by ``ce_diff`` = nll_in − nll_gen. Documents that look
    more like the target domain than like the general corpus score
    negative; select ascending until the token budget is met. Returns
    (id, n_bigrams, nll_in, nll_gen, ce_diff) for docs with >= 1
    bigram; ce_diff is computed from the two 6-dp-rounded NLLs and
    nudge-rounded (grid differences can land on round-half
    boundaries; the raw NLLs follow lm_score's plain 6-dp round).

    Out-of-model mass: a bigram unseen by the in-domain LM backs off
    to the add-k floor — p = k/(c1 + k·V_in), or 1/V_in when w1 itself
    is unseen — via LEFT joins + exact-0 coalesce, so general-corpus
    gibberish is EXPENSIVE under the in-domain model rather than
    silently dropped (the inner-join shortcut would score exactly the
    novel content as free).

    Shape at scale: ONE corpus expansion to per-doc bigram counts
    (checkpointed — the lm_score discipline); both models are
    map-side-combinable count tables over that frame (the in-domain
    counts filter it by an id join, no second scan); scoring is two
    LEFT equi-joins on the bigram key + broadcast 1-row vocab scalars;
    one final per-doc groupBy."""
    if k <= 0:
        raise ValueError(f"smoothing k must be positive, got {k}")
    from orientdb_spark.pipeline.common import ws_tokens

    toks = ws_tokens(F.lower(F.col(text_col)))
    staged = df.select(
        F.col(id_col), in_domain.alias("__in"), toks.alias("__t")
    ).filter(F.size("__t") >= 2)
    pairs = staged.select(
        F.col(id_col),
        F.col("__in"),
        F.explode(
            F.transform(
                F.slice(F.col("__t"), 1, F.size("__t") - 1),
                lambda w, i: F.struct(
                    w.alias("w1"),
                    F.element_at(
                        F.col("__t"), (i + F.lit(2)).cast("int")
                    ).alias("w2"),
                ),
            )
        ).alias("__bg"),
    ).select(
        F.col(id_col),
        F.col("__in"),
        F.col("__bg.w1").alias("w1"),
        F.col("__bg.w2").alias("w2"),
    )
    pc = (
        pairs.groupBy(id_col, "__in", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("nb"))
        .localCheckpoint(eager=False)
    )

    def lm(src):
        c2 = src.groupBy("w1", "w2").agg(F.sum("nb").alias("c2"))
        c1 = src.groupBy("w1").agg(F.sum("nb").alias("c1"))
        v = (
            src.select(F.col("w1").alias("w"))
            .unionAll(src.select(F.col("w2").alias("w")))
            .agg(F.count_distinct("w").cast("double").alias("v"))
        )
        return c2, c1, v

    c2g, c1g, vg = lm(pc)
    c2i, c1i, vi = lm(pc.filter(F.col("__in")))

    def nll(c2c, c1c, vc):
        return -F.log(
            (F.coalesce(c2c, F.lit(0)) + F.lit(k))
            / (F.coalesce(c1c, F.lit(0)) + F.lit(k) * vc)
        )

    scored = (
        pc.join(c2g.withColumnRenamed("c2", "__c2g"), ["w1", "w2"], "left")
        .join(c1g.withColumnRenamed("c1", "__c1g"), ["w1"], "left")
        .join(
            c2i.withColumnRenamed("c2", "__c2i"), ["w1", "w2"], "left"
        )
        .join(c1i.withColumnRenamed("c1", "__c1i"), ["w1"], "left")
        .crossJoin(F.broadcast(vg.withColumnRenamed("v", "__vg")))
        .crossJoin(F.broadcast(vi.withColumnRenamed("v", "__vi")))
        .select(
            F.col(id_col),
            F.col("nb"),
            nll(F.col("__c2g"), F.col("__c1g"), F.col("__vg")).alias("__ng"),
            nll(F.col("__c2i"), F.col("__c1i"), F.col("__vi")).alias("__ni"),
        )
    )
    nll_in = F.round(F.sum(F.col("nb") * F.col("__ni")) / F.sum("nb"), 6)
    nll_gen = F.round(F.sum(F.col("nb") * F.col("__ng")) / F.sum("nb"), 6)
    return scored.groupBy(id_col).agg(
        F.sum("nb").cast("long").alias("n_bigrams"),
        nll_in.alias("nll_in"),
        nll_gen.alias("nll_gen"),
        F.round(nll_in - nll_gen + F.lit(1e-12), 6).alias("ce_diff"),
    )


LENGTH_BUCKET_BOUNDS = [16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192]


def length_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bounds: "Sequence[int]" = tuple(LENGTH_BUCKET_BOUNDS),
) -> DataFrame:
    """Padding-waste audit for length-bucketed batching — the
    measurement behind dynamic batching (bucket sequences by length so
    a batch pads to its bucket's max, not the corpus max; the
    fairseq/HF `group_by_length` practice, and the decision input for
    choosing bucket boundaries vs switching to pack_sequences): per
    length bucket,

        (bucket_id, bucket_cap, n_docs, max_len, total_tokens,
         padded_tokens, waste_frac)

    where length is the whitespace token count, bucket boundaries are
    the given ascending caps (a doc lands in the first bucket with
    cap >= len; longer docs land in the overflow bucket with NULL cap),
    ``padded_tokens`` = n_docs × max_len — the tokens a batch padded to
    the bucket's OBSERVED max actually computes — and ``waste_frac`` =
    (padded − total) / padded, 6-dp nudge-rounded (the only division;
    everything else is exact integers). Global waste under the
    bucketing is sum(padded−total)/sum(padded) — left to the consumer;
    compare against the one-bucket row of a `bounds=[]` call for the
    unbucketed baseline.

    Bucket assignment is a literal CASE chain over integer compares —
    no log2/float anywhere, so the table replays exactly in SQL.

    Scale shape: a pure per-row projection (token count + CASE) then
    ONE map-side-combinable groupBy to len(bounds)+1 rows."""
    from orientdb_spark.pipeline.common import ws_tokens

    bs = [int(b) for b in bounds]
    if bs != sorted(bs) or len(set(bs)) != len(bs) or (bs and bs[0] <= 0):
        raise ValueError(f"bounds must be positive strictly ascending, got {bounds}")
    n = F.size(ws_tokens(F.lower(F.col(text_col)))).cast("long")
    bucket = F.lit(len(bs))
    cap = F.lit(None).cast("long")
    for i in range(len(bs) - 1, -1, -1):
        bucket = F.when(n <= bs[i], F.lit(i)).otherwise(bucket)
        cap = F.when(n <= bs[i], F.lit(bs[i]).cast("long")).otherwise(cap)
    staged = df.select(
        F.col(id_col), bucket.alias("bucket_id"), cap.alias("bucket_cap"),
        n.alias("__len"),
    )
    agg = staged.groupBy("bucket_id", "bucket_cap").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("__len").cast("long").alias("max_len"),
        F.sum("__len").cast("long").alias("total_tokens"),
    )
    padded = F.col("n_docs") * F.col("max_len")
    return agg.select(
        F.col("bucket_id").cast("int").alias("bucket_id"),
        "bucket_cap",
        "n_docs",
        "max_len",
        "total_tokens",
        padded.alias("padded_tokens"),
        F.round(
            F.when(
                padded > 0,
                (padded - F.col("total_tokens")).cast("double")
                / padded.cast("double"),
            ).otherwise(F.lit(0.0))
            + F.lit(1e-12),
            6,
        ).alias("waste_frac"),
    )
