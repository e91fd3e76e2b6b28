"""Similarity search over embedding columns (array<float>).

Three paths:
- brute_force_topk: exact cosine top-k — the correctness baseline; the
  query side is broadcast, the corpus side streams, ranking is a
  per-query window (TakeOrdered shape). O(Q × N) but one scan of N.
- lsh_topk: random-hyperplane LSH bucketing + exact rerank within probed
  buckets. Hyperplanes are derived from the md5-based h60 hash so the
  index is deterministic (no RNG state), and bucket ids are computed per
  row with no shuffle; only the candidate rerank joins.
- ivf_topk: inverted-file index — deterministic seed centroids + one
  Lloyd refinement, corpus partitioned into cells, queries probe the
  ``nprobe`` nearest cells and rerank exactly. At 100 TB the cell
  assignment is the partition key: a probe touches nprobe/ncells of the
  corpus.

Approximate ≠ unverifiable: every index here is built from md5-h60
arithmetic with disciplined FP (dimension-major sequential folds, the
+1e-12-nudged 6-dp round), so with refine_iters=0 the LSH, IVF-PQ, and
IMI entries are replayed bit-for-bit by DuckDB oracles — approximate
w.r.t. brute force, exactly reproducible across engines. Only the
Lloyd-refined / derived-defaults paths (whose centroid means are
FP-order-sensitive) stay rows-only in the driver; tests measure their
recall against brute force instead.
"""

from __future__ import annotations

import math
import os
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from orientdb_spark.pipeline.common import (
    cosine_similarity,
    h60,
    per_query_topk_rank,
    vec_norm,
)
from orientdb_spark.session import local_frame, release

# Query-side fan-out cap for DERIVED multi-probe widths: beyond this,
# probing more buckets of one table is worse than adding tables (the
# candidate set grows the same either way, but tables decay the miss
# probability exponentially while probes only decay it linearly).
_MAX_DERIVED_NPROBE = 64
# 2^planes must stay well inside a signed long and the per-row signature
# cost is linear in planes — nothing real needs more than 2^24 buckets
# per table before sharding the corpus first.
_MAX_DERIVED_PLANES = 24


def derive_lsh_params(
    n_corpus: int,
    tables: int = 1,
    target_recall: float = 0.6,
    target_bucket_size: int = 2048,
) -> tuple[int, int]:
    """Scale-aware (planes, nprobe) for random-hyperplane LSH.

    The sf1 isotropic study (BENCH.md) measured that recall on an
    UNSTRUCTURED corpus tracks the probed fraction of the keyspace
    almost linearly — so the two derivations are:

    - ``planes = ceil(log2(N / target_bucket_size))``: keep buckets
      populated (~target_bucket_size members) as N grows. The old fixed
      planes=8 left ~80 members/bucket at N=20k and recall@10 collapsed
      to 0.05; planes=4 (the value this formula picks there) measured
      0.855 recall@10 with the coupled nprobe below (sf1 r8 study).
    - ``nprobe = ceil(2^planes * f)`` where ``f = 1-(1-target)^(1/T)``
      is the per-table probed fraction that reaches ``target_recall``
      when a neighbor is found if it collides in ANY of the T tables.

    Both are worst-case (isotropic) sizings: clustered real-model
    embeddings sit far above the target at the same settings. The
    derived nprobe is capped at ``_MAX_DERIVED_NPROBE`` — when the cap
    binds, the caller sees the under-recall warning and should raise
    ``tables`` (exponential lever) rather than probe half the keyspace.
    """
    if n_corpus < 1 or tables < 1:
        raise ValueError(f"need n_corpus >= 1 and tables >= 1, got {n_corpus}, {tables}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0, 1), got {target_recall}")
    planes = max(
        1,
        min(_MAX_DERIVED_PLANES, math.ceil(math.log2(max(1.0, n_corpus / target_bucket_size)))),
    )
    frac = 1.0 - (1.0 - target_recall) ** (1.0 / tables)
    nprobe = max(
        1,
        min(
            2 ** planes,
            _MAX_DERIVED_NPROBE,
            max_probe_buckets(planes),  # 1- and 2-bit flips reach this many
            math.ceil(2 ** planes * min(1.0, frac)),
        ),
    )
    return planes, nprobe


def estimated_lsh_recall(planes: int, nprobe: int, tables: int) -> float:
    """Isotropic worst-case recall estimate: per-table probed fraction
    effective_probes/2^planes (clamped to what 1- and 2-bit flips can
    reach), miss decays exponentially in tables. A TRUE LOWER BOUND:
    cost-ordered probing captures at least the probability mass of the
    same number of random buckets (measured at sf1, 20k isotropic
    vectors: estimate 0.625 for planes=4/nprobe=10, measured 0.855 —
    the probes LSH skips are the most distant buckets)."""
    probes = min(nprobe, max_probe_buckets(planes), 2 ** planes)
    frac = min(1.0, probes / float(2 ** planes))
    return 1.0 - (1.0 - frac) ** tables


def derive_ivf_params(
    n_corpus: int, target_recall: float = 0.6
) -> tuple[int, int]:
    """Scale-aware (n_cells, nprobe) for the IVF index.

    ``n_cells ~ sqrt(N)`` (the classic IVF balance: cell scan cost ~N/C
    vs centroid probe cost ~C, clamped to [16, 4096] — above 4096 the
    centroid table stops being driver-trivial and a second quantizer
    level is the right answer, not more cells: that is ``ImiIndex``,
    whose product cells give k_half^2 effective cells from 2*k_half
    stored centroids). ``nprobe`` then covers
    target_recall/1.5 of the cells: the sf1 isotropic study measured
    IVF recall at 1.5-2.5x the probed fraction (nearest-cell probing
    beats the linear LSH model: cells=16/nprobe=8 -> 0.77, cells=64/
    nprobe=16 -> 0.62), and 1.5 is the conservative end."""
    if n_corpus < 1:
        raise ValueError(f"need n_corpus >= 1, got {n_corpus}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0, 1), got {target_recall}")
    n_cells = max(16, min(4096, math.ceil(math.sqrt(n_corpus))))
    nprobe = max(1, min(n_cells, math.ceil(n_cells * target_recall / 1.5)))
    return n_cells, nprobe


def estimated_ivf_recall(n_cells: int, nprobe: int) -> float:
    """Isotropic worst-case recall estimate for IVF: 1.5x the probed
    cell fraction (the conservative end of the measured 1.5-2.5x
    nearest-cell advantage — see derive_ivf_params)."""
    return min(1.0, 1.5 * nprobe / float(max(1, n_cells)))


def _warn_under_recall(method: str, est: float, target: float, hint: str) -> None:
    warnings.warn(
        f"{method}: estimated worst-case (isotropic-corpus) recall "
        f"{est:.2f} is below the {target:.2f} target — on unstructured "
        f"embeddings the results will be near-random. {hint} (Clustered "
        "real-model corpora typically sit well above the estimate; the "
        "estimate is the no-structure floor.)",
        RuntimeWarning,
        stacklevel=3,
    )


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine, rank), self-matches excluded,
    ties broken by neighbor id (deterministic for the oracle).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("__qv")
    ).withColumn("__qn", vec_norm(F.col("__qv")))
    c = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("__cv")
    ).withColumn("__cn", vec_norm(F.col("__cv")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            cosine_similarity(
                F.col("__qv"), F.col("__cv"), norm_a=F.col("__qn"), norm_b=F.col("__cn")
            ),
        )
    )
    return per_query_topk_rank(
        scored, k, [F.col("cosine").desc(), F.col("neighbor_id")]
    ).select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")


def _assign_udf(centers: list[list[float]]):
    """Arrow-vectorized cell assignment against the (driver-small,
    closure-captured) centroid matrix, argmax by cosine with ties to the
    lower cid — the scale path for assignment: a narrow map stage, NO
    shuffle, no per-row interpreted higher-order functions. ~n_cells·d
    doubles ride along with the task like a broadcast variable.

    FP discipline for the SQL oracle (the pq_encode convention): dot
    products and squared norms accumulate DIMENSION-MAJOR in ascending
    order (the same sequential fold the DuckDB oracle's list arithmetic
    runs — BLAS matmul/nrm2 pairwise summation can diverge at the last
    ulp), and the cosine gets the +1e-12 midpoint nudge and a 6-dp round
    before the argmax — so an oracle can replay the assignment exactly
    whenever the centers themselves are replayable (refine_iters=0 h60
    seeds), which is what upgrades sim_topk_ivfpq to oracle-exact."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centers, dtype=np.float64)  # K × d
    d = C.shape[1]
    Cn = np.zeros(C.shape[0])
    for dd in range(d):  # dimension-major: SQL-fold-identical
        Cn += C[:, dd] * C[:, dd]
    Cn = np.sqrt(Cn)
    Cn[Cn == 0.0] = 1.0

    @pandas_udf("long")
    def assign(vecs: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if M.size == 0:
            return pd.Series([], dtype="int64")
        dots = np.zeros((M.shape[0], C.shape[0]))
        Mn = np.zeros(M.shape[0])
        for dd in range(d):  # dimension-major: SQL-fold-identical
            dots += M[:, dd][:, None] * C[:, dd][None, :]
            Mn += M[:, dd] * M[:, dd]
        Mn = np.sqrt(Mn)
        Mn[Mn == 0.0] = 1.0
        sims = np.round(dots / np.outer(Mn, Cn) + 1e-12, 6)
        # argmax keeps the FIRST max → ties resolve to the lower cid,
        # matching the former row_number(orderBy sim desc, cid) semantics
        return pd.Series(np.argmax(sims, axis=1).astype("int64"))

    return assign


def seed_centers(corpus: DataFrame, n_cells: int) -> list[list[float]]:
    """Deterministic quantizer seeds: the ``n_cells`` corpus vectors with
    the smallest (h60(id), id) — uniformly spread, no RNG state. The id
    tiebreak matches pq_fit and the DuckDB replay oracles' row_number()
    OVER (ORDER BY h60, vec_id): an h60 collision among seed candidates
    must not make the seed order nondeterministic or desync the oracle.
    ``corpus`` is the normalized (__id, __v) projection. Shared by
    build_ivf_index and dedup.embedding_duplicate_pairs so both quantize
    identically."""
    seed_rows = (
        corpus.withColumn("__h", h60(F.col("__id").cast("string")))
        .orderBy("__h", "__id")
        .limit(n_cells)
        .select("__v")
        .collect()
    )
    return [list(r["__v"]) for r in seed_rows]


def _ivf_centers(
    df: DataFrame,
    n_cells: int,
    vec_col: str,
    id_col: str,
    refine_iters: int,
) -> list[list[float]]:
    """The driver-side centers list of ``build_ivf_index`` (h60 seeds +
    ``refine_iters`` Lloyd steps) — split out so callers that apply the
    quantizer directly (IvfIndex.build) can skip the assignments join."""
    corpus = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    centers = seed_centers(corpus, n_cells)

    for _ in range(refine_iters):
        assigned = corpus.withColumn("cid", _assign_udf(centers)(F.col("__v")))
        mean_rows = (
            assigned.select("cid", F.posexplode("__v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in mean_rows:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        centers = [
            [vals[p] for p in sorted(vals)]
            for _, vals in sorted(by_cid.items())
        ]
    return centers


def _centroid_frame(spark, pairs) -> DataFrame:
    """The (cid, cvec) centroid frame over driver-side (cid, center) pairs."""
    return local_frame(spark, pairs, "cid bigint, cvec array<double>")


def build_ivf_index(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine_iters: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer. Returns (centroids(cid, cvec),
    assignments(id, cid)) — the inverted file.

    Seeds are the ``n_cells`` corpus vectors with the smallest h60(id)
    (deterministic, uniformly spread); ``refine_iters`` Lloyd steps
    re-center each cell at the element-wise mean of its members. The
    centroid set is tiny (n_cells × dim doubles), so it lives driver-side:
    assignment is a vectorized numpy argmax per Arrow batch (narrow map,
    zero shuffle) instead of a crossJoin + window — per Lloyd step the
    only shuffle is the element-wise-mean groupBy."""
    centers = _ivf_centers(df, n_cells, vec_col, id_col, refine_iters)
    corpus = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    centroids = _centroid_frame(df.sparkSession, enumerate(centers))
    assignments = corpus.withColumn("cid", _assign_udf(centers)(F.col("__v"))).select(
        F.col("__id").alias(id_col), "cid"
    )
    return centroids, assignments


class IvfIndex:
    """Persisted IVF index handle — build once, query many.

    ``build`` materializes the centroids (localCheckpoint) and the
    cell-assigned corpus (persisted, eagerly computed), so subsequent
    ``topk`` calls run zero centroid-build jobs: probing joins against the
    cached cell-partitioned corpus directly. At 100 TB this is the
    difference between an index and a per-query table scan — the build is
    one pass, every query after touches ~nprobe/n_cells of the corpus.

    Parameter guidance (measured, BENCH.md sf1 ANN study): on an
    unstructured (isotropic) corpus recall tracks nprobe/n_cells almost
    linearly (cells=16/nprobe=8 -> 0.77 recall@10 over 20k vectors;
    cells=64/nprobe=16 -> 0.62 at 2.3x the speed) — pick the ratio to
    match the recall floor you need; clustered real-model embeddings
    sit far above these floors at the same settings.
    """

    def __init__(
        self,
        centroids: DataFrame,
        corpus_cells: DataFrame,
        id_col: str,
        n_cells: int | None = None,
    ):
        self.centroids = centroids
        self.corpus_cells = corpus_cells  # (neighbor_id, __cv, cid), persisted
        self.id_col = id_col
        self._n_cells = n_cells

    @property
    def n_cells(self) -> int:
        if self._n_cells is None:
            self._n_cells = self.centroids.count()
        return self._n_cells

    @classmethod
    def build(
        cls,
        df: DataFrame,
        n_cells: int | None = None,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        refine_iters: int = 1,
        persist: bool = True,
        target_recall: float = 0.6,
    ) -> "IvfIndex":
        """``persist=True`` (the query-many path) materializes the
        cell-assigned corpus so later ``topk`` calls run zero build jobs;
        ``persist=False`` keeps it lazy for one-shot use.

        ``n_cells=None`` derives ~sqrt(N) cells from one count() of the
        corpus (derive_ivf_params) — the scale-aware default; explicit
        values are honored verbatim.

        Rows with a NULL id are not indexed: they can never be named as a
        neighbor, so they neither train the centers nor enter the cells."""
        df = df.filter(F.col(id_col).isNotNull())
        if n_cells is None:
            n_cells, _ = derive_ivf_params(max(1, df.count()), target_recall)
        # r14: apply the quantizer DIRECTLY on the cell frame instead of
        # joining the corpus back to build_ivf_index's assignments — the
        # assignments frame is just the corpus plus the _assign_udf
        # column, so the join was a corpus self-join on id (2 exchanges
        # per build; guide §2.4 "remove shuffles outright"). Same rows:
        # cid = argmax-cosine against the same driver-side centers over
        # the same array<double> cast.
        centers = _ivf_centers(df, n_cells, vec_col, id_col, refine_iters)
        centroids = _centroid_frame(df.sparkSession, enumerate(centers))
        corpus = df.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("__cv"),
        ).withColumn("cid", _assign_udf(centers)(F.col("__cv")))
        if persist:
            corpus = corpus.localCheckpoint(eager=True)  # cut lineage; cache cells
        return cls(centroids, corpus, id_col, n_cells=n_cells)

    def topk(self, queries: DataFrame, k: int = 5, nprobe: int | None = None,
             vec_col: str = "embedding", target_recall: float = 0.6) -> DataFrame:
        """``nprobe=None`` derives the probe width that clears
        ``target_recall`` on an isotropic corpus (derive_ivf_params);
        any setting whose worst-case recall estimate falls below the
        target raises a loud RuntimeWarning."""
        if nprobe is None:
            nprobe = max(
                1, min(self.n_cells, math.ceil(self.n_cells * target_recall / 1.5))
            )
        est = estimated_ivf_recall(self.n_cells, nprobe)
        if est < target_recall:
            _warn_under_recall(
                "ivf_topk", est, target_recall,
                f"Raise nprobe (now {nprobe} of {self.n_cells} cells) or "
                "rebuild with fewer cells.",
            )
        probes = self.probe_cells(queries, nprobe, vec_col)
        # r13 optimization: precompute both norms BELOW the join — once
        # per probe row and once per corpus row — so the per-pair work
        # is ONE dot fold instead of three (the former bare
        # cosine_similarity re-derived both norms per candidate pair;
        # guide §1.2 "don't compute things you throw away"). Values are
        # bit-identical: vec_norm is the same fold either way.
        scored = (
            F.broadcast(probes.withColumn("__qn", vec_norm(F.col("__qv"))))
            .join(
                self.corpus_cells.withColumn("__cn", vec_norm(F.col("__cv"))),
                "cid",
            )
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn(
                "cosine",
                cosine_similarity(
                    F.col("__qv"), F.col("__cv"),
                    norm_a=F.col("__qn"), norm_b=F.col("__cn"),
                ),
            )
        )
        return per_query_topk_rank(
            scored, k, [F.col("cosine").desc(), F.col("neighbor_id")]
        ).select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")

    def probe_cells(
        self, queries: DataFrame, nprobe: int, vec_col: str = "embedding"
    ) -> DataFrame:
        """The coarse-quantizer probe: each query's ``nprobe`` closest
        cells by centroid cosine. Returns (query_id, __qv, cid) — the
        candidate-pruning predicate every IVF-family ranker joins on.
        Ranking uses the rounded-nudged cosine (the _assign_udf FP
        discipline) with a cid tiebreak, so the probe set is exactly
        replayable by a SQL oracle when the centroids are h60 seeds."""
        q = queries.select(
            F.col(self.id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("__qv"),
        )
        wq = Window.partitionBy("query_id").orderBy(F.col("__d").desc(), F.col("cid"))
        # r13 optimization: both norms folded once per query row /
        # centroid row below the fan-out instead of three folds per
        # (query, centroid) pair — bit-identical values
        return (
            q.withColumn("__qn", vec_norm(F.col("__qv")))
            .crossJoin(
                F.broadcast(
                    self.centroids.withColumn("__cn", vec_norm(F.col("cvec")))
                )
            )
            .withColumn(
                "__d",
                F.round(
                    cosine_similarity(
                        F.col("__qv"), F.col("cvec"),
                        norm_a=F.col("__qn"), norm_b=F.col("__cn"),
                    )
                    + F.lit(1e-12),
                    6,
                ),
            )
            .withColumn("__r", F.row_number().over(wq))
            .filter(F.col("__r") <= nprobe)
            .select("query_id", "__qv", "cid")
        )

    def unpersist(self) -> None:
        release(self.corpus_cells)

    def save(self, path: str) -> None:
        """Persist the index as parquet: ``<path>/centroids`` plus the
        cell-assigned corpus at ``<path>/cells`` PARTITIONED BY cid —
        one directory per inverted-file cell. That layout is the scale
        feature: a loaded index's probe join carries a broadcast-able
        cid set, so Spark's dynamic partition pruning reads ONLY the
        probed cells' files — a query touches nprobe/n_cells of the
        corpus at the FILE level, which is what "index" means for a
        100 TB corpus that outlives any one SparkSession."""
        self.centroids.write.mode("overwrite").parquet(f"{path}/centroids")
        (
            self.corpus_cells.write.mode("overwrite")
            .partitionBy("cid")
            .parquet(f"{path}/cells")
        )

    @classmethod
    def load(cls, spark, path: str, id_col: str = "vec_id") -> "IvfIndex":
        """Reopen a saved index. The cell table is deliberately left as
        a parquet scan (NOT cached): cid is its partition column, so
        every ``topk`` probe prunes to the probed cells' directories —
        caching would trade file-level pruning for cluster memory."""
        centroids = spark.read.parquet(f"{path}/centroids")
        cells = spark.read.parquet(f"{path}/cells")
        return cls(centroids, cells, id_col)

    def extend(
        self,
        batch: DataFrame,
        vec_col: str = "embedding",
        persist: bool = True,
    ) -> "IvfIndex":
        """Incremental index update — the daily-ingest path: assign the
        new vectors to the EXISTING centroids (no requantization) and
        union them into the inverted file. O(batch) work: one narrow
        Arrow map over the batch, zero corpus reads. The centroid pull
        is the documented bounded collect (n_cells × d doubles, the
        build_ivf_index convention). Caveat (Lloyd semantics): centroids
        drift as the corpus grows — re-run ``build`` when the ingested
        volume stops matching the quantizer (the standard IVF re-train
        cadence); until then recall degrades gracefully, it never
        silently breaks, because assignment stays nearest-centroid.
        Batch rows with a NULL id are not indexed, as in ``build``."""
        rows = self.centroids.orderBy("cid").collect()
        centers = [list(r["cvec"]) for r in rows]
        assigned = batch.filter(F.col(self.id_col).isNotNull()).select(
            F.col(self.id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("__cv"),
        ).withColumn("cid", _assign_udf(centers)(F.col("__cv")))
        merged = self.corpus_cells.unionByName(assigned)
        if persist:
            merged = merged.localCheckpoint(eager=True)
        return IvfIndex(self.centroids, merged, self.id_col, n_cells=len(centers))


# Derived IMI probe widths stop here: enumerating the probe pairs costs
# O(min(k_half, nprobe)^2) query-side rows, and past a few thousand cells
# an isotropic corpus is not meaningfully probeable anyway — the warning
# machinery tells the caller when the cap binds.
_MAX_DERIVED_IMI_NPROBE = 4096


def derive_imi_params(n_corpus: int, target_recall: float = 0.6) -> tuple[int, int]:
    """Scale-aware (k_half, nprobe) for the inverted multi-index.

    ``k_half ~ N^(1/4)`` puts the EFFECTIVE cell count k_half^2 at the
    classic ~sqrt(N) IVF balance while the centroid budget (2 * k_half
    half-vectors) grows only as N^(1/4) — the whole point of IMI: the
    16M-effective-cell index a 1e10-row corpus wants costs the same
    driver-side table that caps flat IVF at 4096 cells. ``nprobe``
    covers target_recall/1.5 of the ESTIMATED occupied cells (the same
    measured nearest-cell advantage as derive_ivf_params; ImiIndex.topk
    re-derives against the real occupancy count at query time), capped
    at ``_MAX_DERIVED_IMI_NPROBE`` — when the cap binds the under-recall
    warning fires instead of the probe enumeration exploding."""
    if n_corpus < 1:
        raise ValueError(f"need n_corpus >= 1, got {n_corpus}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0, 1), got {target_recall}")
    k_half = max(4, min(4096, math.ceil(n_corpus ** 0.25)))
    occupied_est = min(k_half * k_half, n_corpus)
    nprobe = max(
        1,
        min(
            occupied_est,
            _MAX_DERIVED_IMI_NPROBE,
            math.ceil(occupied_est * target_recall / 1.5),
        ),
    )
    return k_half, nprobe


def estimated_imi_recall(occupied_cells: int, nprobe: int) -> float:
    """Isotropic worst-case recall estimate for IMI: the IVF model
    (1.5x the probed fraction) over OCCUPIED product cells — empty
    (c1, c2) combinations cost nothing to skip, so occupancy is the
    honest denominator."""
    return min(1.0, 1.5 * nprobe / float(max(1, occupied_cells)))


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance of two array<double> columns — the same
    sequential-fold shape as dot_product, so cross-engine replays agree."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


class ImiIndex:
    """Inverted multi-index (Babenko & Lempitsky, "The Inverted
    Multi-Index", CVPR 2012) — the two-level coarse quantizer for
    corpora where flat IVF runs out of cells.

    The vector splits into two halves; each half gets its own k_half
    codebook (this is exactly product quantization with m=2, so the fit
    and the assignment reuse pq_fit/pq_encode verbatim — one Arrow
    encode pass, zero shuffles). A corpus item lands in the PRODUCT cell
    (cid1, cid2): k_half^2 effective cells from 2*k_half stored
    centroids. At k_half=4096 that is 16.7M cells from the same
    driver-side centroid budget that capped flat IVF at 4096
    (``derive_ivf_params`` documents that boundary and points here) —
    candidate lists shrink ~sqrt(N)-fold for equal centroid cost, which
    is what a 1e10-row corpus needs.

    Probing is the multi-sequence guarantee made declarative: each
    query ranks the L = min(k_half, nprobe) closest half-centroids per
    half by squared L2 (two K-row broadcast fan-outs), crosses the two
    lists (L^2 rows per query — a QUERY-side cost only), and keeps the
    ``nprobe`` pairs with the smallest d1 + d2. Any pair in the true
    top-nprobe by combined distance has each coordinate ranked <=
    nprobe in its own half (everything that beats it in one half beats
    it overall), so the enumeration is EXACT — same probe set as the
    paper's priority-queue walk, with no driver-side loop.

    Like IvfIndex: build once (persist=True checkpoints the coded
    corpus), query many; at scale (cid1, cid2) is the partition key and
    a probe touches only the matched cells.
    """

    def __init__(
        self,
        codebooks: list,
        corpus_cells: DataFrame,
        id_col: str,
        k_half: int,
        dim: int,
        occupied: int | None = None,
    ):
        self.codebooks = codebooks
        self.corpus_cells = corpus_cells  # (neighbor_id, __cv, cid1, cid2)
        self.id_col = id_col
        self.k_half = k_half
        self.dim = dim
        self._occupied = occupied
        self._cent = [
            local_frame(
                corpus_cells.sparkSession,
                [(i, list(c)) for i, c in enumerate(codebooks[h])],
                f"cid{h + 1} int, __cvec{h + 1} array<double>",
            )
            for h in range(2)
        ]

    @property
    def occupied_cells(self) -> int:
        """Distinct occupied (cid1, cid2) product cells — the honest
        probe-fraction denominator (one bounded count, cached)."""
        if self._occupied is None:
            self._occupied = (
                self.corpus_cells.select("cid1", "cid2").distinct().count()
            )
        return self._occupied

    @classmethod
    def build(
        cls,
        df: DataFrame,
        k_half: int | None = None,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        refine_iters: int = 1,
        persist: bool = True,
        target_recall: float = 0.6,
    ) -> "ImiIndex":
        """Fit the two half-space codebooks (pq_fit(m=2) — h60-seeded,
        deterministic, ``refine_iters`` Lloyd steps) and assign every
        corpus row to its product cell (one Arrow encode pass). The
        vector dimension must be even (pq_fit's divisibility check).
        ``k_half=None`` derives ~N^(1/4) codewords per half from one
        count() (derive_imi_params)."""
        from orientdb_spark.pipeline.quantize import pq_encode, pq_fit

        if k_half is None:
            k_half, _ = derive_imi_params(max(1, df.count()), target_recall)
        books = pq_fit(
            df, m=2, k=k_half, vec_col=vec_col, id_col=id_col,
            refine_iters=refine_iters,
        )
        codes = pq_encode(df, books, vec_col=vec_col, id_col=id_col)
        corpus = (
            df.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).cast("array<double>").alias("__cv"),
            )
            .join(codes.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
            .select(
                "neighbor_id",
                "__cv",
                F.element_at("codes", 1).alias("cid1"),
                F.element_at("codes", 2).alias("cid2"),
            )
        )
        if persist:
            corpus = corpus.localCheckpoint(eager=True)
        dim = 2 * len(books[0][0])
        return cls(books, corpus, id_col=id_col, k_half=k_half, dim=dim)

    def probe_cells(
        self, queries: DataFrame, nprobe: int, vec_col: str = "embedding"
    ) -> DataFrame:
        """The query's ``nprobe`` closest product cells by combined
        per-half squared L2 (exact multi-sequence enumeration — see the
        class docstring). Returns (query_id, __qv, cid1, cid2)."""
        dsub = self.dim // 2
        L = min(self.k_half, nprobe)
        q = queries.select(
            F.col(self.id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("__qv"),
        )
        halves = []
        for h in range(2):
            qh = F.slice(F.col("__qv"), 1 + h * dsub, dsub)
            d_col, c_col = f"__d{h + 1}", f"cid{h + 1}"
            w = Window.partitionBy("query_id").orderBy(F.col(d_col), F.col(c_col))
            side = q if h == 0 else q.select("query_id", "__qv")
            halves.append(
                side.crossJoin(F.broadcast(self._cent[h]))
                .withColumn(d_col, _sq_l2(qh, F.col(f"__cvec{h + 1}")))
                .withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= L)
                .drop("__r", f"__cvec{h + 1}", *([] if h == 0 else ["__qv"]))
            )
        pairs = halves[0].join(halves[1], "query_id")
        wp = Window.partitionBy("query_id").orderBy(
            (F.col("__d1") + F.col("__d2")).asc(), F.col("cid1"), F.col("cid2")
        )
        return (
            pairs.withColumn("__rp", F.row_number().over(wp))
            .filter(F.col("__rp") <= nprobe)
            .select("query_id", "__qv", "cid1", "cid2")
        )

    def topk(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int | None = None,
        vec_col: str = "embedding",
        target_recall: float = 0.6,
    ) -> DataFrame:
        """Approximate cosine top-k through the product-cell index:
        probe ``nprobe`` cells, exact rerank within. Same output shape
        as brute_force_topk. ``nprobe=None`` derives the width that
        clears ``target_recall`` against the MEASURED occupancy;
        under-recall settings warn loudly (the ivf_topk contract)."""
        occ = self.occupied_cells
        if nprobe is None:
            nprobe = max(
                1,
                min(occ, _MAX_DERIVED_IMI_NPROBE,
                    math.ceil(occ * target_recall / 1.5)),
            )
        est = estimated_imi_recall(occ, nprobe)
        if est < target_recall:
            _warn_under_recall(
                "imi_topk", est, target_recall,
                f"Raise nprobe (now {nprobe} of {occ} occupied cells) or "
                "rebuild with smaller k_half.",
            )
        probes = self.probe_cells(queries, nprobe, vec_col)
        # r13 optimization: norms precomputed below the join (one fold
        # per probe/corpus row, not per pair) — see IvfIndex.topk
        scored = (
            F.broadcast(probes.withColumn("__qn", vec_norm(F.col("__qv"))))
            .join(
                self.corpus_cells.withColumn("__cn", vec_norm(F.col("__cv"))),
                ["cid1", "cid2"],
            )
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn(
                "cosine",
                cosine_similarity(
                    F.col("__qv"), F.col("__cv"),
                    norm_a=F.col("__qn"), norm_b=F.col("__cn"),
                ),
            )
        )
        return per_query_topk_rank(
            scored, k, [F.col("cosine").desc(), F.col("neighbor_id")]
        ).select(
            "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
        )

    def unpersist(self) -> None:
        release(self.corpus_cells)


def imi_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k_half: int | None = None,
    nprobe: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index: ImiIndex | None = None,
    refine_iters: int = 1,
    target_recall: float = 0.6,
) -> DataFrame:
    """Approximate top-k through the inverted multi-index (ImiIndex) —
    the >4096-cell answer derive_ivf_params points at. Same output
    shape and defaults-derivation/warning contract as ivf_topk; pass a
    prebuilt ``index`` for the build-once/query-many path."""
    if index is None:
        index = ImiIndex.build(
            df, k_half, vec_col, id_col, refine_iters=refine_iters,
            persist=False, target_recall=target_recall,
        )
    return index.topk(
        queries, k=k, nprobe=nprobe, vec_col=vec_col, target_recall=target_recall
    )


def kmeans(
    df: DataFrame,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Spherical k-means (cosine-assignment Lloyd) over an embedding
    column — the corpus-clustering step behind cluster-balanced sampling
    and topic-level dedup. Returns (centroids(cid, cvec),
    assignments(id, cid)).

    This is the IVF coarse quantizer loop exposed as a public operator:
    deterministic h60-seeded centers (no RNG), per-iteration cost = one
    narrow Arrow matmul assignment (no shuffle) + one element-wise-mean
    groupBy; the centroid set stays driver-side, k*dim-bounded. Empty
    cells drop out and the surviving cids renumber densely. The result
    is gated against a pure-numpy Lloyd reference in
    tests/test_ivf_index.py (rows-only in the driver: the mean-update
    sums floats in partition order, so last-ulp centroid wiggle makes a
    cross-engine hash oracle the wrong check)."""
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1 and iters >= 0, got k={k}, iters={iters}")
    return build_ivf_index(
        df, n_cells=k, vec_col=vec_col, id_col=id_col, refine_iters=iters
    )


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    nprobe: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index: IvfIndex | None = None,
    refine_iters: int = 1,
    target_recall: float = 0.6,
) -> DataFrame:
    """Approximate top-k through the IVF index: each query probes its
    ``nprobe`` closest cells; exact cosine rerank within those cells.
    Same output shape as brute_force_topk. Pass a prebuilt ``index``
    (IvfIndex.build) to skip the per-call build — the build-once/query-many
    path every repeated-query workload should use.

    ``n_cells=None``/``nprobe=None`` derive scale-aware values
    (~sqrt(N) cells, probe width sized to ``target_recall`` on an
    isotropic corpus — derive_ivf_params); under-recall settings warn
    loudly instead of silently returning near-random neighbors.
    ``refine_iters=0`` keeps the coarse quantizer at the h60 seed
    vectors — fully deterministic and SQL-replayable (the pq_fit
    convention, what upgrades the driver entry to oracle-exact); the
    default single Lloyd step tightens cells at the cost of
    partition-order float sums in the centroid means."""
    if index is None:
        index = IvfIndex.build(
            df, n_cells, vec_col, id_col, refine_iters=refine_iters,
            persist=False, target_recall=target_recall,
        )
    return index.topk(queries, k=k, nprobe=nprobe, vec_col=vec_col,
                      target_recall=target_recall)


def _hyperplane(dim: int, plane: int, table: int = 0) -> list[float]:
    """Deterministic pseudo-random hyperplane component from the shared
    60-bit hash family — reproducible across runs/engines, no RNG.
    ``table`` salts the family so multi-table LSH gets independent plane
    sets; table 0 keeps the original key (signature stability)."""
    import hashlib

    salt = f"plane:{plane}:" if table == 0 else f"plane:t{table}:{plane}:"
    out = []
    for j in range(dim):
        h = int(hashlib.md5(f"{salt}{j}".encode()).hexdigest()[:15], 16)
        out.append((h / float(1 << 60)) * 2.0 - 1.0)
    return out


def lsh_bucket_col(vec: Column, dim: int, planes: int, table: int = 0) -> Column:
    """Random-hyperplane signature: bit p = sign(v · plane_p)."""
    v = vec.cast("array<double>")
    bucket = F.lit(0).cast("long")
    for p in range(planes):
        coeffs = _hyperplane(dim, p, table)
        dot = F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(c) for c in coeffs]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(2 ** p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def max_probe_buckets(planes: int) -> int:
    """Buckets reachable by the probe enumeration below: the vector's
    own bucket + every single- and double-bit perturbation."""
    return 1 + planes + planes * (planes - 1) // 2


def lsh_probe_buckets(
    vec: Column, dim: int, planes: int, nprobe: int, table: int = 0
) -> Column:
    """Multi-probe bucket list for a query vector (Lv et al., "Multi-Probe
    LSH", VLDB'07): the vector's own bucket plus the ``nprobe - 1``
    lowest-cost perturbations, where a perturbation flips one or two sign
    bits and costs the sum of the flipped margins |v·plane| — the planes
    the vector sits closest to, i.e. where a true neighbor most likely
    landed on the other side. Single+double flips reach
    ``max_probe_buckets(planes)`` buckets (the r7 single-flip scheme
    capped probing at planes+1 buckets, which silently floored recall at
    small planes — found by the r8 derived-defaults study). Pure Column
    (array_sort over (cost, mask) structs), deterministic, computed per
    query row with no shuffle; the corpus side still stores exactly one
    bucket per row, so the index itself doesn't grow — only the query
    fan-out does."""
    v = vec.cast("array<double>")
    dots = []
    for p in range(planes):
        coeffs = _hyperplane(dim, p, table)
        dots.append(
            F.aggregate(
                F.zip_with(v, F.array(*[F.lit(c) for c in coeffs]), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    base = F.lit(0).cast("long")
    for p, dot in enumerate(dots):
        base = base + F.when(dot > 0, F.lit(2 ** p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    # perturbation candidates: (cost, xor-mask) for every 1- and 2-bit
    # flip — planes + C(planes, 2) structs, sorted per row by cost with
    # the mask as the deterministic tiebreak
    cands = [(F.abs(dots[i]), 1 << i) for i in range(planes)]
    for i in range(planes):
        for j in range(i + 1, planes):
            cands.append((F.abs(dots[i]) + F.abs(dots[j]), (1 << i) | (1 << j)))
    ranked = F.array_sort(
        F.array(*[
            F.struct(cost.alias("m"), F.lit(mask).cast("long").alias("k"))
            for cost, mask in cands
        ])
    )
    flips = F.transform(
        F.slice(ranked, 1, max(nprobe - 1, 0)),
        lambda s: base.bitwiseXOR(s["k"]),
    )
    return F.concat(F.array(base), flips)


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    planes: int | None = None,
    nprobe: int | None = None,
    tables: int = 1,
    target_recall: float = 0.6,
) -> DataFrame:
    """Approximate top-k: candidates share one of the query's ``nprobe``
    probed LSH buckets (own bucket + lowest-margin bit flips — multi-probe
    raises recall without touching the corpus-side index); exact cosine
    rerank within candidates. Same output shape as brute_force_topk;
    recall measured in tests.

    ``tables > 1`` builds that many independent hash tables (plane sets
    salted per table, see ``_hyperplane``) and unions their candidates —
    the classic recall lever: a true neighbor is found if it collides in
    ANY table, so miss probability decays exponentially in T. Cost model
    at scale: the corpus emits T bucket entries per row (one scan — the
    tables ride in one exploded array, not T passes) and the candidate
    set grows ~T×; the exact rerank still runs once per distinct
    (query, candidate) thanks to the dropDuplicates below.

    Parameter guidance (measured, BENCH.md sf1 ANN study): on an
    UNSTRUCTURED (isotropic) corpus recall tracks the probed fraction of
    the corpus, so keep buckets populated as N grows — choose
    ``planes ~ log2(N / desired_bucket_size)`` (8 planes over 20k
    vectors leaves ~80 per bucket and recall@10 collapsed to 0.05 at
    defaults; planes=4 recovered 0.54 at 3x brute-force speed). Real
    embedding corpora are clustered and sit far above these floors at
    the same settings.

    ``planes``/``nprobe`` default to None = DERIVED from the corpus size
    (``derive_lsh_params``: planes keeps ~2048 members/bucket, nprobe
    covers the probed fraction that reaches ``target_recall`` on an
    isotropic corpus) — the r7 study showed the old fixed defaults
    (planes=8, nprobe=2) give near-random neighbors at N=20k with no
    warning; the reference auto-picks index access paths rather than
    making users tune them (core:sql/OCommandExecutorSQLSelect.java:
    372-429). The sizing needs one count() of ``df`` — pass planes AND
    nprobe explicitly to skip it. Explicit settings are honored
    verbatim, but ANY setting whose worst-case recall estimate falls
    below ``target_recall`` raises a loud RuntimeWarning instead of
    silently under-recalling."""
    if planes is None:
        # the only sizing that needs the corpus count — an explicit
        # planes skips the scan entirely (nprobe derives from planes)
        planes, d_nprobe = derive_lsh_params(
            max(1, df.count()), tables=tables, target_recall=target_recall
        )
        if nprobe is None:
            nprobe = d_nprobe
    elif nprobe is None:
        # an explicit planes changes the keyspace the derived nprobe
        # must cover — size the fraction against the planes in play
        frac = 1.0 - (1.0 - target_recall) ** (1.0 / tables)
        nprobe = max(
            1,
            min(2 ** planes, _MAX_DERIVED_NPROBE, max_probe_buckets(planes),
                math.ceil(2 ** planes * min(1.0, frac))),
        )
    est = estimated_lsh_recall(planes, nprobe, tables)
    if est < target_recall:
        _warn_under_recall(
            "lsh_topk", est, target_recall,
            f"Raise tables (now {tables}; miss decays exponentially) or "
            f"nprobe (now {nprobe} of 2^{planes} buckets per table), or "
            "lower planes.",
        )
    # one flat bucket keyspace across tables: key = (table << planes) | bucket
    c_buckets = F.array(
        *[
            lsh_bucket_col(F.col(vec_col), dim, planes, table=t)
            + F.lit(t << planes).cast("long")
            for t in range(tables)
        ]
    )
    def _shifted_probes(t: int) -> Column:
        # NB: a two-arg lambda in F.transform would receive the element
        # INDEX as its second argument — keep the table offset in a closure
        off = F.lit(t << planes).cast("long")
        return F.transform(
            lsh_probe_buckets(F.col(vec_col), dim, planes, nprobe, table=t),
            lambda b: b + off,
        )

    q_buckets = F.concat(*[_shifted_probes(t) for t in range(tables)])
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
        F.explode(q_buckets).alias("__b"),
    ).withColumn("__qn", vec_norm(F.col("__qv")))
    c = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
        F.explode(c_buckets).alias("__b"),
    ).withColumn("__cn", vec_norm(F.col("__cv")))
    scored = (
        F.broadcast(q)
        .join(c, "__b")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # multi-probe can reach the same neighbor via several probed
        # buckets — dedup before ranking or row_number double-counts
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn(
            "cosine",
            cosine_similarity(
                F.col("__qv"), F.col("__cv"), norm_a=F.col("__qn"), norm_b=F.col("__cn")
            ),
        )
    )
    return per_query_topk_rank(
        scored, k, [F.col("cosine").desc(), F.col("neighbor_id")]
    ).select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")


def ivfpq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    nprobe: int | None = None,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index: IvfIndex | None = None,
    codebooks: list | None = None,
    codes: DataFrame | None = None,
    refine_iters: int = 1,
    target_recall: float = 0.6,
    residual: bool = False,
    metric: str = "dot",
) -> DataFrame:
    """IVF-PQ approximate top-k (the IVFADC composition of Jégou et al.,
    TPAMI 2011 §IV — the architecture behind billion-vector ANN): the
    coarse quantizer prunes to each query's ``nprobe`` closest cells,
    then ADC over PQ codes ranks WITHIN the probed cells — a query
    touches ~nprobe/n_cells of the corpus and reads only the m small
    code ints per candidate, never the original vectors.

    At 100 TB this is the serving shape: the inverted file partitions
    the corpus by cid (partition pruning at scan time), the code table
    is 8-32x smaller than the vectors, the per-query LUT broadcast is
    m·n_codes doubles, and the score is a JVM-side Column fold. Pass a
    prebuilt ``index`` + ``codebooks`` + ``codes`` (IvfIndex.build /
    pq_fit / pq_encode, persisted once) for the build-once/query-many
    path with zero corpus-vector work at query time.

    ``residual=True`` is faithful IVFADC: PQ encodes the RESIDUAL
    x − c_cell(x) instead of x — residuals are smaller in magnitude
    than raw vectors, so the same code budget quantizes them more
    finely. For the dot-product score the decomposition is exact and
    cheap: q·x = q·c_cell + q·r, so the score is the EXACT q·centroid
    term (a per-probe dot against the broadcast centroid — no new
    shuffle) plus the usual cell-independent ADC lookup over residual
    codes; unlike the L2 formulation, the LUT stays one-per-query.
    Prebuilt ``codebooks``/``codes`` must then be residual-trained
    (fit/encode over x − c_cell, as this function does when they're
    None). Measured on the clustered test fixture (whose per-cluster
    noise is deliberately large): mean |score − true dot| 0.078 → 0.061
    vs raw-vector encoding (~21% — the gain grows as clusters tighten,
    because residual magnitude shrinks relative to raw;
    tests/test_quantize.py pins the ordering).

    ``metric="l2"`` ranks by approximate SQUARED L2 (ascending — the
    paper's native metric). With ``residual=True`` this is the faithful
    §IV formulation: ||q − x||² = ||(q − c_cell) − r||², so the LUT is
    built PER (query, probed cell) over the residual query q − c_cell
    (nprobe tables of m·n_codes doubles per query — still tiny, and
    still zero extra shuffles since the probe rows already carry the
    broadcast centroid) and Σ_s lut[s][code_s] estimates the true
    squared distance directly, no separate centroid term.

    Same output shape as pq_topk (query_id, neighbor_id, score, rank),
    score = approximate dot. Doubly approximate (cell pruning × code
    quantization) → rows-only; gates in tests/test_quantize.py."""
    from orientdb_spark.pipeline.common import dot_product
    from orientdb_spark.pipeline.quantize import (
        pq_adc_score,
        pq_encode,
        pq_fit,
        pq_query_lut_udf,
    )

    if index is None:
        index = IvfIndex.build(
            df, n_cells, vec_col, id_col, refine_iters=refine_iters,
            persist=False, target_recall=target_recall,
        )
    if nprobe is None:
        nprobe = max(
            1, min(index.n_cells, math.ceil(index.n_cells * target_recall / 1.5))
        )
    est = estimated_ivf_recall(index.n_cells, nprobe)
    if est < target_recall:
        _warn_under_recall(
            "ivfpq_topk", est, target_recall,
            f"Raise nprobe (now {nprobe} of {index.n_cells} cells) or "
            "rebuild with fewer cells.",
        )
    if residual and (codebooks is None or codes is None):
        resid = index.corpus_cells.join(F.broadcast(index.centroids), "cid").select(
            "neighbor_id",
            "cid",
            F.zip_with(
                F.col("__cv").cast("array<double>"),
                F.col("cvec").cast("array<double>"),
                lambda x, c: x - c,
            ).alias("__r"),
        )
        if codebooks is None:
            codebooks = pq_fit(resid, m, n_codes, vec_col="__r",
                               id_col="neighbor_id", refine_iters=refine_iters)
        if codes is None:
            codes = pq_encode(resid, codebooks, vec_col="__r", id_col="neighbor_id")
    elif codebooks is None:
        codebooks = pq_fit(df, m, n_codes, vec_col, id_col, refine_iters)
    if codes is None:
        codes = pq_encode(df, codebooks, vec_col, id_col)
    code_side = codes
    if id_col in code_side.columns:
        code_side = code_side.withColumnRenamed(id_col, "neighbor_id")
    coded_cells = index.corpus_cells.select("neighbor_id", "cid").join(
        code_side, "neighbor_id"
    )
    lut = pq_query_lut_udf(codebooks, metric)
    probes = index.probe_cells(queries, nprobe, vec_col)
    if residual:
        probes = probes.join(F.broadcast(index.centroids), "cid")
        if metric == "l2":
            # per-(query, cell) LUT over the residual query q − c_cell:
            # Σ_s lut[s][code_s] = ||(q−c) − r̂||² ≈ ||q − x||² directly
            probes = probes.withColumn(
                "__lut",
                lut(
                    F.zip_with(
                        F.col("__qv").cast("array<double>"),
                        F.col("cvec").cast("array<double>"),
                        lambda x, c: x - c,
                    )
                ),
            )
        else:
            # exact q·centroid term per probed cell (tiny broadcast join)
            probes = probes.withColumn("__lut", lut(F.col("__qv"))).withColumn(
                "__qc", dot_product(F.col("__qv").cast("array<double>"),
                                    F.col("cvec").cast("array<double>"))
            )
        probes = probes.drop("cvec")
    else:
        probes = probes.withColumn("__lut", lut(F.col("__qv")))
    probes = probes.drop("__qv")
    base_score = pq_adc_score(F.col("codes"), F.col("__lut"))
    if residual and metric == "dot":
        base_score = F.col("__qc") + base_score
    scored = (
        F.broadcast(probes)
        .join(coded_cells, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # +1e-12 before round(…, 6): the cross-engine midpoint-rounding
        # nudge every replayable score shares (see pq_topk)
        .withColumn("score", F.round(base_score + F.lit(1e-12), 6))
    )
    order = F.col("score").asc() if metric == "l2" else F.col("score").desc()
    return per_query_topk_rank(
        scored, k, [order, F.col("neighbor_id")]
    ).select("query_id", "neighbor_id", "score", "rank")


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid (element-wise mean vector) + member count —
    the class-prototype aggregate behind nearest-centroid classification
    and per-class drift monitoring. Returns (label, n_members, centroid).

    One posexplode (linear) and one (label, pos) groupBy with map-side
    partial means; the re-assembly groupBy collects label-count x dim
    rows — tiny — so no corpus-sized second shuffle."""
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    )
    dims = ex.groupBy("label", "pos").agg(
        F.avg("x").alias("m"), F.count(F.lit(1)).alias("n")
    )
    return dims.groupBy("label").agg(
        F.max("n").alias("n_members"),
        F.array_sort(
            F.collect_list(F.struct(F.col("pos"), F.col("m")))
        ).getField("m").alias("centroid"),
    )


def nearest_centroid_confusion(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid classification self-evaluation: assign every
    vector to its highest-cosine class prototype (label_centroids) and
    cross-tabulate against the true label — the confusion matrix that
    tells you whether an embedding space separates its classes at all.
    Returns (label, predicted, n).

    The centroid table is k rows and broadcasts; assignment is a
    k-fan-out narrow join + one (vec, centroid)-cosine per pair, argmax
    via struct-max with the 6-dp-rounded score (cross-engine FP
    discipline) and the label as tiebreak. One corpus-sized groupBy."""
    from orientdb_spark.pipeline.common import cosine_similarity

    cents = label_centroids(df, label_col=label_col, vec_col=vec_col).select(
        F.col("label").alias("__clabel"), F.col("centroid")
    )
    vec = F.col(vec_col).cast("array<double>")
    scored = df.select(
        F.col(id_col), F.col(label_col).alias("label"), vec.alias("__v")
    ).crossJoin(F.broadcast(cents))
    score = F.round(cosine_similarity(F.col("__v"), F.col("centroid")), 6)
    best = (
        scored.groupBy(id_col, "label")
        .agg(
            F.max(
                F.struct(score.alias("s"), (-F.col("__clabel")).alias("nl"))
            ).alias("__w")
        )
        .select("label", (-F.col("__w.nl")).cast("int").alias("predicted"))
    )
    return best.groupBy("label", "predicted").agg(F.count(F.lit(1)).alias("n"))


def ood_audit(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q: float = 0.05,
) -> DataFrame:
    """Per-class embedding outlier audit — cosine distance to the OWN
    label's centroid with a per-label quantile cutoff: every vector
    whose centroid-cosine falls below its class's ``q``-quantile flags
    as out-of-distribution (the cheap centroid-based OOD screen run on
    labeled embedding corpora before trusting the labels — mislabeled
    or off-manifold examples sit in exactly this tail, and it is the
    per-example drill-down behind nearest_centroid_confusion's
    aggregate view). Returns (id, label, cos_to_centroid, threshold,
    is_ood).

    FP discipline: the CENTROID components are pinned to the 6-dp grid
    first (a per-dim mean over 10k+ members accumulates enough
    distributed-sum-order noise to flip a downstream cosine digit —
    measured at sf5), then the cosine rounds to the grid (nudged), the
    threshold is the exact interpolated per-label quantile OF THE
    ROUNDED scores (nudge-rounded again), and the flag compares two
    grid doubles — so the decision replays exactly in SQL.

    Scale shape: the centroid table is label-count rows and
    broadcasts; scoring is a narrow broadcast join + one cosine per
    row; the threshold is a label-keyed exact-percentile aggregate
    over the panel of rounded scores (percentile_approx is the
    documented 100 TB swap) broadcast back. One corpus scan, zero
    corpus-keyed shuffles."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    from orientdb_spark.pipeline.common import cosine_similarity

    cents = label_centroids(df, label_col=label_col, vec_col=vec_col).select(
        F.col("label"),
        F.transform(
            F.col("centroid"), lambda x: F.round(x + F.lit(1e-12), 6)
        ).alias("centroid"),
    )
    vec = df.select(
        F.col(id_col),
        F.col(label_col).alias("label"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    cos6 = F.round(
        cosine_similarity(F.col("__v"), F.col("centroid")) + F.lit(1e-12), 6
    )
    sc = vec.join(F.broadcast(cents), "label").select(
        id_col, "label", cos6.alias("cos_to_centroid")
    )
    thr = sc.groupBy("label").agg(
        F.round(
            F.percentile(F.col("cos_to_centroid"), F.lit(float(q)))
            + F.lit(1e-12),
            6,
        ).alias("threshold")
    )
    return sc.join(F.broadcast(thr), "label").select(
        id_col,
        "label",
        "cos_to_centroid",
        "threshold",
        (F.col("cos_to_centroid") < F.col("threshold")).alias("is_ood"),
    )


def prototypicality_scores(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
) -> DataFrame:
    """Per-example prototypicality for data pruning (Sorscher et al.
    2022, "Beyond neural scaling laws: beating power law scaling via
    data pruning", NeurIPS'22): cluster the embedding space and score
    each example by its cosine to its cluster's center — high = easy/
    prototypical, low = hard/atypical. The paper's pruning rule keeps
    the hard examples when data is abundant and the easy ones when it
    is scarce; ``prototype_prune`` below applies either.

    Deterministic and DuckDB-replayable end-to-end: h60-seeded centers
    (no Lloyd step — the center IS a corpus vector, so no FP-order-
    sensitive mean), the ``_assign_udf`` argmax-cosine assignment, and
    the score re-uses the assignment's own rounded cosine (+1e-12
    nudge, 6 dp). Returns (id_col, cid, proto_score); zero-norm vectors
    get cid -1 and score NULL (no cosine is definable).

    Scale: one narrow Arrow assignment pass (centers ride the task
    closure) and one broadcast join for the score — no shuffle at all
    until a consumer aggregates."""
    from orientdb_spark.pipeline.common import cosine_similarity, vec_norm

    g = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", vec_norm(F.col("__v")))
    zero = g.filter(F.col("__n") <= 0).select(
        "__id",
        F.lit(-1).cast("long").alias("cid"),
        F.lit(None).cast("double").alias("proto_score"),
    )
    nz = g.filter(F.col("__n") > 0)
    centers = seed_centers(nz.select("__id", "__v"), n_cells)
    if not centers:
        # empty or all-zero-norm corpus: no clusters exist — the
        # zero-norm branch (cid -1, NULL score) is the whole answer
        return zero.select(F.col("__id").alias(id_col), "cid", "proto_score")
    cents = _centroid_frame(df.sparkSession, enumerate(centers))
    scored = (
        nz.withColumn("cid", _assign_udf(centers)(F.col("__v")))
        .join(F.broadcast(cents), "cid")
        .select(
            "__id",
            F.col("cid").cast("long").alias("cid"),
            F.round(
                cosine_similarity(F.col("__v"), F.col("cvec")) + F.lit(1e-12), 6
            ).alias("proto_score"),
        )
    )
    return scored.unionByName(zero).select(
        F.col("__id").alias(id_col), "cid", "proto_score"
    )


def prototype_prune(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    keep_fraction: float = 0.5,
    keep: str = "hard",
) -> DataFrame:
    """Apply the Sorscher et al. pruning rule to ``prototypicality_
    scores``: per cluster, keep ``ceil(keep_fraction · |cluster|)``
    examples (computed with a 1e-9 backoff so a double product a hair
    above an integer — 25 × 0.28 — keeps the decimal-intent quota) —
    the LOWEST-score ones for ``keep="hard"`` (abundant-data regime)
    or the HIGHEST for ``keep="easy"`` (scarce-data regime), ties
    broken by id. Zero-norm vectors (cid -1, no score) are always
    kept — they carry no geometric evidence for pruning. Returns
    (id_col, cid, proto_score, prune_rank) for the kept rows. One
    window shuffle on the cluster key."""
    if keep not in ("hard", "easy"):
        raise ValueError(f"keep must be 'hard' or 'easy', got {keep!r}")
    if not 0.0 < keep_fraction <= 1.0:
        raise ValueError(f"keep_fraction must be in (0, 1], got {keep_fraction}")
    s = prototypicality_scores(df, vec_col=vec_col, id_col=id_col, n_cells=n_cells)
    order = (
        [F.col("proto_score").asc(), F.col(id_col).asc()]
        if keep == "hard"
        else [F.col("proto_score").desc(), F.col(id_col).asc()]
    )
    w = Window.partitionBy("cid").orderBy(*order)
    n = Window.partitionBy("cid")
    ranked = s.filter(F.col("cid") >= 0).select(
        id_col,
        "cid",
        "proto_score",
        F.row_number().over(w).alias("prune_rank"),
        F.count(F.lit(1)).over(n).alias("__csize"),
    )
    # the 1e-9 backoff keeps the quota at the DECIMAL intent when the
    # double product lands a hair above an integer (25 × 0.28 =
    # 7.000000000000000444 in doubles would otherwise ceil to 8 where
    # "28% of 25" means 7); real fractional products sit far from the
    # epsilon
    kept = ranked.filter(
        F.col("prune_rank")
        <= F.ceil(F.col("__csize") * F.lit(keep_fraction) - F.lit(1e-9))
    ).drop("__csize")
    zeros = s.filter(F.col("cid") < 0).withColumn(
        "prune_rank", F.lit(1).cast("int")
    )
    return kept.unionByName(zeros)


def kcenter_coreset(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """k-center greedy coreset / farthest-point sampling (Sener &
    Savarese, "Active Learning for Convolutional Neural Networks: A
    Core-Set Approach", ICLR'18): start from the vector with the
    smallest (h60(id), id) and repeatedly add the example FARTHEST (in
    cosine distance 1 − cos, rounded at 6 dp, ties to the lower id)
    from its nearest already-selected center — the classic diversity-
    maximizing subset whose k centers 2-approximate the optimal
    k-center cover. Returns (id_col, selection_rank) with rank 1..k in
    selection order.

    Deterministic and SQL-replayable: every step is an argmax over a
    rounded cosine, so a DuckDB oracle can unroll the k steps as
    chained CTEs. Scale: k bounded driver iterations, each ONE narrow
    pass updating the running min-distance column against the single
    newest center (classic FPS optimization — O(k·N) total cosines,
    not O(k²·N)) followed by a 1-row argmax collect; the running
    distance column rides a localCheckpoint so step j's lineage does
    not replay steps 1..j-1, and each step releases the previous
    checkpoint, so executor block storage stays O(N), not O(k·N).
    Farthest-point sampling is INHERENTLY sequential: the loop runs
    ~2·k Spark jobs (one fold + one argmax per step), so k beyond the
    hundreds is a real cluster-scheduler cost — k > 1000 warns loudly
    (the ANN under-recall convention) instead of silently queueing
    thousands of jobs. Zero-norm vectors are excluded (no cosine is
    definable), so when the corpus has fewer than k usable vectors the
    result carries fewer than k rows (every distinct vector selected,
    ranks 1..n)."""
    from orientdb_spark.pipeline.common import cosine_similarity, h60, vec_norm

    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    if k > 1000:
        warnings.warn(
            f"kcenter_coreset: k={k} runs ~{2 * k} sequential Spark jobs "
            "(farthest-point sampling is inherently iterative — one "
            "min-distance fold + one argmax per step). Expect scheduler-"
            "bound wall-clock; for large diverse subsets consider "
            "prototype_prune (one pass) or clustering first.",
            RuntimeWarning,
            stacklevel=2,
        )
    nz = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .withColumn("__n", vec_norm(F.col("__v")))
        .filter(F.col("__n") > 0)
    )
    first = (
        nz.withColumn("__h", h60(F.col("__id").cast("string")))
        .orderBy("__h", "__id")
        .limit(1)
        .select("__id", "__v")
        .collect()
    )
    if not first:
        raise ValueError("cannot build a coreset over an empty corpus")
    selected = [(first[0]["__id"], list(first[0]["__v"]))]
    spark = df.sparkSession
    # running min cosine-distance to the selected set; each step folds
    # in ONLY the newest center
    state = nz.select("__id", "__v", F.lit(None).cast("double").alias("__d"))
    for _ in range(1, k):
        prev = state
        cid, cvec = selected[-1]
        cv = F.array(*[F.lit(float(x)) for x in cvec])
        nd = F.round(
            F.lit(1.0) - cosine_similarity(F.col("__v"), cv) + F.lit(1e-12), 6
        )
        state = prev.select(
            "__id",
            "__v",
            F.when(F.col("__d").isNull(), nd)
            .otherwise(F.least(F.col("__d"), nd))
            .alias("__d"),
        ).localCheckpoint(eager=False)
        # r13 optimization: the already-selected ids are excluded with a
        # literal In predicate instead of a per-round createDataFrame +
        # anti-join — k is bounded (warns at 1000), so the predicate
        # stays tiny, and each round drops one py4j DataFrame build and
        # one broadcast-join stage (the rounds are driver/job-overhead
        # bound, not compute bound). NOT IN over non-null ids is
        # row-for-row the anti-join it replaces.
        far = (
            state.filter(~F.col("__id").isin([i for i, _ in selected]))
            .orderBy(F.col("__d").desc(), F.col("__id").asc())
            .limit(1)
            .collect()
        )
        # the collect materialized this step's checkpoint: the previous
        # one is dead lineage
        release(prev)
        if not far:
            break  # fewer usable vectors than k: return what exists
        selected.append((far[0]["__id"], list(far[0]["__v"])))
    release(state)
    schema = T.StructType().add(id_col, nz.schema["__id"].dataType)
    rows = [(i, r + 1) for r, (i, _) in enumerate(selected)]
    return local_frame(spark, rows, schema.add("selection_rank", T.LongType()))


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 20,
    lam: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): per query, greedily pick the candidate maximizing
    ``lam·relevance − (1−lam)·max-similarity-to-already-picked`` — the
    serving-side re-rank that keeps a RAG context window from filling
    with k near-copies of the same passage.

    Two stages. (1) Candidate generation: exact cosine top-``m`` per
    query (swap in ivf/lsh/imi_topk upstream at scale — anything that
    yields (query_id, neighbor_id, rel) works, the re-rank only needs
    the m·d candidate vectors). (2) Greedy selection: candidate↔
    candidate similarities are one Q·m² self-join, and the k greedy
    picks run per query inside ONE cogrouped Arrow pass (each group is
    ≤ m candidate rows + m² pair rows — panel-sized by construction),
    replacing the former k unrolled DataFrame steps (k eager
    checkpoints, a pairs⋈selected aggregation per step) with a single
    job. Nothing is ever corpus-quadratic: the corpus is touched once
    by stage 1; every stage-2 frame is bounded by Q·m² rows
    regardless of N.

    Determinism discipline (cross-engine, same as the ANN oracles):
    relevance and pair similarities are the sequential-fold cosine
    rounded to 6 dp — both computed and rounded in the JVM exactly as
    before. The greedy score is round(lam·rel − (1−lam)·maxsim +
    1e-12, 6) — the nudge because lam=0.5 times a 6-dp value lands
    EXACTLY on the .5e-6 midpoint where Spark's shortest-decimal
    HALF_UP and a binary-double round disagree (the pq_adc_score
    precedent, quantize.py) — and every argmax tiebreaks on
    neighbor_id, so a DuckDB replay of the unrolled steps is
    bit-identical. The score is the ONLY rounding replayed Python-side
    (Decimal(repr(x)) HALF_UP): the nudge keeps every rounded value
    ≥ ~1e-12 from any midpoint, far outside the sub-ulp window where
    shortest-decimal renderers (JDK Double.toString vs Python repr)
    could disagree. Running max == per-step aggregate max: the fold of
    F.max semantics (NULL ignored, NaN greatest) over identical 6-dp
    doubles is associative, and the Arrow cogroup path preserves the
    SQL NULL vs NaN distinction in both directions.

    Returns (query_id, neighbor_id, relevance, mmr_score, mmr_rank),
    mmr_rank 1..k per query (fewer if the corpus has < k candidates).

    Corpus ``id_col`` values must be unique: the greedy pass keys pair
    similarities by (id, id), so a corpus carrying duplicate ids would
    collapse duplicate pairs to one row (the pre-cogroup unrolled
    greedy instead dropped every row of a picked id via left_anti).
    Stage 1's per-query rank makes duplicate (query_id, neighbor_id)
    candidate rows impossible only when ids are unique upstream.

    The returned frame reads the stage-1 candidate table through one
    lazy localCheckpoint (the bitext precedent): at most the first
    consuming job can still recompute the corpus scan on concurrent
    branches; every later read hits the checkpointed blocks.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k > m:
        raise ValueError(f"k ({k}) must be <= candidate pool m ({m})")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", vec_norm(F.col("__qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", vec_norm(F.col("__cv")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "__c",
            cosine_similarity(
                F.col("__qv"), F.col("__cv"),
                norm_a=F.col("__qn"), norm_b=F.col("__cn"),
            ),
        )
    )
    # rank on the UNROUNDED cosine (brute_force_topk convention); carry
    # the candidate vector through so pair sims don't re-scan the corpus
    cands = (
        per_query_topk_rank(scored, m, [F.col("__c").desc(), F.col("neighbor_id")])
        .select(
            "query_id",
            "neighbor_id",
            F.round("__c", 6).alias("relevance"),
            F.col("__cv"),
            F.col("__cn"),
            "rank",
        )
        # Q·m rows; the pair self-join reads this twice and the greedy
        # cogroup once — one LAZY checkpoint (the bitext precedent): at
        # most the first consuming job recomputes the corpus scan on its
        # concurrent a/b branches; all later reads hit the checkpoint
        .localCheckpoint(eager=False)
    )
    a = cands.select(
        "query_id",
        F.col("neighbor_id").alias("__ia"),
        F.col("__cv").alias("__va"),
        F.col("__cn").alias("__na"),
    )
    b = cands.select(
        "query_id",
        F.col("neighbor_id").alias("__ib"),
        F.col("__cv").alias("__vb"),
        F.col("__cn").alias("__nb"),
    )
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("__ia") != F.col("__ib"))
        .select(
            # fresh exprId: the greedy cogroup sees this frame NEXT TO
            # `slim` (both descend from `cands`), and two sides exposing
            # the same query_id attribute trip the ambiguous-self-join
            # analyzer check
            F.col("query_id").alias("__qid"),
            "__ia",
            "__ib",
            F.round(
                cosine_similarity(
                    F.col("__va"), F.col("__vb"),
                    norm_a=F.col("__na"), norm_b=F.col("__nb"),
                ),
                6,
            ).alias("__s"),
        )
    )
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    fields = {f.name: f.dataType for f in cands.schema.fields}
    out_schema = StructType(
        [
            StructField("query_id", fields["query_id"]),
            StructField("neighbor_id", fields["neighbor_id"]),
            StructField("relevance", DoubleType()),
            StructField("mmr_score", DoubleType()),
            StructField("mmr_rank", IntegerType()),
        ]
    )
    lam_f, inv_f, k_f = float(lam), 1.0 - float(lam), int(k)

    def _greedy(left, right):
        # one query's panel: left = its ≤ m candidates, right = its
        # pair sims. pyarrow keeps SQL NULL (-> None) and NaN distinct
        # in BOTH directions — the reason this is applyInArrow, not
        # applyInPandas (pandas collapses them into NaN).
        import math as _math
        from decimal import ROUND_HALF_UP, Decimal

        import pyarrow as _pa

        id_t = left.schema.field("neighbor_id").type
        qid_t = left.schema.field("query_id").type
        out_pa = _pa.schema(
            [
                ("query_id", qid_t),
                ("neighbor_id", id_t),
                ("relevance", _pa.float64()),
                ("mmr_score", _pa.float64()),
                ("mmr_rank", _pa.int32()),
            ]
        )
        if left.num_rows == 0:
            return _pa.table(
                {f.name: _pa.array([], type=f.type) for f in out_pa}
            )

        def _round6(x):
            # Spark round(_, 6): HALF_UP over the shortest-decimal
            # rendering; NaN/Inf pass through (Round's own behavior).
            # Only +1e-12-NUDGED values are rounded here, so nothing
            # sits within sub-ulp reach of a .5e-6 midpoint where
            # Double.toString and repr could render across it.
            if _math.isnan(x) or _math.isinf(x):
                return x
            # + 0.0 normalizes IEEE -0.0 to +0.0: JVM BigDecimal has no
            # negative zero, so a tiny negative score that rounds to
            # zero must render "0.0", not "-0.0" (Decimal keeps the
            # sign; a rendered-hash oracle would otherwise diverge).
            return (
                float(
                    Decimal(repr(x)).quantize(
                        Decimal("0.000001"), rounding=ROUND_HALF_UP
                    )
                )
                + 0.0
            )

        def _max_sql(a_v, b_v):
            # F.max fold semantics: NULL ignored, NaN > any double
            if b_v is None:
                return a_v
            if a_v is None:
                return b_v
            if a_v != a_v or b_v != b_v:
                return float("nan")
            return a_v if a_v >= b_v else b_v

        def _pick_key(score, nid):
            # ORDER BY mmr_score DESC NULLS LAST, neighbor_id ASC,
            # NaN greatest among non-null doubles (Spark ordering)
            if score is None:
                return (1, 0.0, nid)
            if score != score:
                return (0, float("-inf"), nid)
            return (0, -score, nid)

        ranks = left.column("rank").to_pylist()
        order = sorted(range(left.num_rows), key=ranks.__getitem__)
        nids = left.column("neighbor_id").to_pylist()
        rels = left.column("relevance").to_pylist()
        nids = [nids[i] for i in order]
        rels = [rels[i] for i in order]
        sims: dict = {}
        for ia, ib, s_v in zip(
            right.column("__ia").to_pylist(),
            right.column("__ib").to_pylist(),
            right.column("__s").to_pylist(),
        ):
            sims[(ia, ib)] = s_v
        qid = left.column("query_id").to_pylist()[0]
        # pick 1 is stage 1's rank-1 row (argmax of the UNROUNDED
        # cosine); its score has no maxsim leg
        out_nid = [nids[0]]
        out_rel = [rels[0]]
        out_score = [
            None if rels[0] is None else _round6(lam_f * rels[0] + 1e-12)
        ]
        remaining = list(range(1, len(nids)))
        maxsim = {i: sims.get((nids[i], nids[0])) for i in remaining}
        for _t in range(2, k_f + 1):
            if not remaining:
                break
            best, best_key = None, None
            scores = {}
            for i in remaining:
                ms = maxsim[i]
                if rels[i] is None or ms is None:
                    s_i = None
                else:
                    s_i = _round6(lam_f * rels[i] - inv_f * ms + 1e-12)
                scores[i] = s_i
                key = _pick_key(s_i, nids[i])
                if best_key is None or key < best_key:
                    best, best_key = i, key
            out_nid.append(nids[best])
            out_rel.append(rels[best])
            out_score.append(scores[best])
            remaining.remove(best)
            for i in remaining:
                maxsim[i] = _max_sql(maxsim[i], sims.get((nids[i], nids[best])))
        n_out = len(out_nid)
        return _pa.table(
            {
                "query_id": _pa.array([qid] * n_out, type=qid_t),
                "neighbor_id": _pa.array(out_nid, type=id_t),
                "relevance": _pa.array(out_rel, type=_pa.float64()),
                "mmr_score": _pa.array(out_score, type=_pa.float64()),
                "mmr_rank": _pa.array(
                    list(range(1, n_out + 1)), type=_pa.int32()
                ),
            }
        )

    slim = cands.select("query_id", "neighbor_id", "relevance", "rank")
    return (
        slim.groupBy("query_id")
        .cogroup(pairs.groupBy("__qid"))
        .applyInArrow(_greedy, out_schema)
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    embs: DataFrame,
    query_terms: list,
    query_vec: DataFrame,
    k: int = 10,
    m: int = 50,
    kappa: int = 60,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Hybrid lexical+vector retrieval fused with reciprocal-rank
    fusion (Cormack et al. 2009) — the standard RAG serving shape:
    a keyword index and an embedding index each return their top-m,
    and RRF merges the two rank lists without score calibration:
    ``rrf = Σ 1/(kappa + rank)`` over the lists the doc appears in.

    Lexical side: per-doc tf·ln(N/df) summed over the query terms
    (the tfidf_top_terms scoring), with the term IN (...) filter
    applied DIRECTLY on the exploded token stream — the posting-list
    shape: everything downstream of the corpus scan is bounded by
    docs-containing-a-query-term. Vector side: exact cosine top-m
    (brute_force_topk's scan; swap in ivf/lsh/imi_topk at scale).
    Fusion: a full-outer join of two ≤m-row frames.

    Determinism: both rank lists order on the engines' bit-identical
    doubles (rounded tf-idf / raw sequential-fold cosine) with id
    tiebreaks; rrf is rational arithmetic on INTEGER ranks — exact in
    both engines — nudge-rounded to 6 dp for display only. Returns
    (doc_id, lex_rank, vec_rank, rrf_score, fused_rank) with NULL
    lex/vec rank when only one retriever found the doc.
    """
    from orientdb_spark.pipeline.common import ws_tokens

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # single-query contract: a multi-row query_vec would interleave
    # every query's cosines into ONE rank list — garbage fused silently.
    # The check is one tiny job (limit-2 count), cheap at any scale.
    n_q = query_vec.limit(2).count()
    if n_q != 1:
        raise ValueError(f"query_vec must contain exactly one row, got {n_q}+")
    toks = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("term"),
    ).filter(F.col("term").isin([t.lower() for t in query_terms]))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    lex_scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("tf") * F.log(F.col("__n") / F.col("df"))), 6
            ).alias("__lex")
        )
    )
    # top-m FIRST via orderBy().limit() => TakeOrderedAndProject
    # (per-task heaps) — the rank window then runs over <= m rows, never
    # over every doc matching a query term
    lex_top = lex_scored.orderBy(F.col("__lex").desc(), F.col("doc_id")).limit(m)
    w_lex = Window.orderBy(F.col("__lex").desc(), F.col("doc_id"))
    lex = lex_top.select(
        "doc_id", F.row_number().over(w_lex).alias("lex_rank")
    )
    q = query_vec.select(
        F.col(vec_id_col).alias("__qid"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", vec_norm(F.col("__qv")))
    c = embs.select(
        F.col(vec_id_col).alias("doc_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", vec_norm(F.col("__cv")))
    vec_scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("doc_id") != F.col("__qid"))
        .withColumn(
            "__c",
            cosine_similarity(
                F.col("__qv"), F.col("__cv"),
                norm_a=F.col("__qn"), norm_b=F.col("__cn"),
            ),
        )
    )
    vec_top = vec_scored.orderBy(F.col("__c").desc(), F.col("doc_id")).limit(m)
    w_vec = Window.orderBy(F.col("__c").desc(), F.col("doc_id"))
    vec = vec_top.select(
        "doc_id", F.row_number().over(w_vec).alias("vec_rank")
    )
    kap = F.lit(float(kappa))
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .withColumn(
            "rrf_score_raw",
            F.coalesce(F.lit(1.0) / (kap + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (kap + F.col("vec_rank")), F.lit(0.0)),
        )
    )
    return (
        fused.orderBy(F.col("rrf_score_raw").desc(), F.col("doc_id"))
        .limit(k)  # global top-k => TakeOrderedAndProject, never one fat partition
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round(F.col("rrf_score_raw") + F.lit(1e-12), 6).alias("rrf_score"),
            F.row_number()
            .over(Window.orderBy(F.col("rrf_score_raw").desc(), F.col("doc_id")))
            .alias("fused_rank"),
        )
    )


def _exact_pair_scores_dgemm(s: DataFrame, t: DataFrame) -> DataFrame:
    """bitext_mine's exact stage 1 as one Arrow/dgemm pass: collect the
    (query-sized, zero-norm-filtered) src side as a float64 matrix, ship
    it to every task, and have each tgt batch emit the full
    (src_id, tgt_id, c) block — c on the 6-dp +1e-12 HALF_UP grid.

    FP parity with the Column fold it replaces (the r11 decontaminate
    dgemm convention): BLAS values sit within ~1e-13 of the sequential
    fold, so the rounded grid value can only differ within ~1e-9 of a
    0.5e-6 midpoint — those pairs are recomputed with the exact
    dimension-major fold (bit-identical to aggregate(zip_with(...))).
    Pairs whose dimensions mismatch the src matrix go through a
    zip_with-faithful per-pair path (unequal lengths -> NULL cosine,
    exactly what the null-padded JVM fold yields). The JVM-computed
    norms (__sn/__tn) ride along so no norm is ever re-derived."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = s.sparkSession
    # Size-gate the driver collect (r13 verdict item: the dgemm rewrite
    # moved the src side from an executor broadcast to driver heap with
    # no guard). limit(N+1) bounds what the driver can ever hold; at
    # the default 100k rows x d=64 doubles the matrix is ~50 MB — the
    # same fits-in-memory class the broadcast(s) relation had. The
    # exact path is the oracle-parity contract; past the gate the
    # caller should be on method="ivf", the scale path.
    raw = os.environ.get("SPARK_GRAFT_BITEXT_EXACT_MAX_SRC", "100000")
    try:
        max_src = int(raw)
    except ValueError:
        max_src = 0
    if max_src < 1:
        raise ValueError(
            "SPARK_GRAFT_BITEXT_EXACT_MAX_SRC must be a positive integer "
            f"(the src rows the exact path may collect), got {raw!r}"
        )
    s_rows = s.select("src_id", "__sv", "__sn").limit(max_src + 1).collect()
    if len(s_rows) > max_src:
        raise ValueError(
            f"bitext exact path: src side exceeds {max_src} rows; the "
            "exact method collects src to the driver and is meant for "
            "query-sized src sides — use method='ivf' (the scale path) "
            "or raise SPARK_GRAFT_BITEXT_EXACT_MAX_SRC if the driver "
            "really has the memory"
        )
    src_ids = [r["src_id"] for r in s_rows]
    s_vecs = [np.asarray(r["__sv"], dtype=np.float64) for r in s_rows]
    Sn = np.asarray([r["__sn"] for r in s_rows], dtype=np.float64)
    dims = {v.shape[0] for v in s_vecs}
    uniform_d = dims.pop() if len(dims) == 1 else None
    Sv = np.stack(s_vecs) if (uniform_d is not None and s_vecs) else None
    bc = spark.sparkContext.broadcast((src_ids, s_vecs, Sv, Sn, uniform_d))
    out_schema = StructType(
        [
            StructField("src_id", s.schema["src_id"].dataType),
            StructField("tgt_id", t.schema["tgt_id"].dataType),
            StructField("c", DoubleType()),
        ]
    )

    def _fold_cos(a: "np.ndarray", b: "np.ndarray", na: float, nb: float):
        if a.shape != b.shape:
            return None  # zip_with pads the shorter with nulls -> NULL
        acc = 0.0
        for dd in range(a.shape[0]):
            acc = acc + a[dd] * b[dd]
        return acc / (na * nb)

    def _grid(v):
        # round(x + 1e-12, 6) HALF_UP — replayed here only for the
        # midpoint-distance test; the authoritative rounding stays a
        # JVM expression on the returned raw double
        return v + 1e-12

    def score(batches):
        src_ids, s_vecs, Sv, Sn, uniform_d = bc.value
        ns = len(src_ids)
        if ns == 0:
            return
        sid_pa = pa.array(src_ids)
        CHUNK = max(1, 2_000_000 // ns)
        for batch in batches:
            nt = batch.num_rows
            if nt == 0:
                continue
            tid_col = batch.column(0)
            tv_col = batch.column(1)
            tn = np.asarray(batch.column(2).to_numpy(zero_copy_only=False))
            offs = tv_col.offsets.to_numpy().astype(np.int64)
            lens = np.diff(offs)
            flat = tv_col.values.to_numpy(zero_copy_only=False)
            t_uniform = (
                uniform_d is not None and np.all(lens == uniform_d)
            )
            for c0 in range(0, nt, CHUNK):
                c1 = min(nt, c0 + CHUNK)
                n_c = c1 - c0
                if t_uniform and uniform_d > 0:
                    Tc = flat[offs[c0]:offs[c1]].reshape(n_c, uniform_d)
                    dots = Tc @ Sv.T  # (n_c, ns)
                    denom = Sn[None, :] * tn[c0:c1, None]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        c = dots / denom
                    y = _grid(c) * 1e6
                    sus = np.argwhere(np.abs(y - (np.floor(y) + 0.5)) < 1e-3)
                    vals = c.ravel()
                    nulls = None
                    for (ti, si) in sus:
                        r = _fold_cos(
                            s_vecs[si], Tc[ti], Sn[si], tn[c0 + ti]
                        )
                        vals[ti * ns + si] = r if r is not None else np.nan
                    c_arr = pa.array(vals)
                else:  # ragged rows: per-pair zip_with-faithful folds
                    out = []
                    for ti in range(c0, c1):
                        b_vec = np.asarray(
                            flat[offs[ti]:offs[ti + 1]], dtype=np.float64
                        )
                        for si in range(ns):
                            out.append(
                                _fold_cos(s_vecs[si], b_vec, Sn[si], tn[ti])
                            )
                    c_arr = pa.array(out, type=pa.float64())
                src_idx = pa.array(np.tile(np.arange(ns), n_c))
                tgt_idx = pa.array(np.repeat(np.arange(c0, c1), ns))
                yield pa.RecordBatch.from_arrays(
                    [sid_pa.take(src_idx), tid_col.take(tgt_idx), c_arr],
                    names=["src_id", "tgt_id", "c"],
                )

    raw = t.select("tgt_id", "__tv", "__tn").mapInArrow(score, out_schema)
    return raw.select(
        "src_id", "tgt_id", F.round(F.col("c") + F.lit(1e-12), 6).alias("c")
    )


def bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "exact",
    candidates: DataFrame | None = None,
    k_candidates: int | None = None,
    n_cells: int | None = None,
    nprobe: int | None = None,
    refine_iters: int = 1,
    target_recall: float = 0.6,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix recipe): mine translation pairs from two monolingual
    embedding sets by RATIO margin — ``margin(x, y) = cos(x, y) /
    (avg-cos-of-x's-k-NN/2 + avg-cos-of-y's-k-NN/2)`` — which
    normalizes away hubness (a vector globally similar to everything
    scores no pair highly), then keep pairs that are MUTUAL margin
    argmaxes on both sides and clear ``threshold``. This is how
    parallel training corpora are mined from web-scale monolingual
    crawls.

    Stages: (1) pair scoring — one chunked-dgemm Arrow pass of the
    collected src matrix over the tgt partitions (midpoint-guarded so
    the 6-dp grid cosine is bit-identical to the sequential fold; see
    _exact_pair_scores_dgemm), materialized once behind a lazy
    localCheckpoint (id tiebreaks make k-NN membership deterministic
    across engines); (2) per-side k-NN sums — two
    windowed top-k (rank filter directly above the window, so
    InferWindowGroupLimit pre-prunes map-side) reduced to one row per
    vector; (3) margin — the tiny per-side sum tables broadcast back
    onto the scored pairs, margin = round(2k·c / (ssum + tsum) + 1e-12,
    6) (the nudge: a ratio of grid doubles can land exactly on a .5e-6
    midpoint — the mmr_topk precedent); (4) mutual filter — forward and
    backward row_number over the SAME margin frame, keep fwd = bwd = 1.

    Scale shape — stage 1 is pluggable, stages 2-4 are identical on
    every path (the margin arithmetic only needs per-side candidate
    lists):

    - ``method="exact"`` (default, the oracle-parity path): every
      (src, tgt) pair scored — still the exact quadratic contract, but
      executed as ONE dgemm Arrow pass over the corpus side with the
      collected src matrix shipped per task (src must be query-sized —
      the same fits-in-memory constraint the former broadcast
      crossJoin had) instead of three broadcast corpus scans. At
      100 TB the pair count is still |src|x|tgt|; use it only when one
      side is query-sized. Size gate: past
      ``SPARK_GRAFT_BITEXT_EXACT_MAX_SRC`` src rows (a positive
      integer, default 100000) the exact path raises ValueError after
      collecting at most one row more than the gate.
    - ``method="ivf"`` (the scale path, the CCMatrix recipe): two
      ``ivf_topk`` sweeps (src→tgt and tgt→src corpora, ``k_candidates``
      ≥ k neighbors each, default 2k) generate the candidate pair list
      in O(N·k') through the cell-probed index — no corpus×corpus join
      anywhere in the plan (pinned in tests; the only nested-loop joins
      are the two n_cells-row centroid probes). Same-id pairs the
      retriever's self-filter drops are restored by one equi-join, so
      overlapping id spaces lose nothing. ``n_cells``/``nprobe``/
      ``refine_iters``/``target_recall`` pass through to ``ivf_topk``;
      full-probe settings (nprobe = n_cells, k_candidates ≥ |corpus|)
      reproduce the exact path bit-for-bit (equivalence-gated in
      tests/test_bitext_mine.py).
    - ``candidates=`` (injection point): any DataFrame of
      (src_id, tgt_id) pairs — plug in imi_topk / lsh_topk / a
      prebuilt-index retriever; cosines are (re)computed here on the
      same 6-dp grid, so stages 2-4 stay oracle-convention regardless
      of what generated the pairs.

    On candidate paths the per-side k-NN sums are taken over the
    candidate lists (exactly the Artetxe & Schwenk approximation), so
    mined pairs can differ from exact where recall misses a true
    neighbor — k_candidates > k buys margin-sum headroom, target_recall
    sets the warn floor. Zero-norm vectors are dropped on entry (cosine
    undefined).

    Returns (src_id, tgt_id, cosine, margin), one row per mined pair.
    """
    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    if method not in ("exact", "ivf"):
        raise ValueError(f"method must be 'exact' or 'ivf', got {method!r}")
    s = (
        src.select(
            F.col(id_col).alias("src_id"),
            F.col(vec_col).cast("array<double>").alias("__sv"),
        )
        .withColumn("__sn", vec_norm(F.col("__sv")))
        .filter(F.col("__sn") > 0)
    )
    t = (
        tgt.select(
            F.col(id_col).alias("tgt_id"),
            F.col(vec_col).cast("array<double>").alias("__tv"),
        )
        .withColumn("__tn", vec_norm(F.col("__tv")))
        .filter(F.col("__tn") > 0)
    )
    grid_cos = F.round(
        cosine_similarity(
            F.col("__sv"), F.col("__tv"),
            norm_a=F.col("__sn"), norm_b=F.col("__tn"),
        )
        + F.lit(1e-12),
        6,
    ).alias("c")
    if candidates is None and method == "ivf":
        kc = k_candidates if k_candidates is not None else 2 * k
        if kc < k:
            raise ValueError(f"need k_candidates >= k, got {kc} < {k}")
        s_corp = s.select(F.col("src_id").alias("__id"), F.col("__sv").alias("__vec"))
        t_corp = t.select(F.col("tgt_id").alias("__id"), F.col("__tv").alias("__vec"))
        # r13 optimization: when n_cells is scale-derived, both sides'
        # corpus counts ride ONE job (a tagged union-count) instead of
        # one count job per IvfIndex.build — the derived values are
        # identical (derive_ivf_params over the same counts; topk's
        # nprobe derivation reads only n_cells), so the candidate set
        # and output cannot change. One scheduling wave instead of two
        # at any scale (guide §1.2).
        n_cells_fwd = n_cells_bwd = n_cells
        if n_cells is None:
            sizes = {
                r["__side"]: r["n"]
                for r in (
                    s_corp.select(F.lit("s").alias("__side"))
                    .unionByName(t_corp.select(F.lit("t").alias("__side")))
                    .groupBy("__side")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                )
            }
            n_cells_fwd, _ = derive_ivf_params(
                max(1, sizes.get("t", 0)), target_recall
            )
            n_cells_bwd, _ = derive_ivf_params(
                max(1, sizes.get("s", 0)), target_recall
            )
        fwd = ivf_topk(
            t_corp, s_corp, k=kc, n_cells=n_cells_fwd, nprobe=nprobe,
            vec_col="__vec", id_col="__id", refine_iters=refine_iters,
            target_recall=target_recall,
        )
        bwd = ivf_topk(
            s_corp, t_corp, k=kc, n_cells=n_cells_bwd, nprobe=nprobe,
            vec_col="__vec", id_col="__id", refine_iters=refine_iters,
            target_recall=target_recall,
        )
        candidates = (
            fwd.select(
                F.col("query_id").alias("src_id"),
                F.col("neighbor_id").alias("tgt_id"),
            )
            .unionByName(
                bwd.select(
                    F.col("neighbor_id").alias("src_id"),
                    F.col("query_id").alias("tgt_id"),
                )
            )
            # the retriever's query_id != neighbor_id self-filter drops
            # same-id pairs, which ARE legitimate bitext candidates when
            # the two sides share an id space — restore them with one
            # O(N) equi-join
            .unionByName(
                s.select("src_id").join(
                    t.select("tgt_id"),
                    F.col("src_id") == F.col("tgt_id"),
                )
            )
        )
    if candidates is not None:
        # stages 2-4 reference the scored pair list THREE times (both
        # k-NN sums + the margin base); without a cut the whole
        # candidate generation (two index builds + probes) replays per
        # reference — a lazy localCheckpoint materializes the slim
        # O(N·k') (src, tgt, c) table once instead (the lm_score
        # multi-branch precedent).
        pairs = (
            candidates.select("src_id", "tgt_id")
            .dropDuplicates(["src_id", "tgt_id"])
            .join(s, "src_id")
            .join(t, "tgt_id")
            .select("src_id", "tgt_id", grid_cos)
            .localCheckpoint(eager=False)
        )
    else:
        # exact stage 1 as one chunked-dgemm Arrow pass (guide §4.2; the
        # r11 embedding_decontaminate precedent): the query-sized src
        # side is collected once (it already had to fit in executor
        # memory as a broadcast relation — same constraint, now held as
        # an n_src x d float64 matrix) and every tgt partition scores
        # its rows against it in BLAS, with rows within 1e-9 of a
        # 0.5e-6 HALF_UP midpoint recomputed by the sequential fold so
        # the 6-dp grid value is bit-identical to the Column fold this
        # replaces. The slim (src_id, tgt_id, c) output is cut behind
        # the SAME lazy localCheckpoint as the candidates path: the
        # former streaming form re-ran the whole quadratic scoring
        # pass once per margin stage (three BroadcastNestedLoopJoin
        # scans — measured the dominant cost of the operator), where
        # one materialized slim pair table is written once and read
        # three times.
        pairs = _exact_pair_scores_dgemm(s, t).localCheckpoint(eager=False)
    w_s = Window.partitionBy("src_id").orderBy(F.col("c").desc(), F.col("tgt_id"))
    w_t = Window.partitionBy("tgt_id").orderBy(F.col("c").desc(), F.col("src_id"))
    nn_s = (
        pairs.withColumn("__r", F.row_number().over(w_s))
        .filter(F.col("__r") <= k)
        .groupBy("src_id")
        .agg(F.sum("c").alias("__ss"))
    )
    nn_t = (
        pairs.withColumn("__r", F.row_number().over(w_t))
        .filter(F.col("__r") <= k)
        .groupBy("tgt_id")
        .agg(F.sum("c").alias("__ts"))
    )
    m = (
        pairs.join(F.broadcast(nn_s), "src_id")
        .join(F.broadcast(nn_t), "tgt_id")
        .withColumn(
            "margin",
            F.round(
                F.lit(2.0 * k) * F.col("c") / (F.col("__ss") + F.col("__ts"))
                + F.lit(1e-12),
                6,
            ),
        )
    )
    w_f = Window.partitionBy("src_id").orderBy(F.col("margin").desc(), F.col("tgt_id"))
    w_b = Window.partitionBy("tgt_id").orderBy(F.col("margin").desc(), F.col("src_id"))
    return (
        m.withColumn("__fwd", F.row_number().over(w_f))
        .withColumn("__bwd", F.row_number().over(w_b))
        .filter(
            (F.col("__fwd") == 1)
            & (F.col("__bwd") == 1)
            & (F.col("margin") >= F.lit(float(threshold)))
        )
        .select("src_id", "tgt_id", F.col("c").alias("cosine"), "margin")
    )


def hard_negatives(
    df: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "exact",
    k_candidates: int | None = None,
    n_cells: int | None = None,
    nprobe: int | None = None,
    refine_iters: int = 1,
    target_recall: float = 0.6,
) -> DataFrame:
    """Hard-negative mining for contrastive retriever training (the
    DPR recipe — Karpukhin et al. 2020; also E5/GTR dataset builds):
    for each query, the ``k`` highest-cosine corpus documents that are
    NOT its labeled positives — the negatives that actually move a
    dual-encoder, because random negatives are trivially separable.

    ``positives`` is a (query_id, pos_id) pair table (one row per
    labeled relevant doc; multi-positive queries fine). Output
    (query_id, neighbor_id, cosine, rank) — the brute_force_topk
    contract — with positives and self-matches excluded BEFORE the
    rank, so every query gets k true negatives when the corpus has
    them (a post-rank filter would silently return < k whenever a
    positive lands in the top-k, which it does by construction on a
    trained encoder).

    Scale shape: ``method="exact"`` scores broadcast(queries) × corpus
    — one corpus scan, right when queries are batch-sized (the
    sim_topk_bruteforce contract). ``method="ivf"`` generates
    ``k_candidates`` (default k + 10, > k headroom because positives
    are removed AFTER candidate generation) through the cell-probed
    IVF index in O(N·k'/n_cells) — no corpus cross join; the anti-join
    and re-rank run on candidate lists only. Positives are
    query-table-sized, so their anti-join side broadcasts.
    """
    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    if method not in ("exact", "ivf"):
        raise ValueError(f"method must be 'exact' or 'ivf', got {method!r}")
    pos = F.broadcast(
        positives.select(
            F.col("query_id"), F.col("pos_id").alias("neighbor_id")
        ).dropDuplicates()
    )
    if method == "ivf":
        kc = k_candidates if k_candidates is not None else k + 10
        if kc < k:
            raise ValueError(f"need k_candidates >= k, got {kc} < {k}")
        cand = ivf_topk(
            df, queries, k=kc, n_cells=n_cells, nprobe=nprobe,
            vec_col=vec_col, id_col=id_col, refine_iters=refine_iters,
            target_recall=target_recall,
        ).drop("rank")
        scored = cand.join(pos, ["query_id", "neighbor_id"], "left_anti")
        return per_query_topk_rank(
            scored, k, [F.col("cosine").desc(), F.col("neighbor_id")]
        ).select("query_id", "neighbor_id", "cosine", "rank")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", vec_norm(F.col("__qv")))
    c = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", vec_norm(F.col("__cv")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(pos, ["query_id", "neighbor_id"], "left_anti")
        .withColumn(
            "cosine",
            cosine_similarity(
                F.col("__qv"), F.col("__cv"),
                norm_a=F.col("__qn"), norm_b=F.col("__cn"),
            ),
        )
    )
    return per_query_topk_rank(
        scored, k, [F.col("cosine").desc(), F.col("neighbor_id")]
    ).select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")


def ann_recall_report(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    approx: DataFrame | None = None,
    n_cells: int | None = None,
    nprobe: int | None = None,
    refine_iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_recall: float = 0.6,
) -> DataFrame:
    """Recall@k evaluation of an approximate neighbor result against
    exact brute-force ground truth — the tuning harness every ANN
    deployment runs before trusting an index (the recall/latency
    trade-off curves in the FAISS and ScaNN papers are sweeps of
    exactly this measurement).

    ``approx`` is any (query_id, neighbor_id, ...) result — ivf_topk,
    lsh_topk, imi_topk, ivfpq_topk, or an external index's output.
    When None, an IVF result is built with the given
    ``n_cells``/``nprobe``/``refine_iters`` (the engine's default scale
    path). Returns one row per query: ``n_exact`` (ground-truth size,
    min(k, N-1) on small corpora), ``n_hits`` (ground-truth neighbors
    the approximate result found), and ``recall`` = n_hits / n_exact
    nudge-rounded to 6 dp. Macro-average recall is the mean of the
    recall column; per-query rows are returned because the TAIL is
    what an operator tunes against (a 0.95 mean with a zero-recall
    query cluster means a misrouted cell, not a good index).

    Scale shape: ground truth is the price of measurement — ONE
    broadcast pass of the query panel over the corpus (O(nq x N) dot
    products through per_query_topk_rank's WindowGroupLimit prune), so
    recall is evaluated on a SAMPLED query panel (nq in the hundreds),
    never the full query log; the approximate side is whatever the
    index costs. The hit join and per-query counts run on nq x k rows
    — driver-trivial. At 100 TB the exact pass is the only corpus-wide
    stage and is embarrassingly parallel with no shuffle (broadcast
    queries, map-side top-k heaps).

    With ``refine_iters=0`` the IVF side keeps h60 seed centroids and
    the whole report — ground truth, probe routing, hits — replays
    exactly in the SQL oracle (the sim_topk_ivf convention)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    exact = brute_force_topk(df, queries, k=k, vec_col=vec_col, id_col=id_col)
    if approx is None:
        approx = ivf_topk(
            df, queries, k=k, n_cells=n_cells, nprobe=nprobe,
            vec_col=vec_col, id_col=id_col, refine_iters=refine_iters,
            target_recall=target_recall,
        )
    ex = exact.select("query_id", "neighbor_id")
    ap = approx.select("query_id", "neighbor_id")
    hits = ex.join(ap, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    base = ex.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.col("n_exact").cast("double")
                + F.lit(1e-12),
                6,
            ).alias("recall"),
        )
    )


def matryoshka_recall(
    df: DataFrame,
    queries: DataFrame,
    dims: list[int],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Truncated-dimension retrieval evaluation for Matryoshka-style
    embeddings (Kusupati et al. 2022, "Matryoshka Representation
    Learning"): recall@k of cosine retrieval over each PREFIX of the
    embedding against full-dimension ground truth — the measurement
    behind "serve at 256 of 1536 dims": an MRL-trained model holds
    recall at small prefixes, an ordinary model decays fast, and this
    table is how you find the knee before cutting index cost 4-8x.

    For each ``d`` in ``dims``, vectors are truncated to their first
    ``d`` components (cosine re-normalizes implicitly — brute_force_topk
    computes norms on the truncated vectors) and the truncated top-k is
    scored against the full-dimension exact top-k. Returns one row per
    (dim, query) — ``n_exact``, ``n_hits``, ``recall`` (6-dp) — because
    the per-query TAIL at each dim, not the mean, is what picks the
    serving dimension.

    Scale shape: ground truth is computed ONCE; each dim adds one
    broadcast query-panel pass over the corpus with d-length vectors
    (cheaper than full-dim in proportion), all through the map-side
    WindowGroupLimit top-k — evaluation runs on a SAMPLED query panel,
    so total cost is len(dims)+1 corpus passes of panel size, no
    shuffle of the corpus itself. Fully deterministic: prefix-slicing
    is exact, so the whole table replays in SQL."""
    if not dims:
        raise ValueError("dims must be non-empty")
    if any(d <= 0 for d in dims):
        raise ValueError(f"dims must be positive, got {dims}")
    exact = brute_force_topk(df, queries, k=k, vec_col=vec_col, id_col=id_col)
    ex = exact.select("query_id", "neighbor_id").localCheckpoint(eager=False)
    base = ex.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    out = None
    for d in dims:
        trunc = df.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        tq = queries.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        ap = brute_force_topk(trunc, tq, k=k, vec_col=vec_col, id_col=id_col)
        hits = (
            ex.join(ap.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        scored = base.join(hits, "query_id", "left").select(
            F.lit(d).cast("int").alias("dim"),
            "query_id",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.col("n_exact").cast("double")
                + F.lit(1e-12),
                6,
            ).alias("recall"),
        )
        out = scored if out is None else out.unionByName(scored)
    return out


def rank_eval(
    ranked: DataFrame,
    labels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Ranked-retrieval metrics — MRR and nDCG@k per query (the TREC /
    BEIR evaluation pair every retrieval system reports; Järvelin &
    Kekäläinen 2002 for nDCG): given a ranked result (``query_col``,
    ``doc_col``, ``rank_col`` 1..n — any of bm25_topk / ivf_topk /
    hybrid_rrf_topk / an external ranker) and a graded relevance table
    (``query_col``, ``doc_col``, ``rel_col`` >= 0), returns one row per
    labeled query: ``n_rel`` (labeled docs), ``first_rel_rank`` (rank
    of the first relevant hit in the top-k, NULL when none), ``mrr``
    (1/first_rel_rank, 0 when no hit), ``dcg``, ``idcg`` (the ideal
    ordering's DCG over the query's labels, truncated at k), and
    ``ndcg`` = dcg/idcg — all nudge-rounded to 6 dp.

    Determinism across engines: the rank discounts 1/log2(r+1) are
    PRECOMPUTED as literal doubles and embedded identically in the
    Spark plan and the SQL oracle — no runtime transcendental calls,
    so libm differences between the JVM and the oracle engine cannot
    flip a digit. Gains are linear (rel itself, the original Järvelin
    formulation) to stay on exact integer x literal arithmetic.

    Scale shape: the ranked frame is already per-query-bounded (<= k
    rows after the rank filter); the labels join is an equi-join on
    (query, doc) — broadcast when labels are panel-sized, which an
    evaluation set always is; idcg is a per-query window over the
    labels' rel ordering (labels-sized, not corpus-sized). Nothing
    touches the corpus."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    import math

    discounts = [1.0 / math.log2(r + 1) for r in range(1, k + 1)]
    # rank -> discount as a literal CASE chain (k entries, no libm)
    disc_map = F.create_map(
        *[F.lit(x) for r, d in zip(range(1, k + 1), discounts) for x in (r, d)]
    )
    r = ranked.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("query_id"),
        F.col(doc_col).alias("doc_id"),
        F.col(rank_col).cast("int").alias("rank"),
    )
    lab = labels.select(
        F.col(query_col).alias("query_id"),
        F.col(doc_col).alias("doc_id"),
        F.col(rel_col).cast("double").alias("rel"),
    )
    hits = r.join(F.broadcast(lab), ["query_id", "doc_id"]).select(
        "query_id",
        "rank",
        "rel",
        (F.col("rel") * disc_map[F.col("rank")]).alias("__gain"),
    )
    per_q_hits = hits.groupBy("query_id").agg(
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("first_rel_rank"),
        F.sum("__gain").alias("__dcg"),
    )
    w_ideal = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    ideal = (
        lab.withColumn("__irank", F.row_number().over(w_ideal))
        .filter(F.col("__irank") <= k)
        .select(
            "query_id",
            "rel",
            (F.col("rel") * disc_map[F.col("__irank")]).alias("__igain"),
        )
    )
    per_q_ideal = lab.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_rel")
    ).join(
        ideal.groupBy("query_id").agg(F.sum("__igain").alias("__idcg")),
        "query_id",
    )
    out = per_q_ideal.join(per_q_hits, "query_id", "left")
    idcg = F.coalesce(F.col("__idcg"), F.lit(0.0))
    dcg = F.coalesce(F.col("__dcg"), F.lit(0.0))
    return out.select(
        "query_id",
        F.col("n_rel").cast("long").alias("n_rel"),
        F.col("first_rel_rank").cast("int").alias("first_rel_rank"),
        F.round(
            F.coalesce(
                F.lit(1.0) / F.col("first_rel_rank").cast("double"), F.lit(0.0)
            )
            + F.lit(1e-12),
            6,
        ).alias("mrr"),
        F.round(dcg + F.lit(1e-12), 6).alias("dcg"),
        F.round(idcg + F.lit(1e-12), 6).alias("idcg"),
        F.round(
            F.when(idcg > 0, dcg / idcg).otherwise(F.lit(0.0)) + F.lit(1e-12), 6
        ).alias("ndcg"),
    )


def pr_eval(
    ranked: DataFrame,
    labels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Set-based ranked-retrieval metrics — precision@k, recall@k and
    average precision (the MAP components; Buckley & Voorhees's trec_eval
    definitions) — completing the evaluation family next to
    :func:`rank_eval`'s MRR/nDCG: given a ranked result (``query_col``,
    ``doc_col``, ``rank_col`` 1..n) and a relevance table (rows with
    ``rel_col`` > 0 are relevant; graded labels degrade to binary here
    by design), returns one row per labeled query: ``n_rel`` (relevant
    docs labeled), ``n_hits`` (relevant docs retrieved in the top-k),
    ``precision_k`` = n_hits/k, ``recall_k`` = n_hits/n_rel, and ``ap``
    = sum over hit positions r_i of (i / r_i) / min(n_rel, k) — the
    trec_eval AP@k normalization, so a perfect head ranking scores 1.0.
    All 6-dp nudge-rounded.

    Determinism across engines: every term is a ratio of two small
    integers (hit index i over rank r_i) — no transcendentals anywhere;
    the per-query sum runs over <= k doubles so the 6-dp nudge absorbs
    association-order noise, the same discipline as rank_eval's dcg.

    Scale shape: the ranked frame is per-query-bounded (<= k rows after
    the rank filter); the labels join is a broadcast equi-join (an
    evaluation set is panel-sized); the hit-index window partitions by
    query over <= k hit rows. Nothing touches the corpus."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    r = ranked.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("query_id"),
        F.col(doc_col).alias("doc_id"),
        F.col(rank_col).cast("int").alias("rank"),
    )
    lab = labels.filter(F.col(rel_col) > 0).select(
        F.col(query_col).alias("query_id"), F.col(doc_col).alias("doc_id")
    )
    w_hit = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    hits = (
        r.join(F.broadcast(lab), ["query_id", "doc_id"])
        .withColumn("__i", F.row_number().over(w_hit))
        .select(
            "query_id",
            "rank",
            (F.col("__i").cast("double") / F.col("rank").cast("double")).alias(
                "__p_at_hit"
            ),
        )
    )
    per_q_hits = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("__n_hits"),
        F.sum("__p_at_hit").alias("__ap_num"),
    )
    out = (
        lab.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_rel"))
        .join(per_q_hits, "query_id", "left")
    )
    n_hits = F.coalesce(F.col("__n_hits"), F.lit(0)).cast("long")
    ap_num = F.coalesce(F.col("__ap_num"), F.lit(0.0))
    denom = F.least(F.col("n_rel"), F.lit(k)).cast("double")
    return out.select(
        "query_id",
        F.col("n_rel").cast("long").alias("n_rel"),
        n_hits.alias("n_hits"),
        F.round(
            n_hits.cast("double") / F.lit(float(k)) + F.lit(1e-12), 6
        ).alias("precision_k"),
        F.round(
            n_hits.cast("double") / F.col("n_rel").cast("double") + F.lit(1e-12),
            6,
        ).alias("recall_k"),
        F.round(ap_num / denom + F.lit(1e-12), 6).alias("ap"),
    )


def ivf_cell_stats(
    df: DataFrame,
    n_cells: int | None = None,
    refine_iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF index-health audit — per-cell occupancy of the coarse
    quantizer (the `imbalance factor` table FAISS users inspect before
    trusting an index): a cell holding 30% of the corpus makes every
    probe that touches it a scan, and empty cells waste probe budget;
    both are invisible in recall numbers until latency blows up, so
    the audit runs at build time, not after.

    Returns one row per OCCUPIED cell: ``cid``, ``n_vectors``,
    ``occupancy`` (fraction of the corpus, 6 dp), and ``load_factor``
    (n_vectors x n_cells / N — 1.0 is perfectly balanced; FAISS's
    imbalance factor is the load_factor of the heaviest cell). The
    number of EMPTY cells is ``n_cells`` minus the row count —
    derivable without emitting rows that carry no signal.

    Scale shape: one assignment pass (vectorized argmax against
    driver-side centroids — zero shuffle) + one map-side groupBy to
    <= n_cells rows + a 1-row broadcast total. ``refine_iters=0``
    keeps h60 seed centroids, so the whole table replays in SQL (the
    sim_topk_ivf assignment replay + a GROUP BY)."""
    from orientdb_spark.pipeline.similarity import derive_ivf_params

    n = n_cells
    if n is None:
        n, _ = derive_ivf_params(df.count())
    _, assignments = build_ivf_index(
        df, n, vec_col=vec_col, id_col=id_col, refine_iters=refine_iters
    )
    counts = assignments.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    tot = counts.agg(F.sum("n_vectors").cast("double").alias("__n"))
    nn = F.greatest(F.col("__n"), F.lit(1.0))
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("cid").cast("int").alias("cid"),
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.round(F.col("n_vectors") / nn + F.lit(1e-12), 6).alias("occupancy"),
        F.round(
            F.col("n_vectors") * F.lit(float(n)) / nn + F.lit(1e-12), 6
        ).alias("load_factor"),
    )
