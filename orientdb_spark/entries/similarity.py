"""Embedding operators and vector retrieval: projections, quantizers,
k-means, exact and ANN top-k (LSH, IVF, PQ, IMI), re-ranking, bitext
mining and retrieval evaluation.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from orientdb_spark.entries._registry import register
from orientdb_spark.entries._shared import _COS, _dk_cos, _dk_h60, _docs, _embs


@register("embedding_quantize", oracle=(
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
))
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


@register("embedding_random_projection", oracle=_rp_oracle_sql())
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


@register("embedding_pq_encode", oracle=(
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
))
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


@register("sim_topk_pq", tags=("sf_scale",), oracle=(
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
))
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


@register("sim_topk_ivfpq", tags=("sf_scale",), oracle=(
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
))
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


@register("sim_topk_imi", oracle=(
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
))
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


@register("embedding_nearest_centroid", oracle=(
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
))
def _embedding_nearest_centroid(spark, sf_dir):
    """Nearest-centroid classification confusion matrix
    (pipeline/similarity.nearest_centroid_confusion): every vector
    assigned to its highest-cosine class prototype, cross-tabbed
    against the true label. Oracle rebuilds centroids and the rounded
    argmax in SQL."""
    from orientdb_spark.pipeline.similarity import nearest_centroid_confusion

    return nearest_centroid_confusion(_embs(spark, sf_dir))


@register("embedding_ood_audit", tags=("sf_scale",), oracle=(
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
))
def _embedding_ood_audit(spark, sf_dir):
    """Per-class embedding outlier audit (pipeline/similarity.
    ood_audit): cosine to the OWN label centroid, 5%-quantile cutoff
    per label, is_ood flag — the per-example drill-down behind the
    nearest-centroid confusion view. Cosines on the 6-dp grid, the
    threshold an exact interpolated quantile OF the grid scores, the
    flag a grid-double compare — replays exactly."""
    from orientdb_spark.pipeline import similarity

    return similarity.ood_audit(_embs(spark, sf_dir), q=0.05)


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


@register("embedding_kmeans", oracle=_kmeans_oracle_sql(k=8, iters=2))
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


@register(
    "embedding_pca",
    rows_only="LAPACK eigenbasis; gated by the numpy-agreement test in test_quantize",
)
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


@register("embedding_label_centroids", oracle=(
    "WITH ex AS (SELECT label, u.pos AS pos, u.x AS x FROM ("
    "SELECT label, unnest(list_transform(range(1, len(embedding) + 1), "
    "i -> {'pos': i, 'x': embedding[i::INTEGER]::DOUBLE})) AS u "
    "FROM embeddings)), "
    "dims AS (SELECT label, pos, avg(x) AS m, count(*)::BIGINT AS n "
    "FROM ex GROUP BY 1, 2) "
    "SELECT label, max(n) AS n_members, round(sum(m), 6) AS centroid_sum "
    "FROM dims GROUP BY label"
))
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


_COS_QN = _COS.format(a="q.qv", b="e.ev")


# pipeline: similarity
@register("sim_topk_bruteforce", tags=("headline", "smoke"), oracle=(
    "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
    "FROM embeddings WHERE vec_id < 10), "
    "e AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ev FROM embeddings), "
    "s AS (SELECT query_id, neighbor_id, " + _COS_QN + " AS c FROM q, e "
    "WHERE neighbor_id <> query_id), "
    "r AS (SELECT query_id, neighbor_id, c, row_number() OVER "
    "(PARTITION BY query_id ORDER BY c DESC, neighbor_id)::INTEGER AS rank FROM s) "
    "SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank FROM r WHERE rank <= 5"
))
def _sim_bruteforce(spark, sf_dir):
    from orientdb_spark.pipeline import similarity

    embs = _embs(spark, sf_dir)
    return similarity.brute_force_topk(embs, embs.filter(F.col("vec_id") < 10), k=5)


@register("sim_topk_lsh", oracle=(
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
))
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


@register("sim_topk_ivf", oracle=(
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
))
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


# retrieval serving ops (r11 continuation): diversity re-rank +
# hybrid fusion; r12: margin-based bitext pair mining
@register(
    "sim_topk_mmr",
    tags=("headline", "smoke", "sf_scale"),
    oracle=_mmr_oracle_sql(nq=8, k=5, m=20, lam=0.5),
)
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


@register("sim_bitext_mine", tags=("headline", "smoke"), oracle=(
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
    "round(" + _COS_QN + " + 1e-12, 6) AS c FROM q, e), "
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
))
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


@register("sim_bitext_mine_ivf", tags=("headline",), oracle=_bitext_ivf_oracle_sql(4, 1.0, 8))
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


@register(
    "sim_hybrid_rrf",
    tags=("headline", "sf_scale"),
    oracle=_hybrid_rrf_oracle_sql(k=10, m=50, kappa=60),
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


# r13: contrastive hard-negative mining (DPR)
@register("sim_hard_negatives", tags=("sf_scale",), oracle=(
    # mirrors similarity.hard_negatives(k=5) with positives =
    # exact top-1 per query: s is the scored pair table (the
    # bruteforce cosine convention), pos the rank-1 pick, and
    # the negative rank re-runs the SAME window over s minus pos
    "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
    "FROM embeddings WHERE vec_id < 8), "
    "e AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ev "
    "FROM embeddings), "
    "s AS MATERIALIZED (SELECT query_id, neighbor_id, " + _COS_QN
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
))
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


@register("sim_ann_recall", tags=("sf_scale",), oracle=_ann_recall_oracle_sql(
    n_cells=16, nprobe=4, nq=10, k=5
))
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


@register("sim_matryoshka_recall", tags=("sf_scale",), oracle=_matryoshka_oracle_sql(
    dims=(8, 16, 32, 64), nq=8, k=5
))
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


@register("sim_rank_eval", tags=("sf_scale",), oracle=_rank_eval_oracle_sql(
    n_cells=16, nprobe=4, nq=10, k=10
))
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


@register("sim_pr_eval", tags=("sf_scale",), oracle=_pr_eval_oracle_sql(
    n_cells=16, nprobe=4, nq=10, k=10
))
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


@register("sim_index_health", tags=("sf_scale",), oracle=(
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
))
def _sim_index_health(spark, sf_dir):
    """IVF index-health audit (pipeline/similarity.ivf_cell_stats):
    per-cell occupancy and load factor of the fixed 16-cell h60-seed
    quantizer — the imbalance table checked before trusting an index.
    Oracle-exact: the sim_topk_ivf assignment replay + one GROUP BY."""
    from orientdb_spark.pipeline import similarity

    return similarity.ivf_cell_stats(
        _embs(spark, sf_dir), n_cells=16, refine_iters=0
    )


@register("sim_index_persist", oracle=_ivf_fixed_oracle_sql(n_cells=16, nprobe=4))
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


@register("sim_index_incremental", tags=("sf_scale",), oracle=_ivf_fixed_oracle_sql(
    n_cells=16, nprobe=4, seed_filter="vec_id % 10 <> 0"
))
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
