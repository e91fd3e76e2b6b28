"""IvfIndex build-once/query-many: after build, topk calls must run zero
centroid-build work (no seed collect, no Lloyd means, no re-assignment —
the persisted cell-assigned corpus is queried directly)."""

from __future__ import annotations

from pyspark.sql import functions as F

from orientdb_spark.pipeline import similarity
from tests.conftest import persisted_rdd_ids

SF_DIR = "/root/testdata/sf0.001"


def test_build_once_query_many(spark):
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 5)

    idx = similarity.IvfIndex.build(embs, n_cells=8)
    r1 = sorted(map(tuple, idx.topk(q, k=3, nprobe=3).collect()))

    # a repeat query must run zero centroid-build work: no quantizer
    # build, no Arrow re-assignment — only the probe/rerank over the
    # cached cells. Job-count deltas are AQE/shared-session-noisy, so
    # assert the code path itself (as test_one_index_serves_topk_and_
    # neardup does) plus the plan shape.
    def _boom(*a, **k):
        raise AssertionError("repeat topk re-ran build-time work")

    orig_build, orig_assign = similarity.build_ivf_index, similarity._assign_udf
    similarity.build_ivf_index = similarity._assign_udf = _boom
    try:
        out = idx.topk(q, k=3, nprobe=3)
        r2 = sorted(map(tuple, out.collect()))
    finally:
        similarity.build_ivf_index, similarity._assign_udf = orig_build, orig_assign

    assert r2 == r1
    # the queried plan reads the checkpointed corpus, not build lineage
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "posexplode" not in plan
    idx.unpersist()


def test_one_index_serves_topk_and_neardup(spark):
    """NOTES_r2 rough edge: one IvfIndex build must serve BOTH the ANN
    query path (topk) and near-dup mining (embedding_duplicate_pairs) —
    and sharing must not change the near-dup output, which is exact by
    ball-pruning regardless of the center set."""
    from orientdb_spark.pipeline import dedup

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 5)

    idx = similarity.IvfIndex.build(embs, n_cells=8)
    idx.topk(q, k=3, nprobe=3).collect()

    own = sorted(
        map(tuple, dedup.embedding_duplicate_pairs(embs, threshold=0.3).collect())
    )

    # the shared path must never touch the quantizer builder (that is the
    # whole point of sharing) — job-count deltas are AQE-noisy, so assert
    # the code path itself
    def _boom(*a, **k):
        raise AssertionError("shared-index path rebuilt the quantizer")

    orig = similarity.build_ivf_index
    similarity.build_ivf_index = _boom
    try:
        shared = sorted(
            map(
                tuple,
                dedup.embedding_duplicate_pairs(
                    embs, threshold=0.3, index=idx
                ).collect(),
            )
        )
    finally:
        similarity.build_ivf_index = orig

    assert shared == own and own  # exactness is center-set independent
    idx.unpersist()


def test_index_and_oneshot_agree(spark):
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 5)
    idx = similarity.IvfIndex.build(embs, n_cells=8)
    a = sorted(map(tuple, idx.topk(q, k=3, nprobe=3).collect()))
    b = sorted(
        map(
            tuple,
            similarity.ivf_topk(embs, q, k=3, n_cells=8, nprobe=3).collect(),
        )
    )
    assert a == b
    idx.unpersist()


def test_stale_index_fails_loudly(spark):
    """An index built over a DIFFERENT corpus must not silently drop the
    unmatched rows from near-dup mining (the inner-join would under-
    report pairs despite the EXACT contract) — it raises instead."""
    import pytest

    from orientdb_spark.pipeline import dedup

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    subset = embs.filter(F.col("vec_id") < 50)

    idx = similarity.IvfIndex.build(subset, n_cells=4)
    with pytest.raises(ValueError, match="does not cover"):
        dedup.embedding_duplicate_pairs(embs, threshold=0.3, index=idx).collect()
    idx.unpersist()


def test_kmeans_matches_numpy_lloyd(spark):
    """The public kmeans must reproduce a pure-numpy spherical Lloyd
    run exactly: same h60 seeding, cosine argmax with ties to the lower
    cid, raw-space mean update, empty cells dropped + renumbered."""
    import hashlib

    import numpy as np

    from orientdb_spark.pipeline.similarity import kmeans

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    k, iters = 8, 2
    cents, assign = kmeans(embs, k=k, iters=iters)
    got = {r["vec_id"]: r["cid"] for r in assign.collect()}
    got_c = {r["cid"]: np.array(r["cvec"]) for r in cents.collect()}

    rows = embs.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    M = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)

    def h60(x):
        return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)

    seed_ids = [i for _, i in sorted((h60(i), i) for i in ids)[:k]]
    C = np.array([M[ids.index(i)] for i in seed_ids], dtype=np.float64)

    def assign_np(C):
        # mirror _assign_udf's oracle FP discipline: dimension-major
        # accumulation, +1e-12 nudge, 6-dp round before the argmax
        d = C.shape[1]
        Cn = np.zeros(C.shape[0])
        Mn = np.zeros(M.shape[0])
        dots = np.zeros((M.shape[0], C.shape[0]))
        for dd in range(d):
            Cn += C[:, dd] * C[:, dd]
            Mn += M[:, dd] * M[:, dd]
            dots += M[:, dd][:, None] * C[:, dd][None, :]
        Cn, Mn = np.sqrt(Cn), np.sqrt(Mn)
        Cn[Cn == 0] = 1.0
        Mn[Mn == 0] = 1.0
        return np.argmax(np.round(dots / np.outer(Mn, Cn) + 1e-12, 6), axis=1)

    for _ in range(iters):
        a = assign_np(C)
        alive = sorted(set(a.tolist()))
        C = np.array([M[a == c].mean(axis=0) for c in alive])
    a = assign_np(C)

    exp = {ids[i]: int(a[i]) for i in range(len(ids))}
    agree = sum(1 for i in ids if got[i] == exp[i]) / len(ids)
    # mean-update float order differs (Spark partial aggs vs numpy), so
    # a boundary point may flip; demand near-total agreement, not bitwise
    assert agree >= 0.99, f"kmeans/numpy agreement {agree:.3f}"
    for cid, cv in got_c.items():
        assert np.allclose(cv, C[cid], atol=1e-6)


def test_kmeans_validates_params(spark):
    import pytest as _pytest

    from orientdb_spark.pipeline.similarity import kmeans

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with _pytest.raises(ValueError):
        kmeans(embs, k=0)


def test_label_centroids_handcrafted(spark):
    from orientdb_spark.pipeline.similarity import label_centroids

    df = spark.createDataFrame(
        [(1, "a", [1.0, 3.0]), (2, "a", [3.0, 5.0]), (3, "b", [10.0, 0.0])],
        "vec_id INT, label STRING, embedding ARRAY<DOUBLE>",
    )
    out = {r["label"]: r for r in label_centroids(df).collect()}
    assert out["a"]["n_members"] == 2 and out["a"]["centroid"] == [2.0, 4.0]
    assert out["b"]["n_members"] == 1 and out["b"]["centroid"] == [10.0, 0.0]


def test_nearest_centroid_confusion_on_separable_clusters(spark):
    """Handcrafted separable classes: tight clusters around orthogonal
    axes must classify perfectly; a vector planted closer to the other
    class's prototype must be its one off-diagonal count."""
    from orientdb_spark.pipeline.similarity import nearest_centroid_confusion

    rows = []
    vid = 0
    for label, axis in ((0, 0), (1, 1)):
        for i in range(5):
            v = [0.0] * 8
            v[axis] = 10.0
            v[7] = 0.1 * i
            rows.append((vid, v, label))
            vid += 1
    # planted outlier: labeled 0 but lies on class 1's axis
    out = [0.0] * 8
    out[1] = 10.0
    rows.append((vid, out, 0))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {(r["label"], r["predicted"]): r["n"]
           for r in nearest_centroid_confusion(df).collect()}
    assert got[(1, 1)] == 5
    assert got[(0, 0)] == 5
    assert got[(0, 1)] == 1  # the planted cross-class vector
    assert (1, 0) not in got


# --- persistence + incremental ingest (index lifecycle) ----------------------


def test_save_load_roundtrip_is_invisible(spark, tmp_path):
    """A loaded index must reproduce the fresh index's results
    bit-for-bit — persistence is only correct if it is invisible."""
    import warnings

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 5)
    idx = similarity.IvfIndex.build(embs, n_cells=16, refine_iters=0, persist=False)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        fresh = sorted(map(tuple, idx.topk(q, k=4, nprobe=4).collect()))
        path = str(tmp_path / "ivf")
        idx.save(path)
        loaded = similarity.IvfIndex.load(spark, path)
        assert loaded.n_cells == 16
        again = sorted(map(tuple, loaded.topk(q, k=4, nprobe=4).collect()))
    assert fresh == again and len(fresh) == 20


def test_loaded_index_probe_prunes_partitions(spark, tmp_path):
    """The saved cell table is partitioned by cid, so the probe join
    over a loaded index must plant a dynamic-partition-pruning filter
    on the cells scan — a query reads only the probed cells' files."""
    import warnings

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = similarity.IvfIndex.build(embs, n_cells=16, refine_iters=0, persist=False)
    path = str(tmp_path / "ivf")
    idx.save(path)
    loaded = similarity.IvfIndex.load(spark, path)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        out = loaded.topk(embs.filter(F.col("vec_id") < 5), k=3, nprobe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_extend_assigns_batch_to_existing_centroids(spark):
    """extend() is 'same quantizer, more postings': a planted batch
    vector identical to a query must surface at rank 1 after extend,
    and the merged index must hold corpus+batch postings while the
    centroid table is untouched."""
    import warnings

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = embs.filter(F.col("vec_id") >= 5)
    qvec = embs.filter(F.col("vec_id") == 0).first()
    batch = spark.createDataFrame(
        [(900, list(qvec["embedding"]))], ["vec_id", "embedding"]
    )
    idx = similarity.IvfIndex.build(corpus, n_cells=8, refine_iters=0)
    merged = idx.extend(batch)
    assert merged.corpus_cells.count() == corpus.count() + 1
    assert merged.centroids is idx.centroids
    q = embs.filter(F.col("vec_id") == 0)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        before = idx.topk(q, k=3, nprobe=3).orderBy("rank").collect()
        after = merged.topk(q, k=3, nprobe=3).orderBy("rank").collect()
    assert all(r["neighbor_id"] != 900 for r in before)
    assert after[0]["neighbor_id"] == 900 and after[0]["cosine"] == 1.0
    merged.unpersist(); idx.unpersist()


def test_unpersist_frees_checkpoint_blocks(spark):
    """build(persist=True) and extend() own localCheckpoint blocks that
    DataFrame.unpersist() cannot release — IvfIndex.unpersist() must
    free them at the RDD layer (zero leaked persistent RDDs)."""
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    before = persisted_rdd_ids(spark)
    idx = similarity.IvfIndex.build(embs, n_cells=8, refine_iters=0, persist=True)
    merged = idx.extend(
        embs.filter(F.col("vec_id") < 3).withColumn(
            "vec_id", F.col("vec_id") + 1000
        )
    )
    assert merged.corpus_cells.count() == embs.count() + 3
    merged.unpersist()
    idx.unpersist()
    leaked = persisted_rdd_ids(spark) - before
    assert not leaked, f"leaked persistent RDD ids: {sorted(leaked)}"


def test_ann_recall_report_full_probe_is_perfect(spark):
    """Probing every cell makes IVF exact, so every query's recall
    must be 1.0 and n_hits == n_exact == min(k, N-1)."""
    from orientdb_spark.pipeline.similarity import ann_recall_report

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 6)
    rows = ann_recall_report(
        embs, q, k=5, n_cells=8, nprobe=8, refine_iters=0
    ).collect()
    assert len(rows) == 6
    for r in rows:
        assert r["n_exact"] == 5 and r["n_hits"] == 5 and r["recall"] == 1.0


def test_ann_recall_report_injected_approx(spark):
    """An injected approximate result is scored as-is: feeding the
    ground truth back gives recall 1.0; feeding a disjoint result
    gives 0.0 (the left join keeps zero-hit queries)."""
    import pytest

    from orientdb_spark.pipeline.similarity import (
        ann_recall_report,
        brute_force_topk,
    )

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 4)
    exact = brute_force_topk(embs, q, k=3)
    perfect = ann_recall_report(embs, q, k=3, approx=exact).collect()
    assert all(r["recall"] == 1.0 for r in perfect)
    wrong = exact.select(
        "query_id", (F.col("neighbor_id") + 1000000).alias("neighbor_id")
    )
    zero = ann_recall_report(embs, q, k=3, approx=wrong).collect()
    assert len(zero) == 4
    assert all(r["recall"] == 0.0 and r["n_hits"] == 0 for r in zero)
    with pytest.raises(ValueError, match="k must be positive"):
        ann_recall_report(embs, q, k=0)


def test_matryoshka_recall_full_dim_is_exact(spark):
    """The full-dimension row must sanity-check at recall 1.0; a
    truncated prefix can only lose recall; validation raises on empty
    or non-positive dims."""
    import pytest

    from orientdb_spark.pipeline.similarity import matryoshka_recall

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 5)
    rows = matryoshka_recall(embs, q, dims=[4, 64], k=5).collect()
    assert len(rows) == 10
    by_dim = {}
    for r in rows:
        by_dim.setdefault(r["dim"], []).append(r["recall"])
    assert all(r == 1.0 for r in by_dim[64])
    # random (non-MRL) embeddings decay under truncation
    assert sum(by_dim[4]) / len(by_dim[4]) < 0.9
    with pytest.raises(ValueError, match="non-empty"):
        matryoshka_recall(embs, q, dims=[])
    with pytest.raises(ValueError, match="positive"):
        matryoshka_recall(embs, q, dims=[8, 0])


def test_rank_eval_hand_checked(spark):
    """Hand-computed MRR/nDCG: graded hit at rank 2, a no-hit query,
    and unlabeled queries excluded; discounts are the literal
    1/log2(r+1) table."""
    import math

    import pytest

    from orientdb_spark.pipeline.similarity import rank_eval

    ranked = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "c", 3), (2, "y", 1), (9, "q", 1)],
        "query_id bigint, neighbor_id string, rank int",
    )
    labels = spark.createDataFrame(
        [(1, "b", 3), (1, "z", 1), (2, "x", 2)],
        "query_id bigint, neighbor_id string, rel int",
    )
    got = {r["query_id"]: r.asDict() for r in rank_eval(ranked, labels, k=3).collect()}
    assert set(got) == {1, 2}  # query 9 has no labels -> excluded
    d2, d1 = 1.0 / math.log2(3), 1.0
    q1 = got[1]
    assert q1["n_rel"] == 2 and q1["first_rel_rank"] == 2 and q1["mrr"] == 0.5
    assert q1["dcg"] == round(3 * d2 + 1e-12, 6)
    assert q1["idcg"] == round(3 * d1 + 1 * d2 + 1e-12, 6)
    assert q1["ndcg"] == round((3 * d2) / (3 * d1 + 1 * d2) + 1e-12, 6)
    q2 = got[2]
    assert q2["first_rel_rank"] is None and q2["mrr"] == 0.0
    assert q2["dcg"] == 0.0 and q2["ndcg"] == 0.0 and q2["idcg"] == 2.0
    with pytest.raises(ValueError, match="k must be positive"):
        rank_eval(ranked, labels, k=0)


def test_rank_eval_perfect_ranking_is_one(spark):
    """Ranking the labels in ideal order gives ndcg == 1 and mrr == 1
    for every query."""
    from orientdb_spark.pipeline.similarity import brute_force_topk, rank_eval

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 6)
    exact = brute_force_topk(embs, q, k=4)
    labels = exact.select(
        "query_id", "neighbor_id", (F.lit(5) - F.col("rank")).alias("rel")
    )
    out = rank_eval(exact, labels, k=4).collect()
    assert len(out) == 6
    assert all(r["ndcg"] == 1.0 and r["mrr"] == 1.0 for r in out)


def test_pr_eval_hand_checked(spark):
    """Hand-computed precision/recall/AP: two hits at ranks 1 and 3
    (AP = (1/1 + 2/3) / 2), a miss-only query, unlabeled queries
    excluded, graded labels binarized (rel > 0)."""
    import pytest

    from orientdb_spark.pipeline.similarity import pr_eval

    ranked = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "c", 3), (2, "y", 1), (9, "q", 1)],
        "query_id bigint, neighbor_id string, rank int",
    )
    labels = spark.createDataFrame(
        [(1, "a", 3), (1, "c", 1), (1, "z", 0), (2, "x", 2)],
        "query_id bigint, neighbor_id string, rel int",
    )
    got = {r["query_id"]: r.asDict() for r in pr_eval(ranked, labels, k=3).collect()}
    assert set(got) == {1, 2}  # query 9 unlabeled, rel=0 rows ignored
    q1 = got[1]
    assert q1["n_rel"] == 2 and q1["n_hits"] == 2
    assert q1["precision_k"] == round(2 / 3 + 1e-12, 6)
    assert q1["recall_k"] == 1.0
    assert q1["ap"] == round((1.0 / 1 + 2.0 / 3) / 2 + 1e-12, 6)
    q2 = got[2]
    assert q2["n_hits"] == 0 and q2["precision_k"] == 0.0
    assert q2["recall_k"] == 0.0 and q2["ap"] == 0.0
    with pytest.raises(ValueError, match="k must be positive"):
        pr_eval(ranked, labels, k=0)


def test_pr_eval_perfect_ranking_is_one(spark):
    """Retrieving exactly the labeled set in any order gives
    precision-driven AP == 1 when k covers every relevant doc."""
    from orientdb_spark.pipeline.similarity import brute_force_topk, pr_eval

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 6)
    exact = brute_force_topk(embs, q, k=4)
    labels = exact.select("query_id", "neighbor_id", F.lit(1).alias("rel"))
    out = pr_eval(exact, labels, k=4).collect()
    assert len(out) == 6
    assert all(
        r["n_hits"] == 4 and r["recall_k"] == 1.0 and r["ap"] == 1.0
        for r in out
    )


def test_ivf_cell_stats_invariants(spark):
    """The index-health audit must account for every corpus vector
    exactly once: occupancies sum to 1, load_factor is occupancy
    scaled by n_cells, and only occupied cells emit rows."""
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = embs.count()
    rows = similarity.ivf_cell_stats(embs, n_cells=16, refine_iters=0).collect()

    assert 1 <= len(rows) <= 16
    assert sum(r["n_vectors"] for r in rows) == n
    assert all(0 <= r["cid"] < 16 for r in rows)
    assert all(r["n_vectors"] >= 1 for r in rows)  # occupied cells only
    assert abs(sum(r["occupancy"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r["load_factor"] == round(r["n_vectors"] * 16.0 / n + 1e-12, 6)


def test_ivf_cell_stats_matches_assignments(spark):
    """The audit's per-cell counts are exactly the build_ivf_index
    assignment histogram — same quantizer, same seeds."""
    from collections import Counter

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _, asg = similarity.build_ivf_index(embs, 8, refine_iters=1)
    want = Counter(r["cid"] for r in asg.collect())
    got = {
        r["cid"]: r["n_vectors"]
        for r in similarity.ivf_cell_stats(embs, n_cells=8, refine_iters=1).collect()
    }
    assert got == dict(want)


def test_build_skips_null_id_rows(spark):
    """A corpus row with a NULL id is not indexed, by ``build`` or by
    ``extend``: the cells, which embedding_duplicate_pairs reads as its
    assignments, hold no NULL neighbor_id, and topk answers as if the
    row were absent."""
    embs = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 200)
    )
    q = embs.filter(F.col("vec_id") < 3)
    stray = embs.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(None).cast("long"))
    build = dict(n_cells=4, refine_iters=0, persist=False)
    idx = similarity.IvfIndex.build(embs.unionByName(stray), **build)
    clean = similarity.IvfIndex.build(embs, **build)
    assert idx.corpus_cells.filter(F.col("neighbor_id").isNull()).count() == 0
    assert sorted(map(tuple, idx.topk(q, k=3, nprobe=4).collect())) == sorted(
        map(tuple, clean.topk(q, k=3, nprobe=4).collect())
    )
    grown = idx.extend(stray, persist=False)
    assert grown.corpus_cells.filter(F.col("neighbor_id").isNull()).count() == 0
