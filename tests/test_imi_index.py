"""Inverted multi-index (ImiIndex / imi_topk / derive_imi_params) gates —
the two-level coarse quantizer for corpora past flat IVF's 4096-cell
boundary (Babenko & Lempitsky, CVPR 2012). Mirrors test_ivf_index.py:
full-probe exactness, probe-enumeration exactness, build-once/query-many,
derived-params pins, and a recall gate on a clustered corpus."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from orientdb_spark.pipeline import similarity
from orientdb_spark.pipeline.similarity import (
    ImiIndex,
    brute_force_topk,
    derive_imi_params,
    estimated_imi_recall,
    imi_topk,
)
from tests.conftest import persisted_rdd_ids

SF_DIR = "/root/testdata/sf0.001"


def test_derive_imi_params_pins():
    # k_half ~ N^(1/4), floor 4: the centroid budget grows as N^(1/4)
    # while effective cells k_half^2 track the classic sqrt(N) balance
    assert derive_imi_params(1)[0] == 4
    assert derive_imi_params(10_000)[0] == 10
    assert derive_imi_params(1_000_000)[0] == 32
    # cap at 4096 codewords per half (16.7M effective cells)
    assert derive_imi_params(10 ** 16)[0] == 4096
    # nprobe covers target/1.5 of the estimated occupancy, capped
    import math

    k_half, nprobe = derive_imi_params(1_000_000)
    occ = k_half * k_half
    assert nprobe == min(occ, 4096, math.ceil(occ * 0.6 / 1.5))
    assert 1 <= nprobe <= 4096
    # the cap binds for huge corpora instead of exploding the enumeration
    assert derive_imi_params(10 ** 16)[1] == 4096
    with pytest.raises(ValueError):
        derive_imi_params(0)
    with pytest.raises(ValueError):
        derive_imi_params(100, target_recall=1.5)


def test_estimated_imi_recall_model():
    # the IVF nearest-cell model over OCCUPIED product cells
    assert estimated_imi_recall(16, 8) == pytest.approx(0.75)
    assert estimated_imi_recall(16, 16) == 1.0
    assert estimated_imi_recall(0, 1) == 1.0  # degenerate floor


def _clustered(spark, n_clusters=10, per=40, dim=64, noise=0.15, seed=11):
    rng = np.random.default_rng(seed)
    C = rng.normal(0, 1, (n_clusters, dim))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per):
            v = C[c] + rng.normal(0, noise, dim)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )


def test_imi_full_probe_equals_brute_force(spark):
    """With nprobe = k_half^2 every product cell is probed, so the exact
    cosine rerank must reproduce brute_force_topk bit-for-bit (same
    fold, same 6-dp round, same neighbor-id tiebreak)."""
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 5)
    idx = ImiIndex.build(embs, k_half=4, persist=False)
    full = sorted(map(tuple, idx.topk(q, k=5, nprobe=16).collect()))
    brute = sorted(map(tuple, brute_force_topk(embs, q, k=5).collect()))
    assert full == brute


def test_imi_probe_enumeration_matches_reference(spark):
    """The declarative multi-sequence enumeration must select exactly
    the nprobe (cid1, cid2) pairs with the smallest d1 + d2 — verified
    against a plain numpy enumeration over ALL pairs (the priority-queue
    walk's ground truth), including the (sum, cid1, cid2) tiebreak."""
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 4)
    idx = ImiIndex.build(embs, k_half=4, persist=False)
    nprobe = 5
    got = {}
    for r in idx.probe_cells(q, nprobe).collect():
        got.setdefault(r["query_id"], []).append((r["cid1"], r["cid2"]))
    B = [np.asarray(b, dtype=np.float64) for b in idx.codebooks]
    dsub = idx.dim // 2
    for r in q.collect():
        x = np.asarray(r["embedding"], dtype=np.float64)
        want = []
        for c1, v1 in enumerate(B[0]):
            d1 = float(((x[:dsub] - v1) ** 2).sum())
            for c2, v2 in enumerate(B[1]):
                d2 = float(((x[dsub:] - v2) ** 2).sum())
                want.append((d1 + d2, c1, c2))
        want = [(c1, c2) for _, c1, c2 in sorted(want)[:nprobe]]
        assert sorted(got[r["vec_id"]]) == sorted(want), r["vec_id"]


def test_imi_recall_and_cluster_precision(spark):
    """Clustered corpus (the regime the index is for): derived-width
    probing must keep top-5 neighbors inside the query's true cluster
    and recall well above random."""
    df = _clustered(spark)
    q = df.filter(F.col("vec_id") % 40 == 0)
    out = imi_topk(df, q, k=5, k_half=4)
    labeled = out.join(
        df.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
    ).collect()
    assert labeled
    prec = sum(1 for r in labeled if r["label"] == r["query_id"] // 40) / len(labeled)
    assert prec >= 0.8, f"IMI cluster precision too low: {prec:.2f}"
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(df, q, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in labeled}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IMI recall vs brute force too low: {recall:.2f}"


def test_imi_build_once_query_many(spark):
    """After build, repeat topk calls must run zero quantizer work —
    no pq_fit, no pq_encode (the IvfIndex discipline)."""
    from orientdb_spark.pipeline import quantize

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 5)
    idx = ImiIndex.build(embs, k_half=4, persist=True)
    r1 = sorted(map(tuple, idx.topk(q, k=3, nprobe=6).collect()))

    def _boom(*a, **k):
        raise AssertionError("repeat topk re-ran quantizer build work")

    orig_fit, orig_enc = quantize.pq_fit, quantize.pq_encode
    quantize.pq_fit = quantize.pq_encode = _boom
    try:
        r2 = sorted(map(tuple, idx.topk(q, k=3, nprobe=6).collect()))
    finally:
        quantize.pq_fit, quantize.pq_encode = orig_fit, orig_enc
    assert r2 == r1
    idx.unpersist()


def test_unpersist_frees_checkpoint_blocks(spark):
    """build(persist=True) owns a localCheckpoint that
    DataFrame.unpersist() cannot release — ImiIndex.unpersist() must
    free it (zero leaked persistent RDDs)."""
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    before = persisted_rdd_ids(spark)
    idx = ImiIndex.build(embs, k_half=4, refine_iters=0, persist=True)
    assert idx.corpus_cells.count() == embs.count()
    idx.unpersist()
    leaked = persisted_rdd_ids(spark) - before
    assert not leaked, f"leaked persistent RDD ids: {sorted(leaked)}"


def test_imi_oneshot_agrees_with_index(spark):
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 5)
    idx = ImiIndex.build(embs, k_half=4, persist=False)
    a = sorted(map(tuple, idx.topk(q, k=3, nprobe=6).collect()))
    b = sorted(map(tuple, imi_topk(
        embs, q, k=3, k_half=4, nprobe=6
    ).collect()))
    assert a == b


def test_imi_under_recall_warns(spark):
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 2)
    idx = ImiIndex.build(embs, k_half=4, persist=False)
    with pytest.warns(RuntimeWarning, match="imi_topk"):
        idx.topk(q, k=3, nprobe=1, target_recall=0.9).collect()


def test_imi_derived_defaults_no_imports_unverified(spark):
    """k_half=None derives from one count (derive_imi_params) and the
    derived settings clear the estimator with no warning at this N."""
    import warnings

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 3)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = imi_topk(embs, q, k=3)
    assert out.count() == 9
