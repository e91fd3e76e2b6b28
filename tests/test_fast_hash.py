"""Structural invariants of the pipeline hash (``common.h60``, the md5
form) that hold for any uniform 60-bit hash: dedup groups well-formed
and complete on planted duplicates, split fractions within tolerance
and re-run-stable, sampling quotas respected.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orientdb_spark.pipeline import dedup, sampling


@pytest.fixture(params=["md5"])
def hash_impl(request):
    """The hash the invariants run under (named in failure messages)."""
    return request.param


@pytest.fixture(scope="module")
def planted_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest beyond the quiet river bank"
    )
    rows = [
        (0, base),
        (1, base),  # exact duplicate of 0
        (2, base + " with one extra tail appended"),  # near-dup of 0/1
        (3, "completely unrelated text about stock market forecasting"),
        (4, "another document with its own distinct vocabulary entirely"),
    ] + [
        (10 + i, f"filler document number {i} containing unique words "
                 f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}")
        for i in range(40)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_groups_well_formed_both_paths(planted_docs, hash_impl):
    """Identical documents have identical signatures under ANY hash
    impl, so the exact-duplicate pair MUST be found; emitted pairs are
    well-formed (id_a < id_b, jaccard in [threshold, 1]) and verified
    (no false positive can survive the exact-Jaccard filter)."""
    pairs = dedup.minhash_lsh_pairs(
        planted_docs, num_hashes=16, bands=4, threshold=0.7, shingle=3
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got  # planted exact duplicate
    for r in pairs:
        assert r.id_a < r.id_b
        assert 0.7 <= r.jaccard <= 1.0
    # the exact duplicate verifies at jaccard 1.0
    assert {r.jaccard for r in pairs if (r.id_a, r.id_b) == (0, 1)} == {1.0}
    # unrelated docs never pair (exact verification is impl-agnostic)
    flat = {x for p in got for x in p}
    assert 3 not in flat and 4 not in flat


def test_fingerprint_groups_complete_both_paths(planted_docs, hash_impl):
    """Byte-identical docs share a fingerprint under any impl — the
    planted duplicate pair lands in one group of size 2 with the lowest
    id as canonical."""
    groups = dedup.fingerprint_duplicate_groups(planted_docs).collect()
    dup = [g for g in groups if g.n_docs > 1]
    assert len(dup) == 1
    assert dup[0].n_docs == 2 and dup[0].canonical_id == 0


def test_split_fractions_and_stability_both_paths(spark, hash_impl):
    """assign_split under the pipeline hash keeps (a) fractions within
    tolerance of the requested ratios, (b) per-doc stability across
    re-runs and corpus growth — the no-leakage property the docstring
    promises."""
    n = 20_000
    df = spark.range(n).select(F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"))
    ratios = {"train": 0.8, "valid": 0.1, "test": 0.1}
    got = {
        r["split"]: r["cnt"]
        for r in sampling.assign_split(df, ratios)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert set(got) == set(ratios)
    for name, frac in ratios.items():
        assert abs(got[name] / n - frac) < 0.02, (hash_impl, name, got[name])
    # stability: the first 1000 docs keep their split when the corpus grows
    small = sampling.assign_split(df.limit(1000), ratios)
    big = sampling.assign_split(df, ratios).withColumnRenamed("split", "split_big")
    moved = small.join(big, "doc_id").filter(F.col("split") != F.col("split_big"))
    assert moved.count() == 0


def test_quota_and_weighted_sampling_both_paths(spark, hash_impl):
    """quota_sample caps every group at the quota and keeps the same
    rows across re-runs; weighted_sample emits a deterministic subset."""
    rows = [(f"d{i}", "a" if i % 3 else "b", 1.0 + (i % 5)) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "w"])
    q = sampling.quota_sample(df, ["source"], quota=20, id_col="doc_id")
    per = {r["source"]: r["c"] for r in q.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert all(c <= 20 for c in per.values()) and per
    ids1 = sorted(r["doc_id"] for r in q.select("doc_id").collect())
    ids2 = sorted(
        r["doc_id"]
        for r in sampling.quota_sample(df, ["source"], quota=20, id_col="doc_id")
        .select("doc_id")
        .collect()
    )
    assert ids1 == ids2  # re-run deterministic
    w = sampling.weighted_sample(df, weight_col="w", k=50, id_col="doc_id")
    assert w.count() == 50
    assert sorted(r["doc_id"] for r in w.collect()) == sorted(
        r["doc_id"]
        for r in sampling.weighted_sample(
            df, weight_col="w", k=50, id_col="doc_id"
        ).collect()
    )
