"""Data-selection operators: prototypicality pruning (Sorscher et al.
NeurIPS'22) and k-center greedy coreset (Sener & Savarese ICLR'18).
Each behavioral test replays the operator independently in numpy from
the same h60/assignment/rounding contracts."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest

from orientdb_spark.pipeline import similarity as S
from tests.conftest import persisted_rdd_ids


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _np_assign(vecs: dict, n_cells: int):
    """Independent replay of seed_centers + _assign_udf: h60-seeded
    centers, argmax of round(cos + 1e-12, 6) with lower-cid ties."""
    nz = {i: np.asarray(v, dtype=np.float64) for i, v in vecs.items()
          if math.sqrt(sum(x * x for x in v)) > 0}
    order = sorted(nz, key=lambda i: (_h60(str(i)), i))
    centers = [nz[i] for i in order[:n_cells]]
    out = {}
    for i, v in nz.items():
        best_c, best_s = None, None
        for c, cv in enumerate(centers):
            cos = round(
                float(v @ cv)
                / (math.sqrt(float(v @ v)) * math.sqrt(float(cv @ cv)))
                + 1e-12,
                6,
            )
            if best_s is None or cos > best_s:
                best_c, best_s = c, cos
        out[i] = (best_c, best_s)
    return out, centers


def test_prototypicality_matches_numpy_replay(spark):
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {r.vec_id: (r.cid, r.proto_score)
           for r in S.prototypicality_scores(embs, n_cells=16).collect()}
    vecs = {r["vec_id"]: r["embedding"]
            for r in embs.select("vec_id", "embedding").collect()}
    exp, _ = _np_assign(vecs, 16)
    assert set(got) == set(vecs)
    for i, (cid, score) in exp.items():
        assert got[i][0] == cid, i
        assert abs(got[i][1] - score) < 2e-6, (i, got[i][1], score)


def test_prototype_prune_counts_and_direction(spark):
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    all_scores = S.prototypicality_scores(embs, n_cells=16).collect()
    sizes: dict[int, int] = {}
    for r in all_scores:
        sizes[r.cid] = sizes.get(r.cid, 0) + 1
    hard = S.prototype_prune(embs, keep_fraction=0.5, keep="hard").collect()
    kept_per: dict[int, list] = {}
    for r in hard:
        kept_per.setdefault(r.cid, []).append(r)
    for cid, rows in kept_per.items():
        assert len(rows) == math.ceil(sizes[cid] * 0.5), cid
    # "hard" keeps the LOWEST scores: the kept max must not exceed the
    # dropped min within any cluster
    by_cid: dict[int, list] = {}
    for r in all_scores:
        by_cid.setdefault(r.cid, []).append(r)
    kept_ids = {r.vec_id for r in hard}
    for cid, rows in by_cid.items():
        if cid < 0:
            continue
        kept = [r.proto_score for r in rows if r.vec_id in kept_ids]
        dropped = [r.proto_score for r in rows if r.vec_id not in kept_ids]
        if kept and dropped:
            assert max(kept) <= min(dropped) + 1e-9, cid
    easy = S.prototype_prune(embs, keep_fraction=0.3, keep="easy").collect()
    easy_ids = {r.vec_id for r in easy}
    for cid, rows in by_cid.items():
        if cid < 0:
            continue
        kept = [r.proto_score for r in rows if r.vec_id in easy_ids]
        dropped = [r.proto_score for r in rows if r.vec_id not in easy_ids]
        if kept and dropped:
            assert min(kept) >= max(dropped) - 1e-9, cid


def test_prototype_zero_norm_kept(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    s = {r.vec_id: r for r in S.prototypicality_scores(df, n_cells=2).collect()}
    assert s[2].cid == -1 and s[2].proto_score is None
    kept = {r.vec_id for r in S.prototype_prune(df, n_cells=2, keep_fraction=0.5).collect()}
    assert 2 in kept


def test_prototype_prune_validation(spark):
    df = spark.createDataFrame([(0, [1.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="keep"):
        S.prototype_prune(df, keep="median")
    with pytest.raises(ValueError, match="keep_fraction"):
        S.prototype_prune(df, keep_fraction=0.0)


def test_kcenter_matches_numpy_replay(spark):
    """Full greedy replay: start at min (h60, id), then repeatedly take
    the max-of-min rounded cosine distance with id tiebreak."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = [r.vec_id for r in S.kcenter_coreset(embs, k=10)
           .orderBy("selection_rank").collect()]
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in embs.select("vec_id", "embedding").collect()}
    nz = {i: v for i, v in vecs.items() if float(np.sqrt(v @ v)) > 0}
    first = min(nz, key=lambda i: (_h60(str(i)), i))
    sel = [first]
    dist = {i: None for i in nz}
    for _ in range(9):
        cv = nz[sel[-1]]
        cn = math.sqrt(float(cv @ cv))
        for i, v in nz.items():
            nd = round(
                1.0 - float(v @ cv) / (math.sqrt(float(v @ v)) * cn) + 1e-12, 6
            )
            dist[i] = nd if dist[i] is None else min(dist[i], nd)
        cand = [i for i in nz if i not in sel]
        far = max(cand, key=lambda i: (dist[i], -i))
        sel.append(far)
    assert got == sel


def test_kcenter_diversity_and_validation(spark):
    """On three tight, well-separated clusters, the first three picks
    land in three DIFFERENT clusters (the diversity property that
    motivates FPS)."""
    import random

    rng = random.Random(5)
    rows = []
    dirs = [(1.0, 0.0, 0.0), (0.0, 1.0, 0.0), (0.0, 0.0, 1.0)]
    for i in range(90):
        d = dirs[i % 3]
        v = [x + rng.gauss(0, 0.01) for x in d]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    sel = [r.vec_id for r in S.kcenter_coreset(df, k=3)
           .orderBy("selection_rank").collect()]
    assert len({i % 3 for i in sel}) == 3, sel
    with pytest.raises(ValueError, match="k >= 1"):
        S.kcenter_coreset(df, k=0)
    # k larger than the corpus: returns every vector once
    tiny = spark.createDataFrame(rows[:4], ["vec_id", "embedding"])
    assert S.kcenter_coreset(tiny, k=10).count() == 4


def test_kcenter_large_k_warns_job_count(spark):
    """k > 1000 means ~2k sequential Spark jobs — the caller must opt in
    loudly (the ANN under-recall warning convention). The tiny corpus
    keeps the loop itself short (it exits once every vector is taken)."""
    rows = [(i, [float(i + 1), 1.0]) for i in range(3)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    with pytest.warns(RuntimeWarning, match="sequential Spark jobs"):
        out = S.kcenter_coreset(df, k=1001)
    assert out.count() == 3


def test_empty_and_zero_norm_corpora_do_not_crash(spark):
    """Review-sweep edges: an empty or all-zero-norm corpus must return
    the documented zero-branch rows, not crash in seed/assignment
    machinery."""
    zeros = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0])], ["vec_id", "embedding"]
    )
    s = S.prototypicality_scores(zeros, n_cells=4).collect()
    assert {(r.vec_id, r.cid, r.proto_score) for r in s} == {(0, -1, None), (1, -1, None)}
    p = S.prototype_prune(zeros, n_cells=4).collect()
    assert {r.vec_id for r in p} == {0, 1}
    empty = zeros.limit(0)
    assert S.prototypicality_scores(empty, n_cells=4).count() == 0


def test_prototype_prune_quota_decimal_intent(spark):
    """25 × 0.28 is 7.000000000000000444 in doubles — the quota must be
    ceil at the DECIMAL intent (7 kept), not 8."""
    import math
    import random

    rng = random.Random(2)
    rows = []
    for i in range(25):
        v = [rng.gauss(0, 1) for _ in range(4)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = S.prototype_prune(df, n_cells=1, keep_fraction=0.28).collect()
    assert len(kept) == 7, len(kept)


def test_semantic_dedup_random_corpus_survivor_property(spark):
    """Random-corpus variant of the survivor-rule check: on three
    seeded corpora (clustered / isotropic / duplicate-heavy), using the
    operator's own assignment, kept(v) == no smaller-id same-cell
    neighbor with round(cos, 6) >= t."""
    import math
    import random

    from orientdb_spark.pipeline import dedup

    for seed, dup_every in ((1, 3), (2, 0), (3, 1)):
        rng = random.Random(seed)
        rows = []
        base = None
        for i in range(80):
            if dup_every and base is not None and i % (dup_every + 1):
                v = list(base)
            else:
                raw = [rng.gauss(0, 1) for _ in range(6)]
                n = math.sqrt(sum(x * x for x in raw))
                v = [x / n for x in raw]
                base = v
            rows.append((i, v))
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = dedup.semantic_dedup(df, threshold=0.8, n_cells=4).collect()
        vecs = {i: v for i, v in rows}
        by_cell: dict[int, list[int]] = {}
        kept = {}
        for r in out:
            kept[r.vec_id] = r.is_kept
            by_cell.setdefault(r.cid, []).append(r.vec_id)
        for cid, ids in by_cell.items():
            ids.sort()
            for pos, b in enumerate(ids):
                vb = vecs[b]
                nb = math.sqrt(sum(x * x for x in vb))
                has = any(
                    round(
                        sum(x * y for x, y in zip(vecs[a], vb))
                        / (math.sqrt(sum(x * x for x in vecs[a])) * nb),
                        6,
                    )
                    >= 0.8
                    for a in ids[:pos]
                )
                assert kept[b] == (not has), (seed, cid, b)


def test_dsir_weights_order_invariant(spark):
    """Weights are a pure function of content — shuffling the input
    row order changes nothing."""
    import random

    from pyspark.sql import functions as F

    from orientdb_spark.pipeline import sampling

    rng = random.Random(9)
    rows = [(i, " ".join(f"w{rng.randrange(40)}" for _ in range(20)))
            for i in range(60)]
    src1 = spark.createDataFrame(rows, ["doc_id", "text"])
    src2 = spark.createDataFrame(list(reversed(rows)), ["doc_id", "text"]).repartition(7)
    tgt = src1.filter(F.col("doc_id") < 15)
    w1 = sorted(map(tuple, sampling.dsir_importance_weights(src1, tgt).collect()))
    w2 = sorted(map(tuple, sampling.dsir_importance_weights(src2, tgt).collect()))
    assert w1 == w2 and len(w1) == 60


def test_kcenter_frees_superseded_checkpoint_blocks(spark):
    """DataFrame.unpersist() is a no-op for localCheckpoint blocks, so
    the fold hygiene works at the RDD layer: after a k=12 run, executor
    block storage must hold no more persistent RDDs than before the run
    (every superseded fold's checkpoint freed, including the last)."""
    before = persisted_rdd_ids(spark)
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    S.kcenter_coreset(embs, k=12).collect()
    leaked = persisted_rdd_ids(spark) - before
    assert not leaked, f"leaked persistent RDD ids: {sorted(leaked)}"


# --- MMR diversified re-rank (Carbonell & Goldstein 1998) -------------------


def _mmr_fixture(spark):
    """8-dim corpus with a deliberate near-duplicate pair (ids 1 and 2)
    that are both highly relevant to query 0: plain top-k returns both
    back-to-back; MMR must split them."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),   # query
        (1, [0.9, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),   # relevant
        (2, [0.9, 0.11, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # near-dup of 1
        (3, [0.6, 0.0, 0.6, 0.0, 0.0, 0.0, 0.0, 0.0]),   # relevant, diverse
        (4, [0.5, 0.0, 0.0, 0.7, 0.0, 0.0, 0.0, 0.0]),   # diverse
        (5, [0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]),   # orthogonal
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_mmr_diversifies_past_near_duplicates(spark):
    from pyspark.sql import functions as F

    df = _mmr_fixture(spark)
    qs = df.filter(F.col("vec_id") == 0)
    plain = S.brute_force_topk(df, qs, k=3)
    mmr = S.mmr_topk(df, qs, k=3, m=5, lam=0.5)
    plain_ids = [r["neighbor_id"] for r in plain.orderBy("rank").collect()]
    mmr_ids = [r["neighbor_id"] for r in mmr.orderBy("mmr_rank").collect()]
    # relevance order puts the near-dup pair adjacent; MMR keeps the
    # first, defers the copy past a diverse pick
    assert plain_ids[:2] == [1, 2]
    assert mmr_ids[0] == 1 and mmr_ids[1] != 2
    assert 2 not in mmr_ids[:2]


def test_mmr_lam1_reduces_to_relevance_order(spark):
    from pyspark.sql import functions as F

    df = _mmr_fixture(spark)
    qs = df.filter(F.col("vec_id") == 0)
    plain = [r["neighbor_id"]
             for r in S.brute_force_topk(df, qs, k=4).orderBy("rank").collect()]
    mmr = [r["neighbor_id"]
           for r in S.mmr_topk(df, qs, k=4, m=5, lam=1.0).orderBy("mmr_rank").collect()]
    assert mmr == plain


def test_mmr_param_validation(spark):
    df = _mmr_fixture(spark)
    with pytest.raises(ValueError, match="lam"):
        S.mmr_topk(df, df, k=2, m=5, lam=1.5)
    with pytest.raises(ValueError, match="candidate pool"):
        S.mmr_topk(df, df, k=10, m=5)


def test_mmr_frees_superseded_checkpoint_blocks(spark):
    """Candidate/pair scaffolding and per-step selection states are
    freed; only the final selection's own checkpoint blocks survive
    (they back the returned frame)."""
    from pyspark.sql import functions as F

    before = persisted_rdd_ids(spark)
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = S.mmr_topk(embs, embs.filter(F.col("vec_id") < 4), k=5, m=20)
    assert out.count() == 20
    leaked = persisted_rdd_ids(spark) - before
    # exactly one surviving checkpoint: the returned state
    assert len(leaked) <= 1, f"leaked persistent RDD ids: {sorted(leaked)}"


def test_mmr_partition_invariance(spark):
    from pyspark.sql import functions as F

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < 3)
    a = sorted(map(tuple, S.mmr_topk(embs, qs, k=4, m=10).collect()))
    b = sorted(map(tuple, S.mmr_topk(embs.repartition(13), qs, k=4, m=10).collect()))
    assert a == b and len(a) == 12


def _mmr_reference_unrolled(corpus, queries, k, m, lam):
    """The pre-optimization mmr_topk greedy: k unrolled DataFrame steps
    (per-step pairs⋈selected groupBy-max + anti-join + row_number pick).
    Kept verbatim as the equivalence reference for the cogrouped-Arrow
    rewrite — same stage 1, same 6-dp +1e-12 grid, same tiebreaks."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from orientdb_spark.pipeline.common import (
        cosine_similarity,
        per_query_topk_rank,
        vec_norm,
    )

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("__qv"),
    ).withColumn("__qn", vec_norm(F.col("__qv")))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("__cv"),
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
    cands = (
        per_query_topk_rank(scored, m, [F.col("__c").desc(), F.col("neighbor_id")])
        .select(
            "query_id", "neighbor_id",
            F.round("__c", 6).alias("relevance"),
            F.col("__cv"), F.col("__cn"), "rank",
        )
        .localCheckpoint(eager=True)
    )
    a = cands.select(
        "query_id", F.col("neighbor_id").alias("__ia"),
        F.col("__cv").alias("__va"), F.col("__cn").alias("__na"),
    )
    b = cands.select(
        "query_id", F.col("neighbor_id").alias("__ib"),
        F.col("__cv").alias("__vb"), F.col("__cn").alias("__nb"),
    )
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("__ia") != F.col("__ib"))
        .select(
            "query_id", "__ia", "__ib",
            F.round(
                cosine_similarity(
                    F.col("__va"), F.col("__vb"),
                    norm_a=F.col("__na"), norm_b=F.col("__nb"),
                ),
                6,
            ).alias("__s"),
        )
        .localCheckpoint(eager=True)
    )
    lam_c, inv_c = F.lit(float(lam)), F.lit(1.0 - float(lam))
    slim = cands.select("query_id", "neighbor_id", "relevance", "rank")
    selected = slim.filter(F.col("rank") == 1).select(
        "query_id", "neighbor_id", "relevance",
        F.round(lam_c * F.col("relevance") + F.lit(1e-12), 6).alias("mmr_score"),
        F.lit(1).alias("mmr_rank"),
    )
    for t in range(2, k + 1):
        maxsim = (
            pairs.join(
                selected.select("query_id", F.col("neighbor_id").alias("__ib")),
                ["query_id", "__ib"],
            )
            .groupBy("query_id", F.col("__ia").alias("neighbor_id"))
            .agg(F.max("__s").alias("__maxsim"))
        )
        pick = (
            slim.join(
                selected.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_anti",
            )
            .join(maxsim, ["query_id", "neighbor_id"])
            .select(
                "query_id", "neighbor_id", "relevance",
                F.round(
                    lam_c * F.col("relevance") - inv_c * F.col("__maxsim")
                    + F.lit(1e-12),
                    6,
                ).alias("mmr_score"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("mmr_score").desc(), F.col("neighbor_id")
        )
        pick = (
            pick.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "query_id", "neighbor_id", "relevance", "mmr_score",
                F.lit(t).alias("mmr_rank"),
            )
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected


def _nan_safe(rows):
    return sorted(
        tuple("NaN" if isinstance(v, float) and v != v else v for v in r)
        for r in rows
    )


@pytest.mark.parametrize("lam", [0.5, 0.3])
def test_mmr_cogroup_matches_unrolled_reference(spark, lam):
    """The single-pass cogrouped-Arrow greedy is bit-identical to the
    unrolled k-step DataFrame greedy it replaced — including the
    Python-side replay of round(lam·rel − (1−lam)·maxsim + 1e-12, 6)."""
    from pyspark.sql import functions as F

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < 6)
    got = _nan_safe(S.mmr_topk(embs, qs, k=5, m=20, lam=lam).collect())
    want = _nan_safe(_mmr_reference_unrolled(embs, qs, k=5, m=20, lam=lam).collect())
    assert got == want and len(got) == 30


def test_mmr_cogroup_nan_null_semantics_match_reference(spark):
    """Zero-norm vectors (NaN cosines: NaN sorts greatest under DESC)
    and NULL vectors (NULL cosines: ignored by max, sorted last) flow
    through the Arrow greedy exactly as through the SQL one — the
    null-vs-NaN distinction survives both directions of the boundary."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.9, 0.11, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),   # zero norm -> NaN cosine
        (4, None),                    # NULL vector -> NULL cosine
        (5, [0.1, 0.0, 0.9, 0.0]),
        (6, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, schema)
    qs = df.filter("vec_id = 0")
    got = _nan_safe(S.mmr_topk(df, qs, k=5, m=6, lam=0.5).collect())
    want = _nan_safe(_mmr_reference_unrolled(df, qs, k=5, m=6, lam=0.5).collect())
    assert got == want and len(got) == 5


def test_mmr_score_rounding_to_zero_from_below_yields_positive_zero(spark):
    """Signed-zero parity with the JVM round (r13 advice): a greedy
    score of -4.99999e-7 rounds to ZERO at 6 dp — BigDecimal HALF_UP
    (the unrolled reference, and Spark's round()) has no -0 and yields
    +0.0, while Decimal(repr(x)).quantize keeps the sign. The Arrow
    greedy must normalize, or a rendered-hash oracle ('-0.0' vs '0.0')
    diverges. Fixture: rel_B rounds to 0.600000, sim(B, first pick)
    rounds to 0.600001, so the lam=0.5 step-2 score is
    0.5*(rel - maxsim) + 1e-12 = -4.99999e-7."""
    import math

    b1 = 0.6
    b2 = 0.6000010 * math.sqrt(2.0) - b1          # sim(B, A) -> 0.600001
    b3 = math.sqrt(1.0 - b1 * b1 - b2 * b2)       # unit norm
    rows = [
        (0, [1.0, 0.0, 0.0]),       # query
        (1, [1.0, 1.0, 0.0]),       # pick 1 (rel ~0.7071)
        (2, [b1, b2, b3]),          # pick 2: score rounds to zero from below
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = df.filter("vec_id = 0")
    got = {
        r["neighbor_id"]: r["mmr_score"]
        for r in S.mmr_topk(df, qs, k=2, m=5, lam=0.5).collect()
    }
    assert got[2] == 0.0
    # the actual advice case: equality can't see the sign (-0.0 == 0.0)
    assert math.copysign(1.0, got[2]) == 1.0, f"got -0.0: {got[2]!r}"
    # and the JVM-rounded unrolled reference agrees bit-for-bit
    want = {
        r["neighbor_id"]: r["mmr_score"]
        for r in _mmr_reference_unrolled(df, qs, k=2, m=5, lam=0.5).collect()
    }
    assert math.copysign(1.0, want[2]) == 1.0
    assert got == want


# --- hybrid RRF fusion (Cormack et al. 2009) --------------------------------


def test_hybrid_rrf_fuses_both_rank_lists(spark):
    """A doc at lexical rank a and vector rank b scores exactly
    1/(60+a) + 1/(60+b); single-list docs carry a NULL for the missing
    rank and only that list's term."""
    docs = spark.createDataFrame(
        [
            (1, "spark join window spark"),   # strong lexical
            (2, "spark join"),                # lexical only
            (3, "nothing relevant here"),     # vector only
            (4, "filler text row"),
        ],
        ["doc_id", "text"],
    )
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),   # query
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),   # orthogonal: bottom of vector list
            (3, [0.95, 0.0, 0.1]),  # top vector hit
            (4, [0.1, 0.9, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    from pyspark.sql import functions as F

    out = S.hybrid_rrf_topk(
        docs, embs, ["spark", "join", "window"],
        embs.filter(F.col("vec_id") == 0), k=4, m=3,
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # doc 1: lexical rank 1 (highest tf-idf sum), vector rank 2
    assert by_id[1]["lex_rank"] == 1 and by_id[1]["vec_rank"] == 2
    assert by_id[1]["rrf_score"] == round(1 / 61 + 1 / 62 + 1e-12, 6)
    # doc 3: no query terms -> NULL lexical rank, vector rank 1
    assert by_id[3]["lex_rank"] is None and by_id[3]["vec_rank"] == 1
    assert by_id[3]["rrf_score"] == round(1 / 61 + 1e-12, 6)
    # fused order: doc 1 (two lists) beats every single-list doc
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["fused_rank"])][0] == 1


def test_hybrid_rrf_requires_terms(spark):
    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="query_terms"):
        S.hybrid_rrf_topk(docs, docs, [], docs)


def test_hybrid_rrf_rejects_multirow_query_vec(spark):
    docs = spark.createDataFrame([(1, "spark x")], ["doc_id", "text"])
    embs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="exactly one row"):
        S.hybrid_rrf_topk(docs, embs, ["spark"], embs)  # 2-row query_vec


# --- margin-based bitext mining (Artetxe & Schwenk 2019) --------------------


def _bitext_fixture(spark):
    """Two 4-dim 'languages'. src 0 and tgt 10 are a clean mutual pair;
    src 1 and tgt 11 likewise; tgt 12 is a HUB (similar to both srcs)
    whose margin should be normalized away; src 2 has no good match."""
    src = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.1]),
            (1, [0.0, 1.0, 0.0, 0.1]),
            (2, [0.0, 0.0, 1.0, 0.0]),
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    tgt = spark.createDataFrame(
        [
            (10, [0.98, 0.05, 0.0, 0.1]),
            (11, [0.05, 0.98, 0.0, 0.1]),
            (12, [0.6, 0.6, 0.0, 0.2]),   # hub: close to src 0 AND 1
            (13, [0.0, 0.0, 0.1, 1.0]),
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    return src, tgt


def test_bitext_mine_mutual_pairs_and_hub_suppression(spark):
    src, tgt = _bitext_fixture(spark)
    out = S.bitext_mine(src, tgt, k=2, threshold=1.0).collect()
    got = {(r["src_id"], r["tgt_id"]) for r in out}
    # the two clean translations are mined; the hub never wins a pair
    assert (0, 10) in got and (1, 11) in got
    assert all(t != 12 for _, t in got)
    # mutual top-1 means each src and each tgt appears at most once
    srcs = [r["src_id"] for r in out]
    tgts = [r["tgt_id"] for r in out]
    assert len(srcs) == len(set(srcs)) and len(tgts) == len(set(tgts))
    for r in out:
        assert r["margin"] >= 1.0


def test_bitext_mine_threshold_monotone(spark):
    src, tgt = _bitext_fixture(spark)
    lo = {(r["src_id"], r["tgt_id"])
          for r in S.bitext_mine(src, tgt, k=2, threshold=0.0).collect()}
    hi = {(r["src_id"], r["tgt_id"])
          for r in S.bitext_mine(src, tgt, k=2, threshold=1.2).collect()}
    assert hi <= lo


def test_bitext_mine_drops_zero_norm_and_is_partition_invariant(spark):
    src, tgt = _bitext_fixture(spark)
    src_z = src.union(
        spark.createDataFrame([(9, [0.0, 0.0, 0.0, 0.0])],
                              "vec_id LONG, embedding ARRAY<DOUBLE>")
    )
    a = sorted(map(tuple, S.bitext_mine(src_z, tgt, k=2).collect()))
    b = sorted(map(tuple, S.bitext_mine(
        src_z.repartition(7), tgt.repartition(5), k=2).collect()))
    assert a == b
    assert all(r[0] != 9 for r in a)
    with pytest.raises(ValueError, match="k >= 1"):
        S.bitext_mine(src, tgt, k=0)


def _mined_set(df):
    return {(r["src_id"], r["tgt_id"], r["cosine"], r["margin"])
            for r in df.collect()}


def test_bitext_mine_ivf_full_probe_matches_exact(spark):
    """The ANN stage-1 equivalence gate (r12 verdict item 2): at full
    probe (nprobe = n_cells) with k_candidates >= |corpus| and the
    deterministic h60-seed quantizer, the IVF candidate list IS the
    full cross product, so stages 2-4 must reproduce the exact path
    bit-for-bit — same pairs, same 6-dp cosines and margins."""
    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    from pyspark.sql import functions as F

    src = embs.filter(F.col("vec_id") % 2 == 0)
    tgt = embs.filter(F.col("vec_id") % 2 == 1)
    exact = S.bitext_mine(src, tgt, k=4, threshold=1.0)
    ann = S.bitext_mine(
        src, tgt, k=4, threshold=1.0, method="ivf",
        k_candidates=500, n_cells=4, nprobe=4, refine_iters=0,
    )
    ex, an = _mined_set(exact), _mined_set(ann)
    assert ex == an and len(ex) > 0


def test_bitext_mine_ivf_moderate_settings_recall(spark):
    """Production-shaped settings (partial probe, k' = 2k candidates)
    must still recover >= 0.9 of the exact path's mined pairs — the
    verdict's recall gate. Deterministic: h60 seeds, refine_iters=0."""
    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    from pyspark.sql import functions as F

    src = embs.filter(F.col("vec_id") % 2 == 0)
    tgt = embs.filter(F.col("vec_id") % 2 == 1)
    exact = {(r["src_id"], r["tgt_id"])
             for r in S.bitext_mine(src, tgt, k=4, threshold=1.0).collect()}
    ann = {(r["src_id"], r["tgt_id"])
           for r in S.bitext_mine(
               src, tgt, k=4, threshold=1.0, method="ivf",
               n_cells=4, nprobe=3, refine_iters=0,
           ).collect()}
    assert len(exact) > 0
    assert len(ann & exact) / len(exact) >= 0.9


def test_bitext_mine_ivf_plan_has_no_corpus_cross_join(spark):
    """The scale pin: the IVF path's margin/mutual stages contain ZERO
    nested-loop joins — the scored candidate list is cut behind a lazy
    localCheckpoint (materialized once, O(N·k'), instead of replaying
    the candidate generation per downstream reference), and everything
    above it is hash joins + windows. The ivf_topk generator's own
    probe shape is pinned in the ANN suite. Since the r13 optimization
    round the exact path is nested-loop-free too: stage 1 is ONE
    chunked-dgemm Arrow pass (a MapInArrow/PythonMapInArrow node) over
    the corpus side, materialized once behind the same lazy
    localCheckpoint instead of replaying a broadcast corpus scan per
    margin stage."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from pyspark.sql import functions as F

    src = embs.filter(F.col("vec_id") % 2 == 0)
    tgt = embs.filter(F.col("vec_id") % 2 == 1)
    ann = S.bitext_mine(src, tgt, k=4, method="ivf",
                        n_cells=4, nprobe=3, refine_iters=0)
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 0, plan
    exact_plan = (
        S.bitext_mine(src, tgt, k=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert exact_plan.count("BroadcastNestedLoopJoin") == 0, exact_plan
    assert exact_plan.count("CartesianProduct") == 0, exact_plan
    # the dgemm scorer itself sits behind the lazy localCheckpoint cut
    # (the margin stages read the materialized slim pair table), so the
    # Arrow node is pinned on the scorer's own plan, not the final one
    scorer_plan = (
        S._exact_pair_scores_dgemm(
            src.selectExpr("vec_id AS src_id",
                           "CAST(embedding AS ARRAY<DOUBLE>) AS __sv")
               .selectExpr("src_id", "__sv",
                           "SQRT(AGGREGATE(ZIP_WITH(__sv, __sv, (x, y) -> x * y), "
                           "CAST(0.0 AS DOUBLE), (a, v) -> a + v)) AS __sn"),
            tgt.selectExpr("vec_id AS tgt_id",
                           "CAST(embedding AS ARRAY<DOUBLE>) AS __tv")
               .selectExpr("tgt_id", "__tv",
                           "SQRT(AGGREGATE(ZIP_WITH(__tv, __tv, (x, y) -> x * y), "
                           "CAST(0.0 AS DOUBLE), (a, v) -> a + v)) AS __tn"),
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInArrow" in scorer_plan or "PythonMapInArrow" in scorer_plan, scorer_plan


def test_bitext_exact_dgemm_matches_fold_scorer(spark):
    """FP-parity gate for the r13 dgemm stage 1: the full pair grid it
    emits must be BIT-IDENTICAL (ids and 6-dp grid cosines) to the
    Column-fold crossJoin scorer it replaced — the midpoint guard's
    contract (the r11 decontaminate dgemm convention)."""
    from pyspark.sql import functions as F
    from orientdb_spark.pipeline.common import cosine_similarity, vec_norm
    from orientdb_spark.pipeline.similarity import _exact_pair_scores_dgemm

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    s = (
        embs.filter(F.col("vec_id") % 2 == 0)
        .select(
            F.col("vec_id").alias("src_id"),
            F.col("embedding").cast("array<double>").alias("__sv"),
        )
        .withColumn("__sn", vec_norm(F.col("__sv")))
        .filter(F.col("__sn") > 0)
    )
    t = (
        embs.filter(F.col("vec_id") % 2 == 1)
        .select(
            F.col("vec_id").alias("tgt_id"),
            F.col("embedding").cast("array<double>").alias("__tv"),
        )
        .withColumn("__tn", vec_norm(F.col("__tv")))
        .filter(F.col("__tn") > 0)
    )
    fold = F.broadcast(s).crossJoin(t).select(
        "src_id",
        "tgt_id",
        F.round(
            cosine_similarity(
                F.col("__sv"), F.col("__tv"),
                norm_a=F.col("__sn"), norm_b=F.col("__tn"),
            )
            + F.lit(1e-12),
            6,
        ).alias("c"),
    )
    a = sorted(tuple(r) for r in fold.collect())
    b = sorted(tuple(r) for r in _exact_pair_scores_dgemm(s, t).collect())
    assert len(a) == len(b) and len(a) > 0
    assert a == b


def test_bitext_mine_candidates_injection_matches_exact(spark):
    """candidates= is the open injection point: feeding the full pair
    list through it must reproduce the exact path (cosines are
    recomputed on the 6-dp grid inside, so any generator works)."""
    src, tgt = _bitext_fixture(spark)
    full = src.selectExpr("vec_id AS src_id").crossJoin(
        tgt.selectExpr("vec_id AS tgt_id"))
    a = _mined_set(S.bitext_mine(src, tgt, k=2, threshold=1.0))
    b = _mined_set(S.bitext_mine(src, tgt, k=2, threshold=1.0,
                                 candidates=full))
    assert a == b and len(a) > 0


def test_bitext_mine_ivf_restores_same_id_pairs(spark):
    """ivf_topk's query_id != neighbor_id self-filter must not lose
    same-id pairs when the two sides share an id space: the equi-join
    union restores them. Fixture: the clean mutual pair shares id 0."""
    src = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.1]), (1, [0.0, 1.0, 0.0, 0.1]),
         (2, [0.0, 0.0, 1.0, 0.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    tgt = spark.createDataFrame(
        [(0, [0.98, 0.05, 0.0, 0.1]), (3, [0.05, 0.98, 0.0, 0.1]),
         (4, [0.0, 0.0, 0.1, 1.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    got = {(r["src_id"], r["tgt_id"])
           for r in S.bitext_mine(
               src, tgt, k=2, threshold=1.0, method="ivf",
               k_candidates=10, n_cells=2, nprobe=2, refine_iters=0,
           ).collect()}
    assert (0, 0) in got


def test_bitext_mine_method_validation(spark):
    src, tgt = _bitext_fixture(spark)
    with pytest.raises(ValueError, match="method"):
        S.bitext_mine(src, tgt, method="hnsw")
    with pytest.raises(ValueError, match="k_candidates"):
        S.bitext_mine(src, tgt, k=4, method="ivf", k_candidates=2)


def test_bitext_exact_src_collect_is_size_gated(spark, monkeypatch):
    """The exact path collects the src side to the DRIVER (the r13 dgemm
    rewrite replaced an executor broadcast): above the gate it must fail
    fast with a message pointing at method='ivf', never OOM the driver.
    The limit(N+1) probe also bounds what the failed attempt itself can
    pull. Below the gate, results are unchanged."""
    src, tgt = _bitext_fixture(spark)
    monkeypatch.setenv("SPARK_GRAFT_BITEXT_EXACT_MAX_SRC", "2")
    with pytest.raises(ValueError, match="ivf"):
        S.bitext_mine(src, tgt, k=2, threshold=1.0).collect()
    monkeypatch.setenv("SPARK_GRAFT_BITEXT_EXACT_MAX_SRC", "100000")
    assert len(_mined_set(S.bitext_mine(src, tgt, k=2, threshold=1.0))) > 0


def test_bitext_exact_gate_names_malformed_env(spark, monkeypatch):
    """A malformed size gate fails with an error naming the variable,
    not a bare int() parse error."""
    src, tgt = _bitext_fixture(spark)
    for bad in ("lots", "0"):
        monkeypatch.setenv("SPARK_GRAFT_BITEXT_EXACT_MAX_SRC", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_BITEXT_EXACT_MAX_SRC"):
            S.bitext_mine(src, tgt, k=2, threshold=1.0).collect()


# --- hard-negative mining (DPR, Karpukhin et al. 2020) -----------------------


def _hardneg_fixture(spark):
    """5-doc corpus, 2 queries. Query 0's nearest doc (10) is its
    labeled positive, so negative mining must skip it and return the
    next-best docs."""
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0]),    # q0's positive (closest to q0)
            (11, [0.9, 0.1, 0.0]),    # q0's hardest negative
            (12, [0.5, 0.5, 0.0]),
            (13, [0.0, 1.0, 0.0]),    # q1's positive
            (14, [0.0, 0.9, 0.2]),    # q1's hardest negative
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.05, 0.0]), (1, [0.05, 1.0, 0.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    positives = spark.createDataFrame(
        [(0, 10), (1, 13)], "query_id LONG, pos_id LONG"
    )
    return corpus, queries, positives


def test_hard_negatives_excludes_positives_before_rank(spark):
    corpus, queries, positives = _hardneg_fixture(spark)
    out = S.hard_negatives(corpus, queries, positives, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # k negatives per query even though the positive IS the top-1 doc
    assert {q: len(v) for q, v in by_q.items()} == {0: 2, 1: 2}
    mined = {(r["query_id"], r["neighbor_id"]) for r in out}
    assert (0, 10) not in mined and (1, 13) not in mined
    # rank 1 = the hardest non-positive neighbor
    rank1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert rank1 == {0: 11, 1: 14}


def test_hard_negatives_ivf_full_probe_matches_exact(spark):
    """Full probe + candidate headroom >= |corpus| makes the IVF path's
    candidate set complete, so mined negatives must equal the exact
    path's."""
    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    from pyspark.sql import functions as F

    queries = embs.filter(F.col("vec_id") < 8)
    # positives: each query's exact top-1 neighbor (the DPR shape)
    positives = (
        S.brute_force_topk(embs, queries, k=1)
        .select("query_id", F.col("neighbor_id").alias("pos_id"))
    )
    exact = {(r["query_id"], r["neighbor_id"], r["rank"])
             for r in S.hard_negatives(embs, queries, positives, k=5).collect()}
    ann = {(r["query_id"], r["neighbor_id"], r["rank"])
           for r in S.hard_negatives(
               embs, queries, positives, k=5, method="ivf",
               k_candidates=500, n_cells=4, nprobe=4, refine_iters=0,
           ).collect()}
    assert exact == ann and len(exact) == 40


def test_hard_negatives_ivf_plan_has_no_corpus_cross_join(spark):
    """Scale pin: the IVF path's only nested-loop join is the single
    bounded centroid probe; the exact path's corpus scoring join is the
    one BroadcastNestedLoopJoin it is by construction."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from pyspark.sql import functions as F

    queries = embs.filter(F.col("vec_id") < 4)
    positives = queries.select(
        F.col("vec_id").alias("query_id"),
        (F.col("vec_id") + 10).alias("pos_id"),
    )
    ann = S.hard_negatives(embs, queries, positives, k=3, method="ivf",
                           n_cells=4, nprobe=3, refine_iters=0)
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    exact_plan = (
        S.hard_negatives(embs, queries, positives, k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert exact_plan.count("BroadcastNestedLoopJoin") == 1, exact_plan


def test_hard_negatives_validation(spark):
    corpus, queries, positives = _hardneg_fixture(spark)
    with pytest.raises(ValueError, match="k >= 1"):
        S.hard_negatives(corpus, queries, positives, k=0)
    with pytest.raises(ValueError, match="method"):
        S.hard_negatives(corpus, queries, positives, method="flat")
    with pytest.raises(ValueError, match="k_candidates"):
        S.hard_negatives(corpus, queries, positives, k=5,
                         method="ivf", k_candidates=3)


def test_pr_eval_properties_vs_python(spark):
    """Property check vs a pure-python replay on pseudo-random ranked
    lists: all metrics in [0,1], n_hits consistency, and exact value
    agreement for precision/recall/AP."""
    import hashlib

    from orientdb_spark.pipeline.similarity import pr_eval

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest(), 16)

    ranked, labels = [], []
    for q in range(12):
        docs = [f"d{q}_{i}" for i in range(15)]
        docs.sort(key=lambda d: h("r" + d))
        for rank, d in enumerate(docs[:10], start=1):
            ranked.append((q, d, rank))
        rel_docs = [d for d in docs if h("l" + d) % 3 == 0]
        for d in rel_docs:
            labels.append((q, d, 1))
    rdf = spark.createDataFrame(ranked, "query_id long, neighbor_id string, rank int")
    ldf = spark.createDataFrame(labels, "query_id long, neighbor_id string, rel int")
    got = {r["query_id"]: r.asDict() for r in pr_eval(rdf, ldf, k=10).collect()}

    lab_by_q = {}
    for q, d, _ in labels:
        lab_by_q.setdefault(q, set()).add(d)
    top_by_q = {}
    for q, d, rank in ranked:
        top_by_q.setdefault(q, []).append((rank, d))
    for q, rel in lab_by_q.items():
        hits = sorted(
            (rank, d) for rank, d in top_by_q.get(q, []) if d in rel
        )
        n_hits = len(hits)
        ap = (
            sum((i + 1) / rank for i, (rank, _) in enumerate(hits))
            / min(len(rel), 10)
        )
        row = got[q]
        assert row["n_rel"] == len(rel) and row["n_hits"] == n_hits
        assert row["precision_k"] == round(n_hits / 10 + 1e-12, 6)
        assert row["recall_k"] == round(n_hits / len(rel) + 1e-12, 6)
        assert abs(row["ap"] - ap) < 2e-6
        assert 0.0 <= row["ap"] <= 1.0 and 0.0 <= row["recall_k"] <= 1.0


def test_heavy_hitters_spacesaving_guarantees(spark):
    """Space-saving invariants on a pseudo-random capped stream: the
    summary never undercounts (est >= true), the error bound holds
    (est - err <= true), and every item with true count > N/capacity
    survives (the heavy-hitter guarantee)."""
    import datetime as dt
    import hashlib

    from orientdb_spark.streaming import heavy_hitters_stream

    t0 = dt.datetime(2024, 1, 1)
    rows, true = [], {}
    for i in range(600):
        # zipf-ish: item id = md5 driven, squashed to favor small ids
        item = int(hashlib.md5(f"i{i}".encode()).hexdigest(), 16) % 40
        item = item % (1 + item % 7)  # heavier head
        true[item] = true.get(item, 0) + 1
        rows.append((i, t0 + dt.timedelta(seconds=i), "g", item))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, item long"
    )
    cap = 5
    got = {
        r["item"]: r.asDict()
        for r in heavy_hitters_stream(
            ev, group_cols=("event_type",), item_col="item",
            capacity=cap, top_k=cap,
        ).collect()
    }
    n = len(rows)
    assert len(got) <= cap
    for item, row in got.items():
        t = true.get(item, 0)
        assert row["est_count"] >= t                      # never undercount
        assert row["est_count"] - row["max_err"] <= t     # bound holds
    for item, t in true.items():
        if t > n / cap:                                   # guaranteed survivor
            assert item in got
