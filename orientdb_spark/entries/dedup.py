"""Deduplication and decontamination: exact, fingerprint, MinHash,
SimHash, n-gram and embedding near-duplicates.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from orientdb_spark.entries._registry import register
from orientdb_spark.entries._shared import (
    _COS,
    _DK_TOKS_RAW,
    _NORM_TEXT,
    _dk_h60,
    _docs,
    _embs,
    _minhash_oracle_sql,
)


# pipeline: dedup
@register("dedup_exact", tags=("headline", "smoke", "sf_scale"), oracle=(
    "SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS canonical_id "
    "FROM (SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000, text FROM documents) "
    "GROUP BY md5(text) HAVING count(*) > 1"
))
def _dedup_exact(spark, sf_dir):
    from orientdb_spark.pipeline import dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recrawl = docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return dedup.exact_duplicate_groups(docs.unionByName(recrawl))


@register("dedup_cluster_size_report", tags=("sf_scale",), oracle=(
    # cluster sizes over the same recrawl fixture, the identical
    # half-open literal bins, exact integer aggregates, the
    # corpus fraction as the single division
    "WITH u AS (SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000, text FROM documents "
    "WHERE doc_id % 2 = 0 "
    "UNION ALL SELECT doc_id + 2000000, text FROM documents "
    "WHERE doc_id % 10 = 0), "
    "s AS (SELECT count(*)::BIGINT AS n FROM u GROUP BY md5(text)), "
    "t AS (SELECT count(*)::DOUBLE AS corpus FROM u), "
    "b AS (SELECT n, "
    "CASE WHEN n < 2 THEN 0 WHEN n < 3 THEN 1 WHEN n < 5 THEN 2 "
    "WHEN n < 9 THEN 3 WHEN n < 17 THEN 4 WHEN n < 33 THEN 5 "
    "WHEN n < 65 THEN 6 WHEN n < 129 THEN 7 WHEN n < 1025 THEN 8 "
    "ELSE 9 END AS bucket_id, "
    "(CASE WHEN n < 2 THEN 1 WHEN n < 3 THEN 2 WHEN n < 5 THEN 3 "
    "WHEN n < 9 THEN 5 WHEN n < 17 THEN 9 WHEN n < 33 THEN 17 "
    "WHEN n < 65 THEN 33 WHEN n < 129 THEN 65 WHEN n < 1025 THEN 129 "
    "ELSE 1025 END)::BIGINT AS bucket_lo, "
    "(CASE WHEN n < 2 THEN 1 WHEN n < 3 THEN 2 WHEN n < 5 THEN 4 "
    "WHEN n < 9 THEN 8 WHEN n < 17 THEN 16 WHEN n < 33 THEN 32 "
    "WHEN n < 65 THEN 64 WHEN n < 129 THEN 128 WHEN n < 1025 THEN 1024 "
    "END)::BIGINT AS bucket_hi FROM s) "
    "SELECT bucket_id::INTEGER AS bucket_id, bucket_lo, bucket_hi, "
    "count(*)::BIGINT AS n_clusters, sum(n)::BIGINT AS n_docs, "
    "(sum(n) - count(*))::BIGINT AS n_removable, "
    "round(sum(n)::DOUBLE / greatest(corpus, 1.0) + 1e-12, 6) "
    "AS frac_of_corpus "
    "FROM b, t GROUP BY bucket_id, bucket_lo, bucket_hi, corpus"
))
def _dedup_cluster_size_report(spark, sf_dir):
    """Duplicate-cluster size distribution (pipeline/dedup.
    cluster_size_report): the recrawl-union fixture log-binned by
    exact-dup cluster size — n_clusters / n_docs / n_removable /
    frac_of_corpus per bucket, uniques included so the buckets
    partition the corpus. All-integer binning + one division;
    oracle-exact trivially."""
    from orientdb_spark.pipeline import dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recrawl = docs.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    recrawl2 = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    return dedup.cluster_size_report(
        docs.unionByName(recrawl).unionByName(recrawl2)
    )


@register("dedup_fingerprint", oracle=(
    f"SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint FROM documents"
))
def _dedup_fingerprint(spark, sf_dir):
    from orientdb_spark.pipeline import dedup

    return dedup.doc_fingerprints(_docs(spark, sf_dir))


@register(
    "dedup_minhash_lsh",
    tags=("headline", "smoke", "sf_scale"),
    oracle=_minhash_oracle_sql(),
)
def _dedup_minhash(spark, sf_dir):
    from orientdb_spark.pipeline import dedup

    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.9)


def _near_dup_stream_oracle_sql(
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    threshold: float = 0.7,
    bucket_cap: int = 32,
) -> str:
    """Batch-path replay of streaming.near_dup_pairs_stream over the
    recrawl corpus: the _minhash_oracle_sql signature/band machinery,
    then per-bucket (ts, id)-ranked pairs — b must PRECEDE a and sit
    within the first ``bucket_cap`` ranks (the state-add rule), and
    est_jaccard is the agreeing-position fraction (exact dyadic m/16,
    no rounding ambiguity)."""
    from orientdb_spark.pipeline.common import MINHASH_P, MINHASH_PARAMS

    rows = num_hashes // bands
    sigs = ", ".join(
        f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {MINHASH_P})) AS s_{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS[:num_hashes])
    )
    band_exprs = ", ".join(
        _dk_h60(
            "concat_ws('-', "
            + ", ".join(f"s_{b * rows + r}::VARCHAR" for r in range(rows))
            + ")"
        )
        + f" AS b_{b}"
        for b in range(bands)
    )
    posts = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, b_{b} AS bhash FROM band"
        for b in range(bands)
    )
    sl = "[" + ", ".join(f"s_{i}" for i in range(num_hashes)) + "]"
    tok_hash = _dk_h60("x") + f" % {MINHASH_P}"
    return f"""
WITH corpus AS (SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
t0 AS (SELECT doc_id, {_DK_TOKS_RAW} AS t FROM corpus),
toks AS (SELECT doc_id, list_sort(list_distinct(list_transform(
           range(1, greatest(len(t) - {shingle} + 2, 1)),
           i -> array_to_string(t[i:i+{shingle - 1}], ' ')))) AS t
         FROM t0 WHERE len(t) >= {shingle}),
h AS (SELECT doc_id, list_transform(t, x -> {tok_hash}) AS hs FROM toks),
sig AS MATERIALIZED (SELECT doc_id, {sigs} FROM h),
band AS (SELECT doc_id, {band_exprs} FROM sig),
sigl AS (SELECT doc_id, {sl} AS sl FROM sig),
posts0 AS ({posts}),
bkt AS MATERIALIZED (SELECT band, bhash, doc_id, row_number() OVER (
  PARTITION BY band, bhash ORDER BY doc_id % 1000000, doc_id) AS rk FROM posts0),
p AS (SELECT a.doc_id AS doc_id, b.doc_id AS dup_of, a.band,
        len(list_filter(range(1, {num_hashes + 1}),
            i -> sa.sl[i] = sb.sl[i]))::DOUBLE / {num_hashes} AS est
      FROM bkt a JOIN bkt b ON a.band = b.band AND a.bhash = b.bhash
        AND b.rk < a.rk AND b.rk <= {bucket_cap}
      JOIN sigl sa ON sa.doc_id = a.doc_id
      JOIN sigl sb ON sb.doc_id = b.doc_id)
SELECT doc_id, dup_of, band, round(est, 6) AS est_jaccard
FROM p WHERE est >= {threshold}
"""


@register("dedup_near_dup_stream", tags=("sf_scale",), oracle=_near_dup_stream_oracle_sql())
def _dedup_near_dup_stream(spark, sf_dir):
    """Ingest-time streaming near-dup detection, batch path
    (streaming.near_dup_pairs_stream — the stream analog of
    minhash_lsh_pairs_incremental): docs plus a recrawl of every 5th
    doc arrive in (ts, id) order; each probes its LSH band buckets
    against PRIOR signatures (bucket state capped at 32, first
    arrivals win) and emits (doc_id, dup_of, band, est_jaccard) match
    rows. The static-frame path runs the identical per-bucket loop via
    applyInPandas (pytest pins stream==batch); the oracle replays
    signatures, band routing, the (ts, id) rank, the cap rule, and the
    agreeing-position estimator in SQL. est values are exact dyadic
    (m/16), so the hash check is rounding-free."""
    from orientdb_spark.streaming import near_dup_pairs_stream

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recrawl = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(recrawl).withColumn(
        "ts", F.timestamp_seconds(F.col("doc_id") % 1000000)
    )
    return near_dup_pairs_stream(corpus, threshold=0.7).select(
        "doc_id", "dup_of", "band", "est_jaccard"
    )


# incremental contract: the FULL-run replay restricted to pairs
# with >= 1 new (doc_id % 10 = 0) side — cap verdicts included
@register("dedup_minhash_incremental", tags=("sf_scale",), oracle=_minhash_oracle_sql(
    threshold=0.7, pair_filter="id_a % 10 = 0 OR id_b % 10 = 0"
))
def _dedup_minhash_incremental(spark, sf_dir):
    """Incremental MinHash-LSH dedup (dedup.minhash_lsh_pairs_
    incremental): the ingest-batch shape — docs with doc_id % 10 == 0
    are the new batch, the rest the already-deduped corpus. The batch's
    band postings BROADCAST against the corpus posting list (no corpus
    shuffle), touched buckets reassemble for exact cap parity, verify
    re-shingles only collided corpus docs. Oracle = the full-run
    minhash replay restricted to pairs with >= 1 new side — the
    operator's equivalence contract, hash-checked. threshold=0.7 so the
    sf fixtures yield cross-boundary pairs."""
    from orientdb_spark.pipeline import dedup

    docs = _docs(spark, sf_dir)
    return dedup.minhash_lsh_pairs_incremental(
        docs.filter("doc_id % 10 = 0"),
        docs.filter("doc_id % 10 != 0"),
        threshold=0.7,
    )


@register("dedup_decontaminate", oracle=(
    # mirrors pipeline/dedup.decontaminate(method='winnow',
    # min_shared=100, k=5, window=4) with refset = doc_id % 10 == 0
    f"WITH nrm AS (SELECT doc_id, {_NORM_TEXT} AS t FROM documents), "
    "g AS (SELECT doc_id, list_transform(range(1, length(t) - 5 + 2), "
    f"i -> {_dk_h60('substring(t, i::INTEGER, 5)')}) AS hs "
    "FROM nrm WHERE length(t) >= 5), "
    "fps AS (SELECT doc_id, unnest(list_distinct(list_transform("
    "range(1, greatest(len(hs) - 4 + 2, 2)), "
    "j -> list_min(hs[j::INTEGER:j::INTEGER+3])))) AS fp FROM g), "
    "ref AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 = 0), "
    "bad AS (SELECT f.doc_id FROM fps f JOIN ref USING (fp) "
    "WHERE f.doc_id % 10 != 0 GROUP BY f.doc_id HAVING count(*) >= 100) "
    "SELECT d.doc_id, d.lang, d.source FROM documents d "
    "WHERE d.doc_id % 10 != 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)"
))
def _dedup_decontaminate(spark, sf_dir):
    """Winnow-based benchmark decontamination: docs with doc_id % 10 == 0
    play the eval/reference set; the returned rows are the training docs
    sharing < 100 winnowing fingerprints with it. The threshold sits near
    the corpus median (~90) because the synthetic documents are template-
    generated and heavily self-similar — a real web corpus uses small
    min_shared; here the high cut keeps the result discriminative (a
    0-row or all-row output would be a weak correctness signal)."""
    from orientdb_spark.pipeline import dedup

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    refset = docs.filter(F.col("doc_id") % 10 == 0)
    clean = dedup.decontaminate(train, refset, method="winnow", min_shared=100)
    return clean.select("doc_id", "lang", "source")


@register("dedup_decontaminate_report", tags=("sf_scale",), oracle=(
    # same winnow replay (k=25, window=16 — the selective entry
    # params), aggregated per REF doc: pair shared-fp counts
    # >= 10, then per ref_id (count, max, worst offender = most
    # shared / smallest train id). fps is referenced twice
    # (self-join) and pairs twice (rk, ag) -> AS MATERIALIZED, or
    # DuckDB re-executes the whole winnow chain per reference
    # (the NOTES_r11 inlining lesson; measured 40+ min at sf5
    # un-materialized)
    f"WITH nrm AS MATERIALIZED (SELECT doc_id, {_NORM_TEXT} AS t "
    "FROM documents), "
    "g AS MATERIALIZED (SELECT doc_id, "
    "list_transform(range(1, length(t) - 25 + 2), "
    f"i -> {_dk_h60('substring(t, i::INTEGER, 25)')}) AS hs "
    "FROM nrm WHERE length(t) >= 25), "
    "fps AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform("
    "range(1, greatest(len(hs) - 16 + 2, 2)), "
    "j -> list_min(hs[j::INTEGER:j::INTEGER+15])))) AS fp FROM g), "
    "pairs AS MATERIALIZED (SELECT r.doc_id AS ref_id, t.doc_id AS train_id, "
    "count(*)::BIGINT AS ns FROM fps t JOIN fps r ON t.fp = r.fp "
    "WHERE t.doc_id % 10 != 0 AND r.doc_id % 10 = 0 "
    "GROUP BY 1, 2 HAVING count(*) >= 10), "
    "rk AS (SELECT ref_id, train_id, row_number() OVER ("
    "PARTITION BY ref_id ORDER BY ns DESC, train_id ASC) AS rk "
    "FROM pairs), "
    "ag AS (SELECT ref_id, count(*)::BIGINT AS n_contaminated, "
    "max(ns)::BIGINT AS max_shared FROM pairs GROUP BY ref_id) "
    "SELECT ag.ref_id, ag.n_contaminated, ag.max_shared, "
    "rk.train_id AS top_train_id FROM ag "
    "JOIN rk ON ag.ref_id = rk.ref_id AND rk.rk = 1"
))
def _dedup_decontaminate_report(spark, sf_dir):
    """Per-eval-doc contamination audit (dedup.decontamination_report):
    for each refset doc (doc_id % 10 == 0), how many training docs share
    >= 10 winnowing fingerprints with it, the max overlap, and the
    worst-offender train id (deterministic tie-break). The disclosure
    table a corpus release publishes — same fingerprint machinery as
    dedup_decontaminate, aggregated per REF doc instead of dropped.
    k=25/window=16 (shared substrings >= 40 normalized chars — the
    13-gram-scale signature real decontamination uses): on the
    template-generated fixture text, k=5 fingerprints are degenerate
    (994 distinct over 2.5M sf5 docs -> a 126-billion-row pair join);
    k=25 is selective (6.1M distinct, 750k pair rows at sf5), so the
    entry scales with the corpus instead of with its redundancy."""
    from orientdb_spark.pipeline import dedup

    docs = _docs(spark, sf_dir)
    return dedup.decontamination_report(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        min_shared=10,
        k=25,
        window=16,
    )


@register("dedup_canonicalize", oracle=(
    _minhash_oracle_sql(pairs_cte=True)
    + """,
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b AS a, id_a AS b FROM pairs),
reach AS (SELECT a, b FROM e
          UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
q AS (SELECT c.doc_id, c.cluster_id, d.n_chars,
        row_number() OVER (PARTITION BY c.cluster_id
                           ORDER BY d.n_chars DESC, c.doc_id) AS rk
      FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
SELECT doc_id, cluster_id,
       min(CASE WHEN rk = 1 THEN doc_id END)
         OVER (PARTITION BY cluster_id) AS canonical_id,
       (rk = 1)::INT AS keep
FROM q
"""
))
def _dedup_canonicalize(spark, sf_dir):
    from orientdb_spark.pipeline import dedup, sampling

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9)
    clusters = sampling.duplicate_clusters(pairs)
    out = sampling.canonicalize(docs, clusters, quality_col="n_chars")
    return out.join(clusters.select("doc_id"), "doc_id", "left_semi").select(
        "doc_id",
        "cluster_id",
        "canonical_id",
        F.col("keep").cast("int").alias("keep"),
    )


@register("dedup_bucket_audit", oracle=_minhash_oracle_sql(stop_at_posts=True))
def _dedup_bucket_audit(spark, sf_dir):
    """LSH bucket-population audit (the companion to minhash_lsh_pairs'
    max_bucket_size cap): top bucket sizes tell you what a cap would
    drop. Digested as size→bucket-count histogram for a stable compare."""
    from orientdb_spark.pipeline import dedup

    sizes = dedup.minhash_bucket_sizes(_docs(spark, sf_dir))
    return (
        sizes.groupBy("n_docs")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .orderBy("n_docs")
    )


_DK_TOKS = (
    "list_sort(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'), "
    "t -> len(t) > 0)))"
)


def _simhash_oracle_sql(bits: int = 16) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, v -> ((v >> {j}) & 1) * 2 - 1)) > 0 "
        f"THEN {2 ** j} ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_DK_TOKS} AS t FROM documents),
h AS (SELECT doc_id, list_transform(t, x -> {_dk_h60('x')}) AS hs FROM toks)
SELECT doc_id, ({terms})::BIGINT AS simhash FROM h
"""


@register("dedup_simhash", oracle=_simhash_oracle_sql())
def _dedup_simhash(spark, sf_dir):
    from orientdb_spark.pipeline import dedup

    return dedup.simhash(_docs(spark, sf_dir))


def _simhash_hamming_oracle_sql(bits: int = 16, k: int = 3) -> str:
    inner = _simhash_oracle_sql(bits)
    return (
        f"WITH sh AS ({inner}) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming "
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {k}"
    )


@register("dedup_simhash_hamming", oracle=_simhash_hamming_oracle_sql(48, 3))
def _dedup_simhash_hamming(spark, sf_dir):
    """Banded SimHash near-dup pairs within Hamming distance 3
    (dedup.simhash_hamming_pairs, the WWW'07 block scheme): pigeonhole
    block equi-join + bit_count(xor) residual — never all-pairs.
    48-bit fingerprints (12-bit blocks): 16 bits saturate on this
    homogeneous synthetic corpus (73k of 125k pairs within distance 3 —
    the fingerprint, not the join, degenerates). The oracle recomputes
    the fingerprints and compares every pair quadratically."""
    from orientdb_spark.pipeline import dedup

    return dedup.simhash_hamming_pairs(
        _docs(spark, sf_dir), bits=48, max_hamming=3
    )


def _ngram_oracle_sql(n: int = 2, threshold: float = 0.05) -> str:
    return f"""
WITH toks AS (SELECT doc_id, lang, source, {_DK_TOKS_RAW} AS t FROM documents),
ng AS (SELECT doc_id, lang, source,
         list_sort(list_distinct(list_transform(
           range(1, greatest(len(t) - {n} + 2, 1)),
           i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS g
       FROM toks),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            round(len(list_intersect(a.g, b.g))::DOUBLE /
                  len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
          FROM ng a JOIN ng b
            ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {threshold}
"""


@register("dedup_ngram_jaccard", oracle=_ngram_oracle_sql())
def _dedup_ngram(spark, sf_dir):
    from orientdb_spark.pipeline import dedup

    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=2, threshold=0.05)


_COS_AB = _COS.format(a="a.e", b="b.e")


@register("dedup_embedding_cosine", tags=("headline", "noisy", "smoke"), oracle=(
    "SELECT id_a, id_b, cosine FROM ("
    "SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(" + _COS_AB + ", 6) AS cosine "
    "FROM (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings) a "
    "JOIN (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings) b "
    "ON a.label = b.label AND a.vec_id < b.vec_id) t "
    "WHERE cosine >= 0.3"
))
def _dedup_embedding(spark, sf_dir):
    from orientdb_spark.pipeline import dedup

    return dedup.embedding_duplicate_pairs(_embs(spark, sf_dir), threshold=0.3)


@register("dedup_semantic", tags=("headline", "noisy"), oracle=(
    # full SemDeDup replay: h60 seeds over the non-zero-norm
    # corpus, argmax-cosine assignment (+1e-12 nudge, 6-dp
    # round, lower-cid ties — the _assign_udf contract), then
    # drop = exists a smaller-id same-cell member with
    # round(cosine, 6) >= 0.3; zero-norm rows keep cid -1
    "WITH vv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
    "AS v FROM embeddings), "
    "nz AS (SELECT vec_id, v FROM vv WHERE list_dot_product(v, v) > 0), "
    "seeds AS (SELECT row_number() OVER (ORDER BY "
    + _dk_h60("CAST(vec_id AS VARCHAR)")
    + ", vec_id) - 1 AS cid, v FROM nz ORDER BY "
    + _dk_h60("CAST(vec_id AS VARCHAR)")
    + ", vec_id LIMIT 16), "
    "ac AS (SELECT n.vec_id, s.cid, round((list_dot_product(n.v, s.v) / "
    "(sqrt(list_dot_product(n.v, n.v)) * sqrt(list_dot_product(s.v, s.v)))) "
    "+ 1e-12, 6) AS c6 FROM nz n, seeds s), "
    "asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() "
    "OVER (PARTITION BY vec_id ORDER BY c6 DESC, cid) AS rk FROM ac) "
    "WHERE rk = 1), "
    "drp AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b "
    "ON a.cid = b.cid AND a.vec_id < b.vec_id "
    "JOIN nz va ON va.vec_id = a.vec_id JOIN nz vb ON vb.vec_id = b.vec_id "
    "WHERE round(list_dot_product(va.v, vb.v) / "
    "(sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v)))"
    ", 6) >= 0.3) "
    "SELECT a.vec_id, a.cid::BIGINT AS cid, (d.vec_id IS NULL) AS is_kept "
    "FROM asg a LEFT JOIN drp d ON a.vec_id = d.vec_id "
    "UNION ALL SELECT vec_id, (-1)::BIGINT AS cid, TRUE AS is_kept "
    "FROM vv WHERE list_dot_product(v, v) <= 0"
))
def _dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): within-cluster keep-lowest-id
    semantic dedup over the embedding corpus. The oracle replays the
    whole pipeline — h60 seeds, argmax-cosine assignment (+1e-12/6-dp,
    lower-cid ties), within-cell >= t neighbor test — in SQL."""
    from orientdb_spark.pipeline import dedup

    return dedup.semantic_dedup(_embs(spark, sf_dir), threshold=0.3)


@register("dedup_semantic_scaled", tags=("sf_scale",), oracle=(
    # the cells-scale-with-N SemDeDup replay: plane count =
    # smallest p in [4, 20] with n <= 32*2^p (integer-exact —
    # derive_semantic_lsh_planes), md5 hyperplanes + sign-bit
    # buckets (the sim_topk_lsh replay, table 0), drop = exists
    # a smaller-id SAME-BUCKET member with round(cos, 6) >= 0.3;
    # zero-norm rows keep cid -1
    "WITH vv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
    "AS v FROM embeddings), "
    "nz AS (SELECT vec_id, v FROM vv WHERE list_dot_product(v, v) > 0), "
    "nn AS (SELECT count(*) AS n FROM nz), "
    "pp AS (SELECT COALESCE(MIN(p), 20)::INTEGER AS planes "
    "FROM range(4, 21) t(p), nn WHERE nn.n <= 32 * (1::BIGINT << p)), "
    "pl AS (SELECT pr.range AS p, list_transform(range(0, 64), j -> "
    "((('0x' || substring(md5('plane:' || pr.range::VARCHAR || ':' || "
    "j::VARCHAR), 1, 15))::UBIGINT::BIGINT "
    "/ 1152921504606846976.0) * 2.0 - 1.0)) AS w "
    "FROM range(0, 20) pr, pp WHERE pr.range < pp.planes), "
    "dt AS (SELECT vec_id, p, list_sum(list_transform(range(1, 65), "
    "i -> v[i::INTEGER] * w[i::INTEGER])) AS d FROM nz, pl), "
    "cb AS (SELECT vec_id, sum(CASE WHEN d > 0 THEN (1::BIGINT << p) "
    "ELSE 0 END)::BIGINT AS cid FROM dt GROUP BY vec_id), "
    "drp AS (SELECT DISTINCT b.vec_id FROM cb a JOIN cb b "
    "ON a.cid = b.cid AND a.vec_id < b.vec_id "
    "JOIN nz va ON va.vec_id = a.vec_id JOIN nz vb ON vb.vec_id = b.vec_id "
    "WHERE round(list_dot_product(va.v, vb.v) / "
    "(sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v)))"
    ", 6) >= 0.3) "
    "SELECT c.vec_id, c.cid, (d.vec_id IS NULL) AS is_kept "
    "FROM cb c LEFT JOIN drp d ON c.vec_id = d.vec_id "
    "UNION ALL SELECT vec_id, (-1)::BIGINT AS cid, TRUE AS is_kept "
    "FROM vv WHERE list_dot_product(v, v) <= 0"
))
def _dedup_semantic_scaled(spark, sf_dir):
    """SemDeDup with the cells-scale-with-N LSH coarse clusterer
    (dedup.semantic_dedup_lsh) — the variant whose within-bucket
    quadratic oracle stays tractable at EVERY scale factor because
    2^planes grows ∝ N (expected occupancy ~32), which is what puts
    the semantic-dedup family into the sf1/sf5/sf10 artifact set. The
    oracle re-derives the plane count from COUNT(*) (integer-exact, no
    FP log), rebuilds the md5 hyperplanes and sign-bit buckets (the
    sim_topk_lsh replay), and applies the keep-lowest-id ≥ t rule
    within each bucket."""
    from orientdb_spark.pipeline import dedup

    return dedup.semantic_dedup_lsh(_embs(spark, sf_dir), threshold=0.3)


@register("dedup_embedding_decontaminate", tags=("headline",), oracle=(
    # the EXISTS is restricted to NON-zero-norm train vectors so
    # the SQL encodes embedding_decontaminate's zero-norm-kept
    # contract (score -2, "no cosine definable") instead of
    # relying on the corpus never containing one: DuckDB's
    # 0/0 = NaN compares greater than any float, so an unguarded
    # round(NaN, 6) >= 0.3 would drop the row Spark keeps
    "WITH e AS (SELECT vec_id, label, list_transform(embedding, "
    "x -> x::DOUBLE) AS v FROM embeddings), "
    "r AS (SELECT v AS rv FROM e WHERE vec_id % 25 = 0 "
    "AND list_dot_product(v, v) > 0) "
    "SELECT t.vec_id, t.label FROM e t WHERE NOT EXISTS ("
    "SELECT 1 FROM r WHERE list_dot_product(t.v, t.v) > 0 "
    "AND round(list_dot_product(t.v, r.rv) / "
    "(sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(r.rv, r.rv)))"
    ", 6) >= 0.3)"
))
def _dedup_embedding_decontaminate(spark, sf_dir):
    """Semantic decontamination: drop train vectors with cosine >= 0.3
    to any refset vector (refset = every 25th vector — a stand-in
    benchmark corpus). Clean rows returned, NOT-EXISTS oracle."""
    from orientdb_spark.pipeline import dedup

    embs = _embs(spark, sf_dir)
    ref = embs.filter(F.col("vec_id") % 25 == 0)
    return dedup.embedding_decontaminate(embs, ref, threshold=0.3).select(
        "vec_id", "label"
    )
