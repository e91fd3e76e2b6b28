"""Multi-stage training-data pipelines composed from the operator families."""

from __future__ import annotations

from pyspark.sql import functions as F

from orientdb_spark.entries._registry import _engine, register
from orientdb_spark.entries._shared import (
    _dk_h60,
    _docs,
    _embs,
    _langid_oracle_sql,
    _lm_oracle_sql,
    _minhash_oracle_sql,
    _quality_oracle_sql,
    _repetition_oracle_sql,
)


@register("pipeline_entity_resolution", oracle=(
    "WITH RECURSIVE c AS (SELECT p_partkey AS id, "
    "p_name || ' #' || p_partkey AS s FROM part "
    "UNION ALL SELECT p_partkey + 10000000, "
    "'x' || substring(p_name, 2) || ' #' || p_partkey "
    "FROM part WHERE p_partkey % 5 = 0), "
    "pairs AS (SELECT a.id AS id_a, b.id AS id_b FROM c a JOIN c b "
    "ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 1 "
    "AND levenshtein(a.s, b.s) <= 1), "
    "e AS (SELECT id_a AS a, id_b AS b FROM pairs "
    "UNION SELECT id_b, id_a FROM pairs), "
    "reach AS (SELECT a, b FROM e "
    "UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a), "
    "comp AS (SELECT a AS id, least(a, min(b)) AS cid "
    "FROM reach GROUP BY a) "
    "SELECT c.id AS doc_id, coalesce(comp.cid, c.id) AS entity_id, "
    "count(*) OVER (PARTITION BY coalesce(comp.cid, c.id))::BIGINT "
    "AS n_members FROM c LEFT JOIN comp ON comp.id = c.id"
))
def _pipeline_entity_resolution(spark, sf_dir):
    """Entity-resolution composition: the key-suffixed part-name corpus
    (clean + corrupted every-5th copies, the text_edit_distance_join
    fixture) -> PassJoin distance-1 pairs -> star-contraction CC ->
    every record mapped to its entity (min id in the component;
    singletons to themselves) with member counts. The oracle recomputes
    the pairs quadratically and the components with a recursive CTE."""
    from orientdb_spark.pipeline.dedup import edit_distance_join
    from orientdb_spark.pipeline.sampling import duplicate_clusters

    pa = _engine(spark, sf_dir).table("part")
    name = F.concat(F.col("p_name"), F.lit(" #"), F.col("p_partkey").cast("string"))
    corpus = pa.select(F.col("p_partkey").alias("doc_id"), name.alias("text")).unionAll(
        pa.filter(F.col("p_partkey") % 5 == 0).select(
            (F.col("p_partkey") + 10_000_000).alias("doc_id"),
            F.concat(
                F.lit("x"), F.expr("substring(p_name, 2)"),
                F.lit(" #"), F.col("p_partkey").cast("string"),
            ).alias("text"),
        )
    )
    pairs = edit_distance_join(corpus, max_dist=1)
    clusters = duplicate_clusters(pairs)
    joined = corpus.join(clusters, "doc_id", "left")
    ent = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    from pyspark.sql import Window as W

    return (
        joined.withColumn("entity_id", ent)
        .withColumn(
            "n_members", F.count(F.lit(1)).over(W.partitionBy("entity_id"))
        )
        .select("doc_id", "entity_id", "n_members")
    )


@register("pipeline_end_to_end", oracle=(
    _minhash_oracle_sql(pairs_cte=True)
    + """,
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b AS a, id_a AS b FROM pairs),
reach AS (SELECT a, b FROM e
          UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
full0 AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                 d.n_chars, d.lang, d.source
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
q AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id) AS rk FROM full0)
SELECT doc_id, cluster_id, lang, source,
       CASE WHEN (('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 10000 < 9800 THEN 'train'
            WHEN (('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 10000 < 9900 THEN 'valid'
            ELSE 'test' END AS split
FROM q WHERE rk = 1
"""
))
def _pipeline_end_to_end(spark, sf_dir):
    """The dedup-to-training-set pipeline as ONE composed dataflow —
    minhash-LSH pair mining → duplicate clustering (star-contraction CC)
    → per-cluster canonical election → deterministic split assignment of
    the surviving corpus — proving the LLM-pipeline operators compose.
    Output: the cleaned corpus, one row per surviving doc."""
    from orientdb_spark.pipeline import dedup, sampling

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9)
    clusters = sampling.duplicate_clusters(pairs)
    canon = sampling.canonicalize(docs, clusters, quality_col="n_chars")
    kept = canon.filter(F.col("keep"))
    return sampling.assign_split(kept).select(
        "doc_id", "cluster_id", "lang", "source", "split"
    )


def _forget_cascade_oracle_sql() -> str:
    """Erasure-cascade replay: the forget set is doc_id % 17 = 0;
    chunk counts replay chunk_documents(32, 8)'s start enumeration
    ((greatest(n-32,0)+23)//24 + 1 chunks for token count n > 0);
    embeddings purge by semi-join against the forget set (no id-range
    assumption); residual_refs is the contract — zero by construction
    in a correct purge, so it is pinned as the literal the Spark side
    must COUNT its way to."""
    return (
        "WITH del AS (SELECT doc_id FROM documents WHERE doc_id % 17 = 0), "
        "dd AS (SELECT count(*)::BIGINT AS nb, "
        "count(*) FILTER (WHERE doc_id % 17 <> 0)::BIGINT AS na FROM documents), "
        "tc AS (SELECT doc_id, len(list_filter(regexp_split_to_array(text, "
        "'\\s+'), t -> len(t) > 0)) AS n FROM documents), "
        "cc AS (SELECT sum(CASE WHEN n > 0 THEN "
        "(greatest(n - 32, 0) + 23) // 24 + 1 ELSE 0 END)::BIGINT AS nb, "
        "sum(CASE WHEN n > 0 THEN (greatest(n - 32, 0) + 23) // 24 + 1 "
        "ELSE 0 END) FILTER (WHERE doc_id % 17 <> 0)::BIGINT AS na FROM tc), "
        "ee AS (SELECT count(*)::BIGINT AS nb, "
        "count(*) FILTER (WHERE vec_id NOT IN (SELECT doc_id FROM del))::BIGINT "
        "AS na FROM embeddings) "
        "SELECT 'documents' AS artifact, nb AS n_before, na AS n_after, "
        "nb - na AS n_purged, 0::BIGINT AS residual_refs FROM dd "
        "UNION ALL SELECT 'chunks', nb, na, nb - na, 0::BIGINT FROM cc "
        "UNION ALL SELECT 'embeddings', nb, na, nb - na, 0::BIGINT FROM ee"
    )


@register("pipeline_forget_cascade", tags=("sf_scale",), oracle=_forget_cascade_oracle_sql())
def _pipeline_forget_cascade(spark, sf_dir):
    """Right-to-be-forgotten cascade (the GDPR erasure shape a training
    corpus must support): a forget set (doc_id % 17 == 0) is purged
    from the base table AND every derived artifact — RAG chunks
    (text.chunk_documents) and the embedding table — each via ONE
    broadcast anti-join on the forget set. Emits the compliance audit
    row per artifact: (artifact, n_before, n_after, n_purged,
    residual_refs) where residual_refs COUNTS forget-set rows
    surviving the purge — the oracle pins it to zero, so a purge
    regression hash-fails rather than silently leaking. Scale shape:
    the forget set broadcasts (erasure requests are tiny vs the
    corpus); every purge is one scan of its artifact."""
    from orientdb_spark.pipeline.text import chunk_documents

    docs = _docs(spark, sf_dir)
    embs = _embs(spark, sf_dir)
    del_ids = docs.filter(F.col("doc_id") % 17 == 0).select("doc_id")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8)

    def audit(name, frame, key):
        keyed_del = F.broadcast(del_ids.select(F.col("doc_id").alias(key)))
        kept = frame.join(keyed_del, key, "left_anti")
        # the residual check must NOT reuse the purge's own join/frame
        # (anti-then-semi on the same key set is empty by construction
        # and would verify nothing): re-test the forget PREDICATE
        # directly on the purged rows, so a purge that anti-joined the
        # wrong key, the wrong frame, or the wrong join type counts > 0
        # and hash-fails against the oracle's pinned zero. (Predicate
        # re-test assumes the artifact's id domain matches documents' —
        # true of the generated tables, where doc_id and vec_id are the
        # same 0..N-1 range; the sf artifacts re-verify this at scale.)
        residual = kept.filter(F.col(key) % 17 == 0)
        return (
            frame.agg(F.count(F.lit(1)).alias("n_before"))
            .crossJoin(kept.agg(F.count(F.lit(1)).alias("n_after")))
            .crossJoin(residual.agg(F.count(F.lit(1)).alias("residual_refs")))
            .select(
                F.lit(name).alias("artifact"),
                "n_before",
                "n_after",
                (F.col("n_before") - F.col("n_after")).alias("n_purged"),
                "residual_refs",
            )
        )

    return (
        audit("documents", docs, "doc_id")
        .unionByName(audit("chunks", chunks, "doc_id"))
        .unionByName(audit("embeddings", embs, "vec_id"))
    )


@register("pipeline_rag_prep", oracle=(
    # chunk -> len>=16 filter -> h60 split -> per-split totals
    "WITH toks AS (SELECT doc_id, list_filter("
    "regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) AS t "
    "FROM documents), "
    "st AS (SELECT doc_id, t, k::INTEGER AS chunk_idx, "
    "(1 + k * 24)::INTEGER AS start_tok FROM ("
    "SELECT doc_id, t, unnest(range(0, 1 + "
    "((greatest(len(t) - 32, 0) + 23) // 24))) AS k "
    "FROM toks WHERE len(t) > 0)), "
    "c AS (SELECT doc_id || ':' || chunk_idx AS chunk_id, "
    "len(t[start_tok : start_tok + 31])::BIGINT AS n_tokens FROM st), "
    "kept AS (SELECT chunk_id, n_tokens, "
    + _dk_h60("'42:' || chunk_id")
    + " % 10000 AS b FROM c WHERE n_tokens >= 16), "
    "sp AS (SELECT chunk_id, n_tokens, CASE WHEN b < 9800 THEN 'train' "
    "WHEN b < 9900 THEN 'valid' ELSE 'test' END AS split FROM kept) "
    "SELECT split, count(*)::BIGINT AS n_chunks, "
    "sum(n_tokens)::BIGINT AS total_tokens, "
    "min(chunk_id) AS first_chunk FROM sp GROUP BY split"
))
def _pipeline_rag_prep(spark, sf_dir):
    """Composition proof for the RAG-prep chain: chunk (32/8) -> drop
    short chunks (<16 tokens) -> deterministic split keyed on the
    chunk identity -> per-split totals, all under ONE oracle that
    re-derives every stage in SQL. Chunk-keyed splitting is the
    leakage-safe choice the composition demonstrates: a chunk keeps its
    split even as the corpus grows."""
    from orientdb_spark.pipeline import sampling, text

    chunks = text.chunk_documents(_docs(spark, sf_dir), chunk_tokens=32, overlap=8)
    kept = chunks.filter(F.col("n_tokens") >= 16).withColumn(
        "chunk_id",
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("chunk_idx").cast("string")
        ),
    )
    split = sampling.assign_split(kept, id_col="chunk_id")
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("chunk_id").alias("first_chunk"),
    )


@register("pipeline_incremental_dedup", oracle=(
    _minhash_oracle_sql(pairs_cte=True)
    + """,
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b AS a, id_a AS b FROM pairs),
reach AS (SELECT a, b FROM e
          UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
full0 AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
SELECT cluster_id, count(*)::BIGINT AS n_docs FROM full0 GROUP BY cluster_id
"""
))
def _pipeline_incremental_dedup(spark, sf_dir):
    """Incremental near-dup clustering — the daily-crawl shape: the old
    batch (doc_id % 3 != 0) is already clustered; the delta arrives,
    only pairs TOUCHING a delta doc feed graph.incremental_components,
    and old pairs never re-enter (their connectivity lives in the prev
    labels; delta docs start as registered singletons). The oracle is
    the FULL-corpus minhash -> transitive-closure ground truth, so
    equality proves incremental == from-scratch. (Pair mining here
    reuses the full-corpus LSH run for simplicity; in production the
    stored band signatures make the delta-restricted bucket join
    incremental too. Old-old pairs agree between the runs because
    bucket ids depend only on each doc's own signature; the bucket-size
    cap never triggers at these SFs.)"""
    from orientdb_spark.graph import incremental_components
    from orientdb_spark.pipeline import dedup, sampling

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    prev_pairs = dedup.minhash_lsh_pairs(old, threshold=0.9)
    old_clusters = sampling.duplicate_clusters(prev_pairs)
    prev = (
        docs.select(F.col("doc_id").alias("vid"))
        .join(
            old_clusters.select(F.col("doc_id").alias("vid"), "cluster_id"),
            "vid",
            "left",
        )
        .select("vid", F.coalesce("cluster_id", F.col("vid")).alias("component"))
    )
    all_pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9)
    new_pairs = all_pairs.filter(
        (F.col("id_a") % 3 == 0) | (F.col("id_b") % 3 == 0)
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    final = incremental_components(prev, new_pairs)
    return final.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).select(F.col("component").alias("cluster_id"), "n_docs")


@register("pipeline_quality_gate", oracle=(
    f"WITH l AS ({_langid_oracle_sql()}), "
    f"q AS ({_quality_oracle_sql()}), "
    f"r AS ({_repetition_oracle_sql()}), "
    f"lmq AS MATERIALIZED ({_lm_oracle_sql()}), "
    "thr AS (SELECT quantile_cont(nll, 0.9) AS p90 FROM lmq) "
    "SELECT l.doc_id, l.predicted_lang, q.quality, r.dup_ngram_frac, "
    "lmq.nll, (CASE WHEN q.quality >= 0.5 AND r.dup_ngram_frac <= 0.3 "
    "AND lmq.nll <= thr.p90 THEN 1 ELSE 0 END) AS keep "
    "FROM l JOIN q ON l.doc_id = q.doc_id "
    "JOIN r ON l.doc_id = r.doc_id "
    "JOIN lmq ON l.doc_id = lmq.doc_id, thr"
))
def _pipeline_quality_gate(spark, sf_dir):
    """Composite quality gate: language-ID + quality score + repetition
    + bigram-LM NLL joined per doc, with keep = quality >= 0.5 AND
    dup_ngram_frac <= 0.3 AND nll <= corpus-p90(nll). Proves the text
    operators compose under one oracle the way pipeline_end_to_end
    proves it for the dedup family; the p90 threshold exercises
    exact-percentile parity inside a composition."""
    from orientdb_spark.pipeline import text

    docs = _docs(spark, sf_dir)
    lid = text.language_id(docs).select("doc_id", "predicted_lang")
    q = text.quality_score(docs).select("doc_id", "quality")
    rep = text.repetition_stats(docs, n=3).select("doc_id", "dup_ngram_frac")
    lm = text.lm_score(docs).select("doc_id", "nll")
    p90 = lm.agg(F.percentile("nll", F.lit(0.9)).alias("__p90"))
    joined = (
        lid.join(q, "doc_id")
        .join(rep, "doc_id")
        .join(lm, "doc_id")
        .crossJoin(F.broadcast(p90))
    )
    keep = (
        (F.col("quality") >= 0.5)
        & (F.col("dup_ngram_frac") <= 0.3)
        & (F.col("nll") <= F.col("__p90"))
    )
    # component values pass through at their native 6 dp. The former
    # known edge (a composite score within one ulp of a 6-dp rounding
    # midpoint, where Spark's exact-decimal HALF_UP and DuckDB's
    # shortest-decimal round() disagree in the last digit — 1 of 5000
    # docs at sf0.1, 5 of 50k at sf1) is CLOSED in r8: quality_score and
    # its oracle both add 1e-12 before rounding, pushing both engines to
    # the same side of the boundary (re-verified green at sf0.01/0.1/1).
    return joined.select(
        "doc_id",
        "predicted_lang",
        "quality",
        "dup_ngram_frac",
        "nll",
        F.when(keep, F.lit(1)).otherwise(F.lit(0)).alias("keep"),
    )


@register("pipeline_multimodal_end_to_end", oracle=(
    # frames = every 4th 64-byte chunk (ASCII precondition as in
    # multimodal_frame_sample); each frame average-pools into a
    # 2x2 grid with the resize segment formula over fn bytes
    "WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n "
    "FROM documents), "
    "f AS (SELECT doc_id, unnest(range(0, (n + 63) // 64, 4)) AS fi, text FROM d), "
    "fr AS (SELECT doc_id, fi, substring(text, (fi * 64 + 1)::INTEGER, 64) AS ftxt FROM f), "
    "hx AS (SELECT doc_id, fi, hex(encode(ftxt)) AS h, "
    "octet_length(encode(ftxt)) AS fn FROM fr), "
    "c AS (SELECT doc_id, fi, h, fn, unnest(range(0, 4)) AS cell FROM hx), "
    "seg AS (SELECT doc_id, fi, cell, h, fn, (cell * fn) // 4 AS lo, "
    "least(greatest(((cell + 1) * fn) // 4, (cell * fn) // 4 + 1), fn) AS hi FROM c), "
    "px AS (SELECT doc_id, fi, cell, CASE WHEN hi <= lo THEN 0 ELSE "
    "list_sum(list_transform(range(lo, hi), "
    "j -> ('0x' || substring(h, (2 * j + 1)::INTEGER, 2))::INTEGER)) // (hi - lo) "
    "END AS pixel FROM seg) "
    "SELECT doc_id, fi::INTEGER AS frame_index, cell::INTEGER AS cell, "
    "pixel::INTEGER AS pixel FROM px"
))
def _pipeline_multimodal_end_to_end(spark, sf_dir):
    """Multimodal composition proof: binary payload -> frame sampling
    (1->N fan-out) -> per-frame resize to a 2x2 grid, all under one
    oracle — the modality analog of pipeline_end_to_end /
    pipeline_quality_gate. Frames get a synthetic composite id
    (doc_id*1000 + frame_index; frame counts are ~8 per doc, far below
    1000) because the resize stage keys rows by a single id column."""
    from orientdb_spark.pipeline import multimodal

    docs = multimodal.with_binary_payload(_docs(spark, sf_dir))
    fr = multimodal.sample_frames(docs, frame_bytes=64, every=4)
    fr2 = fr.select(
        (F.col("doc_id") * 1000 + F.col("frame_index")).alias("fid"),
        F.col("frame").alias("payload"),
    )
    px = multimodal.resize_images(fr2, id_col="fid", width=2, height=2)
    return px.select(
        F.floor(F.col("fid") / 1000).cast("long").alias("doc_id"),
        (F.col("fid") % 1000).cast("int").alias("frame_index"),
        F.posexplode("pixels").alias("cell", "pixel"),
    )
