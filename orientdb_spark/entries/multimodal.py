"""Multimodal operators: binary features, the decode stub, resize,
frame sampling, scene cuts, perceptual hashes and pair filters.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from orientdb_spark.entries._registry import register
from orientdb_spark.entries._shared import _dk_cos, _docs, _embs


@register("multimodal_phash_dedup", oracle=(
    "WITH base AS ("
    "  SELECT doc_id, text FROM documents WHERE length(text) >= 64 "
    "  UNION ALL "
    "  SELECT doc_id + 1000000, 'Z' || substring(text, 2) "
    "FROM documents WHERE length(text) >= 64 AND doc_id % 7 = 0), "
    "chars AS ("
    "  SELECT doc_id, ((64*i + length(text) - 1) // length(text)) - 1 AS cell, "
    "unicode(substring(text, i, 1)) AS bv "
    "  FROM base, unnest(range(1, length(text)+1)) AS t(i)), "
    "pooled AS ("
    "  SELECT doc_id, cell, sum(bv) // count(*) AS px "
    "FROM chars GROUP BY doc_id, cell), "
    "hashed AS ("
    "  SELECT doc_id, sum(CASE WHEN px > m THEN "
    "CASE WHEN cell = 63 THEN -9223372036854775808 "
    "ELSE (1::BIGINT << cell::INT) END ELSE 0 END)::BIGINT AS phash "
    "  FROM (SELECT doc_id, cell, px, "
    "sum(px) OVER (PARTITION BY doc_id) / 64.0 AS m FROM pooled) "
    "  GROUP BY doc_id) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "bit_count(xor(a.phash, b.phash))::INT AS hamming "
    "FROM hashed a JOIN hashed b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.phash, b.phash)) <= 6"
))
def _multimodal_phash_dedup(spark, sf_dir):
    """Perceptual-hash image near-dup join (multimodal.perceptual_hash
    -> dedup.hamming_pairs): every 7th payload reappears with its first
    byte changed; the 64-bit aHash puts the copy within Hamming 6 and
    the block join recovers it. The fake decode is pure integer
    arithmetic on the payload bytes, so the oracle re-derives the hash
    in SQL: the testdata text is ASCII (unicode(char) == byte) and the
    fixture keeps docs with length >= 64, where the average-pool
    segments partition the bytes and char p's cell has the closed form
    (64*(p+1)+n-1)//n - 1 (pinned against the numpy pooling in
    tests). Bit 63 packs as -2^63 — two's-complement addition gives the
    signed 64-bit hash both engines compare. Recall/brute-force gates
    stay in tests/test_multimodal.py."""
    from orientdb_spark.pipeline.dedup import hamming_pairs
    from orientdb_spark.pipeline.multimodal import (
        perceptual_hash,
        with_binary_payload,
    )

    docs = _docs(spark, sf_dir).filter(F.length("text") >= 64)
    corpus = with_binary_payload(docs).select("doc_id", "payload").unionByName(
        with_binary_payload(
            docs.filter(F.col("doc_id") % 7 == 0).withColumn(
                "text", F.concat(F.lit("Z"), F.expr("substring(text, 2)"))
            )
        ).select((F.col("doc_id") + 1_000_000).alias("doc_id"), "payload")
    )
    ph = perceptual_hash(corpus)
    return hamming_pairs(ph, "doc_id", "phash", 64, 6)


@register("multimodal_pair_filter", tags=("sf_scale",), oracle=(
    "WITH i AS (SELECT vec_id // 2 AS pair_id, "
    "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings "
    "WHERE vec_id % 2 = 0), "
    "tt AS (SELECT vec_id // 2 AS pair_id, "
    "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings "
    "WHERE vec_id % 2 = 1), "
    "s AS (SELECT pair_id, round(" + _dk_cos("i.v", "tt.v") + " + 1e-12, 6) "
    "AS pair_score FROM i JOIN tt USING (pair_id) "
    "WHERE list_dot_product(i.v, i.v) > 0 "
    "AND list_dot_product(tt.v, tt.v) > 0) "
    "SELECT pair_id, pair_score FROM s WHERE pair_score >= 0.0"
))
def _multimodal_pair_filter(spark, sf_dir):
    """CLIP-score pair filtering (Schuhmann et al. 2021, LAION;
    pipeline/multimodal.pair_score_filter): image/caption embedding
    pairs (even/odd vec_id halves of the embeddings table) kept when
    the nudge-rounded cosine clears the threshold; zero-norm sides
    dropped explicitly (a NaN cosine would be silently KEPT by both
    engines' NaN-is-largest ordering — the guard encodes the contract
    instead). τ=0.0 on the isotropic fixture keeps ~half the pairs."""
    from orientdb_spark.pipeline import multimodal

    embs = _embs(spark, sf_dir)
    img = embs.filter(F.col("vec_id") % 2 == 0).select(
        F.expr("vec_id div 2").alias("pair_id"), "embedding"
    )
    txt = embs.filter(F.col("vec_id") % 2 == 1).select(
        F.expr("vec_id div 2").alias("pair_id"), "embedding"
    )
    return multimodal.pair_score_filter(img, txt, threshold=0.0)


# pipeline: multimodal
@register("multimodal_binary_features", oracle=(
    "SELECT doc_id, strlen(text)::INTEGER AS n_bytes, md5(text) AS digest "
    "FROM documents"
))
def _multimodal_features(spark, sf_dir):
    from orientdb_spark.pipeline import multimodal

    docs = multimodal.with_binary_payload(_docs(spark, sf_dir))
    return multimodal.binary_features(docs)


# Multimodal oracles work on the exact UTF-8 bytes of documents.text
# via hex(encode(text)) — byte i (0-indexed) is the 2-char hex slice
# at position 2i+1 — so they stay byte-exact even for non-ASCII text.
# (frame_digest additionally relies on chars==bytes, verified: all
# driver SFs are pure ASCII.)
@register("multimodal_fake_decode", oracle=(
    # mirrors pipeline/multimodal.fake_decode_features(bins=16):
    # byte-value histogram over payload = encode(text, 'UTF-8')
    "WITH hx AS (SELECT doc_id, hex(encode(text)) AS h, "
    "octet_length(encode(text)) AS nb FROM documents), "
    "b AS (SELECT doc_id, unnest(range(1, nb + 1)) AS i FROM hx), "
    "byt AS (SELECT b.doc_id, (('0x' || substring(hx.h, (2*b.i - 1)::INTEGER, 2))"
    "::INTEGER) % 16 AS bin FROM b JOIN hx USING (doc_id)), "
    "cnt AS (SELECT doc_id, bin, count(*)::INTEGER AS bin_count "
    "FROM byt GROUP BY doc_id, bin), "
    "grid AS (SELECT doc_id, unnest(range(0, 16)) AS bin FROM hx) "
    "SELECT grid.doc_id, hx.nb::INTEGER AS n_bytes, grid.bin::INTEGER AS bin, "
    "coalesce(cnt.bin_count, 0)::INTEGER AS bin_count "
    "FROM grid JOIN hx ON grid.doc_id = hx.doc_id "
    "LEFT JOIN cnt ON cnt.doc_id = grid.doc_id AND cnt.bin = grid.bin"
))
def _multimodal_fake_decode(spark, sf_dir):
    """Driver-comparable shape: the array<int> histogram is exploded to
    one (bin, bin_count) row per bucket — the driver's pandas
    canonicalizer sorts over all columns and cannot hash Python lists, so
    arrays must leave the entry as scalars. The library API keeps the
    array form for users."""
    from orientdb_spark.pipeline import multimodal

    docs = multimodal.with_binary_payload(_docs(spark, sf_dir))
    feats = multimodal.fake_decode_features(docs)
    return feats.select(
        "doc_id", "n_bytes", F.posexplode("histogram").alias("bin", "bin_count")
    )


@register("multimodal_resize", oracle=(
    # mirrors pipeline/multimodal.resize_images(width=4, height=4):
    # cell i average-pools bytes [i*n//16, max((i+1)*n//16, lo+1))
    "WITH hx AS (SELECT doc_id, hex(encode(text)) AS h, "
    "octet_length(encode(text)) AS n FROM documents), "
    "c AS (SELECT doc_id, unnest(range(0, 16)) AS cell FROM hx), "
    "seg AS (SELECT c.doc_id, c.cell, hx.h, (c.cell * hx.n) // 16 AS lo, "
    "least(greatest(((c.cell + 1) * hx.n) // 16, (c.cell * hx.n) // 16 + 1), hx.n) AS hi "
    "FROM c JOIN hx USING (doc_id)), "
    "px AS (SELECT doc_id, cell, CASE WHEN hi <= lo THEN 0 ELSE "
    "list_sum(list_transform(range(lo, hi), "
    "j -> ('0x' || substring(h, (2*j + 1)::INTEGER, 2))::INTEGER)) // (hi - lo) "
    "END AS pixel FROM seg) "
    "SELECT doc_id, 4 AS width, 4 AS height, cell::INTEGER AS cell, "
    "pixel::INTEGER AS pixel FROM px"
))
def _multimodal_resize(spark, sf_dir):
    """Same scalarization as fake_decode: the pixel grid is exploded to
    one (cell, pixel) row per cell so every average-pooled value is
    hash-compared against the DuckDB oracle."""
    from orientdb_spark.pipeline import multimodal

    docs = multimodal.with_binary_payload(_docs(spark, sf_dir))
    px = multimodal.resize_images(docs, width=4, height=4)
    return px.select(
        "doc_id", "width", "height", F.posexplode("pixels").alias("cell", "pixel")
    )


@register("multimodal_frame_sample", oracle=(
    # mirrors pipeline/multimodal.sample_frames(frame_bytes=64,
    # every=4, fps=30): every 4th 64-byte chunk; text is ASCII at
    # every driver SF so substring-by-chars == substring-by-bytes
    "WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n "
    "FROM documents), "
    "f AS (SELECT doc_id, text, n, unnest(range(0, (n + 63) // 64, 4)) AS fi FROM d) "
    "SELECT doc_id, fi::INTEGER AS frame_index, fi / 30.0 AS frame_ts, "
    "least(64, n - fi * 64)::INTEGER AS n_frame_bytes, "
    "md5(substring(text, (fi * 64 + 1)::INTEGER, 64)) AS frame_digest FROM f"
))
def _multimodal_frame_sample(spark, sf_dir):
    """Frame rows with the binary frame digested to (byte length, md5) —
    binary columns come back to pandas as unhashable bytearrays, and the
    md5 keeps the compare sensitive to every frame byte."""
    from orientdb_spark.pipeline import multimodal

    docs = multimodal.with_binary_payload(_docs(spark, sf_dir))
    fr = multimodal.sample_frames(docs, frame_bytes=64, every=4)
    return fr.select(
        "doc_id",
        "frame_index",
        "frame_ts",
        F.length("frame").alias("n_frame_bytes"),
        F.md5("frame").alias("frame_digest"),
    )


@register("multimodal_scene_cuts", tags=("sf_scale",), oracle=(
    # replays 64-byte chunking, per-frame ascii-code energy, the
    # lag delta, and the integer cut decision (ASCII corpus:
    # byte == ascii(char))
    "WITH d AS (SELECT doc_id, text, length(text) AS n "
    "FROM documents), "
    "f AS (SELECT doc_id, unnest(range(0, (n + 63) // 64)) AS fi, "
    "text FROM d), "
    "e AS (SELECT doc_id, fi::BIGINT AS frame_index, "
    "list_sum(list_transform(string_split("
    "substring(text, (fi * 64 + 1)::BIGINT, 64), ''), "
    "c -> ascii(c)))::BIGINT AS energy FROM f), "
    "l AS (SELECT doc_id, frame_index, energy, "
    "abs(energy - lag(energy) OVER (PARTITION BY doc_id "
    "ORDER BY frame_index))::BIGINT AS delta FROM e) "
    "SELECT doc_id, frame_index, energy, delta, "
    "coalesce(delta > 200, FALSE) AS is_cut FROM l"
))
def _multimodal_scene_cuts(spark, sf_dir):
    """Scene-cut detection (pipeline/multimodal.scene_cuts): per-frame
    byte-energy over the 64-byte fake-decode frame stream, cuts where
    the consecutive delta exceeds 200 — exact integer arithmetic end
    to end, so the oracle replays chunking + energies + the lag window
    from the payload's character codes (the corpus is ASCII: byte ==
    ascii(char))."""
    from orientdb_spark.pipeline import multimodal

    docs = multimodal.with_binary_payload(_docs(spark, sf_dir))
    return multimodal.scene_cuts(docs, frame_bytes=64, threshold=200)
