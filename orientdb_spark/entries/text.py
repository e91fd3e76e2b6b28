"""Text analysis and curation: language id, quality heuristics,
tokenizers, ranked retrieval, classifier-based filtering and
training-example transforms.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from orientdb_spark.entries._registry import _engine, register
from orientdb_spark.entries._shared import (
    _DK_TOKS_LOWER,
    _NORM_TEXT,
    _dk_h60,
    _docs,
    _langid_oracle_sql,
    _lm_oracle_sql,
    _quality_oracle_sql,
    _repetition_oracle_sql,
)
from orientdb_spark.session import local_frame


@register("text_vocab_growth", oracle=(
    "WITH t AS (SELECT source, unnest(list_filter("
    "regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)) AS tok "
    "FROM documents), "
    "c AS (SELECT source, tok, count(*)::BIGINT AS n FROM t GROUP BY 1, 2) "
    "SELECT source, sum(n)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types, "
    "sum((n = 1)::INT)::BIGINT AS n_hapax, "
    "round(count(*)::DOUBLE / sum(n), 6) AS ttr, "
    "round(sum((n = 1)::INT)::DOUBLE / count(*), 6) AS hapax_ratio "
    "FROM c GROUP BY source"
))
def _text_vocab_growth(spark, sf_dir):
    """Lexical-diversity screen per source (text.vocab_growth_stats):
    token/type/hapax counts, TTR, hapax share — two map-side
    groupBys."""
    from orientdb_spark.pipeline.text import vocab_growth_stats

    docs = _docs(spark, sf_dir)
    out = vocab_growth_stats(docs, group_cols=["source"])
    return out.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.round("ttr", 6).alias("ttr"),
        F.round("hapax_ratio", 6).alias("hapax_ratio"),
    )


@register("text_edit_distance_join", oracle=(
    "WITH c AS (SELECT p_partkey AS id, "
    "p_name || ' #' || p_partkey AS s FROM part "
    "UNION ALL SELECT p_partkey + 10000000, "
    "'x' || substring(p_name, 2) || ' #' || p_partkey "
    "FROM part WHERE p_partkey % 5 = 0) "
    "SELECT a.id AS id_a, b.id AS id_b, "
    "levenshtein(a.s, b.s)::INTEGER AS dist "
    "FROM c a JOIN c b ON a.id < b.id "
    "AND abs(length(a.s) - length(b.s)) <= 1 "
    "WHERE levenshtein(a.s, b.s) <= 1"
))
def _text_edit_distance_join(spark, sf_dir):
    """Typo-tolerant entity-resolution join (dedup.edit_distance_join,
    PassJoin segment signatures): part names plus a deterministically
    corrupted copy of every 5th name (first char replaced) — the join
    must recover each corruption at distance 1 via the segment
    equi-join, never an all-pairs product. The oracle is the naive
    quadratic levenshtein join."""
    from orientdb_spark.pipeline.dedup import edit_distance_join

    pa = _engine(spark, sf_dir).table("part")
    # p_name has only 64 distinct values (347x duplication at sf0.1), so
    # raw names make the ANSWER quadratic (dist-0 pairs alone ~3M);
    # suffixing the key yields a realistic near-unique entity corpus
    name = F.concat(F.col("p_name"), F.lit(" #"), F.col("p_partkey").cast("string"))
    clean = pa.select(F.col("p_partkey").alias("doc_id"), name.alias("text"))
    dirty = pa.filter(F.col("p_partkey") % 5 == 0).select(
        (F.col("p_partkey") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("x"), F.expr("substring(p_name, 2)"),
                 F.lit(" #"), F.col("p_partkey").cast("string")).alias("text"),
    )
    return edit_distance_join(clean.unionAll(dirty), max_dist=1)


# pipeline: text analysis
@register("text_language_id", oracle=_langid_oracle_sql())
def _text_langid(spark, sf_dir):
    from orientdb_spark.pipeline import text

    return text.language_id(_docs(spark, sf_dir))


@register(
    "text_quality_score",
    tags=("headline", "smoke", "sf_scale"),
    oracle=_quality_oracle_sql(),
)
def _text_quality(spark, sf_dir):
    from orientdb_spark.pipeline import text

    return text.quality_score(_docs(spark, sf_dir))


@register("text_token_stats", oracle=(
    "SELECT doc_id, "
    "len(list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0))::INTEGER "
    "AS n_ws_tokens, "
    "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::INTEGER "
    "AS n_bpe_tokens, "
    "length(text)::INTEGER AS n_chars FROM documents"
))
def _text_tokens(spark, sf_dir):
    from orientdb_spark.pipeline import text

    return text.token_stats(_docs(spark, sf_dir))


@register("text_winnow_fingerprint", oracle=(
    # mirrors pipeline/text.winnow_fingerprints(k=5, window=4):
    # char-5-gram h60 hashes of normalized text, min per sliding
    # window of 4, distinct — digested per doc
    f"WITH nrm AS (SELECT doc_id, {_NORM_TEXT} AS t FROM documents), "
    "g AS (SELECT doc_id, list_transform(range(1, length(t) - 5 + 2), "
    f"i -> {_dk_h60('substring(t, i::INTEGER, 5)')}) AS hs "
    "FROM nrm WHERE length(t) >= 5), "
    "w AS (SELECT doc_id, list_distinct(list_transform("
    "range(1, greatest(len(hs) - 4 + 2, 2)), "
    "j -> list_min(hs[j::INTEGER:j::INTEGER+3]))) AS fps FROM g) "
    "SELECT doc_id, len(fps)::BIGINT AS n_fp, list_min(fps) AS min_fp, "
    "list_max(fps) AS max_fp, "
    "list_sum(list_transform(fps, x -> x % 1000000007))::BIGINT AS sum_fp FROM w"
))
def _text_winnow(spark, sf_dir):
    """Per-doc digest over the winnowing fingerprint set (count/min/max/
    modular sum) — compact for the driver compare while still sensitive
    to any fingerprint-level discrepancy."""
    from orientdb_spark.pipeline import text

    fps = text.winnow_fingerprints(_docs(spark, sf_dir), k=5, window=4)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.min("fingerprint").alias("min_fp"),
        F.max("fingerprint").alias("max_fp"),
        F.sum(F.col("fingerprint") % F.lit(1_000_000_007)).alias("sum_fp"),
    )


@register("text_repetition_stats", oracle=_repetition_oracle_sql())
def _text_repetition(spark, sf_dir):
    from orientdb_spark.pipeline import text

    return text.repetition_stats(_docs(spark, sf_dir), n=3)


@register("text_token_budget", tags=("sf_scale",), oracle=(
    # mirrors pipeline/text.token_budget(group_cols=[source, lang])
    "SELECT source, lang, count(*)::BIGINT AS n_docs, "
    "sum(len(list_filter(regexp_split_to_array(text, '\\s+'), "
    "t -> len(t) > 0)))::BIGINT AS total_ws_tokens, "
    "sum(len(regexp_extract_all(text, "
    "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))::BIGINT AS total_bpe_tokens, "
    "sum(length(text))::BIGINT AS total_chars "
    "FROM documents GROUP BY source, lang"
))
def _text_token_budget(spark, sf_dir):
    from orientdb_spark.pipeline import text

    return text.token_budget(_docs(spark, sf_dir))


@register("text_tfidf_topterms", oracle=(
    "WITH toks AS (SELECT doc_id, unnest(list_filter("
    "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS term "
    "FROM documents), "
    "tf AS MATERIALIZED (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2), "
    "dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1), "
    "n AS (SELECT count(*)::DOUBLE AS nd FROM documents), "
    "s AS (SELECT doc_id, term, round(tf * ln(nd / df), 6) AS tfidf "
    "FROM tf JOIN dfq USING (term), n), "
    "r AS (SELECT doc_id, term, tfidf, row_number() OVER "
    "(PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank FROM s) "
    "SELECT doc_id, term, tfidf, rank::INTEGER AS rank FROM r WHERE rank <= 3"
))
def _text_tfidf(spark, sf_dir):
    """Per-doc top-3 terms by TF-IDF (keyword extraction). Ranking
    compares the 6-dp-rounded score, so cross-engine ln() ulp noise
    can't flip ranks (verified value-exact at all three SFs)."""
    from orientdb_spark.pipeline import text

    return text.tfidf_top_terms(_docs(spark, sf_dir), k=3)


# Fixed query batch for the BM25 entry — terms drawn from the synthetic
# corpus vocabulary so every query matches; literal so the DuckDB
# replay is a VALUES list.
_BM25_QUERIES = [
    (1, "filter merge join"),
    (2, "customer order line"),
    (3, "window sort hash scan"),
    (4, "slow query batch"),
    (5, "data stream value table"),
]


_BM25_QUERY_SCHEMA = "query_id bigint, query_text string"


# r13: BM25 ranked retrieval (Robertson & Zaragoza 2009)
@register("text_bm25_topk", tags=("headline", "smoke", "sf_scale"), oracle=(
    # mirrors text.bm25_topk(k=10, k1=1.2, b=0.75) over the five
    # fixed _BM25_QUERIES: Lucene idf ln(1+(N-df+.5)/(df+.5)),
    # dl = sum(tf) per doc (so token-less docs count in N and
    # avgdl only), per-(query, doc) sum nudge-rounded to 6 dp
    # BEFORE the rank, doc-id tiebreaks
    "WITH q(query_id, query_text) AS (VALUES "
    "(1, 'filter merge join'), (2, 'customer order line'), "
    "(3, 'window sort hash scan'), (4, 'slow query batch'), "
    "(5, 'data stream value table')), "
    "qt AS (SELECT DISTINCT query_id::BIGINT AS query_id, term FROM ("
    "SELECT query_id, unnest(list_filter("
    "regexp_split_to_array(lower(query_text), '\\s+'), t -> len(t) > 0)"
    ") AS term FROM q)), "
    "toks AS (SELECT doc_id, unnest(list_filter("
    "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS term "
    "FROM documents), "
    "tf AS MATERIALIZED (SELECT doc_id, term, count(*)::BIGINT AS tf "
    "FROM toks GROUP BY 1, 2), "
    "dl AS MATERIALIZED (SELECT doc_id, sum(tf)::BIGINT AS dl "
    "FROM tf GROUP BY 1), "
    "st AS (SELECT (SELECT count(*)::DOUBLE FROM documents) AS nd, "
    "(SELECT coalesce(sum(tf), 0)::DOUBLE FROM tf) AS tok), "
    "tfq AS MATERIALIZED (SELECT tf.* FROM tf "
    "JOIN (SELECT DISTINCT term FROM qt) v USING (term)), "
    "dfq AS (SELECT term, count(*)::BIGINT AS df FROM tfq GROUP BY 1), "
    "s AS (SELECT qt.query_id, t.doc_id, "
    "round(sum(ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * "
    "(t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / (tok / nd))))) "
    "+ 1e-12, 6) AS bm25 "
    "FROM qt JOIN tfq t USING (term) JOIN dfq USING (term) "
    "JOIN dl ON dl.doc_id = t.doc_id, st GROUP BY 1, 2), "
    "r AS (SELECT query_id, doc_id, bm25, row_number() OVER "
    "(PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank FROM s) "
    "SELECT query_id, doc_id, bm25, rank::INTEGER AS rank "
    "FROM r WHERE rank <= 10"
))
def _text_bm25_topk(spark, sf_dir):
    """Batch BM25 ranked retrieval (pipeline/text.bm25_topk, Robertson
    & Zaragoza 2009, Lucene's always-positive idf): five fixed
    queries, top-10 docs each. Oracle-exact: tf/dl/df/N are integers,
    avgdl and each term contribution fixed double expressions of
    them, the per-(query, doc) sum nudge-rounded to 6 dp before the
    rank with doc-id tiebreaks (the tfidf/lm_score convention)."""
    from orientdb_spark.pipeline.text import bm25_topk

    queries = local_frame(spark, _BM25_QUERIES, _BM25_QUERY_SCHEMA)
    return bm25_topk(_docs(spark, sf_dir), queries, k=10)


def _rocchio_oracle_sql(fb_docs: int = 3, fb_terms: int = 2, k: int = 10) -> str:
    """Two-pass Rocchio PRF replay (text.rocchio_prf_topk): the bm25
    oracle's corpus tables built once, pass-1 rank over the original
    term sets, offer-weight expansion (summed tf·idf over the feedback
    docs, 6-dp nudge, term tiebreaks, original terms anti-joined out),
    pass-2 rank over the union term sets. Both passes share the exact
    scoring expression of the text_bm25_topk oracle."""
    score = (
        "round(sum(ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * "
        "(t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / (tok / nd))))) "
        "+ 1e-12, 6)"
    )
    return (
        "WITH q(query_id, query_text) AS (VALUES "
        "(1, 'filter merge join'), (2, 'customer order line'), "
        "(3, 'window sort hash scan'), (4, 'slow query batch'), "
        "(5, 'data stream value table')), "
        "qt0 AS (SELECT DISTINCT query_id::BIGINT AS query_id, term FROM ("
        "SELECT query_id, unnest(list_filter("
        "regexp_split_to_array(lower(query_text), '\\s+'), t -> len(t) > 0)"
        ") AS term FROM q)), "
        "toks AS (SELECT doc_id, unnest(list_filter("
        "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS term "
        "FROM documents), "
        "tf AS MATERIALIZED (SELECT doc_id, term, count(*)::BIGINT AS tf "
        "FROM toks GROUP BY 1, 2), "
        "dl AS MATERIALIZED (SELECT doc_id, sum(tf)::BIGINT AS dl "
        "FROM tf GROUP BY 1), "
        "st AS (SELECT (SELECT count(*)::DOUBLE FROM documents) AS nd, "
        "(SELECT coalesce(sum(tf), 0)::DOUBLE FROM tf) AS tok), "
        "tfq0 AS MATERIALIZED (SELECT tf.* FROM tf "
        "JOIN (SELECT DISTINCT term FROM qt0) v USING (term)), "
        "dfq0 AS (SELECT term, count(*)::BIGINT AS df FROM tfq0 GROUP BY 1), "
        f"s0 AS (SELECT qt0.query_id, t.doc_id, {score} AS bm25 "
        "FROM qt0 JOIN tfq0 t USING (term) JOIN dfq0 USING (term) "
        "JOIN dl ON dl.doc_id = t.doc_id, st GROUP BY 1, 2), "
        "fb AS MATERIALIZED (SELECT query_id, doc_id FROM ("
        "SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id "
        "ORDER BY bm25 DESC, doc_id) AS rank FROM s0) "
        f"WHERE rank <= {fb_docs}), "
        "cand AS MATERIALIZED (SELECT f.query_id, t.term, t.tf "
        "FROM fb f JOIN tf t USING (doc_id)), "
        "dfc AS (SELECT term, count(*)::BIGINT AS df FROM tf "
        "JOIN (SELECT DISTINCT term FROM cand) c USING (term) GROUP BY 1), "
        "wt AS (SELECT query_id, term, "
        "round(sum(tf * ln(1.0 + (nd - df + 0.5) / (df + 0.5))) + 1e-12, 6) "
        "AS w FROM cand JOIN dfc USING (term), st GROUP BY 1, 2), "
        "ex AS (SELECT wt.query_id, wt.term, w FROM wt "
        "LEFT JOIN qt0 q0 ON wt.query_id = q0.query_id "
        "AND wt.term = q0.term WHERE q0.term IS NULL), "
        "texp AS (SELECT query_id, term FROM ("
        "SELECT query_id, term, row_number() OVER (PARTITION BY query_id "
        "ORDER BY w DESC, term) AS r FROM ex) "
        f"WHERE r <= {fb_terms}), "
        "qt1 AS MATERIALIZED (SELECT query_id, term FROM qt0 "
        "UNION SELECT query_id, term FROM texp), "
        "tfq1 AS MATERIALIZED (SELECT tf.* FROM tf "
        "JOIN (SELECT DISTINCT term FROM qt1) v USING (term)), "
        "dfq1 AS (SELECT term, count(*)::BIGINT AS df FROM tfq1 GROUP BY 1), "
        f"s1 AS (SELECT qt1.query_id, t.doc_id, {score} AS bm25 "
        "FROM qt1 JOIN tfq1 t USING (term) JOIN dfq1 USING (term) "
        "JOIN dl ON dl.doc_id = t.doc_id, st GROUP BY 1, 2) "
        "SELECT query_id, doc_id, bm25, rank::INTEGER AS rank FROM ("
        "SELECT query_id, doc_id, bm25, row_number() OVER ("
        "PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank FROM s1) "
        f"WHERE rank <= {k}"
    )


@register(
    "text_rocchio_prf",
    tags=("sf_scale",),
    oracle=_rocchio_oracle_sql(fb_docs=3, fb_terms=2, k=10),
)
def _text_rocchio_prf(spark, sf_dir):
    """Pseudo-relevance-feedback retrieval (pipeline/text.
    rocchio_prf_topk — Rocchio 1971 / Robertson offer weights): BM25
    pass 1 over the five fixed queries, top-3 feedback docs, 2
    strongest new terms by summed tf·idf (6-dp, term tiebreaks)
    appended per query, re-ranked top-10 over the SAME corpus tables
    (one tokenize). The oracle replays both passes and the expansion
    pick end-to-end."""
    from orientdb_spark.pipeline.text import rocchio_prf_topk

    queries = local_frame(spark, _BM25_QUERIES, _BM25_QUERY_SCHEMA)
    return rocchio_prf_topk(
        _docs(spark, sf_dir), queries, k=10, fb_docs=3, fb_terms=2
    )


@register("text_vocabulary", oracle=(
    "WITH toks AS (SELECT unnest(list_filter("
    "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS token "
    "FROM documents), "
    "c AS (SELECT token, count(*)::BIGINT AS n_occurrences FROM toks "
    "GROUP BY token HAVING count(*) >= 2 "
    "ORDER BY n_occurrences DESC, token LIMIT 200) "
    "SELECT row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank, "
    "token, n_occurrences FROM c"
))
def _text_vocabulary(spark, sf_dir):
    """Tokenizer-style vocabulary construction (pipeline/text.vocabulary):
    top-200 lowercased whitespace tokens at min_count>=2 under the total
    (count desc, token) order — the rank-k boundary is deterministic, so
    the DuckDB oracle reproduces the truncation exactly."""
    from orientdb_spark.pipeline import text

    return text.vocabulary(_docs(spark, sf_dir), min_count=2, k=200)


@register("text_feature_hashing", tags=("sf_scale",), oracle=(
    "WITH toks AS (SELECT doc_id, unnest(list_filter("
    "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS token "
    "FROM documents) "
    "SELECT doc_id, "
    "((('0x' || substring(md5(token), 1, 15))::UBIGINT::BIGINT) % 256)::INT AS bucket, "
    "count(*)::BIGINT AS n_tokens "
    "FROM toks GROUP BY doc_id, bucket"
))
def _text_feature_hashing(spark, sf_dir):
    """Hashing-trick featurizer (pipeline/text.feature_hashing,
    HashingTF analog): sparse per-doc bucket counts over 256 buckets —
    h60(token) % 256 with collisions merging counts by design. One
    explode + one map-side-combinable groupBy; no vocabulary state.
    The oracle re-derives the identical md5-based bucket ids."""
    from orientdb_spark.pipeline import text

    return text.feature_hashing(_docs(spark, sf_dir), n_buckets=256)


@register("text_hash_embedding", tags=("sf_scale",), oracle=(
    "WITH toks AS (SELECT doc_id, unnest(list_filter("
    "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS token "
    "FROM documents), "
    "fh AS (SELECT doc_id, "
    "((('0x' || substring(md5(token), 1, 15))::UBIGINT::BIGINT) % 256)::INT AS bucket, "
    "count(*)::BIGINT AS n FROM toks GROUP BY doc_id, bucket), "
    "comp AS (SELECT doc_id, d.dim, "
    "sum(n * (1 - 2 * ((('0x' || substring(md5(d.dim::VARCHAR || ':' || bucket::VARCHAR), 1, 15))::UBIGINT::BIGINT) % 2)))::BIGINT AS c "
    "FROM fh, (SELECT unnest(range(0, 16)) AS dim) d GROUP BY doc_id, d.dim) "
    "SELECT doc_id, dim, round(CASE WHEN nrm > 0 THEN c / nrm ELSE 0.0 END, 6) AS value "
    "FROM (SELECT doc_id, dim, c, "
    "sqrt(sum(c * c) OVER (PARTITION BY doc_id)) AS nrm FROM comp)"
))
def _text_hash_embedding(spark, sf_dir):
    """Hash embeddings (pipeline/text.hash_embedding): feature hashing
    x sign random projection, 256 buckets -> 16 dims. Components are
    integer sums (order-independent -> oracle-exact); only the final
    norm/round touches floats."""
    from orientdb_spark.pipeline import text

    return text.hash_embedding(_docs(spark, sf_dir), n_buckets=256, dim=16)


@register("text_chunk_documents", oracle=(
    # same integer start enumeration: 1 + k*24 for
    # k in [0, ceil(max(len-32,0)/24)], tail chunk may be short
    "WITH toks AS (SELECT doc_id, list_filter("
    "regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) AS t "
    "FROM documents), "
    "st AS (SELECT doc_id, t, k::INTEGER AS chunk_idx, "
    "(1 + k * 24)::INTEGER AS start_tok FROM ("
    "SELECT doc_id, t, unnest(range(0, 1 + "
    "((greatest(len(t) - 32, 0) + 23) // 24))) AS k "
    "FROM toks WHERE len(t) > 0)), "
    "c AS (SELECT doc_id, chunk_idx::INTEGER AS chunk_idx, start_tok, "
    "t[start_tok : start_tok + 31] AS ck FROM st) "
    "SELECT doc_id, chunk_idx, start_tok, len(ck)::INTEGER AS n_tokens, "
    "md5(array_to_string(ck, ' ')) AS chunk_digest FROM c"
))
def _text_chunk_documents(spark, sf_dir):
    """RAG chunking (pipeline/text.chunk_documents): 32-token windows,
    8-token overlap, digested to md5 so the compare stays byte-exact
    without shipping chunk bodies. Start enumeration is pure integer
    arithmetic — both engines derive the identical chunk set."""
    from orientdb_spark.pipeline.text import chunk_documents

    out = chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=32, overlap=8
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        "n_tokens",
        F.md5(F.encode("chunk_text", "UTF-8")).alias("chunk_digest"),
    )


@register("text_cooccurrence", oracle=(
    # naive (doc, token) self-join — independent of the in-row
    # pair expansion the Spark side uses
    "WITH ex AS (SELECT DISTINCT doc_id, unnest(list_filter("
    "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS token "
    "FROM documents), "
    "dfq AS (SELECT token, count(*)::BIGINT AS n_docs FROM ex GROUP BY token "
    "ORDER BY n_docs DESC, token LIMIT 30), "
    "kept AS (SELECT ex.doc_id, ex.token FROM ex JOIN dfq USING (token)), "
    "pc AS (SELECT a.token AS ta, b.token AS tb, count(*)::BIGINT AS n_ab "
    "FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.token < b.token "
    "GROUP BY 1, 2), "
    "nn AS (SELECT count(*)::DOUBLE AS N FROM documents), "
    "sc AS (SELECT ta, tb, n_ab, round(ln(n_ab * N / "
    "(da.n_docs * db.n_docs)), 6) AS pmi "
    "FROM pc JOIN dfq da ON pc.ta = da.token "
    "JOIN dfq db ON pc.tb = db.token, nn), "
    "r AS (SELECT *, row_number() OVER (ORDER BY n_ab DESC, ta, tb) AS rk "
    "FROM sc) SELECT ta, tb, n_ab, pmi FROM r WHERE rk <= 40"
))
def _text_cooccurrence(spark, sf_dir):
    """Top-40 token co-occurrence pairs with PMI over the top-30
    document-frequency vocabulary (pipeline/text.cooccurrence). The
    in-row pair expansion is checked against the oracle's naive
    (doc, token) self-join — two independent formulations of the same
    counts."""
    from orientdb_spark.pipeline import text

    return text.cooccurrence(_docs(spark, sf_dir), top_terms=30, k=40)


def _bpe_oracle_sql(n_merges: int, output: str = "merges") -> str:
    """Unrolled BPE-training replay (pipeline/text.bpe_train): w0 is the
    (word, freq, chars+'</w>') table; each round counts adjacent symbol
    pairs weighted by word frequency, takes the (count desc, a, b)
    argmax, and applies the merge. The left-to-right non-overlapping
    merge fold (_merge_pair_col's replace-last trick) is replayed with a
    plain string replace(): symbols render as
    chr(31) || join(syms, chr(31)chr(31)) || chr(31) — every symbol
    flanked by single separators, adjacency marked by the double — so
    replace(sep+a+sep2+b+sep -> sep+ab+sep) consumes both symbols'
    delimiters, scans left-to-right without rescanning replacements
    (exactly the fold's semantics), and the result parses back by
    stripping the flanks and splitting on the double separator. chr(31)
    cannot collide: the corpus alphabet is printable ASCII and the only
    synthesized symbol characters are '<', '/', '>'."""
    sep, sep2 = "chr(31)", "(chr(31) || chr(31))"
    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)"
    parts = [
        # every w{r} is referenced twice (by the next round's pair count
        # AND the next w-table), so each round must be MATERIALIZED —
        # DuckDB inlines plain CTEs per reference and the corpus-wide
        # word collapse would re-execute O(2^n_merges) times (measured
        # 230 s at sf1 for the encode variant; materialized, seconds)
        "WITH w0 AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq, "
        "list_append(str_split(word, ''), '</w>') AS syms FROM ("
        f"SELECT unnest({toks}) AS word FROM documents) GROUP BY word)"
    ]
    for r in range(n_merges):
        parts.append(
            f", p{r} AS (SELECT a, b, sum(freq) AS n FROM ("
            f"SELECT freq, syms[i] AS a, syms[i + 1] AS b "
            f"FROM w{r}, unnest(range(1, len(syms))) AS t(i) "
            "WHERE len(syms) >= 2) GROUP BY a, b)"
            f", t{r} AS MATERIALIZED "
            f"(SELECT a, b FROM p{r} ORDER BY n DESC, a, b LIMIT 1)"
        )
        if r < n_merges - 1 or output == "encode":
            # LEFT JOIN ON 1=1, not a cross join: when the corpus runs
            # out of pairs before n_merges (bpe_train's early break),
            # t{r} is EMPTY — a cross join would empty every later
            # w-table (and the encode vocab with it); the left join
            # passes symbols through unchanged instead, exactly the
            # fold-with-no-merge semantics
            parts.append(
                f", w{r + 1} AS MATERIALIZED (SELECT word, freq, "
                f"CASE WHEN s2 IS NULL THEN syms ELSE "
                f"str_split(substr(s2, 2, len(s2) - 2), {sep2}) END AS syms FROM ("
                f"SELECT word, freq, syms, CASE WHEN t.a IS NULL THEN NULL ELSE "
                f"replace({sep} || array_to_string(syms, {sep2}) "
                f"|| {sep}, {sep} || t.a || {sep2} || t.b || {sep}, "
                f"{sep} || t.a || t.b || {sep}) END AS s2 "
                f"FROM w{r} LEFT JOIN t{r} t ON 1 = 1))"
            )
    if output == "encode":
        # one CTE past the merge loop: the FINAL per-word symbol table
        # IS the tokenizer — per-doc encoding is a words->vocab join
        # (BPE segmentation depends on the word alone), exactly the
        # join pipeline/text.bpe_encode's segmentation-consistency test
        # pins on the Spark side
        tail = (
            f", vocab AS (SELECT word, len(syms) AS ntok FROM w{n_merges})"
            f", dw AS (SELECT doc_id, unnest({toks}) AS word FROM documents)"
            ", per AS (SELECT dw.doc_id, count(*)::INTEGER AS n_words, "
            "sum(v.ntok)::INTEGER AS n_tokens "
            "FROM dw JOIN vocab v USING (word) GROUP BY dw.doc_id) "
            "SELECT d.doc_id, coalesce(p.n_words, 0)::INTEGER AS n_words, "
            "coalesce(p.n_tokens, 0)::INTEGER AS n_tokens, "
            "round(coalesce(p.n_tokens, 0) / "
            "greatest(coalesce(p.n_words, 0), 1), 6) AS tokens_per_word "
            "FROM documents d LEFT JOIN per p USING (doc_id)"
        )
        return "".join(parts) + tail
    sel = " UNION ALL ".join(
        f'SELECT {r + 1}::BIGINT AS rank, a AS "left", b AS "right" FROM t{r}'
        for r in range(n_merges)
    )
    return "".join(parts) + " " + sel


@register("text_bpe_merges", oracle=_bpe_oracle_sql(10))
def _text_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (pipeline/text.bpe_train) — 10 merge
    rounds over the corpus word-frequency table. ORACLE-EXACT (r11
    upgrade from rows-only, the unrolled-CTE discipline): every round
    is integer arithmetic — pair counts are exact sums, the argmax
    order (count desc, a, b) is total, and the merge fold is replayed
    as a delimiter-exact string replace (see _bpe_oracle_sql) — so the
    10 collected argmax rows are bit-reproducible across engines. The
    sequential-reference equality and segmentation-consistency gates in
    tests/test_text_pipeline.py stay as the independent checks."""
    from orientdb_spark.pipeline.text import bpe_train

    merges, _ = bpe_train(_docs(spark, sf_dir), n_merges=10)
    return local_frame(
        spark,
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "rank bigint, left string, right string",
    )


@register(
    "text_bpe_encode",
    tags=("headline", "noisy", "sf_scale"),
    oracle=_bpe_oracle_sql(10, output="encode"),
)
def _text_bpe_encode(spark, sf_dir):
    """Tokenizer APPLICATION (pipeline/text.bpe_encode): train the
    10-merge BPE table on the corpus (the text_bpe_merges loop), then
    encode every document — per-doc word and token counts under the
    trained tokenizer, the number a token-budget pipeline actually
    bills by. Oracle-exact: the merge replay extends one CTE further
    (the FINAL symbol table), and per-doc encoding is a words->vocab
    join — no per-word re-derivation, because BPE segmentation is a
    function of the word alone."""
    from orientdb_spark.pipeline.text import bpe_encode, bpe_train

    docs = _docs(spark, sf_dir)
    merges, _ = bpe_train(docs, n_merges=10)
    return bpe_encode(docs, merges)


def _phrase_oracle_sql() -> str:
    """Rebuilds the reference-tokenizer stream (punctuation-free corpus:
    ws-split + stop-word drop) and counts consecutive-position 'table
    scan' matches per doc — the ground truth for the positional-index
    posting intersection."""
    from orientdb_spark.fulltext import STOP_WORDS

    sl = ", ".join(f"'{s}'" for s in sorted(STOP_WORDS))
    return (
        "WITH toks AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(lower(text), '\\s+'), "
        f"t -> len(t) > 0 AND NOT list_contains([{sl}], t)) AS t FROM documents), "
        "m AS (SELECT doc_id, len(list_filter(range(1, len(t)), "
        "i -> t[i::INTEGER] = 'table' AND t[i::INTEGER + 1] = 'scan'))::BIGINT AS n_matches "
        "FROM toks) "
        "SELECT doc_id, n_matches FROM m WHERE n_matches > 0"
    )


@register("fulltext_phrase_search", oracle=_phrase_oracle_sql())
def _fulltext_phrase_search(spark, sf_dir):
    """Exact phrase query over the positional inverted index
    (fulltext.positional_index + phrase_search — IR posting
    intersection, one shuffle, no raw-text scan). The oracle rebuilds
    the token stream in SQL and counts consecutive-position matches;
    this corpus is punctuation-free so the ignore-chars tokenizer
    reduces to ws-split + stop-word drop on both engines."""
    from orientdb_spark.fulltext import phrase_search, positional_index

    idx = positional_index(_docs(spark, sf_dir))
    return phrase_search(idx, "table scan")


@register("text_lm_score", oracle=_lm_oracle_sql())
def _text_lm_score(spark, sf_dir):
    """Corpus-trained bigram-LM quality score (CCNet-style perplexity
    filter; pipeline/text.lm_score). 6-dp rounding dwarfs cross-engine
    FP accumulation noise (verified value-exact at all three SFs)."""
    from orientdb_spark.pipeline import text

    return text.lm_score(_docs(spark, sf_dir))


def _min_k_prob_oracle_sql(k_frac: float) -> str:
    """Min-K%-prob replay (text.min_k_prob): the lm_score bigram model
    down to per-distinct-bigram (doc, w1, w2, nb, nll6), then the
    occurrence-weighted top-m pick — m = max(1, ceil(round(k_frac·n, 6)))
    — via one cumulative window ordered (nll6 DESC, w1, w2), boundary
    bigram taken partially, averaged on the 6-dp grid with the +1e-12
    midpoint nudge. pairs/sc are MATERIALIZED (multi-referenced — the
    NOTES_r11 CTE-inlining lesson)."""
    return (
        "WITH staged AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS t "
        "FROM documents), "
        "s2 AS (SELECT doc_id, t FROM staged WHERE len(t) >= 2), "
        "pairs AS MATERIALIZED (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM ("
        "SELECT doc_id, unnest(list_transform(range(1, len(t)), "
        "i -> {'w1': t[i::INTEGER], 'w2': t[i::INTEGER + 1]})) AS u FROM s2)), "
        "pc AS MATERIALIZED (SELECT doc_id, w1, w2, count(*)::BIGINT AS nb "
        "FROM pairs GROUP BY 1, 2, 3), "
        "c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM pairs GROUP BY 1, 2), "
        "c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM pairs GROUP BY 1), "
        "v AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM ("
        "SELECT w1 AS w FROM pairs UNION ALL SELECT w2 FROM pairs)), "
        "sc AS MATERIALIZED (SELECT pc.doc_id, pc.w1, pc.w2, pc.nb, "
        "round(-ln((c2 + 0.5) / (c1 + 0.5 * v)), 6) AS nll6 "
        "FROM pc JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v), "
        "st AS (SELECT doc_id, nb, nll6, "
        "sum(nb) OVER (PARTITION BY doc_id) AS n, "
        "sum(nb) OVER (PARTITION BY doc_id ORDER BY nll6 DESC, w1, w2 "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sc), "
        "tk AS (SELECT doc_id, n, nll6, "
        f"greatest(1, ceil(round({k_frac!r} * n, 6))::BIGINT) AS m, "
        f"least(nb, greatest(1, ceil(round({k_frac!r} * n, 6))::BIGINT) "
        "- (cum - nb)) AS take FROM st) "
        "SELECT doc_id, max(n)::BIGINT AS n_bigrams, "
        "round(sum(take * nll6) / max(m) + 1e-12, 6) AS mink_nll "
        "FROM tk WHERE take > 0 GROUP BY doc_id"
    )


# r13: Min-K%-prob memorization audit (Shi et al. 2023)
@register("text_min_k_prob", tags=("sf_scale",), oracle=_min_k_prob_oracle_sql(0.2))
def _text_min_k_prob(spark, sf_dir):
    """Min-K%-prob memorization audit (pipeline/text.min_k_prob, Shi et
    al. 2023): per doc, the mean NLL of the 20% least-likely bigram
    occurrences under the corpus bigram LM — low scores flag absorbed /
    templated content. Oracle-exact: ordering key and averaged values
    both live on the 6-dp grid with (w1, w2) tiebreaks, so the weighted
    top-m pick replays identically in SQL."""
    from orientdb_spark.pipeline import text

    return text.min_k_prob(_docs(spark, sf_dir), k_frac=0.2)


def _classifier_label(df):
    """Deterministic binary label for the classifier entries: the
    'target language' proxy (lang = 'en') — the GPT-3 App. A shape is
    'looks like the curated corpus vs not'; any 0/1 column works."""
    return df.withColumn("__lbl", (F.col("lang") == "en").cast("int"))


def _classifier_oracle_sql(d: int, iters: int, lr: float, output: str) -> str:
    """Unrolled logistic-GD replay (model.train_quality_classifier /
    classifier_score): t0 tokenizes and labels (lang = 'en'); x is the
    L1-normalized hashed bucket frequency; each iteration computes
    per-doc z against w{t} (missing buckets contribute exact 0.0 on
    both engines), sigmoid errors, per-bucket gradient sums over the
    w{t} spine (range(-1, d) — bucket -1 is the intercept), and the
    6-dp nudge-rounded weight update — the same grid quantization the
    Spark driver loop applies, so distributed-sum order noise never
    crosses an iteration boundary. output='train' emits the weight
    table; 'score' adds the per-token broadcast-lookup inference pass
    (mean bucket weight + intercept through the sigmoid, rounded)."""
    h = _dk_h60("tok")
    # Every chained CTE here is AS MATERIALIZED: w{t}/e{t}/x are each
    # referenced 2-4 times per iteration, and DuckDB inlines plain CTEs
    # once PER REFERENCE — un-materialized, the w-chain re-executes the
    # whole upstream tokenize+aggregate pipeline exponentially in iters
    # (the NOTES_r11 inlining lesson; fine at sf0.01, hours at sf5).
    parts = [
        "WITH t0 AS MATERIALIZED (SELECT doc_id, "
        "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, "
        f"{_DK_TOKS_LOWER} AS t FROM documents), "
        "docs AS MATERIALIZED (SELECT doc_id, y FROM t0 WHERE len(t) >= 1), "
        f"tk AS MATERIALIZED (SELECT doc_id, ({h}) % {d} AS bucket FROM "
        "(SELECT doc_id, unnest(t) AS tok FROM t0 WHERE len(t) >= 1)), "
        "f AS MATERIALIZED (SELECT doc_id, bucket, count(*)::DOUBLE AS c "
        "FROM tk GROUP BY 1, 2), "
        "x AS MATERIALIZED (SELECT f.doc_id, f.bucket, f.c / nt.n AS x FROM f JOIN "
        "(SELECT doc_id, sum(c) AS n FROM f GROUP BY 1) nt USING (doc_id)), "
        "nd AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM docs), "
        f"w0 AS MATERIALIZED (SELECT unnest(range(-1, {d})) AS bucket, 0.0 AS w)",
    ]
    for t in range(iters):
        parts.append(
            f", zs{t} AS MATERIALIZED (SELECT x.doc_id, sum(x.x * w.w) AS zz FROM x "
            f"JOIN w{t} w USING (bucket) GROUP BY 1)"
            f", e{t} AS MATERIALIZED (SELECT d.doc_id, "
            f"1.0 / (1.0 + exp(-(coalesce(zz, 0.0) "
            f"+ (SELECT w FROM w{t} WHERE bucket = -1)))) - d.y AS err "
            f"FROM docs d LEFT JOIN zs{t} USING (doc_id))"
            f", g{t} AS MATERIALIZED (SELECT x.bucket, sum(e.err * x.x) AS g FROM x "
            f"JOIN e{t} e USING (doc_id) GROUP BY 1)"
            f", w{t + 1} AS MATERIALIZED (SELECT bucket, round(w.w - {lr!r} * "
            f"(CASE WHEN bucket = -1 THEN (SELECT sum(err) FROM e{t}) "
            f"ELSE coalesce(g.g, 0.0) END) / (SELECT n FROM nd) + 1e-12, 6) AS w "
            f"FROM w{t} w LEFT JOIN g{t} g USING (bucket))"
        )
    if output == "train":
        parts.append(f" SELECT bucket::BIGINT AS bucket, w AS weight FROM w{iters}")
        return "".join(parts)
    parts.append(
        f", sc AS (SELECT tk.doc_id, sum(w.w) / count(*) AS z FROM tk "
        f"JOIN w{iters} w USING (bucket) GROUP BY 1)"
        f", scores AS MATERIALIZED (SELECT doc_id, round(1.0 / (1.0 + exp(-(z + "
        f"(SELECT w FROM w{iters} WHERE bucket = -1)))) + 1e-12, 6) AS score "
        "FROM sc)"
    )
    if output == "score":
        parts.append(" SELECT doc_id, score FROM scores")
    elif output == "pr_curve":
        # threshold_sweep replay: literal threshold fan-out over the
        # scored corpus, exact integer confusion counts, each metric
        # ONE division (f1 in the integer form 2tp/(2tp+fp+fn)), NULL
        # at undefined operating points
        # ::DOUBLE on every literal — bare decimals in a DuckDB list are
        # DECIMAL(3,2), which would flip the threshold column's type
        ths = ", ".join(
            f"{t!r}::DOUBLE" for t in (0.40, 0.42, 0.44, 0.46, 0.48, 0.50, 0.52)
        )
        parts.append(
            f", th AS (SELECT unnest([{ths}]) AS threshold)"
            ", jo AS MATERIALIZED (SELECT s.score, d.y FROM scores s "
            "JOIN docs d USING (doc_id))"
            ", ag AS (SELECT threshold, count(*)::BIGINT AS n, "
            "sum(CASE WHEN score >= threshold AND y >= 0.5 THEN 1 ELSE 0 END)"
            "::BIGINT AS tp, "
            "sum(CASE WHEN score >= threshold AND y < 0.5 THEN 1 ELSE 0 END)"
            "::BIGINT AS fp, "
            "sum(CASE WHEN score < threshold AND y >= 0.5 THEN 1 ELSE 0 END)"
            "::BIGINT AS fn, "
            "sum(CASE WHEN score < threshold AND y < 0.5 THEN 1 ELSE 0 END)"
            "::BIGINT AS tn FROM jo, th GROUP BY 1) "
            "SELECT threshold, n, tp, fp, fn, tn, "
            "round(CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) END "
            "+ 1e-12, 6) AS precision, "
            "round(CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn) END "
            "+ 1e-12, 6) AS recall, "
            "round(CASE WHEN 2 * tp + fp + fn > 0 THEN "
            "2.0 * tp::DOUBLE / (2 * tp + fp + fn) END + 1e-12, 6) AS f1, "
            "round((tp + tn)::DOUBLE / n::DOUBLE + 1e-12, 6) AS accuracy "
            "FROM ag"
        )
    else:  # calibration: range-binned deciles + cumulative-from-top metrics
        parts.append(
            ", mnmx AS (SELECT min(score) AS mn, max(score) AS mx FROM scores)"
            ", ag AS MATERIALIZED (SELECT (CASE WHEN mx > mn THEN "
            "least(floor(((score - mn) / (mx - mn)) * 10), 9) ELSE 0 END)::BIGINT "
            "AS bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos, "
            "sum(score) AS ssum "
            "FROM scores JOIN docs USING (doc_id), mnmx GROUP BY 1) "
            "SELECT bin, n, n_pos, round(ssum / n + 1e-12, 6) AS mean_score, "
            "round(n_pos / n::DOUBLE + 1e-12, 6) AS pos_rate, "
            "round(sum(n_pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW)::DOUBLE / sum(n) OVER (ORDER BY bin DESC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-12, 6) "
            "AS precision_at, "
            "round(sum(n_pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW)::DOUBLE / (SELECT sum(n_pos) FROM ag) "
            "+ 1e-12, 6) AS recall_at FROM ag"
        )
    return "".join(parts)


# model-based curation (pipeline/model.py, r11)
@register(
    "text_classifier_train",
    tags=("sf_scale",),
    oracle=_classifier_oracle_sql(16, 3, 1.0, "train"),
)
def _text_classifier_train(spark, sf_dir):
    """Distributed logistic-regression training of a linear quality
    classifier over hashed bag-of-words features (the fasttext /
    GPT-3-App.A / FineWeb-Edu filter family; pipeline/model.py).
    ORACLE-EXACT: every GD iteration quantizes the weights to the
    6-dp nudge-rounded grid (the kmeans/k-center discipline), so the
    oracle's unrolled-CTE replay — feature hashing, L1 normalization,
    sigmoid errors, gradient sums, weight updates — reproduces the
    trained model bit-for-bit. The numpy-GD agreement gate lives in
    tests/test_model.py."""
    from orientdb_spark.pipeline import model

    w = model.train_quality_classifier(
        _classifier_label(_docs(spark, sf_dir)),
        "__lbl",
        n_buckets=16,
        iters=3,
        lr=1.0,
    )
    return local_frame(
        spark,
        [(int(k), float(v)) for k, v in sorted(w.items())],
        "bucket BIGINT, weight DOUBLE",
    )


@register(
    "text_classifier_score",
    tags=("headline", "noisy", "sf_scale"),
    oracle=_classifier_oracle_sql(16, 3, 1.0, "score"),
)
def _text_classifier_score(spark, sf_dir):
    """Train-then-score composition: the broadcast-weights inference
    pass over the whole corpus (scan → in-row hash → per-token weight
    lookup in a d-element literal array → one map-side-combinable
    groupBy — the plan a 100 TB quality filter actually runs;
    plan-pinned single-exchange in tests/test_model.py). The oracle
    replays training AND scoring under one hash check. r14: train and
    score share ONE tokenize+hash pass (the oracle's materialized tk
    CTE shape) instead of scanning the corpus twice — same weights,
    same per-token score formula."""
    from orientdb_spark.pipeline import model

    docs = _classifier_label(_docs(spark, sf_dir))
    return model.train_and_score_quality_classifier(
        docs, "__lbl", n_buckets=16, iters=3, lr=1.0
    )


@register("text_classifier_calibration", tags=("sf_scale",), oracle=_classifier_oracle_sql(
    16, 3, 1.0, "calibration"
))
def _text_classifier_calibration(spark, sf_dir):
    """Reliability / threshold-tuning table for the trained filter
    (pipeline/model.score_calibration, the Guo et al. 2017 shape):
    decile bins over the broadcast-inference scores with per-bin
    positive rates and cumulative-from-top precision/recall — how a
    pipeline picks its quality cutoff. The oracle replays training,
    scoring, binning, and the window arithmetic under one hash check
    (scores live on the 6-dp grid, so bin membership is engine-exact)."""
    from orientdb_spark.pipeline import model

    docs = _classifier_label(_docs(spark, sf_dir))
    w = model.train_quality_classifier(docs, "__lbl", n_buckets=16, iters=3, lr=1.0)
    scored = model.classifier_score(docs, w).join(
        docs.select("doc_id", F.col("__lbl").alias("label")), "doc_id"
    )
    # range binning: the undertrained fixture model is discriminative
    # but uncalibrated (scores concentrate near 0.46), so observed
    # min-max deciles carry the signal unit deciles would collapse
    return model.score_calibration(scored, n_bins=10, binning="range")


@register("text_classifier_pr_curve", tags=("sf_scale",), oracle=_classifier_oracle_sql(
    16, 3, 1.0, "pr_curve"
))
def _text_classifier_pr_curve(spark, sf_dir):
    """Operating-point sweep for the trained filter (pipeline/model.
    threshold_sweep): per candidate threshold over the broadcast-
    inference scores, the full confusion-matrix counts plus
    precision/recall/F1/accuracy — the table a pipeline reads to PICK
    the cutoff score_calibration only characterizes. Thresholds span
    the undertrained fixture's observed score band (~0.46). Every
    metric is one division of exact integer counts on the 6-dp score
    grid; the oracle replays train → score → sweep under one hash."""
    from orientdb_spark.pipeline import model

    docs = _classifier_label(_docs(spark, sf_dir))
    w = model.train_quality_classifier(docs, "__lbl", n_buckets=16, iters=3, lr=1.0)
    scored = model.classifier_score(docs, w).join(
        docs.select("doc_id", F.col("__lbl").alias("label")), "doc_id"
    )
    return model.threshold_sweep(scored)


@register("text_unicode_normalize", oracle=(
    "WITH fx AS (SELECT doc_id, text || CASE WHEN doc_id % 3 = 0 "
    "THEN ' cafe' || chr(769) ELSE '' END AS t FROM documents), "
    "n AS (SELECT doc_id, t, nfc_normalize(t) AS nt FROM fx) "
    "SELECT doc_id, md5(nt) AS digest, (t <> nt)::INTEGER AS changed FROM n"
))
def _text_unicode_normalize(spark, sf_dir):
    """NFC normalization over a derived fixture (the corpus is already
    composed, so every third doc gets a deterministic decomposed
    ' cafe'+COMBINING-ACUTE suffix — same in-entry synthesis pattern as
    the boilerplate/PII entries). Digested to md5 so the oracle compares
    the normalized text byte-exactly (unicodedata vs utf8proc — both
    implement the Unicode standard)."""
    from orientdb_spark.pipeline import text

    docs = _docs(spark, sf_dir)
    fx = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" cafe\u0301")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    out = text.unicode_normalize(fx)
    return out.select(
        "doc_id",
        F.md5(F.encode(F.col("normalized"), "UTF-8")).alias("digest"),
        "changed",
    )


@register("text_boilerplate", oracle=(
    # independently re-derives the fixture and re-implements
    # detect (per-source line doc-frequency >= 0.5) + strip +
    # ordered reassembly in SQL
    "WITH b AS (SELECT doc_id, source, '== ' || source || "
    "' newsletter ==' || chr(10) || text || chr(10) || "
    "'unsubscribe at ' || source || '.example.com' AS text FROM documents), "
    "p AS (SELECT doc_id, source, string_split(text, chr(10)) AS parts FROM b), "
    "ld AS (SELECT DISTINCT doc_id, source, line FROM "
    "(SELECT doc_id, source, trim(unnest(parts)) AS line FROM p) "
    "WHERE len(line) >= 3), "
    "lf AS (SELECT source, line, count(*) AS nd FROM ld GROUP BY source, line), "
    "tot AS (SELECT source, count(*) AS n FROM b GROUP BY source), "
    "boiler AS (SELECT lf.source, lf.line FROM lf JOIN tot ON lf.source = tot.source "
    "WHERE round(nd * 1.0 / n, 6) >= 0.5), "
    "lines AS (SELECT doc_id, source, unnest(list_transform(parts, "
    "(x, i) -> struct_pack(pos := i, line := x))) AS s FROM p), "
    "kept AS (SELECT l.doc_id, l.s.pos AS pos, l.s.line AS line FROM lines l "
    "ANTI JOIN boiler bo ON l.source = bo.source AND trim(l.s.line) = bo.line), "
    "agg AS (SELECT doc_id, count(*) AS n_kept, "
    "string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id), "
    "nl AS (SELECT doc_id, len(parts) AS n_lines FROM p) "
    "SELECT nl.doc_id, nl.n_lines::INT AS n_lines, "
    "(nl.n_lines - agg.n_kept)::INT AS n_removed, agg.clean_text "
    "FROM nl JOIN agg ON nl.doc_id = agg.doc_id"
))
def _text_boilerplate(spark, sf_dir):
    """Cross-doc boilerplate detection + removal. The synthetic corpus
    has no boilerplate signal (measured max trigram doc-frequency 7/500,
    no newlines — NOTES_r5), so the entry derives a fixture the same way
    the embeddings/events entries do: a deterministic per-source header
    and footer stamped onto every doc. The operator must rediscover
    exactly those lines via per-source document frequency and strip
    them; the oracle re-implements detection+strip independently in SQL."""
    from orientdb_spark.pipeline import text

    src = F.col("source")
    fixture = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.concat(
            F.lit("== "), src, F.lit(" newsletter ==\n"),
            F.col("text"),
            F.lit("\nunsubscribe at "), src, F.lit(".example.com"),
        ).alias("text"),
    )
    return text.strip_boilerplate(fixture)


@register("text_duplicate_spans", oracle=(
    # re-derives the recrawl corpus, the positioned 5-grams, the
    # distinct-doc frequency filter, and the islands-and-gaps
    # span merge (break when the position gap exceeds n-1)
    "WITH corpus AS (SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000, "
    "'RECRAWL ' || doc_id || ' ' || text FROM documents WHERE doc_id % 3 = 0), "
    "toks AS (SELECT doc_id, list_filter("
    "regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) AS t FROM corpus), "
    "grams AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM ("
    "SELECT doc_id, unnest(list_transform(range(1, len(t) - 3), i -> "
    "{'pos': i::INTEGER, 'gram': array_to_string("
    "t[i::INTEGER : i::INTEGER + 4], ' ')})) AS u "
    "FROM toks WHERE len(t) >= 5)), "
    "dfq AS (SELECT gram FROM grams GROUP BY gram "
    "HAVING count(DISTINCT doc_id) >= 2), "
    "dup AS (SELECT g.doc_id, g.pos FROM grams g JOIN dfq USING (gram)), "
    "isl AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER "
    "(PARTITION BY doc_id ORDER BY pos) <= 4 THEN 0 ELSE 1 END AS brk FROM dup), "
    "sp AS (SELECT doc_id, pos, sum(brk) OVER "
    "(PARTITION BY doc_id ORDER BY pos) AS span_id FROM isl) "
    "SELECT doc_id, min(pos)::INTEGER AS span_start, "
    "(max(pos) + 4)::INTEGER AS span_end, "
    "(max(pos) + 4 - min(pos) + 1)::INTEGER AS n_dup_tokens "
    "FROM sp GROUP BY doc_id, span_id"
))
def _text_duplicate_spans(spark, sf_dir):
    """Exact duplicated-substring spans (the distributed analog of
    Lee et al. 2022 suffix-array substring dedup;
    pipeline/dedup.duplicate_spans — two-exchange n-gram window plan).
    Corpus = documents plus a prefixed recrawl of every 3rd doc: the
    prefix SHIFTS token positions in the copy, so matching spans prove
    the position arithmetic and the island merge, not just gram
    equality. The oracle re-derives the corpus and the islands-and-gaps
    walk independently in SQL."""
    from orientdb_spark.pipeline.dedup import duplicate_spans

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recrawl = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.lit("RECRAWL "), F.col("doc_id").cast("string"), F.lit(" "), F.col("text")
        ).alias("text"),
    )
    return duplicate_spans(docs.unionByName(recrawl), n=5, min_df=2)


_GOPHER_STOPS = ["a", "data", "key", "window", "scan"]


def _gopher_fixture(docs):
    """Deterministic rule-signal decoration for the Gopher filter entry.

    The synthetic corpus is single-line all-alphabetic text, so rules
    3-7 would be constant on the raw table. Stamps (composable — a
    doc_id divisible by several moduli gets several): %5 -> bullet
    prefix plus a second bulleted line (bullet ratio 1.0, fails rule 4);
    %6 -> fourteen digit words (alpha ratio drops; short docs also dip
    below mean-word-len 3); %4 -> ``# # #`` (symbol ratio); %7 ->
    trailing ``...`` (ellipsis line + symbol ratio). The word-count and
    stop-word rules draw signal from the raw corpus (word counts 10-99
    vs min 50; stop set chosen from the fixture vocabulary)."""
    i = F.col("doc_id")
    t = F.col("text")
    stamped = F.concat(
        F.when(i % 5 == 0, F.lit("- ")).otherwise(F.lit("")),
        t,
        F.when(i % 6 == 0, F.lit(" 0 1 2 3 4 5 6 7 8 9 10 11 12 13")).otherwise(
            F.lit("")
        ),
        F.when(i % 4 == 0, F.lit(" # # #")).otherwise(F.lit("")),
        F.when(i % 7 == 0, F.lit(" ...")).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.concat(F.lit("\n- "), t)).otherwise(F.lit("")),
    )
    return docs.select("doc_id", stamped.alias("text"))


@register("text_gopher_rules", tags=("sf_scale",), oracle=(
    # re-derives the stamped fixture and the full Gopher rule
    # table (Rae et al. 2021 A1.1): ws tokens, newline lines,
    # non-overlapping replace arithmetic for #/... counts,
    # 6-dp-rounded ratios, flags derived FROM the rounded
    # columns, keep = AND of the seven rules
    "WITH d AS (SELECT doc_id, "
    "concat(CASE WHEN doc_id % 5 = 0 THEN '- ' ELSE '' END, text, "
    "CASE WHEN doc_id % 6 = 0 THEN ' 0 1 2 3 4 5 6 7 8 9 10 11 12 13' "
    "ELSE '' END, "
    "CASE WHEN doc_id % 4 = 0 THEN ' # # #' ELSE '' END, "
    "CASE WHEN doc_id % 7 = 0 THEN ' ...' ELSE '' END, "
    "CASE WHEN doc_id % 5 = 0 THEN chr(10) || '- ' || text ELSE '' END"
    ") AS t FROM documents), "
    "s AS (SELECT doc_id, t, "
    "list_filter(regexp_split_to_array(t, '\\s+'), w -> len(w) > 0) AS toks, "
    "string_split(t, chr(10)) AS lines FROM d), "
    "m AS (SELECT doc_id, len(toks) AS n_words, "
    "greatest(len(toks), 1)::DOUBLE AS nwd, "
    "greatest(len(lines), 1)::DOUBLE AS nld, "
    "length(regexp_replace(t, '\\s+', '', 'g')) AS charlen, "
    "length(t) - length(replace(t, '#', '')) AS nhash, "
    "(length(t) - length(replace(t, '...', ''))) / 3 AS nell, "
    "len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %' "
    "OR l LIKE '• %')) AS nbul, "
    "len(list_filter(lines, l -> l LIKE '%...')) AS nelll, "
    "len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS nalpha, "
    "len(list_intersect(list_distinct(list_transform(toks, w -> lower(w))), "
    "['a', 'data', 'key', 'window', 'scan'])) AS nstop FROM s), "
    "r AS (SELECT doc_id, n_words::BIGINT AS n_words, "
    "round(charlen / nwd + 1e-12, 6) AS mean_word_len, "
    "round((nhash + nell) / nwd + 1e-12, 6) AS symbol_word_ratio, "
    "round(nbul / nld + 1e-12, 6) AS bullet_line_ratio, "
    "round(nelll / nld + 1e-12, 6) AS ellipsis_line_ratio, "
    "round(nalpha / nwd + 1e-12, 6) AS alpha_word_ratio, "
    "nstop::BIGINT AS n_stop_words FROM m), "
    "f AS (SELECT *, "
    "(n_words BETWEEN 50 AND 100000) AS pass_word_count, "
    "(mean_word_len BETWEEN 3.0 AND 10.0) AS pass_mean_word_len, "
    "(symbol_word_ratio <= 0.1) AS pass_symbol_ratio, "
    "(bullet_line_ratio <= 0.9) AS pass_bullet_lines, "
    "(ellipsis_line_ratio <= 0.3) AS pass_ellipsis_lines, "
    "(alpha_word_ratio >= 0.8) AS pass_alpha_words, "
    "(n_stop_words >= 2) AS pass_stop_words FROM r) "
    "SELECT *, (pass_word_count AND pass_mean_word_len AND "
    "pass_symbol_ratio AND pass_bullet_lines AND pass_ellipsis_lines "
    "AND pass_alpha_words AND pass_stop_words) AS keep FROM f"
))
def _text_gopher_rules(spark, sf_dir):
    """The Gopher/MassiveText rule-table filter (pipeline/text.
    gopher_rules, Rae et al. 2021 appendix A1.1): per-doc measured
    stats, one boolean per rule, keep = AND. Paper thresholds except
    the stop-word set, which comes from the fixture vocabulary so rule
    7 has signal. Pure per-row projection — the plan pin asserts zero
    exchanges. Oracle-exact: every flag derives from the already
    6-dp-rounded ratio columns."""
    from orientdb_spark.pipeline.text import gopher_rules

    fixture = _gopher_fixture(_docs(spark, sf_dir))
    return gopher_rules(
        fixture, stop_words=_GOPHER_STOPS, min_stop_words=2
    )


@register("text_readability", tags=("sf_scale",), oracle=(
    # re-derives the punctuation-stamped fixture, then the exact
    # word / sentence-run / vowel-run counts and both scores on
    # the identical left-associated IEEE tree
    "WITH d AS (SELECT doc_id, "
    "replace(replace(text, 'merge', 'merge.'), 'scan', 'scan!') "
    "AS t FROM documents), "
    "s AS (SELECT doc_id, "
    "list_filter(regexp_split_to_array(lower(t), '\\s+'), "
    "w -> len(w) > 0) AS toks, "
    "len(regexp_extract_all(lower(t), '[.!?]+')) AS sruns, "
    "len(regexp_extract_all(lower(t), '[aeiouy]+')) AS vruns "
    "FROM d), "
    "m AS (SELECT doc_id, len(toks) AS nw, "
    "greatest(sruns, 1) AS ns, "
    "vruns + len(list_filter(toks, "
    "w -> NOT regexp_matches(w, '[aeiouy]'))) AS sy FROM s) "
    "SELECT doc_id, nw::BIGINT AS n_words, ns::BIGINT AS n_sentences, "
    "sy::BIGINT AS n_syllables, "
    "round(CASE WHEN nw > 0 THEN 206.835 - 1.015 * "
    "(nw::DOUBLE / ns::DOUBLE) - 84.6 * (sy::DOUBLE / nw::DOUBLE) END "
    "+ 1e-12, 6) AS flesch, "
    "round(CASE WHEN nw > 0 THEN 0.39 * (nw::DOUBLE / ns::DOUBLE) + "
    "11.8 * (sy::DOUBLE / nw::DOUBLE) - 15.59 END + 1e-12, 6) "
    "AS fk_grade FROM m"
))
def _text_readability(spark, sf_dir):
    """Flesch reading ease + FK grade (pipeline/text.readability,
    Flesch 1948 / Kincaid 1975) over the corpus with deterministic
    sentence punctuation stamped on ('merge' -> 'merge.', 'scan' ->
    'scan!' — the raw fixture has none): exact word/sentence/syllable
    counts (whitespace tokens, [.!?] runs, vowel-group runs with the
    min-1-per-word floor) plus both scores on one fixed IEEE tree.
    Zero-exchange scan; oracle-exact."""
    from orientdb_spark.pipeline.text import readability

    docs = _docs(spark, sf_dir)
    fixture = docs.select(
        "doc_id",
        F.expr(
            "replace(replace(text, 'merge', 'merge.'), 'scan', 'scan!')"
        ).alias("text"),
    )
    return readability(fixture)


@register("text_source_quality_rollup", tags=("sf_scale",), oracle=(
    # composes the quality replay, joins source, then the
    # rounded-sum rollup: mean/low_frac from the ROUNDED sum and
    # exact integers, flags from the rounded fraction
    "WITH q AS ("
    + _quality_oracle_sql()
    + "), j AS (SELECT d.source AS \"group\", q.quality FROM q "
    "JOIN documents d USING (doc_id)), "
    "a AS (SELECT \"group\", count(*)::BIGINT AS n_docs, "
    "round(sum(quality) + 1e-12, 6) AS quality_sum, "
    "sum((quality < 0.6)::INT)::BIGINT AS n_low FROM j GROUP BY 1) "
    "SELECT \"group\", n_docs, quality_sum, "
    "round(quality_sum / n_docs::DOUBLE + 1e-12, 6) AS mean_quality, "
    "n_low, round(n_low::DOUBLE / n_docs::DOUBLE + 1e-12, 6) "
    "AS low_frac, "
    "(round(n_low::DOUBLE / n_docs::DOUBLE + 1e-12, 6) > 0.4) "
    "AS flag_source FROM a"
))
def _text_source_quality_rollup(spark, sf_dir):
    """Domain-level quality rollup (pipeline/text.source_quality_rollup
    — the C4/RefinedWeb per-source blocklist pass above doc scoring):
    per source, doc counts, the 6-dp-rounded quality sum (the
    centroid_sum accumulation discipline), mean/low-fraction from the
    ROUNDED sum and exact integers, and the blocklist-candidate flag
    (low_frac > 0.4 at quality < 0.6). One scan + one groupBy;
    oracle composes the quality replay."""
    from orientdb_spark.pipeline.text import source_quality_rollup

    return source_quality_rollup(
        _docs(spark, sf_dir), low_threshold=0.6, max_low_frac=0.4
    )


@register("text_rake_keyphrases", tags=("sf_scale",), oracle=(
    # stopword-run segmentation via the cumulative-flag window,
    # phrase assembly in pos order, integer deg/freq word scores
    # on the grid, phrase-score sums, top-3 with phrase tiebreaks
    "WITH tk AS (SELECT doc_id, list_filter("
    "regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) "
    "AS t FROM documents), "
    "ex AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM ("
    "SELECT doc_id, unnest(list_transform(range(1, len(t) + 1), "
    "i -> {'pos': i, 'w': t[i::INTEGER]})) AS u FROM tk)), "
    "st AS (SELECT doc_id, pos, w, (w IN ('the', 'a', 'and', 'of', "
    "'to', 'is', 'in', 'that', 'it', 'for'))::INT AS stop FROM ex), "
    "rn AS (SELECT *, sum(stop) OVER (PARTITION BY doc_id "
    "ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS run FROM st), "
    "runs AS MATERIALIZED (SELECT doc_id, run, pos, w FROM rn "
    "WHERE stop = 0), "
    "ph AS MATERIALIZED (SELECT doc_id, run, "
    "string_agg(w, ' ' ORDER BY pos) AS phrase, "
    "count(*)::BIGINT AS len FROM runs GROUP BY 1, 2), "
    "mem AS MATERIALIZED (SELECT r.doc_id, r.run, r.w, p.len "
    "FROM runs r JOIN ph p USING (doc_id, run)), "
    "ws AS (SELECT doc_id, w, "
    "round(sum(len)::DOUBLE / count(*)::DOUBLE + 1e-12, 6) AS wscore "
    "FROM mem GROUP BY 1, 2), "
    "ps AS (SELECT m.doc_id, m.run, "
    "round(sum(ws.wscore) + 1e-12, 6) AS score FROM mem m "
    "JOIN ws ON m.doc_id = ws.doc_id AND m.w = ws.w GROUP BY 1, 2), "
    "pp AS (SELECT ph.doc_id, ph.phrase, ph.len AS n_words, "
    "max(ps.score) AS score FROM ph JOIN ps USING (doc_id, run) "
    "GROUP BY 1, 2, 3), "
    "rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
    "ORDER BY score DESC, phrase) AS rank FROM pp) "
    "SELECT doc_id, phrase, n_words, score, rank::INTEGER AS rank "
    "FROM rk WHERE rank <= 3"
))
def _text_rake_keyphrases(spark, sf_dir):
    """RAKE keyphrase extraction (pipeline/text.rake_keyphrases, Rose
    et al. 2010): per doc, the top-3 non-stopword runs ranked by the
    deg/freq word-score sum. Exact integer deg/freq, grid word scores,
    phrase-ascending tiebreaks — the ranking replays exactly."""
    from orientdb_spark.pipeline.text import rake_keyphrases

    return rake_keyphrases(_docs(spark, sf_dir), top_k=3)


@register("text_fim_transform", tags=("sf_scale",), oracle=(
    # replays fim_transform: select/mode via integer h60
    # residues vs rate*1e6, cuts = sorted pair of h60 % (len+1),
    # parts via 1-indexed substring arithmetic, PSM/SPM sentinel
    # serialization; 'none' docs pass through unchanged
    "WITH base AS (SELECT doc_id, text, length(text) AS ln, "
    + _dk_h60("CAST(doc_id AS VARCHAR) || ':fim'")
    + " % 1000000 AS uf, "
    + _dk_h60("CAST(doc_id AS VARCHAR) || ':spm'")
    + " % 1000000 AS um, "
    + _dk_h60("CAST(doc_id AS VARCHAR) || ':c1'")
    + " AS h1, "
    + _dk_h60("CAST(doc_id AS VARCHAR) || ':c2'")
    + " AS h2 FROM documents), "
    "cut AS (SELECT doc_id, text, ln, "
    "(ln >= 20 AND uf < 600000) AS sel, um < 500000 AS spm, "
    "LEAST(h1 % (ln + 1), h2 % (ln + 1))::INTEGER AS lo, "
    "GREATEST(h1 % (ln + 1), h2 % (ln + 1))::INTEGER AS hi "
    "FROM base), "
    "p AS (SELECT *, substring(text, 1, lo) AS pre, "
    "substring(text, lo + 1, hi - lo) AS mid, "
    "substring(text, hi + 1, ln - hi) AS suf FROM cut) "
    "SELECT doc_id, "
    "CASE WHEN NOT sel THEN 'none' WHEN spm THEN 'spm' "
    "ELSE 'psm' END AS mode, "
    "CASE WHEN sel THEN lo END AS fim_lo, "
    "CASE WHEN sel THEN hi END AS fim_hi, "
    "CASE WHEN sel THEN pre END AS prefix, "
    "CASE WHEN sel THEN mid END AS middle, "
    "CASE WHEN sel THEN suf END AS suffix, "
    "CASE WHEN NOT sel THEN text "
    "WHEN spm THEN '<PRE><SUF>' || suf || '<MID>' || pre || mid "
    "ELSE '<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid "
    "END AS formatted FROM p"
))
def _text_fim_transform(spark, sf_dir):
    """Fill-in-the-middle example construction (pipeline/text.
    fim_transform, Bavarian et al. 2022): a deterministic 60% of
    >=20-char docs split at two h60-drawn character cuts into
    prefix/middle/suffix and re-serialized with sentinels (PSM, or SPM
    for half of them); the rest pass through as mode='none'. Every
    decision is an integer hash residue, so the whole corpus transform
    replays in SQL. One scan, in-row string arithmetic, zero
    exchanges."""
    from orientdb_spark.pipeline.text import fim_transform

    return fim_transform(
        _docs(spark, sf_dir), fim_rate=0.6, spm_rate=0.5, min_chars=20
    )


@register("text_span_corruption", tags=("sf_scale",), oracle=(
    # replays span_corruption: S = floor(n*0.15/3) equal-width
    # segments, per-segment h60-drawn span length (1 + h%5,
    # clamped) and start, sentinel-marked inputs via an index
    # classification list, targets via per-span slices + the
    # closing <extra_id_S>; under-20-token docs pass through
    "WITH d AS (SELECT doc_id, text, "
    "list_filter(regexp_split_to_array(text, '\\s+'), "
    "w -> len(w) > 0) AS t FROM documents), "
    "m AS (SELECT doc_id, text, t, len(t)::BIGINT AS n FROM d), "
    "el AS (SELECT doc_id, text, t, n, GREATEST(1, "
    "floor(n * 0.15::DOUBLE / 3.0::DOUBLE)::BIGINT) AS s "
    "FROM m WHERE n >= 20), "
    "sg AS (SELECT *, floor(n::DOUBLE / s)::BIGINT AS seg FROM el), "
    "ls AS (SELECT *, list_transform(range(0, s), k -> LEAST(1 + "
    + _dk_h60("CAST(doc_id AS VARCHAR) || ':sc-len:' || CAST(k AS VARCHAR)")
    + " % 5, seg)) AS ll FROM sg), "
    "ss AS (SELECT *, list_transform(range(0, s), k -> k * seg + "
    + _dk_h60("CAST(doc_id AS VARCHAR) || ':sc-pos:' || CAST(k AS VARCHAR)")
    + " % (seg - list_extract(ll, (k + 1)::INTEGER) + 1)) AS sl "
    "FROM ls), "
    "inp AS (SELECT *, array_to_string(list_filter("
    "list_transform(range(0, n), i -> CASE WHEN (i // seg) < s "
    "AND i >= list_extract(sl, ((i // seg) + 1)::INTEGER) "
    "AND i < list_extract(sl, ((i // seg) + 1)::INTEGER) "
    "+ list_extract(ll, ((i // seg) + 1)::INTEGER) "
    "THEN CASE WHEN i = list_extract(sl, ((i // seg) + 1)::INTEGER) "
    "THEN '<extra_id_' || (i // seg) || '>' ELSE '' END "
    "ELSE list_extract(t, (i + 1)::INTEGER) END), "
    "x -> len(x) > 0), ' ') AS inputs FROM ss), "
    "tg AS (SELECT *, array_to_string(list_transform(range(0, s), "
    "k -> '<extra_id_' || k || '> ' || array_to_string("
    "list_slice(t, (list_extract(sl, (k + 1)::INTEGER) + 1)::INTEGER, "
    "(list_extract(sl, (k + 1)::INTEGER) "
    "+ list_extract(ll, (k + 1)::INTEGER))::INTEGER), ' ')), ' ') "
    "|| ' <extra_id_' || s || '>' AS targets, "
    "list_sum(ll)::BIGINT AS n_masked FROM inp) "
    "SELECT doc_id, n AS n_tokens, s AS n_spans, n_masked, "
    "inputs, targets FROM tg "
    "UNION ALL SELECT doc_id, n, 0::BIGINT, 0::BIGINT, text, '' "
    "FROM m WHERE n < 20"
))
def _text_span_corruption(spark, sf_dir):
    """T5-style span corruption (pipeline/text.span_corruption, Raffel
    et al. 2020 / UL2 R-denoiser): deterministic per-segment spans
    (S = floor(n*0.15/3), one per equal-width token segment, h60-drawn
    length/start), sentinel-marked encoder inputs + decoder targets.
    Docs under 20 tokens pass through with n_spans=0. Pure in-row
    array arithmetic; the oracle replays the whole construction."""
    from orientdb_spark.pipeline.text import span_corruption

    return span_corruption(
        _docs(spark, sf_dir), corruption_rate=0.15, mean_span=3, min_tokens=20
    )


@register("text_line_quality", oracle=(
    # mirrors pipeline/text.line_quality: keep a trimmed line iff
    # len >= 20 AND ws-tokens >= 3 AND digit fraction <= 0.5
    "WITH fx AS (SELECT doc_id, 'ok' || chr(10) || text || chr(10) || "
    "'HOME | ABOUT' || chr(10) || '404 503 2024 17 42 99' || "
    "CASE WHEN doc_id % 3 = 0 THEN chr(10) || "
    "'the quick brown fox jumps over the lazy dog today' ELSE '' END AS text "
    "FROM documents), "
    "p AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM fx), "
    "k AS (SELECT doc_id, len(parts) AS n_lines, list_filter(parts, "
    "l -> len(trim(l)) >= 20 AND "
    "len(list_filter(regexp_split_to_array(trim(l), '\\s+'), w -> len(w) > 0)) >= 3 "
    "AND (len(trim(l)) - len(regexp_replace(trim(l), '[0-9]', '', 'g'))) * 1.0 "
    "/ greatest(len(trim(l)), 1) <= 0.5) AS kept FROM p) "
    "SELECT doc_id, n_lines::INT AS n_lines, len(kept)::INT AS n_kept, "
    "round(len(kept) * 1.0 / greatest(n_lines, 1), 6) AS kept_frac, "
    "array_to_string(kept, chr(10)) AS clean_text FROM k"
))
def _text_line_quality(spark, sf_dir):
    """C4-style per-line quality pass over a fixture with deterministic
    noise lines (too short / nav chrome / digit soup) plus one extra
    good line on every third doc so per-doc counts vary."""
    from orientdb_spark.pipeline import text

    extra = F.when(
        F.col("doc_id") % 3 == 0,
        F.lit("\nthe quick brown fox jumps over the lazy dog today"),
    ).otherwise(F.lit(""))
    fixture = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("ok\n"),
            F.col("text"),
            F.lit("\nHOME | ABOUT\n404 503 2024 17 42 99"),
            extra,
        ).alias("text"),
    )
    return text.line_quality(fixture)


@register("text_pii_redact", oracle=(
    # mirrors pipeline/text.pii_scan patterns + redaction order
    # (email -> ssn -> phone -> ip); RE2 and java.util.regex agree
    # on these constructs
    "WITH fx AS (SELECT doc_id, text || ' contact user' || doc_id::VARCHAR || "
    "'@example.com' || "
    "CASE WHEN doc_id % 2 = 0 THEN ' call 555-867-5309' ELSE '' END || "
    "CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END || "
    "CASE WHEN doc_id % 7 = 0 THEN ' node 10.0.0.7 up' ELSE '' END AS text "
    "FROM documents) "
    "SELECT doc_id, "
    "len(regexp_extract_all(text, "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT AS n_emails, "
    "len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b'))::INT AS n_ssns, "
    "len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b'))::INT AS n_phones, "
    "len(regexp_extract_all(text, "
    "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::INT AS n_ips, "
    "(len(regexp_extract_all(text, "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) + "
    "len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) + "
    "len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) + "
    "len(regexp_extract_all(text, "
    "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) > 0) AS has_pii, "
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(text, "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
    "'\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'), "
    "'\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'), "
    "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') "
    "AS redacted_text FROM fx"
))
def _text_pii_redact(spark, sf_dir):
    """PII pattern scan + redaction over a fixture injecting an email
    per doc and phone/SSN/IP shapes on deterministic doc_id residues."""
    from orientdb_spark.pipeline import text

    did = F.col("doc_id")
    fixture = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
            F.when(did % 2 == 0, F.lit(" call 555-867-5309")).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
            F.when(did % 7 == 0, F.lit(" node 10.0.0.7 up")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return text.pii_scan(fixture)


@register("text_paragraph_dedup", oracle=(
    # mirrors pipeline/text.paragraph_dedup: first occurrence by
    # (doc_id, pos) wins corpus-wide; survivors rejoin in order
    "WITH b AS (SELECT doc_id, text || "
    "CASE WHEN doc_id % 4 = 1 THEN chr(10) || 'join our promo newsletter now' "
    "ELSE '' END || "
    "CASE WHEN doc_id % 10 = 2 THEN chr(10) || 'rate this article five stars' "
    "|| chr(10) || 'rate this article five stars' ELSE '' END AS text "
    "FROM documents), "
    "p AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM b), "
    "x AS (SELECT doc_id, unnest(list_transform(parts, "
    "(e, i) -> struct_pack(pos := i, para := e))) AS s FROM p), "
    "r AS (SELECT doc_id, s.pos AS pos, s.para AS para, "
    "row_number() OVER (PARTITION BY md5(trim(s.para)) "
    "ORDER BY doc_id, s.pos) AS rn FROM x), "
    "k AS (SELECT doc_id, pos, para FROM r WHERE rn = 1 OR len(trim(para)) < 1), "
    "agg AS (SELECT doc_id, count(*) AS n_kept, "
    "string_agg(para, chr(10) ORDER BY pos) AS clean_text FROM k GROUP BY doc_id), "
    "np AS (SELECT doc_id, len(parts) AS n_paras FROM p) "
    "SELECT np.doc_id, np.n_paras::INT AS n_paras, "
    "(np.n_paras - agg.n_kept)::INT AS n_removed, agg.clean_text "
    "FROM np JOIN agg USING (doc_id)"
))
def _text_paragraph_dedup(spark, sf_dir):
    """Cross-corpus paragraph dedup on a fixture injecting (a) one
    paragraph shared across every fourth doc — only the lowest doc_id
    keeps it — and (b) a paragraph doubled WITHIN every tenth doc — the
    first occurrence in the lowest such doc survives, all others
    (including the same doc's second copy) are removed."""
    from orientdb_spark.pipeline import text

    did = F.col("doc_id")
    fixture = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 4 == 1, F.lit("\njoin our promo newsletter now")).otherwise(
                F.lit("")
            ),
            F.when(
                did % 10 == 2,
                F.lit("\nrate this article five stars\nrate this article five stars"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return text.paragraph_dedup(fixture)
