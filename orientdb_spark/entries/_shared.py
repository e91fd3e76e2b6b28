"""Helpers that entries of more than one family use: the registered
document and embedding frames, and the DuckDB snippets that must
mirror ``orientdb_spark.pipeline`` exactly.
"""

from __future__ import annotations

from orientdb_spark.entries._registry import _engine


def _docs(spark, sf_dir):
    return _engine(spark, sf_dir).table("documents")


def _embs(spark, sf_dir):
    return _engine(spark, sf_dir).table("embeddings")


def _dk_h60(s: str) -> str:
    return f"(('0x' || substring(md5({s}), 1, 15))::UBIGINT::BIGINT)"


def _dk_cos(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b}))))"
    )


_DK_TOKS_RAW = "list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0)"


_DK_TOKS_LOWER = (
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)"
)


def _minhash_oracle_sql(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.9,
    shingle: int = 3,
    max_bucket_size: int = 2000,
    stop_at_posts: bool = False,
    pairs_cte: bool = False,
    pair_filter: str | None = None,
) -> str:
    from orientdb_spark.pipeline.common import MINHASH_P, MINHASH_PARAMS

    rows = num_hashes // bands
    sig_parts = []
    for i in range(num_hashes):
        a, b = MINHASH_PARAMS[i]
        sig_parts.append(
            f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {MINHASH_P})) AS s_{i}"
        )
    sigs = ", ".join(sig_parts)
    band_parts = []
    for b in range(bands):
        members = ", ".join("s_" + str(b * rows + r) + "::VARCHAR" for r in range(rows))
        concat_expr = "concat_ws('-', " + members + ")"
        band_parts.append(_dk_h60(concat_expr) + " AS b_" + str(b))
    band_exprs = ", ".join(band_parts)
    posts = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, b_{b} AS bhash FROM band" for b in range(bands)
    )
    tok_hash = _dk_h60("x") + f" % {MINHASH_P}"
    prefix = f"""
WITH t0 AS (SELECT doc_id, {_DK_TOKS_RAW} AS t FROM documents),
toks AS (SELECT doc_id, list_sort(list_distinct(list_transform(
           range(1, greatest(len(t) - {shingle} + 2, 1)),
           i -> array_to_string(t[i:i+{shingle - 1}], ' ')))) AS t
         FROM t0 WHERE len(t) >= {shingle}),
h AS (SELECT doc_id, list_transform(t, x -> {tok_hash}) AS hs FROM toks),
sig AS (SELECT doc_id, {sigs} FROM h),
band AS (SELECT doc_id, {band_exprs} FROM sig),
posts0 AS ({posts})"""
    if stop_at_posts:
        return prefix + """
SELECT n_docs, count(*)::BIGINT AS n_buckets FROM (
  SELECT band, bhash, count(*)::BIGINT AS n_docs FROM posts0 GROUP BY band, bhash)
GROUP BY n_docs ORDER BY n_docs
"""
    body = prefix + f""",
posts AS (SELECT * FROM posts0
          QUALIFY count(*) OVER (PARTITION BY band, bhash) <= {max_bucket_size}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM posts a JOIN posts b ON a.band = b.band AND a.bhash = b.bhash
         WHERE a.doc_id < b.doc_id),
j AS (SELECT id_a, id_b,
        round(len(list_intersect(ta.t, tb.t))::DOUBLE /
              len(list_distinct(list_concat(ta.t, tb.t))), 6) AS jaccard
      FROM cand JOIN toks ta ON cand.id_a = ta.doc_id
                JOIN toks tb ON cand.id_b = tb.doc_id)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= {threshold}{
        " AND (" + pair_filter + ")" if pair_filter else ""}
"""
    if pairs_cte:
        # everything up to a `pairs(id_a, id_b)` CTE, opened with WITH
        # RECURSIVE so callers can append recursive closure CTEs
        head, tail = body.split("\nSELECT id_a, id_b, jaccard", 1)
        return (
            head.replace("WITH t0 AS", "WITH RECURSIVE t0 AS", 1)
            + f""",
pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= {threshold})"""
        )
    return body


def _langid_oracle_sql() -> str:
    from orientdb_spark.pipeline.text import LANG_MARKERS

    score_cols = []
    for lang in sorted(LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        score_cols.append(
            f"len(list_filter(t, x -> list_contains([{markers}], x)))::DOUBLE / "
            f"greatest(len(t), 1) AS s_{lang}"
        )
    best = "greatest(" + ", ".join(f"s_{l}" for l in sorted(LANG_MARKERS)) + ")"
    case = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in sorted(LANG_MARKERS))
    return f"""
WITH toks AS (SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS t
  FROM documents),
s AS (SELECT doc_id, {', '.join(score_cols)} FROM toks),
b AS (SELECT *, {best} AS best FROM s)
SELECT doc_id, CASE {case} END AS predicted_lang, round(best, 6) AS lang_score FROM b
"""


def _repetition_oracle_sql() -> str:
    return (
        # whitespace-token trigrams; dup fraction = (total-distinct)/total
        "WITH t0 AS (SELECT doc_id, list_filter(regexp_split_to_array("
        "lower(text), '\\s+'), x -> len(x) > 0) AS t FROM documents), "
        "g AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN "
        "list_transform(range(1, len(t) - 3 + 2), "
        "i -> array_to_string(t[i::INTEGER:i::INTEGER+2], ' ')) "
        "ELSE [] END AS grams FROM t0), "
        "u AS (SELECT doc_id, unnest(grams) AS gram FROM g), "
        "pg AS (SELECT doc_id, gram, count(*) AS c FROM u GROUP BY doc_id, gram), "
        "agg AS (SELECT doc_id, sum(c) AS n_ngrams, count(*) AS n_distinct, "
        "max(c) AS top_count FROM pg GROUP BY doc_id) "
        "SELECT g.doc_id, coalesce(agg.n_ngrams, 0)::BIGINT AS n_ngrams, "
        "coalesce(agg.n_distinct, 0)::BIGINT AS n_distinct, "
        "coalesce(agg.top_count, 0)::BIGINT AS top_count, "
        "round((coalesce(agg.n_ngrams, 0) - coalesce(agg.n_distinct, 0)) "
        "/ greatest(coalesce(agg.n_ngrams, 0), 1), 6) AS dup_ngram_frac, "
        "round(coalesce(agg.top_count, 0) "
        "/ greatest(coalesce(agg.n_ngrams, 0), 1), 6) AS top_ngram_frac "
        "FROM g LEFT JOIN agg ON g.doc_id = agg.doc_id"
    )


def _lm_oracle_sql() -> str:
    return (
        "WITH staged AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS t "
        "FROM documents), "
        "s2 AS (SELECT doc_id, t FROM staged WHERE len(t) >= 2), "
        "pairs AS MATERIALIZED (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM ("
        "SELECT doc_id, unnest(list_transform(range(1, len(t)), "
        "i -> {'w1': t[i::INTEGER], 'w2': t[i::INTEGER + 1]})) AS u FROM s2)), "
        "c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM pairs GROUP BY 1, 2), "
        "c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM pairs GROUP BY 1), "
        "v AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM ("
        "SELECT w1 AS w FROM pairs UNION ALL SELECT w2 FROM pairs)), "
        "sc AS (SELECT doc_id, -ln((c2 + 0.5) / (c1 + 0.5 * v)) AS nll "
        "FROM pairs JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v) "
        "SELECT doc_id, count(*)::BIGINT AS n_bigrams, "
        "round(avg(nll), 6) AS nll FROM sc GROUP BY doc_id"
    )


def _quality_oracle_sql() -> str:
    from orientdb_spark.pipeline.text import STOPWORDS_EN

    stops = ", ".join(f"'{s}'" for s in STOPWORDS_EN)
    return f"""
WITH base AS (SELECT doc_id, text,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS t
  FROM documents),
m AS (SELECT doc_id,
    len(t) AS n_tokens,
    length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / greatest(len(t), 1) AS mwl,
    len(list_filter(t, x -> list_contains([{stops}], x)))::DOUBLE / greatest(len(t), 1) AS sr,
    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE /
      greatest(length(text), 1) AS pr
  FROM base)
SELECT doc_id, n_tokens::INTEGER AS n_tokens, round(mwl, 6) AS mean_word_len,
  round(sr, 6) AS stopword_ratio, round(pr, 6) AS punct_ratio,
  round(least(n_tokens::DOUBLE / 100.0, 1.0) * 0.4
      + (1.0 - least(abs(mwl - 5.0) / 5.0, 1.0)) * 0.3
      + least(sr * 5.0, 1.0) * 0.2
      + (1.0 - least(pr * 10.0, 1.0)) * 0.1 + 1e-12, 6) AS quality
FROM m
"""


_NORM_TEXT = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), "
    "'\\s+', ' ', 'g'))"
)


_COS = (
    "(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
)
