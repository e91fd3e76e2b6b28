"""Dataset selection and mixing: splits, quotas, mixtures, importance
resampling, coresets, token budgets and curriculum/epoch ordering.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from orientdb_spark.entries._registry import register
from orientdb_spark.entries._shared import (
    _DK_TOKS_LOWER,
    _DK_TOKS_RAW,
    _dk_cos,
    _dk_h60,
    _docs,
    _embs,
    _lm_oracle_sql,
    _minhash_oracle_sql,
)


@register("sample_split_assign", oracle=(
    "SELECT doc_id, CASE WHEN (('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 10000 < 9800 THEN 'train' "
    "WHEN (('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 10000 < 9900 THEN 'valid' ELSE 'test' END AS split "
    "FROM documents"
))
def _sample_split_assign(spark, sf_dir):
    from orientdb_spark.pipeline import sampling

    return sampling.assign_split(_docs(spark, sf_dir)).select("doc_id", "split")


@register("sample_quota_per_source", oracle=(
    "SELECT doc_id, source, row_number() OVER "
    "(PARTITION BY source ORDER BY (('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 1000000, doc_id) AS sample_rank "
    "FROM documents QUALIFY sample_rank <= 20"
))
def _sample_quota_per_source(spark, sf_dir):
    from orientdb_spark.pipeline import sampling

    return sampling.quota_sample(_docs(spark, sf_dir), ["source"], quota=20).select(
        "doc_id", "source", "sample_rank"
    )


@register("sample_epoch_shuffle", tags=("sf_scale",), oracle=(
    # per-(doc, epoch) key = h60('epoch:0:' || epoch || ':' || id);
    # shard = key % 8, pos = rank by (key, id) within (epoch, shard)
    "WITH e AS (SELECT doc_id, unnest([0, 1])::INTEGER AS epoch "
    "FROM documents), "
    "k AS (SELECT doc_id, epoch, "
    "(('0x' || substring(md5('epoch:0:' || epoch || ':' || doc_id), "
    "1, 15))::UBIGINT::BIGINT) AS k FROM e) "
    "SELECT doc_id, epoch, (k % 8)::INTEGER AS shard, "
    "(row_number() OVER (PARTITION BY epoch, k % 8 "
    "ORDER BY k, doc_id) - 1)::BIGINT AS pos FROM k"
))
def _sample_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle + shard assignment (sampling.epoch_
    shard_order): 2 epochs × 8 reader shards over the documents table —
    the materialized "global shuffle" a training run reads. Pure
    h60(epoch-seeded) arithmetic: shard = key % S, within-shard pos =
    rank by (key, id) — fully SQL-replayable, window partitioned by
    (epoch, shard), never a global sort."""
    from orientdb_spark.pipeline import sampling

    return sampling.epoch_shard_order(
        _docs(spark, sf_dir), n_epochs=2, n_shards=8
    )


@register("sample_stratified_split", oracle=(
    "WITH r AS (SELECT doc_id, lang, row_number() OVER "
    "(PARTITION BY lang ORDER BY "
    "(('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 1000000, doc_id) "
    "AS rk, count(*) OVER (PARTITION BY lang) AS n FROM documents) "
    "SELECT doc_id, lang, "
    "CASE WHEN rk <= floor(n * 800 / 1000.0) THEN 'train' "
    "WHEN rk <= floor(n * 900 / 1000.0) THEN 'valid' "
    "ELSE 'test' END AS split FROM r"
))
def _sample_stratified_split(spark, sf_dir):
    """Exact-proportion stratified split by language
    (sampling.stratified_split): per-lang hash-ranked 80/10/10 carve
    with integer-permille thresholds — every stratum's split sizes are
    exact floors, rare labels included. One window exchange."""
    from orientdb_spark.pipeline.sampling import stratified_split

    docs = _docs(spark, sf_dir)
    return stratified_split(docs, strata=["lang"]).select("doc_id", "lang", "split")


@register("sample_mixture", oracle=(
    "WITH r AS (SELECT doc_id, source, row_number() OVER "
    "(PARTITION BY source ORDER BY "
    "(('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 1000000, doc_id) "
    "AS sample_rank FROM documents "
    "WHERE source IN ('src0', 'src1', 'src2', 'src3')) "
    "SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= "
    "CASE source WHEN 'src0' THEN 30 WHEN 'src1' THEN 18 "
    "WHEN 'src2' THEN 9 ELSE 3 END"
))
def _sample_mixture(spark, sf_dir):
    """Data-mixture construction: 60-doc sample at weights
    50/30/15/5 over four sources (integer floor quotas: 30/18/9/3;
    src0 holds only 25 docs so it contributes everything — the
    undershoot path is part of the contract)."""
    from orientdb_spark.pipeline.sampling import sample_mixture

    out = sample_mixture(
        _docs(spark, sf_dir),
        weights={"src0": 50, "src1": 30, "src2": 15, "src3": 5},
        total=60,
    )
    return out.select("doc_id", "source", "sample_rank")


@register("sample_temperature_mixture", tags=("sf_scale",), oracle=(
    # mirrors sampling.temperature_mixture(total=200, alpha=0.5,
    # group_col='lang'): sqrt(n) shares, raw allocation pinned to
    # the 6-dp nudge grid, largest-remainder apportionment
    # (remainder DESC, lang ASC), h60 hash-rank selection
    "WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY lang), "
    "wts AS MATERIALIZED (SELECT lang, sqrt(n) AS w FROM c), "
    "q0 AS MATERIALIZED (SELECT lang, "
    "round(w / (SELECT sum(w) FROM wts) * 200.0 + 1e-12, 6) AS raw FROM wts), "
    "q1 AS MATERIALIZED (SELECT lang, floor(raw) AS fl, raw - floor(raw) AS rem "
    "FROM q0), "
    "q2 AS MATERIALIZED (SELECT lang, fl, "
    "row_number() OVER (ORDER BY rem DESC, lang) AS lead FROM q1), "
    "q AS (SELECT lang, (fl + CASE WHEN lead <= 200 - "
    "(SELECT sum(fl) FROM q2) THEN 1 ELSE 0 END)::BIGINT AS quota FROM q2), "
    "r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY "
    "(('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 1000000, "
    "doc_id) AS sample_rank FROM documents) "
    "SELECT r.doc_id, r.lang, q.quota, r.sample_rank FROM r JOIN q USING (lang) "
    "WHERE sample_rank <= quota"
))
def _sample_temperature_mixture(spark, sf_dir):
    """Temperature-scaled corpus balancing
    (pipeline/sampling.temperature_mixture, Conneau & Lample 2019 /
    Xue et al. 2021): per-language quotas ∝ n_lang^0.5 apportioned over
    total=200 by largest remainder, members drawn by the h60 hash rank.
    Oracle-exact: sqrt is IEEE-exact, the raw allocation is pinned to
    the 6-dp nudge grid before floor/remainder, and remainder ranking
    tiebreaks on the group value."""
    from orientdb_spark.pipeline.sampling import temperature_mixture

    out = temperature_mixture(
        _docs(spark, sf_dir), total=200, alpha=0.5, group_col="lang"
    )
    return out.select("doc_id", "lang", "quota", "sample_rank")


# r13: UniMax budget-capped uniform mixing (Chung et al. 2023)
@register("sample_unimax", tags=("sf_scale",), oracle=(
    # mirrors sampling.unimax_sample(total=2N//5, epoch_cap=0.5,
    # group_col='lang'): caps/prefix-sums/uniform-share on the
    # 6-dp nudge grid, cap-ascending waterfill prefix test,
    # Hamilton integerization to min(B, floor(sum alloc)),
    # h60 hash-rank member selection
    "WITH b AS (SELECT ((count(*) * 2) // 5)::BIGINT AS bi, "
    "((count(*) * 2) // 5)::DOUBLE AS bb FROM documents), "
    "c AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang), "
    "w0 AS MATERIALIZED (SELECT lang, round(n * 0.5 + 1e-12, 6) AS cap FROM c), "
    "w1 AS MATERIALIZED (SELECT lang, cap, "
    "row_number() OVER (ORDER BY cap, lang) AS j, "
    "count(*) OVER () AS s, "
    "round(coalesce(sum(cap) OVER (ORDER BY cap, lang "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) + 1e-12, 6) AS pre "
    "FROM w0), "
    "w2 AS MATERIALIZED (SELECT lang, cap, s, "
    "(cap * (s - j + 1) + pre < bb) AS capped FROM w1, b), "
    "w3 AS MATERIALIZED (SELECT lang, cap, s, capped, "
    "sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS ncap, "
    "round(coalesce(sum(CASE WHEN capped THEN cap END) OVER (), 0.0) "
    "+ 1e-12, 6) AS csum FROM w2), "
    "w4 AS MATERIALIZED (SELECT lang, capped, "
    "CASE WHEN capped THEN cap "
    "ELSE round((bb - csum) / (s - ncap) + 1e-12, 6) END AS a FROM w3, b), "
    "w5 AS MATERIALIZED (SELECT lang, capped, a, "
    "floor(a)::BIGINT AS fl, "
    "row_number() OVER (ORDER BY (a - floor(a)) DESC, lang) AS lead FROM w4), "
    "w6 AS MATERIALIZED (SELECT lang, capped, fl, lead, "
    "sum(fl) OVER () AS flsum, "
    "floor(round(sum(a) OVER () + 1e-12, 6))::BIGINT AS asumfl FROM w5), "
    "q AS (SELECT lang, capped::INT AS capped, "
    "(fl + CASE WHEN lead <= least(bi, asumfl) - flsum THEN 1 ELSE 0 END)"
    "::BIGINT AS quota FROM w6, b), "
    "r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY "
    "(('0x' || substring(md5('42:' || doc_id), 1, 15))::UBIGINT::BIGINT) % 1000000, "
    "doc_id) AS sample_rank FROM documents) "
    "SELECT r.doc_id, r.lang, q.quota, q.capped, r.sample_rank "
    "FROM r JOIN q USING (lang) WHERE sample_rank <= quota"
))
def _sample_unimax(spark, sf_dir):
    """UniMax budget-capped uniform mixing
    (pipeline/sampling.unimax_sample, Chung et al. 2023): waterfill a
    row budget of 40% of the corpus uniformly across languages with a
    0.5-epoch per-language cap — small languages cap out (capped=1),
    the freed budget redistributes EQUALLY (not proportionally) to the
    rest. total ∝ corpus keeps the cap/waterfill split binding at
    every SF (a fixed total degenerates to all-capped or all-uniform
    as the corpus grows). Oracle-exact: caps, prefix sums, and the
    uniform share live on the 6-dp nudge grid; prefix sums accumulate
    in one deterministic order; Hamilton integerization replays the
    temperature_mixture machinery."""
    from orientdb_spark.pipeline.sampling import unimax_sample

    docs = _docs(spark, sf_dir)
    total = docs.count() * 2 // 5
    out = unimax_sample(docs, total=total, epoch_cap=0.5, group_col="lang")
    return out.select(
        "doc_id",
        "lang",
        "quota",
        F.col("capped").cast("int").alias("capped"),
        "sample_rank",
    )


@register("sample_dsir", tags=("headline", "noisy", "smoke", "sf_scale"), oracle=(
    # DSIR replay: unigram+bigram gram stream (occurrences, not
    # distinct), b = h60(gram) % 10000, add-1 Laplace log-ratio
    # per bucket, per-doc weight = sum of log-ratios rounded at
    # 6 dp after the +1e-12 nudge, top-50 by (weight desc, id)
    "WITH toks AS (SELECT doc_id, " + _DK_TOKS_LOWER + " AS t "
    "FROM documents), "
    "tt AS (SELECT doc_id, t FROM toks WHERE len(t) > 0), "
    "grams AS (SELECT doc_id, u.g FROM tt, unnest(t) AS u(g) "
    "UNION ALL SELECT doc_id, u.g FROM (SELECT doc_id, "
    "list_transform(range(1, len(t)), i -> t[i::INTEGER] || ' ' || "
    "t[(i + 1)::INTEGER]) AS bg FROM tt WHERE len(t) >= 2), "
    "unnest(bg) AS u(g)), "
    "sb AS (SELECT doc_id, " + _dk_h60("g") + " % 10000 AS b FROM grams), "
    "tb AS (SELECT sb.b FROM sb JOIN documents USING (doc_id) "
    "WHERE lang = 'en'), "
    "tc AS (SELECT b, count(*) AS ct FROM tb GROUP BY b), "
    "scnt AS (SELECT b, count(*) AS cs FROM sb GROUP BY b), "
    "tot AS (SELECT (SELECT count(*) FROM tb)::DOUBLE AS nt, "
    "(SELECT count(*) FROM sb)::DOUBLE AS ns), "
    "lr AS (SELECT scnt.b AS b, ln((coalesce(ct, 0) + 1.0) / "
    "(tot.nt + 10000.0)) - ln((cs + 1.0) / (tot.ns + 10000.0)) AS lr "
    "FROM scnt LEFT JOIN tc ON scnt.b = tc.b, tot), "
    "w AS (SELECT sb.doc_id, count(*)::BIGINT AS n_grams, "
    "round(sum(lr.lr) + 1e-12, 6) AS weight FROM sb "
    "JOIN lr ON sb.b = lr.b GROUP BY sb.doc_id), "
    "r AS (SELECT doc_id, n_grams, weight, row_number() OVER "
    "(ORDER BY weight DESC, doc_id) AS rank FROM w) "
    "SELECT doc_id, n_grams, weight, rank::INTEGER AS rank FROM r "
    "WHERE rank <= 50"
))
def _sample_dsir(spark, sf_dir):
    """DSIR top-k importance resampling (Xie et al. 2023): select the
    50 most target-like docs (target = lang('en') subset) under hashed
    unigram+bigram bag-of-words LMs with add-1 smoothing."""
    from orientdb_spark.pipeline import sampling

    docs = _docs(spark, sf_dir)
    return sampling.dsir_resample(docs, docs.filter(F.col("lang") == "en"), k=50)


@register("sample_token_budget", tags=("headline",), oracle=(
    # quality-ordered window cumsum: kept iff the inclusive
    # running token total fits the budget (maximal-prefix rule)
    "WITH t AS (SELECT doc_id, n_chars AS quality, "
    "len(" + _DK_TOKS_RAW + ")::BIGINT AS n_tokens FROM documents), "
    "r AS (SELECT doc_id, quality, n_tokens, "
    "row_number() OVER (ORDER BY quality DESC, doc_id)::BIGINT AS budget_rank, "
    "coalesce(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT "
    "AS tokens_before FROM t) "
    "SELECT doc_id, quality, n_tokens, budget_rank, tokens_before "
    "FROM r WHERE tokens_before + n_tokens <= 20000"
))
def _sample_token_budget(spark, sf_dir):
    """Token-budget corpus selection: best documents first (quality =
    n_chars), maximal prefix whose running whitespace-token total fits
    a 20k budget. Distributed prefix sum, window-cumsum oracle."""
    from orientdb_spark.pipeline import sampling
    from orientdb_spark.pipeline.common import ws_tokens

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("n_chars").alias("quality"),
        F.size(ws_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return sampling.token_budget_select(docs, budget=20_000)


@register("sample_prototype_prune", oracle=(
    # assignment replay (the dedup_semantic CTEs) + per-cluster
    # rank by (score asc, id) keeping ceil(|cluster| * 0.5);
    # the proto score IS the assignment's own rounded cosine
    "WITH vv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
    "AS v FROM embeddings), "
    "nz AS (SELECT vec_id, v FROM vv WHERE list_dot_product(v, v) > 0), "
    "seeds AS (SELECT row_number() OVER (ORDER BY "
    + _dk_h60("CAST(vec_id AS VARCHAR)")
    + ", vec_id) - 1 AS cid, v FROM nz ORDER BY "
    + _dk_h60("CAST(vec_id AS VARCHAR)")
    + ", vec_id LIMIT 16), "
    "ac AS (SELECT n.vec_id, s.cid, round("
    + _dk_cos("n.v", "s.v")
    + " + 1e-12, 6) AS c6 FROM nz n, seeds s), "
    "asg AS (SELECT vec_id, cid, c6 FROM (SELECT vec_id, cid, c6, "
    "row_number() OVER (PARTITION BY vec_id ORDER BY c6 DESC, cid) AS rk "
    "FROM ac) WHERE rk = 1), "
    "r AS (SELECT vec_id, cid::BIGINT AS cid, c6 AS proto_score, "
    "row_number() OVER (PARTITION BY cid ORDER BY c6 ASC, vec_id)"
    "::INTEGER AS prune_rank, "
    "count(*) OVER (PARTITION BY cid) AS csize FROM asg) "
    "SELECT vec_id, cid, proto_score, prune_rank FROM r "
    "WHERE prune_rank <= ceil(csize * 0.5 - 1e-9) "
    "UNION ALL SELECT vec_id, (-1)::BIGINT AS cid, NULL::DOUBLE AS "
    "proto_score, 1::INTEGER AS prune_rank FROM vv "
    "WHERE list_dot_product(v, v) <= 0"
))
def _sample_prototype_prune(spark, sf_dir):
    """Sorscher et al. NeurIPS'22 prototypicality pruning: keep the 50%
    hardest (lowest cosine-to-center) examples per h60-seeded cluster.
    The oracle replays assignment + per-cluster ranking in SQL."""
    from orientdb_spark.pipeline import similarity

    return similarity.prototype_prune(
        _embs(spark, sf_dir), keep_fraction=0.5, keep="hard"
    )


def _kcenter_oracle_sql(k: int) -> str:
    """Unrolled k-center greedy replay (the graph unrolled-CTE-sweep
    discipline): s1 = min (h60, id) seed; d_j folds the newest center
    into the running min rounded cosine distance; s_{j+1} = argmax
    (d desc, id) over the not-yet-selected rows. Every s_j and d_j is
    AS MATERIALIZED: d_j reads d_{j-1} directly and through s_j, and
    DuckDB inlines a plain CTE once per reference, so the unmaterialized
    chain ran over 5 minutes at k=8 on sf0.01 (values are the same)."""
    h = _dk_h60("CAST(vec_id AS VARCHAR)")
    parts = [
        "WITH vv0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
        "AS v FROM embeddings), "
        "vv AS (SELECT vec_id, v FROM vv0 WHERE list_dot_product(v, v) > 0), "
        f"s1 AS MATERIALIZED (SELECT vec_id, v FROM vv ORDER BY {h}, vec_id LIMIT 1), "
        "d1 AS MATERIALIZED (SELECT t.vec_id, t.v, round(1.0 - "
        + _dk_cos("t.v", "s.v")
        + " + 1e-12, 6) AS d FROM vv t, s1 s)"
    ]
    for j in range(2, k + 1):
        prev_sel = " UNION ALL ".join(
            f"SELECT vec_id FROM s{i}" for i in range(1, j)
        )
        parts.append(
            f", s{j} AS MATERIALIZED (SELECT vec_id, v, d FROM d{j - 1} WHERE vec_id NOT IN "
            f"({prev_sel}) ORDER BY d DESC, vec_id LIMIT 1)"
        )
        if j < k:
            parts.append(
                f", d{j} AS MATERIALIZED (SELECT t.vec_id, t.v, least(t.d, round(1.0 - "
                + _dk_cos("t.v", "s.v")
                + f" + 1e-12, 6)) AS d FROM d{j - 1} t, s{j} s)"
            )
    ranks = " UNION ALL ".join(
        f"SELECT vec_id, {i}::BIGINT AS selection_rank FROM s{i}"
        for i in range(1, k + 1)
    )
    return "".join(parts) + " " + ranks


@register("sample_kcenter_coreset", tags=("headline", "noisy"), oracle=_kcenter_oracle_sql(8))
def _sample_kcenter_coreset(spark, sf_dir):
    """k-center greedy / farthest-point sampling (Sener & Savarese
    ICLR'18): 8 diversity-maximizing representatives; the oracle
    unrolls the greedy steps as chained CTEs."""
    from orientdb_spark.pipeline import similarity

    return similarity.kcenter_coreset(_embs(spark, sf_dir), k=8)


def _domain_reweight_oracle_sql(
    iters: int = 3, eta: float = 0.5, smoothing: float = 0.2
) -> str:
    """Unrolled multiplicative-weights replay
    (pipeline/sampling.domain_reweight): the lm_score oracle feeds
    per-source mean NLL and excess-over-min; each iteration is one
    S-row CTE computing normalize(w·(1+eta·excess)) on the 6-dp
    nudge-rounded grid — linear payoff, so the loop has no libm
    transcendentals and replays bit-for-bit."""
    e, sm = repr(float(eta)), repr(float(smoothing))
    parts = [
        f"WITH m AS ({_lm_oracle_sql()}), "
        "ps AS (SELECT d.source, count(*)::BIGINT AS n_docs, "
        "round(avg(m.nll) + 1e-12, 6) AS mean_nll "
        "FROM m JOIN documents d USING (doc_id) GROUP BY d.source), "
        "w0 AS (SELECT source, n_docs, mean_nll, "
        "round(mean_nll - min(mean_nll) OVER () + 1e-12, 6) AS excess_nll, "
        "(count(*) OVER ())::DOUBLE AS s, "
        "1.0 / (count(*) OVER ())::DOUBLE AS w FROM ps)"
    ]
    for t in range(iters):
        u = f"(w * (1.0 + {e} * excess_nll))"
        parts.append(
            f", w{t + 1} AS (SELECT source, n_docs, mean_nll, excess_nll, s, "
            f"round({u} / sum({u}) OVER () + 1e-12, 6) AS w FROM w{t})"
        )
    parts.append(
        f" SELECT source, n_docs, mean_nll, excess_nll, "
        f"round((1.0 - {sm}) * w + {sm} / s + 1e-12, 6) AS weight FROM w{iters}"
    )
    return "".join(parts)


@register(
    "sample_domain_reweight",
    tags=("headline", "noisy", "smoke", "sf_scale"),
    oracle=_domain_reweight_oracle_sql(
        iters=3, eta=0.5, smoothing=0.2
    ),
)
def _sample_domain_reweight(spark, sf_dir):
    """DoReMi-shaped domain-mixture reweighting
    (pipeline/sampling.domain_reweight, Xie et al. 2023): per-source
    mean bigram-LM NLL (the text_lm_score corpus pass) -> excess loss
    over the easiest domain -> 3 multiplicative-weights iterations
    (linear payoff — no exp() in the loop, so the trajectory is pure
    +,·,/ double arithmetic) -> uniform-smoothed sampling weights.
    Oracle-exact: the lm_score replay feeds per-source aggregates and
    the iterations unroll as S-row CTEs on the 6-dp nudge-rounded
    grid."""
    from orientdb_spark.pipeline import sampling

    return sampling.domain_reweight(
        _docs(spark, sf_dir), iters=3, eta=0.5, smoothing=0.2
    )


def _curriculum_oracle_sql(
    n_stages: int = 3, n_shards: int = 8, seed: int = 0
) -> str:
    """Curriculum replay (pipeline/sampling.curriculum_order): the
    lm_score oracle LEFT-joined so bigram-less docs carry NLL 0.0,
    nudge-rounded interpolated quantile cuts, h60 shard arithmetic,
    and a (stage, shard)-partitioned position window."""
    qs = [s / n_stages for s in range(1, n_stages)]
    cuts = ", ".join(
        f"round(quantile_cont(nll, {q!r}) + 1e-12, 6) AS c{i}"
        for i, q in enumerate(qs)
    )
    case = "CASE " + " ".join(
        f"WHEN nll <= c{i} THEN {i}" for i in range(len(qs))
    ) + f" ELSE {n_stages - 1} END"
    key = _dk_h60(f"'curr:{seed}:' || doc_id::VARCHAR")
    return (
        f"WITH m AS ({_lm_oracle_sql()}), "
        "sc AS MATERIALIZED (SELECT d.doc_id, coalesce(m.nll, 0.0) AS nll "
        "FROM documents d LEFT JOIN m USING (doc_id)), "
        f"cuts AS (SELECT {cuts} FROM sc), "
        f"st AS (SELECT doc_id, nll, ({case})::INTEGER AS stage, "
        f"{key} AS kk FROM sc, cuts) "
        "SELECT doc_id, nll, stage, "
        f"(kk % {n_shards})::INTEGER AS shard, "
        "(row_number() OVER (PARTITION BY stage, kk % "
        f"{n_shards} ORDER BY kk, doc_id) - 1)::BIGINT AS pos FROM st"
    )


@register(
    "sample_curriculum_order",
    tags=("headline", "noisy", "sf_scale"),
    oracle=_curriculum_oracle_sql(
        n_stages=3, n_shards=8, seed=0
    ),
)
def _sample_curriculum_order(spark, sf_dir):
    """Curriculum schedule (pipeline/sampling.curriculum_order, Bengio
    et al. 2009): stage docs easy->hard by corpus-LM NLL with exact
    quantile cuts, then per-stage deterministic shard order (the
    epoch_shard_order shape). Oracle-exact: the lm_score replay +
    nudge-rounded quantile_cont cuts + h60 shard arithmetic."""
    from orientdb_spark.pipeline import sampling

    return sampling.curriculum_order(
        _docs(spark, sf_dir), n_stages=3, n_shards=8, seed=0
    )


_EPOCHS_WEIGHTS = {"en": 0.1, "de": 0.05, "es": 0.05, "fr": 0.05, "zh": 0.75}


@register("sample_epochs_report", tags=("sf_scale",), oracle=(
    # mirrors sampling.epochs_report(weights=_EPOCHS_WEIGHTS,
    # budget_epochs=3.0, max_epochs=4.0): same IEEE expression
    # trees — alloc = floor(w * (3.0 * T)), cap = floor(4.0 *
    # group_tokens), ratios nudge-rounded to 6 dp
    "WITH tk AS (SELECT lang, count(*)::BIGINT AS n_docs, "
    "sum(len(list_filter(regexp_split_to_array(text, '\\s+'), "
    "t -> len(t) > 0)))::BIGINT AS group_tokens "
    "FROM documents GROUP BY lang), "
    "tt AS (SELECT sum(group_tokens)::BIGINT AS t FROM tk), "
    "w(lang, w) AS (VALUES ('en', 0.1), ('de', 0.05), "
    "('es', 0.05), ('fr', 0.05), ('zh', 0.75)), "
    "a AS (SELECT tk.lang, n_docs, group_tokens, "
    "coalesce(w.w, 0.0) AS weight, "
    "floor(coalesce(w.w, 0.0) * (3.0 * t))::BIGINT AS alloc_tokens, "
    "floor(4.0 * group_tokens)::BIGINT AS cap "
    "FROM tk LEFT JOIN w USING (lang), tt) "
    "SELECT lang, n_docs, group_tokens, "
    "round(weight + 1e-12, 6) AS weight, alloc_tokens, "
    "round(alloc_tokens / greatest(group_tokens, 1)::DOUBLE "
    "+ 1e-12, 6) AS epochs, "
    "round(least(alloc_tokens / greatest(group_tokens, 1)::DOUBLE, "
    "4.0) + 1e-12, 6) AS capped_epochs, "
    "least(alloc_tokens, cap) AS effective_tokens, "
    "alloc_tokens - least(alloc_tokens, cap) AS excess_tokens, "
    "alloc_tokens > cap AS over_cap FROM a"
))
def _sample_epochs_report(spark, sf_dir):
    """Data-constrained mixing accountant (pipeline/sampling.
    epochs_report, Muennighoff et al. 2023): per language, the epochs a
    3-corpus-pass budget implies under a deliberately zh-heavy mix —
    zh (~15% of tokens at weight 0.75) blows past the 4-epoch cap
    (over_cap, excess_tokens), en (~37% of tokens at weight 0.1) stays
    under one epoch, so both audit branches carry signal at every SF.
    One groupBy + a 1-row broadcast total + S-row arithmetic;
    oracle-exact (identical IEEE expression trees, 6-dp ratios)."""
    from orientdb_spark.pipeline import sampling

    return sampling.epochs_report(
        _docs(spark, sf_dir), weights=_EPOCHS_WEIGHTS, budget_epochs=3.0
    )


@register("sample_negatives", oracle=(
    # re-derives bucket membership, probe targets, and the
    # (score, partner) argmin from the shared md5-h60 arithmetic
    "WITH m AS (SELECT "
    + _dk_h60("'42:m:' || doc_id")
    + " % 32 AS b, doc_id AS partner_id FROM documents), "
    "p AS (SELECT doc_id, u.slot AS slot, "
    + _dk_h60("'42:p:' || doc_id || ':' || u.slot")
    + " % 32 AS b FROM documents, "
    "unnest([0, 1, 2]) AS u(slot)), "
    "c AS (SELECT p.doc_id, p.slot, m.partner_id, "
    + _dk_h60("'42:w:' || p.doc_id || ':' || p.slot || ':' || m.partner_id")
    + " AS s FROM p JOIN m ON p.b = m.b WHERE m.partner_id <> p.doc_id), "
    "r AS (SELECT doc_id, slot, partner_id, row_number() OVER ("
    "PARTITION BY doc_id, slot ORDER BY s, partner_id) AS rk FROM c) "
    "SELECT doc_id, slot::INTEGER AS slot, partner_id FROM r WHERE rk = 1"
))
def _sample_negatives(spark, sf_dir):
    """Deterministic contrastive negative sampling
    (pipeline/sampling.contrastive_negatives): 3 hash-drawn partners per
    document via bucket-bounded equi-join + argmin — never a cross join.
    Every draw is a pure function of (seed, id, slot), so the oracle
    re-derives the identical pairs from the md5 arithmetic alone."""
    from orientdb_spark.pipeline.sampling import contrastive_negatives

    return contrastive_negatives(
        _docs(spark, sf_dir), id_col="doc_id", k=3, n_buckets=32
    )


@register("sample_weighted", tags=("sf_scale",), oracle=(
    "WITH kx AS (SELECT doc_id, source, n_chars, round(pow("
    + _dk_h60("'42:' || doc_id")
    + " / 1152921504606846976.0, 1.0 / n_chars), 9) AS wk "
    "FROM documents WHERE n_chars > 0), "
    "r AS (SELECT doc_id, source, n_chars, row_number() OVER ("
    "PARTITION BY source ORDER BY wk DESC, doc_id) AS rk FROM kx) "
    "SELECT doc_id, source, n_chars FROM r WHERE rk <= 20"
))
def _sample_weighted(spark, sf_dir):
    """Deterministic weighted sampling without replacement (A-ES
    exponential keys, pipeline/sampling.weighted_sample): top-20 docs
    per source weighted by n_chars. The oracle re-derives u = h60/2^60
    and the rounded u^(1/w) ranking key from the same md5 arithmetic."""
    from orientdb_spark.pipeline.sampling import weighted_sample

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return weighted_sample(docs, weight_col="n_chars", k=20, group_col="source")


def _perplexity_buckets_oracle_sql(lo: float, hi: float) -> str:
    """CCNet bucket replay: the lm_score oracle as a subquery, joined
    with lang; per-language exact interpolated percentiles nudge-rounded
    to the same 6-dp grid as the NLLs they cut (so the ≤ comparisons
    see identical grid doubles in both engines)."""
    return (
        f"WITH m AS ({_lm_oracle_sql()}), "
        "sl AS MATERIALIZED (SELECT m.doc_id, d.lang, m.nll FROM m JOIN documents d "
        "USING (doc_id)), "
        f"thr AS (SELECT lang, round(quantile_cont(nll, {lo!r}) + 1e-12, 6) "
        f"AS tlo, round(quantile_cont(nll, {hi!r}) + 1e-12, 6) AS thi "
        "FROM sl GROUP BY lang) "
        "SELECT doc_id, lang, nll, CASE WHEN nll <= tlo THEN 'head' "
        "WHEN nll <= thi THEN 'middle' ELSE 'tail' END AS bucket "
        "FROM sl JOIN thr USING (lang)"
    )


@register(
    "sample_perplexity_buckets",
    tags=("headline", "noisy", "sf_scale"),
    oracle=_perplexity_buckets_oracle_sql(1 / 3, 2 / 3),
)
def _sample_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity stratification (Wenzek et al.
    2020; pipeline/model.perplexity_buckets): per-language exact
    interpolated tercile cuts over the corpus-trained bigram-LM NLL.
    Composes the text_lm_score oracle with quantile_cont thresholds —
    the F.percentile == quantile_cont parity precedent."""
    from orientdb_spark.pipeline import model

    return model.perplexity_buckets(_docs(spark, sf_dir))


@register("sample_moore_lewis", tags=("sf_scale",), oracle=(
    # two add-k bigram LMs over ONE shared per-doc bigram-count
    # frame (general = everything, in-domain = lang='en'), LEFT
    # joins + exact-0 coalesce for OOV backoff, per-doc weighted
    # means on lm_score's plain 6-dp round, ce_diff from the
    # ROUNDED pair with the nudge
    "WITH staged AS (SELECT doc_id, lang = 'en' AS ind, "
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), "
    "t -> len(t) > 0) AS t FROM documents), "
    "s2 AS (SELECT doc_id, ind, t FROM staged WHERE len(t) >= 2), "
    "pairs AS MATERIALIZED (SELECT doc_id, ind, u.w1 AS w1, "
    "u.w2 AS w2 FROM (SELECT doc_id, ind, "
    "unnest(list_transform(range(1, len(t)), "
    "i -> {'w1': t[i::INTEGER], 'w2': t[i::INTEGER + 1]})) AS u "
    "FROM s2)), "
    "pc AS MATERIALIZED (SELECT doc_id, ind, w1, w2, "
    "count(*)::BIGINT AS nb FROM pairs GROUP BY 1, 2, 3, 4), "
    "c2g AS (SELECT w1, w2, sum(nb)::BIGINT AS c FROM pc "
    "GROUP BY 1, 2), "
    "c1g AS (SELECT w1, sum(nb)::BIGINT AS c FROM pc GROUP BY 1), "
    "vg AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM ("
    "SELECT w1 AS w FROM pc UNION ALL SELECT w2 FROM pc)), "
    "pci AS MATERIALIZED (SELECT * FROM pc WHERE ind), "
    "c2i AS (SELECT w1, w2, sum(nb)::BIGINT AS c FROM pci "
    "GROUP BY 1, 2), "
    "c1i AS (SELECT w1, sum(nb)::BIGINT AS c FROM pci GROUP BY 1), "
    "vi AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM ("
    "SELECT w1 AS w FROM pci UNION ALL SELECT w2 FROM pci)), "
    "sc AS (SELECT pc.doc_id, pc.nb, "
    "-ln((coalesce(g2.c, 0) + 0.5) / (coalesce(g1.c, 0) + 0.5 * vg.v)) "
    "AS ng, "
    "-ln((coalesce(i2.c, 0) + 0.5) / (coalesce(i1.c, 0) + 0.5 * vi.v)) "
    "AS ni FROM pc "
    "LEFT JOIN c2g g2 USING (w1, w2) LEFT JOIN c1g g1 USING (w1) "
    "LEFT JOIN c2i i2 USING (w1, w2) LEFT JOIN c1i i1 USING (w1), "
    "vg, vi) "
    "SELECT doc_id, sum(nb)::BIGINT AS n_bigrams, "
    "round(sum(nb * ni) / sum(nb), 6) AS nll_in, "
    "round(sum(nb * ng) / sum(nb), 6) AS nll_gen, "
    "round(round(sum(nb * ni) / sum(nb), 6) - "
    "round(sum(nb * ng) / sum(nb), 6) + 1e-12, 6) AS ce_diff "
    "FROM sc GROUP BY doc_id"
))
def _sample_moore_lewis(spark, sf_dir):
    """Moore-Lewis cross-entropy-difference selection (pipeline/
    sampling.moore_lewis_score, Moore & Lewis 2010): every doc scored
    under the en-subset bigram LM and the whole-corpus LM, ce_diff =
    nll_in − nll_gen ranks domain-typicality (negative = select).
    OOV bigrams back off to the add-k floor via LEFT joins + exact-0
    coalesce. The oracle replays both models and the difference."""
    from orientdb_spark.pipeline.sampling import moore_lewis_score

    docs = _docs(spark, sf_dir)
    return moore_lewis_score(docs, F.col("lang") == "en")


@register("sample_length_buckets", tags=("sf_scale",), oracle=(
    # ws-token lengths, the identical literal CASE chain, exact
    # integer aggregates, waste_frac as the single division
    "WITH s AS (SELECT doc_id, len(list_filter("
    "regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0))"
    "::BIGINT AS n FROM documents), "
    "b AS (SELECT doc_id, n, "
    "CASE WHEN n <= 16 THEN 0 WHEN n <= 24 THEN 1 "
    "WHEN n <= 32 THEN 2 WHEN n <= 40 THEN 3 WHEN n <= 48 THEN 4 "
    "WHEN n <= 64 THEN 5 ELSE 6 END AS bucket_id, "
    "(CASE WHEN n <= 16 THEN 16 WHEN n <= 24 THEN 24 "
    "WHEN n <= 32 THEN 32 WHEN n <= 40 THEN 40 WHEN n <= 48 THEN 48 "
    "WHEN n <= 64 THEN 64 END)::BIGINT AS bucket_cap FROM s) "
    "SELECT bucket_id::INTEGER AS bucket_id, bucket_cap, "
    "count(*)::BIGINT AS n_docs, max(n)::BIGINT AS max_len, "
    "sum(n)::BIGINT AS total_tokens, "
    "(count(*) * max(n))::BIGINT AS padded_tokens, "
    "round(CASE WHEN count(*) * max(n) > 0 THEN "
    "(count(*) * max(n) - sum(n))::DOUBLE / "
    "(count(*) * max(n))::DOUBLE ELSE 0.0 END + 1e-12, 6) "
    "AS waste_frac FROM b GROUP BY 1, 2"
))
def _sample_length_buckets(spark, sf_dir):
    """Padding-waste audit for length-bucketed batching (pipeline/
    sampling.length_buckets — the group_by_length practice): per
    bucket (ascending caps 16/24/32/40/48/64 + overflow), doc counts,
    observed max, total vs padded tokens, waste fraction. Literal
    integer CASE assignment, exact integer aggregates, one division.
    Oracle-exact trivially."""
    from orientdb_spark.pipeline.sampling import length_buckets

    return length_buckets(
        _docs(spark, sf_dir), bounds=(16, 24, 32, 40, 48, 64)
    )


@register("sample_leakage_safe_split", tags=("headline", "noisy"), oracle=(
    _minhash_oracle_sql(pairs_cte=True)
    + """,
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b AS a, id_a AS b FROM pairs),
reach AS (SELECT a, b FROM e
          UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
full0 AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_key
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
SELECT doc_id, cluster_key,
       CASE WHEN (('0x' || substring(md5('42:' || cluster_key), 1, 15))::UBIGINT::BIGINT) % 10000 < 9800 THEN 'train'
            WHEN (('0x' || substring(md5('42:' || cluster_key), 1, 15))::UBIGINT::BIGINT) % 10000 < 9900 THEN 'valid'
            ELSE 'test' END AS split
FROM full0
"""
))
def _sample_leakage_safe_split(spark, sf_dir):
    """Leakage-safe split (sampling.leakage_safe_split): minhash-LSH
    duplicate pairs → star-contraction CC → split assignment keyed on
    the CLUSTER id, so near-duplicates can never straddle train/test.
    The oracle replays the full composition: the minhash pipeline, the
    recursive-CTE closure, and the split hash on the cluster key."""
    from orientdb_spark.pipeline import dedup, sampling

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9)
    return sampling.leakage_safe_split(docs, pairs).select(
        "doc_id", "cluster_key", "split"
    )


@register("sample_pack_sequences", oracle=(
    # mirrors pipeline/sampling.pack_sequences(budget=256): the
    # global-window formulation IS the spec; the Spark side must
    # reproduce it with the distributed prefix sum
    "WITH t AS (SELECT doc_id, len(list_filter("
    "regexp_split_to_array(text, '\\s+'), w -> len(w) > 0))::BIGINT AS n_tokens "
    "FROM documents), "
    "c AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER ("
    "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
    "AS bef FROM t) "
    "SELECT doc_id, n_tokens, (bef // 256)::BIGINT AS seq_index, "
    "(bef % 256)::BIGINT AS seq_offset, "
    "(CASE WHEN n_tokens = 0 THEN 1 ELSE "
    "((bef + n_tokens - 1) // 256) - (bef // 256) + 1 END)::BIGINT "
    "AS n_seqs_spanned FROM c"
))
def _sample_pack_sequences(spark, sf_dir):
    """Sequence packing over the documents table: whitespace token
    counts, concatenated in doc_id order, cut into 256-token training
    sequences via the distributed prefix sum."""
    from orientdb_spark.pipeline import sampling, text

    counts = text.token_stats(_docs(spark, sf_dir)).select(
        "doc_id", F.col("n_ws_tokens").cast("long").alias("n_tokens")
    )
    return sampling.pack_sequences(counts, budget=256)
