"""Deduplication operators — exact, fingerprint, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design (the point of each):
- exact/fingerprint: one hash-groupBy — map-side partial agg, one shuffle
  on the 128-bit digest; no skew (hashes are uniform).
- MinHash+LSH: per-doc signature is embarrassingly parallel; the only
  shuffle is the band-bucket self-join, whose fan-out is controlled by
  (num_hashes, bands) — candidate verification touches candidate pairs
  only, never the full N² cross product.
- SimHash: per-doc fingerprint, no shuffle at all; near-dup lookup is an
  equality join on the fingerprint (or banded Hamming at higher recall).
- n-gram Jaccard: bounded by blocking keys — all-pairs only *within* a
  block; at 100 TB the block is the unit of parallelism.
- embedding near-dup: blocked cosine; the full ANN path lives in
  pipeline/similarity.

All hashing uses the md5-derived 60-bit hash (pipeline/common.py) so the
duckdb oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from orientdb_spark.pipeline.common import (
    MINHASH_P,
    MINHASH_PARAMS,
    h60,
    normalize_text,
    token_set,
    word_ngrams,
)
from orientdb_spark.session import local_frame


def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n_docs, canonical_id).
    canonical = lowest id (the survivor a dedup pass would keep)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


def fingerprint_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-exact dedup on normalized text (case/punct/whitespace folded)."""
    return (
        df.groupBy(F.md5(normalize_text(F.col(text_col))).alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


def doc_fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document content fingerprint (rolling-hash analog): md5 of the
    normalized text — the join key for cross-corpus dedup."""
    return df.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    )


def token_hashes(text: Column) -> Column:
    """h60(token) mod P over the distinct-token set."""
    return F.transform(token_set(text), lambda t: h60(t) % F.lit(MINHASH_P))


def _shingle_struct_udf(shingle: int):
    """Arrow-vectorized shingler: text → (grams sorted-distinct, md5-derived
    hashes mod P) in ONE pass. Used because array higher-order functions
    run interpreted (outside whole-stage codegen) — measured ~4s per full
    scan at 5k docs vs <1s vectorized — and because returning grams and
    hashes together lets LSH hash once and reuse the grams for candidate
    verification without re-scanning. Byte-identical to the JVM
    word_ngrams/h60 pipeline (same \\s+ split, same md5 prefix math), which
    the DuckDB oracle checks.

    Returned marked non-deterministic (it is pure — this is an optimizer
    fence, guide §4.4): every consumer filters on a UDF-derived column
    (``size(__toks) > 0``), and pushing that filter below the projection
    duplicates the ArrowEvalPython node — the corpus was measured being
    shingled TWICE per pass (two shingles() nodes in the
    dedup_minhash_lsh / leakage_safe_split plans). The fence pins one
    evaluation; values are unchanged.

    Side effect of the fence (measured acceptable): non-determinism
    blocks PushPredicateThroughNonJoin for the WHOLE projection, so a
    consumer filtering on deterministic columns ABOVE the shingle stage
    (e.g. a predicate on __id) also loses parquet-scan pushdown there —
    pre-filter the input frame BELOW this stage if scan pruning
    matters."""
    import hashlib
    import re

    from pyspark.sql.functions import pandas_udf

    ws = re.compile(r"\s+")

    @pandas_udf("struct<g:array<string>,h:array<long>>")
    def shingles(text: pd.Series) -> pd.DataFrame:
        gs, hs = [], []
        for t in text:
            toks = [w for w in ws.split(t or "") if w]
            if len(toks) < shingle:
                gs.append([])
                hs.append([])
                continue
            grams = sorted({" ".join(toks[i : i + shingle]) for i in range(len(toks) - shingle + 1)})
            gs.append(grams)
            hs.append(
                [
                    int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16) % MINHASH_P
                    for g in grams
                ]
            )
        return pd.DataFrame({"g": gs, "h": hs})

    return shingles.asNondeterministic()


def _sig_columns(id_df: DataFrame, hash_array: Column, num_hashes: int) -> DataFrame:
    """(id, s_0..s_{n-1}) minhash signature columns via explode + groupBy:
    sig[i] = min over tokens of (A[i]*x + B[i]) mod P.

    The relational formulation beats per-row array transforms by a wide
    margin: higher-order functions run interpreted (no codegen), while
    exploded min-aggregates are whole-stage-codegen'd with map-side
    partial aggregation — and the same shape scales out (shuffle carries
    num_hashes partial mins per id, not token lists)."""
    ex = id_df.select("__id", F.explode(hash_array).alias("__h"))
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"__s{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS[:num_hashes])
    ]
    return ex.groupBy("__id").agg(*aggs)


def _shingle_stage(df: DataFrame, text_col: str, id_col: str, shingle: int) -> DataFrame:
    """(__id, __toks, __h): distinct word-``shingle``-grams and their
    minhash-ready hashes, one Arrow pass (or pure Column ops for bare
    tokens)."""
    if shingle <= 1:
        unit = token_set(F.col(text_col))
        sh = df.select(F.col(id_col).alias("__id"), unit.alias("__toks")).filter(
            F.size("__toks") > 0
        )
        return sh.withColumn(
            "__h", F.transform("__toks", lambda t: h60(t) % F.lit(MINHASH_P))
        )
    shingler = _shingle_struct_udf(shingle)
    return (
        df.select(F.col(id_col).alias("__id"), shingler(F.col(text_col)).alias("__s"))
        .select("__id", F.col("__s.g").alias("__toks"), F.col("__s.h").alias("__h"))
        .filter(F.size("__toks") > 0)
    )


def _band_postings(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(__id, band, bhash) LSH posting list from a ``_shingle_stage``
    frame. Staged projections: tokens → signature → band hashes. Each
    stage references the previous stage's column more than once, and the
    producing expressions are non-cheap, so CollapseProject keeps the
    stages separate — without this, the band hashes each inline the full
    16-hash signature (higher-order functions run interpreted, no
    codegen subexpression elimination) and the work multiplies 4×.
    Token arrays stay out of the candidate-generation shuffle."""
    rows = num_hashes // bands
    sig = _sig_columns(sh.select("__id", "__h"), F.col("__h"), num_hashes)
    banded = sig.select(
        "__id",
        *[
            h60(
                F.concat_ws(
                    "-",
                    *[F.col(f"__s{b * rows + r}").cast("string") for r in range(rows)],
                )
            ).alias(f"__band_{b}")
            for b in range(bands)
        ],
    )
    return banded.select(
        "__id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"__band_{b}").alias("bhash"))
                for b in range(bands)
            ])
        ).alias("__bk"),
    ).select("__id", F.col("__bk.band").alias("band"), F.col("__bk.bhash").alias("bhash"))


def minhash_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
) -> DataFrame:
    """The persistable LSH index over a corpus: (id_col, band, bhash)
    posting list — what ``minhash_lsh_pairs_incremental`` probes per
    ingest batch. Build once, write to parquet, reuse every batch: the
    corpus is shingled and signed exactly once in its lifetime instead
    of once per batch. Parameters must match the incremental call's."""
    sh = _shingle_stage(df, text_col, id_col, shingle)
    return _band_postings(sh, num_hashes, bands).select(
        F.col("__id").alias(id_col), "band", "bhash"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.9,
    shingle: int = 3,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs with exact-Jaccard verification.

    shingle→minhash→band→bucket-join: docs sharing any band bucket are
    candidates; candidates are verified with the true Jaccard of their
    distinct-shingle sets; pairs with jaccard >= threshold survive.
    Returns (id_a, id_b, jaccard) with id_a < id_b.

    The similarity unit is the word ``shingle``-gram (pass 1 for bare
    tokens): n-gram shingles keep docs that merely share a vocabulary from
    colliding, so cluster sizes — and the quadratic pair output — track
    true near-duplication.

    ``max_bucket_size`` is standard LSH hygiene for the degenerate-bucket
    hazard: a band hash shared by B docs makes the candidate join emit
    B²/2 pairs, so one hot bucket (boilerplate/empty-ish texts colliding)
    turns the join quadratic. Buckets above the cap are dropped from
    candidate generation (a doc-pair inside an oversized bucket is still
    found through any of its other, smaller band buckets). Audit what a
    cap would drop with ``minhash_bucket_sizes``; pass None to disable.
    """
    # one shingle pass feeds both candidate generation and verification
    sh = _shingle_stage(df, text_col, id_col, shingle).persist()
    toks_df = sh.select("__id", "__toks")
    postings = _band_postings(sh, num_hashes, bands)

    # ONE shuffle does both bucket assembly and the degenerate-bucket
    # guard: group postings into per-bucket id arrays (map-side partial
    # collect), drop buckets above the cap, and emit pairs in-row from the
    # sorted array. This replaces the groupBy-count + cap-join +
    # bucket-self-join formulation (three exchanges) with a single groupBy
    # — measured 2.6s → ~1s at sf0.1. The in-row pair expansion is bounded
    # by the cap (worst bucket: cap²/2 structs in one row), which is
    # exactly the bound the cap exists to enforce; at 100 TB the shuffle
    # carries one row per bucket, not one row per posting pair.
    buckets = (
        postings.groupBy("band", "bhash")
        .agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    if max_bucket_size is not None:
        # a doc-pair inside an oversized bucket is still found through any
        # of its other, smaller band buckets — standard LSH hygiene
        buckets = buckets.filter(F.size("__ids") <= F.lit(max_bucket_size))
    ids = F.col("__ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids) - i - F.lit(1)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("__p"))
        .select(F.col("__p.id_a"), F.col("__p.id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # verification joins token sets back by id — touches candidate pairs
    # only, never the N² cross product
    ta = toks_df.select(F.col("__id").alias("id_a"), F.col("__toks").alias("__ta"))
    tb = toks_df.select(F.col("__id").alias("id_b"), F.col("__toks").alias("__tb"))
    verified = cand.join(ta, "id_a").join(tb, "id_b")
    inter = F.size(F.array_intersect("__ta", "__tb"))
    union = F.size(F.array_union("__ta", "__tb"))
    jac = inter.cast("double") / union
    return (
        verified.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.9,
    shingle: int = 3,
    max_bucket_size: int | None = 2000,
    corpus_postings: DataFrame | None = None,
) -> DataFrame:
    """Incremental MinHash-LSH near-dup pairs: dedup an ingest BATCH
    against an already-deduped corpus without re-running the corpus-wide
    pipeline — the shape a continuously-fed training corpus needs. A
    daily batch of M docs against an N-doc corpus costs the full run
    O(N + M) shingling + an (N+M)-posting shuffle EVERY day; this path
    is O(M) batch work + one corpus-postings scan, with the corpus side
    never shuffled and corpus text re-shingled only for the docs that
    actually collide.

    CONTRACT (oracle-checked): returns exactly the pairs
    ``minhash_lsh_pairs(corpus ∪ new)`` emits restricted to pairs with
    at least one NEW side — including identical bucket-cap verdicts,
    because the combined bucket population is reassembled exactly for
    every bucket a new doc touches. Old×old pairs are excluded by
    contract (the corpus is already deduped; re-reporting its internal
    pairs every batch would be O(corpus) output). ``id_col`` values must
    be disjoint across the two frames.

    Scale shape, stage by stage:
    1. batch postings: shingle + sign the M new docs only;
    2. the batch's distinct bucket keys BROADCAST against the corpus
       posting list (pass ``corpus_postings`` — build once with
       ``minhash_postings``, persist to parquet, reuse every batch; the
       broadcast-hash semi-join streams the corpus index with no
       corpus-side exchange);
    3. touched buckets reassemble (new ∪ matching-corpus postings, a
       groupBy over touched postings only) so the cap sees the TRUE
       combined bucket size; pairs emit in-row, ≥1-new only;
    4. exact-Jaccard verify re-shingles only the corpus docs named in
       surviving candidates (semi-join on candidate ids, then shingle
       the matched rows — never the whole corpus).

    Cache note: the batch's shingle/posting frames are persisted for
    the duration of the returned (lazy) plan, following the
    minhash_lsh_pairs convention; a long-lived driver running many
    batches in ONE session should release them between batches
    (``spark.catalog.clearCache()`` or collect-then-discard), since a
    lazy return cannot unpersist its own inputs.
    """
    if corpus_postings is None:
        corpus_postings = minhash_postings(
            corpus_df, text_col, id_col, num_hashes, bands, shingle
        )
    new_sh = _shingle_stage(new_df, text_col, id_col, shingle).persist()
    new_posts = _band_postings(new_sh, num_hashes, bands).persist()
    keys = new_posts.select("band", "bhash").distinct()
    # corpus index streams against the broadcast batch keys — no
    # corpus-side shuffle, and a parquet-backed posting list gets
    # (band, bhash) pushdown from the join
    touched_corpus = corpus_postings.select(
        F.col(id_col).alias("__id"), "band", "bhash"
    ).join(F.broadcast(keys), ["band", "bhash"])
    all_touched = new_posts.select(
        "__id", "band", "bhash", F.lit(True).alias("__new")
    ).unionByName(touched_corpus.withColumn("__new", F.lit(False)))
    # bucket reassembly over touched postings only; combined size ==
    # the full run's size for every touched bucket, so cap verdicts
    # (and therefore the pair set) match the full pipeline exactly
    buckets = (
        all_touched.groupBy("band", "bhash")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__id").alias("i"), F.col("__new").alias("n")))
            ).alias("__m")
        )
        .filter(F.size("__m") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("__m") <= F.lit(max_bucket_size))
    m = F.col("__m")
    pair_structs = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + F.lit(2), F.size(m) - i - F.lit(1)),
                lambda y: F.struct(
                    x["i"].alias("id_a"),
                    y["i"].alias("id_b"),
                    (x["n"] | y["n"]).alias("any_new"),
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("__p"))
        .filter(F.col("__p.any_new"))
        .select(F.col("__p.id_a"), F.col("__p.id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # verify: batch token sets are in hand; corpus token sets are built
    # for the candidate-named docs only (semi-join then shingle)
    cand_ids = cand.select(F.col("id_a").alias("__cid")).unionByName(
        cand.select(F.col("id_b").alias("__cid"))
    ).distinct()
    needed_corpus = corpus_df.join(
        cand_ids, F.col(id_col) == F.col("__cid"), "left_semi"
    )
    toks = new_sh.select("__id", "__toks").unionByName(
        _shingle_stage(needed_corpus, text_col, id_col, shingle).select(
            "__id", "__toks"
        )
    )
    ta = toks.select(F.col("__id").alias("id_a"), F.col("__toks").alias("__ta"))
    tb = toks.select(F.col("__id").alias("id_b"), F.col("__toks").alias("__tb"))
    verified = cand.join(ta, "id_a").join(tb, "id_b")
    inter = F.size(F.array_intersect("__ta", "__tb"))
    union = F.size(F.array_union("__ta", "__tb"))
    jac = inter.cast("double") / union
    return (
        verified.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """(id, simhash) per document — near-dup candidates share fingerprints
    (equality) or low Hamming distance (banded join at higher recall).

    Relational formulation (explode + per-bit codegen sum aggregates) for
    the same reason as the minhash signatures: interpreted HOF passes are
    the slow path."""
    ex = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.transform(token_set(F.col(text_col)), lambda t: h60(t))).alias("__h"),
    )
    aggs = [
        F.sum((F.shiftright(F.col("__h"), j) % 2) * 2 - 1).alias(f"__b{j}")
        for j in range(bits)
    ]
    g = ex.groupBy("__id").agg(*aggs)
    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + F.when(F.col(f"__b{j}") > 0, F.lit(2 ** j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return g.select(F.col("__id").alias(id_col), out.alias("simhash"))


def simhash_duplicate_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """Pairs with identical SimHash — the zero-Hamming-distance bucket."""
    s = simhash(df, text_col, id_col, bits)
    a = s.select(F.col(id_col).alias("id_a"), "simhash")
    b = s.select(F.col(id_col).alias("id_b"), "simhash")
    return a.join(b, "simhash").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "simhash"
    )


def minhash_bucket_sizes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
) -> DataFrame:
    """(band, bhash, n_docs) LSH bucket populations — the audit companion
    to ``minhash_lsh_pairs``'s ``max_bucket_size`` cap: run this to see
    what a given cap would drop (each bucket of n docs would have emitted
    n²/2 candidate rows)."""
    rows = num_hashes // bands
    if shingle <= 1:
        sh = df.select(
            F.col(id_col).alias("__id"), token_hashes(F.col(text_col)).alias("__h")
        ).filter(F.size("__h") > 0)
    else:
        shingler = _shingle_struct_udf(shingle)
        sh = df.select(
            F.col(id_col).alias("__id"), shingler(F.col(text_col))["h"].alias("__h")
        ).filter(F.size("__h") > 0)
    sig = _sig_columns(sh, F.col("__h"), num_hashes)
    banded = sig.select(
        "__id",
        *[
            h60(
                F.concat_ws(
                    "-", *[F.col(f"__s{b * rows + r}").cast("string") for r in range(rows)]
                )
            ).alias(f"__band_{b}")
            for b in range(bands)
        ],
    )
    posts = banded.select(
        "__id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"__band_{b}").alias("bhash"))
                for b in range(bands)
            ])
        ).alias("__bk"),
    ).select(F.col("__bk.band").alias("band"), F.col("__bk.bhash").alias("bhash"))
    return posts.groupBy("band", "bhash").agg(F.count(F.lit(1)).alias("n_docs"))


def ngram_candidate_pairs(
    g: DataFrame, threshold: float, block_cols: tuple[str, ...]
) -> DataFrame:
    """Prefix-filter candidate generation over ``g`` = (block_cols…, __id,
    __g sorted-distinct grams). Returns the (id_a, id_b) candidate set the
    verification step must score — every pair with J ≥ threshold is in it
    (prefix-filter lemma), and for dissimilar corpora it is FAR smaller
    than the block-wide cross product (see ngram_jaccard_pairs)."""
    ex = g.select(*block_cols, "__id", F.explode("__g").alias("__gram"))
    # global document frequency → rare-first order (any consistent global
    # order is correct; df-ascending minimizes posting-list fanout)
    dfreq = ex.groupBy("__gram").agg(F.count(F.lit(1)).alias("__df"))
    ordered = (
        ex.join(dfreq, "__gram")
        .groupBy(*block_cols, "__id")
        .agg(F.array_sort(F.collect_list(F.struct("__df", "__gram"))).alias("__order"))
    )
    prefix_len = (
        F.size("__order") - F.ceil(F.lit(threshold) * F.size("__order")) + 1
    ).cast("int")
    posts = ordered.select(
        *block_cols,
        "__id",
        F.size("__order").alias("__sz"),
        F.explode(
            F.slice(F.transform("__order", lambda s: s["__gram"]), F.lit(1), prefix_len)
        ).alias("__gram"),
    )
    pa = posts.select(
        *block_cols, "__gram", F.col("__id").alias("id_a"), F.col("__sz").alias("__sa")
    )
    pb = posts.select(
        *block_cols, "__gram", F.col("__id").alias("id_b"), F.col("__sz").alias("__sb")
    )
    return (
        pa.join(pb, [*block_cols, "__gram"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("__sb").cast("double") >= F.lit(threshold) * F.col("__sa"))
            & (F.col("__sa").cast("double") >= F.lit(threshold) * F.col("__sb"))
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.05,
    block_cols: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """Word n-gram Jaccard similarity pairs, EXACT, via a prefix-filtered
    set-similarity join (the AllPairs/PPJoin discipline — Bayardo et al.,
    WWW'07; Chaudhuri et al., ICDE'06 — not an approximate LSH pass).

    Candidate generation never builds block-wide all-pairs: each doc's
    gram set is ordered rarest-first by global document frequency, and only
    its *prefix* (length |g| − ceil(t·|g|) + 1) is posted to the inverted
    index. Prefix-filter lemma: J(A,B) ≥ t implies the two prefixes share
    at least one gram under any common total order, so joining postings on
    (gram, blocking keys) finds every qualifying pair — same output as
    all-pairs, bit-for-bit (the DuckDB oracle computes blocked all-pairs).
    A length filter (t·|A| ≤ |B| ≤ |A|/t) prunes candidates further before
    verification.

    Scale: the former block-wide self-join was O(B²) per block — fatal
    when one (lang, source) block is ~the whole corpus. Here the shuffle
    is bounded by prefix posting lists; a near-dup threshold (0.8+) keeps
    prefixes short. Blocking keys remain as an equality predicate on the
    posting join. Requires threshold > 0 (docs with no n-grams can never
    qualify and are dropped up front).
    """
    g = (
        df.select(
            *[F.col(c) for c in block_cols],
            F.col(id_col).alias("__id"),
            word_ngrams(F.col(text_col), n).alias("__g"),
        )
        .filter(F.size("__g") > 0)
        .persist()
    )
    cand = ngram_candidate_pairs(g, threshold, block_cols)
    ga = g.select(F.col("__id").alias("id_a"), F.col("__g").alias("__ga"))
    gb = g.select(F.col("__id").alias("id_b"), F.col("__g").alias("__gb"))
    verified = cand.join(ga, "id_a").join(gb, "id_b")
    jac = F.size(F.array_intersect("__ga", "__gb")).cast("double") / F.size(
        F.array_union("__ga", "__gb")
    )
    return (
        verified.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def candidate_cell_pairs(
    centers: dict, radii: dict, eps: float
) -> list[tuple[int, int]]:
    """Ball-pruning over quantizer cells: keep (i, j) iff the two cell
    balls could contain a pair within distance ``eps`` — d(c_i, c_j) ≤
    r_i + r_j + eps + slack (triangle inequality ⇒ lossless; slack can
    only ADD candidates, never drop one). Both directions are emitted
    for i ≠ j so the downstream id_a < id_b filter sees every member
    ordering exactly once.

    The slack is norm-relative (1e-7 · max(1, ‖c_i‖, ‖c_j‖)): the
    vectorized expansion ‖a‖²+‖b‖²−2a·b cancels catastrophically near
    d = 0, so the computed distance can EXCEED the true one by
    ~sqrt(2e-16·‖c‖²) ≈ 1.5e-8·‖c‖ — a fixed 1e-9 slack was smaller
    than that noise and could prune a true candidate (e.g. a self-pair
    at threshold ≈ 1.0 with r_i ≈ eps ≈ 0). The diagonal is also
    pinned to exactly 0 (d(c, c) is identically zero) so self-pairs
    survive regardless of the residual.

    Vectorized (one numpy pairwise-distance matrix) because IMI
    product-cell blocking feeds THOUSANDS of occupied cells here —
    the old pure-Python double loop was fine for flat IVF's ≤64 cells
    but is minutes of driver time at 4096²."""
    import numpy as _np

    cids = sorted(centers)
    if not cids:
        return []
    C = _np.asarray([centers[i] for i in cids], dtype=_np.float64)
    R = _np.asarray([radii.get(i, 0.0) for i in cids], dtype=_np.float64)
    sq = (C * C).sum(axis=1)
    D2 = sq[:, None] + sq[None, :] - 2.0 * (C @ C.T)
    _np.fill_diagonal(D2, 0.0)
    D = _np.sqrt(_np.clip(D2, 0.0, None))
    nrm = _np.sqrt(_np.clip(sq, 0.0, None))
    slack = 1e-7 * _np.maximum(1.0, _np.maximum(nrm[:, None], nrm[None, :]))
    mask = D <= R[:, None] + R[None, :] + eps + slack
    ii, jj = _np.nonzero(mask)
    return [(cids[a], cids[b]) for a, b in zip(ii.tolist(), jj.tolist())]


def _imi_occupied_centroids(books, occ_cids, k_half: int) -> dict:
    """Concatenated product centroids for the OCCUPIED IMI cells only —
    cid = cid1·k_half + cid2 ↦ books[0][cid1] ++ books[1][cid2]. Driver
    allocation is O(len(occ_cids)·d), never O(k_half²·d): at IMI's own
    target scale (N ≳ 16M ⇒ k_half ≈ 2520 ⇒ 6.4M product cells) a dense
    dict would be multi-GB driver memory. Unoccupied cells have no
    members, no radius, and can never appear in a candidate pair, so
    they are never needed."""
    return {
        cid: list(books[0][cid // k_half]) + list(books[1][cid % k_half])
        for cid in occ_cids
    }


def embedding_duplicate_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    threshold: float = 0.99,
    n_cells: int | str = 16,
    index=None,
    max_cell_occupancy: int = 4096,
    blocking: str = "ivf",
    k_half: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicates, EXACT, via metric ball pruning.
    ``block_col=None`` mines the WHOLE corpus (no blocking predicate) —
    candidate generation is then the ball pruning alone.

    On unit-normalized vectors, cosine(a,b) ≥ t ⟺ ‖â−b̂‖ ≤ ε where
    ε = sqrt(2−2t). Vectors are assigned to ``n_cells`` cells
    (deterministic h60-seeded centers, reusing the IVF quantizer), each
    cell gets a radius r_i = max member distance to its center, and only
    cell pairs whose balls can touch — d(c_i,c_j) ≤ r_i + r_j + ε — are
    joined. Triangle inequality makes the pruning lossless for ANY
    assignment, so output equals blocked all-pairs bit-for-bit (the
    verification cosine runs on the original vectors with pre-staged
    norms, exactly as the DuckDB oracle computes it).

    Scale: the former label-blocked self-join was O(B²) in the largest
    block. Here the unit of work is the candidate cell pair — cells
    partition the corpus, the n_cells² candidate matrix is pruned
    driver-side from n_cells tiny rows, and the blocking column remains
    an equality predicate on the member join. Raise ``n_cells`` with
    corpus size (cost: one O(N·n_cells) assignment pass), or pass
    ``n_cells="auto"`` for √N clamped to [16, 4096] — on clustered
    corpora more cells prune more (measured 2.6× at 60k vectors in the
    r10 study, 1.7× in the r9 one; BENCH.md), and the pruning-
    effectiveness guard below coarsens back to ≤16 cells when the
    corpus is structureless, so auto is safe in both regimes (its
    isotropic cost is the guard's extra assignment pass, ~5%).
    DECISION (final, r11, per the r10 study's "flip only if both
    regimes win or tie" bar): the DEFAULT STAYS 16 — isotropic corpora
    pay the guard's ~5% rather than tying — and "auto" remains the
    documented opt-in for clustered corpora, which real embedding
    models produce. The study's numbers are in BENCH.md §r10.

    ``index``: a prebuilt ``similarity.IvfIndex`` over the SAME corpus
    (build-once, serve both ANN queries and near-dup mining — one
    assignment pass instead of two). Its raw-space centroids are
    unit-normalized here and its cached cell assignments reused; pruning
    stays exact because radii are always re-measured from actual members
    against whatever centers are in play — assignment quality only
    affects pruning efficiency, never correctness.

    ``max_cell_occupancy``: occupancy guard for the verification stage —
    cells holding more members than this are hash-split into subcells
    before the grouped verify, so a degenerate corpus that collapses
    into ONE cell still fans out across ~(N/cap)² independent
    applyInPandas groups instead of serializing into a single task
    (the giant-cell analog of the minhash bucket cap at
    minhash_bucket_sizes). The split is exact: sub-pair groups
    partition the within-/cross-cell pair sets, and each pair's dot is
    computed identically wherever it lands.

    ``blocking="imi"``: block on the inverted-multi-index PRODUCT cells
    (Babenko & Lempitsky CVPR'12 — two ``k_half``-codeword half-space
    codebooks; a vector lands in the (cid1, cid2) product cell) instead
    of flat IVF cells. Pruning stays EXACT — radii are measured from
    actual members against the concatenated product centroid, and the
    triangle-inequality test is assignment-agnostic — so output equals
    the flat path bit-for-bit (pinned in tests/test_dedup_scale.py).
    When to use it (measured, BENCH.md r9 blocking study): blocking
    effectiveness is a function of CLUSTER STRUCTURE, not cell count
    alone. On clustered corpora more cells prune more (flat n_cells=√N
    beat the 16-cell default 1.7× at 60k vectors) — but flat cells cap
    at a driver/broadcast-feasible centroid table (~4096); IMI's
    2·k_half stored centroids buy k_half² cells, so it is the blocking
    for corpora big enough that the flat table is infeasible
    (N ≳ 16M). Below that scale prefer flat cells: half-space
    codebooks can split clusters across product cells, inflating radii
    (measured: IMI 1600 cells slower than flat 245 on the 60k
    clustered corpus). On ISOTROPIC corpora keep cells few regardless
    — radii ≈ √2 defeat all pruning and every added cell multiplies
    the verify shuffle (an n_cells=√N run at 200k isotropic vectors
    spilled out a 77 GB disk).
    ``k_half=None`` derives ceil(N^(1/3)) (clamped to [4, 4096] and to
    the corpus size, so tiny corpora work like the flat path) from one
    count of the non-zero-norm corpus. ``index``/``n_cells`` are
    ignored under IMI blocking.

    Pruning-effectiveness guard: when the collected radii/occupancy
    imply the verify fan-out would exceed 2× a 16-cell blocking's cost
    (pruning ineffective — the isotropic regime above), the operator
    WARNS (RuntimeWarning) and auto-coarsens to ≤16 cells via cid mod
    16 before the verify join, keeping output bit-identical while
    avoiding the measured 77 GB spill."""
    import math as _math

    from orientdb_spark.pipeline.common import vec_norm
    from orientdb_spark.pipeline.similarity import _assign_udf, _centroid_frame, seed_centers

    if blocking not in ("ivf", "imi"):
        raise ValueError(f"blocking must be 'ivf' or 'imi', got {blocking!r}")
    if isinstance(n_cells, str) and n_cells != "auto":
        raise ValueError(f"n_cells must be an int or 'auto', got {n_cells!r}")

    block_expr = (
        F.col(block_col) if block_col is not None else F.lit(0).alias("__blk0")
    )
    if block_col is None:
        block_col = "__blk0"
    g = (
        df.select(
            block_expr,
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .withColumn("__n", vec_norm(F.col("__v")))
        .filter(F.col("__n") > 0)
    )
    unit = g.select(
        block_col,
        "__id",
        "__v",
        "__n",
        F.zip_with("__v", F.array_repeat("__n", F.size("__v")), lambda x, nn: x / nn).alias(
            "__u"
        ),
    ).persist()

    spark = df.sparkSession
    if blocking == "imi":
        from orientdb_spark.pipeline.quantize import pq_encode_udf, pq_fit

        if k_half is None:
            n = max(1, unit.count())  # one bounded count of the persisted frame
            # clamp to the corpus size: a corpus with fewer than 4
            # non-zero-norm vectors must not floor k_half above n, or
            # pq_fit would raise "corpus smaller than k" where the flat
            # path handles tiny corpora fine
            k_half = max(1, min(n, 4096, max(4, _math.ceil(n ** (1.0 / 3.0)))))
        books = pq_fit(
            unit.select(F.col("__id"), F.col("__u").alias("__v")),
            m=2, k=k_half, vec_col="__v", id_col="__id", refine_iters=0,
        )
        enc = pq_encode_udf(books)
        # narrow withColumn assignment over the persisted unit frame —
        # same no-self-join discipline as the flat path below
        members = (
            unit.withColumn("__codes", enc(F.col("__u")))
            .withColumn(
                "cid",
                F.element_at("__codes", 1).cast("long") * k_half
                + F.element_at("__codes", 2).cast("long"),
            )
            .drop("__codes")
            .persist()
        )
        # product centroid = concatenated half-centroids — a plain point
        # in the full space, so the ball-pruning algebra applies as-is.
        # Materialize centroids for OCCUPIED product cells ONLY: the
        # distinct cid set is one bounded collect off the persisted
        # assignment (occupied ≤ N and typically ≪ k_half² on clustered
        # corpora), so driver memory is O(occupied·d). A dense
        # k_half² dict is infeasible at exactly IMI's advertised niche
        # (N ≳ 16M ⇒ k_half ≈ 2520 ⇒ 6.4M cells × 64 doubles ≈ multi-GB
        # driver allocation + a multi-GB radii broadcast); unoccupied
        # cells have no members, no radius, and can never appear in a
        # candidate pair, so dropping them is semantics-free.
        occ_cids = [r["cid"] for r in members.select("cid").distinct().collect()]
        cent_rows = _imi_occupied_centroids(books, occ_cids, k_half)
        centroids = _centroid_frame(spark, cent_rows.items())
    elif index is not None:
        # reuse the index's cached cell assignments (zero build jobs) and
        # project its raw-space centroids onto the unit sphere, where the
        # ball-pruning algebra lives. cosine assignment is scale-invariant,
        # so the cells are the same ones a unit-space build would produce.
        assignments = index.corpus_cells.select(
            F.col("neighbor_id").alias("__id"), "cid"
        )
        cn = vec_norm(F.col("cvec"))
        centroids = index.centroids.select(
            "cid",
            F.when(
                cn > 0,
                F.zip_with(
                    "cvec",
                    F.array_repeat(cn, F.size("cvec")),
                    lambda x, nn: x / nn,
                ),
            )
            .otherwise(F.col("cvec"))
            .alias("cvec"),
        )
        # LEFT join + loud failure on uncovered ids: an index built over a
        # different (or stale) corpus would otherwise silently drop the
        # unmatched rows and under-report pairs despite the EXACT contract.
        # The probe is limit(1)-bounded over the persisted frame.
        members = unit.join(assignments, "__id", "left").persist()
        uncovered = members.filter(F.col("cid").isNull()).select("__id").limit(1).collect()
        if uncovered:
            raise ValueError(
                "IvfIndex does not cover this corpus (e.g. id "
                f"{uncovered[0]['__id']!r} has no cell assignment); rebuild the "
                "index over the same corpus or pass index=None"
            )
        cent_rows = {r["cid"]: list(r["cvec"]) for r in centroids.collect()}
    else:
        # cheap deterministic quantizer: h60-seeded centers, no Lloyd step —
        # pruning is exact regardless of assignment quality (radii are
        # measured from actual members). Assignment is attached with a
        # narrow withColumn over the persisted unit frame — NOT a self
        # join back onto an (id, cid) table, which would shuffle the
        # whole corpus once more for data computed from that same frame.
        if n_cells == "auto":
            # scale-aware cell count: √N clamped to [16, 4096] (one
            # bounded count of the persisted frame). The r9 blocking
            # study measured flat √N cells 1.7× faster than the 16-cell
            # default on a clustered 60k corpus — real embedding
            # corpora are clustered, so more cells usually prune more —
            # while the pruning-effectiveness guard below coarsens back
            # to ≤16 cells when the corpus turns out isotropic (radii
            # ≈ √2, zero pruning), so auto can't trigger the verify
            # explosion the study measured at fixed √N.
            n_cells = max(16, min(4096, _math.ceil(_math.sqrt(max(1, unit.count())))))
        centers = seed_centers(
            unit.select(F.col("__id"), F.col("__u").alias("__v")), n_cells
        )
        members = unit.withColumn("cid", _assign_udf(centers)(F.col("__u"))).persist()
        centroids = _centroid_frame(spark, enumerate(centers))
        cent_rows = dict(enumerate(centers))
    # members persisted: scanned three times (radii + both sides of the
    # pair join); without this the Arrow assignment UDF and unit-
    # normalization re-run per scan (measured 3-4x the pair-join cost
    # at sf0.1)
    cdist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("__u"), F.col("cvec"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
    )
    radii = (
        members.join(F.broadcast(centroids), "cid")
        .select("cid", cdist.alias("__d"))
        .groupBy("cid")
        .agg(F.max("__d").alias("radius"), F.count(F.lit(1)).alias("cnt"))
    )
    # n_cells rows to the driver: centers + radii + occupancy → candidate
    # cell pairs and the per-cell split factors for the occupancy guard
    rr = radii.collect()
    rad_rows = {r["cid"]: r["radius"] for r in rr}
    occupancy = {r["cid"]: r["cnt"] for r in rr}
    eps = _math.sqrt(max(0.0, 2.0 - 2.0 * threshold))
    # only OCCUPIED cells can contribute members — restricting the
    # candidate matrix to them is semantics-free and keeps the IMI
    # product-cell matrix at (occupied)² instead of (k_half²)²
    occupied_cents = {c: cent_rows[c] for c in rad_rows if c in cent_rows}
    cand_cells = candidate_cell_pairs(occupied_cents, rad_rows, eps)
    # ---- pruning-effectiveness guard (r9's one perf-weak) ----
    # Ball pruning is a function of CLUSTER STRUCTURE, not cell count:
    # on an isotropic corpus radii approach √2 and NO cell pair is
    # pruned, so the verify stage replicates each member once per
    # candidate group its cell touches — at n_cells=√N that measured a
    # 77 GB shuffle spill (BENCH.md r9 blocking study). The radii and
    # occupancy needed to detect that are already on the driver;
    # inspect them BEFORE launching the verify join. The exploded row
    # volume is Σ_cells occ_c · deg_c (deg = undirected candidate pairs
    # touching c); when it exceeds 2× what coarsening to T=16 cells
    # would cost (N·T rows), pruning has failed: warn loudly (the ANN
    # under-recall convention) and COARSEN — remap cid → cid mod T (a
    # narrow column op on the persisted frame, no reassignment pass)
    # and take all occupied coarse-cell pairs as candidates. A
    # candidate SUPERSET never changes output (the verify stage
    # computes exact per-pair cosines, identical arithmetic wherever a
    # pair lands), so the result stays bit-identical; only the group
    # layout changes — and the occupancy split keeps the coarse groups
    # bounded by max_cell_occupancy exactly as the n_cells=16 default
    # does.
    _fallback_t = max(1, min(16, len(occupancy)))
    _deg: dict[int, int] = {}
    for _i, _j in {(min(a, b), max(a, b)) for (a, b) in cand_cells}:
        _deg[_i] = _deg.get(_i, 0) + 1
        if _j != _i:
            _deg[_j] = _deg.get(_j, 0) + 1
    _fanout = sum(occupancy.get(c, 0) * d for c, d in _deg.items())
    _n_total = sum(occupancy.values())
    if len(occupancy) > _fallback_t and _fanout > 2 * _n_total * _fallback_t:
        import warnings as _warnings

        _warnings.warn(
            "embedding_duplicate_pairs: ball pruning is ineffective on this "
            f"corpus ({len(occupancy)} occupied cells would explode "
            f"{_n_total} members into {_fanout} verify rows — no geometry "
            "to prune; radii ≈ the threshold ball). Falling back to "
            f"{_fallback_t} coarse cells (output is unchanged — exact "
            "verification is blocking-agnostic). For structureless corpora "
            "prefer few cells, or an approximate method (minhash_duplicate_"
            "pairs / simhash) when exact mining is not required.",
            RuntimeWarning,
            stacklevel=2,
        )
        members = members.withColumn(
            "cid", F.pmod(F.col("cid").cast("long"), F.lit(_fallback_t))
        )
        _coarse_occ: dict[int, int] = {}
        for c, cnt in occupancy.items():
            _coarse_occ[c % _fallback_t] = _coarse_occ.get(c % _fallback_t, 0) + cnt
        occupancy = _coarse_occ
        _occ_ids = sorted(occupancy)
        cand_cells = [(a, b) for a in _occ_ids for b in _occ_ids if a <= b]
    return _verify_cell_pairs_grouped(
        members, cand_cells, block_col, threshold,
        occupancy=occupancy, max_cell_occupancy=max_cell_occupancy,
    )


def _expand_candidate_sides(cand_cells, k_of_cid) -> list[tuple]:
    """Expand the undirected candidate cell pairs into per-subcell
    verification groups: rows (cid, sub, pid, side). ``k_of_cid`` maps a
    cell to its occupancy-split factor (1 = no split). A self-pair
    (i, i) with k subcells yields k 's' groups (strict-upper-triangle
    within one subcell) + k·(k−1)/2 'a'/'b' cross groups — together a
    disjoint exact cover of the within-cell pair set; cross-cell pairs
    expand to the k_i × k_j subcell cross product."""
    und = sorted({(min(i, j), max(i, j)) for (i, j) in cand_cells})
    sides: list[tuple] = []
    pid = 0
    for (i, j) in und:
        if i == j:
            for a in range(k_of_cid(i)):
                sides.append((i, a, pid, "s"))
                pid += 1
                for b in range(a + 1, k_of_cid(i)):
                    sides.append((i, a, pid, "a"))
                    sides.append((i, b, pid, "b"))
                    pid += 1
        else:
            for a in range(k_of_cid(i)):
                for b in range(k_of_cid(j)):
                    sides.append((i, a, pid, "a"))
                    sides.append((j, b, pid, "b"))
                    pid += 1
    return sides


def _verify_cell_pairs_grouped(
    members: DataFrame,
    cand_cells,
    block_col: str,
    threshold: float,
    occupancy: dict | None = None,
    max_cell_occupancy: int = 4096,
) -> DataFrame:
    """Verification stage of ``embedding_duplicate_pairs``: compute the
    exact cosines for every member pair inside a candidate cell pair
    WITHOUT materializing pair rows through a shuffle.

    The former row-join shipped one wide row (two 64-double vectors)
    per candidate PAIR through the exchange — O(candidate pairs) of
    shuffle volume, which at sf1 (20k vectors, threshold 0.3: pruning
    can't bite, ~20M label-blocked candidates) measured 111 s with the
    interpreted-HOF dot on top. Here each member is fanned out once per
    candidate cell pair it participates in — O(N · cell-degree) narrow
    rows — and each (cell-pair, block) group computes its cross/self
    dot products vectorized in one Arrow batch (dimension-major
    accumulation, see below). Shuffle volume drops from pairs to
    members×degree (sf1: 20M rows → 320k) and the dot goes from
    per-row interpreted lambdas to numpy; measured 111 s → 2.9 s at sf1
    (and sf0.1 → sf1 now scales 2.4 s → 2.9 s, sub-linear) with
    bit-identical output (oracle hash-green at sf0.001/sf0.01).

    FP parity contract: the per-pair dot accumulates dimension-major
    (acc += A[:,k]·B[:,k], k ascending), which is the SAME
    multiply/add sequence as the old ``aggregate(zip_with(...))``
    column and as the DuckDB oracle's list fold — bit-identical
    doubles, not merely close. The division by the pre-staged norms and
    the round(…, 6)/threshold filter stay Spark-side, so the visible
    pipeline tail is unchanged; the UDF pre-filters only with a 1e-6
    margin below the threshold (rounded-up values can sit at most
    5.0001e-7 under it).

    Group sizes are bounded by 2 × (cell × block) occupancy — at a
    degenerate all-candidate matrix the groups stay small and numerous
    (cells × blocks), so parallelism survives exactly when pruning
    fails. Pair blocks are tiled to ≤4M entries to bound task memory.

    Occupancy guard: when ``occupancy`` says a cell holds more than
    ``max_cell_occupancy`` members, that cell is split into
    ceil(cnt/cap) hash-subcells (xxhash64 of the member id — stable
    across runs) and every candidate pair touching it expands into the
    cross product of subcell pairs: a self-pair (i,i) with k subcells
    becomes k 's' groups (a,a) plus k·(k−1)/2 'a'/'b' groups (a<b),
    each covering a disjoint slice of the within-cell pair set, so the
    union is exactly the original pair set with no duplicates. This
    bounds the largest applyInPandas group by ~cap even when the whole
    corpus collapses into one cell — the case the (cells × blocks)
    argument above says nothing about.
    """
    import numpy as np
    import pandas as pd

    spark = members.sparkSession
    occupancy = occupancy or {}
    nsub = {
        cid: max(1, -(-cnt // max_cell_occupancy))
        for cid, cnt in occupancy.items()
    }

    def _k(cid) -> int:
        return nsub.get(cid, 1)

    sides = _expand_candidate_sides(cand_cells, _k)
    id_field = members.schema["__id"].dataType.simpleString()
    out_schema = (
        f"id_a {id_field}, id_b {id_field}, __dot double, "
        "__na double, __nb double"
    )
    if not sides:
        empty = members.limit(0).select(
            F.col("__id").alias("id_a"),
            F.col("__id").alias("id_b"),
            F.lit(0.0).alias("cosine"),
        )
        return empty
    if all(k == 1 for k in nsub.values()):
        # fast path (the overwhelmingly common case — no cell above the
        # cap): skip the subcell hash/join machinery entirely; measured
        # ~25% of the whole query when it rode along unconditionally
        # (sf0.1 A/B: 1.98 s vs 2.52 s)
        cp1 = local_frame(
            spark, [(c, p, s) for c, _, p, s in sides], "cid bigint, __pid bigint, __side string"
        )
        expl = members.join(F.broadcast(cp1), "cid").select(
            "__pid", "__side", F.col(block_col).alias("__blk"), "__id", "__v", "__n"
        )
    else:
        cp_sides = local_frame(
            spark, sides, "cid bigint, __sub bigint, __pid bigint, __side string"
        )
        nsub_df = local_frame(spark, nsub.items(), "cid bigint, __nsub bigint")
        expl = (
            members.join(F.broadcast(nsub_df), "cid", "left")
            .withColumn(
                "__sub",
                F.pmod(
                    F.xxhash64(F.col("__id")), F.coalesce(F.col("__nsub"), F.lit(1))
                ),
            )
            .join(F.broadcast(cp_sides), ["cid", "__sub"])
            .select(
                "__pid", "__side", F.col(block_col).alias("__blk"), "__id", "__v", "__n"
            )
        )
    margin = threshold - 1e-6
    tile = 4_000_000

    def _dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
        # dimension-major accumulation: bit-identical to the sequential
        # left-to-right fold both SQL engines use for the dot product
        acc = np.zeros((A.shape[0], B.shape[0]))
        for k in range(A.shape[1]):
            acc += np.outer(A[:, k], B[:, k])
        return acc

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        out_a, out_b, out_d, out_na, out_nb = [], [], [], [], []

        def emit(pa, pb, ids_a, ids_b, na, nb, self_pairs):
            A = np.stack(pa)
            B = A if self_pairs else np.stack(pb)
            rows_per_tile = max(1, tile // max(1, B.shape[0]))
            for lo in range(0, A.shape[0], rows_per_tile):
                hi = lo + rows_per_tile
                d = _dots(A[lo:hi], B)
                cos = d / np.outer(na[lo:hi], nb)
                if self_pairs:
                    # strict upper triangle of this tile against B
                    ii, jj = np.nonzero(
                        (cos >= margin)
                        & (np.arange(lo, min(hi, A.shape[0]))[:, None] < np.arange(B.shape[0])[None, :])
                    )
                    jj_ids = ids_b
                else:
                    ii, jj = np.nonzero(cos >= margin)
                    jj_ids = ids_b
                for x, y in zip(ii, jj):
                    ia, ib = ids_a[lo + x], jj_ids[y]
                    if ia == ib:
                        # duplicate-id corpora: the former row-join path
                        # filtered strictly id_a < id_b, so an equal-id
                        # pair (two distinct rows sharing one id) was
                        # never emitted — preserve that contract here
                        continue
                    if ia < ib:
                        out_a.append(ia)
                        out_b.append(ib)
                        out_d.append(d[x, y])
                        out_na.append(na[lo + x])
                        out_nb.append(nb[y])
                    else:
                        out_a.append(ib)
                        out_b.append(ia)
                        out_d.append(d[x, y])
                        out_na.append(nb[y])
                        out_nb.append(na[lo + x])

        if (pdf["__side"] == "s").all():
            ids = pdf["__id"].to_numpy()
            order = np.argsort(ids, kind="stable")
            pdf = pdf.iloc[order]
            ids = pdf["__id"].to_numpy()
            emit(
                pdf["__v"].to_list(), None, ids, ids,
                pdf["__n"].to_numpy(), pdf["__n"].to_numpy(), True,
            )
        else:
            pa = pdf[pdf["__side"] == "a"]
            pb = pdf[pdf["__side"] == "b"]
            if len(pa) and len(pb):
                emit(
                    pa["__v"].to_list(), pb["__v"].to_list(),
                    pa["__id"].to_numpy(), pb["__id"].to_numpy(),
                    pa["__n"].to_numpy(), pb["__n"].to_numpy(), False,
                )
        return pd.DataFrame(
            {"id_a": out_a, "id_b": out_b, "__dot": out_d,
             "__na": out_na, "__nb": out_nb}
        )

    cand = expl.groupBy("__pid", "__blk").applyInPandas(verify, out_schema)
    # the visible tail is IDENTICAL to the former row-join path: divide
    # by the Spark-computed norms, round half-up at 6 dp, filter
    return (
        cand.withColumn(
            "cosine", F.round(F.col("__dot") / (F.col("__na") * F.col("__nb")), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_decontaminate(
    train: DataFrame,
    refset: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    max_ref_rows: int = 200_000,
) -> DataFrame:
    """Semantic decontamination: drop every training vector whose cosine
    to ANY reference-set vector reaches ``threshold`` — the embedding-
    space complement of ``decontaminate`` (which catches verbatim/
    near-verbatim text overlap; this catches paraphrased or re-rendered
    benchmark content that shares no n-grams). Returns the CLEAN train
    rows, original columns, the same contract as ``decontaminate``.

    Scale shape: the refset is an eval/benchmark corpus — small by
    construction (``max_ref_rows`` guards the contract) — so its matrix
    rides the task closure, and the semantic match is ONE narrow
    Arrow-vectorized pass over train: per batch, a BLAS matmul against
    ref CHUNKS (bounded temporaries at any refset size) computes every
    train×ref cosine and keeps the per-row MAX (a broadcast nested-loop
    join with the interpreted per-pair cosine HOF measured 24.8 s at
    20k×800; the r10 dimension-major outer-product fold was itself
    memory-bandwidth-bound at refset ≳ 10³ — 64 add passes over a
    batch×ref temp, 215 s at sf5's 100k×4k — so r11 moved the bulk to
    dgemm). Exactness is preserved: round(·, 6) is monotone, so
    round(max_r cos_r) ≥ t ⟺ ∃r: round(cos_r) ≥ t — exactly the
    per-ref EXISTS test the DuckDB oracle runs. FP parity with the
    SQL sequential fold is kept by a boundary guard, not by forcing
    the fold order everywhere: BLAS reductions differ from the
    sequential fold by < ~1e-13 relative, and the only consumer is
    the HALF_UP 6-dp round, whose verdict can flip only within that
    distance of a 0.5e-6 midpoint — any row whose BLAS max lands
    within 1e-9 of a rounding boundary is recomputed with the exact
    dimension-major fold (bit-identical to the oracle arithmetic), so
    decisions match the SQL replay on every row while the hot path
    stays dgemm. Zero-norm train rows score −2 (no cosine definable →
    never contaminated → kept); zero-norm refset rows are dropped up
    front; an empty refset keeps everything."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from orientdb_spark.pipeline.common import vec_norm

    if max_ref_rows < 1:
        raise ValueError(f"need max_ref_rows >= 1, got {max_ref_rows}")
    ref_rows = (
        refset.select(F.col(vec_col).cast("array<double>").alias("__rv"))
        .withColumn("__rn", vec_norm(F.col("__rv")))
        .filter(F.col("__rn") > 0)
        .limit(max_ref_rows + 1)
        .collect()
    )
    if len(ref_rows) > max_ref_rows:
        raise ValueError(
            f"refset exceeds max_ref_rows={max_ref_rows}; a refset this "
            "large should be ANN-blocked (build an IvfIndex over it and "
            "probe) rather than densely matched"
        )
    R = np.asarray([r["__rv"] for r in ref_rows], dtype=np.float64)
    d = R.shape[1] if R.size else 0
    Rn = np.zeros(R.shape[0])
    for dd in range(d):  # dimension-major: SQL-fold-identical
        Rn += R[:, dd] * R[:, dd]
    Rn = np.sqrt(Rn)
    REF_CHUNK = 4096  # bounds the dgemm temp to batch×4096 at any refset size

    def _exact_max_cos(v: "np.ndarray") -> float:
        # the oracle's sequential fold, bit-identical: dimension-major
        # dot/norm accumulation, per-element divide, exact max
        vn = 0.0
        for dd in range(d):
            vn += v[dd] * v[dd]
        vn = np.sqrt(vn)
        if vn <= 0:
            return -2.0
        dots = np.zeros(R.shape[0])
        for dd in range(d):
            dots += v[dd] * R[:, dd]
        return float((dots / (vn * Rn)).max())

    @pandas_udf("double")
    def max_ref_cos(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        out = np.full(n, -2.0)
        if n == 0 or R.size == 0:
            return pd.Series(out)
        # rows must conform to the refset dimensionality to have a
        # cosine at all — NULL embeddings, empty arrays, and
        # dimension-mismatched vectors score -2 (kept), the same
        # "no cosine definable" treatment as zero-norm rows, and they
        # must not poison np.asarray into a ragged array
        rows = [np.asarray(v, dtype=np.float64) if v is not None else None
                for v in vecs]
        idx = [i for i, v in enumerate(rows) if v is not None and v.shape == (d,)]
        if not idx:
            return pd.Series(out)
        M = np.stack([rows[i] for i in idx])
        Mn = np.sqrt((M * M).sum(axis=1))
        ok = Mn > 0
        if ok.any():
            Mo = M[ok]
            best = np.full(Mo.shape[0], -np.inf)
            for s in range(0, R.shape[0], REF_CHUNK):
                c = (Mo @ R[s:s + REF_CHUNK].T) / np.outer(
                    Mn[ok], Rn[s:s + REF_CHUNK]
                )
                np.maximum(best, c.max(axis=1), out=best)
            # FP-parity boundary guard: BLAS reductions sit within
            # ~1e-13 of the sequential fold, so the HALF_UP 6-dp
            # verdict can only flip within that distance of a 0.5e-6
            # midpoint — recompute those rows with the exact fold
            y = best * 1e6
            suspect = np.flatnonzero(
                np.abs(y - (np.floor(y) + 0.5)) < 1e-3  # 1e-9 in cos units
            )
            if suspect.size:
                m_rows = np.flatnonzero(ok)[suspect]
                for bi, mi in zip(suspect, m_rows):
                    best[bi] = _exact_max_cos(M[mi])
            out[np.asarray(idx)[ok]] = best
        return pd.Series(out)

    scored = train.withColumn(
        "__mc", max_ref_cos(F.col(vec_col).cast("array<double>"))
    )
    # the round + compare stays Spark-side (HALF_UP, the engine's own
    # convention); keep = NOT (rounded max >= threshold)
    return scored.filter(
        ~(F.round(F.col("__mc"), 6) >= F.lit(threshold))
    ).drop("__mc")


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_cells: int = 16,
    max_cell_occupancy: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication", arXiv:2303.09540):
    cluster the embedding space, then WITHIN each cluster drop every
    vector that has a ≥ ``threshold`` cosine neighbor with a smaller id
    — the survivors are one representative per within-cluster duplicate
    neighborhood. Unlike ``embedding_duplicate_pairs`` (EXACT — ball
    pruning finds every qualifying pair corpus-wide), SemDeDup is the
    published APPROXIMATE contract: only within-cluster pairs are
    examined, which is the algorithm's scale trick — cluster sizes, not
    N, bound the quadratic term, so the verify cost is Σ|cluster|²
    regardless of corpus structure.

    Returns (id_col, cid, is_kept): the cluster id (-1 for zero-norm
    vectors, which have no cosine and are always kept) and the keep
    flag. Fully deterministic and DuckDB-replayable: h60-seeded centers
    (``seed_centers`` — no RNG), argmax-cosine assignment with the
    lower-cid tie rule and the +1e-12/6-dp round (``_assign_udf``,
    dimension-major folds), exact within-cell cosines from the grouped
    Arrow verifier, and the keep-lowest-id survivor rule.

    Scale: one narrow assignment pass (centers ride the task closure,
    no shuffle), then the grouped verify reused from
    ``embedding_duplicate_pairs`` restricted to self-cell candidate
    pairs — each member fans out to its OWN cell group only (O(N) rows
    through the exchange), oversized cells hash-split by
    ``max_cell_occupancy`` so one hot cluster cannot serialize into a
    single task — and one distinct + one left join on the dropped-id
    set. No corpus self-join at any point."""
    from orientdb_spark.pipeline.common import vec_norm
    from orientdb_spark.pipeline.similarity import _assign_udf, seed_centers

    g = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", vec_norm(F.col("__v")))
    zero = g.filter(F.col("__n") <= 0).select(
        "__id",
        F.lit(-1).cast("long").alias("cid"),
        F.lit(True).alias("is_kept"),
    )
    nz = g.filter(F.col("__n") > 0)
    # assignment on the RAW vectors (cosine is scale-invariant, and the
    # raw-space fold is what the ivfpq replay oracle already derives)
    centers = seed_centers(nz.select("__id", "__v"), n_cells)
    if not centers:
        # empty or all-zero-norm corpus: nothing to cluster — the
        # zero-norm branch (cid -1, kept) IS the whole answer
        return zero.select(F.col("__id").alias(id_col), "cid", "is_kept")
    members = (
        nz.withColumn("cid", _assign_udf(centers)(F.col("__v")))
        .withColumn("__blk0", F.lit(0))
        .persist()
    )
    occupancy = {
        r["cid"]: r["cnt"]
        for r in members.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    pairs = _verify_cell_pairs_grouped(
        members,
        [(c, c) for c in occupancy],
        "__blk0",
        threshold,
        occupancy=occupancy,
        max_cell_occupancy=max_cell_occupancy,
    )
    dropped = (
        pairs.select(F.col("id_b").alias("__id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    flags = members.join(dropped, "__id", "left").select(
        "__id",
        F.col("cid").cast("long").alias("cid"),
        F.col("__dropped").isNull().alias("is_kept"),
    )
    return flags.unionByName(zero).select(
        F.col("__id").alias(id_col), "cid", "is_kept"
    )


def derive_semantic_lsh_planes(n_corpus: int) -> int:
    """Hyperplane count for ``semantic_dedup_lsh``: the smallest p in
    [4, 20] with n ≤ 32·2^p — the integer-exact equivalent of
    clamp(ceil(log2(n/32)), 4, 20), targeting ~32 members per sign
    bucket so the within-bucket verify stays O(N·occupancy).
    Deliberately FP-log-free: an exact power-of-two corpus size must
    not let a cross-engine log2 ulp pick different plane counts, so the
    SQL oracle derives the identical value from the same integer
    comparison."""
    if n_corpus < 1:
        raise ValueError(f"need n_corpus >= 1, got {n_corpus}")
    for p in range(4, 21):
        if n_corpus <= 32 * (1 << p):
            return p
    return 20


def semantic_dedup_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    planes: int | None = None,
    dim: int | None = None,
    max_cell_occupancy: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) with a sign-random-projection
    coarse clusterer — the CELLS-SCALE-WITH-N variant of
    ``semantic_dedup``. The seeded-argmax clusterer costs O(N·K·d) to
    assign and O(N²/K) to verify, so no K keeps both linear as N grows;
    replacing it with an LSH bucket id (``lsh_bucket_col`` — the
    sim_topk_lsh machinery, md5 hyperplanes, table 0) makes assignment
    O(N·planes·d) with ZERO driver state and ``derive_semantic_lsh_
    planes`` grows 2^planes ∝ N so expected occupancy stays ~32 —
    verify volume is O(N·occupancy) at every scale. This is the shape
    a 100 TB corpus needs: both stages one narrow pass + one bounded
    grouped verify, nothing driver-side but the occupancy counts.

    Same output contract as ``semantic_dedup``: (id_col, cid, is_kept)
    where cid is the bucket (−1 for zero-norm vectors, always kept —
    no cosine is definable) and a vector is dropped iff a smaller-id
    member of ITS OWN bucket has round(cosine, 6) ≥ ``threshold``.
    Fully deterministic and DuckDB-replayable end to end: md5
    hyperplanes, sequential-fold dots, sign-bit buckets, exact
    within-bucket cosines (grouped Arrow verifier, dimension-major
    fold), keep-lowest-id survivors — and the plane-count derivation
    itself is integer arithmetic the oracle re-derives from COUNT(*).
    Trade-off vs ``semantic_dedup``: buckets are sign regions, not
    Voronoi cells, so near-duplicates split by a hyperplane are missed
    — the published SemDeDup approximation, traded one step further
    toward scale; recall on planted twins is gated in
    tests/test_dedup_scale.py."""
    from orientdb_spark.pipeline.common import vec_norm
    from orientdb_spark.pipeline.similarity import lsh_bucket_col

    g = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", vec_norm(F.col("__v")))
    zero = g.filter(F.col("__n") <= 0).select(
        "__id",
        F.lit(-1).cast("long").alias("cid"),
        F.lit(True).alias("is_kept"),
    )
    nz = g.filter(F.col("__n") > 0)
    if planes is None:
        n = nz.count()
        if n == 0:
            return zero.select(F.col("__id").alias(id_col), "cid", "is_kept")
        planes = derive_semantic_lsh_planes(n)
    if dim is None:
        # derive from the data and REQUIRE uniformity: a dim larger than
        # the vectors nulls every plane dot (zip_with pads with NULL) and
        # silently collapses all vectors into one bucket — the exact
        # quadratic regime this variant exists to avoid — so a wrong or
        # mixed dimensionality must be loud, not a single O(N²) cell
        sizes = [
            r[0] for r in nz.select(F.size("__v")).distinct().limit(2).collect()
        ]
        if not sizes:  # explicit planes + empty corpus
            return zero.select(F.col("__id").alias(id_col), "cid", "is_kept")
        if len(sizes) > 1:
            raise ValueError(
                f"semantic_dedup_lsh: mixed embedding dimensions {sorted(sizes)}"
            )
        dim = sizes[0]
    members = (
        nz.withColumn("cid", lsh_bucket_col(F.col("__v"), dim, planes))
        .withColumn("__blk0", F.lit(0))
        .persist()
    )
    # bounded driver pull: one row per OCCUPIED bucket (≤ min(2^planes, N),
    # and 2^planes targets ~N/32 buckets)
    occupancy = {
        r["cid"]: r["cnt"]
        for r in members.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    pairs = _verify_cell_pairs_grouped(
        members,
        [(c, c) for c in occupancy],
        "__blk0",
        threshold,
        occupancy=occupancy,
        max_cell_occupancy=max_cell_occupancy,
    )
    dropped = (
        pairs.select(F.col("id_b").alias("__id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    flags = members.join(dropped, "__id", "left").select(
        "__id",
        F.col("cid").cast("long").alias("cid"),
        F.col("__dropped").isNull().alias("is_kept"),
    )
    return flags.unionByName(zero).select(
        F.col("__id").alias(id_col), "cid", "is_kept"
    )


def decontaminate(
    train: DataFrame,
    refset: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "winnow",
    min_shared: int = 2,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Benchmark decontamination: drop training documents whose content
    overlaps a reference set (eval/benchmark corpus) — the step every
    training-data pipeline runs before a model sees the corpus.

    ``method="exact"``: a train doc is contaminated when its normalized-
    text md5 appears in the reference set (whole-document containment).
    ``method="winnow"`` (default): contamination = sharing at least
    ``min_shared`` winnowing fingerprints (pipeline/text.winnow_
    fingerprints) — catches PARTIAL containment (an eval question pasted
    inside a long web page), which whole-doc hashing cannot; the
    winnowing guarantee bounds the blind spot to shared substrings
    shorter than window + k − 1 normalized chars.

    Returns the clean subset of ``train`` (original columns).

    Scale: both methods are fingerprint-equality joins — the reference
    set is typically tiny (benchmarks, ~10⁵ docs) so its fingerprint
    table broadcasts; the train side is one scan + one narrow anti-join.
    Never a pairwise similarity pass over train × ref.
    """
    from orientdb_spark.pipeline.text import winnow_fingerprints

    if method == "exact":
        ref_fp = refset.select(
            F.md5(normalize_text(F.col(text_col))).alias("__fp")
        ).dropDuplicates()
        keyed = train.withColumn("__fp", F.md5(normalize_text(F.col(text_col))))
        return keyed.join(ref_fp, "__fp", "left_anti").drop("__fp")
    if method != "winnow":
        raise ValueError(f"unknown decontamination method: {method!r}")

    tr_fp = winnow_fingerprints(train, text_col, id_col, k=k, window=window)
    ref_fp = (
        winnow_fingerprints(refset, text_col, id_col, k=k, window=window)
        .select("fingerprint")
        .dropDuplicates()
    )
    contaminated = (
        tr_fp.join(ref_fp, "fingerprint")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__n_shared"))
        .filter(F.col("__n_shared") >= min_shared)
        .select(id_col)
    )
    return train.join(contaminated, id_col, "left_anti")


def decontamination_report(
    train: DataFrame,
    refset: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 2,
    k: int = 5,
    window: int = 4,
    broadcast_refset_max: int | None = 100_000,
    refset_count_hint: int | None = None,
) -> DataFrame:
    """The audit companion to ``decontaminate``: instead of silently
    dropping contaminated training docs, report the leak evidence per
    EVAL document — which benchmark items the corpus has absorbed, how
    badly, and the single worst offender to eyeball. A training-data
    release needs this table (per-benchmark contamination disclosure),
    and a drop-only operator can't produce it.

    Output, one row per contaminated reference doc (clean ref docs are
    absent — the caller knows the full refset): ``(ref_id,
    n_contaminated, max_shared, top_train_id)`` where n_contaminated
    counts training docs sharing ≥ ``min_shared`` winnowing fingerprints
    with THAT ref doc, max_shared is the largest shared-fingerprint
    count, and top_train_id is the worst offender (most shared
    fingerprints, smallest id on ties — deterministic).

    Scale: the same two-fingerprint-scan shape as ``decontaminate`` —
    when the refset is benchmark-sized (≤ ``broadcast_refset_max``
    docs) its fingerprint table BROADCASTS and the train side is one
    scan; a corpus-sized refset (an audit of one corpus against
    another) falls back to a shuffle hash join so AQE's skew handling
    applies instead of forcing a multi-GB broadcast build (measured:
    a forced broadcast of a 250k-doc refset's ~40M fingerprints stalls
    the join for tens of minutes). The (ref, train) pair table the
    groupBys aggregate holds only pairs that actually share a
    fingerprint, never |train| × |ref|. Same winnowing guarantee:
    shared substrings of ≥ window + k − 1 normalized chars cannot be
    missed.

    NOTE — the broadcast gate runs ONE ``refset.count()`` Spark job at
    plan-construction time (this function is not fully lazy by
    default). Two ways to skip it: pass ``refset_count_hint`` (a count
    the caller already holds — the gate trusts it verbatim, one fewer
    corpus job per audit call), or ``broadcast_refset_max=None`` (never
    count, never broadcast — the shuffle-join path unconditionally;
    right when the refset is another corpus, or when docs are long
    enough that even ≤100k docs carry a multi-GB fingerprint table —
    the doc count is a proxy, fingerprints scale with doc LENGTH)."""
    from orientdb_spark.pipeline.text import winnow_fingerprints

    tr_fp = winnow_fingerprints(train, text_col, id_col, k=k, window=window)
    ref_fp = winnow_fingerprints(refset, text_col, id_col, k=k, window=window).select(
        F.col(id_col).alias("__ref_id"), "fingerprint"
    )
    if broadcast_refset_max is not None:
        n_ref = refset_count_hint if refset_count_hint is not None else refset.count()
        if n_ref <= broadcast_refset_max:
            ref_fp = F.broadcast(ref_fp)
    pair_counts = (
        tr_fp.join(ref_fp, "fingerprint")
        .groupBy("__ref_id", id_col)
        .agg(F.count(F.lit(1)).alias("__shared"))
        .filter(F.col("__shared") >= min_shared)
    )
    # worst offender = max (shared, -train_id): one struct-max aggregate,
    # no per-ref window
    return (
        pair_counts.groupBy("__ref_id")
        .agg(
            F.count(F.lit(1)).alias("n_contaminated"),
            F.max("__shared").alias("max_shared"),
            (-F.max(F.struct(F.col("__shared"), (-F.col(id_col)).alias("__nid")))[
                "__nid"
            ]).alias("top_train_id"),
        )
        .select(
            F.col("__ref_id").alias("ref_id"),
            F.col("n_contaminated").cast("long"),
            F.col("max_shared").cast("long"),
            F.col("top_train_id").cast("long"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_df: int = 2,
    fingerprint: bool = False,
) -> DataFrame:
    """Exact duplicated-substring span mining — the distributed analog of
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every word n-gram that
    occurs in >= ``min_df`` DISTINCT documents marks its token positions
    duplicated, and maximal runs of *overlapping* duplicated n-grams
    merge into spans. Returns ``(id_col, span_start, span_end,
    n_dup_tokens)`` with 1-based inclusive token positions — the rows a
    span-removal pass would cut (vs whole-doc dedup, which loses the
    unique remainder of partially-duplicated documents).

    Scale design: exactly two exchanges. Doc-frequency is computed with
    a dense_rank/max window pair over the gram partition (one exchange —
    no groupBy + join-back, which would shuffle the gram stream twice),
    and the island merge is one window over the doc partition. With
    ``fingerprint=True`` the gram shuffle key is the xxhash64 of the
    gram instead of the raw string — at 100 TB this cuts shuffle bytes
    ~5-10x for long grams; collisions (2^-64) can only over-mark a
    position, never crash. Default keeps the raw string: the EXACT
    contract the DuckDB oracle checks bit-for-bit.
    """
    from pyspark.sql import Window

    from orientdb_spark.pipeline.common import ws_tokens

    if n <= 0 or min_df < 1:
        raise ValueError(f"need n > 0 and min_df >= 1, got {n}, {min_df}")
    toks = ws_tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__t")).filter(F.size("__t") >= n)
    # grams built in-row, then a narrow (pos, gram) explode — the token
    # array itself never rides the exploded stream
    gram_arr = F.transform(
        F.sequence(F.lit(1), F.size("__t") - n + 1),
        lambda i: F.array_join(F.slice("__t", i, n), " "),
    )
    grams = base.select(id_col, F.posexplode(gram_arr).alias("__i", "__gs")).select(
        id_col,
        (F.col("__i") + 1).alias("pos"),
        (F.xxhash64("__gs") if fingerprint else F.col("__gs")).alias("__g"),
    )
    wg = Window.partitionBy("__g")
    dup = (
        grams.withColumn("__dr", F.dense_rank().over(wg.orderBy(id_col)))
        .withColumn("__df", F.max("__dr").over(wg))
        .filter(F.col("__df") >= min_df)
    )
    wd = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(wd) <= n - 1, 0).otherwise(1)
    spans = (
        dup.select(id_col, "pos")
        .withColumn("__brk", brk)
        .withColumn("__span", F.sum("__brk").over(wd))
        .groupBy(id_col, "__span")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + n - 1).cast("int").alias("span_end"),
        )
        .withColumn(
            "n_dup_tokens", (F.col("span_end") - F.col("span_start") + 1).cast("int")
        )
        .drop("__span")
    )
    return spans


def edit_distance_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 1,
) -> DataFrame:
    """All pairs within Levenshtein distance <= ``max_dist``, via
    partition-based signature blocking (the PassJoin scheme —
    Li/Deng/Feng, PVLDB 2011, public algorithm): every string splits
    into k+1 even segments; if ``ed(r, s) <= k``, pigeonhole says some
    segment of s survives untouched, and the alignment bound says it
    occurs verbatim in r shifted by at most k — so candidates come from
    ONE equi-join on ``(segment_index, indexed_length, substring)``,
    never an all-pairs product. Probe fan-out is a constant
    ``(k+1)(2k+1)^2`` rows per string (segment x candidate-length x
    shift); we use the full [-k, k] shift window — the paper's
    multi-match-aware window is a strict subset (a pruning
    optimization, not a correctness requirement). The exact residual is
    the JVM-codegen ``levenshtein()`` over candidate pairs only.

    Strings shorter than k+1 chars cannot donate a non-empty segment,
    so the (tiny, alphabet-bounded) short set is pairwise-checked among
    itself; short-vs-long pairs still flow through the main join — the
    long side is indexed, the short side probes.

    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b``, each pair
    once. Degenerate corpora where many strings share a full segment
    (e.g. a constant prefix longer than ``len/(k+1)``) inflate the
    candidate set — that is inherent to exact signature schemes; strip
    the shared prefix first if the data has one.
    """
    k = int(max_dist)
    if k < 1:
        raise ValueError(f"max_dist must be >= 1, got {max_dist}")
    m = k + 1
    base_df = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__s"),
        F.length(text_col).alias("__l"),
    )
    long_side = base_df.filter(F.col("__l") >= m)
    short_side = base_df.filter(F.col("__l") < m)

    def seg_geom(l, i):
        # even partition: first (m - l%m) segments get floor(l/m) chars,
        # the rest one more; returns (0-based start, length) Columns
        b, rem = F.floor(l / m), l % m
        start = i * b + F.greatest(F.lit(0), i - (F.lit(m) - rem))
        seglen = b + F.when(i >= F.lit(m) - rem, 1).otherwise(0)
        return start, seglen

    i_col = F.col("__i")
    idx = long_side.select(
        "__id", "__s", "__l",
        F.explode(F.sequence(F.lit(0), F.lit(k))).alias("__i"),
    )
    s0, n0 = seg_geom(F.col("__l"), i_col)
    idx = idx.select(
        F.col("__id").alias("__id_s"),
        F.col("__s").alias("__s_s"),
        "__i",
        F.col("__l").alias("__ls"),
        F.col("__s").substr(s0 + 1, n0).alias("__seg"),
    )

    pr = (
        base_df.select(
            "__id", "__s", "__l",
            F.explode(
                F.sequence(F.col("__l") - k, F.col("__l") + k)
            ).alias("__cl"),
        )
        .filter(F.col("__cl") >= m)
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(k))).alias("__i"))
        .select("*", F.explode(F.sequence(F.lit(-k), F.lit(k))).alias("__d"))
    )
    cs, cn = seg_geom(F.col("__cl"), i_col)
    cs = cs + F.col("__d")
    pr = pr.filter((cs >= 0) & (cs + cn <= F.col("__l"))).select(
        F.col("__id").alias("__id_r"),
        F.col("__s").alias("__s_r"),
        "__i",
        F.col("__cl").alias("__ls"),
        F.col("__s").substr(cs + 1, cn).alias("__seg"),
    )

    lt = F.col("__id_r") < F.col("__id_s")
    cand = (
        pr.join(idx, ["__i", "__ls", "__seg"])
        .filter(F.col("__id_r") != F.col("__id_s"))
        .select(
            F.when(lt, F.col("__id_r")).otherwise(F.col("__id_s")).alias("id_a"),
            F.when(lt, F.col("__id_s")).otherwise(F.col("__id_r")).alias("id_b"),
            F.when(lt, F.col("__s_r")).otherwise(F.col("__s_s")).alias("__sa"),
            F.when(lt, F.col("__s_s")).otherwise(F.col("__s_r")).alias("__sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    main = (
        cand.withColumn("dist", F.levenshtein("__sa", "__sb"))
        .filter(F.col("dist") <= k)
        .select("id_a", "id_b", "dist")
    )
    a, b = short_side.alias("a"), short_side.alias("b")
    shorts = (
        a.join(b, F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.levenshtein(F.col("a.__s"), F.col("b.__s")).alias("dist"),
        )
        .filter(F.col("dist") <= k)
    )
    return main.unionAll(shorts)


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs whose SimHash fingerprints differ in at most
    ``max_hamming`` bits — the banded upgrade of
    ``simhash_duplicate_pairs`` (zero-distance only), using the
    pigeonhole block scheme of the web-dedup literature (Manku et al.,
    WWW 2007, public): split the b-bit fingerprint into k+1 even
    blocks; two fingerprints within Hamming distance k must agree
    EXACTLY on at least one block, so candidates come from one
    equi-join on ``(block_index, block_bits)`` — never an all-pairs
    product — and the exact residual is one ``bit_count(xor)`` per
    candidate. Same signature-blocking idea as PassJoin, applied to
    bits instead of characters.

    Block selectivity is ``2^(bits/(k+1))``; size ``bits`` so that
    blocks stay selective for the corpus (64-bit fingerprints with
    k=3 give 16-bit blocks — the WWW'07 production shape).

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.
    """
    return hamming_pairs(
        simhash(df, text_col, id_col, bits), id_col, "simhash", bits, max_hamming
    )


def hamming_pairs(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    max_hamming: int,
) -> DataFrame:
    """General Hamming-distance pair join over ANY (id, b-bit hash)
    frame — the pigeonhole block scheme factored out of
    simhash_hamming_pairs so other fingerprints (perceptual image
    hashes, sign projections packed to bits) reuse it. See
    simhash_hamming_pairs for the algorithm and selectivity notes.
    Returns (id_a, id_b, hamming) with id_a < id_b."""
    k = int(max_hamming)
    if k < 1:
        raise ValueError(f"max_hamming must be >= 1, got {max_hamming}")
    m = k + 1
    if bits < m:
        raise ValueError(f"bits {bits} < blocks {m}")
    s = hashed.select(F.col(id_col), F.col(hash_col).alias("simhash"))
    base, rem = bits // m, bits % m
    # static unrolled block extraction (not a HOF — interpreted per row)
    blocks = []
    for i in range(m):
        start = i * base + max(0, i - (m - rem))
        blen = base + (1 if i >= m - rem else 0)
        blocks.append(
            F.struct(
                F.lit(i).alias("i"),
                F.pmod(
                    F.shiftright(F.col("simhash"), start), F.lit(1 << blen)
                ).alias("v"),
            )
        )
    ex = s.select(
        F.col(id_col).alias("__id"),
        "simhash",
        F.explode(F.array(*blocks)).alias("__b"),
    ).select("__id", "simhash", F.col("__b.i").alias("__bi"), F.col("__b.v").alias("__bv"))
    a = ex.select(
        F.col("__id").alias("id_a"), F.col("simhash").alias("__sa"), "__bi", "__bv"
    )
    b = ex.select(
        F.col("__id").alias("id_b"), F.col("simhash").alias("__sb"), "__bi", "__bv"
    )
    cand = (
        a.join(b, ["__bi", "__bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).cast("int"),
        )
        .filter(F.col("hamming") <= k)
        .select("id_a", "id_b", "hamming")
    )


CLUSTER_SIZE_BOUNDS = [1, 2, 3, 5, 9, 17, 33, 65, 129, 1025]


def cluster_size_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalized: bool = False,
) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup-impact table
    every corpus paper reports ("N% of documents sit in exact-dup
    clusters of size >= k"; Lee et al. 2021's dedup ablations start
    here): group byte-identical (or, with ``normalized=True``,
    case/punct/whitespace-folded) documents, then log-bin the CLUSTER
    sizes — per bucket, ``(bucket_lo, bucket_hi, n_clusters, n_docs,
    n_removable, frac_of_corpus)`` where n_removable = n_docs −
    n_clusters (what a keep-one-per-cluster pass deletes) and
    frac_of_corpus = n_docs / corpus (6-dp nudge, the only division).
    Size-1 "clusters" (unique docs) land in the first bucket, so the
    buckets partition the corpus and frac_of_corpus sums to 1 — the
    report shows what dedup TOUCHES, not just what it finds.

    Bucket bounds are the literal ascending list ``[1, 2, 3, 5, 9,
    17, 33, 65, 129, 1025)``-style half-open ranges (size lands in
    the first bucket whose upper bound exceeds it; >= the last bound
    lands in the overflow bucket) — integer compares only, replays
    exactly in SQL.

    Scale shape: one hash-groupBy to cluster sizes (map-side
    combinable — the dedup_exact shape), then ONE groupBy of the
    CLUSTER-sized frame to <= len(bounds) rows + a 1-row broadcast
    corpus total. Never materializes pairs or cluster membership."""
    key = (
        F.md5(normalize_text(F.col(text_col)))
        if normalized
        else F.md5(F.col(text_col))
    )
    sizes = df.groupBy(key.alias("__h")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    bounds = CLUSTER_SIZE_BOUNDS
    bucket = F.lit(len(bounds) - 1)
    lo = F.lit(bounds[-1]).cast("long")
    hi = F.lit(None).cast("long")
    for i in range(len(bounds) - 2, -1, -1):
        in_b = F.col("__n") < bounds[i + 1]
        bucket = F.when(in_b, F.lit(i)).otherwise(bucket)
        lo = F.when(in_b, F.lit(bounds[i]).cast("long")).otherwise(lo)
        hi = F.when(in_b, F.lit(bounds[i + 1] - 1).cast("long")).otherwise(hi)
    binned = sizes.select(
        bucket.alias("bucket_id"), lo.alias("bucket_lo"), hi.alias("bucket_hi"),
        F.col("__n"),
    )
    tot = df.agg(F.count(F.lit(1)).cast("double").alias("__corpus"))
    agg = binned.groupBy("bucket_id", "bucket_lo", "bucket_hi").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("__n").cast("long").alias("n_docs"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("bucket_id").cast("int").alias("bucket_id"),
        "bucket_lo",
        "bucket_hi",
        "n_clusters",
        "n_docs",
        (F.col("n_docs") - F.col("n_clusters")).alias("n_removable"),
        F.round(
            F.col("n_docs").cast("double") / F.greatest(F.col("__corpus"), F.lit(1.0))
            + F.lit(1e-12),
            6,
        ).alias("frac_of_corpus"),
    )
