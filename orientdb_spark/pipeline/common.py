"""Shared primitives for the pipeline operators.

The 60-bit hash is the cross-engine determinism trick: both Spark and
DuckDB can compute ``first 15 hex chars of md5 → integer``, so every
hash-derived operator (minhash, simhash, LSH bands) is exactly
reproducible in the duckdb oracle:

    Spark : conv(substring(md5(s), 1, 15), 16, 10)::long
    DuckDB: ('0x' || substring(md5(s), 1, 15))::UBIGINT::BIGINT

15 hex chars = 60 bits < 2^63, so the value is identical signed/unsigned.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

WS_RE = r"\s+"


def h60(col: Column) -> Column:
    """Deterministic 60-bit hash of a string column (the md5 form above):
    a uniform non-negative long < 2^60 that the DuckDB oracle derives
    identically."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# Universal-hash family for MinHash: sig_i(x) = (A[i]*x + B[i]) mod P over
# x = h60(token) mod P. One md5 per token total — the per-function hashes
# are pure 64-bit arithmetic (products stay < 2^62: no overflow in Spark,
# no BIGINT error in the DuckDB oracle). Constants from a fixed seed so
# both engines share them.
MINHASH_P = 2_147_483_647  # 2^31 - 1

def _minhash_params(n: int = 64, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P)) for _ in range(n)]


MINHASH_PARAMS = _minhash_params()


def ws_tokens(col: Column) -> Column:
    """Whitespace tokens, empties dropped."""
    toks = F.split(col, WS_RE)
    return F.filter(toks, lambda t: F.length(t) > 0)


def token_set(col: Column) -> Column:
    """Distinct whitespace tokens (order-normalized via sort for
    deterministic downstream hashing)."""
    return F.array_sort(F.array_distinct(ws_tokens(col)))


def word_ngrams(col: Column, n: int) -> Column:
    """Distinct word n-grams of a string column (space-joined); empty when
    the document has fewer than n tokens."""
    toks = ws_tokens(col)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return F.when(
        F.size(toks) >= n, F.array_sort(F.array_distinct(grams))
    ).otherwise(F.array().cast("array<string>"))


def normalize_text(col: Column) -> Column:
    """Dedup normalization: lowercase, strip non-alphanumerics to spaces,
    collapse whitespace, trim."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def dot_product(a: Column, b: Column) -> Column:
    """Sequential-accumulation dot product (matches the oracle's
    list_dot_product evaluation order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def vec_norm(a: Column) -> Column:
    """sqrt(a·a) — precompute this per vector before a pairwise join: it
    cuts 2/3 of the per-pair work (each pair then costs one dot product
    instead of three)."""
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None) -> Column:
    """Cosine similarity of two array<numeric> columns as a pure Column
    expression (sequential double accumulation — bit-identical to the
    oracle's formula over DOUBLE[]). Pass precomputed ``norm_a``/``norm_b``
    on pairwise joins."""
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    na = vec_norm(a) if norm_a is None else norm_a
    nb = vec_norm(b) if norm_b is None else norm_b
    return dot_product(a, b) / (na * nb)


def per_query_topk_rank(scored, k: int, order_cols):
    """Per-query top-k rank over a scored candidate frame (columns must
    include ``query_id``): one window + a row_number ≤ k filter.

    Scale shape — why a single window is already the scale-safe form:
    keeping the rank filter DIRECTLY above the window lets Catalyst's
    InferWindowGroupLimit rule (Spark 3.5+) plant a
    ``WindowGroupLimit(Partial)`` on the MAP side of the exchange, so
    every task pre-prunes to ≤ k rows per query before shuffling — the
    per-query exchange receives ≤ Q·P·k rows and the reduce-side sort
    handles ≤ P·k rows per query; no task ever sorts a whole corpus.
    The r9 A/B (BENCH.md) measured an explicit salted two-phase rank
    (partial window over (query_id, hash-bucket) then a merge window)
    at +19% wall-clock at sf1/Q=64 — the extra exchange+sort bought
    nothing Catalyst wasn't already doing. tests/test_plan_shape.py
    pins the Partial-before-Exchange shape so a refactor that breaks
    the inference (e.g. a projection between the filter and the
    window) fails loudly. ``order_cols`` must be a total order
    (callers tiebreak on neighbor_id) so results are deterministic.
    Returns the frame with a ``rank`` column filtered to rank ≤ k;
    callers do their own final select."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(*order_cols)
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
