"""Text-analysis pipeline unit tests (beyond the oracle mirror in
test_entry.py): properties the SQL digest can't express directly."""

import pytest
from pyspark.sql import functions as F

from orientdb_spark.pipeline import text


@pytest.fixture(scope="module")
def docs(spark):
    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, f"INTRO A. {shared} OUTRO ALPHA."),
        (2, f"prefix b; {shared} :: suffix beta"),
        (3, "completely different content about spark partitions and shuffles"),
        (4, "tiny"),  # < k after normalization → no fingerprints
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_winnow_shared_substring_shares_fingerprint(docs):
    """The winnowing guarantee: docs sharing a substring of length
    >= window + k - 1 share at least one fingerprint; unrelated docs
    join on nothing."""
    fps = text.winnow_fingerprints(docs, k=5, window=4)
    a = fps.withColumnRenamed("doc_id", "id_a")
    b = fps.withColumnRenamed("doc_id", "id_b")
    shared = {
        (r["id_a"], r["id_b"]): r["n"]
        for r in a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # long shared run → many shared fingerprints; unrelated docs may
    # still collide on a stray common 5-gram (" and " here — correct
    # winnowing behavior), but far fewer of them
    assert shared[(1, 2)] >= 5
    assert shared[(1, 2)] > 2 * shared.get((1, 3), 0)
    assert shared[(1, 2)] > 2 * shared.get((2, 3), 0)


def test_winnow_density_and_short_docs(docs):
    fps = text.winnow_fingerprints(docs, k=5, window=4)
    counts = {r["doc_id"]: r["n"] for r in fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    # doc 4 normalizes to 4 chars < k → dropped entirely
    assert 4 not in counts
    # density: far fewer fingerprints than k-gram positions (~2/(w+1)),
    # but never zero for docs with >= 1 k-gram
    for d in (1, 2, 3):
        n_chars = len("x")  # placeholder; just assert bounds
        assert counts[d] >= 1
    # determinism
    again = {r["doc_id"]: r["n"] for r in text.winnow_fingerprints(docs, k=5, window=4).groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == again


def test_winnow_invariant_to_case_and_punct(spark):
    base = [(1, "Hello, World! This is Fine."), (2, "hello world this is fine")]
    df = spark.createDataFrame(base, "doc_id bigint, text string")
    fps = text.winnow_fingerprints(df)
    sets = {
        r["doc_id"]: r["s"]
        for r in fps.groupBy("doc_id").agg(F.sort_array(F.collect_list("fingerprint")).alias("s")).collect()
    }
    assert sets[1] == sets[2]


def test_decontaminate_drops_partial_containment(spark):
    """A train doc embedding an eval passage inside unrelated prose must
    be dropped by the winnow method (whole-doc exact hashing would miss
    it); clean docs survive."""
    from orientdb_spark.pipeline import dedup

    eval_q = "what is the capital of france and when was it founded exactly"
    train = spark.createDataFrame(
        [
            (1, f"SOME WEB PAGE header… {eval_q} …footer text trailing on"),
            (2, "an unrelated document about spark shuffle partitions"),
            (3, eval_q),  # verbatim copy
        ],
        "doc_id bigint, text string",
    )
    ref = spark.createDataFrame([(100, eval_q)], "doc_id bigint, text string")

    clean_w = {r["doc_id"] for r in dedup.decontaminate(train, ref, method="winnow").collect()}
    assert clean_w == {2}

    # exact method only catches the verbatim copy
    clean_e = {r["doc_id"] for r in dedup.decontaminate(train, ref, method="exact").collect()}
    assert clean_e == {1, 2}

    # schema passthrough: original train columns survive
    out = dedup.decontaminate(train, ref, method="winnow")
    assert out.columns == train.columns


def test_decontaminate_min_shared_threshold(spark):
    """min_shared tunes sensitivity: a stray single shared fingerprint
    (common short phrase) is not contamination at min_shared=2."""
    from orientdb_spark.pipeline import dedup

    train = spark.createDataFrame(
        [(1, "the report said results were great and the team agreed")],
        "doc_id bigint, text string",
    )
    ref = spark.createDataFrame(
        [(100, "completely different subject but the report said otherwise")],
        "doc_id bigint, text string",
    )
    strict = dedup.decontaminate(train, ref, method="winnow", min_shared=1)
    lenient = dedup.decontaminate(train, ref, method="winnow", min_shared=4)
    assert strict.count() <= lenient.count()


def test_repetition_stats_handcrafted(spark):
    from orientdb_spark.pipeline import text

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),       # "a b c" repeats: 7 grams, 3 distinct
            (2, "one two three four five"),  # all distinct: 3 grams
            (3, "x y"),                      # too short for trigrams
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.repetition_stats(docs, n=3).collect()}
    assert rows[1]["n_ngrams"] == 7 and rows[1]["n_distinct"] == 3
    assert rows[1]["top_count"] == 3  # "a b c" at positions 1,4,7
    assert abs(rows[1]["dup_ngram_frac"] - (7 - 3) / 7) < 1e-6
    assert rows[2]["n_ngrams"] == 3 and rows[2]["dup_ngram_frac"] == 0.0
    assert rows[3]["n_ngrams"] == 0 and rows[3]["dup_ngram_frac"] == 0.0


def test_repetition_stats_property(spark):
    """Property check vs an independent Python reference over randomized
    token strings (hypothesis; derandomized like test_property_oracle) —
    covers the empty/short/duplicate-heavy edges the corpus oracle
    doesn't."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings, strategies as st

    from orientdb_spark.pipeline import text

    token = st.sampled_from(["a", "b", "ab", "x1", "zz"])
    docs_strategy = st.lists(
        st.lists(token, min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=6,
    )

    @settings(
        max_examples=15,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(docs_strategy)
    def run(texts):
        df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
        got = {r["doc_id"]: r for r in text.repetition_stats(df, n=3).collect()}
        for i, t in enumerate(texts):
            toks = [w for w in t.lower().split() if w]
            grams = [" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)]
            counts = Counter(grams)
            total, distinct = len(grams), len(counts)
            top = max(counts.values()) if counts else 0
            r = got[i]
            assert r["n_ngrams"] == total
            assert r["n_distinct"] == distinct
            assert r["top_count"] == top
            assert abs(r["dup_ngram_frac"] - (total - distinct) / max(total, 1)) < 1e-6
            assert abs(r["top_ngram_frac"] - top / max(total, 1)) < 1e-6

    run()


@pytest.fixture(scope="module")
def boiler_docs(spark):
    """Two sources, each stamping its own header/footer on every doc;
    content lines are unique per doc. srcB's footer appears in only
    half its docs — below the 0.5+epsilon... exactly at 0.5."""
    rows = []
    for i in range(8):
        src = "srcA" if i < 4 else "srcB"
        head = f"== {src} header =="
        body = f"unique content line number {i} with plenty of words"
        if src == "srcA":
            txt = f"{head}\n{body}\nvisit srcA dot example"
        else:
            # footer only on even docs → doc_frac 0.5 (boundary: kept IN)
            foot = "\nhalf footer srcB" if i % 2 == 0 else ""
            txt = f"{head}\n{body}{foot}"
        rows.append((i, src, txt))
    return spark.createDataFrame(rows, "doc_id bigint, source string, text string")


def test_boilerplate_lines_threshold(boiler_docs):
    found = {
        (r["source"], r["line"]): r["doc_frac"]
        for r in text.boilerplate_lines(boiler_docs, min_doc_frac=0.5).collect()
    }
    assert found[("srcA", "== srcA header ==")] == 1.0
    assert found[("srcA", "visit srcA dot example")] == 1.0
    assert found[("srcB", "== srcB header ==")] == 1.0
    # boundary: exactly at the threshold counts as boilerplate
    assert found[("srcB", "half footer srcB")] == 0.5
    # unique content lines never clear the threshold
    assert all("unique content" not in line for (_, line) in found)


def test_strip_boilerplate_reassembles_in_order(boiler_docs):
    out = {r["doc_id"]: r for r in text.strip_boilerplate(boiler_docs).collect()}
    assert out[0]["clean_text"] == "unique content line number 0 with plenty of words"
    assert out[0]["n_lines"] == 3 and out[0]["n_removed"] == 2
    # srcB odd doc: header only
    assert out[5]["n_lines"] == 2 and out[5]["n_removed"] == 1
    assert out[5]["clean_text"].startswith("unique content line number 5")


def test_strip_boilerplate_detect_on_slice(spark, boiler_docs):
    """The 100 TB pattern: detect boilerplate on one slice, strip
    another — a doc that is ALL boilerplate drops out entirely."""
    boiler = text.boilerplate_lines(boiler_docs)
    extra = spark.createDataFrame(
        [(99, "srcA", "== srcA header ==\nvisit srcA dot example")],
        "doc_id bigint, source string, text string",
    )
    out = text.strip_boilerplate(extra, boiler=boiler).collect()
    assert out == []  # nothing survives


def test_line_quality_filters(spark):
    df = spark.createDataFrame(
        [
            (1, "ok\na genuinely long enough line of real words here\n404 2024 17 99 55 31"),
            (2, "HOME | ABOUT"),  # everything filtered
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in text.line_quality(df).collect()}
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 1
    assert out[1]["clean_text"] == "a genuinely long enough line of real words here"
    # unlike strip_boilerplate, the zero-exchange form keeps empty docs
    assert out[2]["n_kept"] == 0 and out[2]["clean_text"] == ""
    assert out[2]["kept_frac"] == 0.0


def test_pii_scan_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.user@example.com or b@test.org call 555-867-5309"),
            (2, "ssn 123-45-6789 host 10.0.0.7 fine text"),
            (3, "nothing sensitive at all"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in text.pii_scan(df).collect()}
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (2, 1)
    assert out[1]["redacted_text"] == "mail <EMAIL> or <EMAIL> call <PHONE>"
    assert (out[2]["n_ssns"], out[2]["n_ips"]) == (1, 1)
    assert out[2]["redacted_text"] == "ssn <SSN> host <IP> fine text"
    assert out[3]["has_pii"] is False
    assert out[3]["redacted_text"] == "nothing sensitive at all"
    # a phone shape must not double-count as an SSN shape and vice versa
    assert out[1]["n_ssns"] == 0 and out[2]["n_phones"] == 0


def test_paragraph_dedup_first_occurrence_wins(spark):
    df = spark.createDataFrame(
        [
            (1, "unique one\nshared para\nunique two"),
            (2, "shared para\nunique three\nshared para"),
            (3, "shared para"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in text.paragraph_dedup(df).collect()}
    # doc 1 saw 'shared para' first (lowest doc_id) — keeps everything
    assert out[1]["clean_text"] == "unique one\nshared para\nunique two"
    assert out[1]["n_removed"] == 0
    # doc 2 loses BOTH copies (cross-doc dup + its own second copy)
    assert out[2]["clean_text"] == "unique three"
    assert out[2]["n_removed"] == 2
    # doc 3 was nothing but a dup → drops out entirely
    assert 3 not in out


def test_paragraph_dedup_blank_lines_are_structure(spark):
    """Sub-min paragraphs (blank separators) are never deduped away —
    they are document structure, not repeated content."""
    df = spark.createDataFrame(
        [(1, "alpha\n\nbeta"), (2, "gamma\n\ndelta")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in text.paragraph_dedup(df).collect()}
    assert out[1]["clean_text"] == "alpha\n\nbeta"
    assert out[2]["clean_text"] == "gamma\n\ndelta"
    assert out[1]["n_removed"] == 0 and out[2]["n_removed"] == 0


def test_tfidf_top_terms_handcrafted(spark):
    """tf*ln(N/df) with N=3: a term in every doc scores 0 (ln 1) and can
    never outrank a distinctive term; ranks are term-tiebroken."""
    d = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "cherry cherry cherry common"),
        ],
        "doc_id bigint, text string",
    )
    out = text.tfidf_top_terms(d, k=2)
    rows = {(r["doc_id"], r["rank"]): (r["term"], r["tfidf"]) for r in out.collect()}
    import math

    # doc 1: apple tf=2 df=1 -> 2*ln3 wins; banana tf=1 df=2 -> ln(1.5)
    assert rows[(1, 1)][0] == "apple"
    assert rows[(1, 1)][1] == pytest.approx(round(2 * math.log(3), 6))
    assert rows[(1, 2)][0] == "banana"
    # doc 3: cherry tf=3 df=2 -> 3*ln1.5; 'common' df=3 scores exactly 0
    assert rows[(3, 1)][0] == "cherry"
    assert rows[(3, 2)][0] == "common"
    assert rows[(3, 2)][1] == 0.0
    # doc 2: banana vs cherry tie exactly (tf=1, df=2) -> term order
    assert rows[(2, 1)][0] == "banana"
    assert rows[(2, 2)][0] == "cherry"


def test_tfidf_k_bounds_output(spark):
    d = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id bigint, text string"
    )
    assert text.tfidf_top_terms(d, k=3).count() == 3


def test_lm_score_handcrafted(spark):
    """Add-k bigram NLL: a repeated bigram scores lower (more probable)
    than a singleton; docs with < 2 tokens are excluded."""
    import math

    d = spark.createDataFrame(
        [
            (1, "a b a b"),   # bigrams: (a,b) x2, (b,a) x1
            (2, "a b"),       # one common bigram
            (3, "x y"),       # one rare bigram
            (4, "solo"),      # no bigram -> excluded
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in text.lm_score(d, k=0.5).collect()}
    assert set(out) == {1, 2, 3}
    # corpus: c(a,b)=3, c(b,a)=1, c(x,y)=1; c1(a)=3, c1(b)=1, c1(x)=1; V=4
    p_ab = (3 + 0.5) / (3 + 0.5 * 4)
    p_ba = (1 + 0.5) / (1 + 0.5 * 4)
    p_xy = (1 + 0.5) / (1 + 0.5 * 4)
    assert out[2]["nll"] == pytest.approx(round(-math.log(p_ab), 6))
    assert out[3]["nll"] == pytest.approx(round(-math.log(p_xy), 6))
    exp1 = -(2 * math.log(p_ab) + math.log(p_ba)) / 3
    assert out[1]["nll"] == pytest.approx(round(exp1, 6))
    assert out[1]["n_bigrams"] == 3
    # the common bigram is more probable than the rare one
    assert out[2]["nll"] < out[3]["nll"]


def test_min_k_prob_handcrafted(spark):
    """Min-K% prob (Shi et al. 2023) over the same handcrafted corpus
    as lm_score: the score is the mean NLL of the ceil(k_frac*n)
    LEAST-likely bigram occurrences, with the boundary bigram counted
    partially. Doc 1 has bigrams (a,b)x2 (likely) and (b,a)x1 (rare):
    at k_frac=0.34 -> m=ceil(1.02)=2, so the pick is the (b,a)
    occurrence plus ONE of the (a,b) occurrences."""
    import math

    d = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x y"), (4, "solo")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in text.min_k_prob(d, k_frac=0.34).collect()}
    assert set(out) == {1, 2, 3}
    p_ab = (3 + 0.5) / (3 + 0.5 * 4)
    p_ba = (1 + 0.5) / (1 + 0.5 * 4)
    nll_ab = round(-math.log(p_ab), 6)
    nll_ba = round(-math.log(p_ba), 6)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["mink_nll"] == pytest.approx(round((nll_ba + nll_ab) / 2, 6))
    # single-bigram docs: m=1, the score IS that bigram's NLL — and the
    # memorization signal orders them: the corpus-common bigram doc
    # scores LOWER (more absorbed) than the rare one
    assert out[2]["mink_nll"] == pytest.approx(nll_ab)
    assert out[3]["mink_nll"] == pytest.approx(nll_ba)
    assert out[2]["mink_nll"] < out[3]["mink_nll"]
    # k_frac=1.0 degenerates to the plain mean (lm_score on 6-dp values)
    full = {r["doc_id"]: r["mink_nll"]
            for r in text.min_k_prob(d, k_frac=1.0).collect()}
    assert full[1] == pytest.approx(round((2 * nll_ab + nll_ba) / 3, 6))
    with pytest.raises(ValueError, match="k_frac"):
        text.min_k_prob(d, k_frac=0.0)
    with pytest.raises(ValueError, match="smoothing"):
        text.min_k_prob(d, smoothing_k=0.0)


def test_min_k_prob_flags_template_doc_and_is_partition_invariant(spark):
    """A doc assembled from corpus-repeated boilerplate scores a LOWER
    mink_nll than a doc with novel transitions, and the result is
    partition-invariant (one doc-keyed window, no order dependence)."""
    boiler = "terms of service apply to all users of this site"
    rows = [(i, boiler) for i in range(8)]
    rows.append((100, boiler))                     # pure template doc
    rows.append((101, "quantum marmalade debugs a violet sonata today"))
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r["mink_nll"]
           for r in text.min_k_prob(d, k_frac=0.2).collect()}
    assert out[100] < out[101]
    out2 = {r["doc_id"]: r["mink_nll"]
            for r in text.min_k_prob(d.repartition(7), k_frac=0.2).collect()}
    assert out == out2


def test_unicode_normalize_forms(spark):
    d = spark.createDataFrame(
        [(1, "cafe\u0301"), (2, "caf\u00e9"), (3, None), (4, "plain")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in text.unicode_normalize(d).collect()}
    # decomposed composes (changed), precomposed is a fixpoint
    assert out[1]["normalized"] == "caf\u00e9" and out[1]["changed"] == 1
    assert out[2]["normalized"] == "caf\u00e9" and out[2]["changed"] == 0
    assert out[3]["normalized"] is None and out[3]["changed"] is None
    assert out[4]["changed"] == 0
    # NFD goes the other way
    nfd = {r["doc_id"]: r["normalized"] for r in text.unicode_normalize(d, form="NFD").collect()}
    assert nfd[2] == "cafe\u0301"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        text.unicode_normalize(d, form="NFX")


def test_vocabulary_rank_order_and_floor(spark):
    from orientdb_spark.pipeline.text import vocabulary

    docs = spark.createDataFrame(
        [(1, "b b b a a c Z z"), (2, "a z B")], ["doc_id", "text"]
    )
    got = [(r["rank"], r["token"], r["n_occurrences"]) for r in
           vocabulary(docs, min_count=2, k=10).collect()]
    # lowercased: a=3 b=4 z=3 c=1(floored); ties a/z broken by token asc
    assert sorted(got) == [(1, "b", 4), (2, "a", 3), (3, "z", 3)]


def test_vocabulary_k_truncation_is_deterministic(spark):
    from orientdb_spark.pipeline.text import vocabulary

    docs = spark.createDataFrame(
        [(1, "x x y y w w v v")], ["doc_id", "text"]
    )
    got = [r["token"] for r in vocabulary(docs, min_count=2, k=2).collect()]
    # all count 2 -> rank boundary cut by token asc: v, w survive
    assert got == ["v", "w"]


def test_chunk_documents_coverage_and_overlap(spark):
    from orientdb_spark.pipeline.text import chunk_documents

    text = " ".join(f"t{i}" for i in range(1, 101))  # 100 tokens
    docs = spark.createDataFrame([(1, text), (2, "a b c")], ["doc_id", "text"])
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["start_tok"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(docs, chunk_tokens=32, overlap=8).collect()
    )
    d1 = [r for r in rows if r[0] == 1]
    # stride 24: starts 1, 25, 49, 73 (ceil(68/24)=3 extras); tail short
    assert [(r[2], r[3]) for r in d1] == [(1, 32), (25, 32), (49, 32), (73, 28)]
    # consecutive chunks overlap by exactly 8 tokens
    first, second = d1[0][4].split(), d1[1][4].split()
    assert first[-8:] == second[:8]
    # every token is covered
    covered = {t for r in d1 for t in r[4].split()}
    assert covered == {f"t{i}" for i in range(1, 101)}
    # short doc: one chunk, whole doc
    d2 = [r for r in rows if r[0] == 2]
    assert d2 == [(2, 0, 1, 3, "a b c")]


def test_chunk_documents_rejects_bad_params(spark):
    import pytest as _pytest

    from orientdb_spark.pipeline.text import chunk_documents

    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    for ck, ov in ((0, 0), (8, 8), (8, -1)):
        with _pytest.raises(ValueError):
            chunk_documents(docs, chunk_tokens=ck, overlap=ov)


def test_cooccurrence_counts_and_pmi(spark):
    import math

    from orientdb_spark.pipeline.text import cooccurrence

    docs = spark.createDataFrame(
        [
            (1, "x y z"),
            (2, "x y"),
            (3, "x q"),
            (4, "y y x"),   # duplicate token counts once per doc
        ],
        ["doc_id", "text"],
    )
    got = {(r["ta"], r["tb"]): (r["n_ab"], r["pmi"])
           for r in cooccurrence(docs, top_terms=10, k=10).collect()}
    # x in 4 docs, y in 3, together in 3; N=4
    n_ab, pmi = got[("x", "y")]
    assert n_ab == 3
    assert abs(pmi - round(math.log(3 * 4 / (4 * 3)), 6)) < 1e-9  # = 0
    assert got[("x", "z")][0] == 1 and got[("y", "z")][0] == 1
    assert ("q", "x") in got  # ordered pair, q < x lexicographically


def _py_bpe(word_freqs, n):
    """Sequential reference BPE (Sennrich et al. 2016 pseudocode),
    ties broken lexicographically."""
    vocab = {tuple(list(w) + ["</w>"]): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n):
        counts = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p))
        merges.append(pair)
        new = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == pair[0]
                    and syms[i + 1] == pair[1]
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new[t] = new.get(t, 0) + f
        vocab = new
    return merges, vocab


def test_bpe_train_matches_reference(spark):
    import random

    from orientdb_spark.pipeline.text import bpe_train

    rng = random.Random(13)
    words = ["low", "lower", "lowest", "newer", "newest", "wide", "wider"]
    corpus = " ".join(rng.choice(words) for _ in range(300))
    docs = spark.createDataFrame([(1, corpus)], ["doc_id", "text"])
    merges, vocab_df = bpe_train(docs, n_merges=12)

    freqs: dict = {}
    for w in corpus.split():
        freqs[w] = freqs.get(w, 0) + 1
    ref_merges, ref_vocab = _py_bpe(freqs, 12)
    assert merges == ref_merges
    got_vocab = {
        tuple(r["symbols"]): r["freq"] for r in vocab_df.collect()
    }
    assert got_vocab == ref_vocab


def test_bpe_repeated_symbol_runs_merge_left_to_right(spark):
    from orientdb_spark.pipeline.text import bpe_train

    # 'aaaa' stresses the overlapping-run rule: (a,a) merges pairwise
    # left-to-right -> ['aa','aa','</w>'] after one merge (three 'a a'
    # pairs collapse to two tokens, not a chain)
    docs = spark.createDataFrame([(1, "aaaa aaaa aaaa")], ["doc_id", "text"])
    merges, vocab_df = bpe_train(docs, n_merges=1)
    assert merges == [("a", "a")]
    syms = vocab_df.collect()[0]["symbols"]
    assert syms == ["aa", "aa", "</w>"]
    # second round: ('aa','</w>') and ('aa','aa') tie at 3 — the '<' of
    # the end marker sorts first, matching the sequential reference
    merges2, vocab2 = bpe_train(docs, n_merges=2)
    freqs = {"aaaa": 3}
    assert (merges2, {tuple(r["symbols"]): r["freq"] for r in vocab2.collect()}) == _py_bpe(freqs, 2)


def test_bpe_encode_matches_training_vocab_segmentation(spark):
    from pyspark.sql import functions as F

    from orientdb_spark.pipeline.text import bpe_encode, bpe_train, ws_tokens

    docs = spark.createDataFrame(
        [(1, "lower lowest newer newest lower"), (2, "wide wider wide")],
        ["doc_id", "text"],
    )
    merges, vocab = bpe_train(docs, n_merges=8)
    # encode single-word docs and compare the implied token count with
    # the training vocabulary's segmentation length, word by word
    words = vocab.select("word", F.size("symbols").alias("n_syms")).collect()
    single = spark.createDataFrame(
        [(i, r["word"]) for i, r in enumerate(words)], ["doc_id", "text"]
    )
    enc = {r["doc_id"]: r["n_tokens"] for r in bpe_encode(single, merges).collect()}
    for i, r in enumerate(words):
        assert enc[i] == r["n_syms"], r["word"]
    # more merges never increase the token count
    m2, _ = bpe_train(docs, n_merges=2)
    enc2 = bpe_encode(docs, m2).agg(F.sum("n_tokens")).collect()[0][0]
    enc8 = bpe_encode(docs, merges).agg(F.sum("n_tokens")).collect()[0][0]
    assert enc8 <= enc2


def test_vocab_growth_stats_known_corpus(spark):
    """'a a b' + 'b c': tokens 5, types 3, hapax 1 (only 'c');
    per-group isolation and case folding."""
    from orientdb_spark.pipeline.text import vocab_growth_stats

    df = spark.createDataFrame(
        [("s1", "a A b"), ("s1", "b c"), ("s2", "x")],
        ["source", "text"],
    )
    got = {
        r["source"]: (r["n_tokens"], r["n_types"], r["n_hapax"],
                      round(r["ttr"], 6), round(r["hapax_ratio"], 6))
        for r in vocab_growth_stats(df, group_cols=["source"]).collect()
    }
    assert got["s1"] == (5, 3, 1, round(3 / 5, 6), round(1 / 3, 6))
    assert got["s2"] == (1, 1, 1, 1.0, 1.0)


def test_feature_hashing_sparse_counts(spark):
    """Hashing-trick featurizer: per-doc bucket counts equal a Python
    recomputation with the same md5-based hash; collisions merge; total
    token mass is conserved; validation rejects degenerate widths."""
    import hashlib

    import pytest

    from orientdb_spark.pipeline.text import feature_hashing

    df = spark.createDataFrame(
        [(1, "The quick the QUICK fox"), (2, "fox  fox\tjumps"), (3, "")],
        ["doc_id", "text"],
    )
    out = {
        (r["doc_id"], r["bucket"]): r["n_tokens"]
        for r in feature_hashing(df, n_buckets=8).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 8

    ref = {}
    for did, txt in [(1, "the quick the quick fox"), (2, "fox fox jumps")]:
        for t in txt.split():
            k = (did, bucket(t))
            ref[k] = ref.get(k, 0) + 1
    assert out == ref
    assert sum(v for (d, _), v in out.items() if d == 1) == 5  # mass conserved
    with pytest.raises(ValueError):
        feature_hashing(df, n_buckets=1)


def test_hash_embedding_matches_python_and_normalizes(spark):
    """Hash embeddings: integer components match a sequential Python
    recomputation exactly; vectors are unit-norm; dim validation."""
    import hashlib
    import math

    import pytest

    from orientdb_spark.pipeline.text import hash_embedding

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "gamma")], ["doc_id", "text"]
    )
    got = {
        (r["doc_id"], r["dim"]): r["value"]
        for r in hash_embedding(df, n_buckets=16, dim=4).collect()
    }

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for did, txt in ((1, "alpha beta alpha"), (2, "gamma")):
        counts = {}
        for t in txt.split():
            b = h60(t) % 16
            counts[b] = counts.get(b, 0) + 1
        comps = []
        for d in range(4):
            c = sum(n * (1 - 2 * (h60(f"{d}:{b}") % 2)) for b, n in counts.items())
            comps.append(c)
        nrm = math.sqrt(sum(c * c for c in comps))
        for d, c in enumerate(comps):
            want = round(c / nrm, 6) if nrm > 0 else 0.0
            assert got[(did, d)] == want, (did, d)
    # unit norm (within rounding)
    n1 = sum(v * v for (d, _), v in got.items() if d == 1)
    assert abs(n1 - 1.0) < 1e-4
    with pytest.raises(ValueError):
        hash_embedding(df, dim=0)


# --- bm25_topk -------------------------------------------------------------


def _bm25_ref(doc_rows, query_rows, k=10, k1=1.2, b=0.75):
    """Pure-python BM25 replay (Lucene idf; distinct query terms)."""
    import math
    from collections import Counter

    tok = lambda s: [t for t in s.lower().split() if t]  # noqa: E731
    tf = {d: Counter(tok(t)) for d, t in doc_rows}
    n = len(doc_rows)
    dl = {d: sum(c.values()) for d, c in tf.items()}
    avgdl = sum(dl.values()) / n

    def df_t(t):
        return sum(1 for c in tf.values() if t in c)

    ref = {}
    for qid, q in query_rows:
        scores = []
        for d, _ in doc_rows:
            s = 0.0
            for t in set(tok(q)):
                f = tf[d].get(t, 0)
                if f == 0:
                    continue
                idf = math.log(1 + (n - df_t(t) + 0.5) / (df_t(t) + 0.5))
                s += idf * f * (k1 + 1) / (f + k1 * (1 - b + b * dl[d] / avgdl))
            if s > 0:
                scores.append((round(s + 1e-12, 6), d))
        scores.sort(key=lambda x: (-x[0], x[1]))
        ref[qid] = [(d, s) for s, d in scores[:k]]
    return ref


_BM25_DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog chased the cat"),
    (3, "dogs and cats living together"),
    (4, "a completely unrelated document about spark sql"),
    (5, ""),  # token-less doc still counts in N and avgdl
]
_BM25_QS = [(10, "the cat"), (11, "dog"), (12, "zzz absent"), (13, "spark CAT spark")]


def test_bm25_matches_python_reference(spark):
    ddf = spark.createDataFrame(_BM25_DOCS, "doc_id bigint, text string")
    qdf = spark.createDataFrame(_BM25_QS, "query_id bigint, query_text string")
    got = {}
    for r in text.bm25_topk(ddf, qdf, k=3).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["bm25"]))
        assert r["rank"] == len(got[r["query_id"]])
    ref = {q: v[:3] for q, v in _bm25_ref(_BM25_DOCS, _BM25_QS).items() if v}
    for v in got.values():
        v.sort(key=lambda x: -x[1])
    assert got == ref
    # query 12 matches nothing -> absent entirely, never zero-score rows
    assert 12 not in got


def test_bm25_repeated_query_term_is_set_semantics(spark):
    ddf = spark.createDataFrame(_BM25_DOCS, "doc_id bigint, text string")
    single = spark.createDataFrame([(1, "cat")], "query_id bigint, query_text string")
    triple = spark.createDataFrame(
        [(1, "cat cat cat")], "query_id bigint, query_text string"
    )
    a = [(r["doc_id"], r["bm25"]) for r in text.bm25_topk(ddf, single, k=5).collect()]
    b = [(r["doc_id"], r["bm25"]) for r in text.bm25_topk(ddf, triple, k=5).collect()]
    assert a == b


def test_bm25_b_zero_removes_length_normalization(spark):
    # same tf of the query term, very different doc lengths
    ddf = spark.createDataFrame(
        [(1, "needle"), (2, "needle " + "filler " * 40)],
        "doc_id bigint, text string",
    )
    qdf = spark.createDataFrame([(1, "needle")], "query_id bigint, query_text string")
    with_b = {r["doc_id"]: r["bm25"] for r in text.bm25_topk(ddf, qdf).collect()}
    no_b = {r["doc_id"]: r["bm25"] for r in text.bm25_topk(ddf, qdf, b=0.0).collect()}
    assert with_b[1] > with_b[2]  # shorter doc wins under length norm
    assert no_b[1] == no_b[2]  # b=0: dl drops out entirely


def test_bm25_partition_invariance_and_validation(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    qdf = spark.createDataFrame(
        [(1, "filter merge join")], "query_id bigint, query_text string"
    )
    a = sorted(
        (r["doc_id"], r["rank"], r["bm25"])
        for r in text.bm25_topk(docs, qdf, k=7).collect()
    )
    c = sorted(
        (r["doc_id"], r["rank"], r["bm25"])
        for r in text.bm25_topk(docs.repartition(13), qdf, k=7).collect()
    )
    assert a == c and len(a) == 7
    with pytest.raises(ValueError, match="k must be"):
        text.bm25_topk(docs, qdf, k=0)
    with pytest.raises(ValueError, match="k1"):
        text.bm25_topk(docs, qdf, b=1.5)


def test_bm25_matches_reference_on_fuzzed_corpora(spark):
    """Randomized corpora (seeded): full-k output must equal the pure
    python replay exactly — scores on the 6-dp grid, doc-id tiebreaks."""
    import random

    rng = random.Random(1307)
    vocab = [f"w{i}" for i in range(30)]
    for trial in range(3):
        docs = [
            (d, " ".join(rng.choices(vocab, k=rng.randint(0, 25))))
            for d in range(rng.randint(3, 12))
        ]
        queries = [
            (q, " ".join(rng.choices(vocab, k=rng.randint(1, 4))))
            for q in range(3)
        ]
        ddf = spark.createDataFrame(docs, "doc_id bigint, text string")
        qdf = spark.createDataFrame(queries, "query_id bigint, query_text string")
        got = {}
        for r in text.bm25_topk(ddf, qdf, k=50).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["bm25"]))
        for v in got.values():
            v.sort(key=lambda x: (-x[1], x[0]))
        ref = {q: v for q, v in _bm25_ref(docs, queries, k=50).items() if v}
        assert got == ref, (trial, docs, queries)


def test_gopher_rules_rule_table(spark):
    """Each rule fires on its crafted doc and nowhere else; keep is the
    AND; empty docs don't divide by zero."""
    rows = [
        (1, "the cat and the dog have fun with food " * 8),   # clean
        (2, "short doc"),                                      # word count
        (3, "- b one\n- b two\n- b three\nthe be to of and"),  # bullets OK at 0.75
        (4, ("word " * 60).strip() + " # # # # # # # #"),      # symbols
        (5, ("the be to of word " * 12).strip() + " ..."),     # ellipsis line
        (6, " ".join(str(i) for i in range(60)) + " the of and to be"),  # alpha
        (7, ""),                                                # empty
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in text.gopher_rules(df, min_words=10, max_words=100).collect()
    }
    assert got[1]["keep"] is True
    assert got[2]["pass_word_count"] is False and got[2]["keep"] is False
    # 3 of 4 lines bulleted = 0.75 <= 0.9 passes the bullet rule
    assert got[3]["pass_bullet_lines"] is True
    assert got[3]["bullet_line_ratio"] == 0.75
    assert got[4]["pass_symbol_ratio"] is False
    assert got[4]["symbol_word_ratio"] > 0.1
    assert got[5]["pass_ellipsis_lines"] is False
    assert got[6]["pass_alpha_words"] is False
    assert got[6]["pass_stop_words"] is True  # the/of/and/to/be = 5 distinct
    assert got[7]["n_words"] == 0 and got[7]["keep"] is False


def test_gopher_rules_paper_defaults_and_validation(spark):
    """Published defaults: 50-word floor, 2-of-8 stop words; parameter
    validation raises on inverted bounds."""
    import pytest

    df = spark.createDataFrame(
        [(1, ("the be to of and that have with word " * 7).strip())],
        "doc_id bigint, text string",
    )
    row = text.gopher_rules(df).collect()[0]
    assert row["n_words"] == 63 and row["keep"] is True
    assert row["n_stop_words"] == 8
    with pytest.raises(ValueError, match="min_words"):
        text.gopher_rules(df, min_words=100, max_words=10)
    with pytest.raises(ValueError, match="min_stop_words"):
        text.gopher_rules(df, min_stop_words=-1)


def test_fim_transform_reassembly_and_modes(spark, docs):
    """Selected docs must reassemble to the original text from their
    parts; 'none' docs pass through; sentinels follow PSM/SPM order."""
    out = {
        r["doc_id"]: r.asDict()
        for r in text.fim_transform(
            docs, fim_rate=1.0, spm_rate=0.5, min_chars=1
        ).collect()
    }
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(r["mode"] for r in out.values()) <= {"psm", "spm"}
    for i, r in out.items():
        assert r["prefix"] + r["middle"] + r["suffix"] == orig[i]
        assert 0 <= r["fim_lo"] <= r["fim_hi"] <= len(orig[i])
        if r["mode"] == "psm":
            want = (
                "<PRE>" + r["prefix"] + "<SUF>" + r["suffix"]
                + "<MID>" + r["middle"]
            )
        else:
            want = (
                "<PRE><SUF>" + r["suffix"] + "<MID>"
                + r["prefix"] + r["middle"]
            )
        assert r["formatted"] == want


def test_fim_transform_rate_zero_and_min_chars(spark, docs):
    """fim_rate=0 leaves every doc untouched; min_chars excludes short
    docs even at rate 1; invalid params raise."""
    none = text.fim_transform(docs, fim_rate=0.0).collect()
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert all(r["mode"] == "none" and r["prefix"] is None for r in none)
    assert all(r["formatted"] == orig[r["doc_id"]] for r in none)

    gated = {
        r["doc_id"]: r["mode"]
        for r in text.fim_transform(docs, fim_rate=1.0, min_chars=20).collect()
    }
    assert gated[4] == "none"  # "tiny" is under min_chars
    assert all(m != "none" for i, m in gated.items() if i != 4)

    with pytest.raises(ValueError, match="rates must be"):
        text.fim_transform(docs, fim_rate=1.5)
    with pytest.raises(ValueError, match="min_chars"):
        text.fim_transform(docs, min_chars=0)


def test_fim_transform_deterministic_and_shuffle_free(spark, docs):
    """Same input → byte-identical output (the 100 TB re-run
    guarantee), and the plan is a single in-row projection."""
    a = sorted(map(tuple, text.fim_transform(docs).collect()))
    b = sorted(map(tuple, text.fim_transform(docs).collect()))
    assert a == b
    plan = (
        text.fim_transform(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_span_corruption_roundtrip(spark):
    """Splicing each target span back over its sentinel in the inputs
    must reconstruct the (whitespace-normalized) document — the
    denoising objective's defining invariant."""
    import re

    rows = [(i, " ".join(f"w{i}t{j}" for j in range(30 + 7 * i))) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = text.span_corruption(df, min_tokens=10).collect()
    for r in out:
        assert r["n_spans"] >= 1
        spans = dict(
            re.findall(r"<extra_id_(\d+)> ([^<]*?)(?= <extra_id_|$)", r["targets"])
        )
        rebuilt = re.sub(
            r"<extra_id_(\d+)>", lambda m: spans.get(m.group(1), "").strip(), r["inputs"]
        )
        orig = " ".join(rows[r["doc_id"]][1].split())
        assert " ".join(rebuilt.split()) == orig
        assert r["n_masked"] == sum(len(v.split()) for v in spans.values())
        # closing sentinel is <extra_id_S>
        assert r["targets"].endswith(f"<extra_id_{r['n_spans']}>")


def test_span_corruption_short_docs_pass_through(spark):
    df = spark.createDataFrame(
        [(1, "too short to mask"), (2, " ".join(["tok"] * 40))],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in text.span_corruption(df, min_tokens=20).collect()}
    assert got[1]["n_spans"] == 0 and got[1]["n_masked"] == 0
    assert got[1]["inputs"] == "too short to mask" and got[1]["targets"] == ""
    assert got[2]["n_spans"] == 2  # floor(40*0.15/3) = 2
    with pytest.raises(ValueError, match="corruption_rate"):
        text.span_corruption(df, corruption_rate=0.0)
    with pytest.raises(ValueError, match="mean_span"):
        text.span_corruption(df, mean_span=0)


def test_span_corruption_deterministic_zero_exchange(spark):
    df = spark.createDataFrame(
        [(i, " ".join(f"x{j}" for j in range(50))) for i in range(4)],
        "doc_id bigint, text string",
    )
    a = sorted(map(tuple, text.span_corruption(df).collect()))
    b = sorted(map(tuple, text.span_corruption(df).collect()))
    assert a == b
    plan = text.span_corruption(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_readability_hand_checked(spark):
    """Hand-computed Flesch/FK on a two-sentence doc, the vowelless-word
    syllable floor, the no-punctuation sentence clamp, and NULL scores
    for a wordless doc."""
    from orientdb_spark.pipeline.text import readability

    docs = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),   # 6 words, 2 sents, 6 syll
            (2, "xyz tv"),                       # vowelless -> 1 syll each
            (3, "hello world no punctuation"),   # sentence clamp to 1
            (4, "   "),                          # wordless
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r.asDict() for r in readability(docs).collect()}
    q1 = got[1]
    assert (q1["n_words"], q1["n_sentences"], q1["n_syllables"]) == (6, 2, 6)
    wps, spw = 6 / 2, 6 / 6
    assert q1["flesch"] == round(206.835 - 1.015 * wps - 84.6 * spw + 1e-12, 6)
    assert q1["fk_grade"] == round(0.39 * wps + 11.8 * spw - 15.59 + 1e-12, 6)
    assert got[2]["n_syllables"] == 2  # xyz: one y-run; tv: floor of 1
    assert got[3]["n_sentences"] == 1
    q4 = got[4]
    assert q4["n_words"] == 0 and q4["flesch"] is None and q4["fk_grade"] is None


def test_rocchio_prf_expansion_changes_ranking(spark):
    """PRF must (a) return valid per-query rankings, (b) score docs the
    un-expanded query misses (a doc containing ONLY expansion terms can
    enter pass 2), and (c) reduce to plain BM25 when the feedback docs
    offer no new terms."""
    import pytest

    from orientdb_spark.pipeline.text import bm25_topk, rocchio_prf_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple banana date"),
            (3, "cherry date cherry"),      # only expansion-reachable terms
            (4, "elephant fig grape"),
        ],
        ["doc_id", "text"],
    )
    q = spark.createDataFrame([(1, "apple banana")], ["query_id", "query_text"])
    plain = {r["doc_id"] for r in bm25_topk(docs, q, k=10).collect()}
    prf = {r["doc_id"] for r in rocchio_prf_topk(
        docs, q, k=10, fb_docs=2, fb_terms=2
    ).collect()}
    assert 3 not in plain          # no query term in doc 3
    assert 3 in prf                # cherry/date arrive via feedback docs 1/2
    assert 4 not in prf            # never reachable
    # ranks are 1..n with unique docs per query
    rows = rocchio_prf_topk(docs, q, k=10, fb_docs=2, fb_terms=2).collect()
    ranks = sorted(r["rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))
    # a corpus where feedback adds nothing -> identical to plain BM25
    docs2 = spark.createDataFrame(
        [(1, "apple banana"), (2, "apple banana")], ["doc_id", "text"]
    )
    p1 = sorted(
        (r["doc_id"], r["bm25"]) for r in bm25_topk(docs2, q, k=5).collect()
    )
    p2 = sorted(
        (r["doc_id"], r["bm25"])
        for r in rocchio_prf_topk(docs2, q, k=5, fb_docs=2, fb_terms=2).collect()
    )
    assert p1 == p2
    with pytest.raises(ValueError, match="fb_docs"):
        rocchio_prf_topk(docs, q, fb_docs=0)


def test_source_quality_rollup_flags_junk_source(spark):
    """A source whose docs are mostly symbol soup must flag; a healthy
    source must not; counts and fractions are exact."""
    import pytest

    from orientdb_spark.pipeline.text import source_quality_rollup

    good = "the data table holds many fine rows of the usual kind"
    junk = "@@@ ### !!! $$$ %%% ^^^ &&& *** ((( )))"
    docs = spark.createDataFrame(
        [(i, good, "clean") for i in range(4)]
        + [(10 + i, junk, "spam") for i in range(3)]
        + [(20, good, "spam")],
        ["doc_id", "text", "source"],
    )
    got = {
        r["group"]: r.asDict()
        for r in source_quality_rollup(
            docs, low_threshold=0.5, max_low_frac=0.5
        ).collect()
    }
    assert got["clean"]["n_docs"] == 4 and got["clean"]["n_low"] == 0
    assert not got["clean"]["flag_source"]
    assert got["spam"]["n_docs"] == 4 and got["spam"]["n_low"] == 3
    assert got["spam"]["low_frac"] == 0.75 and got["spam"]["flag_source"]
    assert 0.0 < got["clean"]["mean_quality"] <= 1.0
    with pytest.raises(ValueError, match="low_threshold"):
        source_quality_rollup(docs, low_threshold=0.0)


def test_rake_keyphrases_hand_checked(spark):
    """Hand-computed RAKE scores: runs split on stopwords, deg/freq
    word scores, phrase-score sums, alphabetical tiebreaks, duplicate
    phrases collapse."""
    import pytest

    from orientdb_spark.pipeline.text import rake_keyphrases

    docs = spark.createDataFrame(
        [
            (1, "deep learning of deep models"),
            (2, "red apple the red apple"),   # duplicate phrase collapses
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["rank"]): r.asDict()
        for r in rake_keyphrases(docs, top_k=3).collect()
    }
    # doc 1: runs [deep learning], [deep models]; deg/freq: deep 4/2,
    # learning 2/1, models 2/1 -> all word scores 2; both phrases 4.0
    assert got[(1, 1)]["phrase"] == "deep learning"
    assert got[(1, 2)]["phrase"] == "deep models"
    assert got[(1, 1)]["score"] == 4.0 and got[(1, 2)]["score"] == 4.0
    # doc 2: "red apple" twice -> ONE candidate; red: freq2 deg4 -> 2,
    # apple: 2 -> phrase score 4
    assert got[(2, 1)]["phrase"] == "red apple" and got[(2, 1)]["score"] == 4.0
    assert (2, 2) not in got
    with pytest.raises(ValueError, match="top_k"):
        rake_keyphrases(docs, top_k=0)
