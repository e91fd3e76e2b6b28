"""FULLTEXT index — tokenized inverted-index table powering CONTAINSTEXT.

Reference: core:index/OPropertyIndexFullText.java:43-160 — index build
tokenizes the property value on the ignore-chars set, drops stop words,
lower-cases, and maps each token → set of RIDs; CONTAINSTEXT answers from
the index when available (core:sql/OCommandExecutorSQLSelect.java:372-429,
operator core:sql/operator/OQueryOperatorContainsText.java:40-85).

Tokenizer constants byte-match the reference defaults
(OPropertyIndexFullText.java:49-52) so oracle comparisons agree.

Spark shape: the inverted index is a ``(term, rid)`` DataFrame built with
one distributed explode — at 100 TB this is the right layout anyway
(term-partitioned, prunable); a CONTAINSTEXT query becomes a semi-join
from the matching term's postings to the base table instead of a scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from orientdb_spark.catalog import RID_COL
from orientdb_spark.session import local_frame

# core:index/OPropertyIndexFullText.java:49-52 (DEF_SEPARATOR_CHARS / DEF_IGNORE_CHARS / DEF_STOP_WORDS)
IGNORE_CHARS = " \r\n\t:;,.|+*/\\=!?[]()'\""
STOP_WORDS = set(
    "the in a at as and or for his her him this that what which while up with be was is".split()
)

# regex character class over the ignore chars, for F.split
_SPLIT_RE = "[" + "".join("\\" + c if c in r"\^]-[" else c for c in IGNORE_CHARS) + "]+"


def tokenize_column(col: F.Column) -> F.Column:
    """Lower-cased tokens of a string column, reference tokenizer rules:
    split on ignore chars, drop empties and stop words."""
    toks = F.split(F.lower(col), _SPLIT_RE)
    toks = F.filter(toks, lambda t: (F.length(t) > 0) & ~t.isin(*sorted(STOP_WORDS)))
    return toks


def tokenize(text: str) -> list[str]:
    """Driver-side twin of tokenize_column (for tests/oracles)."""
    out, cur = [], []
    for ch in text.lower():
        if ch in IGNORE_CHARS:
            if cur:
                out.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return [t for t in out if t not in STOP_WORDS]


class FulltextIndexStore:
    """Per (class, property) inverted index registry."""

    def __init__(self):
        self._indexes: dict[tuple[str, str], DataFrame] = {}

    def put(self, class_name: str, prop: str, df: DataFrame) -> None:
        self._indexes[(class_name.lower(), prop.lower())] = df

    def get(self, class_name: str, prop: str) -> DataFrame | None:
        return self._indexes.get((class_name.lower(), prop.lower()))


def store(engine) -> FulltextIndexStore:
    """Per-engine index registry (an index belongs to a database, not the
    process — a module-global store would leak indexes across engines)."""
    st = getattr(engine, "_fulltext_store", None)
    if st is None:
        st = FulltextIndexStore()
        engine._fulltext_store = st
    return st


def build_fulltext_index(engine, class_name: str, prop: str) -> DataFrame:
    """CREATE INDEX cls.prop FULLTEXT — bulk build browses the class
    (core:metadata/schema/OProperty.java:257): one scan + explode."""
    base = engine.catalog.dataframe(class_name, polymorphic=False, with_meta=True)
    idx = (
        base.select(F.col(RID_COL).alias("rid"), tokenize_column(F.col(prop)).alias("__toks"))
        .select(F.explode("__toks").alias("term"), "rid")
        .dropDuplicates(["term", "rid"])
    )
    store(engine).put(class_name, prop, idx)
    return idx


def containstext_semijoin(engine, class_name: str, prop: str, text: str) -> DataFrame | None:
    """Indexed CONTAINSTEXT: postings semi-join instead of a full scan.
    Returns None when no index exists (caller falls back to substring
    containment, the reference's non-indexed behavior)."""
    idx = store(engine).get(class_name, prop)
    if idx is None:
        return None
    postings = idx.filter(F.col("term") == text.lower()).select(F.col("rid"))
    base = engine.catalog.dataframe(class_name, polymorphic=False, with_meta=True)
    return base.join(postings, base[RID_COL] == postings["rid"], "left_semi")


def positional_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Positional inverted index — (id, pos, term) over the reference
    tokenizer stream (lower, ignore-chars split, stop words dropped).
    The positional extension of build_fulltext_index's (term, rid)
    postings: same one-scan explode, positions kept, enabling phrase
    queries the reference's CONTAINSTEXT cannot express."""
    return df.select(
        F.col(id_col),
        F.posexplode(tokenize_column(F.col(text_col))).alias("pos", "term"),
    )


def phrase_search(
    index: DataFrame, phrase: str, id_col: str = "doc_id"
) -> DataFrame:
    """Exact phrase query over a positional index: documents where the
    phrase's tokens occur at consecutive positions of the tokenized
    stream (stop words removed on BOTH sides, so 'jump the fence'
    matches 'jump fence' — reference tokenizer semantics). Returns
    (id, n_matches), matching docs only.

    IR-standard posting intersection, one shuffle: each occurrence of a
    phrase word maps to its candidate start (pos - slot) via a broadcast
    join against the slot list, and one (id, start) groupBy checks all
    slots are present — no n-way self-join, no scan of the raw text.
    Repeated phrase words are handled by the distinct-slot count."""
    words = tokenize(phrase)
    if not words:
        raise ValueError(f"phrase has no indexable tokens: {phrase!r}")
    slots = local_frame(index.sparkSession, enumerate(words), "__slot bigint, term string")
    cand = index.join(F.broadcast(slots), "term").select(
        id_col, (F.col("pos") - F.col("__slot")).alias("__p0"), "__slot"
    )
    return (
        cand.filter(F.col("__p0") >= 0)
        .groupBy(id_col, "__p0")
        .agg(F.count_distinct("__slot").alias("__k"))
        .filter(F.col("__k") == len(words))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
