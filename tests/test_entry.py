"""Mirror of the driver's correctness harness: run every queries() entry
at sf0.001 and compare rows/schema/values against its oracle_sql() twin.
Catching a mismatch here means catching it before CORRECTNESS_r{N}.json.

The FULL 279-entry mirror takes ~1.5 h (it is the bulk of the old 1:26 h
suite) and made the r13 driver verify time out (VERIFY_r13 tests_ok:
false with zero failures — the run simply never finished). Default runs
therefore mirror only a cross-family smoke subset; set
``SPARK_GRAFT_FULL_ORACLE=1`` to run every entry (do this before
shipping any change that touches an operator's results)."""

import json
import os
import pathlib
import re

import pytest

import __spark_entry__ as entrymod
from orientdb_spark.entries import REGISTRY, tagged
from tests.conftest import SF_DIR, assert_matches_oracle

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

ROOT = pathlib.Path(__file__).resolve().parents[1]

FULL_ORACLE = os.environ.get("SPARK_GRAFT_FULL_ORACLE") == "1"

# Default smoke subset: the entries tagged "smoke", one-per-family over
# the operator surfaces (SQL agg/join/window/set, traverse, graph,
# events, dedup, ANN, text, sampling, profile) so a broken shared
# primitive still fails fast without the flag.
_MIRROR_NAMES = sorted(ORACLES) if FULL_ORACLE else tagged("smoke")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "l_returnflag" in df.columns


def test_oracle_keys_subset():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracle entries without queries: {missing}"


def test_each_entry_has_an_oracle_or_a_rows_only_reason():
    """The driver hash-checks an entry against its oracle; an entry with
    none must say why, and no entry may have both."""
    both_or_neither = [
        n for n, e in REGISTRY.items() if (e.oracle is None) == (not e.rows_only)
    ]
    assert not both_or_neither, both_or_neither
    assert set(QUERIES) == set(REGISTRY)


@pytest.mark.parametrize("name", _MIRROR_NAMES)
def test_query_vs_oracle(spark, oracle, name):
    df = QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, oracle, ORACLES[name])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_no_oracle_queries_run(spark, name):
    # weaker rows-only check, like the driver
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0


def test_lsh_recall_vs_bruteforce(spark):
    """The approximate ANN path must find a meaningful fraction of the
    true neighbors (quality gate for the no-oracle query)."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["sim_topk_bruteforce"](spark, SF_DIR).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["sim_topk_lsh"](spark, SF_DIR).collect()
    }
    assert approx, "LSH returned nothing"
    # 6-table multi-probe LSH must recover well over half the true top-k
    # (measured 0.80 at sf0.001 / 0.88 at sf0.01 — the 0.65 gate leaves
    # real margin yet still catches a silent recall regression that the
    # old 0.5 gate would have let slide)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.65, f"LSH recall too low: {recall:.2f}"
    # multi-probe (own bucket + lowest-margin flips) must not lose recall
    # vs single-probe — deterministic on the fixture (hash-derived planes)
    from pyspark.sql import functions as F

    from orientdb_spark.pipeline import similarity as _sim

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in _sim.lsh_topk(
            embs, embs.filter(F.col("vec_id") < 10), k=5, planes=5, nprobe=1
        ).collect()
    }
    assert len(exact & approx) >= len(exact & single)


def test_ivf_recall_vs_bruteforce(spark):
    """The derived-parameter IVF entry (refine_iters=0 since its r11
    oracle upgrade) must still recover most true neighbors — the recall
    gate stays alongside the exact replay so a parameter-derivation
    regression can't hide behind a bit-identical oracle."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["sim_topk_bruteforce"](spark, SF_DIR).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["sim_topk_ivf"](spark, SF_DIR).collect()
    }
    assert approx, "IVF returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_fingerprint_and_simhash_duplicate_groups(spark):
    from pyspark.sql import functions as F

    from orientdb_spark.pipeline import dedup

    docs = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello   world"),   # same after normalization
            (3, "something else entirely"),
            (4, "Hello, World!"),
        ],
        ["doc_id", "text"],
    )
    groups = dedup.fingerprint_duplicate_groups(docs).collect()
    assert len(groups) == 1 and groups[0]["n_docs"] == 3 and groups[0]["canonical_id"] == 1

    pairs = dedup.simhash_duplicate_pairs(docs).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    # byte-identical token sets share a simhash (1 and 4); doc 2 differs
    # in case/punctuation — the whitespace tokenizer keeps it distinct
    assert (1, 4) in ids and (1, 2) not in ids


def test_driver_front_slots_all_oracle_bearing():
    """The driver records the first 50 keys: only entries declared
    rows-only (a reason instead of an oracle) may lack an oracle there;
    any other oracle-less slot (a rename, an oracle drop) must fail CI,
    not the driver run."""
    rows_only = {n for n, e in REGISTRY.items() if e.rows_only}
    front = list(QUERIES)[:50]
    assert len(front) == 50
    missing = [n for n in front if n not in ORACLES and n not in rows_only]
    assert not missing, f"front-50 slots without oracles: {missing}"
    # and the rows-only declarations stay honest: each is really in the
    # registry and really lacks an oracle
    for n in rows_only:
        assert n in QUERIES and n not in ORACLES, n


def _newest_driver_rounds() -> dict[str, int]:
    newest: dict[str, int] = {}
    for path in ROOT.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            for name in json.loads(path.read_text()):
                newest[name] = max(newest.get(name, 0), int(m.group(1)))
    return newest


def test_queries_lead_with_never_recorded_then_oldest_records():
    """queries() order is the driver's rotation: the entries with no
    CORRECTNESS_r<NN>.json record first, then by newest record, oldest
    first — so the 50-slot record always covers the stalest entries."""
    newest = _newest_driver_rounds()
    order = list(QUERIES)
    never = [n for n in order if n not in newest]
    assert order[: len(never)] == never
    rounds = [newest[n] for n in order[len(never):]]
    assert rounds == sorted(rounds)


def test_tools_resolve_the_repo_from_their_own_path():
    """A tool run from another checkout must judge that checkout, so no
    tool names this checkout's absolute path."""
    here = str(ROOT)
    hits = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in sorted((ROOT / "tools").rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if here in line
    ]
    assert not hits, hits
