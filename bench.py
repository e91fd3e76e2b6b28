#!/usr/bin/env python
"""Benchmark harness: runs the headline queries (the registry entries
tagged "headline": one or more per major subsystem — SQL agg, link-join,
sort/top-k, window, traverse, graph analytics, sessionize, dedup, ANN,
text, sampling) at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The benched callables are the same `queries()` entries the correctness
driver hash-checks, so the numbers measure the real engine paths
(parser → expression compiler → Catalyst), not hand-tuned copies.
Execution is forced with the noop sink (full pipeline, no collect).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _resolve_out_path() -> str:
    """Resolve and validate the output path BEFORE any timed work: an
    IndexError on a trailing ``--out`` used to surface only AFTER the
    multi-hour bench loop, losing the whole run — the exact failure the
    file artifact exists to prevent (r12 advice)."""
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if "--out" in sys.argv:
        i = sys.argv.index("--out")
        if i + 1 >= len(sys.argv):
            print("bench: --out requires a path argument", file=sys.stderr)
            raise SystemExit(2)
        out_path = sys.argv[i + 1]
    if out_path is None:
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_run.json"
        )
    # fail fast on an unwritable destination too — probe with an append
    # touch rather than truncating whatever is already there
    try:
        with open(out_path, "a"):
            pass
    except OSError as e:
        print(f"bench: cannot write --out path {out_path}: {e}", file=sys.stderr)
        raise SystemExit(2)
    return out_path


def main() -> None:
    out_path = _resolve_out_path()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    import __spark_entry__ as entry_mod
    from orientdb_spark import get_spark
    from orientdb_spark.entries import tagged

    spark = get_spark(app_name="orientdb_spark_bench")
    qs = entry_mod.queries()

    # warm-up: JVM/codegen + page cache for the scanned tables
    _force(qs["tpch_q1_pricing"](spark, sf_dir))

    # best-of-N per query with adaptive N: the host is shared, and two
    # samples were measured insufficient for the sub-second queries (6.7x
    # run-to-run swings on identical code). Keep sampling until we hold
    # at least `repeat` samples AND ~`budget` seconds of timed work, so
    # cheap queries get up to `max_repeat` samples while the multi-second
    # ones stay at `repeat` — min-of-samples then strips scheduler noise
    # without doubling the wall cost of the expensive tail.
    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2"))
    max_repeat = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_REPEAT", "5"))
    # an explicitly-requested repeat must never be silently capped
    max_repeat = max(max_repeat, repeat)
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "4"))
    # the multi-second swingers (entries tagged "noisy": ±1.2 s run-to-run
    # on this shared host) get a 3-sample floor regardless of the budget,
    # so round-over-round deltas measure code, not the scheduler
    noisy = set(tagged("noisy"))
    timings: dict[str, float] = {}
    samples: dict[str, int] = {}
    # total timed seconds per query INCLUDING warm-up — the wall-clock
    # ledger that names where a bench pass actually spends its time
    # (the reported per-query number is min-of-samples, which hides a
    # query that needed many slow samples)
    spent_wall: dict[str, float] = {}
    failed: list[str] = []
    # HARD floor for every query, budget-immune: the r12 official record
    # breached the 2x bar on rows whose sample counts had collapsed to
    # n=2 (dedup_minhash_lsh) and n=3 (set_operations) under host load —
    # an official signal must never be 1-2 observations (r12 verdict
    # item 1). 3 samples is the floor the noisy set already proved out.
    hard_floor = int(os.environ.get("SPARK_GRAFT_BENCH_MIN_SAMPLES", "3"))
    for name in tagged("headline"):
        fn = qs[name]
        best = None
        min_n = max(repeat, hard_floor, 3 if name in noisy else 0)
        try:
            # one untimed warm-up: the sf5 study showed a cold page
            # cache right after heavy unrelated IO can inflate a
            # multi-second query 30x, and the budget clause then stops
            # after 2 cold samples — min-of-N never sees a warm run.
            # On a warm host this changes nothing (min is unaffected).
            w0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            warm = time.perf_counter() - w0
            spent, n = 0.0, 0
            # sub-second queries are the ones host contention can bury
            # (four recorded phantoms: r4 x2, r5 containstext, r9 q1
            # "+65%" on 9 samples) — let them sample past max_repeat
            # (up to 15) while the budget lasts, AND give them a HARD
            # 10-sample floor the budget clause cannot cut (the r9
            # noise-convention item: a 9-sample minimum masqueraded as
            # a 65% regression; 10 warm sub-second samples cost <10 s).
            # The noisy-query sample floor must hold even when the user
            # pins SPARK_GRAFT_BENCH_(MAX_)REPEAT below it — fold it
            # into the loop bound rather than only the budget clause.
            cap = max(max_repeat, min_n)
            sub_floor = 10
            while (
                n < cap or (best is not None and best < 1.0 and n < 15)
            ) and (
                n < min_n
                or spent < budget
                or (best is not None and best < 1.0 and n < sub_floor)
            ):
                t0 = time.perf_counter()
                _force(fn(spark, sf_dir))
                dt = time.perf_counter() - t0
                spent += dt
                n += 1
                best = dt if best is None or dt < best else best
            timings[name] = round(best, 3)
            samples[name] = n
            spent_wall[name] = round(warm + spent, 3)
        except Exception as e:  # one broken query must not sink the whole run
            failed.append(name)
            print(f"bench: {name} failed: {type(e).__name__}: {e}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # Compact record: exactly the driver-contract keys. The r12 stdout
    # capture truncated the old fat line (queries + samples + spent_wall
    # for 39 rows) mid-`samples`, which cost r13 its whole round-over-round
    # comparison (PERF_r13 n_common: 0). stdout now carries ONLY the
    # contract keys (<4 KB); the diagnostic extras live in the --out file.
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if failed:
        out["failed"] = failed
    line = json.dumps(out)
    # The file artifact keeps the FULL record (compact keys + per-query
    # sample counts and the wall-clock ledger): BENCH_r11.json lost its
    # headline total when the driver's stdout capture truncated mid-JSON —
    # a pipe must never be the only copy of a round's number. Override the
    # path with --out <path> or $SPARK_GRAFT_BENCH_OUT (parsed and
    # validated up-front in _resolve_out_path).
    full = dict(out)
    full["samples"] = samples
    full["spent_wall"] = spent_wall
    try:
        with open(out_path, "w") as fh:
            fh.write(json.dumps(full) + "\n")
    except OSError as e:
        print(f"bench: could not write {out_path}: {e}", file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
