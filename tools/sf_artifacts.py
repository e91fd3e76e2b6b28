"""Above-driver-scale bench evidence: two standalone bench.py runs over a
generated SF dir, merged per query into ``BENCH_<suffix>.json``.

    python tools/gen_sf.py 1.0 /tmp/sf1          # inputs (deterministic)
    python tools/sf_artifacts.py /tmp/sf1 sf1    # -> BENCH_sf1.json

The correctness half (``CORRECTNESS_sf1.json``) is
``python tools/check_entries.py /tmp/sf1 --tag sf_scale --record sf1``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def merge_runs(runs: list[dict]) -> dict:
    """BENCH.md's noise convention: per-query MIN across the runs' full
    ``--out`` records, their sample counts and sampling seconds summed,
    and each run's own total kept so a later delta can be judged against
    the run-to-run spread instead of a single sample."""
    first = runs[0]
    queries = {q: min(r["queries"][q] for r in runs if q in r["queries"]) for q in first["queries"]}

    def total(key):
        return {q: sum(r[key].get(q, 0) for r in runs) for q in first[key]}

    return {
        **first,
        "queries": queries,
        "value": round(sum(queries.values()), 3),
        "samples": total("samples"),
        "spent_wall": total("spent_wall"),
        "run_totals": [r["value"] for r in runs],
        "convention": f"per-query min of {len(runs)} standalone runs (BENCH.md r10)",
    }


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/tmp/sf1"
    suffix = args[1] if len(args) > 1 else "sf1"
    # fresh JVM per run: an in-process session is warm in ways a
    # standalone run is not; each run writes its full record (with
    # `samples`) to its own --out file, never the committed BENCH_run.json
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    runs = []
    with tempfile.TemporaryDirectory() as tmp:
        for i in range(2):
            out = os.path.join(tmp, f"run{i}.json")
            subprocess.run(
                [sys.executable, os.path.join(ROOT, "bench.py"), "--out", out],
                env=env, check=True, cwd=ROOT, stdout=subprocess.DEVNULL,
            )
            with open(out) as f:
                runs.append(json.load(f))
    commit = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip() or "unknown"
    bench = merge_runs(runs)
    bench["provenance"] = {
        "sf_dir": sf_dir,
        "generator": "tools/gen_sf.py (deterministic seeds 4201-4209)",
        "commit": commit,
    }
    with open(os.path.join(ROOT, f"BENCH_{suffix}.json"), "w") as f:
        json.dump(bench, f, indent=2)
    print(f"bench total {bench['value']} s (runs: {bench['run_totals']}) -> BENCH_{suffix}.json")


if __name__ == "__main__":
    main()
