"""Builder-run correctness sweep for entries that do not fit the
driver's 50-slot front in the round they land:

    python tools/sweep_record.py <sf_dir> <suffix> name [name ...]

Writes/updates ``CORRECTNESS_<suffix>.json`` (e.g. suffix ``r13_sweep``;
``queries()`` and ``check_entries.py --never-recorded`` read only the
driver's ``CORRECTNESS_r<NN>.json``, so these stay unrecorded) with
one record per named entry, using the SAME compare/hash machinery as a
driver-gate sweep (sf_artifacts.compare_entry). Provenance is explicit
and in-file: ``mode: "builder-sweep (not driver)"`` plus the commit the
sweep ran on — a reader can always distinguish these records from
driver-produced CORRECTNESS_rN artifacts. The entries should still
rotate into a real driver front at the next opportunity.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from sf_artifacts import compare_entry  # noqa: E402


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from orientdb_spark import get_spark

    if len(sys.argv) < 4:
        sys.exit(__doc__)
    sf_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    path = os.path.join(ROOT, f"CORRECTNESS_{suffix}.json")
    corr = json.load(open(path)) if os.path.exists(path) else {}
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = [n for n in names if n not in queries or n not in oracles]
    assert not unknown, f"unknown or oracle-less entries: {unknown}"
    spark = get_spark(app_name="sweep_record")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    commit = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip() or "unknown"
    for name in names:
        corr[name] = compare_entry(spark, con, queries, oracles, name, sf_dir)
        corr[name]["swept_at_commit"] = commit
        status = "OK" if corr[name]["hash_match"] else f"FAIL {corr[name]['err']}"
        print(f"{name}: {status} ({corr[name]['spark_rows']} rows)", flush=True)
    n_entries = len([k for k in corr if not k.startswith("__")])
    ok = sum(
        1 for k, r in corr.items()
        if not k.startswith("__") and r.get("hash_match")
    )
    corr["__provenance__"] = {
        "sf_dir": sf_dir,
        "mode": "builder-sweep (not driver)",
        "entries": n_entries,
        "hash_green": ok,
        "commit": commit,
        "note": (
            "entries recorded here landed after the round's driver front "
            "was full; rotate them into the next driver front"
        ),
    }
    json.dump(corr, open(path, "w"), indent=1, sort_keys=True)
    print(f"recorded {len(names)} -> {path} ({ok}/{n_entries} green)")


if __name__ == "__main__":
    main()
