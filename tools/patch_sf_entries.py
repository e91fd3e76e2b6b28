"""Patch missing sf-scale rows into an existing CORRECTNESS_<sfx>.json
(the entry list can grow while a multi-hour sweep is already running):

    python tools/patch_sf_entries.py /tmp/sf5 sf5 [name ...]

With no names, every entry tagged "sf_scale" absent from the JSON is run.
Reuses sf_artifacts.compare_entry so the record shape and hash
convention are identical to a full sweep; provenance counters are
updated in place.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from sf_artifacts import compare_entry  # noqa: E402


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from orientdb_spark import get_spark
    from orientdb_spark.entries import tagged

    sf_dir, suffix = sys.argv[1], sys.argv[2]
    path = os.path.join(ROOT, f"CORRECTNESS_{suffix}.json")
    corr = json.load(open(path))
    names = sys.argv[3:] or [n for n in tagged("sf_scale") if n not in corr]
    if not names:
        print("nothing to patch")
        return
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    spark = get_spark(app_name="sf_patch")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    import subprocess

    commit = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip() or "unknown"
    for name in names:
        corr[name] = compare_entry(spark, con, queries, oracles, name, sf_dir)
        # per-entry provenance: a patched artifact mixes record vintages,
        # so every row it writes names the tree it ran on (r12 advice —
        # "50/50 green" must be distinguishable from "swept in one pass")
        corr[name]["patched_at_commit"] = commit
        status = "OK" if corr[name]["hash_match"] else f"FAIL {corr[name]['err']}"
        print(f"{name}: {status} ({corr[name]['spark_rows']} rows)", flush=True)
    prov = corr.get("__provenance__", {})
    entries = [n for n in corr if not n.startswith("__")]
    prov["entries"] = len(entries)
    prov["hash_green"] = sum(
        1 for n in entries if corr[n].get("hash_match")
    )
    # mark the artifact itself as mixed-vintage: mode="patched" plus the
    # patch ledger (which entries, at which commit) — rows WITHOUT a
    # patched_at_commit field date from the original sweep recorded in
    # the pre-existing provenance fields
    prov["mode"] = "patched"
    patches = prov.get("patches", [])
    patches.append({"commit": commit, "entries": sorted(names)})
    prov["patches"] = patches
    corr["__provenance__"] = prov
    with open(path, "w") as f:
        json.dump(corr, f, indent=2)
    print(f"patched {len(names)} -> {path} "
          f"({prov['hash_green']}/{prov['entries']} green)")
    spark.stop()


if __name__ == "__main__":
    main()
