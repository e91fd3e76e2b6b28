"""Check registry entries against their DuckDB oracles at any SF dir (the
driver's correctness check, run standalone), and optionally record them:

    python tools/check_entries.py [sf_dir] [name ...] [--tag TAG] [--record SUFFIX]
    python tools/check_entries.py --never-recorded

With no names and no tag it checks every entry that has an oracle
(default sf_dir: sf0.01). ``--record SUFFIX`` merges the driver-shaped
records into ``CORRECTNESS_<SUFFIX>.json``: each entry carries the
``commit`` it ran on, and the file's ``__provenance__`` block counts the
entries and the hash-green ones. Entries picked by ``--tag`` that the
file already holds are skipped, so a sweep resumes where it stopped; name
an entry to re-record it. Suffixes ``r<NN>`` are refused: those files are
the driver's own records, which ``queries()`` orders itself by.

    python tools/check_entries.py /tmp/sf1 --tag sf_scale --record sf1

regenerates the above-driver-scale evidence (inputs from
``tools/gen_sf.py``). The ``sf_scale`` tag holds the entries whose oracle
stays tractable at sf1 (linear, or bounded by fixed query panels and
bucket caps). Excluded by that rule: sequential-replay oracles like
CUSUM/Kruskal and the sparse-exactness HyperBall fixture (sf<=0.01
constructions), quadratic pair scans (sim_bitext_mine; dedup_semantic's
within-cell scan over a fixed 16 cells) and sim_index_persist (a multi-GB
index write per run; its file pruning is plan-pinned in
tests/test_ivf_index.py). Time a new oracle at sf1 before tagging it.

``--never-recorded`` prints the registry entries that have NO driver
signature in any committed CORRECTNESS_r<NN>.json (builder sweeps and
sf artifacts do not count) and exits 1 if any exist (empty output =
every entry driver-recorded at least once). ``queries()`` puts these
entries first, so the driver's next record covers them.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def never_recorded() -> list[str]:
    import __spark_entry__ as entrymod

    recorded = entrymod.newest_rounds()
    return [n for n in entrymod.queries() if n not in recorded]


def record_path(suffix: str) -> str:
    if re.fullmatch(r"r\d+", suffix):
        raise SystemExit(
            f"refusing --record {suffix}: CORRECTNESS_{suffix}.json would read as a driver record"
        )
    return os.path.join(ROOT, f"CORRECTNESS_{suffix}.json")


def write_records(path: str, records: dict[str, dict], sf_dir: str, commit: str) -> dict:
    """Merge ``records`` into the JSON file at ``path``, keeping the
    entries it already holds; returns the merged content."""
    corr = {}
    if os.path.exists(path):
        with open(path) as f:
            corr = json.load(f)
    prov = corr.pop("__provenance__", {})
    if os.path.normpath(prov.get("sf_dir", sf_dir)) != os.path.normpath(sf_dir):
        raise SystemExit(f"{path} holds records from {prov['sf_dir']}, not {sf_dir}")
    corr.update({name: rec | {"commit": commit} for name, rec in records.items()})
    prov |= {
        "sf_dir": sf_dir,
        "entries": len(corr),
        "hash_green": sum(1 for r in corr.values() if r.get("hash_match")),
    }
    corr = {"__provenance__": prov, **corr}
    with open(path, "w") as f:
        json.dump(corr, f, indent=2)
    return corr


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("targets", nargs="*", help="[sf_dir] [name ...]")
    ap.add_argument("--tag", help="check the entries carrying this registry tag")
    ap.add_argument("--record", metavar="SUFFIX", help="merge into CORRECTNESS_<SUFFIX>.json")
    ap.add_argument("--never-recorded", action="store_true")
    args = ap.parse_args(argv)
    if args.never_recorded:
        missing = never_recorded()
        for n in missing:
            print(n)
        sys.exit(1 if missing else 0)
    path = record_path(args.record) if args.record else None

    import __spark_entry__ as entrymod
    from orientdb_spark import get_spark
    from orientdb_spark.entries import compare, oracle_db, tagged

    names = args.targets
    sf_dir = names.pop(0) if names and "/" in names[0] else "/root/testdata/sf0.01"
    commit = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip() or "unknown"
    # an empty merge checks the file's sf_dir before any work is done
    done = write_records(path, {}, sf_dir, commit) if path else {}
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if args.tag:
        names += [n for n in tagged(args.tag) if n not in done and n not in names]
    elif not names:
        names = [n for n in queries if n in oracles]
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown entries: {unknown}")
    spark = get_spark(app_name="entry_check")
    con = oracle_db(sf_dir)
    records = {}
    for name in names:
        if name not in oracles:
            print(f"{name}: SKIP (no oracle)")
            continue
        try:
            rec = compare(queries[name](spark, sf_dir), con, oracles[name])
        except Exception as e:  # noqa: BLE001 — report-and-continue sweep
            rec = {"rows_match": False, "schema_match": False, "hash_match": False,
                   "spark_rows": None, "oracle_rows": None, "err": f"{type(e).__name__}: {e}"[:300]}
        records[name] = rec
        status = "OK" if rec["hash_match"] else f"FAIL {rec['err']}"
        print(f"{name}: {status} ({rec['spark_rows']} rows)", flush=True)
        if path:  # after each entry, so a long sweep that dies keeps what it did
            write_records(path, {name: rec}, sf_dir, commit)
    ok = sum(1 for r in records.values() if r["hash_match"])
    print(f"done: {ok}/{len(records)} ok" + (f" -> {path}" if path else ""))
    con.close()
    spark.stop()
    sys.exit(0 if ok == len(records) else 1)


if __name__ == "__main__":
    main()
