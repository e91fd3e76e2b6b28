"""Re-run selected (or all) queries() entries against their oracle_sql()
at an arbitrary SF dir — the driver-gate sweep, runnable standalone:

    python tools/check_entries.py [sf_dir] [name ...]
    python tools/check_entries.py --never-recorded

``--never-recorded`` prints the registry entries that have NO driver
signature in any committed CORRECTNESS_r<NN>.json (builder sweeps and
sf artifacts do not count) and exits 1 if any exist (empty output =
every entry driver-recorded at least once). ``queries()`` puts these
entries first, so the driver's next record covers them.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def never_recorded() -> list[str]:
    import __spark_entry__ as entrymod

    recorded = entrymod.newest_rounds()
    return [n for n in entrymod.queries() if n not in recorded]


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def _close(a, b):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-6):
                return False
        elif str(x) != str(y):
            return False
    return True


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from orientdb_spark import get_spark

    args = sys.argv[1:]
    if "--never-recorded" in args:
        missing = never_recorded()
        for n in missing:
            print(n)
        sys.exit(1 if missing else 0)
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a]
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = names or [n for n in queries if n in oracles]
    spark = get_spark(app_name="entry_check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = 0
    for name in names:
        if name not in oracles:
            print(f"{name}: SKIP (no oracle)")
            continue
        try:
            df = queries[name](spark, sf_dir)
            cols = sorted(df.columns)
            srows = sorted(
                (tuple(_norm(r[c]) for c in cols) for r in df.collect()), key=repr
            )
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            assert sorted(ocols) == cols, f"columns {ocols} vs {df.columns}"
            idx = [ocols.index(c) for c in cols]
            orows = sorted(
                (tuple(_norm(row[i]) for i in idx) for row in res.fetchall()), key=repr
            )
            assert len(srows) == len(orows), f"rows {len(srows)} vs {len(orows)}"
            bad = [i for i, (s, o) in enumerate(zip(srows, orows)) if not _close(s, o)]
            assert not bad, f"first mismatch at {bad[0]}: {srows[bad[0]]} != {orows[bad[0]]}"
            print(f"{name}: OK ({len(srows)} rows)")
        except Exception as e:  # noqa: BLE001 — report-and-continue sweep
            failures += 1
            print(f"{name}: FAIL {e}")
    print(f"done: {len(names) - failures}/{len(names)} ok")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
