"""1M-document DML bench — the last BASELINE.md workload shape with no
repo analog (r10 verdict item 8): the reference's single-thread massive
insert (tests/.../speed/LocalCreateDocumentSpeedTest.java:42,52-67 — 1M
× 5-field Account documents, OIntentMassiveInsert, no tx) plus a
version-bump pass over the same 1M rows (the UPDATE analog of the
reference's record rewrite).

    python tools/bench_dml.py [n_rows]

Prints one JSON line {"insert_1m_sec": ..., "update_bump_sec": ...,
"rows": N, "docs_per_sec": ...}. The insert timing covers
Engine.append() (RID prefix-sum allocation + union) AND a full forced
materialization of the resulting class (count + save-style collapse via
localCheckpoint) so lazy lineage can't flatter the number; the update
timing covers the UPDATE statement plus the same forced collapse."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from orientdb_spark import Engine, get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark(app_name="bench_dml")
    eng = Engine(spark)
    eng.command("create class Account")
    eng.command("create property Account.id integer")

    # the reference's 5-field payload: id, name, surname, birthDate,
    # salary (LocalCreateDocumentSpeedTest.cycle()); declared id plus
    # four schema-declared-by-first-write columns
    for p, t in (("name", "string"), ("surname", "string"),
                 ("birthDate", "date"), ("salary", "float")):
        eng.command(f"create property Account.{p} {t}")
    src = spark.range(n).select(
        F.col("id").cast("int").alias("id"),
        F.lit("Luca").alias("name"),
        F.lit("Garulli").alias("surname"),
        F.current_date().alias("birthDate"),
        (F.lit(3000.0) + F.col("id")).cast("float").alias("salary"),
    ).localCheckpoint(eager=True)  # input pre-materialized: time DML, not range()

    eng.declare_intent("massiveinsert")
    t0 = time.time()
    inserted = eng.append("Account", src).first()["inserted"]
    # force the write path to a materialized table (the reference's
    # embedded storage persists each save; collapse the union lineage)
    eng.catalog.set_dataframe(
        "Account", eng.catalog.get("Account").df.localCheckpoint(eager=True)
    )
    t_insert = time.time() - t0
    eng.declare_intent(None)
    assert inserted == n, (inserted, n)

    t0 = time.time()
    eng.command("update Account set salary = salary + 1")
    eng.catalog.set_dataframe(
        "Account", eng.catalog.get("Account").df.localCheckpoint(eager=True)
    )
    t_update = time.time() - t0
    versions = eng.query("select distinct(@version) as v from Account")
    assert {r["v"] for r in versions} == {1}, versions

    # the indexed-insert shape (LocalCreateIndexedDocumentSpeedTest):
    # another N rows appended with a UNIQUE index maintained and
    # validation ON — the unique probe is one distributed aggregation
    # over the written table, the Spark analog of the per-record index
    # probe
    eng.command("create index Account.id unique")
    src2 = spark.range(n, 2 * n).select(
        F.col("id").cast("int").alias("id"),
        F.lit("Luca").alias("name"),
        F.lit("Garulli").alias("surname"),
        F.current_date().alias("birthDate"),
        (F.lit(3000.0) + F.col("id")).cast("float").alias("salary"),
    ).localCheckpoint(eager=True)
    t0 = time.time()
    inserted2 = eng.append("Account", src2).first()["inserted"]
    eng.catalog.set_dataframe(
        "Account", eng.catalog.get("Account").df.localCheckpoint(eager=True)
    )
    t_indexed = time.time() - t0
    assert inserted2 == n, (inserted2, n)

    print(json.dumps({
        "insert_1m_sec": round(t_insert, 3),
        "update_bump_sec": round(t_update, 3),
        "indexed_insert_sec": round(t_indexed, 3),
        "rows": n,
        "docs_per_sec": round(n / t_insert),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
