"""Optimistic transactions — buffered writes + commit-time conflict check.

Reference: core:tx/OTransactionOptimistic.java:22-45 — changes buffer in
the transaction; commit re-checks each touched record's version and
raises OConcurrentModificationException on a mismatch (test
tests:database/auto/TransactionOptimisticTest.java:40-90).

Spark adaptation: DML is class-granular copy-on-write (SURVEY §3.3), so
the transaction snapshots each class's table identity at begin and
buffers its own rewrites in an isolated overlay catalog. Commit checks
conflicts at RECORD granularity when the class has a stable record
identity (``rid_pos`` or the DML-allocated ``__rid_pos`` column): the
tx's write-set is diffed out of (snapshot vs overlay), every written
record must be unchanged in the live table relative to the snapshot
(same presence + same @version — the reference's per-record version
re-check), and a clean check REBASES the write-set onto the live table,
so concurrent commits touching disjoint records of the same class both
land. Overlaps raise OConcurrentModificationException; classes without
stable identity keep the class-granular first-committer-wins. Atomic
either way: all classes install or none, and the engine state is
untouched on failure.
"""

from __future__ import annotations

from contextlib import contextmanager

from orientdb_spark.errors import OConcurrentModificationException


class Transaction:
    def __init__(self, engine):
        self.engine = engine
        cat = engine.catalog
        # class name -> its table at begin / at the end of this tx's writes
        self._snapshot = {name: cat.get(name).df for name in cat.class_names()}
        self._overlay: dict[str, object] = {}
        self._active = True

    # -- buffered operations -----------------------------------------------------

    @contextmanager
    def _tx_view(self, names):
        """Swap the tx's buffered tables for ``names`` into the catalog and
        restore the live ones on exit. Plans cached against either view
        are dropped on both edges."""
        cat = self.engine.catalog
        saved = {name: cat.get(name).df for name in names}
        for name in names:
            if name in self._overlay:
                cat.get(name).df = self._overlay[name]
        self.engine._plan_cache.clear()
        try:
            yield
        finally:
            for name, df in saved.items():
                cat.get(name).df = df
            self.engine._plan_cache.clear()

    def command(self, text: str):
        """Run DML against the transaction's view: the engine executes on a
        temporary overlay and the result is captured into the tx buffer
        instead of the shared catalog."""
        self._check_active()
        from orientdb_spark.parser import parse

        target = getattr(parse(text), "class_name", None)
        if target is None:
            raise OConcurrentModificationException(
                "Only class-targeted DML participates in a transaction"
            )
        cls = self.engine.catalog.get(target)
        with self._tx_view([cls.name]):
            result = self.engine.command(text)
            self._overlay[cls.name] = cls.df
        return result

    def query(self, text: str):
        """Read inside the transaction: touched classes resolve to the
        buffered overlay (read-your-writes). Returns collected rows — a
        lazy plan would outlive the overlay scope."""
        self._check_active()
        with self._tx_view(list(self._overlay)):
            return self.engine.sql(text).collect()

    # -- lifecycle ---------------------------------------------------------------

    def commit(self) -> None:
        """Commit-time conflict check at per-record granularity where a
        stable rid exists (the reference's version re-check,
        OTransactionOptimistic.java:22-45), class-granular
        first-committer-wins otherwise. All validation runs before any
        class installs — atomicity across classes is preserved."""
        self._check_active()
        cat = self.engine.catalog
        installs: dict[str, object] = {}
        try:
            for name, ovl in self._overlay.items():
                cls = cat.get(name)
                cur = cls.df
                snap = self._snapshot.get(name)
                if cur is snap:
                    # nothing moved underneath us: install the overlay as-is
                    installs[name] = ovl
                    continue
                if snap is None:
                    # class did not exist at begin (created concurrently and
                    # then touched through the tx): no snapshot to diff a
                    # write-set against, so this is a class-granular conflict
                    raise OConcurrentModificationException(
                        f"Class '{name}' was created after the transaction began"
                    )
                installs[name] = self._rebase(cls, name, snap, cur, ovl)
        except BaseException:
            # any validation failure (conflict OR an unexpected analysis/
            # execution error inside the rebase) must deactivate the tx —
            # otherwise callers could retry commit on a half-validated state
            self._active = False
            raise
        for name, df in installs.items():
            cat.get(name).df = df
        self.engine._plan_cache.clear()
        self._active = False

    def _rebase(self, cls, name: str, snap, cur, ovl):
        """Per-record validation + rebase of this tx's write-set onto the
        live table. The write-set is the (snapshot vs overlay) diff keyed
        by rid; a record conflicts when the live table disagrees with the
        snapshot about it (presence or @version). Returns the merged
        DataFrame, or raises OConcurrentModificationException.

        Schema changes ride along even when the write-set is empty (e.g.
        an UPDATE that matched zero rows but introduced a new all-null
        column): the final unionByName(allowMissingColumns=True) takes
        the union of the live and overlay schemas, null-filling the live
        rows — pinned by test_tx_zero_row_update_schema_survives_rebase."""
        from pyspark.sql import functions as F

        from orientdb_spark.catalog import BACKING_VERSION_COL, RID_POS_COL

        if cls.rid_pos is not None:
            key = cls.rid_pos
        elif all(RID_POS_COL in d.columns for d in (snap, cur, ovl)):
            def key(df):
                return F.col(RID_POS_COL)
        else:
            # no stable record identity: class-granular first-committer-wins
            raise OConcurrentModificationException(
                f"Class '{name}' was modified since the transaction began"
            )

        def keyed(df, ver_name: str, present_name: str):
            ver = (
                F.coalesce(F.col(BACKING_VERSION_COL), F.lit(0))
                if BACKING_VERSION_COL in df.columns
                else F.lit(0)
            )
            return df.select(
                key(df).cast("string").alias("__rid"),
                ver.cast("int").alias(ver_name),
                F.lit(1).alias(present_name),
            )

        s = keyed(snap, "sv", "sp")
        o = keyed(ovl, "ov", "op")
        c = keyed(cur, "cv", "cp")
        write_set = s.join(o, "__rid", "full_outer").filter(
            (F.coalesce("sp", F.lit(0)) != F.coalesce("op", F.lit(0)))
            | (F.coalesce("sv", F.lit(-1)) != F.coalesce("ov", F.lit(-1)))
        )
        conflict = (
            write_set.join(c, "__rid", "left")
            .filter(
                # tx-inserted rid: must still be free in the live table;
                # tx-updated/deleted rid: must exist there with the
                # version the snapshot saw
                F.when(F.col("sp").isNull(), F.col("cp").isNotNull()).otherwise(
                    F.col("cp").isNull() | (F.col("cv") != F.col("sv"))
                )
            )
            .count()
        )
        if conflict:
            raise OConcurrentModificationException(
                f"{conflict} record(s) of class '{name}' were modified since "
                "the transaction began"
            )
        ws_ids = write_set.select("__rid")
        keep = (
            cur.withColumn("__rid", key(cur).cast("string"))
            .join(ws_ids, "__rid", "left_anti")
        )
        mine = (
            ovl.withColumn("__rid", key(ovl).cast("string"))
            .join(ws_ids, "__rid", "left_semi")
        )
        return keep.unionByName(mine, allowMissingColumns=True).drop("__rid")

    def rollback(self) -> None:
        self._check_active()
        self._overlay.clear()
        self._active = False

    def _check_active(self) -> None:
        if not self._active:
            raise OConcurrentModificationException("Transaction is no longer active")
