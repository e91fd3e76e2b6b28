"""Class/schema catalog — the OSchema/OClass/OProperty analog.

Reference behavior reproduced (see SURVEY.md §1.3):
- class registry persisted as metadata (core:metadata/schema/OSchema.java:36+)
- class = name + properties + clusters + single-inheritance superclass
  (core:metadata/schema/OClass.java:34-46,103-118); property lookup walks the
  superclass chain (OClass.java:144-160)
- polymorphic scan = union of the class's and all subclasses' clusters
  (OClass.java:294, core:iterator/ORecordIteratorClass.java:36-51)
- records carry @rid / @class / @version metadata
  (core:id/ORecordId.java, core:record/ORecordAbstract.java)

Spark mapping: a class is one DataFrame (read once at registration, swapped
whole by copy-on-write DML), inheritance resolves to
``unionByName(allowMissingColumns=True)`` over the subclass DataFrames, and
the metadata pseudo-columns are materialized as real columns on demand so
Catalyst can prune/push down on them.

LINK properties (core:metadata/schema/OProperty.java linkedClass) are
generalized to value-based foreign keys: a link spec says "this column's
value equals <target class>.<target key>"; navigation across it compiles to
an equi-join (SURVEY §2.4). RID-valued links use target key ``@rid``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from orientdb_spark.errors import OSchemaException
from orientdb_spark.otypes import OType

# Engine metadata pseudo-columns (core:sql/filter/OSQLFilterItemRecordAttrib.java:24-60)
RID_COL = "@rid"
CLASS_COL = "@class"
VERSION_COL = "@version"
# hidden per-row version storage maintained by DML (surfaced as @version)
BACKING_VERSION_COL = "__version"
META_COLS = (RID_COL, CLASS_COL, VERSION_COL)
# schema-mixed overflow: per-record undeclared fields land in this
# map<string,string> column (ODocument accepts fields outside the declared
# schema, core:record/impl/ODocument.java:55-57; SURVEY §7 hard-part 1)
EXTRA_COL = "_extra"
# hidden stable RID position for classes without a declared key — assigned
# once per record by DML (persistent counter, like the reference's cluster
# position allocation) and carried through copy-on-write rewrites
RID_POS_COL = "__rid_pos"
# collapse DML plan lineage every N copy-on-write swaps: N sequential
# UPDATEs otherwise build an N-deep withColumn(when…) plan
DML_CHECKPOINT_EVERY = 8


@dataclass
class OProperty:
    """Schema property (core:metadata/schema/OProperty.java).

    ``linked_class``/``linked_key`` describe a value-based link: the column
    holds values of ``linked_class.linked_key`` (``@rid`` for true RID links).
    ``index_type`` in {None, 'unique', 'notunique', 'fulltext'}
    (OProperty.java:41-43).
    """

    name: str
    otype: OType | None = None
    linked_class: str | None = None
    linked_key: str | None = None
    mandatory: bool = False
    not_null: bool = False
    min: str | None = None
    max: str | None = None
    index_type: str | None = None


@dataclass
class OClass:
    """Schema class (core:metadata/schema/OClass.java:34-46)."""

    name: str
    cluster_id: int
    properties: dict[str, OProperty] = field(default_factory=dict)
    super_class: str | None = None
    # The class's table; swapped whole on DML rewrite (copy-on-write).
    df: DataFrame | None = None
    # Optional expression producing a stable long position for @rid.pos.
    rid_pos: Callable[[DataFrame], "F.Column"] | None = None
    # copy-on-write swap count (drives periodic lineage checkpoints)
    rewrites: int = 0
    # next RID position for DML-allocated records (persistent counter —
    # @rid stays stable across rewrites, unlike monotonically_increasing_id)
    next_rid: int = 0

    def lower_properties(self) -> dict[str, OProperty]:
        return {k.lower(): v for k, v in self.properties.items()}


class Catalog:
    """Registry of classes; name lookup is case-insensitive like the
    reference (class names matched ignoring case in
    core:metadata/schema/OSchema.java getClass)."""

    def __init__(self):
        self._classes: dict[str, OClass] = {}  # lower-name -> OClass
        self._next_cluster = 1

    # -- registration -----------------------------------------------------

    def register_class(
        self,
        name: str,
        df: DataFrame | None = None,
        super_class: str | None = None,
        links: dict[str, tuple[str, str]] | None = None,
        properties: list[OProperty] | None = None,
        rid_pos: Callable[[DataFrame], "F.Column"] | None = None,
        cluster_id: int | None = None,
    ) -> OClass:
        existing = self._classes.get(name.lower())
        if existing is not None and df is None:
            # Re-registration with no new storage must never destroy the
            # existing class's data/properties (the reference's
            # OSchema.createClass raises on an existing class — the DML
            # CREATE CLASS path enforces that; API-level re-registration
            # merges schema additions into the live class).
            if super_class is not None:
                existing.super_class = super_class
            for prop in properties or []:
                existing.properties[prop.name] = prop
            for col, (tgt, key) in (links or {}).items():
                p = existing.properties.get(col) or OProperty(name=col, otype=OType.LINK)
                p.linked_class, p.linked_key = tgt, key
                existing.properties[col] = p
            if rid_pos is not None:
                existing.rid_pos = rid_pos
            return existing
        if cluster_id is None:
            cluster_id = self._next_cluster
        self._next_cluster = max(self._next_cluster, cluster_id + 1)

        cls = OClass(
            name=name,
            cluster_id=cluster_id,
            super_class=super_class,
            df=df,
            rid_pos=rid_pos,
        )
        for prop in properties or []:
            cls.properties[prop.name] = prop
        for col, (tgt, key) in (links or {}).items():
            p = cls.properties.get(col) or OProperty(name=col, otype=OType.LINK)
            p.linked_class, p.linked_key = tgt, key
            cls.properties[col] = p
        self._classes[name.lower()] = cls
        return cls

    def set_dataframe(self, name: str, df: DataFrame) -> None:
        """Copy-on-write swap — the DML rewrite path. Every
        ``DML_CHECKPOINT_EVERY``-th swap materializes the plan
        (localCheckpoint) so a long-lived engine's statement stream keeps
        bounded plan depth instead of an ever-growing withColumn chain."""
        cls = self.get(name)
        cls.rewrites += 1
        if cls.rewrites % DML_CHECKPOINT_EVERY == 0:
            df = df.localCheckpoint(eager=True)
        cls.df = df

    # -- lookup ------------------------------------------------------------

    def has(self, name: str) -> bool:
        return name.lower() in self._classes

    def get(self, name: str) -> OClass:
        cls = self._classes.get(name.lower())
        if cls is None:
            raise OSchemaException(f"Class '{name}' was not found in current database")
        return cls

    def class_names(self) -> list[str]:
        return [c.name for c in self._classes.values()]

    def subclasses(self, name: str) -> list[OClass]:
        """The class + all transitive subclasses — the 'polymorphic cluster
        ids' set (core:metadata/schema/OClass.java:294)."""
        root = self.get(name)
        out = [root]
        frontier = {root.name.lower()}
        changed = True
        while changed:
            changed = False
            for cls in self._classes.values():
                if (
                    cls.super_class
                    and cls.super_class.lower() in frontier
                    and cls.name.lower() not in frontier
                ):
                    out.append(cls)
                    frontier.add(cls.name.lower())
                    changed = True
        return out

    def find_property(self, cls: OClass, prop: str) -> OProperty | None:
        """Walk the superclass chain (OClass.java:144-160)."""
        cur: OClass | None = cls
        prop_l = prop.lower()
        while cur is not None:
            hit = cur.lower_properties().get(prop_l)
            if hit is not None:
                return hit
            cur = self.get(cur.super_class) if cur.super_class else None
        return None

    # -- scan --------------------------------------------------------------

    def dataframe(
        self,
        name: str,
        polymorphic: bool = True,
        with_meta: bool = False,
        internal: bool = False,
    ) -> DataFrame:
        """Class scan. ``polymorphic=True`` unions subclass tables — the
        ORecordIteratorClass behavior (core:iterator/ORecordIteratorClass.java:36-51).
        ``with_meta`` materializes @rid/@class/@version as real columns;
        ``internal`` keeps the hidden version backing column (DML rewrites
        need it to preserve versions across copy-on-write)."""
        classes = self.subclasses(name) if polymorphic else [self.get(name)]
        parts: list[DataFrame] = []
        for cls in classes:
            df = cls.df
            if df is None:
                continue
            if with_meta:
                df = self._with_meta(df, cls, keep_backing=internal)
            elif not internal:
                hidden = [c for c in (BACKING_VERSION_COL, RID_POS_COL) if c in df.columns]
                if hidden:
                    df = df.drop(*hidden)
            parts.append(df)
        if not parts:
            raise OSchemaException(f"Class '{name}' has no records/storage")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def _with_meta(self, df: DataFrame, cls: OClass, keep_backing: bool = False) -> DataFrame:
        if RID_COL in df.columns:
            return df
        if cls.rid_pos is not None:
            pos = cls.rid_pos(df)
        elif RID_POS_COL in df.columns:
            # DML-allocated stable positions (persistent counter)
            pos = F.col(RID_POS_COL)
        else:
            pos = F.monotonically_increasing_id()
        # per-record version for optimistic MVCC: DML bumps the hidden
        # backing column on matched rows (core:tx/OTransactionOptimistic
        # re-checks it at commit; SURVEY §4 MVCC row)
        version = (
            F.coalesce(F.col(BACKING_VERSION_COL), F.lit(0))
            if BACKING_VERSION_COL in df.columns
            else F.lit(0)
        )
        out = (
            df.withColumn(
                RID_COL,
                F.struct(
                    F.lit(cls.cluster_id).cast("int").alias("cluster"),
                    pos.cast("long").alias("pos"),
                ),
            )
            .withColumn(CLASS_COL, F.lit(cls.name))
            .withColumn(VERSION_COL, version.cast("int"))
        )
        if not keep_backing:
            hidden = [c for c in (BACKING_VERSION_COL, RID_POS_COL) if c in df.columns]
            if hidden:
                out = out.drop(*hidden)
        return out

    def cluster_dataframe(self, cluster: str, with_meta: bool = False) -> DataFrame:
        """cluster:<name> target — scan one cluster bypassing class
        semantics (core:sql/OCommandExecutorSQLSelect.java:179-194). Here a
        class's own (non-polymorphic) table."""
        return self.dataframe(cluster, polymorphic=False, with_meta=with_meta)
