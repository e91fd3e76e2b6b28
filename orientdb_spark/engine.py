"""Engine — command dispatch + public API.

The analog of ODatabaseDocumentTx + the SQL command delegate
(core:sql/OCommandExecutorSQLDelegate.java:36-67): every statement type is
routed by leading keyword; SELECT compiles to a DataFrame, DML executes a
copy-on-write rewrite against the catalog.

Compile-once-execute-many: parsed/compiled plans are cached per SQL text,
mirroring the reference's compiledFilter caching
(core:sql/OCommandExecutorSQLSelect.java:75,86-88).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F

from orientdb_spark import sqlast as A
from orientdb_spark.catalog import Catalog
from orientdb_spark.errors import OCommandExecutionException
from orientdb_spark.functions import FunctionRegistry
from orientdb_spark.parser import parse
from orientdb_spark.select import SelectCompiler

# TPC-H-ish driver tables (TESTDATA.md) with their natural link structure, a
# stable key for @rid.pos, and small-dimension hints.
_TESTDATA_LINKS: dict[str, dict[str, tuple[str, str]]] = {
    "nation": {"n_regionkey": ("region", "r_regionkey")},
    "customer": {"c_nationkey": ("nation", "n_nationkey")},
    "supplier": {"s_nationkey": ("nation", "n_nationkey")},
    "orders": {"o_custkey": ("customer", "c_custkey")},
    "lineitem": {
        "l_orderkey": ("orders", "o_orderkey"),
        "l_partkey": ("part", "p_partkey"),
        "l_suppkey": ("supplier", "s_suppkey"),
    },
    "events": {"user_id": ("customer", "c_custkey")},
}

_TESTDATA_RID_POS: dict[str, object] = {
    "region": lambda df: F.col("r_regionkey"),
    "nation": lambda df: F.col("n_nationkey"),
    "customer": lambda df: F.col("c_custkey"),
    "supplier": lambda df: F.col("s_suppkey"),
    "part": lambda df: F.col("p_partkey"),
    "orders": lambda df: F.col("o_orderkey"),
    "lineitem": lambda df: F.col("l_orderkey") * 8 + F.col("l_linenumber"),
    "events": lambda df: F.col("event_id"),
    "documents": lambda df: F.col("doc_id"),
    "embeddings": lambda df: F.col("vec_id"),
}

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        # The reference's comparison coercion is lenient — a failed
        # string→number/date parse just doesn't match, never errors
        # (core:sql/filter/OSQLFilterCondition.java:73-103). Spark 4 defaults
        # ANSI on, where the same cast throws CAST_INVALID_INPUT; pin it off
        # for any caller-supplied session so compiled plans keep reference
        # semantics regardless of how the session was built (session.py's
        # get_spark also sets this; _coerce additionally uses try_cast so the
        # wildcard-expansion comparisons are config-proof either way).
        spark.conf.set("spark.sql.ansi.enabled", "false")
        self.catalog = Catalog()
        self.functions = FunctionRegistry()
        self._select = SelectCompiler(self)
        self._plan_cache: dict[str, DataFrame] = {}
        from orientdb_spark.dictionary import Dictionary
        from orientdb_spark.hooks import HookManager, fulltext_maintenance_hook

        from orientdb_spark.security import SecurityManager

        self.dictionary = Dictionary(self)
        self.security = SecurityManager()
        self.hooks = HookManager()
        # index maintenance runs as a hook, like the reference's
        # OPropertyIndexManager (core:index/OPropertyIndexManager.java)
        self.hooks.register(fulltext_maintenance_hook(self))
        self.intent: str | None = None

    # -- registration -----------------------------------------------------------

    def register_parquet_dir(self, sf_dir: str) -> None:
        """Register every driver table found in a TESTDATA scale-factor dir
        as an engine class, with TPC-H link structure declared so dotted
        navigation (l_orderkey.o_orderdate) compiles to joins."""
        # events.parquet carries TIMESTAMP(NANOS): pyspark 4.0 needs this
        # conf to read it at all (as epoch-nanos longs); on 4.1+ it's a
        # no-op (native TIMESTAMP_NTZ read). fix_event_nanos handles both.
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from orientdb_spark.streaming import fix_event_nanos as fix_nanos

        paths = {
            name: path
            for name in TESTDATA_TABLES
            if os.path.exists(path := os.path.join(sf_dir, f"{name}.parquet"))
        }
        # each class is read once, here; every read runs one schema-inference
        # job, so a few overlap instead of queueing one by one
        with ThreadPoolExecutor(max_workers=4) as pool:
            dfs = pool.map(lambda p: self.spark.read.parquet(p), paths.values())
            for name, df in zip(paths, dfs):
                self.catalog.register_class(
                    name,
                    df=fix_nanos(df) if name == "events" else df,
                    links=_TESTDATA_LINKS.get(name),
                    rid_pos=_TESTDATA_RID_POS.get(name),
                )
        self._plan_cache.clear()  # re-registered classes invalidate cached plans

    def register_dataframe(self, name: str, df: DataFrame, **kw) -> None:
        self.catalog.register_class(name, df=df, **kw)
        self._plan_cache.clear()  # a (re)registered class invalidates cached plans

    def register_function(self, name: str, builder, aggregate: bool = False) -> None:
        """UDF surface (core:sql/OSQLEngine.java registerFunction:43-45).
        A cached plan may have compiled the old meaning of ``name``."""
        self.functions.register(name, builder, aggregate)
        self._plan_cache.clear()

    def register_operator(self, name: str, builder) -> None:
        """Custom WHERE binary operator (OSQLHelper.registerOperator,
        core:sql/OSQLHelper.java:98-102). ``builder(left, right) -> Column``.
        Process-wide like the reference's static registry."""
        from orientdb_spark.operators import register_operator

        register_operator(name, builder)
        self._plan_cache.clear()

    # -- queries -----------------------------------------------------------------

    def set_role(self, role: str | None) -> None:
        """Select the session identity for security checks — None restores
        the admin identity (everything allowed, the reference's default
        admin user). Roles are defined via GRANT/REVOKE statements."""
        self.security.current_role = role

    def _enforce(self, cmd) -> None:
        """Role CRUD check at query entry (the reference checks READ on
        the target class before executing a SELECT —
        core:sql/OCommandExecutorSQLSelect.java:90,158-165 — and each
        write executor checks its verb). Runs before compilation: a
        denied statement costs zero Spark work."""
        sec = self.security
        if sec.current_role is None:
            return
        if isinstance(cmd, A.SelectCmd):
            tgt = cmd.target
            while isinstance(tgt, A.SelectCmd):  # subquery target
                tgt = tgt.target
            sec.check("read", getattr(tgt, "name", None))
        elif isinstance(cmd, A.InsertCmd):
            sec.check("create", cmd.class_name)
        elif isinstance(cmd, A.UpdateCmd):
            sec.check("update", cmd.class_name)
        elif isinstance(cmd, A.DeleteCmd):
            sec.check("delete", cmd.class_name)

    def sql(self, text: str, params: list | None = None) -> DataFrame:
        """Parse + compile a dialect statement. SELECT returns the lazy
        DataFrame; DML executes and returns a result DataFrame. Positional
        ``?`` placeholders bind from ``params`` (prepared-statement
        re-execution: the parsed command is cached, each call rebinds)."""
        key = (text, None if params is None else tuple(params))
        # admin sessions use the plan cache; with a restricted role active
        # every call re-parses so the permission check always runs
        if self.security.current_role is None:
            cached = self._plan_cache.get(key)
            if cached is not None:
                return cached
        cmd = parse(text)
        self._enforce(cmd)
        if A.has_params(cmd):
            cmd = A.bind_params(cmd, params)
        if isinstance(cmd, A.SelectCmd):
            df = self._select.compile(cmd)
            self._plan_cache[key] = df
            return df
        return self.command(text, _parsed=cmd)

    def query(self, text: str, params: list | None = None) -> list:
        """Synchronous query — collect results (OSQLSynchQuery analog)."""
        return self.sql(text, params=params).collect()

    def async_query(self, text: str, listener) -> None:
        """Push-based query (OSQLAsynchQuery + OCommandResultListener,
        core:sql/query/OSQLAsynchQuery.java:30-63): invoke ``listener(row)``
        per result; listener returning False stops consumption (the
        reference's abort-by-return-value, SQLSelect.java:228-242)."""
        it = self.sql(text).toLocalIterator()
        for row in it:
            if listener(row) is False:
                break

    def command(self, text: str, _parsed=None) -> DataFrame:
        cmd = parse(text) if _parsed is None else _parsed
        if _parsed is None:
            self._enforce(cmd)
        if isinstance(cmd, A.SelectCmd):
            return self._select.compile(cmd)
        from orientdb_spark.dml import execute_dml

        self._plan_cache.clear()  # DML invalidates cached plans
        return execute_dml(self, cmd)

    def explain(self, text: str, mode: str = "formatted") -> None:
        self.sql(text).explain(mode)

    def begin(self):
        """Open an optimistic transaction (OTransactionOptimistic analog):
        buffered DML, read-your-writes, commit-time conflict check."""
        from orientdb_spark.tx import Transaction

        return Transaction(self)

    def save_database(self, db_dir: str) -> None:
        """Persist all classes (parquet per class + JSON catalog) —
        SURVEY §7.1's backing store; collapses pending DML lineage."""
        from orientdb_spark.storage import save_database

        save_database(self, db_dir)

    def open_database(self, db_dir: str) -> None:
        """Load a saved database into this engine (schema, inheritance,
        links, constraints; FULLTEXT indexes rebuild)."""
        from orientdb_spark.storage import open_database

        open_database(self, db_dir)

    def append(self, class_name: str, df: DataFrame) -> DataFrame:
        """Bulk document append — one statement appends a whole DataFrame
        to a class (validation/unique/hooks/RID allocation as distributed
        passes; see dml.bulk_append). The massive-insert workload shape:
        pair with ``declare_intent('massiveinsert')`` to skip per-
        statement validation, the reference's OIntentMassiveInsert."""
        from orientdb_spark.dml import bulk_append

        result = bulk_append(self, class_name, df)
        self._plan_cache.clear()  # DML invalidates cached plans
        return result

    def declare_intent(self, name: str | None) -> None:
        """Workload intent (core:intent/OIntent.java, OIntentMassiveInsert
        .java:10-44 — coarse hints flipping cache/validation behavior):
        'massiveinsert' skips per-statement constraint validation during
        bulk load; 'massiveread' caches class scans; None resets."""
        if name is not None and name not in ("massiveinsert", "massiveread"):
            raise OCommandExecutionException(f"Unknown intent '{name}'")
        self.intent = name

    def table(self, name: str, with_meta: bool = False) -> DataFrame:
        df = self.catalog.dataframe(name, with_meta=with_meta)
        if self.intent == "massiveread":
            df = df.cache()
        return df
