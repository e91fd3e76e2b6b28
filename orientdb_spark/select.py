"""SELECT command → DataFrame plan.

Mirrors the reference's execution stages
(core:sql/OCommandExecutorSQLSelect.java:151-209 execute, :507-553 post-ops):
target scan → WHERE filter → [TRAVERSE filter] → [aggregate] → ORDER BY →
FLATTEN → projection → LIMIT — but each stage emits DataFrame operators, so
Catalyst owns access paths: predicate pushdown replaces the reference's
index-vs-scan choice (:372-429), CollectLimit replaces the listener
short-circuit (:228-242), and Tungsten replaces the in-memory sorter
(core:sort/ODocumentSorter.java).

Scale notes (100 TB design):
- metadata columns (@rid/@class/@version) are only materialized when the
  query references them — otherwise scans stay prunable parquet reads.
- ORDER BY+LIMIT compiles to orderBy().limit() which Spark executes as
  TakeOrderedAndProject (no global sort).
- link navigation joins are LEFT equi-joins; small dimension sides get
  broadcast (Scope._ensure_link_join), big ones AQE-planned.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import Column, DataFrame, functions as F

from orientdb_spark import sqlast as A
from orientdb_spark.catalog import META_COLS, RID_COL
from orientdb_spark.errors import OCommandExecutionException, OCommandSQLParsingException
from orientdb_spark.expressions import (
    Scope,
    compile_condition,
    compile_expr,
    contains_aggregate,
    rid_struct,
    uses_meta,
)


def _auto_name(e: A.Expr, used: set[str]) -> str:
    """Projection auto-naming with numeric-suffix collision handling
    (core:sql/OCommandExecutorSQLSelect.java:476-478)."""
    if isinstance(e, A.FieldPath):
        fields = [p.name for p in e.parts if isinstance(p, A.FieldPart)]
        base = fields[-1] if fields else "value"
    elif isinstance(e, A.Func):
        base = e.name
    elif isinstance(e, A.Attr):
        base = e.name.lstrip("@")
    elif isinstance(e, A.ColIdx):
        base = f"column{e.index}"
    else:
        base = "value"
    name = base
    n = 1
    while name in used:
        n += 1
        name = f"{base}{n}"
    used.add(name)
    return name


def _split_conjuncts(e: A.Expr | None) -> list[A.Expr]:
    if e is None:
        return []
    if isinstance(e, A.And):
        return _split_conjuncts(e.left) + _split_conjuncts(e.right)
    return [e]


def _has_traverse(e: A.Expr) -> bool:
    if isinstance(e, A.BinCond) and e.op == "traverse":
        return True
    for attr in ("left", "right", "operand"):
        sub = getattr(e, attr, None)
        if isinstance(sub, A.Expr) and _has_traverse(sub):
            return True
    return False


def _cmd_uses_meta(cmd: A.SelectCmd) -> bool:
    if cmd.range_ is not None or isinstance(cmd.target, A.RidTarget):
        return True
    if uses_meta(cmd.where):
        return True
    if cmd.where is not None and _has_traverse(cmd.where):
        return True  # traverse identifies origins by @rid
    for p in cmd.projections:
        if uses_meta(p.expr):
            return True
    for o in cmd.order_by or []:
        if uses_meta(o.expr):
            return True
    for g in cmd.group_by or []:
        if uses_meta(g):
            return True
    return False


class SelectCompiler:
    def __init__(self, engine):
        self.engine = engine

    def _indexed_containstext(self, cls, conj):
        """(prop_name, search_text) when this conjunct is CONTAINSTEXT on a
        FULLTEXT-indexed property with a built index — the access-path
        choice of the reference's searchForIndexes
        (core:sql/OCommandExecutorSQLSelect.java:372-429): answer from the
        inverted index instead of scanning. Polymorphic targets with
        subclasses keep the scan (the index covers one class's rows)."""
        from orientdb_spark.fulltext import store

        if not (isinstance(conj, A.BinCond) and conj.op == "containstext"):
            return None
        left, right = conj.left, conj.right
        if not (
            isinstance(left, A.FieldPath)
            and len(left.parts) == 1
            and isinstance(left.parts[0], A.FieldPart)
        ):
            return None
        if not (isinstance(right, A.Lit) and isinstance(right.value, str)):
            return None
        if cls is None or len(self.engine.catalog.subclasses(cls.name)) != 1:
            return None
        pname = left.parts[0].name
        prop = self.engine.catalog.find_property(cls, pname)
        if prop is None or prop.index_type != "fulltext":
            return None
        if store(self.engine).get(cls.name, pname) is None:
            return None
        return (pname, right.value)

    def _class_of_target(self, t):
        if isinstance(t, (A.ClassTarget, A.ClusterTarget)):
            try:
                return self.engine.catalog.get(t.name)
            except Exception:
                return None
        return None

    def compile(self, cmd: A.SelectCmd) -> DataFrame:
        catalog = self.engine.catalog
        with_meta = _cmd_uses_meta(cmd)
        # index-answered CONTAINSTEXT semijoins on @rid → need metadata
        pre_cls = self._class_of_target(cmd.target)
        if not with_meta and pre_cls is not None:
            with_meta = any(
                self._indexed_containstext(pre_cls, c) is not None
                for c in _split_conjuncts(cmd.where)
            )

        # --- target scan (SURVEY §2.1) ---
        cls = None
        t = cmd.target
        if isinstance(t, A.SelectCmd):
            df = self.compile(t)
        elif isinstance(t, A.ClassTarget):
            cls = catalog.get(t.name)
            df = catalog.dataframe(t.name, polymorphic=True, with_meta=with_meta)
        elif isinstance(t, A.ClusterTarget):
            cls = catalog.get(t.name)
            df = catalog.cluster_dataframe(t.name, with_meta=with_meta)
        elif isinstance(t, A.RidTarget):
            df, cls = self._rid_target(t)
        else:
            raise OCommandExecutionException(f"Bad target {t!r}")

        scope = Scope(catalog=catalog, functions=self.engine.functions, df=df, cls=cls)

        # --- RANGE: keyset pagination on @rid (SQLSelect.java:303-343) ---
        range_cond: Column | None = None
        if cmd.range_ is not None:
            lo, hi = cmd.range_
            range_cond = F.col(f"`{RID_COL}`") >= rid_struct(lo.cluster, lo.pos)
            if hi is not None:
                range_cond = range_cond & (
                    F.col(f"`{RID_COL}`") <= rid_struct(hi.cluster, hi.pos)
                )

        # --- WHERE: split out TRAVERSE conjuncts (handled iteratively) and
        #     index-answerable CONTAINSTEXT conjuncts (semijoin) ---
        plain: list[A.Expr] = []
        traverses: list[A.BinCond] = []
        index_hits: list[tuple[str, str]] = []
        for conj in _split_conjuncts(cmd.where):
            if _has_traverse(conj):
                if isinstance(conj, A.BinCond) and conj.op == "traverse":
                    traverses.append(conj)
                else:
                    raise OCommandSQLParsingException(
                        "TRAVERSE may only appear as a top-level AND conjunct"
                    )
                continue
            hit = self._indexed_containstext(cls, conj)
            if hit is not None:
                index_hits.append(hit)
            else:
                plain.append(conj)

        if index_hits:
            from orientdb_spark.fulltext import store

            for pname, text in index_hits:
                idx = store(self.engine).get(cls.name, pname)
                postings = idx.filter(F.col("term") == text.lower()).select(F.col("rid"))
                scope.df = scope.df.join(
                    postings, scope.df[RID_COL] == postings["rid"], "left_semi"
                )

        filter_col: Column | None = None
        for conj in plain:
            c = compile_condition(scope, conj)
            filter_col = c if filter_col is None else (filter_col & c)
        if range_cond is not None:
            filter_col = range_cond if filter_col is None else (filter_col & range_cond)
        if filter_col is not None:
            scope.df = scope.df.filter(filter_col)

        if traverses:
            from orientdb_spark.traverse import apply_traverse_filter

            for tcond in traverses:
                scope.df = apply_traverse_filter(self.engine, scope, tcond)

        # --- FLATTEN replaces the result set (SQLSelect.java:481-491,518-536) ---
        if cmd.flatten is not None:
            return self._flatten(scope, cmd)

        # --- aggregate? ---
        has_agg = bool(cmd.group_by) or any(
            contains_aggregate(p.expr, self.engine.functions) for p in cmd.projections
        )
        if has_agg:
            return self._aggregate(scope, cmd)

        return self._plain_select(scope, cmd)

    # -- target helpers ---------------------------------------------------------

    def _rid_target(self, t: A.RidTarget):
        """SELECT FROM 10:3 / FROM [10:0, 10:1]
        (core:sql/OCommandExecutorSQLSelect.java:195-203)."""
        catalog = self.engine.catalog
        clusters = {r.cluster for r in t.rids}
        parts = []
        cls = None
        for name in catalog.class_names():
            c = catalog.get(name)
            if c.cluster_id in clusters and c.df is not None:
                cls = c
                parts.append(catalog.dataframe(name, polymorphic=False, with_meta=True))
        if not parts:
            raise OCommandExecutionException(f"No class for cluster(s) {sorted(clusters)}")
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        conds = [
            (F.col(f"`{RID_COL}`") == rid_struct(r.cluster, r.pos)) for r in t.rids
        ]
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        return df.filter(cond), cls

    # -- stages ------------------------------------------------------------------

    def _flatten(self, scope: Scope, cmd: A.SelectCmd) -> DataFrame:
        field = cmd.flatten
        col = scope.resolve_path([A.FieldPart(field)])
        df = scope.df.select(F.explode(col).alias(field))
        # embedded docs expand to columns; scalars stay a single column
        dtype = df.schema[field].dataType
        from pyspark.sql import types as T

        if isinstance(dtype, T.StructType):
            df = df.select(f"`{field}`.*")
        if cmd.limit is not None:
            df = df.limit(cmd.limit)
        return df

    def _plain_select(self, scope: Scope, cmd: A.SelectCmd) -> DataFrame:
        # compile projections first (they may add link joins to scope.df)
        used: set[str] = set()
        proj_cols: list[Column] = []
        proj_names: list[str] = []
        for p in cmd.projections:
            if isinstance(p.expr, A.Star):
                for c in scope.data_columns():
                    proj_cols.append(F.col(f"`{c}`"))
                    proj_names.append(c)
                    used.add(c)
                continue
            name = p.alias or _auto_name(p.expr, used)
            if p.alias:
                if p.alias in proj_names:
                    # duplicate explicit alias is an error (:465-467)
                    raise OCommandSQLParsingException(f"Duplicate projection alias '{p.alias}'")
                used.add(p.alias)
            proj_cols.append(compile_expr(scope, p.expr).alias(name))
            proj_names.append(name)

        order_cols: list[Column] = []
        for o in cmd.order_by or []:
            # alias reference? (order by an output column name)
            target: Column | None = None
            if isinstance(o.expr, A.FieldPath) and len(o.expr.parts) == 1:
                nm = o.expr.head()
                if nm in proj_names:
                    target = F.col(f"`{nm}`")
            if target is None:
                target = compile_expr(scope, o.expr)
            order_cols.append(target.asc() if o.ascending else target.desc())

        df = scope.df

        if not cmd.projections:
            # identity projection: full records, metadata/join columns dropped
            out_cols = [c for c in scope.data_columns()]
            if cmd.order_by:
                df = df.orderBy(*order_cols)
            df = df.select(*[F.col(f"`{c}`") for c in out_cols])
            if cmd.distinct:
                df = df.distinct()
            if cmd.limit is not None:
                df = df.limit(cmd.limit)
            return df

        if cmd.distinct:
            df = df.select(*proj_cols).distinct()
            if cmd.order_by:
                df = df.orderBy(*order_cols)  # must reference output columns
        else:
            if cmd.order_by:
                # hidden sort keys so ORDER BY can use non-projected fields;
                # order on the projected output when an alias matches
                sort_exprs: list[Column] = []
                select_list = list(proj_cols)
                for i, o in enumerate(cmd.order_by or []):
                    if (
                        isinstance(o.expr, A.FieldPath)
                        and len(o.expr.parts) == 1
                        and o.expr.head() in proj_names
                    ):
                        c = F.col(f"`{o.expr.head()}`")
                    else:
                        hname = f"__ord_{i}"
                        select_list.append(compile_expr(scope, o.expr).alias(hname))
                        c = F.col(hname)
                    sort_exprs.append(c.asc() if o.ascending else c.desc())
                df = df.select(*select_list).orderBy(*sort_exprs)
                df = df.select(*[F.col(f"`{n}`") for n in proj_names])
            else:
                df = df.select(*proj_cols)
        if cmd.limit is not None:
            df = df.limit(cmd.limit)
        return df

    def _aggregate(self, scope: Scope, cmd: A.SelectCmd) -> DataFrame:
        registry = self.engine.functions
        used: set[str] = set()
        group_exprs = list(cmd.group_by or [])

        group_cols: list[Column] = []
        agg_cols: list[Column] = []
        proj_names: list[str] = []
        extra_group: list[A.Expr] = []

        projected_group_asts: list[A.Expr] = []
        for p in cmd.projections:
            name = p.alias or _auto_name(p.expr, used)
            if p.alias:
                used.add(p.alias)
            if contains_aggregate(p.expr, registry):
                agg_cols.append(compile_expr(scope, p.expr).alias(name))
            else:
                group_cols.append(compile_expr(scope, p.expr).alias(name))
                projected_group_asts.append(p.expr)
            proj_names.append(name)

        # group_by entries not projected still group (then get dropped)
        for i, g in enumerate(group_exprs):
            if g not in projected_group_asts:
                group_cols.append(compile_expr(scope, g).alias(f"__grp_{i}"))

        # HAVING: aggregates inside become hidden agg columns
        having_ast = cmd.having
        hidden_n = 0

        def rewrite_having(e: A.Expr) -> A.Expr:
            nonlocal hidden_n
            if isinstance(e, A.Func) and registry.is_aggregate(e.name):
                hname = f"__hav_{hidden_n}"
                hidden_n += 1
                agg_cols.append(compile_expr(scope, e).alias(hname))
                return A.FieldPath([A.FieldPart(hname)])
            for attr in ("left", "right", "operand", "low", "high"):
                sub = getattr(e, attr, None)
                if isinstance(sub, A.Expr):
                    setattr(e, attr, rewrite_having(sub))
            return e

        if having_ast is not None:
            having_ast = rewrite_having(having_ast)

        # ORDER BY aggregates likewise
        order_specs: list[tuple[str | A.Expr, bool]] = []
        for o in cmd.order_by or []:
            if contains_aggregate(o.expr, registry):
                hname = f"__ord_{hidden_n}"
                hidden_n += 1
                agg_cols.append(compile_expr(scope, o.expr).alias(hname))
                order_specs.append((hname, o.ascending))
            else:
                order_specs.append((o.expr, o.ascending))

        if not agg_cols:
            raise OCommandSQLParsingException("GROUP BY without aggregate projection")

        df = scope.df
        if group_cols:
            out = df.groupBy(*group_cols).agg(*agg_cols)
        else:
            out = df.agg(*agg_cols)

        post = Scope(catalog=self.engine.catalog, functions=registry, df=out, cls=None)
        if having_ast is not None:
            out = out.filter(compile_condition(post, having_ast))
            post.df = out
        if order_specs:
            sort_cols = []
            for spec, asc in order_specs:
                c = F.col(f"`{spec}`") if isinstance(spec, str) else compile_expr(post, spec)
                sort_cols.append(c.asc() if asc else c.desc())
            out = out.orderBy(*sort_cols)
        out = out.select(*[F.col(f"`{n}`") for n in proj_names])
        if cmd.distinct:
            out = out.distinct()
        if cmd.limit is not None:
            out = out.limit(cmd.limit)
        return out
