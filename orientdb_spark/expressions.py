"""Expression compiler: SQL-dialect AST → pyspark.sql.Column.

This is the analog of the reference's per-record evaluation machinery —
condition tree evaluate (core:sql/filter/OSQLFilterCondition.java:56-103),
item resolution (core:sql/filter/OSQLFilterItemAbstract.java:120-249),
operator registry (core:sql/OSQLHelper.java:63-68) — but instead of
interpreting per row it emits declarative Column expressions, so the whole
WHERE tree stays visible to Catalyst (pushdown / pruning / codegen; see
SURVEY §4 conclusion: no UDFs in the hot path).

Link navigation (`location.city.name` crossing LINK fields,
core:record/impl/ODocument.java:460-484 lazy dot-descent) compiles to a
chain of LEFT joins registered on the Scope; null propagation through a
missing link matches rawField's ignore-to-null behavior. Dimension-side
joins are broadcast when small (Catalyst/AQE decides; the catalog marks
dims via autoBroadcastJoinThreshold).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, functions as F, types as T

from orientdb_spark import sqlast as A
from orientdb_spark.catalog import CLASS_COL, META_COLS, RID_COL, VERSION_COL, Catalog, OClass
from orientdb_spark.errors import OCommandExecutionException, OCommandSQLParsingException
from orientdb_spark.functions import FunctionRegistry

# reference date formats (storage-config defaults used by
# core:sql/filter/OSQLFilterCondition.java:132-162 getDate)
DATE_FORMAT = "yyyy-MM-dd"
DATETIME_FORMAT = "yyyy-MM-dd HH:mm:ss"


class TraverseInFilter(Exception):
    """Raised when a TRAVERSE condition is found where a plain Column is
    required — the SELECT compiler handles traverse via iterative joins
    (SURVEY §2.3 TRAVERSE row) and must extract it before compiling."""


def rid_struct(cluster: int, pos: int) -> Column:
    return F.struct(
        F.lit(cluster).cast("int").alias("cluster"), F.lit(pos).cast("long").alias("pos")
    )


@dataclass
class Scope:
    """Name-resolution context. ``df`` is mutated as link joins are added;
    the SELECT compiler uses scope.df as the final plan root.

    ``element`` non-None means we're inside a CONTAINS/CONTAINSALL lambda
    (core:sql/operator/OQueryOperatorContains.java:39-66) and field heads
    resolve against the collection element instead of the record.
    """

    catalog: Catalog | None
    functions: FunctionRegistry
    df: DataFrame | None
    cls: OClass | None = None
    element: Column | None = None
    # (link path prefix tuple) -> (column prefix, target OClass)
    link_joins: dict[tuple[str, ...], tuple[str, OClass]] = dc_field(default_factory=dict)
    _join_n: int = 0

    # -- helpers -------------------------------------------------------------

    def data_columns(self) -> list[str]:
        assert self.df is not None
        from orientdb_spark.catalog import EXTRA_COL

        # _extra is the schema-mixed overflow container, not a user field:
        # wildcards/@fields/column(i) see declared fields only
        return [
            c
            for c in self.df.columns
            if c not in META_COLS and not c.startswith("__") and c != EXTRA_COL
        ]

    def _actual(self, name: str, columns: list[str]) -> str | None:
        if name in columns:
            return name
        low = name.lower()
        for c in columns:
            if c.lower() == low:
                return c
        return None

    def schema_field(self, name: str) -> T.StructField | None:
        assert self.df is not None
        for f in self.df.schema.fields:
            if f.name.lower() == name.lower():
                return f
        return None

    # -- field path resolution -------------------------------------------------

    def resolve_head(self, name: str) -> Column:
        """Resolve a bare field name to a Column in this scope."""
        if self.element is not None:
            return self.element[name]
        assert self.df is not None
        actual = self._actual(name, self.df.columns)
        if actual is None:
            # schema-mixed overflow: per-record undeclared fields live in
            # the _extra map (string values — the reference's stringly
            # per-record fields, ODocument.java:55-57)
            from orientdb_spark.catalog import EXTRA_COL

            if EXTRA_COL in self.df.columns:
                return F.col(EXTRA_COL)[name]
            # unknown field → null (reference returns null for missing
            # fields, core:record/impl/ODocument.java:460-472)
            return F.lit(None)
        return F.col(f"`{actual}`")

    def resolve_path(self, parts: list[A.FieldPart | A.MethodPart]) -> Column:
        """Resolve a dotted path, emitting link joins where a hop crosses a
        LINK property (SURVEY §2.4 'LINK dereference')."""
        # split leading FieldParts from trailing methods/fields mix
        idx = 0
        col: Column | None = None
        prefix: tuple[str, ...] = ()
        cur_cls = self.cls
        cur_prefix_str = ""

        while idx < len(parts):
            part = parts[idx]
            if isinstance(part, A.MethodPart):
                assert col is not None, "method chain with no base field"
                col = apply_method(self, col, part)
                idx += 1
                continue
            name = part.name
            if col is None:
                # head (or continued link hop): is it a LINK property with
                # more field hops to come?
                more_fields = any(
                    isinstance(p, A.FieldPart) for p in parts[idx + 1 :]
                )
                prop = (
                    self.catalog.find_property(cur_cls, name)
                    if (self.catalog and cur_cls and self.element is None)
                    else None
                )
                if prop is not None and prop.linked_class and more_fields:
                    # struct-member access beats link navigation: when the
                    # column is itself a struct (e.g. a RID) and the next
                    # hop names one of its fields, descend into the struct
                    nxt = next(
                        (p for p in parts[idx + 1 :] if isinstance(p, A.FieldPart)), None
                    )
                    sf = self.schema_field(cur_prefix_str + name) or self.schema_field(name)
                    if (
                        nxt is not None
                        and sf is not None
                        and isinstance(sf.dataType, T.StructType)
                        and any(
                            x.name.lower() == nxt.name.lower() for x in sf.dataType.fields
                        )
                    ):
                        prop = None
                if prop is not None and prop.linked_class and more_fields:
                    prefix = prefix + (name.lower(),)
                    cur_prefix_str, cur_cls = self._ensure_link_join(
                        prefix, cur_prefix_str, name, prop
                    )
                    idx += 1
                    continue
                # plain column (possibly struct) in current prefix
                if self.element is not None:
                    col = self.element[name]
                elif cur_prefix_str:
                    assert self.df is not None
                    actual = self._actual(cur_prefix_str + name, self.df.columns)
                    col = F.col(f"`{actual}`") if actual else F.lit(None)
                else:
                    col = self.resolve_head(name)
            else:
                # struct / map member access after a value exists
                col = col[name]
            idx += 1
        assert col is not None
        return col

    def _ensure_link_join(
        self, prefix: tuple[str, ...], cur_prefix_str: str, name: str, prop
    ) -> tuple[str, OClass]:
        if prefix in self.link_joins:
            p, cls = self.link_joins[prefix]
            return p, cls
        assert self.catalog is not None and self.df is not None
        target_cls = self.catalog.get(prop.linked_class)
        with_meta = prop.linked_key in (None, "@rid", RID_COL)
        target = self.catalog.dataframe(prop.linked_class, with_meta=with_meta)
        self._join_n += 1
        new_prefix = f"__j{self._join_n}_"
        renamed = target.select(
            [F.col(f"`{c}`").alias(f"{new_prefix}{c}") for c in target.columns]
        )
        key = prop.linked_key or RID_COL
        left_col_name = self._actual(cur_prefix_str + name, self.df.columns)
        if left_col_name is None:
            raise OCommandExecutionException(
                f"Link field '{name}' not found while resolving navigation"
            )
        cond = F.col(f"`{left_col_name}`") == F.col(f"`{new_prefix}{key}`")
        # no forced broadcast: AQE + autoBroadcastJoinThreshold pick the
        # strategy, so a fact-sized RID-linked target can't OOM the driver
        self.df = self.df.join(renamed, cond, "left")
        self.link_joins[prefix] = (new_prefix, target_cls)
        return new_prefix, target_cls


# --- method chain ops (core:sql/filter/OSQLFilterItemAbstract.java:120-249) ---


def apply_method(scope: Scope, col: Column, m: A.MethodPart) -> Column:
    name = m.name
    args = [compile_expr(scope, a) for a in m.args]
    lits = [a.value if isinstance(a, A.Lit) else None for a in m.args]

    if name == "touppercase":
        return F.upper(col)
    if name == "tolowercase":
        return F.lower(col)
    if name == "trim":
        return F.trim(col)
    if name == "length":
        return F.length(col)
    if name == "size":
        # collection/map size (reference SIZE op); strings fall back to length
        return F.size(col)
    if name == "left":
        return F.substring(col, 1, int(lits[0]))
    if name == "right":
        # NB: the reference's RIGHT takes an *offset*, not a length —
        # value.substring(offset) (OSQLFilterItemAbstract.java:200-203)
        return F.substr(col, F.lit(int(lits[0]) + 1))
    if name == "substring":
        # java String.substring: 0-based, end-exclusive (:190-198)
        a0 = int(lits[0])
        if len(lits) > 1:
            return F.substring(col, a0 + 1, int(lits[1]) - a0)
        return F.substr(col, F.lit(a0 + 1))
    if name == "charat":
        return F.substring(col, int(lits[0]) + 1, 1)
    if name == "indexof":
        # java String.indexOf → -1 when absent (:176-183)
        start = int(lits[1]) + 1 if len(lits) > 1 else 1
        return F.locate(str(lits[0]), col, start) - 1
    if name == "format":
        # the reference dispatches on value type: SimpleDateFormat for
        # dates, String.format otherwise (OSQLFilterItemAbstract :188-193);
        # statically we dispatch on the format string — '%' means a
        # printf-style pattern, otherwise a date pattern
        fmt = str(lits[0])
        if "%" in fmt:
            return F.printf(F.lit(fmt), col)
        return F.date_format(col, fmt)
    if name == "append":
        return F.concat(col, args[0])
    if name == "prefix":
        return F.concat(args[0], col)
    if name == "asstring":
        return col.cast("string")
    if name == "asinteger":
        return col.cast("int")
    if name == "aslong":
        return col.cast("long")
    if name == "asfloat":
        return col.cast("float")
    if name == "asdecimal":
        return col.cast("double")
    if name == "asboolean":
        # string 'true'/'false', numbers != 0 (:211-225)
        return col.cast("boolean")
    if name in ("asdate", "asdatetime"):
        s = col.cast("string")
        return F.coalesce(
            F.to_timestamp(s, DATETIME_FORMAT), F.to_timestamp(s, DATE_FORMAT)
        )
    if name == "keys":
        return F.map_keys(col)
    if name == "values":
        return F.map_values(col)
    raise OCommandSQLParsingException(f"Unknown method .{m.name}()")


# --- main compile ------------------------------------------------------------


def compile_expr(scope: Scope, e: A.Expr) -> Column:
    if isinstance(e, A.Lit):
        return F.lit(e.value)
    if isinstance(e, A.Rid):
        return rid_struct(e.cluster, e.pos)
    if isinstance(e, A.ListLit):
        return F.array(*[compile_expr(scope, i) for i in e.items])
    if isinstance(e, A.FieldPath):
        return scope.resolve_path(e.parts)
    if isinstance(e, A.Attr):
        return _apply_chain(scope, compile_attr(scope, e.name), e.chain)
    if isinstance(e, A.Param):
        raise OCommandExecutionException(
            f"Unbound positional parameter #{e.index} — pass params=[...] to Engine.sql"
        )
    if isinstance(e, A.ColIdx):
        cols = scope.data_columns()
        if e.index >= len(cols):
            return F.lit(None)
        return _apply_chain(scope, F.col(f"`{cols[e.index]}`"), e.chain)
    if isinstance(e, A.Func):
        # count(*) — Star argument counts rows
        args = [
            F.lit(1) if isinstance(a, A.Star) else compile_expr(scope, a) for a in e.args
        ]
        col = scope.functions.build(e.name, args, distinct=e.distinct)
        return _apply_chain(scope, col, e.chain)
    if isinstance(e, A.Arith):
        left, right = compile_expr(scope, e.left), compile_expr(scope, e.right)
        if e.op == "+":
            return left + right
        if e.op == "-":
            return left - right
        if e.op == "*":
            return left * right
        if e.op == "/":
            return left / right
        if e.op == "%":
            return left % right
    if isinstance(e, A.Neg):
        return -compile_expr(scope, e.operand)
    if isinstance(e, (A.BinCond, A.And, A.Or, A.Not, A.IsNull, A.Between)):
        return compile_condition(scope, e)
    if isinstance(e, (A.AnyField, A.AllFields)):
        raise OCommandSQLParsingException("any()/all() only valid inside a condition")
    if isinstance(e, A.Star):
        raise OCommandSQLParsingException("* only valid as a whole projection")
    raise OCommandSQLParsingException(f"Cannot compile expression {e!r}")


def _apply_chain(scope: Scope, col: Column, chain: list) -> Column:
    for part in chain:
        if isinstance(part, A.MethodPart):
            col = apply_method(scope, col, part)
        else:
            col = col[part.name]
    return col


def compile_attr(scope: Scope, name: str) -> Column:
    """Record attributes (core:sql/filter/OSQLFilterItemRecordAttrib.java:24-60)."""
    if name == "@rid":
        return F.col(f"`{RID_COL}`")
    if name == "@class":
        return F.col(f"`{CLASS_COL}`")
    if name == "@version":
        return F.col(f"`{VERSION_COL}`")
    if name == "@type":
        return F.lit("document")
    if name == "@size":
        cols = scope.data_columns()
        return F.length(F.to_json(F.struct(*[F.col(f"`{c}`") for c in cols])))
    if name == "@fields":
        return F.array(*[F.lit(c) for c in scope.data_columns()])
    raise OCommandSQLParsingException(f"Unknown record attribute {name}")


def compile_condition(scope: Scope, e: A.Expr) -> Column:
    """Condition tree → boolean Column
    (core:sql/filter/OSQLFilterCondition.java:56-71 evaluate)."""
    if isinstance(e, A.And):
        return compile_condition(scope, e.left) & compile_condition(scope, e.right)
    if isinstance(e, A.Or):
        return compile_condition(scope, e.left) | compile_condition(scope, e.right)
    if isinstance(e, A.Not):
        return ~compile_condition(scope, e.operand)
    if isinstance(e, A.IsNull):
        if isinstance(e.operand, (A.AnyField, A.AllFields)):
            combine_any = isinstance(e.operand, A.AnyField)
            parts = [
                compile_condition(
                    scope,
                    A.IsNull(A.FieldPath([A.FieldPart(c), *e.operand.chain]), e.negated),
                )
                for c in scope.data_columns()
            ]
            out = parts[0]
            for p in parts[1:]:
                out = (out | p) if combine_any else (out & p)
            return out
        col = compile_expr(scope, e.operand)
        return col.isNotNull() if e.negated else col.isNull()
    if isinstance(e, A.Between):
        col = compile_expr(scope, e.operand)
        cond = col.between(compile_expr(scope, e.low), compile_expr(scope, e.high))
        return ~cond if e.negated else cond
    if isinstance(e, A.BinCond):
        # any()/all() wildcard expansion over every record field
        # (core:sql/filter/OSQLFilterItemFieldAny/All.java; multi-value
        # compare core:query/OQueryRuntimeValueMulti.java)
        if isinstance(e.left, (A.AnyField, A.AllFields)):
            combine_any = isinstance(e.left, A.AnyField)
            parts = []
            for c in scope.data_columns():
                sub = A.BinCond(
                    e.op,
                    A.FieldPath([A.FieldPart(c), *e.left.chain]),
                    e.right,
                    op_params=e.op_params,
                    negated=e.negated,
                )
                parts.append(compile_condition(scope, sub))
            out = parts[0]
            for p in parts[1:]:
                out = (out | p) if combine_any else (out & p)
            return out
        return _compile_bincond(scope, e)
    # bare expression used as boolean
    return compile_expr(scope, e).cast("boolean")


def _like_to_spark(pattern: str) -> str:
    """Reference LIKE supports only %, no _ wildcard
    (core:query/OQueryHelper.java:20-55) — escape _ for Spark parity."""
    return pattern.replace("_", r"\_")


def _compile_bincond(scope: Scope, e: A.BinCond) -> Column:
    op = e.op
    if op == "traverse":
        raise TraverseInFilter()

    # user-registered operators win over the hardcoded chain
    # (OSQLHelper.registerOperator, OSQLHelper.java:98-102)
    from orientdb_spark.operators import custom_operator

    custom = custom_operator(op)
    if custom is not None:
        cond = custom(compile_expr(scope, e.left), compile_expr(scope, e.right))
        return ~cond if e.negated else cond

    left = compile_expr(scope, e.left)

    if op in ("contains", "containsall"):
        if isinstance(e.right, (A.BinCond, A.And, A.Or, A.Not, A.IsNull, A.Between)):
            # inner condition over collection elements
            # (OQueryOperatorContains.java:39-66 / ContainsAll)
            inner_ast = e.right
            def pred(x: Column) -> Column:
                inner_scope = Scope(
                    catalog=scope.catalog,
                    functions=scope.functions,
                    df=scope.df,
                    cls=None,
                    element=x,
                )
                return compile_condition(inner_scope, inner_ast)

            return F.exists(left, pred) if op == "contains" else F.forall(left, pred)
        right = compile_expr(scope, e.right)
        if op == "contains":
            return F.array_contains(left, right)
        return F.forall(left, lambda x: x == right)

    if op == "containskey":
        right = compile_expr(scope, e.right)
        return F.map_contains_key(left, right)
    if op == "containsvalue":
        right = compile_expr(scope, e.right)
        return F.array_contains(F.map_values(left), right)
    if op == "containstext":
        # without a FULLTEXT index the reference falls back to substring
        # containment (OQueryOperatorContainsText.java:40-85); the indexed
        # path is the fulltext module's inverted-index join
        assert isinstance(e.right, A.Lit)
        return F.instr(F.lower(left), str(e.right.value).lower()) > 0

    if op == "in":
        if isinstance(e.right, A.ListLit):
            vals = [compile_expr(scope, v) for v in e.right.items]
            cond = left.isin(*vals)
        else:
            right = compile_expr(scope, e.right)
            cond = F.array_contains(right, left)
        return ~cond if e.negated else cond

    if op == "like":
        assert isinstance(e.right, A.Lit)
        cond = left.like(_like_to_spark(str(e.right.value)))
        return ~cond if e.negated else cond

    if op == "matches":
        # java String.matches = full-string regex (OQueryOperatorMatches.java)
        assert isinstance(e.right, A.Lit)
        return left.rlike(f"^(?:{e.right.value})$")

    right = compile_expr(scope, e.right)
    left, right = _coerce(scope, e.left, left, e.right, right)
    if op == "=":
        return left == right
    if op == "<>":
        return left != right
    if op == "<":
        return left < right
    if op == "<=":
        return left <= right
    if op == ">":
        return left > right
    if op == ">=":
        return left >= right
    raise OCommandSQLParsingException(f"Unknown operator '{op}'")


def _coerce(
    scope: Scope, last: A.Expr, left: Column, rast: A.Expr, right: Column
) -> tuple[Column, Column]:
    """Implicit comparison coercion
    (core:sql/filter/OSQLFilterCondition.java:73-103): date/datetime string
    literals compared to DATE fields parse via the storage's two formats;
    string fields compared to numeric literals parse leniently — a failed
    parse just doesn't match (never a runtime error, even under ANSI mode,
    hence ``try_cast``). Numeric widening is Spark-native already."""

    def field_type(ast_node: A.Expr) -> T.DataType | None:
        # single-part field paths only: the head's schema type IS the
        # compared value's type (a multi-hop link path's head is the FK
        # column, whose type says nothing about the navigated field)
        if not isinstance(ast_node, A.FieldPath):
            return None
        if len(ast_node.parts) != 1 or not isinstance(ast_node.parts[0], A.FieldPart):
            return None
        f = scope.schema_field(ast_node.head()) if scope.df is not None else None
        return f.dataType if f is not None else None

    def is_ts(ast_node: A.Expr) -> bool:
        # head-based on purpose (pre-existing behavior): direct timestamp
        # columns coerce date-string literals via the storage formats
        if not isinstance(ast_node, A.FieldPath):
            return False
        if any(isinstance(p, A.MethodPart) for p in ast_node.parts):
            return False
        f = scope.schema_field(ast_node.head()) if scope.df is not None else None
        return f is not None and isinstance(f.dataType, (T.TimestampType, T.DateType))

    def is_num_lit(ast_node: A.Expr) -> bool:
        return (
            isinstance(ast_node, A.Lit)
            and isinstance(ast_node.value, (int, float))
            and not isinstance(ast_node.value, bool)
        )

    def parse_num(s: str):
        try:
            return int(s)
        except ValueError:
            try:
                return float(s)
            except ValueError:
                return None

    if is_ts(last) and isinstance(rast, A.Lit) and isinstance(rast.value, str):
        s = rast.value
        right = F.coalesce(
            F.to_timestamp(F.lit(s), DATETIME_FORMAT), F.to_timestamp(F.lit(s), DATE_FORMAT)
        )
    elif is_ts(rast) and isinstance(last, A.Lit) and isinstance(last.value, str):
        s = last.value
        left = F.coalesce(
            F.to_timestamp(F.lit(s), DATETIME_FORMAT), F.to_timestamp(F.lit(s), DATE_FORMAT)
        )
    elif isinstance(field_type(last), T.StringType) and is_num_lit(rast):
        # string field vs numeric literal (any()/all() expansion hits this
        # on every string column): lenient parse, null-on-malformed
        left = left.try_cast("double")
        right = right.cast("double")
    elif isinstance(field_type(rast), T.StringType) and is_num_lit(last):
        right = right.try_cast("double")
        left = left.cast("double")
    elif (
        isinstance(field_type(last), T.NumericType)
        and isinstance(rast, A.Lit)
        and isinstance(rast.value, str)
    ):
        # numeric field vs string literal: parse the literal driver-side so
        # long precision is preserved; unparseable ⇒ matches nothing
        num = parse_num(rast.value)
        right = F.lit(num) if num is not None else F.lit(None).cast("double")
    elif (
        isinstance(field_type(rast), T.NumericType)
        and isinstance(last, A.Lit)
        and isinstance(last.value, str)
    ):
        num = parse_num(last.value)
        left = F.lit(num) if num is not None else F.lit(None).cast("double")
    return left, right


def contains_aggregate(e: A.Expr, registry: FunctionRegistry) -> bool:
    if isinstance(e, A.Func):
        if registry.is_aggregate(e.name):
            return True
        return any(contains_aggregate(a, registry) for a in e.args)
    if isinstance(e, A.Arith):
        return contains_aggregate(e.left, registry) or contains_aggregate(e.right, registry)
    if isinstance(e, A.Neg):
        return contains_aggregate(e.operand, registry)
    if isinstance(e, (A.BinCond,)):
        return contains_aggregate(e.left, registry) or contains_aggregate(e.right, registry)
    if isinstance(e, (A.And, A.Or)):
        return contains_aggregate(e.left, registry) or contains_aggregate(e.right, registry)
    if isinstance(e, A.Not):
        return contains_aggregate(e.operand, registry)
    if isinstance(e, A.IsNull):
        return contains_aggregate(e.operand, registry)
    if isinstance(e, A.Between):
        return any(
            contains_aggregate(x, registry) for x in (e.operand, e.low, e.high)
        )
    return False


def uses_meta(e: A.Expr | None) -> bool:
    """Does the AST reference @rid/@class/@version? Drives lazy metadata
    materialization (only pay for RID columns when the query needs them)."""
    if e is None:
        return False
    if isinstance(e, A.Attr):
        return e.name in ("@rid", "@class", "@version")
    if isinstance(e, A.Rid):
        return True
    for attr in ("left", "right", "operand", "low", "high"):
        sub = getattr(e, attr, None)
        if isinstance(sub, A.Expr) and uses_meta(sub):
            return True
    if isinstance(e, A.Func):
        return any(uses_meta(a) for a in e.args)
    if isinstance(e, A.ListLit):
        return any(uses_meta(i) for i in e.items)
    return False
