"""SQL function registry — the OSQLEngine function surface.

Reference: core:sql/OSQLEngine.java:26-49 (register/lookup by name,
``registerFunction`` :43-45 is the UDF extension point; unknown-function
error :35-41), per-row runtime core:sql/functions/OSQLFunctionRuntime.java.
The reference pre-registers only ``distance`` (geo haversine,
core:sql/functions/geo/OSQLFunctionDistance.java:22-59) and ships ``max``
(core:sql/functions/math/OSQLFunctionMax.java); the registry design implies
the full min/max/sum/avg/count family (SURVEY §2.5) — built out here on
Spark's native aggregate functions so they run JVM-side with partial
(map-side) aggregation for free.

Every function is a builder: list[Column] -> Column. Aggregates are flagged
so the SELECT compiler routes them through groupBy().agg().
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, functions as F

from orientdb_spark.errors import OCommandSQLParsingException

Builder = Callable[[list[Column]], Column]

# earth radius used by the reference's haversine (OSQLFunctionDistance.java:27)
_EARTH_RADIUS_KM = 6371.0


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km — same formula as the reference
    (core:sql/functions/geo/OSQLFunctionDistance.java:38-53), expressed as
    a pure Column expression (whole-stage-codegen friendly, no UDF)."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    c = 2 * F.atan2(F.sqrt(a), F.sqrt(-a + 1))
    return c * F.lit(_EARTH_RADIUS_KM)


_SCALARS: dict[str, Builder] = {
    "distance": lambda a: haversine_km(a[0], a[1], a[2], a[3]),
    # format('%d - %s', a, b) — java.lang.String.format subset
    # (referenced from the OSQLHelper value-parse path)
    "format": lambda a: F.printf(a[0], *a[1:]),
    "abs": lambda a: F.abs(a[0]),
    "round": lambda a: F.round(a[0]) if len(a) == 1 else F.round(a[0], a[1]),
    "floor": lambda a: F.floor(a[0]),
    "ceil": lambda a: F.ceil(a[0]),
    "sqrt": lambda a: F.sqrt(a[0]),
    "exp": lambda a: F.exp(a[0]),
    "ln": lambda a: F.log(a[0]),
    "log": lambda a: F.log10(a[0]) if len(a) == 1 else F.log(a[0], a[1]),
    "power": lambda a: F.pow(a[0], a[1]),
    "mod": lambda a: a[0] % a[1],
    "coalesce": lambda a: F.coalesce(*a),
    "ifnull": lambda a: F.coalesce(a[0], a[1]),
    "upper": lambda a: F.upper(a[0]),
    "lower": lambda a: F.lower(a[0]),
    "trim": lambda a: F.trim(a[0]),
    "concat": lambda a: F.concat(*a),
    "replace": lambda a: F.replace(a[0], a[1], a[2]),
    "substring": lambda a: F.substring(a[0], a[1], a[2]) if len(a) == 3 else F.substr(a[0], a[1]),
    "length": lambda a: F.length(a[0]),
    "sysdate": lambda a: F.current_timestamp(),
    "date": lambda a: F.coalesce(
        F.to_timestamp(a[0], F.lit("yyyy-MM-dd HH:mm:ss")),
        F.to_timestamp(a[0], F.lit("yyyy-MM-dd")),
    ),
    "year": lambda a: F.year(a[0]),
    "month": lambda a: F.month(a[0]),
    "day": lambda a: F.dayofmonth(a[0]),
}


_AGGREGATES: dict[str, Builder] = {
    "count": lambda a: F.count(a[0] if a else F.lit(1)),
    "min": lambda a: F.min(a[0]),
    "max": lambda a: F.max(a[0]),
    "sum": lambda a: F.sum(a[0]),
    "avg": lambda a: F.avg(a[0]),
    "mean": lambda a: F.avg(a[0]),
    "stddev": lambda a: F.stddev_samp(a[0]),
    "variance": lambda a: F.var_samp(a[0]),
    "median": lambda a: F.median(a[0]),
    "first": lambda a: F.first(a[0], ignorenulls=True),
    "last": lambda a: F.last(a[0], ignorenulls=True),
    "approxcountdistinct": lambda a: F.approx_count_distinct(a[0]),
    "approx_count_distinct": lambda a: F.approx_count_distinct(a[0]),
    "collect_list": lambda a: F.collect_list(a[0]),
    "collect_set": lambda a: F.collect_set(a[0]),
    "set": lambda a: F.collect_set(a[0]),
    "list": lambda a: F.collect_list(a[0]),
}


class FunctionRegistry:
    """Name → builder, with the reference's registerFunction extension point
    (core:sql/OSQLEngine.java:43-45)."""

    def __init__(self) -> None:
        self._scalars: dict[str, Builder] = dict(_SCALARS)
        self._aggregates: dict[str, Builder] = dict(_AGGREGATES)

    def register(self, name: str, builder: Builder, aggregate: bool = False) -> None:
        (self._aggregates if aggregate else self._scalars)[name.lower()] = builder

    def is_aggregate(self, name: str) -> bool:
        return name.lower() in self._aggregates

    def build(self, name: str, args: list[Column], distinct: bool = False) -> Column:
        n = name.lower()
        if n in self._aggregates:
            if distinct:
                if n == "count":
                    return F.count_distinct(*args)
                raise OCommandSQLParsingException(f"DISTINCT not supported for {name}()")
            return self._aggregates[n](args)
        if n in self._scalars:
            return self._scalars[n](args)
        # unknown-function error message shape per OSQLEngine.java:35-41
        raise OCommandSQLParsingException(
            f"Unknown function {name}(). Use registerFunction() to add it"
        )
