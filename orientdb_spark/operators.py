"""Custom WHERE-operator registry.

Reference: ``OSQLHelper.registerOperator``
(core/src/main/java/com/orientechnologies/orient/core/sql/OSQLHelper.java:98-102)
— a static, process-wide registry the SQL engine consults when parsing
conditions, letting users plug new binary operators into WHERE without
touching the engine. Mirrored here as a module-level table: the parser
accepts a registered word as a condition keyword, and the expression
compiler resolves it to the registered Column builder *before* the
hardcoded operator chain (so the extension point is also an override
point, like re-registering in the reference).

A builder takes the compiled ``(left, right)`` Columns and returns a
boolean Column — pure Column-expression operators stay in whole-stage
codegen, exactly like the built-ins.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column

OperatorBuilder = Callable[[Column, Column], Column]

_CUSTOM: dict[str, OperatorBuilder] = {}


def register_operator(name: str, builder: OperatorBuilder) -> None:
    """Register ``name`` as a WHERE binary operator (case-insensitive)."""
    key = name.lower()
    if not key.isidentifier():
        raise ValueError(f"Operator name must be a bare word, got {name!r}")
    _CUSTOM[key] = builder


def unregister_operator(name: str) -> None:
    _CUSTOM.pop(name.lower(), None)


def custom_operator(name: str) -> OperatorBuilder | None:
    return _CUSTOM.get(name.lower())

