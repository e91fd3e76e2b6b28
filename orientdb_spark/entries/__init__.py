"""The driver registry, one module per operator family.

Each module declares its entries with ``@register`` / ``dsl`` from
``_registry``; importing this package imports every family, in the order
below, which is the registry's declaration order. ``__spark_entry__``
is the driver-facing facade over ``REGISTRY``.
"""

from orientdb_spark.entries._registry import REGISTRY, compare, oracle_db, tagged  # noqa: F401
from orientdb_spark.entries import (  # noqa: F401  (declares the entries)
    sql,
    graph,
    events,
    scale,
    profile,
    dedup,
    sampling,
    similarity,
    text,
    multimodal,
    pipeline,
)
