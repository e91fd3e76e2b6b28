"""Dictionary — the global persistent key→record map.

Reference: core:dictionary/ODictionary.java:37-99 (get/put/containsKey/
remove/size/keySet; put returns the previous value :59-68), backed by a
persistent red-black tree (OMVRBTree). The kv module serves the same map
over HTTP/memcache — out of scope beyond the table itself (SURVEY §1.5).

Spark shape: a ``(key string, class string, rid struct)`` table. Point gets
resolve driver-side from the small map; ``as_dataframe()`` exposes the same
content for distributed keyed joins (broadcast — a dictionary is a
dimension table at any scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from orientdb_spark.catalog import RID_COL
from orientdb_spark.otypes import RID_TYPE
from orientdb_spark.session import local_frame

_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("class", T.StringType(), True),
        T.StructField("rid", RID_TYPE, True),
    ]
)


class Dictionary:
    def __init__(self, engine):
        self.engine = engine
        self._map: dict[str, tuple[str, tuple[int, int]]] = {}

    def put(self, key: str, class_name: str, rid: tuple[int, int]):
        """Returns the previous entry like ODictionary.put (:59-68)."""
        prev = self._map.get(key)
        self._map[key] = (class_name, rid)
        return prev

    def get(self, key: str):
        return self._map.get(key)

    def get_record(self, key: str) -> DataFrame | None:
        """key → the record itself (point lookup → filtered scan on @rid;
        at scale this is a parquet point-read after pruning)."""
        hit = self._map.get(key)
        if hit is None:
            return None
        cls, (cluster, pos) = hit
        df = self.engine.catalog.dataframe(cls, with_meta=True)
        return df.filter(
            (F.col(f"`{RID_COL}`.cluster") == cluster) & (F.col(f"`{RID_COL}`.pos") == pos)
        )

    def contains_key(self, key: str) -> bool:
        return key in self._map

    def remove(self, key: str):
        return self._map.pop(key, None)

    def size(self) -> int:
        return len(self._map)

    def keys(self) -> list[str]:
        return list(self._map.keys())

    def as_dataframe(self) -> DataFrame:
        rows = [(k, c, r) for k, (c, r) in self._map.items()]
        return local_frame(self.engine.spark, rows, _SCHEMA)
