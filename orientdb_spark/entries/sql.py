"""OrientDB SQL and document surface: scans, projections, filters,
links, aggregations, windows, DML/DDL and their observable effects,
functions and the TPC-H heads. Most entries are one engine-dialect
statement run through the parser and compiler.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Window, functions as F

from orientdb_spark.entries._registry import _engine, _fresh_engine, dsl, register
from orientdb_spark.session import local_frame


# §2.1 scans / sources / sinks
dsl("scan_class", "select from region", oracle="SELECT * FROM region")

dsl(
    "filter_projection",
    "select n_name from nation where n_regionkey = 2",
    oracle="SELECT n_name FROM nation WHERE n_regionkey = 2",
)

dsl(
    "rid_point",
    "select r_name from 1:3",
    oracle="SELECT r_name FROM region WHERE r_regionkey = 3",
)

dsl(
    "rid_list",
    "select n_name from [2:1, 2:3]",
    oracle="SELECT n_name FROM nation WHERE n_nationkey IN (1, 3)",
)

dsl(
    "cluster_scan",
    "select p_name from cluster:part where p_size >= 48",
    oracle="SELECT p_name FROM part WHERE p_size >= 48",
)


@register("dictionary_get", oracle="SELECT r_regionkey, r_name FROM region WHERE r_regionkey = 2")
def _dictionary_get(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.dictionary.put("capital-key", "region", (eng.catalog.get("region").cluster_id, 2))
    df = eng.dictionary.get_record("capital-key")
    return df.select("r_regionkey", "r_name")


@register("json_roundtrip", oracle="SELECT * FROM nation")
def _json_roundtrip(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    df = eng.table("nation")
    js = df.select(F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("js"))
    return js.select(F.from_json("js", df.schema).alias("d")).select("d.*")


@register("export_import_diff", oracle="SELECT * FROM nation LIMIT 0")
def _export_import_diff(spark, sf_dir):
    # whole-class JSON dump (with @rid/@class/@version) → reload →
    # structural diff (ODatabaseExport/Import/Compare, SURVEY §2.1) —
    # diff must be empty both directions
    from orientdb_spark.tools import compare_classes, export_class, import_class

    eng = _fresh_engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ospark_export_")
    export_class(eng, "nation", f"{tmp}/nation")
    import_class(eng, "nation_reimport", f"{tmp}/nation")
    return compare_classes(eng, "nation", "nation_reimport").drop("__side")


@register("json_metadata_export", oracle=(
    "SELECT '#2:' || n_nationkey AS rid, 'nation' AS cls, 0 AS ver, n_nationkey "
    "FROM nation ORDER BY n_nationkey"
))
def _json_metadata_export(spark, sf_dir):
    # ORecordSerializerJSON metadata parity: the JSON dump carries
    # @rid ('#cluster:pos' literal), @class, @version keys
    from orientdb_spark.tools import export_class

    eng = _fresh_engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ospark_jsonmeta_")
    export_class(eng, "nation", f"{tmp}/nation")
    back = spark.read.json(f"{tmp}/nation")
    return back.select(
        F.col("`@rid`").alias("rid"),
        F.col("`@class`").alias("cls"),
        F.col("`@version`").alias("ver"),
        "n_nationkey",
    ).orderBy("n_nationkey")


@register("db_save_open_roundtrip", oracle=(
    "SELECT r_regionkey, CASE WHEN r_regionkey <= 1 THEN r_name || '_S' "
    "ELSE r_name END AS r_name, CASE WHEN r_regionkey <= 1 THEN 1 ELSE 0 END AS ver "
    "FROM region ORDER BY r_regionkey"
))
def _db_save_open_roundtrip(spark, sf_dir):
    # storage layer: save (parquet per class + JSON catalog) → open in a
    # fresh engine; DML lineage collapsed, schema + versions restored.
    # Engines hold ONLY the class under test — save_database persists
    # every registered class, so registering the full TPC-H set here
    # would write ten parquet tables to disk for a one-table check.
    from orientdb_spark import Engine

    eng = Engine(spark)
    eng.register_dataframe("regionsave", spark.read.parquet(f"{sf_dir}/region.parquet"))
    eng.command("update regionsave set r_name = r_name.append('_S') where r_regionkey <= 1")
    db = tempfile.mkdtemp(prefix="ospark_dbrt_")
    eng.save_database(db)
    eng2 = Engine(spark)
    eng2.open_database(db)
    return eng2.sql(
        "select r_regionkey, r_name, @version as ver from regionsave order by r_regionkey"
    )


@register("polymorphic_scan", oracle=(
    "SELECT key, name FROM (SELECT r_regionkey AS key, r_name AS name FROM region "
    "UNION ALL SELECT n_nationkey, n_name FROM nation) ORDER BY name"
))
def _polymorphic_scan(spark, sf_dir):
    # class inheritance: scanning the base class unions all subclass
    # tables (polymorphicClusterIds, OClass.java:294)
    eng = _fresh_engine(spark, sf_dir)
    base = spark.read.parquet(f"{sf_dir}/region.parquet").select(
        F.col("r_regionkey").alias("key"), F.col("r_name").alias("name")
    )
    sub = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").alias("key"), F.col("n_name").alias("name")
    )
    eng.register_dataframe("place", base)
    eng.register_dataframe("nationplace", sub, super_class="place")
    return eng.sql("select key, name from place order by name")


@register("flat_record", oracle=(
    "SELECT length(text)::INTEGER AS len, substring(text, 1, 10) AS head "
    "FROM documents"
))
def _flat_record(spark, sf_dir):
    # ORecordFlat: single opaque string payload (SURVEY §1.1) — one
    # `value` column, queried through method chains
    eng = _fresh_engine(spark, sf_dir)
    eng.register_dataframe(
        "flatdocs", eng.table("documents").select(F.col("text").alias("value"))
    )
    return eng.sql("select value.length() as len, value.left(10) as head from flatdocs")


@register("bytes_record", oracle=(
    "SELECT doc_id, strlen(text)::INTEGER AS n_bytes FROM documents ORDER BY doc_id"
))
def _bytes_record(spark, sf_dir):
    # ORecordBytes: raw byte blob → BinaryType column (SURVEY §1.1)
    eng = _fresh_engine(spark, sf_dir)
    blobs = eng.table("documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("blob")
    )
    eng.register_dataframe("docblobs", blobs, rid_pos=lambda df: F.col("doc_id"))
    return eng.sql("select doc_id, blob.length() as n_bytes from docblobs order by doc_id")


@register("embedded_struct_nav", oracle=(
    "SELECT o_orderkey, o_orderstatus AS status, round(o_totalprice, 2) AS total "
    "FROM orders WHERE o_totalprice > 5000 ORDER BY o_orderkey"
))
def _embedded_struct_nav(spark, sf_dir):
    # EMBEDDED type: nested document owned by the parent → StructType
    # column navigated with dotted paths (SURVEY §1.2 EMBEDDED row)
    eng = _fresh_engine(spark, sf_dir)
    docs = eng.table("orders").select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"), F.col("o_totalprice").alias("total")
        ).alias("info"),
    )
    eng.register_dataframe("ordersemb", docs, rid_pos=lambda df: F.col("o_orderkey"))
    return eng.sql(
        "select o_orderkey, info.status as status, round(info.total, 2) as total "
        "from ordersemb where info.total > 5000 order by o_orderkey"
    )


# §2.2 projections
dsl(
    "projection_methods",
    "select c_name.toUpperCase() as up, c_name.left(8) as l8, "
    "c_name.length() as len, c_name.subString(0, 4) as sub4, "
    "c_name.charAt(9) as c9, c_name.indexOf('1') as i1, "
    "c_name.append('_x') as ax, c_name.prefix('y_') as py, "
    "c_name.right(9) as r9 from customer where c_custkey <= 50",
    oracle=(
        "SELECT upper(c_name) AS up, substring(c_name, 1, 8) AS l8, "
        "length(c_name)::INTEGER AS len, substring(c_name, 1, 4) AS sub4, "
        "substring(c_name, 10, 1) AS c9, (instr(c_name, '1') - 1)::INTEGER AS i1, "
        "c_name || '_x' AS ax, 'y_' || c_name AS py, substring(c_name, 10) AS r9 "
        "FROM customer WHERE c_custkey <= 50"
    ),
)

dsl(
    "projection_casts",
    "select c_acctbal.asInteger() as bal_int, c_custkey.asString() as key_str, "
    "c_name.toLowerCase().trim() as lower_name from customer where c_custkey <= 20",
    oracle=(
        "SELECT trunc(c_acctbal)::INTEGER AS bal_int, c_custkey::VARCHAR AS key_str, "
        "trim(lower(c_name)) AS lower_name FROM customer WHERE c_custkey <= 20"
    ),
)

dsl(
    "format_and_coercion",
    # .format dispatches date-pattern vs printf; the WHERE exercises
    # the reference's implicit string→number and string→date
    # comparison coercion (OSQLFilterCondition.java:73-103)
    "select o_orderkey, o_orderdate.format('yyyy-MM') as ym, "
    "o_orderkey.format('%05d') as padded from orders "
    "where o_orderkey = '3' or o_orderdate > '2000-06-01' order by o_orderkey",
    oracle=(
        "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym, "
        "printf('%05d', o_orderkey) AS padded FROM orders "
        "WHERE o_orderkey = 3 OR o_orderdate > TIMESTAMP '2000-06-01' ORDER BY o_orderkey"
    ),
)

dsl(
    "record_attributes",
    "select @rid.cluster as rc, @rid.pos as rp, @class as cls, @version as ver, "
    "n_nationkey from nation where n_nationkey <= 3",
    oracle=(
        "SELECT 2 AS rc, n_nationkey::BIGINT AS rp, 'nation' AS cls, 0 AS ver, "
        "n_nationkey FROM nation WHERE n_nationkey <= 3"
    ),
)

dsl(
    "flatten_unnest",
    "select flatten(embedding) from (select embedding from embeddings where vec_id = 1)",
    oracle=(
        "SELECT unnest(embedding) AS embedding FROM embeddings WHERE vec_id = 1"
    ),
)

dsl(
    "column_positional",
    "select column(1) as r_name from region",
    oracle="SELECT r_name FROM region",
)

# §2.3 filters
dsl(
    "any_wildcard",
    "select n_name from nation where any() = 1",
    oracle="SELECT n_name FROM nation WHERE n_nationkey = 1 OR n_regionkey = 1",
)

dsl(
    "all_wildcard_notnull",
    "select r_name from region where all() is not null",
    oracle=(
        "SELECT r_name FROM region WHERE r_regionkey IS NOT NULL AND r_name IS NOT NULL"
    ),
)

dsl(
    "like_underscore_literal",
    "select p_name from part where p_name like '%RT_1%'",
    oracle=(
        "SELECT p_name FROM part WHERE p_name LIKE '%RT\\_1%' ESCAPE '\\'"
    ),
)

dsl(
    "compound_predicates",
    "select o_orderkey from orders where o_orderstatus <> 'F' and "
    "o_totalprice between 900 and 1500 and "
    "o_orderpriority in ['1-URGENT', '2-HIGH'] and o_orderkey not in [1, 2, 3]",
    tags=("headline",),
    oracle=(
        "SELECT o_orderkey FROM orders WHERE o_orderstatus <> 'F' AND "
        "o_totalprice BETWEEN 900 AND 1500 AND "
        "o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderkey NOT IN (1, 2, 3)"
    ),
)

dsl(
    "matches_anchored",
    "select n_name from nation where n_name matches 'NATION_1[0-2]'",
    oracle=(
        "SELECT n_name FROM nation WHERE regexp_full_match(n_name, 'NATION_1[0-2]')"
    ),
)

dsl(
    "not_prefix",
    "select r_name from region where not (r_regionkey > 2)",
    oracle="SELECT r_name FROM region WHERE NOT (r_regionkey > 2)",
)


@register("is_null_filter", oracle=(
    "SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey"
))
def _is_null_filter(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    base = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "o_pri",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(F.col("o_orderpriority")),
    )
    eng.register_dataframe("ordersnull", base)
    return eng.sql("select o_orderkey from ordersnull where o_pri is null order by o_orderkey")


def _events_map_engine(spark, sf_dir):
    """events with props parsed into a real MapType column (EMBEDDEDMAP)."""
    eng = _fresh_engine(spark, sf_dir)
    ev = eng.table("events").withColumn(
        "props_map", F.from_json("props", "map<string,int>")
    )
    eng.register_dataframe("eventsmap", ev, rid_pos=lambda df: F.col("event_id"))
    return eng


@register("map_containskey", oracle=(
    "SELECT event_id FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL "
    "AND event_id <= 20 ORDER BY event_id"
))
def _map_containskey(spark, sf_dir):
    return _events_map_engine(spark, sf_dir).sql(
        "select event_id from eventsmap where props_map containskey 'k' "
        "and event_id <= 20 order by event_id"
    )


@register("map_containsvalue", oracle=(
    "SELECT event_id FROM events WHERE json_extract_string(props, '$.k')::INTEGER = 42 "
    "ORDER BY event_id"
))
def _map_containsvalue(spark, sf_dir):
    return _events_map_engine(spark, sf_dir).sql(
        "select event_id from eventsmap where props_map containsvalue 42 order by event_id"
    )


@register("containsall_condition", oracle=(
    "SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
    "HAVING bool_and(l_quantity > 2) ORDER BY l_orderkey"
))
def _containsall_condition(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    items = (
        eng.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_list(F.struct("l_returnflag", "l_quantity")).alias("items"))
    )
    eng.register_dataframe("orderitems2", items)
    return eng.sql(
        "select l_orderkey from orderitems2 where items containsall (l_quantity > 2) "
        "order by l_orderkey"
    )


dsl(
    "contains_value",
    "select l_orderkey from (select l_orderkey, collect_set(l_returnflag) as flags "
    "from lineitem group by l_orderkey) where flags contains 'R' and l_orderkey <= 2000 "
    "order by l_orderkey",
    oracle=(
        "SELECT l_orderkey FROM lineitem WHERE l_orderkey <= 2000 "
        "GROUP BY l_orderkey HAVING bool_or(l_returnflag = 'R') ORDER BY l_orderkey"
    ),
)


@register("contains_condition", oracle=(
    "SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
    "HAVING bool_or(l_quantity > 49) ORDER BY l_orderkey"
))
def _contains_condition(spark, sf_dir):
    # CONTAINS with an inner condition over collection elements
    # (core:sql/operator/OQueryOperatorContains.java:39-66)
    eng = _fresh_engine(spark, sf_dir)
    items = (
        eng.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_list(F.struct("l_returnflag", "l_quantity")).alias("items"))
    )
    eng.register_dataframe("orderitems", items)
    return eng.sql(
        "select l_orderkey from orderitems where items contains (l_quantity > 49) "
        "order by l_orderkey"
    )


dsl(
    "containstext_fallback",
    "select doc_id from documents where text containstext 'spark' order by doc_id",
    tags=("headline",),
    oracle=(
        "SELECT doc_id FROM documents WHERE instr(lower(text), 'spark') > 0 "
        "ORDER BY doc_id"
    ),
)


@register("containstext_indexed", oracle=(
    "SELECT doc_id, n_chars FROM documents WHERE list_contains("
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0), "
    "'spark') ORDER BY doc_id"
))
def _containstext_indexed(spark, sf_dir):
    from orientdb_spark.fulltext import build_fulltext_index, containstext_semijoin

    eng = _fresh_engine(spark, sf_dir)
    build_fulltext_index(eng, "documents", "text")
    hit = containstext_semijoin(eng, "documents", "text", "spark")
    return hit.select("doc_id", "n_chars").orderBy("doc_id")


@register("fulltext_dml_maintenance", oracle=(
    # post-DML ground truth: 'zeppelin' was appended to doc_id < 60,
    # then doc_id in [30, 45) deleted — a stale inverted index
    # (missed rebuild on UPDATE or DELETE) diverges from this
    "SELECT doc_id FROM documents WHERE doc_id < 30 "
    "OR (doc_id >= 45 AND doc_id < 60) ORDER BY doc_id"
))
def _fulltext_dml_maintenance(spark, sf_dir):
    """Index maintenance under DML, end-to-end (reference analog
    core:index/OPropertyIndexManager.java — index updates ride the write
    path as hooks): create a FULLTEXT index, then UPDATE text (adds a
    token that exists nowhere else in the corpus) and DELETE a sub-range;
    the containstext query auto-routes through the inverted index, so a
    stale index returns wrong rows, not just slow ones. The oracle states
    the post-DML ground truth directly."""
    eng = _fresh_engine(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eng.register_dataframe("ftcorpus", docs, rid_pos=lambda df: F.col("doc_id"))
    eng.command("create index ftcorpus.text fulltext")
    eng.command("update ftcorpus set text = text.append(' zeppelin') where doc_id < 60")
    eng.command("delete from ftcorpus where doc_id >= 30 and doc_id < 45")
    return eng.sql(
        "select doc_id from ftcorpus where text containstext 'zeppelin' order by doc_id"
    )


dsl(
    "traverse_reachability",
    "select c_name from customer where any() traverse(0, 2) (r_name = 'ASIA') "
    "order by c_name",
    tags=("headline", "smoke"),
    oracle=(
        "SELECT c_name FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' ORDER BY c_name"
    ),
)

dsl(
    "traverse_field_restricted",
    # TRAVERSE with an explicit link-field list (third operator param,
    # OQueryOperatorTraverse.configure)
    "select c_name from customer where any() traverse(0, 1, 'c_nationkey') "
    "(n_regionkey = 2) order by c_name",
    oracle=(
        "SELECT c_name FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE n_regionkey = 2 ORDER BY c_name"
    ),
)

dsl(
    "select_distinct",
    "select distinct l_returnflag, l_linestatus from lineitem "
    "order by l_returnflag, l_linestatus",
    oracle=(
        "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem "
        "ORDER BY l_returnflag, l_linestatus"
    ),
)

# §2.4 joins / links
dsl(
    "link_nav_2hop",
    "select o_orderkey, o_custkey.c_name as cust_name, "
    "o_custkey.c_nationkey.n_name as nation_name from orders "
    "where o_custkey.c_nationkey.n_name = 'NATION_3' order by o_orderkey",
    tags=("headline", "smoke", "sf_scale"),
    oracle=(
        "SELECT o_orderkey, c_name AS cust_name, n_name AS nation_name FROM orders "
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
        "WHERE n_name = 'NATION_3' ORDER BY o_orderkey"
    ),
)


@register("create_link_materialize", oracle=(
    "SELECT n_nationkey, 42 AS link_cluster, n_regionkey::BIGINT AS link_pos "
    "FROM nation ORDER BY n_nationkey"
))
def _create_link_materialize(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.register_dataframe(
        "nationtmp",
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
        cluster_id=41,
        rid_pos=lambda df: F.col("n_nationkey"),
    )
    eng.register_dataframe(
        "regiontmp",
        spark.read.parquet(f"{sf_dir}/region.parquet"),
        cluster_id=42,
        rid_pos=lambda df: F.col("r_regionkey"),
    )
    eng.command("create link region_ref from nationtmp.n_regionkey to regiontmp.r_regionkey")
    return eng.sql(
        "select n_nationkey, region_ref.cluster as link_cluster, "
        "region_ref.pos as link_pos from nationtmp order by n_nationkey"
    )


@register("fetchplan_prefetch", oracle=(
    "SELECT o_orderkey, c_name, n_name FROM orders "
    "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey"
))
def _fetchplan_prefetch(spark, sf_dir):
    from orientdb_spark.fetchplan import fetch

    eng = _engine(spark, sf_dir)
    df = fetch(eng, "orders", "o_custkey:2")  # reference string plan form
    return df.select(
        "o_orderkey",
        F.col("o_custkey__doc.c_name").alias("c_name"),
        F.col("o_custkey__doc.c_nationkey__doc.n_name").alias("n_name"),
    )


_Q1 = (
    "select l_returnflag, l_linestatus, round(sum(l_quantity), 2) as sum_qty, "
    "round(sum(l_extendedprice), 2) as sum_base_price, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price, "
    "round(avg(l_quantity), 6) as avg_qty, round(avg(l_discount), 6) as avg_disc, "
    "count(*) as count_order from lineitem where l_shipdate <= '1998-09-02' "
    "group by l_returnflag, l_linestatus order by l_returnflag, l_linestatus"
)


_Q1_ORACLE = (
    "select l_returnflag, l_linestatus, round(sum(l_quantity), 2) as sum_qty, "
    "round(sum(l_extendedprice), 2) as sum_base_price, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price, "
    "round(avg(l_quantity), 6) as avg_qty, round(avg(l_discount), 6) as avg_disc, "
    "count(*) as count_order from lineitem where l_shipdate <= timestamp '1998-09-02' "
    "group by l_returnflag, l_linestatus order by l_returnflag, l_linestatus"
)


# §2.5 aggregations
dsl("tpch_q1_pricing", _Q1, tags=("headline", "smoke", "sf_scale"), oracle=_Q1_ORACLE)

dsl(
    "tpch_q3_shipping",
    "select l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue, "
    "l_orderkey.o_orderdate.format('yyyy-MM-dd') as odate "
    "from lineitem where l_orderkey.o_orderdate < '1997-06-01' "
    "and l_shipdate > '1997-06-01' "
    "group by l_orderkey, l_orderkey.o_orderdate.format('yyyy-MM-dd') "
    "order by revenue desc, l_orderkey limit 10",
    tags=("headline", "sf_scale"),
    oracle=(
        "SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
        "strftime(o_orderdate, '%Y-%m-%d') AS odate FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "WHERE o_orderdate < TIMESTAMP '1997-06-01' "
        "AND l_shipdate > TIMESTAMP '1997-06-01' "
        "GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d') "
        "ORDER BY revenue DESC, l_orderkey LIMIT 10"
    ),
)

dsl(
    "tpch_q10_returns",
    "select l_orderkey.o_custkey as custkey, l_orderkey.o_custkey.c_name as c_name, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue "
    "from lineitem where l_returnflag = 'R' "
    "and l_orderkey.o_orderdate >= '1997-01-01' "
    "and l_orderkey.o_orderdate < '1997-04-01' "
    "group by l_orderkey.o_custkey, l_orderkey.o_custkey.c_name "
    "order by revenue desc, custkey limit 20",
    tags=("headline",),
    oracle=(
        "SELECT o_custkey AS custkey, c_name, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-04-01' "
        "GROUP BY o_custkey, c_name ORDER BY revenue DESC, custkey LIMIT 20"
    ),
)

dsl(
    "tpch_q6_forecast",
    "select round(sum(l_extendedprice * l_discount), 2) as revenue from lineitem "
    "where l_shipdate >= '1997-01-01' and l_shipdate < '1998-01-01' "
    "and l_discount between 0.05 and 0.07 and l_quantity < 24",
    tags=("headline",),
    oracle=(
        "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' "
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
    ),
)

dsl(
    "tpch_q5_local_supplier",
    # Q5 shape through link chains: 3-hop navigation on one side,
    # chain-equality join condition on the other (customer and
    # supplier in the same nation)
    "select l_orderkey.o_custkey.c_nationkey.n_name as nation, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue "
    "from lineitem where l_suppkey.s_nationkey = l_orderkey.o_custkey.c_nationkey "
    "and l_orderkey.o_orderdate >= '1997-01-01' "
    "and l_orderkey.o_orderdate < '1998-01-01' "
    "group by l_orderkey.o_custkey.c_nationkey.n_name order by revenue desc, nation",
    tags=("headline", "smoke"),
    oracle=(
        "SELECT n_name AS nation, round(sum(l_extendedprice * (1 - l_discount)), 2) "
        "AS revenue FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE s_nationkey = c_nationkey "
        "AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01' "
        "GROUP BY n_name ORDER BY revenue DESC, nation"
    ),
)

dsl(
    "global_aggregates",
    "select count(*) as n, round(min(o_totalprice), 2) as min_p, "
    "round(max(o_totalprice), 2) as max_p, round(avg(o_totalprice), 4) as avg_p "
    "from orders",
    oracle=(
        "SELECT count(*) AS n, round(min(o_totalprice), 2) AS min_p, "
        "round(max(o_totalprice), 2) AS max_p, round(avg(o_totalprice), 4) AS avg_p "
        "FROM orders"
    ),
)

dsl(
    "count_distinct_suppliers",
    "select count(distinct l_suppkey) as n_supp from lineitem",
    oracle=(
        "SELECT count(DISTINCT l_suppkey) AS n_supp FROM lineitem"
    ),
)

dsl(
    "approx_distinct_parts",
    "select approxcountdistinct(l_partkey) as approx_parts from lineitem",
    rows_only="approxCountDistinct is a sketch: its estimate is not an exact count",
)

dsl(
    "group_having_order",
    "select l_returnflag, count(*) as cnt from lineitem group by l_returnflag "
    "having count(*) > 100 order by cnt desc",
    tags=("headline", "sf_scale"),
    oracle=(
        "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag "
        "HAVING count(*) > 100 ORDER BY cnt DESC"
    ),
)

# §2.6 sort / limit / range / window / set ops
dsl(
    "order_multikey_topk",
    "select c_name, c_acctbal from customer order by c_acctbal desc, c_name limit 25",
    tags=("headline", "sf_scale"),
    oracle=(
        "SELECT c_name, c_acctbal FROM customer ORDER BY c_acctbal DESC, c_name LIMIT 25"
    ),
)

dsl(
    "range_keyset_pagination",
    "select n_nationkey, n_name from nation range 2:5, 2:14",
    oracle=(
        "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey BETWEEN 5 AND 14"
    ),
)


@register("window_rank_topn", tags=("headline", "smoke", "sf_scale"), oracle=(
    "SELECT o_custkey, o_orderkey, o_totalprice, "
    "row_number() OVER (PARTITION BY o_custkey "
    "ORDER BY o_totalprice DESC, o_orderkey)::INTEGER AS rnk "
    "FROM orders QUALIFY rnk <= 3"
))
def _window_rank_topn(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        eng.table("orders")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@register("window_running_frames", oracle=(
    "SELECT o_custkey, o_orderkey, "
    "round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey "
    "ROWS UNBOUNDED PRECEDING), 2) AS running_total, "
    "round(lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 2) "
    "AS prev_price, "
    "round(lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 2) "
    "AS next_price FROM orders"
))
def _window_running_frames(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return eng.table("orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(frame), 2).alias("running_total"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
    )


@register("rollup_pricing", oracle=(
    "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
    "round(sum(l_quantity), 2) AS sum_qty FROM lineitem "
    "GROUP BY ROLLUP (l_returnflag, l_linestatus)"
))
def _rollup_pricing(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return (
        eng.table("lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@register("set_operations", tags=("headline", "smoke"), oracle=(
    "WITH a AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer "
    "WHERE c_acctbal > 9500), "
    "b AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier "
    "WHERE s_acctbal > 9500) "
    "SELECT 'union' AS op, nationkey FROM (SELECT * FROM a UNION SELECT * FROM b) "
    "UNION ALL SELECT 'intersect', nationkey FROM "
    "(SELECT * FROM a INTERSECT SELECT * FROM b) "
    "UNION ALL SELECT 'except', nationkey FROM (SELECT * FROM a EXCEPT SELECT * FROM b)"
))
def _set_operations(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    a = (
        eng.table("customer")
        .filter(F.col("c_acctbal") > 9500)
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    b = (
        eng.table("supplier")
        .filter(F.col("s_acctbal") > 9500)
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    return (
        a.union(b).distinct().select(F.lit("union").alias("op"), "nationkey")
        .unionByName(a.intersect(b).select(F.lit("intersect").alias("op"), "nationkey"))
        .unionByName(a.subtract(b).select(F.lit("except").alias("op"), "nationkey"))
    )


# §2.7 DML / DDL
@register("dml_insert_append", oracle=(
    "SELECT * FROM nation UNION ALL SELECT 99, 'ATLANTIS', 0"
))
def _dml_insert(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.register_dataframe("nationtmp", spark.read.parquet(f"{sf_dir}/nation.parquet"))
    eng.command(
        "insert into nationtmp (n_nationkey, n_name, n_regionkey) values (99, 'ATLANTIS', 0)"
    )
    return eng.table("nationtmp")


@register("dml_update_rewrite", oracle=(
    "SELECT r_regionkey, CASE WHEN r_regionkey <= 2 THEN r_name || '_EU' "
    "ELSE r_name END AS r_name FROM region"
))
def _dml_update(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.register_dataframe("regiontmp", spark.read.parquet(f"{sf_dir}/region.parquet"))
    eng.command("update regiontmp set r_name = r_name.append('_EU') where r_regionkey <= 2")
    return eng.table("regiontmp")


@register("dml_delete_filter", oracle=(
    "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus <> 'F'"
))
def _dml_delete(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.register_dataframe("orderstmp", spark.read.parquet(f"{sf_dir}/orders.parquet"))
    eng.command("delete from orderstmp where o_orderstatus = 'F'")
    return eng.table("orderstmp").select("o_orderkey", "o_orderstatus")


@register("update_add_collection", oracle=(
    "SELECT r_regionkey, CASE WHEN r_regionkey <= 2 THEN 'a,b' ELSE 'a' END AS tags "
    "FROM region"
))
def _update_add_collection(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    base = spark.read.parquet(f"{sf_dir}/region.parquet").withColumn(
        "tags", F.array(F.lit("a"))
    )
    eng.register_dataframe("regiontags", base)
    eng.command("update regiontags add tags = 'b' where r_regionkey <= 2")
    return eng.table("regiontags").select(
        "r_regionkey", F.array_join("tags", ",").alias("tags")
    )


@register("update_put_map", oracle=(
    "SELECT r_regionkey, 'k1' AS key, 1 AS value FROM region "
    "UNION ALL SELECT r_regionkey, 'k2', 5 FROM region WHERE r_regionkey >= 3"
))
def _update_put_map(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    base = spark.read.parquet(f"{sf_dir}/region.parquet").withColumn(
        "m", F.create_map(F.lit("k1"), F.lit(1))
    )
    eng.register_dataframe("regionmap", base)
    eng.command("update regionmap put m = 'k2', 5 where r_regionkey >= 3")
    return eng.table("regionmap").select("r_regionkey", F.explode("m").alias("key", "value"))


@register("update_remove_ops", oracle=(
    "SELECT r_regionkey, CASE WHEN r_regionkey = 0 THEN 'b' ELSE 'a,b' END AS tags, "
    "CASE WHEN r_regionkey = 1 THEN NULL ELSE 'x' END AS extra FROM region"
))
def _update_remove_ops(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    base = (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .withColumn("tags", F.array(F.lit("a"), F.lit("b")))
        .withColumn("extra", F.lit("x"))
    )
    eng.register_dataframe("regiontags2", base)
    eng.command("update regiontags2 remove tags = 'a' where r_regionkey = 0")
    eng.command("update regiontags2 remove extra where r_regionkey = 1")
    return eng.table("regiontags2").select(
        "r_regionkey", F.array_join("tags", ",").alias("tags"), "extra"
    )


@register("ddl_schema_evolution", oracle=(
    "SELECT * FROM (VALUES ('alpha', 10), ('beta', 20)) AS t(name, score) ORDER BY name"
))
def _ddl_schema_evolution(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.command("create class doctmp")
    eng.command("create property doctmp.name string")
    eng.command("create property doctmp.score integer")
    eng.command("insert into doctmp (name, score) values ('alpha', 10)")
    eng.command("insert into doctmp (name, score) values ('beta', 20)")
    return eng.sql("select name, score from doctmp order by name")


@register("ddl_truncate", oracle="SELECT 0::BIGINT AS n")
def _ddl_truncate(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.command("create class trunctmp")
    eng.command("insert into trunctmp (v) values (1)")
    eng.command("insert into trunctmp (v) values (2)")
    eng.command("truncate class trunctmp")
    return eng.sql("select count(*) as n from trunctmp")


@register("unique_index_violation", oracle=(
    "SELECT * FROM (VALUES ('A', 1::BIGINT), ('B', 2::BIGINT)) "
    "AS t(code, v) ORDER BY code"
))
def _unique_index_violation(spark, sf_dir):
    # UNIQUE property-index enforcement (negative test): the duplicate
    # insert MUST raise (reference: the property index rejects the save,
    # core:metadata/schema/OProperty.java:257, tests/.../IndexTest.java);
    # the returned rows are the accepted state
    from orientdb_spark.errors import OIndexException

    eng = _fresh_engine(spark, sf_dir)
    eng.command("create class uniqtmp")
    eng.command("create property uniqtmp.code string")
    eng.command("create property uniqtmp.v long")
    eng.command("create index uniqtmp.code unique")
    eng.command("insert into uniqtmp (code, v) values ('A', 1)")
    eng.command("insert into uniqtmp (code, v) values ('B', 2)")
    try:
        eng.command("insert into uniqtmp (code, v) values ('A', 3)")
        raise AssertionError("duplicate key insert must raise OIndexException")
    except OIndexException:
        pass
    return eng.sql("select code, v from uniqtmp order by code")


# effect queries: non-SQL §2 surfaces observed through SQL (r7)
# effect-query literals (r7): the expected aftermath tables
# Each performs the operation through its API surface and SELECTs the
# observable aftermath; the oracle is the expected literal table
# (reference analog: tests:database/auto/SQLCommandsTest.java:36-70 runs
# DDL then asserts the visible state).
@register("ddl_remove_property_effect", oracle=(
    "SELECT * FROM (VALUES ('a'), ('b')) AS t(name) ORDER BY name"
))
def _ddl_remove_property_effect(spark, sf_dir):
    """REMOVE PROPERTY drops the property from the schema AND the column
    from the class data (dml.py RemovePropertyCmd); the aftermath SELECT *
    proves the column is gone via the driver's schema compare — `extra`
    appearing in the Spark result would fail the column-set match."""
    eng = _fresh_engine(spark, sf_dir)
    eng.command("create class rptmp")
    eng.command("create property rptmp.name string")
    eng.command("create property rptmp.extra integer")
    eng.command("insert into rptmp (name, extra) values ('a', 1)")
    eng.command("insert into rptmp (name, extra) values ('b', 2)")
    eng.command("remove property rptmp.extra")
    return eng.sql("select * from rptmp order by name")


@register("ddl_remove_index_effect", oracle="SELECT 'A' AS code, 2::BIGINT AS n")
def _ddl_remove_index_effect(spark, sf_dir):
    """REMOVE INDEX lifts unique enforcement: the same duplicate INSERT
    that raises OIndexException while the index exists succeeds after
    removal — the aftermath count proves both phases ran."""
    from orientdb_spark.errors import OIndexException

    eng = _fresh_engine(spark, sf_dir)
    eng.command("create class ritmp")
    eng.command("create property ritmp.code string")
    eng.command("create index ritmp.code unique")
    eng.command("insert into ritmp (code) values ('A')")
    try:
        eng.command("insert into ritmp (code) values ('A')")
        raise AssertionError("unique index must reject the duplicate")
    except OIndexException:
        pass
    eng.command("remove index ritmp.code")
    eng.command("insert into ritmp (code) values ('A')")
    return eng.sql("select code, count(*) as n from ritmp group by code")


@register("security_grant_effect", oracle=(
    "SELECT * FROM (VALUES "
    "('read_granted_class', 'allowed'), "
    "('read_other_class', 'denied:READ'), "
    "('insert_granted_class', 'denied:CREATE'), "
    "('read_after_revoke', 'denied:READ')) AS t(probe, outcome)"
))
def _security_grant_effect(spark, sf_dir):
    """GRANT/REVOKE enforcement observed as an outcome table: a role
    holding READ on one class can select it and nothing else, writes
    stay denied (ORole CRUD bitmask checked at query entry,
    core:sql/OCommandExecutorSQLSelect.java:90,158-165), and REVOKE
    restores the denial."""
    from orientdb_spark.security import OSecurityAccessException

    eng = _fresh_engine(spark, sf_dir)
    eng.command("grant read on database.class.region to auditor")
    probes = []

    def attempt(probe, fn):
        eng.set_role("auditor")
        try:
            fn()
            probes.append((probe, "allowed"))
        except OSecurityAccessException as e:
            # "... has no permission to <OP> against the resource: ..."
            op = str(e).split("permission to ")[1].split(" ")[0]
            probes.append((probe, f"denied:{op}"))
        finally:
            eng.set_role(None)

    attempt("read_granted_class", lambda: eng.query("select r_name from region"))
    attempt("read_other_class", lambda: eng.sql("select n_name from nation"))
    attempt(
        "insert_granted_class",
        lambda: eng.command(
            "insert into region (r_regionkey, r_name) values (99, 'X')"
        ),
    )
    eng.command("revoke read on database.class.region from auditor")
    attempt("read_after_revoke", lambda: eng.sql("select r_name from region"))
    return local_frame(spark, probes, "probe string, outcome string")


@register("dictionary_named_roots", oracle=(
    "SELECT 'root:apac' AS root, r_regionkey, r_name FROM region "
    "WHERE r_regionkey = 2 UNION ALL "
    "SELECT 'root:emea', r_regionkey, r_name FROM region "
    "WHERE r_regionkey = 3"
))
def _dictionary_named_roots(spark, sf_dir):
    """Named graph roots (dictionary-backed, ODictionary analog): put
    two named roots pointing at records, then resolve each root back to
    its record — the lookup table IS the observable effect. RID position
    in the synthetic region cluster equals r_regionkey (same mapping the
    recorded dictionary_get entry pins)."""
    eng = _fresh_engine(spark, sf_dir)
    cid = eng.catalog.get("region").cluster_id
    eng.dictionary.put("root:apac", "region", (cid, 2))
    eng.dictionary.put("root:emea", "region", (cid, 3))
    parts = [
        eng.dictionary.get_record(k).select(
            F.lit(k).alias("root"), "r_regionkey", "r_name"
        )
        for k in ("root:apac", "root:emea")
    ]
    return parts[0].unionByName(parts[1])


@register("async_query_abort_effect", oracle=(
    "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3"
))
def _async_query_abort_effect(spark, sf_dir):
    """Push-based async query with abort-by-return-value
    (OSQLAsynchQuery + OCommandResultListener, SQLSelect.java:228-242):
    the listener stops after three rows, so exactly the three smallest
    orderkeys of the ordered stream are observed."""
    eng = _engine(spark, sf_dir)
    seen = []

    def listener(row):
        seen.append((row["o_orderkey"],))
        return len(seen) < 3

    eng.async_query("select o_orderkey from orders order by o_orderkey", listener)
    return local_frame(spark, seen, "o_orderkey long")


@register("custom_operator_where", oracle=(
    "SELECT n_name FROM nation "
    "WHERE position('tion_1' IN lower(n_name)) > 0 ORDER BY n_name"
))
def _custom_operator_where(spark, sf_dir):
    """Custom WHERE operator registry (OSQLHelper.registerOperator
    parity, core:sql/OSQLHelper.java:98-102): a registered word becomes
    a binary condition operator compiled to its Column builder; the
    oracle re-expresses the predicate in plain SQL."""
    from orientdb_spark import register_operator, unregister_operator

    register_operator(
        "icontains", lambda l, r: F.instr(F.lower(l), F.lower(r)) > 0
    )
    try:
        return _fresh_engine(spark, sf_dir).sql(
            "select n_name from nation where n_name icontains 'tion_1' "
            "order by n_name"
        )
    finally:
        unregister_operator("icontains")


@register("native_fluent_query", oracle=(
    "SELECT n_nationkey, n_name FROM nation "
    "WHERE n_nationkey BETWEEN 3 AND 7 AND n_name <> 'NATION_5'"
))
def _native_fluent_query(spark, sf_dir):
    """Native fluent query API (OQueryContextNative /
    ONativeSynchQuery, core:query/nativ/): field chains with casts,
    between, and negation compile to one distributed filter."""
    from orientdb_spark.native import ONativeSynchQuery, OQueryContextNative

    ctx = (
        OQueryContextNative()
        .field("n_nationkey")
        .to_long()
        .between(3, 7)
        .and_()
        .not_()
        .field("n_name")
        .eq("NATION_5")
    )
    eng = _engine(spark, sf_dir)
    return (
        ONativeSynchQuery(eng, "nation", ctx)
        .dataframe()
        .select("n_nationkey", "n_name")
    )


@register("schema_mixed_insert", oracle=(
    "SELECT * FROM (VALUES ('plain', NULL, NULL, NULL), "
    "('rich', 'Rico', 'RICO', 33)) "
    "AS t(name, nickname, nick_upper, age_n) ORDER BY name"
))
def _schema_mixed_insert(spark, sf_dir):
    # schema-mixed records (ODocument.java:55-57): an INSERT carrying
    # fields outside the declared schema lands them in the _extra
    # map<string,string> overflow; reads resolve overflow fields stringly
    # and chain ops coerce (SURVEY §7 hard-part 1)
    eng = _fresh_engine(spark, sf_dir)
    eng.command("create class mixtmp")
    eng.command("create property mixtmp.name string")
    eng.command("insert into mixtmp (name) values ('plain')")
    eng.command("insert into mixtmp (name, nickname, age) values ('rich', 'Rico', 33)")
    return eng.sql(
        "select name, nickname, nickname.touppercase() as nick_upper, "
        "age.asinteger() as age_n from mixtmp order by name"
    )


@register("dictionary_keyset", oracle=(
    "SELECT * FROM (VALUES ('k1', 'region', 0::BIGINT), ('k3', 'nation', 5::BIGINT)) "
    "AS t(key, cls, pos) ORDER BY key"
))
def _dictionary_keyset(spark, sf_dir):
    eng = _fresh_engine(spark, sf_dir)
    eng.dictionary.put("k1", "region", (1, 0))
    eng.dictionary.put("k2", "region", (1, 1))
    eng.dictionary.put("k3", "nation", (2, 5))
    eng.dictionary.remove("k2")
    return (
        eng.dictionary.as_dataframe()
        .select("key", F.col("class").alias("cls"), F.col("rid.pos").alias("pos"))
        .orderBy("key")
    )


@register("csv_positional_roundtrip", oracle=(
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
))
def _csv_positional_roundtrip(spark, sf_dir):
    # ORecordColumn: positional CSV record addressed by column index
    # (core:record/impl/ORecordColumn.java:32-41 → SURVEY §1.1)
    eng = _fresh_engine(spark, sf_dir)
    path = os.path.join(tempfile.mkdtemp(prefix="ospark_csv_"), "region_csv")
    eng.table("region").write.mode("overwrite").csv(path)
    eng.register_dataframe("regioncsv", spark.read.csv(path))
    return eng.sql(
        "select column(0).asInteger() as r_regionkey, column(1) as r_name "
        "from regioncsv order by r_regionkey"
    )


# §2.8 functions
@register("custom_udf_bigger", oracle=(
    "SELECT o_orderkey, greatest(o_totalprice, 1000) AS big FROM orders "
    "WHERE o_orderkey <= 200 ORDER BY o_orderkey"
))
def _custom_udf(spark, sf_dir):
    # user-registered function usable from the dialect (the reference's
    # e2e UDF test registers bigger(a, b) — SQLFunctionsTest.java:63-98)
    eng = _fresh_engine(spark, sf_dir)
    eng.register_function("bigger", lambda a: F.greatest(a[0], a[1]))
    return eng.sql(
        "select o_orderkey, bigger(o_totalprice, 1000) as big from orders "
        "where o_orderkey <= 200 order by o_orderkey"
    )


dsl(
    "geo_distance_filter",
    "select c_custkey, round(distance(c_acctbal / 1000, c_custkey % 90, 45.0, 10.0), 4) "
    "as dist_km from customer where c_custkey <= 100",
    oracle=(
        "SELECT c_custkey, round(2 * atan2(sqrt(a), sqrt(-a + 1)) * 6371.0, 4) AS dist_km "
        "FROM (SELECT c_custkey, "
        "sin(radians(45.0 - c_acctbal / 1000) / 2) * sin(radians(45.0 - c_acctbal / 1000) / 2) "
        "+ cos(radians(c_acctbal / 1000)) * cos(radians(45.0)) * "
        "sin(radians(10.0 - c_custkey % 90) / 2) * sin(radians(10.0 - c_custkey % 90) / 2) "
        "AS a FROM customer WHERE c_custkey <= 100) t"
    ),
)


@register("docs_cube_rollup", oracle=(
    "SELECT source, lang, count(*)::BIGINT AS n_docs, "
    "sum(n_chars)::BIGINT AS total_chars "
    "FROM documents GROUP BY CUBE (source, lang)"
))
def _docs_cube(spark, sf_dir):
    """CUBE grouping sets over (source, lang): all four aggregation
    levels in one pass (Spark Expand), NULL as the roll-up marker on
    both engines."""
    docs = _engine(spark, sf_dir).table("documents")
    return (
        docs.cube("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
