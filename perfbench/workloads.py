"""The three workloads. Each one yields its ops in fixed-composition
rounds: the round's sequence of statement kinds never changes, and the
seed only picks the literals (keys, values). Runs stop on round
boundaries, so every run, whatever its seed, has the same share of each
kind, and the latency quantiles land in the same statement kind's mode
from run to run.

An op returns its raw result; ``verify`` decides afterwards, outside the
timed region, whether each result was right.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import functions as F


@dataclass
class Op:
    kind: str
    text: str = ""
    expect: object = None
    stmts: list = field(default_factory=list)
    counts: tuple = ()


def _norm(v):
    return float(v) if isinstance(v, Decimal) else v


def _sort_key(row: tuple) -> str:
    return repr(tuple(round(x, 6) if isinstance(x, float) else x for x in row))


def _rows_equal(got, want, ordered: bool, rel_tol: float = 1e-9) -> bool:
    g = [tuple(_norm(x) for x in r) for r in got]
    w = [tuple(_norm(x) for x in r) for r in want]
    if not ordered:
        g.sort(key=_sort_key)
        w.sort(key=_sort_key)
    if len(g) != len(w):
        return False
    for a, b in zip(g, w):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def _collect(tracer, df):
    """The forcing action of an op, with its Catalyst time when traced."""
    rows = df.collect()
    if tracer is not None and tracer.active:
        tracer.add("spark.catalyst_ms", tracer.probe.catalyst_ms(df, tracer.op_start_ms))
    return [tuple(r) for r in rows]


class Workload:
    """What the runner needs to know of a workload beyond its ops."""

    WARMUP = True  # run one round before the timed phase
    STEP = 1  # a timed phase runs whole steps of this many rounds
    CYCLE = 1  # rounds per step of a traced run's phases
    TRACE_BEFORE = True  # a traced run has an untraced phase before the traced one

    def final_ok(self, last: Op) -> bool:
        """A check of the program's state after the last op (untimed)."""
        return True


# -- doc_read ----------------------------------------------------------------------


class DocRead(Workload):
    """Per-statement SELECTs through ``Engine.sql`` over the read-only
    classes. 11 of 20 ops are key lookups with a fresh literal, so the
    median sits in the lookup mode; 3 repeat an earlier statement text
    exactly (plan-cache hits); the rest are GROUP BY aggregates, ORDER BY
    … LIMIT top-k and one dotted link navigation."""

    name = "doc_read"
    STEP = 2  # 40 ops: a run never stops after the first, colder round alone
    ROUND = (
        "lk_orders", "lk_customer", "group", "lk_lineitem", "repeat",
        "lk_part", "topk", "lk_orders", "group", "lk_customer",
        "repeat", "lk_lineitem", "nav", "lk_part", "group",
        "lk_orders", "repeat", "lk_customer", "topk", "lk_lineitem",
    )
    SQL = {
        "lk_orders": "select o_orderkey, o_custkey, o_totalprice, o_orderdate from orders where o_orderkey = {k}",
        "lk_customer": "select c_custkey, c_name, c_acctbal from customer where c_custkey = {k}",
        "lk_lineitem": "select l_orderkey, l_linenumber, l_quantity, l_extendedprice from lineitem where l_orderkey = {k}",
        "lk_part": "select p_partkey, p_name, p_retailprice from part where p_partkey = {k}",
        "group": "select o_orderstatus, count(*) as n, sum(o_totalprice) as total from orders where o_custkey = {k} group by o_orderstatus",
        "topk": "select l_orderkey, l_linenumber, l_extendedprice from lineitem where l_suppkey = {k} order by l_extendedprice desc, l_orderkey, l_linenumber limit 5",
        "nav": "select l_linenumber, l_orderkey.o_orderdate as od from lineitem where l_orderkey = {k}",
    }
    # the same statements in DuckDB's dialect, for verification
    ORACLE = {
        **{k: v for k, v in SQL.items() if k not in ("nav",)},
        "nav": "select l.l_linenumber, o.o_orderdate as od from lineitem l left join orders o on o.o_orderkey = l.l_orderkey where l.l_orderkey = {k}",
    }
    KEY_SPACE = {
        "lk_orders": "orders", "lk_customer": "customer", "lk_lineitem": "orders",
        "lk_part": "part", "group": "customer", "topk": "supplier", "nav": "orders",
    }

    def __init__(self, seed: int, sizes: dict[str, int], data_dir: str):
        self.rng = random.Random(seed)
        self.sizes = sizes
        self.data_dir = data_dir
        self.seen: set[str] = set()
        self.lookups: list[Op] = []

    def prepare(self, engine) -> None:
        self.eng = engine

    def round(self) -> list[Op]:
        ops = []
        for kind in self.ROUND:
            if kind == "repeat":
                src = self.rng.choice(self.lookups)
                ops.append(Op("repeat", src.text, expect=(src.kind, src.expect)))
                continue
            while True:
                k = self.rng.randrange(self.sizes[self.KEY_SPACE[kind]])
                text = self.SQL[kind].format(k=k)
                if text not in self.seen:
                    break
            self.seen.add(text)
            op = Op(kind, text, expect=k)
            if kind.startswith("lk_"):
                self.lookups.append(op)
            ops.append(op)
        return ops

    def execute(self, op: Op, tracer):
        return _collect(tracer, self.eng.sql(op.text))

    def verify(self, done: list) -> list[bool]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("orders", "customer", "lineitem", "part"):
                con.execute(
                    f"create view {t} as select * from read_parquet('{self.data_dir}/{t}.parquet')"
                )
            out = []
            for op, result in done:
                kind, k = op.expect if op.kind == "repeat" else (op.kind, op.expect)
                want = con.execute(self.ORACLE[kind].format(k=k)).fetchall()
                out.append(_rows_equal(result, want, ordered=(kind == "topk")))
            return out
        finally:
            con.close()


# -- doc_write ---------------------------------------------------------------------


class DocWrite(Workload):
    """DML through ``Engine.command`` on fresh mutable copies of
    ``customer`` and ``orders``, with read-your-writes SELECTs and
    3-statement optimistic transactions.

    Each round makes exactly 4 copy-on-write swaps per class, half the
    catalog's lineage-checkpoint period, and ends with the transaction.
    So the warm-up round pays no checkpoint and the first timed round
    pays both (one per class), inside its closing transaction. Of the 8
    ops, 5 are single-row DML (the median's mode), 2 are checks and one
    is the transaction; the 90th percentile sits between the slowest
    single statement and the transaction."""

    name = "doc_write"
    ROUND = ("upd_o", "ins_c", "check_o", "upd_o", "del_o", "upd_c", "check_c", "tx")
    CYCLE = 2  # rounds per checkpoint cycle
    TX = ("upd_o", "upd_c", "ins_c")
    SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

    def __init__(self, seed: int, sizes: dict[str, int], data_dir: str):
        self.rng = random.Random(seed)
        self.data_dir = data_dir
        # the generator's model: live keys, touched values, row counts
        self.orders_live = list(range(sizes["orders"]))
        self.orders_pos = {k: i for i, k in enumerate(self.orders_live)}
        self.orders_val: dict[int, float] = {}
        self.cust_keys = list(range(sizes["customer"]))
        self.cust_val: dict[int, float] = {}
        self.next_cust = 10_000_000
        self.recent_o: list[int] = []
        self.deleted_o: list[int] = []
        self.recent_c: list[int] = []

    def prepare(self, engine) -> None:
        """Fresh mutable copies, declared like the originals: same key
        for @rid, same links."""
        self.eng = engine
        engine.register_dataframe(
            "wcustomer",
            engine.catalog.dataframe("customer"),
            links={"c_nationkey": ("nation", "n_nationkey")},
            rid_pos=lambda df: F.col("c_custkey"),
        )
        engine.register_dataframe(
            "worders",
            engine.catalog.dataframe("orders"),
            links={"o_custkey": ("wcustomer", "c_custkey")},
            rid_pos=lambda df: F.col("o_orderkey"),
        )

    def _stmt(self, kind: str) -> tuple[str, tuple]:
        rng = self.rng
        if kind == "upd_o":
            k = self.orders_live[rng.randrange(len(self.orders_live))]
            v = round(rng.uniform(1000, 500_000), 2)
            self.orders_val[k] = v
            self.recent_o = (self.recent_o + [k])[-3:]
            return f"update worders set o_totalprice = {v:.2f} where o_orderkey = {k}", (("updated", 1),)
        if kind == "del_o":
            k = self.orders_live[rng.randrange(len(self.orders_live))]
            i, last = self.orders_pos.pop(k), self.orders_live.pop()
            if last != k:
                self.orders_live[i] = last
                self.orders_pos[last] = i
            self.orders_val.pop(k, None)
            self.deleted_o = (self.deleted_o + [k])[-1:]
            return f"delete from worders where o_orderkey = {k}", (("deleted", 1),)
        if kind == "upd_c":
            k = self.cust_keys[rng.randrange(len(self.cust_keys))]
            v = round(rng.uniform(-999, 9999), 2)
            self.cust_val[k] = v
            self.recent_c = (self.recent_c + [k])[-4:]
            return f"update wcustomer set c_acctbal = {v:.2f} where c_custkey = {k}", (("updated", 1),)
        if kind == "ins_c":
            k = self.next_cust
            self.next_cust += 1
            v = round(rng.uniform(-999, 9999), 2)
            seg = rng.choice(self.SEGMENTS)
            self.cust_keys.append(k)
            self.cust_val[k] = v
            self.recent_c = (self.recent_c + [k])[-4:]
            return (
                "insert into wcustomer (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment) "
                f"values ({k}, 'Customer#{k:09d}', {rng.randrange(25)}, {v:.2f}, '{seg}')"
            ), (("inserted", 1),)
        raise ValueError(kind)

    def round(self) -> list[Op]:
        ops = []
        for kind in self.ROUND:
            ops.append(self._op(kind))
            # the model's row counts once this op has run
            ops[-1].counts = (len(self.orders_live), len(self.cust_keys))
        return ops

    def _op(self, kind: str) -> Op:
        if kind == "tx":
            return Op("tx", stmts=[self._stmt(k) for k in self.TX])
        if kind == "check_o":
            keys = sorted(set(self.recent_o + self.deleted_o))
            want = [(k, self.orders_val[k]) for k in keys if k in self.orders_pos]
            return Op(kind, "select o_orderkey, o_totalprice from worders where o_orderkey in "
                      f"[{', '.join(map(str, keys))}]", expect=want)
        if kind == "check_c":
            keys = sorted(set(self.recent_c))
            want = [(k, self.cust_val[k]) for k in keys]
            return Op(kind, "select c_custkey, c_acctbal from wcustomer where c_custkey in "
                      f"[{', '.join(map(str, keys))}]", expect=want)
        text, want = self._stmt(kind)
        return Op(kind, text, expect=want)

    def _dml(self, text: str, run, tracer):
        df = run(text)
        return tuple(zip(df.columns, _collect(tracer, df)[0]))

    def execute(self, op: Op, tracer):
        if op.kind.startswith("check"):
            return _collect(tracer, self.eng.sql(op.text))
        if op.kind != "tx":
            return self._dml(op.text, self.eng.command, tracer)
        tx = self.eng.begin()
        try:
            out = [self._dml(text, tx.command, tracer) for text, _ in op.stmts]
            tx.commit()
        except BaseException:
            if tx._active:
                tx.rollback()
            raise
        return out

    def verify(self, done: list) -> list[bool]:
        out = []
        for op, result in done:
            if op.kind.startswith("check"):
                out.append(_rows_equal(result, op.expect, ordered=False))
            elif op.kind == "tx":
                out.append(result == [want for _, want in op.stmts])
            else:
                out.append(result == op.expect)
        return out

    def final_ok(self, last: Op) -> bool:
        """Row counts of both classes against the model's counts after
        the last op that ran (untimed)."""
        n_o = self.eng.sql("select count(*) as n from worders").collect()[0][0]
        n_c = self.eng.sql("select count(*) as n from wcustomer").collect()[0][0]
        return (n_o, n_c) == last.counts


# -- analytics ---------------------------------------------------------------------


# (layer, registry entry) per part of the composite job; each part is
# built by the registry's own query function
ANALYTICS_PARTS = (
    ("graph", "graph_connected_components"),
    ("graph", "graph_pagerank"),
    ("pipeline", "sample_leakage_safe_split"),
    ("pipeline", "text_bpe_encode"),
    ("pipeline", "sim_bitext_mine_ivf"),
)


class Analytics(Workload):
    """One op = the whole composite job in a fresh session, the way a
    scheduled batch job runs: there is no warm-up op, so the timed op is
    cold and its time includes first-use compilation (JIT, generated
    code). Each part is forced by collecting its result, and every
    result must equal the registry's DuckDB oracle for its entry over the
    same parquet files."""

    name = "analytics"
    WARMUP = False
    # a traced run is warm-up, traced op, untraced op: a further untraced
    # op before the traced one would bring it near the 180 s run limit
    TRACE_BEFORE = False
    TABLES = ("region", "nation", "customer", "orders", "documents", "embeddings")

    def __init__(self, seed: int, sizes: dict[str, int], data_dir: str):
        self.data_dir = data_dir
        self.want = None  # the oracle's answers, computed on first use

    def prepare(self, engine) -> None:
        """Hand the registry this run's fresh ``Engine``: its query
        functions look their engine up by (session, data directory), and
        would otherwise build and register one inside the timed op."""
        import __spark_entry__

        self.eng = engine
        key = (id(engine.spark), os.path.normpath(self.data_dir))
        __spark_entry__._ENGINES[key] = engine
        self.queries = __spark_entry__.queries()

    def round(self) -> list[Op]:
        return [Op("job")]

    def execute(self, op: Op, tracer):
        out = {}
        spark = self.eng.spark
        for layer, entry in ANALYTICS_PARTS:
            traced = tracer is not None and tracer.active
            j0 = tracer.probe.jobs() if traced else 0
            df = self.queries[entry](spark, self.data_dir)
            j1 = tracer.probe.jobs() if traced else 0
            out[entry] = (df.columns, _collect(tracer, df))
            if traced:
                tracer.add(layer + ".build_jobs", j1 - j0)
                tracer.add(layer + ".exec_jobs", tracer.probe.jobs() - j1)
        return out

    def verify(self, done: list) -> list[bool]:
        if self.want is None:
            self.want = self._oracle()
        return [
            all(_named_rows_equal(result[e], self.want[e]) for e in self.want)
            for _, result in done
        ]

    def _oracle(self) -> dict:
        import duckdb

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.TABLES:
                con.execute(
                    f"create view {t} as select * from read_parquet('{self.data_dir}/{t}.parquet')"
                )
            want = {}
            for _, entry in ANALYTICS_PARTS:
                res = con.execute(oracles[entry])
                want[entry] = ([d[0] for d in res.description], res.fetchall())
            return want
        finally:
            con.close()


def _named_rows_equal(got, want) -> bool:
    """Multiset equality of two (column names, rows) results, matching
    columns by name; floats to 1e-6, as the registry's oracle checks."""
    (gcols, grows), (wcols, wrows) = got, want
    if sorted(gcols) != sorted(wcols):
        return False
    gi = [gcols.index(c) for c in sorted(gcols)]
    wi = [wcols.index(c) for c in sorted(gcols)]
    return _rows_equal(
        [tuple(r[i] for i in gi) for r in grows],
        [tuple(r[i] for i in wi) for r in wrows],
        ordered=False,
        rel_tol=1e-6,
    )


WORKLOADS = {w.name: w for w in (DocRead, DocWrite, Analytics)}
