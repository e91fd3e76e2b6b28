"""Per-layer spans and counters, taken from outside the program.

The program carries no instrumentation. ``Tracer.install`` replaces a
fixed list of public functions and methods with timing wrappers for the
traced phase only, and ``uninstall`` puts the originals back; the
untraced phases of a traced run call the program unwrapped.

Spans (name, parent span, op index, start, end) stay in memory and are
written as JSON lines by ``Tracer.write`` when the run ends.

Spark counters come from the driver's scheduler and status store:
``DAGScheduler.numTotalJobs`` / ``nextStageId`` bracket every op, the
compile and DML calls and each analytics part, and after each op the status store's record of each
new stage is summed (tasks, executor CPU and run time, GC, shuffle
bytes, spill). Catalyst phase time is read from the query execution of
each DataFrame the op forces, counting only the phases run during the
op.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError


class SparkProbe:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc
        self._sc = sc._jsc.sc()
        self._dag = self._sc.dagScheduler()

    def jobs(self) -> int:
        return self._dag.numTotalJobs()

    def stages(self) -> int:
        return self._dag.nextStageId()

    def stage_totals(self, first: int, end: int) -> dict[str, float]:
        """Sum the status-store records of stages ``first <= id < end``."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = defaultdict(float)
        for sid in range(first, end):
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never reached the store (not submitted)
                continue
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["jvm_gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def cache(self) -> tuple[int, int]:
        """(persisted RDD count, bytes they hold in memory and on disk)."""
        infos = self._sc.getRDDStorageInfo()
        held = sum(i.memSize() + i.diskSize() for i in infos)
        return self._jsc.getPersistentRDDs().size(), held

    @staticmethod
    def catalyst_ms(df, since_ms: int) -> float:
        """Catalyst phase time of ``df``'s query execution spent since the
        wall-clock time ``since_ms``. A plan-cache hit returns a DataFrame
        analysed and planned by an earlier op, and adds 0."""
        phases = df._jdf.queryExecution().tracker().phases()
        total, it = 0.0, phases.iterator()
        while it.hasNext():
            p = it.next()._2()
            total += max(0, p.endTimeMs() - max(p.startTimeMs(), since_ms))
        return total


class Tracer:
    def __init__(self, probe: SparkProbe):
        self.probe = probe
        self.active = False
        self.spans: list[tuple] = []
        self.totals: dict[str, float] = defaultdict(float)
        self._restore: list[tuple] = []
        self._stack: list[int] = []
        self._depth: dict[str, int] = defaultdict(int)
        self.op_index = -1
        self.op_start_ms = 0  # wall-clock start of the current op

    # -- wrappers ---------------------------------------------------------------

    def install(self, targets) -> None:
        """``targets``: (name, [(owner, attr), ...], count_jobs). Every
        listed place gets the same wrapper, so a function imported by name
        into several modules is timed once per call."""
        for name, places, count_jobs in targets:
            owner, attr = places[0]
            wrapper = self._wrap(getattr(owner, attr), name, count_jobs)
            for owner, attr in places:
                self._restore.append((owner, attr, getattr(owner, attr)))
                setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _wrap(self, fn, name: str, count_jobs: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active or tracer._depth[name]:
                return fn(*args, **kwargs)  # inactive, or nested in itself
            tracer._depth[name] = 1
            with tracer.span(name, count_jobs) as result:
                out = fn(*args, **kwargs)
                result["ok"] = True
            return out

        return wrapper

    def span(self, name: str, count_jobs: bool = False):
        return _Span(self, name, count_jobs)

    def add(self, name: str, value: float) -> None:
        if self.active:
            self.totals[name] += value

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, op, name, t0, t1 in self.spans:
                f.write(
                    json.dumps(
                        {"id": sid, "parent": parent, "op": op, "name": name,
                         "start_s": t0, "end_s": t1}
                    )
                    + "\n"
                )


class _Span:
    """One timed call: adds ``<name>.calls``, ``<name>.s``, ``<name>.errors``
    and, with ``count_jobs``, ``<name>.jobs`` to the tracer's totals."""

    def __init__(self, tracer: Tracer, name: str, count_jobs: bool):
        self.tr, self.name, self.count_jobs = tracer, name, count_jobs
        self.result = {"ok": False}

    def __enter__(self):
        tr = self.tr
        self.id = len(tr.spans)
        tr.spans.append(None)  # reserve the slot; filled on exit
        self.parent = tr._stack[-1] if tr._stack else None
        tr._stack.append(self.id)
        self.j0 = tr.probe.jobs() if self.count_jobs else 0
        self.t0 = time.perf_counter()
        return self.result

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        tr = self.tr
        tr._stack.pop()
        tr.spans[self.id] = (self.id, self.parent, tr.op_index, self.name, self.t0, t1)
        tot = tr.totals
        tot[self.name + ".calls"] += 1
        tot[self.name + ".s"] += t1 - self.t0
        if not self.result["ok"]:
            tot[self.name + ".errors"] += 1
        if self.count_jobs:
            tot[self.name + ".jobs"] += tr.probe.jobs() - self.j0
        tr._depth[self.name] = 0
        return False


def targets():
    """The public calls timed in a traced run, by layer. ``parse`` is
    imported by name into ``engine`` and ``synchquery``, so all three
    places get the one wrapper."""
    from orientdb_spark import catalog, dml, engine, graph, parser, select, synchquery, tx
    from orientdb_spark.pipeline import dedup, sampling, similarity, text

    return [
        ("parser.parse", [(parser, "parse"), (engine, "parse"), (synchquery, "parse")], False),
        ("engine.sql", [(engine.Engine, "sql")], False),
        ("select.compile", [(select.SelectCompiler, "compile")], True),
        ("catalog.dataframe", [(catalog.Catalog, "dataframe")], False),
        ("catalog.set_dataframe", [(catalog.Catalog, "set_dataframe")], False),
        ("dml.execute_dml", [(dml, "execute_dml")], True),
        ("tx.commit", [(tx.Transaction, "commit")], False),
        ("graph.connected_components", [(graph.Graph, "connected_components")], False),
        ("graph.pagerank", [(graph.Graph, "pagerank")], False),
        ("pipeline.minhash_lsh_pairs", [(dedup, "minhash_lsh_pairs")], False),
        ("pipeline.leakage_safe_split", [(sampling, "leakage_safe_split")], False),
        ("pipeline.bpe_train", [(text, "bpe_train")], False),
        ("pipeline.bpe_encode", [(text, "bpe_encode")], False),
        ("pipeline.bitext_mine", [(similarity, "bitext_mine")], False),
    ]
