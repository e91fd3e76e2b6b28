#!/usr/bin/env python3
"""spark-orient benchmark: closed loop, one client thread, zero think time.

    python3 perfbench/run.py --workload doc_read --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads (see README.md):

- ``doc_read``  — OrientDB-SQL SELECTs via ``Engine.sql`` (sf 0.1 data)
- ``doc_write`` — INSERT/UPDATE/DELETE, read-your-writes SELECTs and
  3-statement transactions via ``Engine.command`` / ``Engine.begin``
  (sf 0.1 data)
- ``analytics`` — the graph + training-data composite job (sf 0.01 data)

One run: generate the data if this checkout has none yet (cached under
``.bench_build/perfbench``) and byte-compile the program, neither part
of set-up; start Spark at
``local[4]`` (fewer if the host has fewer cores), build a fresh
``Engine`` + registration + workload prep three times (the last one is
used), warm up (one round; none for ``analytics``, whose one op is timed
cold), then run whole steps of rounds until ``--seconds`` have passed.
Every op's output is checked afterwards, outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs a third
of the time untraced, a third traced (timing wrappers on the program's
public calls, Spark status-store diffs per op) and a third untraced
again, and prints the per-layer metrics, each per op of the traced phase
unless its name says otherwise.

The last stdout line is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
A human summary and the host-noise record go to stderr and to
``.bench_build/perfbench/runs/``.
"""

from __future__ import annotations

T0 = __import__("time").perf_counter()  # process start, for set-up time

import argparse  # noqa: E402
import compileall  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

MAX_CORES = 4
SCALE = {"doc_read": 0.1, "doc_write": 0.1, "analytics": 0.01}
SETUP_REPEATS = 3
DEADLINE_S = 170  # the run must end inside 180 s


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SCALE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and cap the driver heap (the default is sized for a
    big dedicated host)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    # a fixed set of JIT compiler threads, so their CPU can be told apart
    # from the program's (see host.CpuMeter)
    java = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    # the launcher JVM that spark-submit starts first takes the same flags
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java)} "
        f"--conf spark.sql.warehouse.dir={shlex.quote(os.path.join(WORK, 'warehouse'))} "
        "pyspark-shell"
    )


def _q(values, q: int) -> float:
    """The q-th percentile (1..99) with linear interpolation."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Run:
    def __init__(self, args):
        self.args = args
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace}

    # -- set-up --------------------------------------------------------------------

    def setup(self) -> None:
        import datagen
        from host import CpuMeter
        from workloads import WORKLOADS

        a = self.args
        scale = SCALE[a.workload]
        # a one-time build in a fresh checkout, kept out of set-up: the
        # data, and the program's bytecode, which its first import would
        # otherwise write inside the timed set-up
        t = time.perf_counter()
        self.data_dir = datagen.ensure(scale, os.path.join(WORK, "data"))
        self.sizes = datagen.sizes(scale)
        compileall.compile_dir(os.path.join(ROOT, "orientdb_spark"), quiet=1)
        compileall.compile_file(os.path.join(ROOT, "__spark_entry__.py"), quiet=1)
        build_s = time.perf_counter() - t

        t = time.perf_counter()
        from orientdb_spark import Engine, get_spark

        self.cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
        self.spark = get_spark(app_name="perfbench", cpus=self.cores)
        self.jvm = self.spark.sparkContext._gateway.proc
        session_s = time.perf_counter() - t
        self.meter = CpuMeter(self.jvm.pid)

        reg, prep = [], []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            eng = Engine(self.spark)
            eng.register_parquet_dir(self.data_dir)
            t1 = time.perf_counter()
            wl = WORKLOADS[a.workload](a.seed, self.sizes, self.data_dir)
            wl.prepare(eng)
            t2 = time.perf_counter()
            reg.append(t1 - t)
            prep.append(t2 - t1)
        self.eng, self.wl = eng, wl

        # a traced run always warms up, so its two phases compare like
        # with like
        warmup_s = 0.0
        if wl.WARMUP or a.trace:
            t = time.perf_counter()
            warm = self.phase(0.0, None, warmup=True)
            warmup_s = time.perf_counter() - t
            if self.verify(warm)["failed"]:
                raise RuntimeError(f"warm-up failed: {warm['errors'][:3]}")

        self.setup_parts = {
            "session_s": session_s,
            "register_s": statistics.median(reg),
            "prep_s": statistics.median(prep),
            "warmup_s": warmup_s,
        }
        self.setup_s = sum(self.setup_parts.values())
        self.record.update(
            build_s=build_s, cores=self.cores, nproc=os.cpu_count(),
            setup=self.setup_parts, setup_repeats={"register_s": reg, "prep_s": prep},
            # the whole of set-up as one process pays it, repeats included
            process_s=time.perf_counter() - T0 - build_s,
        )

    # -- timed phase ---------------------------------------------------------------

    def phase(self, seconds: float, tracer, warmup: bool = False, step: int = 1) -> dict:
        """Run whole rounds, ``step`` at a time, until ``seconds`` have
        passed (at least one step), so every phase has the same mix of
        statement kinds; or, with ``warmup``, one round. With a tracer,
        per-op Spark diffs are taken between ops and their bookkeeping
        time is kept out of the phase's elapsed time."""
        wl, lat, done, errors, kinds = self.wl, [], [], [], []
        meter = self.meter
        cpu0 = meter.sample()
        book = 0.0
        t0 = time.perf_counter()
        if tracer is not None:
            tracer.active = True
            self._trace_begin(tracer)
        rounds = 0
        while True:
            rounds += 1
            for op in wl.round():
                if tracer is not None:
                    tracer.op_index += 1
                    tracer.op_start_ms = int(time.time() * 1000)
                    j0, s0 = tracer.probe.jobs(), tracer.probe.stages()
                t = time.perf_counter()
                try:
                    if tracer is not None:
                        with tracer.span("op." + op.kind) as span:
                            result = wl.execute(op, tracer)
                            span["ok"] = True
                    else:
                        result = wl.execute(op, None)
                    done.append((op, result))
                except Exception:
                    errors.append(f"{op.kind}: {traceback.format_exc(limit=3)}")
                dt = time.perf_counter() - t
                self.last_op = op
                lat.append(dt)
                kinds.append(op.kind)
                if tracer is not None:
                    b = time.perf_counter()
                    self._trace_op(tracer, j0, s0, dt)
                    book += time.perf_counter() - b
            if warmup or (rounds % step == 0 and time.perf_counter() - t0 - book >= seconds):
                break
        elapsed = time.perf_counter() - t0 - book
        cpu1 = meter.sample()
        if tracer is not None:
            tracer.active = False
            self._trace_end(tracer)
        return {
            "attempted": len(lat), "done": done, "elapsed_s": elapsed,
            "lat": lat, "kinds": kinds, "errors": errors,
            "bookkeeping_s": book, **meter.diff(cpu0, cpu1),
        }

    def verify(self, ph: dict) -> dict:
        """Check every completed op's output (untimed); an op that raised
        or returned a wrong answer counts as failed."""
        done = ph.pop("done")
        wrong = [op.kind for (op, _), good in zip(done, self.wl.verify(done)) if not good]
        ph["errors"] += [f"wrong: {k}" for k in wrong]
        ph["failed"] = ph["attempted"] - len(done) + len(wrong)
        ph["verified"] = len(done) - len(wrong)
        return ph

    # -- tracing -------------------------------------------------------------------

    def _rewrites(self) -> dict[str, int]:
        cat = self.eng.catalog
        return {n: cat.get(n).rewrites for n in cat.class_names()}

    def _trace_begin(self, tr) -> None:
        self._rw0 = self._rewrites()
        self._cache0 = tr.probe.cache()
        self._op_wall = 0.0

    def _trace_op(self, tr, j0: int, s0: int, dt: float) -> None:
        p = tr.probe
        j1, s1 = p.jobs(), p.stages()
        tr.add("spark.jobs", j1 - j0)
        tr.add("spark.stages", s1 - s0)
        for k, v in p.stage_totals(s0, s1).items():
            tr.add("spark." + k, v)
        self._op_wall += dt
        self._cache1 = p.cache()

    def _trace_end(self, tr) -> None:
        from orientdb_spark.catalog import DML_CHECKPOINT_EVERY as every

        rw1 = self._rewrites()
        tr.totals["catalog.checkpoints"] += sum(
            rw1[n] // every - self._rw0.get(n, 0) // every for n in rw1
        )

    # -- metrics -------------------------------------------------------------------

    def end_to_end(self, ph: dict) -> dict:
        lat_ms = sorted(x * 1000 for x in ph["lat"])
        return {
            "ops_per_s": (ph["verified"] / ph["elapsed_s"], "1/s"),
            "op_p50_ms": (_q(lat_ms, 50), "ms"),
            "op_p90_ms": (_q(lat_ms, 90), "ms"),
            "cpu_s_per_op": (
                (ph["py_cpu_s"] + ph["jvm_cpu_s"] - ph["jit_cpu_s"] + ph["pyworker_cpu_s"])
                / ph["attempted"], "s"),
            "setup_s": (self.setup_s, "s"),
        }

    def per_layer(self, tr, ph: dict, untraced: list[dict]) -> dict:
        t = tr.totals
        n = ph["attempted"]

        def per_op(key, scale=1.0):
            return t.get(key, 0.0) * scale / n

        sql_calls = t.get("engine.sql.calls", 0.0)
        parsed_in_sql = sum(
            1 for s in tr.spans
            if s[3] == "parser.parse" and s[1] is not None and tr.spans[s[1]][3] == "engine.sql"
        )
        traced_ops_s = ph["verified"] / ph["elapsed_s"]
        untraced_ops_s = (sum(u["verified"] for u in untraced)
                          / sum(u["elapsed_s"] for u in untraced))
        cache0, cache1 = self._cache0, self._cache1
        m = {
            "ops.traced": (n, "count"),
            "error_ratio": (sum(p["failed"] for p in [ph, *untraced])
                            / sum(p["attempted"] for p in [ph, *untraced]), "ratio"),
            "parser.calls": (per_op("parser.parse.calls"), "count"),
            "parser.ms": (per_op("parser.parse.s", 1e3), "ms"),
            "engine.sql_ms": (per_op("engine.sql.s", 1e3), "ms"),
            "engine.plan_cache_hit_ratio": (
                1.0 - parsed_in_sql / sql_calls if sql_calls else 0.0, "ratio"),
            "select.compile_ms": (per_op("select.compile.s", 1e3), "ms"),
            "select.compile_jobs": (per_op("select.compile.jobs"), "count"),
            "catalog.dataframe_calls": (per_op("catalog.dataframe.calls"), "count"),
            "catalog.dataframe_ms": (per_op("catalog.dataframe.s", 1e3), "ms"),
            "catalog.swaps": (per_op("catalog.set_dataframe.calls"), "count"),
            "catalog.checkpoints": (per_op("catalog.checkpoints"), "count"),
            "dml.execute_ms": (per_op("dml.execute_dml.s", 1e3), "ms"),
            "dml.jobs": (per_op("dml.execute_dml.jobs"), "count"),
            "tx.commit_ms": (per_op("tx.commit.s", 1e3), "ms"),
            "tx.commit_failures": (per_op("tx.commit.errors"), "count"),
            "graph.connected_components_ms": (per_op("graph.connected_components.s", 1e3), "ms"),
            "graph.pagerank_ms": (per_op("graph.pagerank.s", 1e3), "ms"),
            "graph.build_jobs": (per_op("graph.build_jobs"), "count"),
            "graph.exec_jobs": (per_op("graph.exec_jobs"), "count"),
        }
        for fn in ("minhash_lsh_pairs", "leakage_safe_split", "bpe_train", "bpe_encode",
                   "bitext_mine"):
            m[f"pipeline.{fn}_ms"] = (per_op(f"pipeline.{fn}.s", 1e3), "ms")
        m["pipeline.build_jobs"] = (per_op("pipeline.build_jobs"), "count")
        m["pipeline.exec_jobs"] = (per_op("pipeline.exec_jobs"), "count")
        m.update({
            "spark.cores": (self.cores, "count"),
            "spark.jobs": (per_op("spark.jobs"), "count"),
            "spark.stages": (per_op("spark.stages"), "count"),
            "spark.tasks": (per_op("spark.tasks"), "count"),
            "spark.executor_cpu_s": (per_op("spark.executor_cpu_s"), "s"),
            "spark.executor_run_s": (per_op("spark.executor_run_s"), "s"),
            "spark.jvm_gc_s": (per_op("spark.jvm_gc_s"), "s"),
            "spark.shuffle_read_bytes": (per_op("spark.shuffle_read_bytes"), "bytes"),
            "spark.shuffle_write_bytes": (per_op("spark.shuffle_write_bytes"), "bytes"),
            "spark.spill_bytes": (per_op("spark.spill_bytes"), "bytes"),
            "spark.catalyst_ms": (per_op("spark.catalyst_ms"), "ms"),
            "spark.parallel_efficiency": (
                t.get("spark.executor_run_s", 0.0) / (self._op_wall * self.cores), "ratio"),
            "cache.persisted_rdds": (cache1[0], "count"),
            "cache.cached_bytes": (cache1[1], "bytes"),
            "cache.persisted_rdds_growth": (cache1[0] - cache0[0], "count"),
            "cache.cached_bytes_growth": (cache1[1] - cache0[1], "bytes"),
            "host.steal_s": (ph["steal_s"] / n, "s"),
            "host.py_cpu_s": (ph["py_cpu_s"] / n, "s"),
            "host.jvm_cpu_s": (ph["jvm_cpu_s"] / n, "s"),
            "host.jit_cpu_s": (ph["jit_cpu_s"] / n, "s"),
            "host.pyworker_cpu_s": (ph["pyworker_cpu_s"] / n, "s"),
            "host.loadavg_1m": (self.record["loadavg_1m"], "load"),
            "setup.session_s": (self.setup_parts["session_s"], "s"),
            "setup.register_s": (self.setup_parts["register_s"], "s"),
            "setup.prep_s": (self.setup_parts["prep_s"], "s"),
            "setup.warmup_s": (self.setup_parts["warmup_s"], "s"),
            "setup.register_cold_s": (self.record["setup_repeats"]["register_s"][0], "s"),
            "setup.process_s": (self.record["process_s"], "s"),
            "trace.traced_ops_per_s": (traced_ops_s, "1/s"),
            "trace.untraced_ops_per_s": (untraced_ops_s, "1/s"),
            "trace.overhead_pct": ((1.0 - traced_ops_s / untraced_ops_s) * 100.0, "%"),
        })
        return m

    # -- main ----------------------------------------------------------------------

    def main(self) -> dict:
        from host import loadavg_1m

        a = self.args
        self.record["loadavg_1m"] = loadavg_1m()
        self.setup()
        if not a.trace:
            ph = self.verify(self.phase(a.seconds, None, step=self.wl.STEP))
            metrics = self.end_to_end(ph)
            phases = [ph]
        else:
            from spans import SparkProbe, Tracer, targets

            # untraced, traced, untraced: phases of whole checkpoint cycles,
            # so each holds the same mix, and the traced one is compared with
            # the two around it, which cancels a steady warm-up trend
            step = max(self.wl.STEP, self.wl.CYCLE)
            before = None
            if self.wl.TRACE_BEFORE:
                before = self.verify(self.phase(a.seconds / 3, None, step=step))
            tracer = Tracer(SparkProbe(self.spark))
            tracer.install(targets())
            try:
                ph = self.phase(a.seconds / 3, tracer, step=step)
            finally:
                tracer.uninstall()
            self.verify(ph)
            after = self.verify(self.phase(a.seconds / 3, None, step=step))
            phases = [p for p in (before, ph, after) if p is not None]
            metrics = self.per_layer(tracer, ph, [p for p in phases if p is not ph])
            tracer.write(os.path.join(WORK, "runs", f"spans-{a.workload}-s{a.seed}.jsonl"))
        attempted = sum(p["attempted"] for p in phases)
        failed = sum(p["failed"] for p in phases)
        errors = [e for p in phases for e in p["errors"]]
        if not self.wl.final_ok(self.last_op):
            failed = min(attempted, failed + 1)
            errors.append("final row counts differ from the model")
        self._summarize(phases, attempted, failed, errors)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _summarize(self, phases, attempted, failed, errors) -> None:
        by_kind: dict[str, list[float]] = {}
        for p in phases:
            for k, x in zip(p["kinds"], p["lat"]):
                by_kind.setdefault(k, []).append(x * 1000)
        self.record.update(
            attempted=attempted, failed=failed, error_ratio=failed / attempted,
            errors=errors[:5],
            phases=[{k: v for k, v in p.items() if k not in ("lat", "kinds", "errors")}
                    for p in phases],
            kind_p50_ms={k: round(statistics.median(v), 1) for k, v in by_kind.items()},
            kind_n={k: len(v) for k, v in by_kind.items()},
        )
        a = self.args
        path = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}.json")
        with open(path, "w") as f:
            json.dump(self.record, f, indent=1, default=str)
        print(json.dumps(self.record, default=str), file=sys.stderr)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it
        forked) to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        if hasattr(self, "meter"):
            self.meter.close()
        gateway, proc = spark.sparkContext._gateway, self.jvm
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "orientdb_spark")):
        print(f"perfbench: no orientdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    _isolate()
    sys.path[:0] = [HERE, ROOT]
    run = Run(a)

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        out = run.main()
    finally:
        signal.alarm(0)
        run.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
