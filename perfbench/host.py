"""Host and process readings from /proc: CPU seconds of the driver Python
process, of the Spark JVM, of the JVM's JIT compiler threads and of the
Python workers the JVM forks; the host's steal time and load average. These are the steal-resistant cost
behind ``cpu_s_per_op`` and the record that lets run-to-run spread be
blamed on the host or on the program."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def _cpu_s(fields: list[str]) -> float:
    # utime stime cutime cstime: own time plus that of reaped children
    return sum(int(x) for x in fields[11:15]) / _TICK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


_THREAD_KINDS = (
    ("jit", ("C1 Compiler", "C2 Compiler")),
    ("gc", ("GC Thread", "G1 ")),
    ("task", ("Executor task",)),
)


def _thread_kind(name: str) -> str:
    for kind, prefixes in _THREAD_KINDS:
        if name.startswith(prefixes):
            return kind
    return "other"


def threads_cpu_s(pid: int) -> dict[int, tuple[str, float]]:
    """(kind, CPU seconds) of each live thread of ``pid``, by thread id.
    Kinds: ``jit`` (the JIT compiler threads), ``gc``, ``task`` (Spark
    task threads) and ``other``."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except FileNotFoundError:  # the thread ended
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        name = raw[raw.index("(") + 1 : raw.rindex(")")]
        out[int(tid)] = (_thread_kind(name), (int(fields[11]) + int(fields[12])) / _TICK)
    return out


class DescendantCpu:
    """CPU seconds of the processes descended from ``root`` (the JVM):
    Spark's Python daemon and the workers it forks. The daemon ignores
    SIGCHLD, so a worker that exits shows in no process's children time
    and would drop out of a plain snapshot of the tree. A background
    thread therefore polls the tree every ``period`` seconds and keeps
    each process's last reading; an exiting worker loses at most its last
    period. The thread's own CPU is kept in ``own_cpu_s``, so it can be
    taken off the driver process's."""

    def __init__(self, root: int, period: float = 0.05):
        self.root, self.period = root, period
        self.last: dict[tuple[int, str], float] = {}  # (pid, start time) -> CPU s
        self.own_cpu_s = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="descendant-cpu", daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        kids = _children()
        now, todo = {}, list(kids.get(self.root, ()))
        while todo:
            pid = todo.pop()
            fields = _stat_fields(pid)
            if fields is not None:
                now[(pid, fields[19])] = _cpu_s(fields)
            todo.extend(kids.get(pid, ()))
        with self._lock:
            self.last.update(now)

    def _run(self) -> None:
        t0 = time.thread_time()
        while not self._stop.wait(self.period):
            self._poll()
            self.own_cpu_s = time.thread_time() - t0

    def total(self) -> float:
        """CPU seconds of every descendant seen so far, plus the children
        ``root`` itself has reaped."""
        self._poll()
        fields = _stat_fields(self.root)
        with self._lock:
            return sum(self.last.values()) + sum(int(x) for x in fields[13:15]) / _TICK

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def self_cpu_s() -> float:
    times = os.times()
    return times.user + times.system


def steal_s() -> float:
    """Host-wide steal seconds (all CPUs) since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class CpuMeter:
    """CPU and steal seconds between two snapshots, split into the
    driver Python process (less the descendant poller's own CPU), the
    JVM's own threads (live or ended), the JVM's JIT compiler threads
    among them, and the JVM's descendants (the Python workers Spark
    forks). Per-kind thread figures cover the threads alive at the
    second snapshot; the JIT compiler threads live for the whole run (the
    JVM runs with a fixed set of them), so the ``jit`` figure is exact."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.workers = DescendantCpu(jvm_pid)

    def sample(self) -> tuple:
        own = _stat_fields(self.jvm_pid)
        return (
            self_cpu_s() - self.workers.own_cpu_s,
            (int(own[11]) + int(own[12])) / _TICK,  # utime stime of all its threads
            self.workers.total(),
            threads_cpu_s(self.jvm_pid),
            steal_s(),
        )

    @staticmethod
    def diff(a: tuple, b: tuple) -> dict:
        by_kind: dict[str, float] = {}
        for tid, (kind, cpu) in b[3].items():
            by_kind[kind] = by_kind.get(kind, 0.0) + cpu - a[3].get(tid, (kind, 0.0))[1]
        return {
            "py_cpu_s": b[0] - a[0],
            "jvm_cpu_s": b[1] - a[1],
            "jit_cpu_s": by_kind.get("jit", 0.0),
            "pyworker_cpu_s": b[2] - a[2],
            "jvm_threads_cpu_s": by_kind,
            "steal_s": b[4] - a[4],
        }

    def close(self) -> None:
        self.workers.close()
