"""CPU time spent serving one operation.

The system under test is this Python process (PySpark's driver side: plan
building, Py4J calls, row conversion) plus the JVM it started and every
process under the JVM (PySpark's Python workers, and any command the JVM
runs). ``TreeClock`` reads the CPU time of all of them: ``time.process_time``
for this process, and ``/proc/<pid>/stat`` (user + system time, plus that of
reaped children) for the JVM and its live descendants. Read before and
after a request, the difference is what that request cost the machine,
whatever else the host was running at the time.

The JVM's JIT compiler threads are left out. Compiling is warm-up work: in
a run of this length it still took 30-40 % of the JVM's CPU after a
warm-up pass, and how much of it lands in the measured passes depends on
timing rather than on the work the operations do.

``/proc`` counts in clock ticks (10 ms), so a single reading is coarse; sums
over many operations are not.
"""

from __future__ import annotations

import os
import statistics
import time

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")
# HotSpot's compiler threads, by their (15-character) thread names
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
PROBE_LONGS = 1_000_000
PROBE_SEED = 20211
PROBE_REF_MS = 130.0  # the probe's CPU time, about, on an idle 4-core VM host


def _split(raw: str) -> tuple[str, list[str]]:
    """(command name, fields from the state field on) of a stat line."""
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process or thread has exited
        return None


def tree_ticks(root: int) -> int:
    """CPU ticks of ``root`` and every live process under it."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (raw := _read(f"/proc/{name}/stat")) is not None:
            fields = _split(raw)[1]
            parent[int(name)] = int(fields[1])
            ticks[int(name)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p != root and p in parent:
            p = parent[p]
        if p == root:
            total += t
    return total


def jit_ticks(pid: int) -> dict[int, int]:
    """CPU ticks of each live JIT compiler thread of ``pid``, by thread id."""
    out: dict[int, int] = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        raw = _read(f"/proc/{pid}/task/{tid}/stat")
        if raw is None:
            continue
        name, fields = _split(raw)
        if name.startswith(JIT_THREADS):
            out[int(tid)] = int(fields[11]) + int(fields[12])
    return out


class TreeClock:
    """CPU milliseconds of this process plus the JVM's process tree, less
    the JIT compiler threads.

    ``mark()`` before an operation, ``since(mark)`` after it. This process's
    clock is read next to the operation on both sides, so the ``/proc``
    scans themselves stay outside the window."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def mark(self) -> tuple[int, dict[int, int], float]:
        tree, jit = tree_ticks(self.jvm_pid), jit_ticks(self.jvm_pid)
        return tree, jit, time.process_time()

    def since(self, mark: tuple[int, dict[int, int], float]) -> float:
        py = time.process_time()
        tree, jit = tree_ticks(self.jvm_pid), jit_ticks(self.jvm_pid)
        # a compiler thread that exited in between is charged to the
        # operation; HotSpot keeps them while there is code to compile
        jit_ms = sum(t - mark[1].get(tid, 0) for tid, t in jit.items()) * _TICK_MS
        return (tree - mark[0]) * _TICK_MS - jit_ms + (py - mark[2]) * 1000.0


class SpeedProbe:
    """How fast the host runs at the moment, read inside the run.

    On a shared host the same work takes more CPU time while other tenants
    are busy than while they are idle: caches and cores are shared below
    the VM. Over ten runs of ``refresh_mixed`` the hit-path CPU per request
    ran from 147 to 217 ms, with the busier runs higher. The probe is a
    fixed piece of work that no change to the program can alter:
    ``java.util.Arrays.sort`` of the same ``PROBE_LONGS`` random longs, in
    place on one JVM thread, timed with that thread's own CPU clock so that
    nothing else the JVM does at the time is in it. ``scale()`` is
    ``PROBE_REF_MS`` over the median probe time: multiplied by it, a CPU
    time reads as on a host where the probe takes ``PROBE_REF_MS``."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._jvm = jvm
        self._src = jvm.java.util.Random(PROBE_SEED).longs(PROBE_LONGS).toArray()
        self._dst = jvm.java.util.Arrays.copyOf(self._src, PROBE_LONGS)
        self._threads = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        self.samples: list[float] = []
        for _ in range(5):  # until the JIT has compiled the sort
            self._once()

    def _once(self) -> float:
        self._jvm.java.lang.System.arraycopy(self._src, 0, self._dst, 0, PROBE_LONGS)
        # Python's thread is pinned to one JVM thread, so both readings
        # and the sort run on the same thread
        t0 = self._threads.getCurrentThreadCpuTime()
        self._jvm.java.util.Arrays.sort(self._dst)
        return (self._threads.getCurrentThreadCpuTime() - t0) / 1e6

    def run(self) -> None:
        self.samples += [self._once() for _ in range(3)]

    def scale(self) -> float:
        return PROBE_REF_MS / statistics.median(self.samples)
