"""CPU time the engine spends on a step, read from ``/proc``.

On a shared host a step's wall time also measures the neighbours: time
spent waiting for a CPU, and time the hypervisor gave the CPU to another
guest (steal), both count. CPU time counts neither. The meter sums the
on-CPU time of the driver JVM's threads (from each thread's
``schedstat``, in nanoseconds), of this Python driver process and of the
JVM's Python workers. The JVM's JIT compiler threads are kept apart: they
compile whatever ran before, not the step being measured, and their work
fades as the process warms up.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
# JVM thread names (``comm``, at most 15 characters) of the JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
PARTS = ("jvm", "jit", "driver", "workers")
# the parts that do a step's work
ENGINE_PARTS = ("jvm", "driver", "workers")


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the thread or process has just exited
        return ""


def _proc_ticks_s(pid: int) -> float:
    """User + system CPU seconds of a process and its reaped children."""
    stat = _read(f"/proc/{pid}/stat")
    if not stat:
        return 0.0
    fields = stat.rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15]) / _TICK


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        out += [int(c) for c in
                _read(f"/proc/{pid}/task/{tid}/children").split()]
    return out


class CpuMeter:
    """``read()`` returns cumulative CPU seconds per part: ``jvm`` (every
    JVM thread but the JIT compilers), ``jit``, ``driver`` (this
    process) and ``workers`` (the JVM's descendant processes, live ones
    plus those they reaped)."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self._jit: dict[int, bool] = {}  # tid -> is a JIT compiler thread
        # CPU of JVM threads that have exited since the last read
        self._last: dict[int, float] = {}
        self._gone = {"jvm": 0.0, "jit": 0.0}

    def _jvm_threads(self) -> dict[str, float]:
        seen: dict[int, float] = {}
        tot = {"jvm": 0.0, "jit": 0.0}
        for name in os.listdir(f"/proc/{self.jvm}/task"):
            tid = int(name)
            sched = _read(f"/proc/{self.jvm}/task/{tid}/schedstat")
            if not sched:
                continue
            if tid not in self._jit:
                comm = _read(f"/proc/{self.jvm}/task/{tid}/comm").strip()
                self._jit[tid] = comm.startswith(JIT_THREADS)
            s = int(sched.split()[0]) / 1e9
            seen[tid] = s
            tot["jit" if self._jit[tid] else "jvm"] += s
        for tid, s in self._last.items():
            if tid not in seen:
                self._gone["jit" if self._jit.get(tid) else "jvm"] += s
        self._last = seen
        return {k: v + self._gone[k] for k, v in tot.items()}

    def _workers(self) -> float:
        tot, todo = 0.0, _children(self.jvm)
        while todo:
            pid = todo.pop()
            tot += _proc_ticks_s(pid)
            try:
                todo += _children(pid)
            except OSError:
                pass
        return tot

    def read(self, driver_first: bool) -> dict[str, float]:
        """Read before a step with ``driver_first=False`` and after it
        with ``True``, so the meter's own ``/proc`` reads are not charged
        to the step."""
        driver = time.process_time() if driver_first else None
        out = self._jvm_threads()
        out["workers"] = self._workers()
        out["driver"] = time.process_time() if driver is None else driver
        return out

    @staticmethod
    def delta(before: dict, after: dict) -> dict[str, float]:
        return {k: after[k] - before[k] for k in PARTS}
