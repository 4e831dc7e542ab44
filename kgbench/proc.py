"""Resource use of the engine's process tree, read from /proc.

The tree is the JVM and every process under it (the Python workers).
CPU time is what the tree was actually scheduled for: time the host
takes away from this VM (steal) is not in it, so it stays steadier than
wall time.  On a 4-CPU VM, wall-clock pass times of one workload moved
by 30-40% between runs as host steal went from 1% to 30% of the CPUs.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # fields after the parenthesised command name
        return f.read().rsplit(")", 1)[1].split()


def tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


# JVM threads whose CPU is the runtime's own rather than the engine's:
# HotSpot's JIT compilers and the G1 collector (thread names are cut to
# 15 characters in /proc).  How much they run depends on JVM heuristics
# and timing -- when a method gets hot, when a heap region fills -- so
# they decay over a run and swing between runs.  Their CPU is measured
# and reported per layer, but kept out of the engine's work.
RUNTIME = ("jit", "gc")
# thread name prefix -> kind; the engine's work is split into executor
# tasks, the Py4J threads that plan and drive jobs, the Python workers
# and every other JVM thread (scheduler, shuffle, listeners)
_KINDS = (("C1 CompilerThre", "jit"), ("C2 CompilerThre", "jit"),
          ("GC Thread", "gc"), ("G1 ", "gc"),
          ("Executor task l", "task"), ("Thread-", "driver"))


def _kind(thread_name: str) -> str:
    for prefix, kind in _KINDS:
        if thread_name.startswith(prefix):
            return kind
    return "jvm_other"


def cpu_snapshot(root: int) -> dict:
    """CPU seconds so far of every thread of the JVM ``root`` and of every
    process under it, keyed by (pid, tid) and tagged with its kind.
    A process under the JVM (the Python daemon and workers) counts with
    the children it reaped; the JVM's reaped children are one more
    entry."""
    snap = {}
    for p in tree(root):
        try:
            f = _stat_fields(p)
        except (OSError, IndexError):
            continue
        if p != root:
            snap[(p, 0)] = ("python", sum(int(x) for x in f[11:15]))
            continue
        snap[(p, 0)] = ("python", int(f[13]) + int(f[14]))
        for t in os.listdir(f"/proc/{p}/task"):
            try:
                with open(f"/proc/{p}/task/{t}/stat") as fh:
                    s = fh.read()
            except OSError:
                continue
            name = s[s.index("(") + 1:s.rindex(")")]
            f = s.rsplit(")", 1)[1].split()
            snap[(p, int(t))] = (_kind(name), int(f[11]) + int(f[12]))
    return snap


def tree_rss(root: int) -> int:
    total = 0
    for p in tree(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


@dataclass
class CpuUse:
    """CPU seconds over an interval, by kind (see ``_KINDS``).  ``work``
    is the engine's: everything but the JIT and GC threads."""
    kinds: dict

    @property
    def work(self) -> float:
        return sum(v for k, v in self.kinds.items() if k not in RUNTIME)

    @property
    def jit(self) -> float:
        return self.kinds.get("jit", 0.0)

    @property
    def gc(self) -> float:
        return self.kinds.get("gc", 0.0)


class CpuClock:
    """CPU seconds of the engine: the threads of its JVM and the
    processes under it (Python workers), plus the calling thread of this
    process, which runs the engine's Python API (planning, Py4J).

    ``since`` charges each thread or process only what it used between
    two snapshots.  A process that ended in between is charged to the
    parent that reaped it, with its whole life; what it had used at the
    first snapshot is taken off again.  A JVM thread that ended in between
    drops out with what it used since the first snapshot; Spark pools its
    executor threads and keeps them a minute, so that is rare."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def __call__(self) -> tuple:
        return cpu_snapshot(self.jvm_pid), time.thread_time()

    def since(self, before: tuple) -> CpuUse:
        (snap0, own0), (snap1, own1) = before, self()
        use = dict.fromkeys(("task", "driver", "python", "jvm_other", "jit",
                             "gc"), 0)
        use["driver"] = (own1 - own0) * _TICK  # the calling thread
        for key, (kind, ticks) in snap1.items():
            use[kind] += ticks - snap0.get(key, (kind, 0))[1]
        for (pid, tid), (_, ticks) in snap0.items():
            if tid == 0 and pid != self.jvm_pid and (pid, 0) not in snap1:
                use["python"] -= ticks
        return CpuUse({k: v / _TICK for k, v in use.items()})


class RssSampler(threading.Thread):
    """Peak resident set of the JVM tree, sampled every 200 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(0.2):
            self.peak = max(self.peak, tree_rss(self.pid))

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak
