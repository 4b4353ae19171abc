"""CPU time and resident memory of a process tree, sampled from /proc.

``resource.getrusage(RUSAGE_CHILDREN)`` only sees descendants that were
waited for, and the Spark driver JVM, the Python driver, the pyspark
daemon and its workers are not all reaped by the benchmark.  This sampler
walks /proc instead: every sample sums utime+stime (plus the times of
children each process has already reaped) and RSS over the root and all
its live descendants.
"""

from __future__ import annotations

import bisect
import ctypes
import os
import resource
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = resource.getpagesize()
_PR_SET_CHILD_SUBREAPER = 36


def _read_stat(path: str):
    """(ppid, own CPU ticks, reaped children's CPU ticks, RSS pages) from
    /proc/<path>/stat, or None if it is gone."""
    try:
        with open(f"/proc/{path}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    fields = raw[raw.rfind(b")") + 2:].split()
    return (int(fields[1]), int(fields[11]) + int(fields[12]),
            int(fields[13]) + int(fields[14]), int(fields[21]))


def _subtree(root: int) -> dict:
    """pid -> stat tuple for ``root`` and all its live descendants."""
    stats = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(name)
            if st is not None:
                stats[int(name)] = st
                children.setdefault(st[0], []).append(int(name))
    tree = {}
    todo = [root] if root in stats else []
    while todo:
        pid = todo.pop()
        tree[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return tree


def become_subreaper() -> bool:
    """Have orphaned descendants reparented to this process instead of to
    init, so ``end_descendants`` still finds them.  The pyspark daemon
    moves into its own process group and outlives the JVM that started it
    by a moment; without this it would be an orphan nobody waits for."""
    libc = ctypes.CDLL(None, use_errno=True)
    return libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0


def end_descendants(wait_s: float = 10.0) -> list[int]:
    """SIGKILL every live descendant of this process and reap those that
    are (or, once their parent is gone, become) its children.  Returns
    the pids still present after ``wait_s``: none, unless one is stuck."""
    me = os.getpid()
    deadline = time.time() + wait_s
    while True:
        tree = _subtree(me)
        del tree[me]
        for pid, (ppid, *_) in tree.items():
            try:
                os.kill(pid, signal.SIGKILL)
                if ppid == me:
                    os.waitpid(pid, os.WNOHANG)
            except (ProcessLookupError, ChildProcessError):
                pass
        if not tree or time.time() > deadline:
            return sorted(tree)
        time.sleep(0.02)


def tree_usage(root: int) -> tuple[float, int]:
    """(CPU seconds, RSS bytes) summed over ``root`` and its descendants."""
    tree = _subtree(root).values()
    ticks = sum(own + reaped for _, own, reaped, _ in tree)
    return ticks / _TICK, sum(st[3] for st in tree) * _PAGE


def _comm(path: str) -> str:
    try:
        with open(f"/proc/{path}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_cpu_by_kind(root: int) -> dict:
    """CPU seconds so far of the tree's Python processes (with the workers
    they reaped) and of its JVMs' JIT compiler threads."""
    python = jit = 0
    for pid, (_, own, reaped, _) in _subtree(root).items():
        comm = _comm(str(pid))
        if comm.startswith("python"):
            python += own + reaped
        elif comm == "java":
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                path = f"{pid}/task/{tid}"
                if "CompilerThre" in _comm(path):
                    jit += (_read_stat(path) or (0, 0))[1]
    return {"python": python / _TICK, "jit": jit / _TICK}


class TreeSampler:
    """Samples ``tree_usage(pid)`` every ``interval`` seconds on a thread
    until ``stop()``; ``cpu_between`` interpolates the CPU counter at two
    wall-clock instants."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid = pid
        self.interval = interval
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.rss: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        cpu, rss = tree_usage(self.pid)
        now = time.time()
        # a sample taken after the root is gone reads 0; keep the counter
        # monotone so interpolation near exit stays meaningful
        if self.cpu and cpu < self.cpu[-1]:
            cpu = self.cpu[-1]
        self.times.append(now)
        self.cpu.append(cpu)
        self.rss.append(rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def cpu_at(self, t: float) -> float:
        i = bisect.bisect_left(self.times, t)
        if i == 0:
            return self.cpu[0]
        if i >= len(self.times):
            return self.cpu[-1]
        t0, t1 = self.times[i - 1], self.times[i]
        c0, c1 = self.cpu[i - 1], self.cpu[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0) if t1 > t0 else c1

    def cpu_between(self, t0: float, t1: float) -> float:
        return self.cpu_at(t1) - self.cpu_at(t0)

    def peak_rss(self) -> int:
        return max(self.rss, default=0)
