"""CPU and RSS of the benchmark's process tree, read from ``/proc``.

The tree is this Python driver, the JVM it launches, and the Python
workers the JVM forks. A background thread samples it; ``snapshot()``
also reads it on demand, around single calls."""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6
KINDS = ("driver_py", "jvm", "pyworker")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds, rss pages) of one process, None if it is gone."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid=4, utime=14, stime=15, rss=24
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _TICK, int(fields[21])


def _kind(pid: int, root: int) -> str | None:
    """driver_py, jvm, pyworker, or None for anything else (a spawn helper,
    a process that is gone)."""
    if pid == root:
        return "driver_py"
    try:
        exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return None
    if exe == "java":
        return "jvm"
    return "pyworker" if exe.startswith("python") else None


class ProcTree:
    """Per-kind CPU seconds and peak RSS of the process tree under ``root``."""

    INTERVAL_S = 0.25

    def __init__(self) -> None:
        self.root = os.getpid()
        self._cpu: dict[int, tuple[str, float]] = {}   # pid -> (kind, cpu s)
        self.peak_mb = {k: 0.0 for k in KINDS}
        self.peak_total_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def tree(self) -> dict[int, tuple[int, float, int]]:
        """(ppid, cpu seconds, rss pages) of every live process in the tree."""
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                s = _stat(int(d))
                if s is not None:
                    stats[int(d)] = s
        keep, frontier = {self.root}, [self.root]
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            for c in children.get(frontier.pop(), []):
                if c not in keep:
                    keep.add(c)
                    frontier.append(c)
        return {p: stats[p] for p in keep if p in stats}

    def sample(self) -> None:
        # kinds again each time (a launcher execs java), and read before
        # the stats: a child the JVM spawned shares the JVM's pages until it
        # execs, so its RSS must be read after its executable is known
        kinds = {pid: _kind(pid, self.root) for pid in self.tree()}
        stats = {pid: s for pid in kinds if (s := _stat(pid)) is not None}
        rss = {k: 0.0 for k in KINDS}
        with self._lock:
            for pid, (ppid, cpu, pages) in stats.items():
                kind = kinds[pid]
                if kind is None:
                    continue
                self._cpu[pid] = (kind, cpu)
                # a JVM's child that still runs java was spawned and has not
                # exec'd yet: counting its RSS would count the JVM twice
                if not (kind == "jvm" and kinds.get(ppid) == "jvm"):
                    rss[kind] += pages * _PAGE_MB
            for k in KINDS:
                self.peak_mb[k] = max(self.peak_mb[k], rss[k])
            self.peak_total_mb = max(self.peak_total_mb, sum(rss.values()))

    def snapshot(self) -> dict[str, float]:
        """Sample now; CPU seconds per kind so far (exited processes keep
        their last sampled value)."""
        self.sample()
        out = {k: 0.0 for k in KINDS}
        with self._lock:
            for kind, cpu in self._cpu.values():
                out[kind] += cpu
        return out

    def jit_cpu(self) -> float:
        """CPU seconds so far of the JIT compiler threads of the tree's JVMs."""
        total = 0.0
        for pid in self.tree():
            if _kind(pid, self.root) != "jvm":
                continue
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    comm = Path(f"/proc/{pid}/task/{tid}/comm").read_text()
                    raw = Path(f"/proc/{pid}/task/{tid}/stat").read_text()
                except OSError:
                    continue
                if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    f = raw[raw.rindex(")") + 2 :].split()
                    total += (int(f[11]) + int(f[12])) / _TICK
        return total

    def wait_until_quiet(self, quiet_s: float = 1.0, jit_frac: float = 0.1,
                         steal_pct_max: float = 5.0, max_s: float = 10.0) -> float:
        """Wait until, over the last ``quiet_s`` seconds, the JIT compilers
        used less than ``jit_frac`` of one core and the host stole at most
        ``steal_pct_max`` % of the CPU, or until ``max_s`` have passed;
        return the seconds waited. Code that got hot during the warm-up is
        then compiled before timing starts instead of competing with the
        timed work for the cores, and a burst of load from other tenants
        of the host can pass first (the gate of ``bench.py``)."""
        t0 = time.perf_counter()
        jit, steal = self.jit_cpu(), cpu_steal()
        while time.perf_counter() - t0 < max_s:
            time.sleep(quiet_s)
            jit1, steal1 = self.jit_cpu(), cpu_steal()
            if jit1 - jit < jit_frac * quiet_s and steal_pct(steal, steal1) <= steal_pct_max:
                break
            jit, steal = jit1, steal1
        return time.perf_counter() - t0

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def start(self) -> ProcTree:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def cpu_steal() -> tuple[int, int]:
    """(all jiffies, steal jiffies) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), (v[7] if len(v) > 7 else 0)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0
