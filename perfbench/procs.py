"""Process-tree accounting from /proc: CPU seconds, sampled RSS, host steal,
and leftover-process detection.

The benchmark process, the Spark JVM it launches and the Python workers the
JVM forks form one tree. CPU of a process that has exited and been reaped
shows up in its parent's cutime/cstime, so summing
utime+stime+cutime+cstime over the live tree counts short-lived workers too.
"""

from __future__ import annotations

import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
MARKER = "PERFBENCH_RUN"  # env var every process of a run inherits


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the ")" that closes comm: state=0, ppid=1, utime=11,
    # stime=12, cutime=13, cstime=14, rss=21
    return raw[raw.rindex(")") + 2:].split()


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for pid in _pids():
        st = _stat(pid)
        if st is not None:
            kids.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of ``pid`` (HotSpot names
    them "C1 CompilerThreadN" / "C2 CompilerThreadN", cut to 15 chars)."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    ticks = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if "CompilerThre" in raw[raw.index("(") + 1:raw.rindex(")")]:
            fields = raw[raw.rindex(")") + 2:].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s() -> tuple[float, float]:
    """(CPU seconds of the tree, the part of them spent by JIT compiler
    threads). The second is only consistent while compiler threads never
    exit, which the JVM option -XX:-UseDynamicNumberOfCompilerThreads
    ensures."""
    total = jit = 0
    for pid in tree():
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
            jit += _jit_ticks(pid)
    return total / CLK_TCK, jit / CLK_TCK


def _pss_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def tree_rss_mb() -> float:
    """Resident memory of the tree, counting each shared page once: the
    sum of proportional set sizes. Python workers fork from one daemon and
    share most of their pages with it, so summing plain RSS would count
    those pages once per live worker."""
    total_kb = 0
    for pid in tree():
        kb = _pss_kb(pid)
        if kb is None:  # no smaps_rollup: fall back to RSS
            st = _stat(pid)
            kb = int(st[21]) * PAGE // 1024 if st is not None else 0
        total_kb += kb
    return total_kb / 1024


class RssSampler:
    """Samples the tree's resident memory every ``period`` s while running.
    Each sample reads every process's smaps_rollup, which walks the JVM's
    page tables: at 0.2 s that took 15% of a core. ``cpu_s`` is the CPU
    time the sampler thread has used so far, for callers to take out of
    the tree's CPU."""

    def __init__(self, period: float = 1.0):
        self.period = period
        self.peak = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self.cpu_s = time.thread_time()
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, tree_rss_mb())


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    d_total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / d_total if d_total else 0.0


def marked_processes() -> list[int]:
    """Live processes, other than this one and its ancestors, that carry a
    benchmark run's marker in their environment."""
    mine = set()
    pid = os.getpid()
    while pid > 1:
        mine.add(pid)
        st = _stat(pid)
        if st is None:
            break
        pid = int(st[1])
    hits = []
    needle = f"{MARKER}=".encode()
    for p in _pids():
        if p in mine:
            continue
        try:
            with open(f"/proc/{p}/environ", "rb") as f:
                env = f.read()
        except OSError:
            continue
        if needle in env:
            st = _stat(p)
            if st is not None and st[0] != "Z":
                hits.append(p)
    return hits


def kill_descendants(timeout: float = 20.0) -> list[int]:
    """TERM, then KILL, every descendant of this process; wait until each
    is gone. Returns the pids that had to be signalled."""
    left = [p for p in tree() if p != os.getpid()]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + timeout / 2
        while time.time() < deadline:
            alive = [p for p in left if _alive(p)]
            if not alive:
                return left
            time.sleep(0.1)
    return left


def _alive(pid: int) -> bool:
    st = _stat(pid)
    if st is None:
        return False
    if st[0] == "Z":
        try:  # reap our own zombie children
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
