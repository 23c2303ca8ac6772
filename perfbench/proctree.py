"""OS-level cost of a process tree, read from /proc.

Spark's executorCpuTime counts JVM task threads only; the PySpark daemon
and its Python workers are separate processes, so the engine's real CPU
is taken here from the kernel: utime + stime of every live process in the
tree, plus cutime + cstime (children already exited and reaped).
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def read_stat(pid: int, proc: str = "/proc") -> tuple[int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, rss pages) of ``pid``;
    None when the process is gone."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            data = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    rest = data[data.rindex(")") + 2 :].split()
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return ppid, utime + stime + cutime + cstime, int(rest[21])


def tree(root: int, proc: str = "/proc") -> dict[int, tuple[int, int]]:
    """pid -> (cpu ticks, rss pages) for ``root`` and all its descendants."""
    stats = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if name.isdigit():
            st = read_stat(int(name), proc)
            if st is not None:
                stats[int(name)] = st
                children.setdefault(st[0], []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


def steal(proc: str = "/proc") -> tuple[int, int]:
    """(steal ticks, all ticks) of the machine's CPUs so far, from
    /proc/stat: steal is time the hypervisor gave to other guests while
    this one had work to run."""
    with open(f"{proc}/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def cpu_s(root: int) -> float:
    return sum(t for t, _ in tree(root).values()) / CLK_TCK


def rss_mb(root: int) -> float:
    return sum(r for _, r in tree(root).values()) * PAGE / 2**20


class PeakRss:
    """Samples the tree's summed RSS every ``period_s`` while active;
    ``peak_mb`` is the largest sample. The sampler thread runs in the
    root process, so its own CPU time (``own_cpu_s``) is inside the tree's
    and is for the caller to take out.

    A process counts only from its second sample on: a child the JVM has
    just spawned shares the JVM's address space until it execs
    (posix_spawn's vfork), and its RSS then reads as a second JVM."""

    def __init__(self, root: int, period_s: float = 0.1):
        self.root, self.period_s = root, period_s
        self.peak_mb = self.own_cpu_s = 0.0
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRss":
        self._seen = set(tree(self.root))
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.add(tree(self.root))

    def add(self, snapshot: dict[int, tuple[int, int]]) -> None:
        """Account one ``tree()`` snapshot."""
        mb = sum(r for pid, (_, r) in snapshot.items() if pid in self._seen) * PAGE / 2**20
        self._seen = set(snapshot)
        self.peak_mb = max(self.peak_mb, mb)

    def _loop(self) -> None:
        t0 = time.thread_time()
        while not self._stop.is_set():
            self.add(tree(self.root))
            self._stop.wait(self.period_s)
        self.own_cpu_s = time.thread_time() - t0
