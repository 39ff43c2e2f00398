"""CPU and memory of a process tree, read from ``/proc``.

The tree is the benchmark's own Python process and every descendant:
the Spark JVM, its Python worker daemon and the forked workers.

A process's CPU is its own ``utime + stime`` plus the ``cutime +
cstime`` of the children it has reaped.  That is not enough for
Spark's Python workers: their daemon ignores ``SIGCHLD``, so the
kernel reaps an exiting worker without adding its seconds to the
daemon's ``cutime``, and a sum over live processes falls when a worker
exits.  :class:`TreeSampler` therefore keeps the last total it read
for every process whose parent ignores ``SIGCHLD`` and adds it back
once that process is gone.  It samples every 100 ms, so what a worker
used in its last interval before exiting is the only CPU it misses.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_SIGCHLD_BIT = 1 << (17 - 1)


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after its ')' is fixed:
    # index 1 = ppid, 11..14 = utime stime cutime cstime, 19 = starttime,
    # 21 = rss (pages)
    return raw[raw.rindex(")") + 2 :].split()


def _ignores_sigchld(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("SigIgn:"):
                    return bool(int(line.split()[1], 16) & _SIGCHLD_BIT)
    except OSError:
        pass
    return False


def _snapshot() -> dict[int, list[str]]:
    """``stat`` fields of every process, read while no process started
    or was reaped: a child reaped between reading it and reading its
    parent would be counted twice (its own time, then in the parent's
    ``cutime``), and one reaped the other way round not at all."""
    for _ in range(100):  # forks and exits are rare: a retry or two
        pids = {int(p) for p in os.listdir("/proc") if p.isdigit()}
        stats = {pid: _stat(pid) for pid in pids}
        if None not in stats.values() and pids == {
            int(p) for p in os.listdir("/proc") if p.isdigit()
        }:
            break
    return {pid: f for pid, f in stats.items() if f is not None}


def tree(root: int) -> dict[int, list[str]]:
    """pid → ``stat`` fields of ``root`` and its live descendants."""
    stats = _snapshot()
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """CPU seconds and peak RSS of a process tree, sampled in a
    background thread while used as a context manager."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root, self.interval_s = root, interval_s
        self.peak_rss = 0
        self._gone_ticks = 0
        #: (pid, starttime) → (CPU ticks so far, ticks lost if it exits)
        self._last: dict[tuple[int, str], tuple[int, bool]] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def cpu_s(self) -> float:
        """CPU seconds the tree has used so far, exited workers included."""
        with self._lock:
            procs = tree(self.root)
            live = {}
            for pid, f in procs.items():
                key = (pid, f[19])
                prev = self._last.get(key)
                lost = prev[1] if prev else _ignores_sigchld(int(f[1]))
                live[key] = (sum(int(x) for x in f[11:15]), lost)
            self._gone_ticks += sum(
                ticks for key, (ticks, lost) in self._last.items()
                if lost and key not in live
            )
            self._last = live
            self.peak_rss = max(
                self.peak_rss, sum(int(f[21]) for f in procs.values()) * _PAGE
            )
            return (self._gone_ticks + sum(t for t, _ in live.values())) / _TICK

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.cpu_s()

    def __enter__(self) -> TreeSampler:
        self.cpu_s()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.cpu_s()
