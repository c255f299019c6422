"""Process-tree CPU and memory, read from ``/proc`` (no psutil).

The tree is rooted at the benchmark's own process: the driver Python
process, the Spark JVM it launches, and the Python worker daemon and
workers the JVM forks.  CPU times include reaped children
(``cutime``/``cstime``), so a worker that exits between two readings
still counts.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    state: str
    start_ticks: int  # since boot: with pid, names the process
    own_s: float  # utime + stime
    reaped_s: float  # cutime + cstime of waited-for children
    rss_bytes: int


def _read_stat(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces and parentheses: split at the LAST ')'
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2:].split()
    # rest[0] is field 3 (state); field n sits at rest[n - 3]
    return Proc(
        pid=pid,
        ppid=int(rest[1]),
        comm=raw[lpar + 1: rpar],
        state=rest[0],
        start_ticks=int(rest[19]),
        own_s=(int(rest[11]) + int(rest[12])) / _TICK,
        reaped_s=(int(rest[13]) + int(rest[14])) / _TICK,
        rss_bytes=int(rest[21]) * _PAGE,
    )


def process_tree(root: int | None = None) -> list[Proc]:
    """Every live process descended from ``root`` (default: this
    process), the root included."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_stat(int(name))
            if p is not None:
                procs[p.pid] = p
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
            todo.extend(children.get(pid, ()))
    return out


@dataclass(frozen=True)
class CpuSplit:
    """Cumulative CPU seconds of the tree, split by role."""

    total: float
    jvm: float
    python_workers: float

    def __sub__(self, other: "CpuSplit") -> "CpuSplit":
        return CpuSplit(
            self.total - other.total,
            self.jvm - other.jvm,
            self.python_workers - other.python_workers,
        )


def cpu_split() -> CpuSplit:
    """Tree CPU now: ``jvm`` is the JVM's own time, ``python_workers``
    everything the JVM forked (daemon and workers, reaped ones too)."""
    tree = process_tree()
    me = os.getpid()
    jvms = [p for p in tree if p.ppid == me and p.comm == "java"]
    # a live process's reaped time holds only children that are gone,
    # so summing own + reaped over a subtree counts each second once
    below: list[Proc] = []
    frontier = {p.pid for p in jvms}
    while frontier:
        level = [p for p in tree if p.ppid in frontier]
        below += level
        frontier = {p.pid for p in level}
    return CpuSplit(
        total=sum(p.own_s + p.reaped_s for p in tree),
        jvm=sum(p.own_s for p in jvms),
        python_workers=sum(p.own_s + p.reaped_s for p in below),
    )


class RssSampler:
    """Samples the summed RSS of the process tree on a background
    thread until :meth:`stop`; ``peak_bytes`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        total = sum(p.rss_bytes for p in process_tree())
        if total > self.peak_bytes:
            self.peak_bytes = total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()


def _alive(p: Proc) -> bool:
    now = _read_stat(p.pid)
    return now is not None and now.start_ticks == p.start_ticks and now.state != "Z"


def await_end(procs: list[Proc], grace_s: float = 15.0) -> None:
    """Wait until each of ``procs`` has ended, whether or not it is
    still this process's descendant (the Python worker daemon can outlive
    the JVM that forked it by a moment); past ``grace_s``, kill the
    rest and wait for them too."""
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        left = [p for p in procs if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def kill_descendants(timeout_s: float = 20.0) -> list[int]:
    """Terminate every descendant of this process and wait until each
    has gone; returns the pids that had to be signalled."""
    me = os.getpid()
    victims = [p.pid for p in process_tree() if p.pid != me]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in victims:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s / 2
        while time.monotonic() < deadline:
            _reap()
            if not [p for p in process_tree() if p.pid != me]:
                return victims
            time.sleep(0.1)
    return victims


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass
