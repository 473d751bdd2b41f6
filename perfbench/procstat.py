"""CPU time and resident memory of a process tree, read from /proc, and
the means to end that tree.

The tree is this Python driver, the JVM it launched, the PySpark worker
daemon and every Python worker the daemon forks. A worker that exits is
reaped by its parent, which adds the worker's CPU time to its own
``cutime``/``cstime``; summing utime + stime + cutime + cstime over the
live tree therefore keeps the CPU of workers that exit mid-pass.

A run marks its process as a child subreaper (:func:`become_subreaper`),
so a process whose parent exits first (a Python worker whose daemon a
session stop ended, the JVM of a fixture-building child) stays in the
tree instead of moving to init, and :func:`end_descendants` waits for,
and if need be kills, every one of them before the run exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# seconds between two RSS samples of the tree
SAMPLE_INTERVAL_S = 0.05
# how long the JVM, and then the processes left after it, get to exit
# before they are killed
STOP_TIMEOUT_S = 30.0
# how long a process gets to exit after each signal that ends it
KILL_WAIT_S = 5.0


def _read_stat(pid: int, task: int | None = None) -> list[str] | None:
    path = f"/proc/{pid}/task/{task}/stat" if task is not None else f"/proc/{pid}/stat"
    try:
        with open(path, "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process exited between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """``root`` and its descendants not yet reaped: pid -> stat fields."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _read_stat(int(name))) is not None:
            stats[int(name)] = st
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def _descendants(root: int) -> list[int]:
    """Pids of ``root``'s descendants, exited ones not yet reaped too."""
    return [pid for pid in _tree(root) if pid != root]


# prctl option that makes orphaned descendants reparent to the caller
_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the new parent of every descendant orphaned
    from now on."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect the exit status of every child that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _wait_descendants(timeout_s: float) -> list[int]:
    """Reap this process's exited descendants until none is left or
    ``timeout_s`` has passed; returns the pids left."""
    deadline = time.monotonic() + timeout_s
    while True:
        _reap()
        pids = _descendants(os.getpid())
        if not pids or time.monotonic() >= deadline:
            return pids
        time.sleep(0.05)


def end_descendants() -> None:
    """Wait up to ``STOP_TIMEOUT_S`` for this process's descendants to
    exit, then terminate the rest (SIGTERM, then SIGKILL). Returns once
    all have exited and been reaped."""
    pids = _wait_descendants(STOP_TIMEOUT_S)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        pids = _wait_descendants(KILL_WAIT_S)


def stop_jvm() -> None:
    """Stop the JVM PySpark launched in this process and wait until it
    has exited; :func:`end_descendants` then waits for what it started
    (the Python worker daemon and its workers)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        gateway.shutdown()
    finally:
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants,
    including reaped ones."""
    # stat fields (0-based, after the command name): 11 utime, 12 stime,
    # 13 cutime, 14 cstime
    return sum(sum(int(v) for v in st[11:15]) for st in _tree(root).values()) / _TICK


def tree_rss_bytes(root: int) -> int:
    """Sum of resident set sizes over ``root`` and its live descendants.
    Pages shared copy-on-write between the worker daemon and its forks
    are counted once per process."""
    return sum(int(st[21]) for st in _tree(root).values()) * _PAGE


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    host's CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


class TreeMonitor:
    """Samples the RSS of this process's tree on a background thread and
    keeps the peak since the last :meth:`reset_peak`. :meth:`cpu_s`
    leaves out the CPU that thread spends sampling."""

    def __init__(self):
        self.root = os.getpid()
        self._sampler_tid: int | None = None
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        self._sampler_tid = threading.get_native_id()
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self._peak = max(self._peak, rss)

    def _sampler_cpu_s(self) -> float:
        st = _read_stat(self.root, self._sampler_tid) if self._sampler_tid else None
        return (int(st[11]) + int(st[12])) / _TICK if st else 0.0

    def cpu_s(self) -> float:
        return tree_cpu_s(self.root) - self._sampler_cpu_s()

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(self.root)

    def peak_rss_mb(self) -> float:
        with self._lock:
            peak = max(self._peak, tree_rss_bytes(self.root))
        return peak / 2**20
