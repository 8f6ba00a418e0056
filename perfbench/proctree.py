"""CPU time and resident memory of a process tree, read from ``/proc``, and
the clean-up that leaves no descendant of this process running."""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after "(comm)"; comm may contain spaces
    return raw[raw.rfind(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User+system CPU of the tree, reaped children included."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_mb(root: int) -> float:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * _PAGE / 1e6


def become_subreaper() -> None:
    """Make this process the parent of its orphaned descendants, so that
    ``kill_descendants`` still finds a process whose parent has died (Spark's
    Python worker daemon, once the JVM that forked it is killed)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _reap() -> None:
    """Collect the exit status of every child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _running(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def kill_descendants(timeout: float = 60.0) -> None:
    """SIGKILL every descendant of this process and wait until each has ended
    and is reaped; needs ``become_subreaper``.

    Repeats until none is left, so a process forked meanwhile is caught too."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        for pid in tree(me):
            if pid != me and _running(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        _reap()
        left = [p for p in tree(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {sorted(left)} did not end")
        time.sleep(0.02)


class PeakRss:
    """Samples the tree's RSS every ``interval`` seconds until stopped."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(self.root))
            self._stop.wait(self._interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb(self.root))
        return self.peak_mb
