"""This process's tree from /proc: peak resident memory, Python worker CPU
time, and waiting for children to end.

Memory is summed as PSS (proportional set size): a page shared by several
processes counts once in total. Summing RSS would count a forked child's
copy-on-write pages twice, and the JVM forks short-lived helpers (chmod,
the Python worker daemon) whose RSS briefly equals the whole heap.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def pyworker_cpu_s() -> float:
    """CPU seconds used so far by the Python workers under this process:
    the pyspark daemon and its forked workers, including reaped ones."""
    total = 0
    for pid in descendants():
        if "pyspark.daemon" in _cmdline(pid):
            st = _stat(pid)
            if st is not None:
                # utime, stime, cutime, cstime (fields 14-17)
                total += sum(int(x) for x in st[11:15])
                for w in descendants(pid):
                    wst = _stat(w)
                    if wst is not None:
                        total += int(wst[11]) + int(wst[12])
    return total / _TICK


class PeakRss(threading.Thread):
    """Samples the summed PSS of this process and its descendants."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            pids = [os.getpid()] + descendants()
            self.peak_bytes = max(self.peak_bytes, sum(map(pss_bytes, pids)))
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def reap_descendants(timeout: float) -> None:
    """Wait for every descendant to exit; kill what is left at ``timeout``."""
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
