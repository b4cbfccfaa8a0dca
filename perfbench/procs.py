"""Process-tree helpers: resident memory sampling and shutdown checks,
read from ``/proc``."""

from __future__ import annotations

import os
import threading
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_rss() -> dict:
    """Resident bytes of this process, the JVM and the other descendants
    (Python workers), and the descendant count."""
    out = {"driver": rss_bytes(os.getpid()), "jvm": 0, "workers": 0, "procs": 0}
    for p in descendants():
        out["jvm" if _comm(p) == "java" else "workers"] += rss_bytes(p)
        out["procs"] += 1
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, including the children each of them has reaped."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / hz


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Usage:
    """While active: peak resident memory of the process tree (sampled on a
    thread every ``interval_s``, with its breakdown at the peak), CPU
    seconds the tree used, and the share of the machine's CPU time stolen
    by the hypervisor."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._cpu0 = tree_cpu_s()
        self._ticks0 = _cpu_ticks()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _sample(self) -> None:
        rss = tree_rss()
        total = rss["driver"] + rss["jvm"] + rss["workers"]
        if total > self.peak:
            self.peak, self.at_peak = total, rss

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        self.cpu_s = tree_cpu_s() - self._cpu0
        delta = [b - a for a, b in zip(self._ticks0, _cpu_ticks())]
        self.steal_share = delta[7] / sum(delta) if sum(delta) else 0.0


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms grain)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
