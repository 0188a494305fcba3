"""Host context and memory sampling from /proc."""

from __future__ import annotations

import os
import platform
import threading


def load1() -> float | None:
    try:
        return os.getloadavg()[0]
    except OSError:
        return None


def cpu_seconds() -> dict[str, float] | None:
    """Host-wide busy and steal CPU seconds since boot, from /proc/stat.
    Steal is time the hypervisor ran another guest on this guest's
    CPUs: contention the guest's load average does not show."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        hz = os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError):
        return None
    user, nice, system, idle, iowait, irq, softirq, steal = fields[:8]
    return {"busy_s": (user + nice + system + irq + softirq) / hz,
            "steal_s": steal / hz}


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name (field 2) may hold spaces; fields after it are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
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


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Python driver, the JVM it launched and the JVM's Python workers),
    sampled on a daemon thread every SAMPLE_INTERVAL_S seconds."""

    SAMPLE_INTERVAL_S = 0.25

    def __init__(self):
        self.pid = os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.SAMPLE_INTERVAL_S)

    def sample(self) -> None:
        total = sum(rss_bytes(p) for p in descendants(self.pid))
        self.peak = max(self.peak, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def versions() -> dict:
    out = {"python": platform.python_version()}
    for mod in ("pyspark", "numpy", "pyarrow"):
        try:
            out[mod] = __import__(mod).__version__
        except ImportError:
            out[mod] = None
    return out
