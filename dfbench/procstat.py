"""CPU, memory and host-health readings from /proc (Linux only).

The measured system is this process's tree: this Python process,
the Spark JVM it launched and the Python workers the JVM forks. CPU time
of a child that already exited is counted through its parent's
``cutime``/``cstime``, so sampling the live tree at two instants gives
the tree's CPU seconds between them.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def process_start_epoch(pid: int | None = None) -> float:
    """Wall-clock time at which ``pid`` (default: this process) started."""
    fields = _stat_fields(pid or os.getpid())
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _TICK


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the live tree plus its reaped children."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_mb(root: int | None = None) -> dict[str, float]:
    """Resident MB of the tree, split into the JVM and everything else."""
    out = {"jvm": 0.0, "other": 0.0}
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    kind = "jvm" if f.read().strip() == "java" else "other"
            except OSError:
                continue
            out[kind] += int(fields[21]) * _PAGE / 2**20
    return out


def host_cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over all host CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def load_avg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class TreeMonitor:
    """Samples the tree's resident memory on a thread; reports peak RSS,
    CPU seconds and host steal share between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        parts = tree_rss_mb()
        total = sum(parts.values())
        if total > self.peak_rss_mb:
            self.peak_rss_mb, self.peak_parts = total, parts

    def _loop(self) -> None:
        while not self._halt.is_set():
            self._sample()
            self._halt.wait(self.interval_s)

    def start(self) -> "TreeMonitor":
        self._cpu0 = tree_cpu_s()
        self._steal0, self._total0 = host_cpu_jiffies()
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._halt.set()
        self._thread.join()
        self._sample()
        steal1, total1 = host_cpu_jiffies()
        return {
            "cpu_s": tree_cpu_s() - self._cpu0,
            "peak_rss_mb": self.peak_rss_mb,
            "peak_rss_parts_mb": self.peak_parts,
            "host_steal_frac": (steal1 - self._steal0) / max(total1 - self._total0, 1),
            "host_load_1m": load_avg_1m(),
        }
