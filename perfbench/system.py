"""Host facts and process-tree memory, read from ``/proc``."""

from __future__ import annotations

import os
import platform
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def loadavg() -> tuple[float, float]:
    """The 1- and 5-minute load averages."""
    with open("/proc/loadavg") as f:
        one, five = f.read().split()[:2]
    return float(one), float(five)


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs since boot; steal is time a
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def process_age_s() -> float:
    """Seconds since this process started (from its ``/proc`` start
    time, so interpreter start-up is included)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat, after pid and comm
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    except (OSError, ValueError, IndexError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Samples the RSS of this process and all its descendants (the
    JVM and Python workers) on a background thread; ``peak_mb`` is the
    largest sum seen and ``peak_by_command`` its split by command. The
    process tree is re-read every half second, RSS every
    ``interval_s``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_command: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        refresh = max(1, round(0.5 / self.interval_s))
        n = 0
        while not self._stop.is_set():
            if n % refresh == 0:
                pids = tree_pids(root)
            n += 1
            rss = {p: _rss_kb(p) / 1024.0 for p in pids}
            total = sum(rss.values())
            if total > self.peak_mb:
                self.peak_mb = total
                split: dict[str, float] = {}
                for pid, mb in rss.items():
                    c = _comm(pid)
                    split[c] = split.get(c, 0.0) + mb
                self.peak_by_command = split
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_probe_s() -> float:
    """Wall time of a fixed pure-Python loop: a slow host phase (other
    tenants on the same machine) shows as a larger value."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def host_record() -> dict:
    one, five = loadavg()
    return {
        "nproc": nproc(),
        "mem_total_mb": round(mem_total_mb(), 1),
        "python": platform.python_version(),
        "loadavg_start": {"1m": one, "5m": five},
        "cpu_ticks_start": cpu_ticks(),
        "cpu_probe_s": cpu_probe_s(),
        "time_start": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
