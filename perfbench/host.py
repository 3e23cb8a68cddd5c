"""Host facts and process-tree sampling, read from /proc.

Everything here observes the benchmark's own process tree (this Python
driver, the JVM it launches and the JVM's Python workers) or host-wide
counters; nothing touches the program under test.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path, encoding="ascii", errors="replace") as f:
            return f.read()
    except OSError:
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # the command name may hold spaces; fields after it are space-separated
    return raw[raw.rfind(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Live pids in the tree under ``root`` (root excluded)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional resident bytes of every process under ``root`` (the JVM
    and its Python workers; the benchmark's own driver process is
    excluded). PSS splits pages shared between forked Python workers
    instead of counting them once per worker."""
    total = 0
    for pid in descendants(root):
        for line in (_read(f"/proc/{pid}/smaps_rollup") or "").splitlines():
            if line.startswith("Pss:"):
                total += int(line.split()[1]) * 1024
                break
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the live processes under ``root`` plus what they have
    reaped from exited children; differences of this value bracket a span."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


class RssSampler:
    """Samples the process tree's resident memory (PSS) on a background
    thread and keeps the peak. Use as a context manager around the timed phase."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(self.root))


def cpu_counters() -> list[int]:
    """Host-wide /proc/stat cpu line: user nice system idle iowait irq
    softirq steal ..."""
    raw = _read("/proc/stat") or ""
    for line in raw.splitlines():
        if line.startswith("cpu "):
            return [int(v) for v in line.split()[1:]]
    return []


def steal_pct(before: list[int], after: list[int]) -> float | None:
    if len(before) < 8 or len(after) < 8:
        return None
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return round(100.0 * delta[7] / total, 3) if total > 0 else None


def load1() -> float:
    return os.getloadavg()[0]


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (tmpfs, overlay, ...)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    for line in (_read("/proc/mounts") or "").splitlines():
        parts = line.split()
        if len(parts) >= 3 and path.startswith(parts[1]) and len(parts[1]) > len(best):
            best, kind = parts[1], parts[2]
    return kind


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total


def mem_total_bytes() -> int:
    for line in (_read("/proc/meminfo") or "").splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) * 1024
    return 0


def host_facts() -> dict:
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_total_bytes() / 2**30, 2),
        "load1_before": load1(),
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
