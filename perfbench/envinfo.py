"""Environment and resource readings recorded with every run."""

from __future__ import annotations

import os
import platform
import subprocess


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_fraction(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = [line for line in out.splitlines() if "version" in line]
    return lines[0] if lines else "unknown"


def describe(cores_used: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cores_used": cores_used,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "jdk": _java_version(),
    }


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of a process and all its
    descendants: this process, its JVM and the Python workers alive now."""
    total_kb = 0
    for pid in _descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def tree_bytes(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                continue
    return total


def wait_for_descendants(timeout: float) -> list[int]:
    """Wait until this process has no child processes left; return the
    pids still alive at the timeout."""
    import time

    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in _descendants(os.getpid()) if p != os.getpid()]
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)
