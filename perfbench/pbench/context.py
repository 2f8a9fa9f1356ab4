"""Run-context record: what ran, where, and how busy the host was."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys
import threading
import time


def source_digest(root: str) -> str:
    """sha256 over the program's Python sources — identifies the code
    under test when the checkout carries no git metadata."""
    h = hashlib.sha256()
    for base in ("prosearch_spark",):
        for d, _dirs, files in sorted(os.walk(os.path.join(root, base))):
            _dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def spin_seconds(n: int = 2_000_000) -> float:
    """Wall time of a fixed pure-Python loop: several times its idle
    value marks a run polluted by co-tenants."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i & 7
    return time.perf_counter() - t0


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
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root_pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Current resident set of the process tree (driver + JVM + Python
    workers), MB."""
    return sum(_status_kb(p, "VmRSS") for p in process_tree(root_pid)) / 1024


class RssSampler:
    """Peak of the process tree's summed resident set, sampled every
    ``interval`` seconds from a daemon thread. Python workers come and
    go, so the peak of the sum needs sampling: per-process VmHWM would
    miss workers that already exited."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def record(root: str, cpus: int, master: str) -> dict:
    import pyspark

    return {
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
        "nproc": nproc(),
        "cpus_used": cpus,
        "master": master,
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "platform": platform.platform(),
    }
