"""Process-tree memory sampling and host description, read from /proc."""

from __future__ import annotations

import glob
import hashlib
import os
import platform
import subprocess
import threading
import time



def _ppid_map() -> dict[int, int]:
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue  # process exited while we listed /proc
        # comm may hold spaces; fields resume after the last ')'
        rest = data[data.rfind(")") + 2:].split()
        out[int(stat.split("/")[2])] = int(rest[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among the
    processes sharing them, so forked Python workers are not counted once
    per fork for the pages they share with their daemon."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass  # process exited while sampled
    return 0


class RssSampler:
    """Peak summed PSS of every descendant of this process (the driver
    JVM and the Python workers it forks), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self.count = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval_s)

    def sample(self, root: int) -> None:
        self.peak = max(self.peak, sum(pss_bytes(p) for p in descendants(root)))
        self.count += 1

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_descendants_gone(timeout_s: float = 20.0) -> list[int]:
    """Wait for every descendant process to exit; terminate stragglers.
    Returns the pids still alive at the end (normally none)."""
    deadline = time.monotonic() + timeout_s
    me = os.getpid()
    while time.monotonic() < deadline:
        left = descendants(me)
        if not left:
            return []
        time.sleep(0.2)
    for pid in descendants(me):
        try:
            os.kill(pid, 15)
        except OSError:
            pass  # already gone
    time.sleep(1.0)
    return descendants(me)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def source_digest(pkg_dir: str) -> str:
    """SHA-1 over the package's .py files, stable across checkouts."""
    h = hashlib.sha1()
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, pkg_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def host_info(root: str, pkg_dir: str) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "git_commit": git_commit(root),
        "source_sha1": source_digest(pkg_dir),
    }
