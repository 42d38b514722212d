"""Host context recorded in every artifact, and process memory readings."""

from __future__ import annotations

import hashlib
import os
import subprocess
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_gb() -> int:
    """Driver heap that fits the box: a third of RAM, at most 6 GB (the
    library default of 48 GB does not fit a small box)."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1, min(6, total_kb // (3 * 1024 * 1024)))


def single_core_probe() -> float:
    """Seconds for a fixed pure-Python loop: host speed beside the run."""
    t0 = time.perf_counter()
    s = 0
    for i in range(3_000_000):
        s += i * i
    return time.perf_counter() - t0


def code_version(root: str) -> dict:
    """Git commit when the checkout is a repository, and always a digest
    of the ``dq`` sources (a checkout without ``.git`` has no commit)."""
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        proc = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                              capture_output=True, text=True, check=False)
        commit = proc.stdout.strip() or None
    h = hashlib.sha256()
    pkg = os.path.join(root, "dq")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            h.update(name.encode())
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(f.read())
    return {"git_commit": commit, "dq_sha256": h.hexdigest()[:16]}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak resident memory (VmHWM) of a process and every
    descendant: the JVM plus its Python daemon and workers."""
    kids = _children()
    todo, total_kb = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
