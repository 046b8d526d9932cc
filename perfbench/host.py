"""Host and engine record, and the peak-RSS sampler of the driver's
process tree (Python driver, its JVM, and the JVM's Python workers)."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time


def cpus() -> int:
    """Cores this process may run on (affinity, not the host's count)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """Driver heap pinned well below host RAM (the session default of
    24g exceeds small hosts): a quarter of RAM, capped at 4 GB."""
    return f"{int(min(4096, mem_total_mb() / 4))}m"


def resolved_march() -> str:
    """What ``-march=native`` resolves to on this host's gcc."""
    try:
        out = subprocess.run(["gcc", "-march=native", "-Q", "--help=target"],
                             capture_output=True, text=True, timeout=30).stdout
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    for line in out.splitlines():
        parts = line.split()
        if len(parts) == 2 and parts[0] == "-march=":
            return parts[1]
    return "unknown"


def engine_record() -> dict:
    """Kernel engine of this process: the native C kernel or the numpy
    fallback, which is 6-10x slower and is flagged loudly."""
    from miekki import native

    lib = native.load()
    rec = {"engine": "native" if lib is not None else "numpy",
           "march": resolved_march()}
    if lib is None:
        print("WARNING: miekki native kernel unavailable; the numpy "
              "fallback is 6-10x slower and these numbers are not "
              "comparable with native runs", file=sys.stderr, flush=True)
    return rec


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_mb(root: int) -> tuple[float, float]:
    """(all, Python-only) resident MB of the process tree under root."""
    kids = _children()
    todo, total, python = [root], 0, 0
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read()
        except OSError:
            continue
        total += pages
        if comm.startswith("python"):
            python += pages
    page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20
    return total * page_mb, python * page_mb


class RssSampler:
    """Peak RSS of this process's tree, sampled every ``period`` s
    while ``active`` is set (the timed passes): ``peak_mb`` for the
    whole tree, ``peak_python_mb`` for its Python processes (the
    driver and the workers that run the Arrow kernels)."""

    period = 0.5

    def __init__(self):
        self.peak_mb = self.peak_python_mb = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(self.period):
            if self.active.is_set():
                total, python = tree_rss_mb(os.getpid())
                self.peak_mb = max(self.peak_mb, total)
                self.peak_python_mb = max(self.peak_python_mb, python)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
