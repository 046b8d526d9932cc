"""Traced-run tooling: a job group per layer call, the Spark event-log
parser that folds task metrics into those groups, and a timing
``Catalog`` that splits catalog I/O out of the durable and streaming
paths. Everything here observes the program from outside: it wraps
public calls and reads what Spark already records."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from miekki.catalog import HadoopCatalog

class LayerTracer:
    """Runs each layer call under its own Spark job group and records
    its wall; ``report`` folds the event log into per-layer counters."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = defaultdict(float)
        self.groups: dict[str, list[str]] = defaultdict(list)
        # layer-specific counts and walls the workload records itself
        self.extra: dict[str, float] = {}

    @contextmanager
    def layer(self, name: str):
        group = f"layer:{name}:{len(self.groups[name])}"
        self.groups[name].append(group)
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] += time.perf_counter() - t0
            self.sc.setJobGroup("untraced", "untraced")

    def run(self, name: str, fn):
        with self.layer(name):
            return fn()

    def checkpoint(self, name: str, build):
        """Materialize the frame ``build`` returns as layer ``name``."""
        with self.layer(name):
            return build().localCheckpoint()

    def jobs(self, name: str) -> int:
        st = self.sc.statusTracker()
        return sum(len(st.getJobIdsForGroup(g)) for g in self.groups[name])

    def report(self, event_log: dict[str, dict],
               jobs: dict[str, int]) -> dict[str, float]:
        """``<layer>.<counter>`` for every traced layer; ``event_log``
        is ``parse_event_log``'s output keyed by job group and ``jobs``
        the per-layer job counts taken while the context was live."""
        out = {}
        for name in self.groups:
            ev = _merge([event_log.get(g, {}) for g in self.groups[name]])
            out[f"{name}.wall_s"] = self.walls[name]
            out[f"{name}.jobs"] = jobs[name]
            out[f"{name}.tasks"] = len(ev.get("task_s", []))
            out[f"{name}.shuffle_read_mb"] = ev.get("shuffle_read", 0) / 1e6
            out[f"{name}.shuffle_write_mb"] = ev.get("shuffle_write", 0) / 1e6
            out[f"{name}.spill_mb"] = ev.get("spill", 0) / 1e6
            out[f"{name}.task_skew"] = task_skew(ev.get("task_s", []))
        return out


def task_skew(task_s: list[float]) -> float:
    """max over median task time (1.0 for a single task or none)."""
    if not task_s:
        return 0.0
    med = statistics.median(task_s)
    return max(task_s) / med if med > 0 else 1.0


def _merge(parts: list[dict]) -> dict:
    out = {"task_s": [], "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
    for p in parts:
        out["task_s"] += p.get("task_s", [])
        for k in ("shuffle_read", "shuffle_write", "spill"):
            out[k] += p.get(k, 0)
    return out


def event_log_path(log_dir: str, app_id: str) -> str:
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if app_id in os.path.basename(p)]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return paths[0]


def parse_event_log(path: str) -> dict[str, dict]:
    """Job group -> {task_s, shuffle_read, shuffle_write, spill} from an
    uncompressed JSON-lines Spark event log. Stages are mapped to the
    job group of the job that submitted them; a stage shared by two
    jobs counts toward the first."""
    stage_group: dict[int, str] = {}
    acc: dict[str, dict] = defaultdict(
        lambda: {"task_s": [], "shuffle_read": 0, "shuffle_write": 0,
                 "spill": 0})
    with open(path) as f:
        for line in f:
            if not line.endswith("\n"):
                break       # tail not flushed yet
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id", "untraced")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "untraced")
                ti = ev.get("Task Info") or {}
                tm = ev.get("Task Metrics") or {}
                a = acc[group]
                a["task_s"].append((ti.get("Finish Time", 0)
                                    - ti.get("Launch Time", 0)) / 1e3)
                sr = tm.get("Shuffle Read Metrics") or {}
                a["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
                sw = tm.get("Shuffle Write Metrics") or {}
                a["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                a["spill"] += (tm.get("Memory Bytes Spilled", 0)
                               + tm.get("Disk Bytes Spilled", 0))
    return dict(acc)


class TimingCatalog(HadoopCatalog):
    """HadoopCatalog that times its own I/O, for traced runs.

    ``write_s`` is time in overwrite/append of every table but
    ``metrics``; ``metrics_s`` is time in ``append("metrics")``, which
    includes the metrics read-back job; ``read_s`` is time in ``read``.
    A written frame is first materialized with ``localCheckpoint``
    outside the write timer, so ``write_s`` counts the write itself,
    not the lazily-built stage that feeds it. That extra checkpoint
    changes the run's wall, so only traced runs use this catalog."""

    def __init__(self, spark, root: str):
        super().__init__(spark, root)
        self.write_s = self.read_s = self.metrics_s = 0.0

    def _timed_write(self, name, write, df, *args, **kwargs):
        if name != "metrics":
            df = df.localCheckpoint()
        t0 = time.perf_counter()
        try:
            return write(name, df, *args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            if name == "metrics":
                self.metrics_s += dt
            else:
                self.write_s += dt

    def overwrite(self, name, df, run_id, bucket_by=None, partition_by=None):
        return self._timed_write(name, super().overwrite, df, run_id,
                                 bucket_by=bucket_by,
                                 partition_by=partition_by)

    def append(self, name, df, partition_by=None):
        return self._timed_write(name, super().append, df,
                                 partition_by=partition_by)

    def read(self, name):
        t0 = time.perf_counter()
        try:
            return super().read(name)
        finally:
            self.read_s += time.perf_counter() - t0
