"""Parse a Spark event log and rank stages by straggler severity.

Usage:
  MIEKKI_EVENTLOG=/tmp/miekki-events SPARK_GRAFT_CPUS=16 \
      MIEKKI_BENCH_MULT=32 MIEKKI_BENCH_E2E_ONLY=1 python bench.py
  python scripts/task_skew.py /tmp/miekki-events/<app-id>

For each stage: task count, sum/median/max task wall, and the
straggler ratio max/median — the per-stage quantity that caps scaling
efficiency when partitions are skewed (SCALE.md §skew). Stages are
ranked by max task wall (the critical-path contribution).
"""

from __future__ import annotations

import os
import statistics
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miekki.eventlog import events  # noqa: E402


def main(path: str, top: int = 20):
    stage_name: dict[int, str] = {}
    tasks: dict[int, list[float]] = defaultdict(list)
    gc: dict[int, float] = defaultdict(float)
    for _, ev in events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            stage_name[si["Stage ID"]] = si["Stage Name"]
        elif kind == "SparkListenerTaskEnd":
            ti = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            sid = ev.get("Stage ID")
            dur = (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1e3
            if sid is not None and dur > 0:
                tasks[sid].append(dur)
                gc[sid] += tm.get("JVM GC Time", 0) / 1e3

    rows = []
    for sid, ds in tasks.items():
        med = statistics.median(ds)
        rows.append((max(ds), sid, len(ds), sum(ds), med,
                     max(ds) / med if med > 0 else float("inf")))
    rows.sort(reverse=True)
    print(f"{'stage':>6} {'ntask':>6} {'sum_s':>8} {'gc_s':>7} {'med_s':>7} "
          f"{'max_s':>7} {'max/med':>8}  name")
    for mx, sid, n, tot, med, ratio in rows[:top]:
        print(f"{sid:>6} {n:>6} {tot:>8.1f} {gc[sid]:>7.1f} {med:>7.2f} {mx:>7.2f} "
              f"{ratio:>8.1f}  {stage_name.get(sid, '?')[:70]}")
    total = sum(sum(ds) for ds in tasks.values())
    ntasks = sum(len(ds) for ds in tasks.values())
    total_gc = sum(gc.values())
    print(f"\nTOTAL task-seconds: {total:.0f} (GC {total_gc:.0f} = "
          f"{100*total_gc/max(total,1e-9):.0f}%) over {ntasks} tasks in "
          f"{len(tasks)} stages "
          f"(ideal wall at C cores = {total:.0f}/C + barrier gaps)")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 20)
