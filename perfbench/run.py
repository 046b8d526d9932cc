"""Benchmark of the miekki dedup engine: one workload per invocation.

    python3 perfbench/run.py --workload pages_long --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root. One driver process runs Spark in
``local[N]``, N = the cores this process may use. Operations run in a
closed loop, one at a time: after a full-size warm-up operation (part
of ``setup_s``; on workloads with ``cold_pass``, one operation on the
smoke-test input comes first), operations are timed until the next one would end
past ``--seconds``; at least one always runs. Every operation's output
is checked against the generator's ground truth; one that raises or
fails its check counts in ``failed``. ``docs_per_s`` is the doc count
over the median operation wall.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
pipeline layer by layer under Spark job groups with the event log on,
then one untraced operation, and prints the per-layer metrics. The
last stdout line is the JSON result; the line before it records host
and engine. Working files stay under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

# these imports fail outside a checkout: the program is not there
from bench import calibration_probe  # noqa: E402
from miekki.config import DedupConfig  # noqa: E402
from miekki.session import build_spark  # noqa: E402

from perfbench import host, inputs  # noqa: E402
from perfbench.tracing import (LayerTracer, event_log_path,  # noqa: E402
                             parse_event_log)
from perfbench.workloads import SIZES, TINY, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "dup_pair_recall": "ratio",
    "dup_pair_precision": "ratio",
    "peak_python_rss_mb": "MB",
}
LAYERS = ("normalize", "signatures", "lsh", "verify", "simhash",
          "substr_anchors", "substr_pairs", "cc", "canonical",
          "webstats_filter", "sketches_hll", "sketches_cms", "sketches_hdr")
LAYER_EXTRAS = {
    "signatures.text_mb_per_s": "MB/s",
    "signatures.engine_native": "bool",
    "lsh.candidates": "count",
    "verify.edges": "count",
    "verify.yield": "ratio",
    "simhash.edges": "count",
    "substr.anchors": "count",
    "substr.candidate_pairs": "count",
    "substr.edges": "count",
    "substr.yield": "ratio",
    "substr.pass_s": "s",
    "cc.rounds": "count",
    "catalog.write_s": "s",
    "catalog.read_s": "s",
    "lineage.metrics_s": "s",
    "trace.staged_sum_s": "s",
    "trace.e2e_wall_s": "s",
    "trace.overhead_s": "s",
}
COUNTER_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count",
                 "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
                 "spill_mb": "MB", "task_skew": "ratio"}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{c}": u for layer in LAYERS
             for c, u in COUNTER_UNITS.items()}
    units.update(LAYER_EXTRAS)
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test input sizes")
    return ap.parse_args(argv)


def _environment(run_dir: str, work: str, trace: bool) -> None:
    """Point every file Spark and miekki write into the work dir."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["MIEKKI_LOCAL_DIR"] = os.path.join(run_dir, "local")
    os.environ["MIEKKI_NATIVE_DIR"] = os.path.join(work, "native")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # JVMs write hsperfdata under /tmp unless told not to
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if trace:
        os.environ["MIEKKI_EVENTLOG"] = os.path.join(run_dir, "events")
    else:
        os.environ.pop("MIEKKI_EVENTLOG", None)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _timed_op(wl, sampler, rec) -> float | None:
    """One checked operation; its wall, or None when it failed."""
    # start every timed operation from collected heaps, so garbage left
    # by set-up or the previous operation is not collected inside it
    gc.collect()
    wl.spark.sparkContext._jvm.System.gc()
    rec["loadavg"].append(round(os.getloadavg()[0], 2))
    rec["attempted"] += 1
    sampler.active.set()
    t0 = time.perf_counter()
    try:
        out = wl.op()
        wall = time.perf_counter() - t0
        sampler.active.clear()
        wl.check(out)
        return wall
    except Exception:   # a failed operation is counted, not fatal
        sampler.active.clear()
        rec["failed"] += 1
        traceback.print_exc(file=sys.stderr)
        return None


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(BENCH_DIR, ".work")
    run_dir = os.path.join(work, f"run{os.getpid()}")
    _environment(run_dir, work, args.trace == 1)
    try:
        return _main(args, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _main(args, work: str, run_dir: str) -> int:
    cfg = DedupConfig()
    n = host.cpus()
    parts = n
    rec = {"workload": args.workload, "seed": args.seed,
           "master": f"local[{n}]", "shuffle_partitions": parts,
           "input_partitions": parts, "driver_memory": host.driver_memory(),
           "attempted": 0, "failed": 0, "loadavg": []}
    rec.update(host.engine_record())
    t_calib = time.perf_counter()
    rec["calib_sec"] = calibration_probe()
    calib_wall = time.perf_counter() - t_calib

    conf = {"spark.driver.memory": rec["driver_memory"],
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                "-XX:-UsePerfData -Djava.io.tmpdir="
                + os.path.join(run_dir, "tmp")}
    if args.trace:
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    t = time.perf_counter()
    spark = build_spark(master=rec["master"], app_name="miekki-perfbench",
                        shuffle_partitions=parts, extra_conf=conf)
    rec["session_s"] = round(time.perf_counter() - t, 3)
    try:
        cache = os.path.join(work, "cache")
        if WORKLOADS[args.workload].cold_pass:
            t = time.perf_counter()
            cold_paths, _ = inputs.load(cache, args.workload, args.seed,
                                        TINY[args.workload], cfg)
            cold = WORKLOADS[args.workload](spark, cfg, cold_paths, run_dir,
                                            parts)
            # unchecked: at this size one missed pair breaks the recall
            # gate on some seeds; every full-size operation is checked
            cold.op()
            rec["cold_s"] = round(time.perf_counter() - t, 3)
        t = time.perf_counter()
        size = (TINY if args.tiny else SIZES)[args.workload]
        paths, rec["input_cached"] = inputs.load(
            cache, args.workload, args.seed, size, cfg)
        wl = WORKLOADS[args.workload](spark, cfg, paths, run_dir, parts)
        rec.update(n_docs=wl.n_docs, text_mb=round(wl.text_mb, 3), size=size,
                   input_s=round(time.perf_counter() - t, 3))
        # full-size warm-up: JIT, codegen and Python workers settle
        t = time.perf_counter()
        wl.check(wl.op())
        rec["warmup_s"] = round(time.perf_counter() - t, 3)
        setup_s = time.perf_counter() - T_START - calib_wall
        with host.RssSampler() as sampler:
            if args.trace:
                metrics = _traced(spark, wl, sampler, rec)
                spark = None
            else:
                metrics = _untraced(wl, sampler, rec, args.seconds)
                metrics["setup_s"] = (setup_s, "s")
                metrics["peak_python_rss_mb"] = (sampler.peak_python_mb,
                                                 "MB")
                rec["peak_tree_rss_mb"] = round(sampler.peak_mb, 1)
    finally:
        if spark is not None:
            _stop(spark)

    correct = rec["failed"] == 0 and rec["attempted"] > 0
    print(json.dumps({"host": rec}))
    print(json.dumps({
        "correct": correct, "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


def _untraced(wl, sampler, rec, seconds: float) -> dict:
    walls = []
    t0 = time.perf_counter()
    while True:
        wall = _timed_op(wl, sampler, rec)
        if wall is not None:
            walls.append(wall)
        expect = statistics.median(walls) if walls else 0.0
        if time.perf_counter() - t0 + expect > seconds:
            break
    rec["op_walls_s"] = [round(w, 3) for w in walls]
    recall = statistics.median(r for r, _ in wl.scores)
    precision = statistics.median(p for _, p in wl.scores)
    docs_per_s = wl.n_docs / statistics.median(walls) if walls else 0.0
    return {"docs_per_s": (docs_per_s, "docs/s"),
            "dup_pair_recall": (recall, "ratio"),
            "dup_pair_precision": (precision, "ratio")}


def _traced(spark, wl, sampler, rec) -> dict:
    """Layer-by-layer pass, then one untraced operation; stops Spark
    to flush the event log before folding it into layer counters."""
    tr = LayerTracer(spark)
    rec["attempted"] += 1
    try:
        wl.check(wl.traced(tr))
    except Exception:   # a failed operation is counted, not fatal
        rec["failed"] += 1
        traceback.print_exc(file=sys.stderr)
    e2e = _timed_op(wl, sampler, rec)
    app_id = spark.sparkContext.applicationId
    log_dir = os.environ["MIEKKI_EVENTLOG"]
    report = {}
    jobs = {name: tr.jobs(name) for name in tr.groups}
    _stop(spark)
    report.update(tr.report(parse_event_log(event_log_path(log_dir, app_id)),
                            jobs))
    report.update(tr.extra)
    report["signatures.engine_native"] = int(rec["engine"] == "native")
    # the substr pass counts once, whole; its anchors and pairs layers
    # are its breakdown
    staged = sum(tr.walls[name] for name in wl.staged_layers()) \
        + tr.extra.get("substr.pass_s", 0.0)
    report["trace.staged_sum_s"] = staged
    report["trace.e2e_wall_s"] = e2e or 0.0
    report["trace.overhead_s"] = staged - (e2e or 0.0)
    units = per_layer_units()
    return {k: (float(report.get(k, 0.0)), u) for k, u in units.items()}


if __name__ == "__main__":
    sys.exit(main())
