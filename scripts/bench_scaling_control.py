"""Hardware-bound control for the multi-JVM scaling protocol.

Runs an EMBARRASSINGLY-PARALLEL job — scan → normalize → fused
signature Arrow kernel → sum, NO shuffle, no joins, no CC — under the
same two local-cluster shapes as scripts/bench_cluster_scaling.py.
Whatever efficiency this job achieves is the ceiling ANY job can
reach on this host at those shapes: there is no job structure left to
blame, only the shared memory bus / LLC / python workers.

Interpretation (BENCH/BASELINE.md r3): pipeline_eff / control_eff is
the pipeline's STRUCTURAL scaling efficiency — the quantity that
transfers to a real cluster, where each added executor brings its own
memory bus.

Usage: python scripts/bench_scaling_control.py [runs=3] [mult=32] [n_exec=2] [cores=1]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

RUNS = int(sys.argv[1]) if len(sys.argv) > 1 else 3
MULT = int(sys.argv[2]) if len(sys.argv) > 2 else 32
N_EXEC = int(sys.argv[3]) if len(sys.argv) > 3 else 2
CORES = int(sys.argv[4]) if len(sys.argv) > 4 else 1
LEVELS = [N_EXEC, 4 * N_EXEC]
MEM_MB = 9216


def run_once(n_exec: int) -> float:
    os.environ["MIEKKI_SHUFFLE_PARTITIONS"] = "128"
    os.environ["MIEKKI_EXECUTOR_MEM"] = "8g"
    from pyspark.sql import functions as F

    from bench import prepare_corpus
    from miekki.config import DedupConfig
    from miekki.session import build_spark
    from miekki.stages.normalize import normalize
    from miekki.stages.signatures import signatures_from_text

    cfg = DedupConfig()
    corpus_path, _ = prepare_corpus("/root/testdata/sf0.1", MULT,
                                    os.path.join(REPO, ".cache"))
    spark = build_spark(master=f"local-cluster[{n_exec},{CORES},{MEM_MB}]",
                        app_name="scaling-control")
    corpus = spark.read.parquet(corpus_path).repartition(96)
    signatures_from_text(normalize(corpus.limit(512), cfg), cfg).count()
    t0 = time.time()
    signatures_from_text(normalize(corpus, cfg), cfg) \
        .select(F.sum("n_shingles")).first()
    dt = time.time() - t0
    spark.stop()
    return dt


def main():
    walls = {c: [] for c in LEVELS}
    for i in range(RUNS):
        for n_exec in LEVELS:          # interleaved
            dt = run_once(n_exec)
            walls[n_exec].append(round(dt, 1))
            print(f"round {i} control local-cluster[{n_exec},{CORES}]:"
                  f" {dt:.1f}s", flush=True)
    med = {c: statistics.median(w) for c, w in walls.items()}
    best = {c: min(w) for c, w in walls.items()}
    ratio = LEVELS[1] / LEVELS[0]
    print(json.dumps({
        "control_walls": walls,
        "control_eff_median": round((med[LEVELS[0]] / med[LEVELS[1]]) / ratio, 3),
        "control_eff_best": round((best[LEVELS[0]] / best[LEVELS[1]]) / ratio, 3),
    }))


if __name__ == "__main__":
    main()
