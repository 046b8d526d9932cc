"""Per-stage timer: every pipeline operator, and the operators off the
dedup path, timed in isolation one way.

Each stage's inputs are built once and ``localCheckpoint``-ed outside
the timer, so a stage's wall is its own compute and shuffles. The
stage frame then goes to the noop sink (``count()`` for ``cc`` and
``e2e``, whose checkpointed rounds are the cost, as in bench.py).
Session settings are bench.py's; ``MIEKKI_MASTER`` overrides the master
URL, so running this at ``local-cluster[2,1,*]`` and
``local-cluster[8,1,*]`` and diffing the walls shows which stage stops
scaling.

Usage:
  python scripts/bench_stages.py [--stages a,b,c] [--reps N] [--explain TAG]

--stages   comma-separated subset of the stage table (default: all)
--reps     timed repetitions per stage; the stage's wall is the
           minimum, every rep is reported (default 2: a stage's first
           run pays its own plan's warm-up, up to 2x at small sizes)
--explain  write plans/<TAG>/<stage>.txt, the formatted explain of
           each stage frame

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, MIEKKI_BENCH_MULT,
MIEKKI_BENCH_PARTITIONS and MIEKKI_MASTER, as in bench.py.

Prints one JSON line: {"stages": {name: min sec}, "reps": {name:
[sec, ...]}, "load": {name: [before, after]}, "steal_pct": {name: %},
"compiles": {name: [classes compiled per rep, ...]}, "total": sum of
the dedup-path stages, "docs", "mult", "cpus", "master", "calib_sec"}.
A warm rep compiles ~no classes; counts near a stage's class total
mean the codegen cache is evicting (miekki/session.py sizes it).
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the stages dedup_labels runs, in order; their walls sum to "total"
DEDUP_PATH = ("normalize", "signatures", "lsh_star_edges", "verify_estj",
              "simhash_pass", "substr_pass", "edge_union", "cc",
              "canonical")
COUNTED = ("cc", "e2e")


def _load() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])  # steal jiffies


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--stages", default="")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain", metavar="TAG")
    args = ap.parse_args()
    if args.reps < 1:
        ap.error("--reps must be >= 1")

    from bench import bench_setup
    b = bench_setup("miekki-stages")
    spark = b.spark

    from pyspark.sql import functions as F

    from miekki.bpe import bpe_tokenize, fit_bpe
    from miekki.config import DedupConfig
    from miekki.pipeline import _doc_meta, dedup_labels
    from miekki.session import codegen_compiles
    from miekki.sketches import (cms_build, hdr_histogram, hdr_quantiles,
                                 hll_estimate, hll_registers)
    from miekki.stages.canonical import select_canonical
    from miekki.stages.cc import cc_labels
    from miekki.stages.lsh import band_table, minhash_candidate_edges
    from miekki.stages.normalize import normalize
    from miekki.stages.signatures import signatures_from_text
    from miekki.stages.simhash import simhash_candidate_edges
    from miekki.stages.substr import (anchor_table, candidate_anchor_pairs,
                                      substr_candidate_edges)
    from miekki.stages.verify import verify_edges
    from miekki.webstats import filter_battery

    cfg = DedupConfig()
    corpus = b.corpus
    corpus.count()
    corpus = corpus.localCheckpoint()

    # warm python workers / codegen on a small slice: workers are
    # long-lived on a real cluster, so process spawn is not stage cost
    dedup_labels(corpus.limit(256), cfg).count()

    def toks(docs):
        return (docs.select(F.explode(F.split("norm_text", " "))
                            .alias("token"))
                .where(F.col("token") != ""))

    # name -> (the stages whose checkpointed outputs it reads, builder)
    stages = {
        "normalize": ((), lambda: normalize(corpus, cfg)),
        "signatures": (("normalize",),
                       lambda d: signatures_from_text(d, cfg)),
        "band_table": (("signatures",), lambda s: band_table(s, cfg)),
        "lsh_star_edges": (("signatures",),
                           lambda s: minhash_candidate_edges(s, cfg)),
        "verify_estj": (("lsh_star_edges", "signatures"),
                        lambda c, s: verify_edges(c, s, cfg)),
        "simhash_pass": (("signatures",),
                         lambda s: simhash_candidate_edges(s, cfg)),
        "substr_pass": (("normalize",),
                        lambda d: substr_candidate_edges(d, cfg)),
        "substr_anchors": (("normalize",), lambda d: anchor_table(d, cfg)),
        "substr_pairs": (("substr_anchors",),
                         lambda a: candidate_anchor_pairs(a, cfg)),
        "edge_union": (("verify_estj", "simhash_pass", "substr_pass"),
                       lambda m, s, x: m.unionByName(s).unionByName(x)
                       .select("src", "dst").dropDuplicates(["src", "dst"])),
        "cc": (("edge_union", "normalize"),
               lambda p, d: cc_labels(p, d.select("doc_id"))),
        "canonical": (("cc",), lambda lab: select_canonical(
            lab, _doc_meta(corpus, cfg))),
        "filter_battery": (("normalize",), lambda d: filter_battery(
            d, norm_col="norm_text")),
        "hll": (("normalize",), lambda d: hll_estimate(
            hll_registers(toks(d), "token"))),
        "cms": (("normalize",), lambda d: cms_build(toks(d), "token")),
        "hdr": (("normalize",), lambda d: hdr_quantiles(hdr_histogram(
            d.select(F.length("norm_text").alias("len")), "len"))),
        "bpe": (("normalize",), lambda d: bpe_tokenize(
            d, merges, norm_col="norm_text")),
        "e2e": ((), lambda: dedup_labels(corpus, cfg)),
    }
    only = [s for s in args.stages.split(",") if s] or list(stages)
    unknown = set(only) - set(stages)
    if unknown:
        spark.stop()
        ap.error(f"unknown stages {sorted(unknown)}; known: {list(stages)}")

    @functools.cache
    def ck(name):
        """Stage ``name``'s output, built from checkpointed inputs and
        checkpointed itself, once."""
        needs, build = stages[name]
        return build(*map(ck, needs)).localCheckpoint()

    # the BPE fit is driver-side over a bounded sample; only the
    # tokenizer is timed
    merges = (fit_bpe(ck("normalize"), norm_col="norm_text")
              if "bpe" in only else None)

    if args.explain:
        pdir = os.path.join(REPO, "plans", args.explain)
        os.makedirs(pdir, exist_ok=True)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode

    walls, reps, load, steal, compiles = {}, {}, {}, {}, {}
    for name in only:
        needs, build = stages[name]
        ins = [ck(n) for n in needs]
        times, compiles[name] = [], []
        l0, s0 = _load(), _steal()
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{rep + 1}")
            c0, t0 = codegen_compiles(spark), time.time()
            df = build(*ins)
            if name in COUNTED:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 2))
            compiles[name].append(codegen_compiles(spark) - c0)
        # steal% = other tenants on the physical host during the stage
        steal[name] = round(100 * (_steal() - s0) / os.sysconf("SC_CLK_TCK")
                            / max(sum(times), 1e-9) / os.cpu_count(), 1)
        load[name] = [l0, _load()]
        walls[name], reps[name] = min(times), times
        print(f"  {name}: {times} (load {l0:.1f}->{load[name][1]:.1f},"
              f" steal {steal[name]}%, compiles {compiles[name]})",
              file=sys.stderr, flush=True)
        if args.explain:
            with open(os.path.join(pdir, f"{name}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    mode.fromString("formatted")))

    spark.stop()
    print(json.dumps({
        "stages": walls, "reps": reps, "load": load, "steal_pct": steal,
        "compiles": compiles,
        "total": round(sum(walls[s] for s in DEDUP_PATH if s in walls), 2),
        "docs": b.n_docs, "mult": b.mult, "cpus": b.cpus, "master": b.master,
        "calib_sec": b.calib_sec}))


if __name__ == "__main__":
    main()
