"""Self-tests of the benchmark: seeded inputs are reproducible, metric
names match BENCHMARK.json, and a tiny run of each workload passes its
correctness checks in both modes.

    python3 -m pytest -q perfbench/
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from miekki.config import DedupConfig  # noqa: E402

from perfbench import inputs, run  # noqa: E402
from perfbench.workloads import TINY, WORKLOADS  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _files(paths: dict) -> dict[str, bytes]:
    out = {}
    for name, p in paths.items():
        with open(p, "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_same_bytes(tmp_path, workload):
    def load(cache: str, seed: int):
        return inputs.load(str(tmp_path / cache), workload, seed,
                           TINY[workload], DedupConfig())

    (a, hit_a), (b, hit_b), (c, _) = load("a", 7), load("b", 7), load("c", 8)
    assert not hit_a and not hit_b
    assert _files(a) == _files(b)
    assert _files(a)["corpus"] != _files(c)["corpus"]
    # a second load of the same key is served from the cache
    assert load("a", 7) == (a, True)


def test_truth_covers_every_planted_pair():
    cfg = DedupConfig()
    corpus, tp, tc = inputs.dense(3, 4, 5, cfg)
    assert (tp.kind == "replica").sum() == 4 * (5 - 1)
    assert tp.jaccard.between(0, 1).all()
    # every doc has a family; replicas of one base share it
    assert len(tc) == len(corpus)
    assert tc.family_id.nunique() == 4


def test_metric_names_match_benchmark_json():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    for name in [*e2e, *layer, *(w["name"] for w in spec["workloads"])]:
        assert NAME_RE.fullmatch(name), name
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"),
         "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_is_correct(workload, trace):
    spec = _spec()
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
