"""O22/O23 resume + checkpoint semantics (SURVEY.md §5.5):
full run → all stages execute; re-run → all stages skip, labels
identical; upstream invalidation → downstream recomputes; config
change → full recompute; crashed half-write invisible."""

import json
import os

import pandas as pd
import pytest

from miekki.catalog import HadoopCatalog
from miekki.config import DedupConfig
from miekki.pipeline import run

STAGES = ["docs_norm", "signatures", "candidate_edges", "cluster_labels"]


@pytest.fixture(scope="module")
def catalog(spark, corpus_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("catalog"))
    cat = HadoopCatalog(spark, root)
    cat.overwrite("corpus", corpus_df, run_id="ingest")
    return cat


def _labels_pdf(res):
    return (res["labels"].select("doc_id", "cluster_id").toPandas()
            .sort_values("doc_id").reset_index(drop=True))


def test_full_run_then_resume(spark, catalog):
    cfg = DedupConfig()
    r1 = run(spark, catalog, cfg, run_id="r1")
    assert r1["executed"] == STAGES and not r1["skipped"]
    first = _labels_pdf(r1)

    r2 = run(spark, catalog, cfg, run_id="r2")
    assert r2["skipped"] == STAGES and not r2["executed"]
    pd.testing.assert_frame_equal(first, _labels_pdf(r2))

    # metrics rows exist per stage with >= 1 partition row
    m = catalog.read("metrics").toPandas()
    assert set(m.stage) == set(STAGES)
    assert (m.rows_out >= 0).all() and m.run_id.eq("r1").all()

    # lineage has started+done per stage
    lin = catalog.read("lineage").toPandas()
    for s in STAGES:
        assert {"started", "done"} <= set(lin[lin.stage == s].status)


def test_config_change_forces_recompute(spark, catalog):
    cfg2 = DedupConfig(tau=0.75)
    r = run(spark, catalog, cfg2, run_id="r3")
    assert r["executed"] == STAGES


def test_upstream_invalidation_cascades(spark, catalog, corpus_df):
    cfg = DedupConfig()
    run(spark, catalog, cfg, run_id="r4")          # ensure done at cfg
    # new corpus snapshot (same data, new snapshot id)
    catalog.overwrite("corpus", corpus_df, run_id="reingest")
    r = run(spark, catalog, cfg, run_id="r5")
    assert r["executed"] == STAGES, (r["executed"], r["skipped"])


def test_crashed_halfwrite_invisible(spark, catalog):
    """A data dir without a manifest flip must not be readable state:
    simulate a crash by writing data but keeping the old manifest."""
    cfg = DedupConfig()
    run(spark, catalog, cfg, run_id="r6")
    snap_before = catalog.snapshot_id("signatures")
    d = os.path.join(catalog.root, "signatures")
    os.makedirs(os.path.join(d, "data_crashed"), exist_ok=True)
    assert catalog.snapshot_id("signatures") == snap_before
    with open(os.path.join(d, "_MANIFEST.json")) as f:
        assert json.load(f)["data"] != "data_crashed"
    # re-run still resumes cleanly
    r = run(spark, catalog, cfg, run_id="r7")
    assert r["skipped"] == STAGES


def test_metrics_bytes_out_real(spark, corpus_df, tmp_path):
    """T6 holds one row per data file with its exact rows and bytes:
    per stage, sum(bytes_out) is the on-disk data bytes and
    sum(rows_out) the table's row count."""
    from miekki.catalog import HadoopCatalog
    from miekki import pipeline

    cat = HadoopCatalog(spark, str(tmp_path / "cat_m"))
    cat.overwrite("corpus", corpus_df.limit(120), "seed")
    res = pipeline.run(spark, cat, run_id="m1", n_buckets=4)
    m = cat.read("metrics").toPandas()
    assert set(m.stage) == set(STAGES)
    # one append per stage, each one file however many rows it holds
    assert len(cat.data_files("metrics")) == len(STAGES)
    for stage in STAGES:
        part = m[m.stage == stage]
        with open(os.path.join(cat.root, stage, "_MANIFEST.json")) as f:
            d = os.path.join(cat.root, stage, json.load(f)["data"])
        on_disk = sum(os.path.getsize(os.path.join(r, f))
                      for r, _, fs in os.walk(d) for f in fs
                      if not f.startswith(("_", ".")))
        assert on_disk > 0
        assert int(part.bytes_out.sum()) == on_disk, stage
        assert int(part.rows_out.sum()) == cat.read(stage).count(), stage
        assert sorted(part.partition_id) == list(range(len(part)))
    assert res["n_docs"] == cat.read("cluster_labels").count() == 120


def test_config_alternation_never_serves_stale_table(
        spark, corpus_df, tmp_path_factory):
    """run(cfg A) → run(cfg B) → run(cfg A) again: A's old 'done'
    lineage rows still exist, but the tables now hold B's output —
    the third run must RECOMPUTE, not skip and silently serve B's
    contents (the done row records the output snapshot; resume
    validates the table still carries it)."""
    root = str(tmp_path_factory.mktemp("cfg_alt"))
    cat = HadoopCatalog(spark, root)
    cat.overwrite("corpus", corpus_df, run_id="ingest")
    cfg_a = DedupConfig()
    cfg_b = DedupConfig(shingle_k=7)
    a1 = run(spark, cat, cfg_a, run_id="a1")
    assert a1["executed"] == STAGES
    la = _labels_pdf(a1)
    b1 = run(spark, cat, cfg_b, run_id="b1")
    assert b1["executed"] == STAGES        # config hash differs
    a2 = run(spark, cat, cfg_a, run_id="a2")
    assert a2["executed"] == STAGES, (
        "stale done rows must not skip stages over B's tables")
    pd.testing.assert_frame_equal(la, _labels_pdf(a2))


def test_pre_upgrade_lineage_schema_recomputes(spark, tmp_path):
    """A lineage table written before the output_snapshot column
    existed (6-column rows) must make done_snapshots() return empty —
    i.e. resume recomputes — instead of raising AnalysisException on
    the missing column (ADVICE r4)."""
    from datetime import datetime, timezone

    from miekki.lineage import LINEAGE_TABLE, LineageLog

    cat = HadoopCatalog(spark, str(tmp_path / "cat"))
    old = spark.createDataFrame(
        [("r0", "signatures", "snap-in", "cfg", "done",
          datetime(2025, 1, 1, tzinfo=timezone.utc))],
        "run_id string, stage string, input_snapshot string,"
        " config_hash string, status string, ts timestamp")
    cat.overwrite(LINEAGE_TABLE, old, run_id="r0")
    assert LineageLog(cat).done_snapshots(
        "signatures", "snap-in", "cfg") == set()
