"""O21/O22 — per-stage lineage (resume) + per-file metrics rows.

A stage executes iff the lineage table (T7) has no
(stage, input_snapshot, config_hash, status='done') row; re-runs
overwrite by run_id so a crashed half-write is replaced idempotently
(BASELINE.json north_rule: "resumable from checkpoint with
per-partition lineage + metrics").
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, functions as F

from miekki import schemas
from miekki.catalog import Catalog, local_df

LINEAGE_TABLE = "lineage"
METRICS_TABLE = "metrics"


class LineageLog:
    def __init__(self, catalog: Catalog):
        self.catalog = catalog

    def done_snapshots(self, stage: str, input_snapshot: str,
                       config_hash: str) -> set[str]:
        """Output snapshots of matching 'done' rows. Resume must check
        the table's CURRENT snapshot is one of these: a done row alone
        proves the stage once ran, not that the table still holds its
        output — run(cfg A), run(cfg B), run(cfg A) again would
        otherwise skip the stage and silently serve B's table."""
        if not self.catalog.exists(LINEAGE_TABLE):
            return set()
        df = self.catalog.read(LINEAGE_TABLE)
        if "output_snapshot" not in df.columns:
            # lineage table written by a pre-output_snapshot version:
            # parquet schema inference may serve the old 6-column shape
            # even after mark() appends 7-column rows. No snapshot
            # evidence exists for those rows, so resume must recompute
            # (ADVICE r4: selecting the column unconditionally raised
            # AnalysisException on upgraded catalogs).
            return set()
        rows = (df.where(
            (F.col("stage") == stage)
            & (F.col("input_snapshot") == input_snapshot)
            & (F.col("config_hash") == config_hash)
            & (F.col("status") == "done"))
            .select("output_snapshot").collect())
        return {r[0] for r in rows if r[0] is not None}

    def mark(self, run_id: str, stage: str, input_snapshot: str,
             config_hash: str, status: str,
             output_snapshot: str | None = None) -> None:
        spark = self.catalog.spark
        row = [(run_id, stage, input_snapshot, config_hash, status,
                output_snapshot, datetime.now(timezone.utc))]
        self.catalog.append(LINEAGE_TABLE,
                            local_df(spark, row, schemas.LINEAGE))


def emit_partition_metrics(catalog: Catalog, run_id: str, stage: str,
                           wall_ms: int) -> None:
    """T6: one row per data file of the stage's just-written table
    (partition_id = the file's ordinal), with the file's exact
    rows_out and bytes_out from catalog.data_files — the table is not
    read back. A stage's rows_in is by construction the upstream
    stage's sum(rows_out), so T6 carries outputs only (SURVEY.md
    §1.2)."""
    ts = datetime.now(timezone.utc)
    rows = [(run_id, stage, i, n, b, wall_ms, ts)
            for i, (n, b) in enumerate(catalog.data_files(stage))]
    catalog.append(METRICS_TABLE,
                   local_df(catalog.spark, rows, schemas.METRICS))


class StageRunner:
    """Idempotent stage wrapper: skip-if-done, write-then-mark,
    metrics emission; timing captured around the action.

    Lineage key (input_snapshot) of a stage: ``source_snapshot`` for
    the first stage, then the "+"-joined output snapshots of every
    stage materialized before it — so re-running an upstream stage
    invalidates all downstream stages."""

    def __init__(self, catalog: Catalog, run_id: str, config_hash: str,
                 source_snapshot: str):
        self.catalog = catalog
        self.lineage = LineageLog(catalog)
        self.run_id = run_id
        self.config_hash = config_hash
        self.source_snapshot = source_snapshot
        self.outputs: list[str] = []
        self.executed: list[str] = []
        self.skipped: list[str] = []

    def materialize(self, stage: str, build,
                    bucket_by: tuple[int, list[str]] | None = None) -> DataFrame:
        """build: () -> DataFrame, written to the table named ``stage``.
        Returns the (possibly pre-existing) table contents."""
        key = "+".join(self.outputs) or self.source_snapshot
        done = self.lineage.done_snapshots(stage, key, self.config_hash)
        snap = self.catalog.snapshot_id(stage) if done else None
        if snap in done:
            self.skipped.append(stage)
        else:
            t0 = time.time()
            self.lineage.mark(self.run_id, stage, key, self.config_hash,
                              "started")
            self.catalog.overwrite(stage, build(), self.run_id,
                                   bucket_by=bucket_by)
            wall_ms = int((time.time() - t0) * 1000)
            emit_partition_metrics(self.catalog, self.run_id, stage, wall_ms)
            snap = self.catalog.snapshot_id(stage)
            self.lineage.mark(self.run_id, stage, key, self.config_hash,
                              "done", output_snapshot=snap)
            self.executed.append(stage)
        self.outputs.append(snap)
        return self.catalog.read(stage)
