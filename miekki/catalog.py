"""Table catalog abstraction (SURVEY.md §2.8, O22/O23).

The pipeline speaks only this interface. Two implementations:

- ``HadoopCatalog`` — parquet directories + a ``_MANIFEST.json`` per
  table standing in for snapshot metadata. This is what runs in the
  sandbox (no Iceberg runtime jar exists here and the sandbox is
  offline — SURVEY.md §0.2).
- ``IcebergCatalog`` — the real-cluster path: DataFrameWriterV2
  ``writeTo(...).using('iceberg')``, snapshot ids from the table's
  ``.snapshots`` metadata. It cannot execute in this sandbox; its
  logic is unit-tested through interface-level fakes and kept
  deliberately thin.

Writes are atomic at the manifest level: data lands under a fresh
``data_<run_id>_<uuid8>`` directory and the manifest flips last, so a
crashed half-write is invisible to readers; the next overwrite sweeps
every ``data_*`` directory the manifest does not name (idempotent
resume, BASELINE.json north_rule).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from abc import ABC, abstractmethod

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_df(spark: SparkSession, rows: list[tuple],
             schema: StructType | str) -> DataFrame:
    """A few driver-side rows (lineage, metrics, ledger and rider
    rows) as a DataFrame that writes one file. Built from pandas
    (Arrow), its write needs no Python worker, unlike a list of
    tuples: 0.15 s vs 0.49 s (min of 8) per one-row append on
    local[4]. Spark spreads local rows over min(rows, cores) tasks, so
    without the coalesce each append would add that many files."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names),
                                 schema).coalesce(1)


class Catalog(ABC):
    @abstractmethod
    def read(self, name: str) -> DataFrame: ...

    @abstractmethod
    def overwrite(self, name: str, df: DataFrame, run_id: str,
                  bucket_by: tuple[int, list[str]] | None = None,
                  partition_by: list[str] | None = None) -> None:
        """``bucket_by=(n, cols)`` stores the table hash-bucketed (and
        sorted) by ``cols`` so downstream joins/aggregations on those
        keys read back shuffle-free (SURVEY.md §4.5: T2/T4 bucketed by
        doc_id make the verify joins one-sided). ``partition_by``
        stores it directory-partitioned by the named columns so reads
        filtered on them prune whole partitions (streaming band state:
        per-batch reads touch only the buckets the batch hit)."""

    @abstractmethod
    def append(self, name: str, df: DataFrame,
               partition_by: list[str] | None = None) -> None: ...

    @abstractmethod
    def exists(self, name: str) -> bool: ...

    @abstractmethod
    def snapshot_id(self, name: str) -> str | None:
        """Opaque version token; changes on every successful write."""

    @abstractmethod
    def data_files(self, name: str) -> list[tuple[int, int]]:
        """(rows, bytes) per data file of the table's current snapshot,
        from file metadata (T6 metrics; each write task leaves one
        file)."""


class HadoopCatalog(Catalog):
    """Parquet-dir catalog with manifest-last atomic overwrite."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest(self, name: str) -> str:
        return os.path.join(self._dir(name), "_MANIFEST.json")

    def _table_ident(self, name: str) -> str:
        """Session-catalog identifier for bucketed registration; root
        hash disambiguates two HadoopCatalogs in one session."""
        import hashlib

        tag = hashlib.sha1(self.root.encode()).hexdigest()[:8]
        return f"mk_{tag}_{name}"

    def _register_bucketed(self, name: str, b: dict, path: str) -> str:
        """(Re-)register the external bucketed table (bucket metadata
        lives in the session catalog, not in parquet files); a resumed
        session re-creates it from the manifest, so the shuffle-free
        read-back survives restarts. The real Iceberg path gets this
        from table metadata instead."""
        tbl = self._table_ident(name)
        self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        cols = ", ".join(f"`{c}` {t}" for c, t in b["schema"])
        cluster = ", ".join(f"`{c}`" for c in b["cols"])
        self.spark.sql(
            f"CREATE TABLE {tbl} ({cols}) USING parquet"
            f" CLUSTERED BY ({cluster}) SORTED BY ({cluster})"
            f" INTO {b['n']} BUCKETS LOCATION '{path}'")
        return tbl

    def read(self, name: str) -> DataFrame:
        with open(self._manifest(name)) as f:
            m = json.load(f)
        path = os.path.join(self._dir(name), m["data"])
        b = m.get("bucket")
        if b:
            return self.spark.table(self._register_bucketed(name, b, path))
        return self.spark.read.parquet(path)

    def overwrite(self, name: str, df: DataFrame, run_id: str,
                  bucket_by: tuple[int, list[str]] | None = None,
                  partition_by: list[str] | None = None) -> None:
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        # crash-retry hygiene: a crash between the data write and the
        # manifest flip leaves an unreferenced data_* dir that the
        # post-flip cleanup (which only removes the PREVIOUS manifest
        # target) would never reclaim — a retry loop would leak disk
        # without bound. Any data_* dir not named by the current
        # manifest is garbage by construction (single-writer contract),
        # so sweep them before writing the new one.
        old = None
        if os.path.exists(self._manifest(name)):
            with open(self._manifest(name)) as f:
                old = json.load(f)["data"]
        for entry in os.listdir(d):
            if (entry.startswith("data_") and entry != old
                    and os.path.isdir(os.path.join(d, entry))):
                shutil.rmtree(os.path.join(d, entry), ignore_errors=True)
        data = f"data_{run_id}_{uuid.uuid4().hex[:8]}"
        path = os.path.join(d, data)
        bucket_meta = None
        if bucket_by:
            n, cols = bucket_by
            tbl = self._table_ident(name)
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            # pre-repartition on the bucket keys: without it every
            # upstream task writes one file PER bucket it touches
            # (n_parts x n_buckets small files — the classic pitfall)
            (df.repartition(n, *cols)
               .write.mode("overwrite").format("parquet")
               .bucketBy(n, *cols).sortBy(*cols)
               .option("path", path).saveAsTable(tbl))
            bucket_meta = {
                "n": n, "cols": cols,
                "schema": [(f.name, f.dataType.simpleString())
                           for f in df.schema.fields],
            }
        elif partition_by:
            (df.write.mode("overwrite").partitionBy(*partition_by)
               .parquet(path))
        else:
            df.write.mode("overwrite").parquet(path)
        tmp = self._manifest(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"data": data, "run_id": run_id,
                       "snapshot": uuid.uuid4().hex,
                       "bucket": bucket_meta,
                       "partition": partition_by,
                       "written_at": time.time()}, f)
        os.replace(tmp, self._manifest(name))   # the atomic flip
        if old and old != data and os.path.exists(os.path.join(d, old)):
            shutil.rmtree(os.path.join(d, old), ignore_errors=True)

    def append(self, name: str, df: DataFrame,
               partition_by: list[str] | None = None) -> None:
        """Append into the table's CURRENT data directory (r3 fix: the
        old code always wrote `data_append`, so rows appended after an
        overwrite landed in a directory the manifest no longer
        referenced — invisible to readers from the third micro-batch
        on). Bucketed tables keep their layout across appends (r4):
        each append lands one file set of n_buckets correctly-hashed
        files, the scan stays ``Bucketed: true`` (Spark groups files
        by bucket id), so doc_id-keyed joins over the table remain
        exchange-free; only per-file sortedness is lost, which costs a
        Sort, never an Exchange. The manifest is rewritten with a
        fresh snapshot id so lineage-based resume sees appends as
        state changes."""
        d = self._dir(name)
        if not self.exists(name):
            m = {"data": "data_append", "run_id": "append",
                 "bucket": None, "partition": partition_by}
        else:
            with open(self._manifest(name)) as f:
                m = json.load(f)
            partition_by = partition_by or m.get("partition")
        path = os.path.join(d, m["data"])
        b = m.get("bucket")
        if b:
            tbl = self._register_bucketed(name, b, path)
            # saveAsTable-append resolves columns BY NAME against the
            # registered schema and validates the bucket spec; the
            # pre-repartition keeps it to one file per bucket per
            # append (same small-files guard as overwrite)
            (df.repartition(b["n"], *b["cols"])
               .write.mode("append").format("parquet")
               .bucketBy(b["n"], *b["cols"]).sortBy(*b["cols"])
               .option("path", path).saveAsTable(tbl))
        else:
            w = df.write.mode("append")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
        tmp = self._manifest(name) + ".tmp"
        with open(tmp, "w") as f:
            # spread the existing manifest so fields this writer does
            # not know about survive the append (ADVICE r3)
            json.dump({**m, "snapshot": uuid.uuid4().hex,
                       "partition": partition_by,
                       "written_at": time.time()}, f)
        os.replace(tmp, self._manifest(name))

    def exists(self, name: str) -> bool:
        return os.path.exists(self._manifest(name))

    def snapshot_id(self, name: str) -> str | None:
        if not self.exists(name):
            return None
        with open(self._manifest(name)) as f:
            return json.load(f)["snapshot"]

    def data_files(self, name: str) -> list[tuple[int, int]]:
        """(rows, bytes) of each current data file, in path order:
        row counts from the parquet footers, bytes from the file
        system — no Spark job."""
        import pyarrow.parquet as pq

        with open(self._manifest(name)) as f:
            data = os.path.join(self._dir(name), json.load(f)["data"])
        paths = sorted(os.path.join(root, fn)
                       for root, _, files in os.walk(data)
                       for fn in files if not fn.startswith(("_", ".")))
        return [(pq.read_metadata(p).num_rows, os.path.getsize(p))
                for p in paths]


def iceberg_corpus_ddl(namespace: str, table: str = "corpus") -> str:
    """CREATE TABLE DDL for the Common-Crawl-style corpus with the
    hidden partitioning a 10^12-doc deployment wants (ROADMAP r1 #4):
    identity on ``lang`` (coarse, low-cardinality, prunes whole
    languages) and ``days(warc_ts)`` (crawl-time pruning without a
    user-visible date column). Returned as SQL because partition
    TRANSFORMS are DDL-only surface in Spark's writer API; executable
    only where the Iceberg runtime jar is configured."""
    return (
        f"CREATE TABLE IF NOT EXISTS {namespace}.{table} (\n"
        "  url string NOT NULL,\n"
        "  warc_ts timestamp,\n"
        "  html binary,\n"
        "  text string,\n"
        "  lang string\n"
        ") USING iceberg\n"
        "PARTITIONED BY (lang, days(warc_ts))\n"
        "TBLPROPERTIES (\n"
        "  'write.distribution-mode' = 'hash',\n"
        "  'write.parquet.compression-codec' = 'zstd',\n"
        "  'write.target-file-size-bytes' = '536870912'\n"
        ")")


def iceberg_maintenance_sql(namespace: str, table: str,
                            older_than_days: int = 7) -> list[str]:
    """Stored-procedure CALLs a long-running deployment schedules per
    table: snapshot expiry (bounds metadata + enables data GC),
    orphan-file cleanup, and small-file compaction — the Iceberg-side
    analog of HadoopCatalog's compact_stream_state. String surface for
    the same jar-gated reason as the DDL above."""
    t = f"{namespace}.{table}"
    return [
        (f"CALL {namespace}.system.expire_snapshots(table => '{t}',"
         f" older_than => now() - interval {older_than_days} days)"),
        (f"CALL {namespace}.system.remove_orphan_files(table => '{t}')"),
        (f"CALL {namespace}.system.rewrite_data_files(table => '{t}',"
         f" options => map('min-input-files', '32'))"),
    ]


class IcebergCatalog(Catalog):
    """Real-cluster implementation (requires the Iceberg runtime jar +
    a configured Spark catalog; NOT executable in this sandbox)."""

    def __init__(self, spark: SparkSession, namespace: str):
        self.spark = spark
        self.ns = namespace

    def _tbl(self, name: str) -> str:
        return f"{self.ns}.{name}"

    def read(self, name: str) -> DataFrame:
        return self.spark.table(self._tbl(name))

    def overwrite(self, name: str, df: DataFrame, run_id: str,
                  bucket_by: tuple[int, list[str]] | None = None,
                  partition_by: list[str] | None = None) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.functions import partitioning as P

        w = (df.writeTo(self._tbl(name))
               .tableProperty("write.run-id", run_id)
               .using("iceberg"))
        if bucket_by:
            n, cols = bucket_by
            # Iceberg's native analog: hidden bucket partition
            # transform — readers get the same co-location from table
            # metadata with no session-catalog registration
            w = w.partitionedBy(*[P.bucket(n, c) for c in cols])
        elif partition_by:
            # identity partitioning; Iceberg metadata prunes partitions
            # on filtered reads, same contract as the Hadoop impl
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()

    def append(self, name: str, df: DataFrame,
               partition_by: list[str] | None = None) -> None:
        # partition_by only matters at table creation; Iceberg appends
        # route rows to partitions from table metadata
        if not self.exists(name):
            w = df.writeTo(self._tbl(name)).using("iceberg")
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.create()
        else:
            df.writeTo(self._tbl(name)).append()

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._tbl(name))

    def snapshot_id(self, name: str) -> str | None:
        if not self.exists(name):
            return None
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self._tbl(name)}.snapshots"
            " ORDER BY committed_at DESC LIMIT 1").first()
        return str(row["snapshot_id"]) if row else None

    def data_files(self, name: str) -> list[tuple[int, int]]:
        return [(r["record_count"], r["file_size_in_bytes"])
                for r in self.spark.sql(
                    f"SELECT record_count, file_size_in_bytes"
                    f" FROM {self._tbl(name)}.files").collect()]
