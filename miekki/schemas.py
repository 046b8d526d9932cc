"""Pinned schemas of the tables read or written from Python rows
(SURVEY.md §1.2): the streamed T0 corpus and the T6 metrics / T7
lineage rows — these are never inferred, since schema inference is
nondeterministic across partitionings. T1–T5 take the schema of the
stage that writes them (doc_id is bigint at id_bits=64, binary(16) at
id_bits=128)."""

from __future__ import annotations

from pyspark.sql import types as T

# T0 — input corpus (shape mandated by BASELINE.json input_hint)
CORPUS = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
])

# T6 — per-partition metrics rows
METRICS = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("stage", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("rows_out", T.LongType(), False),
    T.StructField("bytes_out", T.LongType(), False),
    T.StructField("wall_ms", T.LongType(), False),
    T.StructField("ts", T.TimestampType(), False),
])

# T7 — lineage rows (resume)
LINEAGE = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("stage", T.StringType(), False),
    T.StructField("input_snapshot", T.StringType(), False),
    T.StructField("config_hash", T.StringType(), False),
    T.StructField("status", T.StringType(), False),
    # snapshot id of the table the stage WROTE ('done' rows only):
    # resume validates the table still carries this snapshot, so a
    # later run with a different config can't leave a stale done row
    # pointing at contents it didn't produce
    T.StructField("output_snapshot", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), False),
])

