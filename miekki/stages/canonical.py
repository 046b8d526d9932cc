"""O19/O20 — canonical-doc selection + cluster stats.

Canonical = earliest (warc_ts, url) per cluster — one window
row_number; stats = one groupBy + top-k (TakeOrderedAndProject)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def select_canonical(labels: DataFrame, docs_meta: DataFrame) -> DataFrame:
    """labels(doc_id, cluster_id) ⋈ docs_meta(doc_id, url, warc_ts)
    → T5 with is_canonical."""
    df = labels.join(docs_meta.select("doc_id", "url", "warc_ts"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy("warc_ts", "url")
    return (df.withColumn("rn", F.row_number().over(w))
              .withColumn("is_canonical", F.col("rn") == 1)
              .drop("rn"))


def cluster_stats(labels: DataFrame) -> DataFrame:
    """Largest clusters: (cluster_id, n_docs), the 20 biggest."""
    return (labels.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.desc("n_docs"), "cluster_id")
            .limit(20))

