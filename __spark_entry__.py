"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in miekki/driver_queries.py (SURVEY.md §3.2);
this file stays a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full near-dup clustering of the sf0.001 fixture
    corpus → labels (doc_id, cluster_id, url, warc_ts, is_canonical).
    (The `dedup_pipeline` driver KEY is a contract aggregate since r3;
    the flagship keeps returning the real label table.)"""
    from miekki.config import DedupConfig
    from miekki.driver_queries import _fixture_corpus_df
    from miekki.pipeline import dedup_labels

    corpus = _fixture_corpus_df(spark, "/root/testdata/sf0.001")
    return dedup_labels(corpus, DedupConfig())


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from miekki.driver_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for EVERY key (r4): value-level twins where the
    semantics are SQL-expressible, pinned contract booleans where they
    are not (MinHash/SimHash arrays stay bit-exact via the pure-Python
    oracle goldens in tests/)."""
    from miekki import driver_queries

    return dict(driver_queries.oracle_sql())
