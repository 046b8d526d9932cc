"""O3/O4 — normalization and deterministic doc ids.

All pure Spark SQL (JVM whole-stage codegen; no Python): lower →
collapse [ \\t\\r\\n]+ → trim; doc_id = xxhash64(url) (NEVER
monotonically_increasing_id — partitioning-dependent, SURVEY.md §4.4).
Character k-shingling (O5) happens inside the fused signature kernel
(miekki.stages.signatures).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from miekki.config import DedupConfig
from miekki.exprs import doc_id_sql

# actual control characters, passed through the DataFrame API so no
# SQL-literal escaping ambiguity exists (pinned vs oracle normalize_ws)
WS_PATTERN = "[ \t\r\n]+"


def norm_text_col(col_name: str = "text") -> F.Column:
    """NULL text is pinned to '' here so no NULL text can reach the
    Arrow signature kernel (which fails the whole job on one bad row);
    null-text docs become trivial exact-dups of each other, which is
    the honest semantic for an empty page. The DuckDB oracle
    (_NORM_DUCK) carries the same coalesce."""
    return F.trim(F.regexp_replace(
        F.lower(F.coalesce(F.col(col_name), F.lit(""))), WS_PATTERN, " "))


def assert_nfc_sample(corpus: DataFrame) -> int:
    """Sampled NFC guard (SURVEY.md §2.1): byte-identity with the
    oracle (and the exact-substring pass) assumes the corpus arrives
    NFC-normalized; non-NFC input would silently break parity rather
    than error. Checks a deterministic 512-row sample of ``text``
    driver-side (unicodedata.is_normalized is C-speed; the sample is
    tiny by design) and raises listing offending rows. Returns the number of
    rows checked."""
    import unicodedata

    # orderBy before limit: a bare limit() returns whichever
    # partitions answer first, so the "deterministic sample" would
    # actually vary across runs/partitionings — a sparsely non-NFC
    # corpus could pass one run and fail the next. TakeOrdered on the
    # text hash keeps it a cheap top-k, never a full sort.
    rows = (corpus.select("text")
            .where(F.col("text").isNotNull())
            .orderBy(F.xxhash64("text"), "text")
            .limit(512).collect())
    bad = [r[0][:60] for r in rows
           if not unicodedata.is_normalized("NFC", r[0])]
    if bad:
        raise ValueError(
            f"{len(bad)}/{len(rows)} sampled texts are not NFC-normalized"
            f" (first: {bad[0]!r}); run NFC normalization upstream or"
            " byte-identity with the pinned semantics cannot hold")
    return len(rows)


def normalize(corpus: DataFrame, cfg: DedupConfig) -> DataFrame:
    """T0 corpus → T1 docs_norm (doc_id, url, lang, norm_text);
    doc_id is bigint (id_bits=64) or binary(16) (id_bits=128)."""
    return corpus.select(
        F.expr(doc_id_sql("url", cfg)).alias("doc_id"),
        "url",
        "lang",
        norm_text_col("text").alias("norm_text"),
    )


def audit_id_collisions(docs: DataFrame) -> DataFrame:
    """64-bit doc_id = xxhash64(url) expects ~2.7x10^4 birthday
    collisions at 10^12 docs (SCALE.md collision math); a collision
    silently merges two unrelated urls into one doc. This audit
    surfaces them — (doc_id, n_urls) for every id claimed by more
    than one distinct url — so a run can fail fast or route the
    colliding ids to the 128-bit path (ROADMAP)."""
    return (docs.groupBy("doc_id")
            .agg(F.countDistinct("url").alias("n_urls"))
            .where(F.col("n_urls") > 1))
