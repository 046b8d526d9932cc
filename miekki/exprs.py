"""SQL expression helpers shared by the dedup stages.

Every hash is Spark-native ``xxhash64`` (JVM, codegen'd; SURVEY.md
§3.2). The DuckDB-checked driver keys compare against md5 twins that
the sketch, bloom and DSIR operators take as their own argument, and
the signature arrays themselves are checked as contract keys.
"""

from __future__ import annotations

from miekki.config import DedupConfig


def doc_id_sql(url_sql: str, cfg: DedupConfig) -> str:
    """doc-id expression (O4). 64-bit: xxhash64(url) (bigint). 128-bit:
    hi||lo packed into BINARY(16) via hex/unhex — hi is exactly the
    64-bit id (lpad: hex() drops leading zeros on bigint), so the two
    modes agree on identity up to the collision rescue."""
    hi = f"xxhash64({url_sql})"
    if cfg.id_bits == 64:
        return hi
    lo = f"xxhash64(reverse({url_sql}))"
    return (f"unhex(concat(lpad(hex({hi}), 16, '0'),"
            f" lpad(hex({lo}), 16, '0')))")


def id_spark_type(cfg: DedupConfig) -> str:
    """DDL type of doc_id-valued columns (Arrow kernel schemas are
    built with this so binary ids pass through untouched)."""
    return "long" if cfg.id_bits == 64 else "binary"


def zip_word_grams(words, n: int):
    """Word n-grams of a split-words array Column by CHAINED zip_with
    over n-1 shifted whole-array slices — identical values to
    transform(sequence, i -> concat_ws(' ', slice(words, i, n))) but
    ~8x faster (measured mult=16: the per-gram lambda + per-gram
    slice also keeps the surrounding projection out of whole-stage
    codegen). Docs shorter than n words yield ONE gram = the whole
    text (the shingling short-doc convention, SURVEY.md §2.1); split()
    never yields NULL elements so the concat chain is NULL-safe."""
    from pyspark.sql import functions as F

    size = F.size(words)
    m = size - (n - 1)                     # number of full n-grams
    g = F.slice(words, 1, m)
    for j in range(1, n):
        g = F.zip_with(g, F.slice(words, 1 + j, m),
                       lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(size >= n, g).otherwise(
        F.array(F.concat_ws(" ", words)))
