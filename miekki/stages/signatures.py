"""O6/O7 — MinHash + SimHash signatures in ONE Arrow pass.

The only hot-path Python in the pipeline: text (or shingle arrays)
stream through mapInArrow and one native C call per batch computes
both sketches (miekki.kernels over miekki/_sigkernel.c). Everything
before (normalize) and after (banding) is JVM-side SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from miekki.config import DedupConfig
from miekki.exprs import id_spark_type
from miekki.kernels import (fused_schema, sig_schema,
                            make_signature_kernel,
                            make_text_signature_kernel)


def compute_signatures(docs_with_shingles: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, shingles) → T2 (doc_id, minhash[n_perm], simhash).

    Column pruning matters: pass ONLY doc_id + shingles into the Arrow
    boundary — never norm_text/html (SURVEY.md §4 'our obligation').

    This is the two-step reference path (SQL shingling → Arrow
    sketch); the production pipeline uses ``signatures_from_text``
    (fused kernel, same bits, ~no interpreted-HOF cost)."""
    return docs_with_shingles.select("doc_id", "shingles").mapInArrow(
        make_signature_kernel(cfg), sig_schema(id_spark_type(cfg))
    )


def signatures_from_text(docs_norm: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, norm_text) → T2 (doc_id, minhash[n_perm], simhash,
    n_shingles) via the fused Arrow kernel: shingling + xxhash64 +
    distinct + both sketches in one C pass. Bit-exact with
    compute_signatures(with_shingles(...)) — both pinned against the
    golden signatures in tests/test_golden_sigs.py — while skipping the
    interpreted transform(sequence(...)) projection AND the
    shingle-array Arrow transfer (the r1 bench's largest cost).

    hash_fn='md5' (the DuckDB-comparable mode) routes through the
    two-step SQL path: the fused kernel hashes shingles with xxh64
    only, and silently using it would produce a MIXED-hash run (md5
    doc ids + xxh64 shingle hashes) that matches neither oracle."""
    if cfg.hash_fn != "xxhash64":
        from miekki.stages.normalize import with_shingles

        shing = with_shingles(docs_norm, cfg)
        # re-attach n_shingles to match fused_schema (cold path — the
        # md5 mode exists for DuckDB comparison, not production)
        return (compute_signatures(shing, cfg)
                .join(shing.select("doc_id", "n_shingles"), "doc_id"))
    return docs_norm.select("doc_id", "norm_text").mapInArrow(
        make_text_signature_kernel(cfg), fused_schema(id_spark_type(cfg))
    )
