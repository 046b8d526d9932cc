"""O5/O6/O7 — shingling, MinHash and SimHash signatures in ONE Arrow pass.

The only hot-path Python in the pipeline: normalized text streams
through mapInArrow and one native C call per batch shingles, hashes
(xxhash64), dedups and computes both sketches (miekki.kernels over
miekki/_sigkernel.c). Everything before (normalize) and after
(banding) is JVM-side SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from miekki.config import DedupConfig
from miekki.exprs import id_spark_type
from miekki.kernels import fused_schema, make_text_signature_kernel


def signatures_from_text(docs_norm: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, norm_text) → T2 (doc_id, minhash[n_perm], simhash,
    n_shingles) via the fused Arrow kernel: shingling + xxhash64 +
    distinct + both sketches in one C pass, pinned against the golden
    signatures in tests/test_golden_sigs.py.

    Column pruning matters: only doc_id + norm_text cross the Arrow
    boundary — never html (SURVEY.md §4 'our obligation')."""
    return docs_norm.select("doc_id", "norm_text").mapInArrow(
        make_text_signature_kernel(cfg), fused_schema(id_spark_type(cfg))
    )
