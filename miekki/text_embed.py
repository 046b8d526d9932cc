"""X36 — text → fixed-dim embedding via hashed-shingle random
projection, so X31's SemDeDup (and the X7-X9 ANN family) run on the
TEXT corpus, not just a pre-embedded table.

Public design this derives from: random-projection sketches of
bag-of-features vectors (Charikar 2002's SimHash is the sign-only
1-bit/dim variant; Achlioptas 2003 pins ±1 projections as a valid
Johnson-Lindenstrauss family). The doc's feature vector x has one
count per hashed char-k-shingle bucket (the SAME distinct-shingle
sets O5/O6 already compute — one feature convention for the whole
dedup family); the embedding is

    v = normalize( x @ R ),   R[b, j] = ±1/sqrt(dim)

with R drawn once from a SEEDED generator — deterministic across
runs, batches, partitionings and executors (every worker re-derives
the same R from the seed; at dim 64 x B 4096 it is 2 MB, far below
broadcast territory). Cosine between embeddings approximates the
cosine between shingle-set indicator vectors, which is a monotone
proxy of the Jaccard the MinHash path estimates — so SemDeDup's
threshold semantics line up with the dedup family's.

Properties the tests pin:
  * exact-norm duplicates -> identical vectors (cosine 1) — the
    shingle SET is identical, so x and v are.
  * near-duplicate text (small token edits) -> cosine near 1;
    unrelated random text -> cosine well below SemDeDup's tau.
  * empty docs: the kernel hashes b'' (one shingle —
    kernels.shingle_hashes semantics), so all empties embed
    identically: exact dups of each other, never NaN.

Scale shape: ONE map-only mapInArrow pass — tokenize/hash in the
native shingle kernel (kernels.shingle_hashes), then a single (rows x
B sparse) @ (B x dim) accumulation per Arrow batch via np.add.at;
no shuffle, no per-row Python, no driver state. At 100 TB this is
embarrassingly parallel and bounded by the same scan that feeds
signatures.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

B_EMBED = 4096
DIM_DEFAULT = 64
SEED_DEFAULT = 1089


def projection_matrix() -> np.ndarray:
    """(B_EMBED, DIM_DEFAULT) ±1/sqrt(dim) matrix from a seeded PCG64 —
    every executor re-derives the identical matrix."""
    rng = np.random.Generator(np.random.PCG64(SEED_DEFAULT))
    signs = rng.integers(0, 2, size=(B_EMBED, DIM_DEFAULT)).astype(np.float64)
    return (signs * 2.0 - 1.0) / np.sqrt(DIM_DEFAULT)


def text_embed(docs: DataFrame) -> DataFrame:
    """(doc_id, vec: array<double>) of the ``norm`` column — see module
    doc. Shingles are the repo's shingle width (DedupConfig.shingle_k)
    so the feature space matches O5/O6's."""
    from miekki.config import DedupConfig

    shingle_k = DedupConfig().shingle_k

    def kernel(batches):
        import pyarrow as pa

        from miekki.kernels import _utf8_view, shingle_hashes

        R = projection_matrix()
        for batch in batches:
            doc_id = batch.column("doc_id")
            data, rel = _utf8_view(batch.column("norm_col_"))
            values, counts = shingle_hashes(data, rel, shingle_k)
            n_rows = len(counts)
            buckets = (values % np.uint64(B_EMBED)).astype(np.int64)
            row_idx = np.repeat(np.arange(n_rows, dtype=np.int64),
                                counts)
            v = np.zeros((n_rows, DIM_DEFAULT), dtype=np.float64)
            np.add.at(v, row_idx, R[buckets])
            nrm = np.linalg.norm(v, axis=1, keepdims=True)
            # a ±1 sum can cancel to exactly 0 only on adversarial
            # bucket multisets; pin those to R[0]'s direction rather
            # than emit NaN
            dead = np.flatnonzero(nrm[:, 0] == 0.0)
            if len(dead):
                v[dead] = R[0]
                nrm[dead, 0] = np.linalg.norm(R[0])
            v /= nrm
            vec = pa.ListArray.from_arrays(
                pa.array(np.arange(n_rows + 1, dtype=np.int32)
                         * DIM_DEFAULT),
                pa.array(v.reshape(-1)))
            yield pa.RecordBatch.from_arrays([doc_id, vec],
                                             names=["doc_id", "vec"])

    slim = docs.select(
        "doc_id",
        F.coalesce(F.col("norm"), F.lit("")).alias("norm_col_"))
    return slim.mapInArrow(kernel, "doc_id long, vec array<double>")
