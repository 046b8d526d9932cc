"""O11 — edge verification by signature-estimated Jaccard.

est_J(a, b) = mean positionwise equality of the two 128-long MinHash
signatures; keep edges with est_J >= tau. Computed entirely JVM-side
with zip_with/aggregate over the two arrays — cheaper than an Arrow
round-trip of 2x128 longs per edge (improves on SURVEY.md O11's pUDF
suggestion; semantics identical and oracle-pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from miekki.config import DedupConfig

# Positionwise-equality count of the two minhash arrays. Kept as the
# aggregate/zip_with HOF: unrolling into n_perm if() terms (guide
# §4.1's CodegenFallback cure) measured 3x SLOWER on the verify join
# at mult=16 (1.5 s → 4.7 s noop) — the 128-term tree blows the
# generated method past JIT limits. Measure per site before unrolling
# lambdas.
EST_J = "aggregate(zip_with(mh_src, mh_dst, (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v)"


def verify_edges(edges: DataFrame, signatures: DataFrame, cfg: DedupConfig,
                 origin: str = "minhash") -> DataFrame:
    """(src, dst) ⋈ T2 twice → keep est_J >= tau; weight = est_J.

    Both joins shuffle on doc_id; AQE broadcasts the edge side when it
    is small. At scale, T2 written bucketed by doc_id makes these
    joins shuffle-free (SURVEY.md §4.5)."""
    s = signatures.select(F.col("doc_id").alias("src"), F.col("minhash").alias("mh_src"))
    d = signatures.select(F.col("doc_id").alias("dst"), F.col("minhash").alias("mh_dst"))
    # `+ 0.0 * rand(42)` is a value-exact pushdown barrier (guide
    # §4.4 for a builtin): without it the optimizer pushes the tau
    # filter INTO the join condition and re-evaluates the 128-step
    # aggregate/zip_with AGAIN in the weight projection — the r6 plan
    # showed EST_J twice and the barrier form measured ~9% faster at
    # mult=16 (1.38 s → 1.25 s min-of-4, same-session A/B) with the
    # duplication growing with candidate count at scale. Exactness:
    # rand() ∈ [0, 1) is always finite, 0.0 * finite = +0.0, and
    # x + +0.0 == x bit-for-bit for every non-negative x (EST_J/128
    # is never -0.0) — output verified exceptAll-identical.
    est = ((F.expr(EST_J)
            + F.lit(0.0) * F.rand(42)) / F.lit(float(cfg.n_perm)))
    return (edges.join(s, "src").join(d, "dst")
            .withColumn("weight", est)
            .where(F.col("weight") >= cfg.tau)
            .select("src", "dst", F.lit(origin).alias("origin"), "weight"))
