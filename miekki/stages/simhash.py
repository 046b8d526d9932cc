"""O12 — SimHash candidate generation (Manku/Jain/Das Sarma WWW'07;
SURVEY.md §2.5).

Pigeonhole: Hamming(a,b) <= 3 on a 64-bit fingerprint ⇒ at least one
of 4 contiguous 16-bit blocks is identical. Explode each doc to its
4 (block_id, block_val) keys and pair each bucket with
``lsh.bucket_pairs``: star pairs to the salted bucket minimum plus up
to ``simhash_chain`` successors in doc_id order (bounded — never
all-pairs; hot SimHash buckets hold near-identical fingerprints so
the successor chain keeps the component connected, and the MinHash
path runs regardless).

Final edges are verified exactly: bit_count(fp_src ^ fp_dst) <= k,
JVM-side — via joins back to T2 DELIBERATELY (r6): carrying both
fingerprints through the chain windows (lead(simhash) per successor)
removed both joins from the plan but measured 4.1 s vs 3.0 s in a
same-session A/B at mult=16 — doubling the lead() expressions costs
more than the two AQE-broadcast joins of the 16-byte fp table they
replaced. Edge-set equality of the two formulations was
exceptAll-verified before reverting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from miekki.config import DedupConfig
from miekki.stages.lsh import bucket_pairs, salt


def _block_table(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    width = cfg.simhash_bits // cfg.simhash_blocks
    mask = (1 << width) - 1
    # unrolled literal-index array, not transform(sequence(...)):
    # lambda HOFs are CodegenFallback (interpreted per row); the
    # unrolled form stays in whole-stage codegen (guide §4.1, same
    # rewrite as lsh.band_table)
    blocks = F.array(*[
        F.expr(f"cast(shiftrightunsigned(simhash, {j * width})"
               f" & {mask} as int)")
        for j in range(cfg.simhash_blocks)])
    return (signatures
            .select("doc_id", F.posexplode(blocks).alias("block_id", "block_val"))
            .withColumn("salt", salt(cfg)))


def simhash_candidate_edges(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """T2 → verified simhash edges (src < dst, origin='simhash',
    weight = 1 - hamming/bits)."""
    cand = bucket_pairs(_block_table(signatures, cfg), ["block_id", "block_val"],
                        cfg.simhash_chain).dropDuplicates(["src", "dst"])
    fp = signatures.select("doc_id", "simhash")
    s = fp.withColumnRenamed("doc_id", "src").withColumnRenamed("simhash", "fp_src")
    d = fp.withColumnRenamed("doc_id", "dst").withColumnRenamed("simhash", "fp_dst")
    ham = F.bit_count(F.expr("fp_src ^ fp_dst"))
    return (cand.join(s, "src").join(d, "dst")
            .withColumn("hamming", ham)
            .where(F.col("hamming") <= cfg.hamming_max)
            .select("src", "dst", F.lit("simhash").alias("origin"),
                    (1.0 - F.col("hamming") / cfg.simhash_bits).alias("weight")))
