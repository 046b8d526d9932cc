"""X47 — cross-corpus near-dup flagging: which docs in corpus B are
near-duplicates (signature-estimated Jaccard ≥ τ) of ANY doc in
corpus A, without ever joining B against B or A against A.

The user story every training pipeline hits: "dedup my fine-tuning /
eval set against the pretraining corpus". X17/X42 answer it at
EXACT-overlap level (n-gram set / Bloom membership); this operator
answers it at NEAR-dup level — a paraphrased or lightly-edited copy
shares few exact 13-grams but a high MinHash Jaccard. The streaming
path (X14) covers the longitudinal special case (new crawl vs
history); this is the one-shot bipartite form over any two signature
tables.

Method (the O8-O11 machinery, bipartite):

1. Band both sides with the SAME DedupConfig (bands must agree for
   buckets to align — the config-hash discipline of O22 applies).
2. A-side representatives: the exact ``reps_per_bucket`` smallest A
   doc_ids per (band_id, band_hash) — ``tiers.capped_topk``, the
   two-level salted selection of X25/X28 (level-1 window bounded by
   |bucket|/salts, level-2 over ≤ reps·salts rows), so a boilerplate
   bucket with 10^8 A members never serializes into one task and the
   candidate count is ≤ reps·|buckets|, never |bucket|² and never |A|.
3. Candidates: B bands ⋈ reps on (band_id, band_hash) → distinct
   (b_id, a_id). A B doc's true partner shares ≥1 of its 32 bands
   w.h.p. (the §2.2 S-curve); in any shared bucket either the partner
   is a rep, or the reps are themselves band-collided with the
   partner — for the flagging decision each of the ~b shared buckets
   is an independent draw of reps, and ``reps_per_bucket`` (default
   2) tightens it further. The planted-recall contract + pytest pin
   the outcome; callers needing certified recall compose X42's Bloom
   pass (exact grams, no false negatives) alongside.
4. Verify: est-J on the signature arrays (the O11 expression), keep
   the best match per B doc. kept computed, never filtered — every B
   doc gets a verdict row.

Output: (doc_id, matched_a, est_j, flagged) — one row per B doc;
matched_a/est_j NULL when no bucket produced a candidate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from miekki.config import DedupConfig
from miekki.stages.lsh import band_table
from miekki.stages.verify import EST_J
from miekki.tiers import capped_topk


def cross_candidates(sigs_b: DataFrame, sigs_a: DataFrame,
                     cfg: DedupConfig, reps_per_bucket: int = 2) -> DataFrame:
    """Bipartite candidate pairs (b_id, a_id) via A-side bucket
    representatives. Never pairs B with B or A with A."""
    bands_a = band_table(sigs_a, cfg).drop("salt")
    bands_b = band_table(sigs_b, cfg).drop("salt")
    reps = (capped_topk(bands_a, ["band_id", "band_hash"],
                        reps_per_bucket, rank_col="doc_id",
                        salts=cfg.salt_buckets)
            .select("band_id", "band_hash",
                    F.col("doc_id").alias("a_id")))
    return (bands_b.join(reps, ["band_id", "band_hash"])
            .select(F.col("doc_id").alias("b_id"), "a_id")
            .distinct())


def cross_dedup(sigs_b: DataFrame, sigs_a: DataFrame,
                cfg: DedupConfig, reps_per_bucket: int = 2) -> DataFrame:
    """Per-B-doc near-dup verdict against corpus A — see module
    docstring. Both inputs are T2 signature tables (doc_id, minhash);
    at scale both come bucketed by doc_id from the catalog, making
    the two verify joins one-sided."""
    cand = cross_candidates(sigs_b, sigs_a, cfg, reps_per_bucket)
    sa = sigs_a.select(F.col("doc_id").alias("a_id"),
                       F.col("minhash").alias("mh_src"))
    sb = sigs_b.select(F.col("doc_id").alias("b_id"),
                       F.col("minhash").alias("mh_dst"))
    est = (F.expr(EST_J)
           / F.lit(float(cfg.n_perm))).alias("est_j")
    scored = (cand.join(sb, "b_id").join(sa, "a_id")
              .select("b_id", "a_id", est))
    best = (scored.groupBy("b_id")
            .agg(F.max(F.struct(F.col("est_j"), F.col("a_id")))
                 .alias("__w"))
            .select("b_id", F.col("__w.est_j").alias("est_j"),
                    F.col("__w.a_id").alias("matched_a")))
    return (sigs_b.select(F.col("doc_id").alias("b_id"))
            .join(best, "b_id", "left")
            .select(F.col("b_id").alias("doc_id"), "matched_a", "est_j",
                    F.coalesce(F.col("est_j") >= F.lit(cfg.tau),
                               F.lit(False)).alias("flagged")))
