"""X42 — Bloom-filter membership: paragraph / n-gram decontamination
and cross-corpus dedup against a reference set whose exact form is
too large to ship.

Public basis: Bloom'70 (CACM 13.7); Dolma (Soldaini et al.'24)
deduplicates paragraphs against a Bloom filter; Brown et al.'20 /
CCNet decontaminate training text against benchmark sets. X17
(miekki/decontam.py) solves decontamination EXACTLY by broadcasting
the reference gram set at 8 bytes/gram — right when the reference is
benchmarks (MBs). The Bloom variant bounds reference state at m bits
TOTAL (~10 bits per element at 1% fp, ~1.2 GB for 10^9 grams), so
"was this paragraph anywhere in last month's crawl" becomes
answerable where the exact set cannot ship. One-sided error: a set
member is NEVER missed; a non-member is flagged with probability
(1 - e^(-k*n/m))^k, quantified by bloom_fp_rate.

Representation — the filter is a DATAFRAME of (word_idx int, bits
long), 32 filter bits per word. 32, not 64: every mask is then
`1 << (pos % 32)` on a positive shift < 32, so masks stay positive
longs and every build/probe bit op is sign-free and portable (bit 63
of a BIGINT flips the sign and engines disagree on shift/overflow
semantics there). Never a driver-side sketch object:

- build  = explode k positions per element → ONE groupBy(word_idx)
  whose bit_or partials collapse map-side → ≤ m/32 rows. Contrast
  Spark's own df.stat.bloomFilter, which aggregates the sketch ON
  THE DRIVER and returns a local object — fine at MBs, dead at a
  2^33-bit filter.
- probe  = ONE equi-join on word_idx (AQE broadcasts the filter
  frame when it fits, shuffles when it doesn't) + one all-k-bits
  groupBy per probe key (partials collapse the k rows map-side).
- No collect at any size; the filter persists/unions like any table
  (bit_or of two builds = the filter of the union — tested).

Hash portability (SURVEY.md §3.2 rule): production positions are
pmod(xxhash64('bloom<j>', x), m); md5 mode derives the 60-bit
integer conv(substr(md5('<j>|' || x), 1, 15), 16, 10) % m that the
DuckDB twin recomputes hex-identically.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

WORD_BITS = 32
BLOOM_M_DEFAULT = 1 << 20           # 1 Mbit ≈ 10^5 elements at 1% fp
BLOOM_K_DEFAULT = 7                 # optimal k for m/n ≈ 10


def bloom_fp_rate(n_items: int, m_bits: int, k: int) -> float:
    """Expected false-positive probability after inserting n_items:
    (1 - e^(-k*n/m))^k (Bloom'70)."""
    if n_items == 0:
        return 0.0
    return (1.0 - math.exp(-k * n_items / m_bits)) ** k


def _bloom_positions(col: Column, m_bits: int, k: int,
                     hash_fn: str) -> list[Column]:
    """The k bit positions of one value, each in [0, m_bits)."""
    out = []
    for j in range(k):
        if hash_fn == "xxhash64":
            pos = F.pmod(F.xxhash64(F.lit(f"bloom{j}"), col),
                         F.lit(m_bits))
        else:  # md5 — the portable path the DuckDB twin replays
            h = F.conv(F.substring(F.md5(
                F.concat_ws("|", F.lit(str(j)), col).cast("binary")),
                1, 15), 16, 10).cast("long")
            pos = h % m_bits            # conv result is non-negative
        out.append(pos)
    return out


def _pos_to_word_mask(keep: Sequence[str]) -> list[Column]:
    """(word_idx, mask) of an exploded `pos` column."""
    return [*[F.col(c) for c in keep],
            F.expr(f"CAST(pos DIV {WORD_BITS} AS INT)").alias("word_idx"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT),"
                   f" CAST(pos % {WORD_BITS} AS INT))").alias("mask")]


def bloom_build(ref: DataFrame, col: str,
                m_bits: int = BLOOM_M_DEFAULT,
                k: int = BLOOM_K_DEFAULT,
                hash_fn: str = "xxhash64") -> DataFrame:
    """Build the filter table (word_idx int, bits long) from a
    reference column. Words never touched by any element are absent
    (probe treats missing as all-zero), so a sparse filter costs
    rows proportional to its set bits, not to m."""
    pos = F.explode(F.array(
        *_bloom_positions(F.col(col), m_bits, k, hash_fn))).alias("pos")
    return (ref.select(pos)
            .select(*_pos_to_word_mask(()))
            .groupBy("word_idx")
            .agg(F.bit_or("mask").alias("bits")))


def bloom_probe(df: DataFrame, bloom: DataFrame, col: str,
                key_cols: Sequence[str] = ("doc_id",),
                m_bits: int = BLOOM_M_DEFAULT,
                k: int = BLOOM_K_DEFAULT,
                hash_fn: str = "xxhash64") -> DataFrame:
    """One row per distinct key: maybe_in_ref = all k bits of `col`'s
    positions are set (never-false-negative membership). Callers
    keep key_cols unique per probe value (the groupBy folds rows
    sharing a key)."""
    pos = F.explode(F.array(
        *_bloom_positions(F.col(col), m_bits, k, hash_fn))).alias("pos")
    probes = (df.select(*key_cols, pos)
              .select(*_pos_to_word_mask(key_cols)))
    hit = F.coalesce(
        F.col("bits").bitwiseAND(F.col("mask")) != 0, F.lit(False))
    return (probes.join(bloom, "word_idx", "left")
            .groupBy(*key_cols)
            .agg(F.bool_and(hit).alias("maybe_in_ref")))


def paragraphs(df: DataFrame) -> DataFrame:
    """(doc_id, para_idx, para) of ``text``: split on the literal blank
    line ('\\n\\n'), space-trim each piece, drop empties. para_idx is the
    position in the ORIGINAL split (stable under filtering — a doc's
    3rd paragraph keeps idx 2 even if the 2nd was whitespace). The
    Dolma-style dedup unit; map-only."""
    parts = F.split(F.col("text"), r"\n\n", -1)
    return (df.select("doc_id",
                      F.posexplode(parts).alias("para_idx", "para"))
            .withColumn("para", F.trim("para"))
            .where(F.length("para") > 0))


def bloom_decontam(docs_norm: DataFrame, n: int = 5,
                   m_bits: int = BLOOM_M_DEFAULT,
                   k: int = BLOOM_K_DEFAULT,
                   bench_mod: int = 97,
                   hash_fn: str = "xxhash64") -> DataFrame:
    """X17's decontamination shape with the Bloom filter standing in
    for the exact gram set: build the filter from the benchmark
    partition's distinct n-grams, probe every training doc's grams.
    Returns (doc_id, n_grams, n_flagged, flagged_any) for every
    NON-bench doc — n_flagged counts distinct grams the filter
    claims (superset of the true hits; X17 gives the exact count
    when the reference fits)."""
    from miekki.decontam import word_ngrams_col

    grams = (docs_norm
             .withColumn("__bench",
                         F.pmod(F.col("doc_id"), F.lit(bench_mod)) == 0)
             .select("doc_id", "__bench",
                     F.explode(word_ngrams_col("norm", n)).alias("gram"))
             .where(F.col("gram") != ""))
    blm = bloom_build(grams.where("__bench").select("gram").distinct(),
                      "gram", m_bits, k, hash_fn)
    corpus = (grams.where(~F.col("__bench"))
              .select("doc_id", "gram").distinct())
    flags = bloom_probe(corpus, blm, "gram",
                        key_cols=("doc_id", "gram"),
                        m_bits=m_bits, k=k, hash_fn=hash_fn)
    per_doc = (flags.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.sum(F.col("maybe_in_ref").cast("long"))
                    .alias("n_flagged")))
    non_bench = (docs_norm
                 .where(F.pmod(F.col("doc_id"), F.lit(bench_mod)) != 0)
                 .select("doc_id"))
    return (non_bench.join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                    F.coalesce("n_flagged", F.lit(0)).alias("n_flagged"),
                    (F.coalesce("n_flagged", F.lit(0)) > 0)
                    .alias("flagged_any")))


def bloom_decontam_duck_sql(norm_cte: str, n: int = 5,
                            m_bits: int = BLOOM_M_DEFAULT,
                            k: int = BLOOM_K_DEFAULT) -> str:
    """DuckDB twin of bloom_decontam(hash_fn='md5'): identical grams
    (the X17 twin's list-comprehension construction), identical bit
    positions (hex-identical md5-60bit), identical word/mask/bit_or
    filter, identical probe verdicts — a full value twin of an
    APPROXIMATE structure, false positives included bit-for-bit."""
    kk = n - 1
    bench = "((doc_id % 97) + 97) % 97 = 0"
    hpos = ("CAST(('0x' || substr(md5(j::VARCHAR || '|' || gram),"
            f" 1, 15)) AS BIGINT) % {m_bits}")
    return f"""
WITH g0 AS (
  SELECT doc_id, {bench} AS bench,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(1,
             length(str_split(norm, ' ')) - {kk})),
           i -> array_to_string(list_slice(str_split(norm, ' '),
                                           i, i + {kk}), ' ')))) AS gram
  FROM ({norm_cte})),
g AS (SELECT * FROM g0 WHERE gram <> ''),
js AS (SELECT unnest(generate_series(0, {k - 1})) AS j),
rpos AS (
  SELECT {hpos} AS pos
  FROM (SELECT DISTINCT gram FROM g WHERE bench) CROSS JOIN js),
blm AS (
  SELECT pos // {WORD_BITS} AS word_idx,
         bit_or(1::BIGINT << CAST(pos % {WORD_BITS} AS INT)) AS bits
  FROM rpos GROUP BY 1),
cpos AS (
  SELECT doc_id, gram, {hpos} AS pos
  FROM (SELECT DISTINCT doc_id, gram FROM g WHERE NOT bench)
  CROSS JOIN js),
probe AS (
  SELECT doc_id, gram,
         bool_and(coalesce(
           (bits & (1::BIGINT << CAST(pos % {WORD_BITS} AS INT)))
           <> 0, false)) AS hit
  FROM cpos LEFT JOIN blm ON cpos.pos // {WORD_BITS} = blm.word_idx
  GROUP BY doc_id, gram),
agg AS (
  SELECT doc_id, count(*) AS n_grams,
         sum(CASE WHEN hit THEN 1 ELSE 0 END) AS n_flagged
  FROM probe GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(n_flagged, 0) AS BIGINT) AS n_flagged,
       coalesce(n_flagged, 0) > 0 AS flagged_any
FROM (SELECT doc_id FROM ({norm_cte}) WHERE NOT ({bench})) d
LEFT JOIN agg USING (doc_id)"""
