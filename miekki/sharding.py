"""X39 — deterministic corpus shuffle + shard assignment (the
terminal loader write step).

Training runs never read a 10^12-doc corpus in crawl order: adjacent
pages come from the same host/snapshot and a sequential reader would
feed the model hour-long runs of one domain. The standard fix (GPT-3
appendix-style data loading; every public pipeline from C4 to Dolma
ships a variant) is a ONE-TIME deterministic global shuffle into S
balanced shards, after which any reader that walks shards round-robin
sees an i.i.d.-like stream without ever shuffling again.

Spec (pinned so any engine recomputes every row):

- rank   = hash64("shard", 0, doc_id)  — a pseudo-random but
  REPRODUCIBLE permutation key. Salted with the literal "shard" so it
  decorrelates from the split/mix/cap samplers hashing the same key
  (the r4 lesson: two unsalted samplers over one key correlate and
  compose destructively — see webstats.split_assign).
- shard  = pmod(rank, n_shards)        — hash-uniform: E[|shard|] =
  N/S with CV ≈ 1/sqrt(N/S); at N=10^12, S=10^4 that is ±0.01%%, so
  shards are balanced WITHOUT a global sort or NTILE (both of which
  funnel the corpus through a total order — the anti-pattern at this
  scale).
- pos    = row_number() over (partition by shard
                              order by rank, doc_id) - 1
  — the stable intra-shard read order. doc_id breaks rank ties so the
  order is total and re-runs are bit-identical.

Scale shape: exactly ONE Exchange (hashpartition on shard — skew-free
by construction, every key is hash-uniform) followed by an
in-partition sort; row_number is a streaming window (no frame
buffer). A downstream groupBy("shard") (shard_stats) reuses the
window's hashpartitioning — no second Exchange; plan-asserted in
tests/test_sharding.py. The production writer is the same single
exchange: assigned.repartition(n_shards, "shard")
.sortWithinPartitions("rank", "doc_id") → write, one file set per
shard.

Properties the tests pin: coverage (every doc exactly once), shard
range, per-shard pos contiguity 0..n_s-1, determinism under input
repartitioning, append stability ((rank, shard) of an existing doc
never changes when the corpus grows — only pos can shift as new docs
interleave), and hash balance.

Production rank hash is xxhash64 (Spark built-in, JVM-side); the
driver twin passes ``rank_col`` with the repo's portable
multiplicative rank so DuckDB recomputes every row (the assignment
arithmetic under test is identical either way).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def shard_assign(docs: DataFrame, n_shards: int = 1024,
                 rank_col: Column | None = None) -> DataFrame:
    """(doc_id, rank, shard, pos) for every input doc — see module
    docstring for the pinned spec."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    rk = (rank_col if rank_col is not None
          else F.xxhash64(F.lit("shard"), F.lit(0), F.col("doc_id")))
    w = (Window.partitionBy("shard")
         .orderBy(F.col("rank"), F.col("doc_id")))
    return (docs
            .select("doc_id", rk.cast("long").alias("rank"))
            .withColumn("shard",
                        F.pmod(F.col("rank"), F.lit(n_shards))
                        .cast("int"))
            .withColumn("pos",
                        (F.row_number().over(w) - F.lit(1))
                        .cast("long")))


def shard_stats(assigned: DataFrame) -> DataFrame:
    """Per-shard sizes (shard, n_docs) — composed after shard_assign
    it rides the window's hashpartitioning (no second Exchange)."""
    return (assigned.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def shard_assign_duck_sql(src: str, rank_expr: str,
                          n_shards: int) -> str:
    """DuckDB twin: identical shard/pos arithmetic over a portable
    ``rank_expr`` (caller supplies the same expression to
    ``shard_assign(rank_col=...)``). Non-negative modulo is spelled
    ((x %% m) + m) %% m to match Spark's pmod on any sign."""
    return (
        f"SELECT doc_id, rank,"
        f" CAST(((rank % {n_shards}) + {n_shards}) % {n_shards} AS INT)"
        f" AS shard,"
        f" CAST(row_number() OVER ("
        f"   PARTITION BY ((rank % {n_shards}) + {n_shards}) % {n_shards}"
        f"   ORDER BY rank, doc_id) - 1 AS BIGINT) AS pos"
        f" FROM (SELECT doc_id, CAST({rank_expr} AS BIGINT) AS rank"
        f"       FROM {src})")
