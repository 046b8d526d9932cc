"""Tier-dedup operators (SURVEY.md §2.0c X27–X29) — classify, cap,
and resample a web corpus by duplication tier.

The dedup pipeline (stages/) answers "which docs are duplicates of
which"; these operators answer the three questions a training-data
curator asks NEXT, and each is a thin, exactly-checkable composition
over plain tables:

X27 — tier classification (`tier_labels`): every doc gets its
STRONGEST duplication tier — exact > substr (containment) > minhash
> simhash > unique — from the origin column the pipeline already
carries on T4 candidate_edges. Tiering drives retention policy
(RefinedWeb keeps near-dup survivors but drops exact dups outright;
Lee et al. 2022 treat ExactSubstr and NearDup differently), so it
must be a first-class label, not a log line. Plan: explode each edge
to its two endpoints (2|E| rows), min(priority-rank) per doc_id —
an associative agg, so a doc incident to 10^6 edges of a boilerplate
family collapses map-side before the exchange — then one left join
back to docs (rides the bucketed doc_id layout of T1/T5 on a real
catalog). No windows, no skew exposure.

X28 — cluster cap (`cluster_cap`): keep at most k docs per dup
cluster, selected by a deterministic rank (hash for uniform,
quality score for curated). This is "soft dedup": instead of
collapsing a cluster to one canonical doc, retain a bounded sample —
the standard middle tier between keep-all and keep-one. The giant
cluster IS the common case at web scale (empty pages, soft-404s:
10^8 members), so selection reuses the exact two-level top-k the
domain cap (X25) established: bounded window groups at both levels,
level-2 exchange O(clusters * k * salts), never one task per
cluster.

X29 — mixture sampling (`mix_sample`): deterministically subsample
each stratum (language, domain tier, quality bucket) at its own
rate to hit a target corpus mixture — the reweighting step every
production mix ships (CCNet per-language heads, Gopher's
10%-Wikipedia-style mixes). kept = hash-bucket(key) < rate·buckets,
so membership is reproducible under re-runs, appends, and
repartitioning (same property as X26 split assignment — rand()
would resample every run). Plan: one broadcast join of the tiny
rates table + a codegen'd comparison; the corpus is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# strongest → weakest; rank = index; docs with no edge rank below all
TIER_PRIORITY: tuple[str, ...] = ("exact", "substr", "minhash", "simhash")
UNIQUE_TIER = "unique"

MIX_BUCKETS = 10000


def tier_labels(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-doc strongest dup tier → (doc_id, tier). ``edges`` is any
    (src, dst, origin) table — T4 candidate_edges in production, a
    portable reconstruction in the driver twin. A doc incident to no
    edge is 'unique'.

    Both shuffles are keyed by doc_id and skew-safe: min(rank) is
    associative (partial-aggregates map-side — the same argument as
    X23's min(struct) winners), and the final left join is a plain
    equi-join AQE can broadcast when the edge side is small."""
    rank = F.lit(len(TIER_PRIORITY))     # unknown origins rank weakest
    for i, name in reversed(list(enumerate(TIER_PRIORITY))):
        rank = F.when(F.col("origin") == name, F.lit(i)).otherwise(rank)
    endpoints = (edges.select(F.col("src").alias("doc_id"),
                              rank.alias("rk"))
                 .unionByName(edges.select(F.col("dst").alias("doc_id"),
                                           rank.alias("rk"))))
    best = endpoints.groupBy("doc_id").agg(F.min("rk").alias("rk"))
    tier = F.lit(UNIQUE_TIER)
    for i, name in reversed(list(enumerate(TIER_PRIORITY))):
        tier = F.when(F.col("rk") == i, F.lit(name)).otherwise(tier)
    return (docs.select("doc_id").join(best, "doc_id", "left")
            .select("doc_id", F.coalesce(
                F.when(F.col("rk").isNotNull(), tier),
                F.lit(UNIQUE_TIER)).alias("tier")))


def tier_labels_duck_sql(docs_src: str, edges_src: str) -> str:
    """DuckDB twin: same endpoint-union + min-rank + left-join shape,
    written independently in SQL. ``docs_src`` provides doc_id;
    ``edges_src`` provides (src, dst, origin)."""
    rank_case = "CASE origin " + " ".join(
        f"WHEN '{name}' THEN {i}" for i, name in enumerate(TIER_PRIORITY)
    ) + f" ELSE {len(TIER_PRIORITY)} END"
    tier_case = "CASE rk " + " ".join(
        f"WHEN {i} THEN '{name}'" for i, name in enumerate(TIER_PRIORITY)
    ) + f" ELSE '{UNIQUE_TIER}' END"
    return f"""
WITH eps AS (
  SELECT src AS doc_id, {rank_case} AS rk FROM {edges_src}
  UNION ALL
  SELECT dst AS doc_id, {rank_case} AS rk FROM {edges_src}),
best AS (SELECT doc_id, min(rk) AS rk FROM eps GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(CASE WHEN best.rk IS NOT NULL THEN {tier_case} END,
                '{UNIQUE_TIER}') AS tier
FROM {docs_src} d LEFT JOIN best USING (doc_id)"""


def pipeline_doc_tiers(docs_norm: DataFrame, edges: DataFrame) -> DataFrame:
    """Production tier labels from the pipeline's own tables:
    T1 docs_norm (doc_id, norm_text) + T4 candidate_edges (src, dst,
    origin ∈ {minhash, simhash, substr}) → (doc_id, tier).

    T4 alone cannot distinguish 'exact' — byte-identical docs have
    identical signatures, so they surface as minhash edges with
    weight 1.0 (necessary but not sufficient: distinct texts can
    collide on all 128 mins). The exact tier therefore gets its own
    star edges from the md5(norm_text) bucketing: groupBy-min (the
    partial agg collapses a 10^8-copy boilerplate family map-side)
    joined back on the key — a join, so AQE's skew split covers the
    hot family (a window min would buffer it in ONE task) — emitting
    |family|-1 star edges, never all-pairs."""
    keyed = docs_norm.select(
        "doc_id", F.md5(F.col("norm_text").cast("binary")).alias("key"))
    mins = keyed.groupBy("key").agg(F.min("doc_id").alias("src"))
    exact = (keyed.join(mins, "key")
             .where(F.col("doc_id") != F.col("src"))
             .select("src", F.col("doc_id").alias("dst"),
                     F.lit("exact").alias("origin")))
    all_edges = edges.select("src", "dst", "origin").unionByName(exact)
    return tier_labels(docs_norm, all_edges)


# =====================================================================
# X28 — cluster cap (bounded survivors per dup cluster)
# =====================================================================

CLUSTER_CAP_SALTS = 64


def capped_topk(df: DataFrame, key_cols: list[str], k: int,
                rank_col: str = "rk",
                salts: int = CLUSTER_CAP_SALTS) -> DataFrame:
    """EXACT k-smallest-by-(rank, doc_id) rows per ``key_cols``, skew-free
    — the two-level selection X25 (webstats.domain_cap) established,
    factored out so any hot-key group (hosts, dup clusters, LSH
    buckets) reuses it:

      level 1: row_number over (key, pmod(xxhash64(doc_id), salts)) —
               group size bounded by |key|/salts for any rank type or
               rank ties; keep rn <= k.
      level 2: row_number over key alone, over at most k*salts
               pre-filtered rows per key.

    Exact because membership in a group's k smallest is monotone
    under taking subsets that contain the row: level 1 never discards
    a level-2 winner. Adds an int column 'rn' (1..k)."""
    w1 = Window.partitionBy(*key_cols, "__salt").orderBy(rank_col, "doc_id")
    lvl1 = (df.withColumn("__salt",
                          F.pmod(F.xxhash64("doc_id"), F.lit(salts)))
            .withColumn("rn1", F.row_number().over(w1))
            .where(F.col("rn1") <= k).drop("rn1", "__salt"))
    w2 = Window.partitionBy(*key_cols).orderBy(rank_col, "doc_id")
    return (lvl1.withColumn("rn", F.row_number().over(w2))
            .where(F.col("rn") <= k)
            .withColumn("rn", F.col("rn").cast("int")))


def cluster_cap(labels: DataFrame, k: int = 4,
                rank_col: Column | None = None,
                salts: int = CLUSTER_CAP_SALTS) -> DataFrame:
    """Keep at most ``k`` docs per dup cluster → (doc_id, cluster_id,
    rn). ``labels`` is any (doc_id, cluster_id) table — T5 in
    production. Default rank is xxhash64(doc_id) (uniform,
    reproducible); pass a quality score (negated for keep-best) to
    curate instead of sample. Singleton clusters pass through with
    rn = 1, so composing with the tier labels gives the full policy:
    unique docs untouched, every dup family bounded at k."""
    rk = (rank_col if rank_col is not None
          else F.xxhash64(F.lit("ccap"), F.col("doc_id")))  # domain tag
    base = labels.select("doc_id", "cluster_id", rk.alias("rk"))
    return (capped_topk(base, ["cluster_id"], k, salts=salts)
            .select("doc_id", "cluster_id", "rn"))


def cluster_cap_duck_sql(labels_src: str, rank_expr: str, k: int) -> str:
    """DuckDB twin: single-level row_number per cluster (the oracle
    needs no skew decomposition) over the same (rank, doc_id) order.
    ``labels_src`` provides (doc_id, cluster_id)."""
    return (f"SELECT doc_id, cluster_id, CAST(rn AS INT) AS rn FROM ("
            f"SELECT doc_id, cluster_id, row_number() OVER ("
            f"PARTITION BY cluster_id ORDER BY rk, doc_id) AS rn FROM ("
            f"SELECT doc_id, cluster_id, {rank_expr} AS rk"
            f" FROM {labels_src})) WHERE rn <= {k}")


# =====================================================================
# X29 — deterministic mixture sampling
# =====================================================================

def mix_sample(docs: DataFrame, rates: tuple[tuple[str, float], ...],
               stratum_col: str = "lang", key_col: str = "url",
               default_rate: float = 0.0,
               rank_col: Column | None = None) -> DataFrame:
    """Per-stratum deterministic subsampling → (doc_id, stratum,
    kept). A doc is kept iff pmod(xxhash64(key), MIX_BUCKETS) <
    round(rate·MIX_BUCKETS) for its stratum's rate (strata absent from
    ``rates`` use ``default_rate``). Expectation-exact rates,
    reproducible membership (X26's argument: re-runs, appends, and
    repartitioning never flip a doc), and upstream-composable — the
    kept column is computed, not filtered, so the caller chooses
    tag-vs-drop (the X24 never-discard-silently pattern).

    Plan shape: the rates table is a broadcast-joined literal frame
    (tiny — one row per stratum) and the comparison is codegen'd;
    the corpus side is never shuffled."""
    spark = docs.sparkSession
    # domain-tagged hash: plain xxhash64(key) would be the SAME rank
    # split_assign uses, making membership and split assignment
    # perfectly correlated — a mix rate r keeps only buckets < r·10⁴,
    # which are entirely inside the train range, silently EMPTYING
    # val/test whenever r < 0.99 (found empirically in cmd_curate).
    # Each hash-rank operator salts its own literal domain tag so
    # compositions stay independent.
    rk = (rank_col if rank_col is not None
          else F.pmod(F.xxhash64(F.lit("mix"), F.col(key_col)),
                      F.lit(MIX_BUCKETS)))
    # a duplicated stratum key would duplicate every matching doc
    # through the join — reject it loudly rather than inflate counts
    strata = [s for s, _ in rates]
    if len(strata) != len(set(strata)):
        raise ValueError(f"duplicate strata in rates: {strata}")
    default_below = int(round(default_rate * MIX_BUCKETS))
    base = docs.select("doc_id", stratum_col, rk.alias("rk"))
    if not rates:
        # empty rates = sample every stratum at the default rate
        # (createDataFrame can't infer a schema from zero rows)
        return base.select(
            "doc_id", F.col(stratum_col).alias("stratum"),
            (F.col("rk") < F.lit(default_below)).alias("kept"))
    thresholds = [(s, int(round(r * MIX_BUCKETS))) for s, r in rates]
    rates_df = spark.createDataFrame(thresholds, [stratum_col, "keep_below"])
    return (base
            .join(F.broadcast(rates_df), stratum_col, "left")
            .select("doc_id", F.col(stratum_col).alias("stratum"),
                    (F.col("rk") < F.coalesce(
                        F.col("keep_below"), F.lit(default_below)))
                    .alias("kept")))


def mix_sample_duck_sql(src: str, rank_expr: str,
                        rates: tuple[tuple[str, float], ...],
                        stratum_expr: str = "lang",
                        default_rate: float = 0.0) -> str:
    """DuckDB twin: identical thresholds via a CASE chain (an
    independent formulation — no join). ``src`` provides doc_id and
    the stratum column."""
    whens = " ".join(
        f"WHEN '{s}' THEN {int(round(r * MIX_BUCKETS))}" for s, r in rates)
    default_below = int(round(default_rate * MIX_BUCKETS))
    return (f"SELECT doc_id, stratum, rk < keep_below AS kept FROM ("
            f"SELECT doc_id, {stratum_expr} AS stratum, {rank_expr} AS rk,"
            f" CASE {stratum_expr} {whens} ELSE {default_below} END"
            f" AS keep_below FROM {src})")


# =====================================================================
# X40 — soft dedup (cluster-size-aware probabilistic retention)
# =====================================================================

def _soft_keep_below(n: Column, alpha: float) -> Column:
    """Integer keep-threshold floor(MIX_BUCKETS * n^(-alpha)). For the
    default alpha = 0.5 this is computed as MIX_BUCKETS / sqrt(n): sqrt
    and division are IEEE-754 correctly-rounded on every engine, so
    the threshold — and therefore every kept bit — is bit-portable
    between Spark and the DuckDB twin. General alpha goes through
    pow(), which libm does NOT guarantee correctly rounded; callers
    needing a cross-engine contract at alpha != 0.5 should accept
    <=1-ulp threshold drift (floor() re-aligns it except exactly at
    an integer boundary)."""
    nd = n.cast("double")
    if alpha == 0.5:
        return F.floor(F.lit(float(MIX_BUCKETS)) / F.sqrt(nd))
    return F.floor(F.lit(float(MIX_BUCKETS)) * F.pow(nd, F.lit(-alpha)))


def soft_dedup(labels: DataFrame, alpha: float = 0.5,
               rank_col: Column | None = None) -> DataFrame:
    """X40 — soft dedup: keep each member of a dup cluster of size n
    with probability p(n) = n^(-alpha), so the cluster retains
    ~n^(1-alpha) docs in expectation. alpha = 0 keeps everything,
    alpha = 1 collapses to ~1 doc (canonical-like); 0 < alpha < 1 is
    the smooth middle ground between X28's hard per-cluster ceiling
    and keep-one — repeated text still contributes, just with
    sub-linear weight (the data-constrained-scaling regime where
    moderate repetition retains value but its marginal worth decays).

    Deterministic and composition-safe like X26/X29: a doc is kept
    iff its domain-tagged hash bucket < floor(MIX_BUCKETS / n^alpha), so
    membership never flips across re-runs, appends, or
    repartitioning, and is independent of split/mix membership (each
    hash-rank operator salts its own literal domain tag). The
    cluster's min-rank member is ALWAYS kept: every cluster retains
    >= 1 survivor no matter how aggressive alpha is, so soft dedup
    never erases content entirely (the guarantee canonical selection
    gives, preserved here).

    Plan shape (the tier_labels argument): cluster sizes and min-rank
    come from ONE groupBy(cluster_id) whose count/min partials
    collapse a 10^8-member boilerplate family map-side before the
    exchange; the join back is a plain equi-join — AQE broadcasts the
    |clusters|-row stats side when small and skew-splits the hot
    cluster when not. No windows over raw members, so the giant
    cluster never serializes into one task. kept is computed, not
    filtered (X24's never-discard-silently pattern).

    Output: (doc_id, cluster_id, n_members, kept)."""
    rk = (rank_col if rank_col is not None
          else F.pmod(F.xxhash64(F.lit("soft"), F.col("doc_id")),
                      F.lit(MIX_BUCKETS)))
    base = labels.select("doc_id", "cluster_id", rk.alias("rk"))
    stats = base.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("rk").alias("min_rk"))
    keep_below = _soft_keep_below(F.col("n_members"), alpha)
    return (base.join(stats, "cluster_id")
            .select("doc_id", "cluster_id", "n_members",
                    ((F.col("rk") < keep_below)
                     | (F.col("rk") == F.col("min_rk"))).alias("kept")))


def soft_dedup_duck_sql(labels_src: str, rank_expr: str,
                        alpha: float = 0.5) -> str:
    """DuckDB twin: window functions over cluster_id instead of the
    groupBy+join decomposition (independent formulation). Only
    alpha = 0.5 is offered — the sqrt path is the one with a
    bit-portability proof (see _soft_keep_below)."""
    if alpha != 0.5:
        raise ValueError("twin pins alpha=0.5 (portable sqrt path)")
    return (f"SELECT doc_id, cluster_id, n_members,"
            f" (rk < CAST(floor({MIX_BUCKETS} / sqrt(n_members)) AS BIGINT)"
            f" OR rk = min_rk) AS kept FROM ("
            f"SELECT doc_id, cluster_id, {rank_expr} AS rk,"
            f" count(*) OVER (PARTITION BY cluster_id) AS n_members,"
            f" min({rank_expr}) OVER (PARTITION BY cluster_id) AS min_rk"
            f" FROM {labels_src})")
