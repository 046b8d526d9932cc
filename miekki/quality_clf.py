"""X35 — hashed-feature quality classifier (fastText/Dolma-style).

Public design this derives from: the standard web-curation quality
signal — a linear classifier over hashed bag-of-ngram features that
discriminates a small "good" corpus from the raw crawl (GPT-3,
Brown et al. 2020 Appendix A, filter web pages with an LR classifier
over hashed features; CCNet and Dolma ship fastText classifiers the
same way). Complements X30's unigram-LM perplexity (how fluent is
the text) and X32's DSIR (importance RATIO for resampling) with the
third standard signal: a DISCRIMINATIVE keep probability.

Pinned spec (shared by both dialects):
  features   = X32's unigrams ++ bigrams over X30's tokenizer —
               one vocabulary convention repo-wide
  bucket(f)  = hash(f) mod B   (pluggable: production xxhash64,
               portable twin md5 — dsir.md5_bucket)
  x_b        = c_b / n_feat    (L1-normalized bucket counts)
  fit        = full-batch logistic regression, w init 0, FIXED
               iteration count / learning rate / L2 — deterministic
               given the triples (no SGD shuffling), run driver-side
               on a bounded, DETERMINISTIC sample (lowest doc_ids —
               the kmeans-quantizer pattern, embeddings.py). Triples
               are sorted before accumulation so float summation
               order can't vary across collections.
  logit(doc) = round(bias + sum_b w_b * c_b / n_feat, 4)
               (round(bias, 4) for a zero-feature doc — pinned)
  score      = round(1 / (1 + exp(-logit)), 4)   computed from the
               ROUNDED logit in BOTH engines (the X30 ppl pattern)
  kept       = score >= threshold   (computed, never filtered —
               X24's never-discard-silently)

Scale shape (the part that must survive 1000 executors / 100 TB):
  * fit: bounded sample (2 * sample docs) -> ≤ sample*feats triples
    collected once; the corpus is never shuffled for the fit. At
    10^12 docs the classifier is always fit on a sample — what must
    scale is SCORING.
  * scoring: explode -> map-only bucket -> broadcast-hash join
    against the ≤B-row weight table (kilobytes at B=8192) -> ONE
    groupBy(doc_id) shuffle (hash-uniform, partial sums collapse
    map-side) -> map-only sigmoid. Zero-feature docs restored by a
    map-only filter + union (the X30/X32 pattern). No UDFs, no
    driver loops, no global sorts.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import DataFrame, functions as F

from miekki.dsir import features_col, md5_bucket, xxhash_bucket  # noqa: F401

B_CLF_DEFAULT = 2048
FIT_SAMPLE = 1500
FIT_ITERS = 300
FIT_LR = 0.5
FIT_L2 = 1e-4


class ClfModel(NamedTuple):
    """Fit result: weights + bias bundled with the (b, bucket_fn)
    they were fit under (the DsirWeights pattern — scoring can never
    silently bucket with a different hash than the fit)."""
    w: np.ndarray              # (b,) float64
    bias: float
    b: int
    bucket_fn: Callable[[F.Column], F.Column]


def fit_from_triples(doc_key: np.ndarray, bucket: np.ndarray,
                     cnt: np.ndarray, y_by_doc: dict[int, float],
                     b: int) -> tuple[np.ndarray, float]:
    """THE shared fit kernel — the Spark path and the DuckDB oracle
    path both reduce their corpora to (doc_key, bucket, cnt) triples
    plus per-doc labels and call this, so the two engines' weights
    are bit-identical by construction. Full-batch GD, deterministic:
    triples are lexsorted before any accumulation."""
    order = np.lexsort((bucket, doc_key))
    doc_key, bucket, cnt = doc_key[order], bucket[order], cnt[order]
    uniq, doc_idx = np.unique(doc_key, return_inverse=True)
    y = np.array([y_by_doc[int(k)] for k in uniq], dtype=np.float64)
    n_docs = len(uniq)
    n_feat = np.zeros(n_docs)
    np.add.at(n_feat, doc_idx, cnt)
    xval = cnt / n_feat[doc_idx]            # L1-normalized counts
    w = np.zeros(b)
    bias = 0.0
    for _ in range(FIT_ITERS):
        z = np.zeros(n_docs)
        np.add.at(z, doc_idx, xval * w[bucket])
        p = 1.0 / (1.0 + np.exp(-(z + bias)))
        err = (p - y) / n_docs
        gw = np.zeros(b)
        np.add.at(gw, bucket, xval * err[doc_idx])
        w -= FIT_LR * (gw + FIT_L2 * w)
        bias -= FIT_LR * float(err.sum())
    return w, bias


def _sample(docs: DataFrame, sample: int) -> DataFrame:
    # lowest doc_ids: deterministic under re-runs / repartitioning
    # (TakeOrderedAndProject — per-partition heaps, never a full sort)
    return (docs.select("doc_id", "norm").orderBy("doc_id")
            .limit(sample))


def fit_quality_clf(pos: DataFrame, neg: DataFrame,
                    b: int = B_CLF_DEFAULT,
                    bucket_fn: Callable[[F.Column], F.Column] | None = None,
                    sample: int = FIT_SAMPLE) -> ClfModel:
    """Fit on deterministic samples of the positive (curated/target)
    and negative (raw crawl) corpora. The ONE collect here is the
    bounded triple table of the fit sample — never the corpus."""
    bucket_fn = bucket_fn or xxhash_bucket(b)
    lab = (_sample(pos, sample).withColumn("y", F.lit(1))
           .unionByName(_sample(neg, sample).withColumn("y", F.lit(0))))
    triples = (lab
               .select("doc_id", "y",
                       F.explode(features_col("norm")).alias("feat"))
               .select("doc_id", "y", bucket_fn(F.col("feat")).alias("bucket"))
               .groupBy("doc_id", "y", "bucket")
               .agg(F.count(F.lit(1)).alias("c"))
               .toPandas())
    # pos and neg may overlap (raw ⊇ target is the DSIR convention):
    # give the two labelings disjoint doc keys
    doc_key = (triples.doc_id.to_numpy(np.int64) * 2
               + triples.y.to_numpy(np.int64))
    y_by_doc = {int(k): float(k & 1) for k in np.unique(doc_key)}
    w, bias = fit_from_triples(doc_key,
                               triples.bucket.to_numpy(np.int64),
                               triples.c.to_numpy(np.float64),
                               y_by_doc, b)
    return ClfModel(w, bias, b, bucket_fn)


def clf_score(docs: DataFrame, model: ClfModel,
              threshold: float = 0.5) -> DataFrame:
    """Per-doc (doc_id, n_feat, logit, score, kept) — see module doc.
    One broadcast join + one doc_id shuffle + map-only sigmoid."""
    spark = docs.sparkSession
    nz = np.flatnonzero(model.w)
    wdf = spark.createDataFrame(
        [(int(i), float(model.w[i])) for i in nz], "bucket long, w double")
    feat = docs.select(
        "doc_id", F.explode(features_col("norm")).alias("feat"))
    scored = (feat
              .select("doc_id", model.bucket_fn(F.col("feat")).alias("bucket"))
              .join(F.broadcast(wdf), "bucket", "left")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_feat"),
                   F.sum(F.coalesce("w", F.lit(0.0))).alias("s")))
    logit = F.round(F.lit(float(model.bias)) + F.col("s") / F.col("n_feat"), 4)
    empties = (docs.where(F.size(features_col("norm")) == 0)
               .select("doc_id", F.lit(0).cast("long").alias("n_feat"),
                       F.lit(0.0).alias("s")))
    out = (scored.withColumn("logit", logit)
           .unionByName(empties.withColumn(
               "logit", F.round(F.lit(float(model.bias)), 4)))
           .drop("s"))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit"))), 4)
    return (out.withColumn("score", score)
            .withColumn("kept", F.col("score") >= F.lit(threshold)))


def quality_clf_duck_sql(raw_cte: str, w_rows: list[tuple[int, float]],
                         bias: float, threshold: float = 0.5,
                         b: int = B_CLF_DEFAULT) -> str:
    """DuckDB twin of clf_score with the fitted weights as literals
    (the weights themselves are refit INDEPENDENTLY by the oracle
    path — fit_triples_duck below — so embedding them here does not
    short-circuit the cross-check) and the portable md5 bucket (pair
    with bucket_fn=md5_bucket(b) Spark-side)."""
    if not w_rows:
        w_rows = [(0, 0.0)]
    values = ", ".join(f"({int(k)}, {float(v)!r})" for k, v in w_rows)
    bucket = ("list_sum([ (strpos('0123456789abcdef', h8[i]) - 1)"
              f" * (16 ** (8 - i)) for i in range(1, 9) ])::BIGINT % {b}")
    return f"""
WITH raw AS ({raw_cte}),
wt (bucket, w) AS (VALUES {values}),
feats AS (
  SELECT doc_id, unnest(list_concat(
           toks, [toks[i] || ' ' || toks[i + 1]
                  for i in range(1, len(toks))])) AS f
  FROM (SELECT doc_id,
               list_filter(str_split(norm, ' '), t -> t <> '') AS toks
        FROM raw)),
bucketed AS (
  SELECT doc_id, {bucket} AS bucket
  FROM (SELECT doc_id, substr(md5(f), 1, 8) AS h8 FROM feats)),
per_doc AS (
  SELECT d.doc_id, count(*) AS n_feat,
         sum(coalesce(wt.w, 0.0)) AS s
  FROM bucketed d LEFT JOIN wt ON wt.bucket = d.bucket
  GROUP BY d.doc_id),
filled AS (
  SELECT r.doc_id,
         CAST(coalesce(p.n_feat, 0) AS BIGINT) AS n_feat,
         round({bias!r} + CASE WHEN p.n_feat > 0 THEN p.s / p.n_feat
                               ELSE 0.0 END, 4) AS logit
  FROM raw r LEFT JOIN per_doc p ON p.doc_id = r.doc_id)
SELECT doc_id, n_feat, logit,
       round(1.0 / (1.0 + exp(-logit)), 4) AS score,
       round(1.0 / (1.0 + exp(-logit)), 4) >= {threshold} AS kept
FROM filled
"""


def fit_triples_duck(con, pos_cte: str, neg_cte: str,
                     b: int = B_CLF_DEFAULT,
                     sample: int = FIT_SAMPLE) -> tuple[np.ndarray, float]:
    """Oracle-side fit: reduce the same deterministic samples to
    (doc_key, bucket, cnt) triples with DuckDB (md5 bucket — pair the
    Spark fit with md5_bucket(b)) and run the SHARED fit kernel. An
    independent full recomputation of the model: if the Spark fit's
    triples differ anywhere, every downstream score hash-mismatches."""
    bucket = ("list_sum([ (strpos('0123456789abcdef', h8[i]) - 1)"
              f" * (16 ** (8 - i)) for i in range(1, 9) ])::BIGINT % {b}")
    triples = con.sql(f"""
WITH pos AS (SELECT doc_id, norm FROM ({pos_cte})
             ORDER BY doc_id LIMIT {sample}),
neg AS (SELECT doc_id, norm FROM ({neg_cte})
        ORDER BY doc_id LIMIT {sample}),
lab AS (SELECT doc_id, norm, 1 AS y FROM pos
        UNION ALL SELECT doc_id, norm, 0 AS y FROM neg),
feats AS (
  SELECT doc_id, y, unnest(list_concat(
           toks, [toks[i] || ' ' || toks[i + 1]
                  for i in range(1, len(toks))])) AS f
  FROM (SELECT doc_id, y,
               list_filter(str_split(norm, ' '), t -> t <> '') AS toks
        FROM lab))
SELECT doc_id * 2 + y AS doc_key, {bucket} AS bucket,
       CAST(count(*) AS DOUBLE) AS c
FROM (SELECT doc_id, y, substr(md5(f), 1, 8) AS h8 FROM feats)
GROUP BY 1, 2
""").df()
    doc_key = triples.doc_key.to_numpy(np.int64)
    y_by_doc = {int(k): float(k & 1) for k in np.unique(doc_key)}
    return fit_from_triples(doc_key, triples.bucket.to_numpy(np.int64),
                            triples.c.to_numpy(np.float64), y_by_doc, b)
