"""O15–O18 — connected components via large-star/small-star
alternation (Kiveris et al., SoCC 2014; mandated by BASELINE.json
north_star) — the candidate-pair "graph" is just a table (SURVEY.md
§1.1/§2.7). Labels are deterministic: cluster_id = min (signed int64)
doc_id in the component — partitioning-invariant by construction.

``cc_fixpoint`` runs each star as ONE window pass built from one SQL
statement, and materializes each round — small-star then large-star,
three Exchanges — with one ``localCheckpoint()`` (which also truncates
lineage: without it the plan doubles per round). It stops as soon as
the graph is a forest of stars centred on the component minima, a
state the large-star window detects in the same pass.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation, functions as F

log = logging.getLogger(__name__)

# small-star rounds the last cc_fixpoint call ran before reaching star
# form (0 = the input already was stars); grows O(log max component
# diameter), observed 1-6 on real corpora
LAST_ROUNDS: int | None = None


# Over PARTITION BY u ORDER BY v, first(v) is the neighbourhood minimum,
# so each star is one Exchange+Sort. The inline symmetrizes while reading
# {e} once: a union would plan the (on the first pass un-checkpointed)
# upstream edges twice. `bad` is the star-form check (cc_fixpoint).
_LARGE = """SELECT u, v, least(first(v) OVER w, u) AS m,
       row_number() OVER w = 2 AND first(v) OVER w < u AS bad
FROM (SELECT inline(array(named_struct('u', src, 'v', dst),
                          named_struct('u', dst, 'v', src))) FROM {e})
WHERE u != v WINDOW w AS (PARTITION BY u ORDER BY v)"""

# Input is large-star output (src > dst, duplicates tolerated: they
# cannot change a min). Every neighbour re-points to mn and each node's
# row_number() = 1 row adds (u, mn); (x, x) rows are the non-emissions.
_SMALL = """SELECT DISTINCT src, dst FROM (
  SELECT inline(array(named_struct('src', v, 'dst', mn),
                      named_struct('src', u, 'dst', IF(rn = 1, mn, u))))
  FROM (SELECT src AS u, dst AS v, first(dst) OVER w AS mn,
               row_number() OVER w AS rn
        FROM {e} WINDOW w AS (PARTITION BY src ORDER BY dst)))
WHERE src != dst"""


def _large_pass(e: DataFrame) -> tuple[DataFrame, Observation]:
    """Large-star edges (v → m, v > u) plus an Observation of the input
    rows `n` and the star-form count `bad`, taken before the filter."""
    obs = Observation()
    out = (e.sparkSession.sql(_LARGE, e=e)
           .observe(obs, F.expr("count(1) AS n"),
                    F.expr("count_if(bad) AS bad"))
           .where("v > u").selectExpr("v AS src", "m AS dst"))
    return out, obs


def _small_pass(e: DataFrame) -> DataFrame:
    return e.sparkSession.sql(_SMALL, e=e)


def cc_fixpoint(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """Large-star pass, then (small-star, large-star) rounds until a
    large-star input is in star form; returns that pass's output, the
    star edges (node → component-min). The stop rule is exact:
    - an Observation on the large-star window counts rows with
      ``row_number() = 2 AND first(v) < u``: the nodes with a smaller
      neighbour and at least two neighbours;
    - zero means the input is already stars centred on their minima,
      so the large-star output is exactly the final star set;
    - duplicate rows can only raise the count, so the check can never
      stop the loop too early."""
    global LAST_ROUNDS
    spark = edges.sparkSession
    e, obs = _large_pass(edges)
    e = e.localCheckpoint()
    # The rounds run at min(session, rows/4M + 16) partitions: the edge
    # table shrinks fast and each pass is one shuffle, so beyond ~4M
    # (symmetrized) rows per partition the tasks are near-empty, pure
    # scheduler latency. A session asking for fewer keeps its count.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    cc_parts = min(int(old_parts), obs.get["n"] // 4_000_000 + 16)
    spark.conf.set("spark.sql.shuffle.partitions", str(cc_parts))
    rounds = 0
    try:
        while obs.get["bad"]:
            if rounds == max_iter:
                raise RuntimeError(
                    f"CC did not converge in {max_iter} iterations")
            e, obs = _large_pass(_small_pass(e))
            e, rounds = e.localCheckpoint(), rounds + 1
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    LAST_ROUNDS = rounds
    log.info("cc_fixpoint reached star form in %d rounds", rounds)
    return e


def cc_labels(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(src, dst) edges + node table → T5 labels (doc_id, cluster_id).

    Isolated nodes become singleton clusters labeled by themselves."""
    star = cc_fixpoint(edges)
    lab = star.groupBy(F.col("src").alias("doc_id")).agg(
        F.min("dst").alias("cluster_id"))
    return (nodes.select("doc_id").distinct()
            .join(lab, "doc_id", "left")
            .withColumn("cluster_id",
                        F.coalesce("cluster_id", F.col("doc_id"))))
