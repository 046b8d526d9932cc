"""Relational extras beyond the dedup core: the as-of join.

SURVEY.md §2.0b originally documented theta/range/as-of joins as
unsupported; the as-of join is common enough in training-data
pipelines (attach the latest preceding signal — a purchase, a crawl
snapshot, a model score — to each event) that it is now first-class.

Scale shape: the classic as-of implementations are a range cross-join
(quadratic blowup per key) or a global sort-merge. This one is the
union-and-carry trick: tag both sides, union, ONE shuffle on the key,
per-partition sort by (ts, side), and a running `last(..., ignorenulls)`
window carries the latest right-side values forward into each left
row. Cost = one hash shuffle + one per-partition sort, independent of
how many right rows precede each left row; skew is bounded by the key
(same story as every other keyed shuffle in the pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_SIDE = "__asof_side"


def asof_join(left: DataFrame, right: DataFrame, on: str, ts_col: str,
              value_cols: list[str]) -> DataFrame:
    """For every left row, attach the ``value_cols`` of the LATEST
    right row with the same ``on`` key and right.ts <= left.ts
    (inclusive — matches DuckDB ASOF JOIN semantics, which the driver
    oracle uses); NULLs where no right row precedes.

    Returns all left columns plus one ``<col>_asof`` per value col.
    """
    l = left.withColumn(_SIDE, F.lit(1))
    r = (right.select(on, ts_col, *value_cols)
              .withColumn(_SIDE, F.lit(0)))
    u = l.unionByName(r, allowMissingColumns=True)
    # carry the latest right row as ONE struct, not per-column lasts:
    # per-column last(col, ignorenulls) would (a) stitch fields from
    # DIFFERENT right rows and (b) replace a legitimately-NULL latest
    # value with an older non-null one — both diverge from ASOF
    # semantics (attach the one latest row, NULLs and all)
    payload = F.when(F.col(_SIDE) == 0,
                     F.struct(*[F.col(c) for c in value_cols]))
    # right rows sort BEFORE left rows at equal ts (side 0 < 1), so
    # b.ts == a.ts matches — the <= semantics; among right rows tied
    # on (key, ts) the greatest value tuple wins (pinned — without
    # the payload in the sort key the winner would vary with
    # partitioning, breaking determinism-across-partitionings)
    w = (Window.partitionBy(on).orderBy(ts_col, _SIDE, payload)
         .rowsBetween(Window.unboundedPreceding, 0))
    latest = F.last(payload, ignorenulls=True).over(w)
    carried = [latest[c].alias(c + "_asof") for c in value_cols]
    return (u.select("*", *carried)
             .where(F.col(_SIDE) == 1)
             .drop(_SIDE))
