"""large-star/small-star CC vs the networkx oracle (SURVEY.md §5.2,
FIXTURES.md F3 cc_edges cases): path, star, two components,
self-loops, 64-bit boundary ids, random graphs — plus the fixpoint's
star-form stop rule, partition sizing and pass shapes."""

import io
import re
from contextlib import redirect_stdout

import numpy as np
import pytest
from pyspark.sql import DataFrame, functions as F

from miekki.eventlog import Tail
from oracle.cc import cc_labels as oracle_cc

pytestmark = pytest.mark.fast

CASES = {
    "path": [(1, 2), (2, 3), (3, 4), (4, 5)],
    "star": [(10, 1), (10, 2), (10, 3)],
    "two_components": [(1, 2), (2, 3), (7, 8), (8, 9)],
    "self_loop": [(5, 5), (5, 6)],
    "boundary_ids": [(-(2**63), 2**63 - 1), (2**63 - 1, 0), (-1, -2)],
    "chain_long": [(i, i + 1) for i in range(40)],
    "duplicate_edges": [(1, 2), (2, 1), (1, 2), (2, 3)],
    "singleton_nodes": [(1, 2)],  # nodes arg adds isolated 99
}


def spark_cc(spark, edges, nodes):
    from miekki.stages.cc import cc_labels

    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    n = spark.createDataFrame([(x,) for x in nodes], "doc_id long")
    rows = cc_labels(e, n).collect()
    return {r.doc_id: r.cluster_id for r in rows}


@pytest.mark.parametrize("name", sorted(CASES))
def test_cc_cases(spark, name):
    edges = CASES[name]
    nodes = sorted({x for e in edges for x in e} | {99})
    assert spark_cc(spark, edges, nodes) == oracle_cc(edges, nodes)


def test_cc_empty_edges(spark):
    assert spark_cc(spark, [], [1, 2, 3]) == {1: 1, 2: 2, 3: 3}


def test_cc_random_graphs(spark):
    rng = np.random.Generator(np.random.PCG64(5))
    for n_nodes, n_edges in [(50, 40), (200, 150), (100, 300)]:
        ids = np.unique(rng.integers(-(2**62), 2**62, size=n_nodes))
        src = rng.choice(ids, size=n_edges)
        dst = rng.choice(ids, size=n_edges)
        edges = [(int(a), int(b)) for a, b in zip(src, dst)]
        assert spark_cc(spark, edges, ids.tolist()) == oracle_cc(edges, ids.tolist())


def test_star_form_input_stops_after_first_pass(spark):
    """Stars centred on their minima are the fixpoint: the first
    large-star pass sees zero nodes with a smaller neighbour and two
    neighbours and returns. Duplicate rows only raise that count (one
    extra round, never an early stop)."""
    from miekki.stages import cc

    stars = [(1, 5), (1, 7), (9, 1), (-4, 3), (-4, 8)]
    nodes = sorted({x for e in stars for x in e})
    assert spark_cc(spark, stars, nodes) == oracle_cc(stars, nodes)
    assert cc.LAST_ROUNDS == 0
    dup = [(1, 2), (2, 1), (1, 3)]
    assert spark_cc(spark, dup, [1, 2, 3]) == oracle_cc(dup, [1, 2, 3])
    assert cc.LAST_ROUNDS == 1


def _stage_tasks(spark, fn) -> list[int]:
    """Runs fn and returns the task count of every stage it completed,
    read from the session event log (spark.ui is off in tests)."""
    tail = Tail(spark)
    fn()
    return [ev["Stage Info"]["Number of Tasks"] for ev in tail.take()
            if ev.get("Event") == "SparkListenerStageCompleted"]


def test_cc_rounds_run_at_session_partitions(spark):
    """A session asking for 3 shuffle partitions gets at most 3 tasks
    in every CC stage (the rounds used to floor at 16), and its
    setting is back in place after the call. The long chain needs
    several rounds and still ends at the oracle's star set."""
    from miekki.stages import cc

    chain = CASES["chain_long"]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        e = spark.createDataFrame(chain, "src long, dst long").coalesce(1)
        star = []
        tasks = _stage_tasks(
            spark, lambda: star.extend(cc.cc_fixpoint(e).collect()))
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    want = oracle_cc(chain, sorted({x for p in chain for x in p}))
    assert {r.src: r.dst for r in star} == {
        n: m for n, m in want.items() if n != m}
    assert cc.LAST_ROUNDS > 1
    assert len(tasks) >= 2 * cc.LAST_ROUNDS, tasks  # the log saw the rounds
    assert max(tasks) <= 3, tasks


def test_cc_partition_setting_restored(spark):
    """A session above the round cap (16 partitions at this size) gets
    its own setting back after the call, and also when the loop
    raises."""
    from miekki.stages.cc import cc_fixpoint

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "40")
    try:
        e = spark.createDataFrame(CASES["path"], "src long, dst long")
        assert len(cc_fixpoint(e).collect()) == 4
        assert spark.conf.get("spark.sql.shuffle.partitions") == "40"
        with pytest.raises(RuntimeError, match="did not converge"):
            cc_fixpoint(e, max_iter=0)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "40"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_star_round_is_three_exchanges(spark):
    """One full fixpoint round — small-star pass, then large-star pass,
    over a checkpointed input — is one Exchange per star window plus
    the round-end distinct; pinned at the plan level so a regression
    back to the ~8-stage groupBy+join shape is caught."""
    from miekki.stages.cc import _large_pass, _small_pass

    e = spark.createDataFrame(
        [(2, 1), (3, 2), (6, 5), (7, 6), (7, 1)],
        "src long, dst long").localCheckpoint()
    buf = io.StringIO()
    with redirect_stdout(buf):
        _large_pass(_small_pass(e))[0].explain("formatted")
    plan = buf.getvalue()
    # formatted explain lists every operator once in the tree and once
    # as a "(n) Exchange" detail header — count the headers
    real = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert real <= 3, plan


# Join-based large-star/small-star (Kiveris et al. 2014), the
# reference one _large_pass + _small_pass round is checked against.
def _symmetrize(edges: DataFrame) -> DataFrame:
    fwd = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    rev = edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    return fwd.unionByName(rev).where("u != v")


def large_star(edges: DataFrame) -> DataFrame:
    """∀u: connect strictly-larger neighbors to m = min(Γ(u) ∪ {u})."""
    sym = _symmetrize(edges)
    mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
               .select("u", F.least("mn", "u").alias("m")))
    return (sym.join(mins, "u")
               .where(F.col("v") > F.col("u"))
               .select(F.col("v").alias("src"), F.col("m").alias("dst"))
               .where("src != dst")
               .distinct())


def small_star(edges: DataFrame) -> DataFrame:
    """∀u: connect smaller-or-equal neighbors (and u) to the min."""
    e = (edges.select(F.greatest("src", "dst").alias("u"),
                      F.least("src", "dst").alias("v"))
              .where("u != v").distinct())
    mins = e.groupBy("u").agg(F.min("v").alias("mn"))
    j = e.join(mins, "u")
    out1 = j.select(F.col("v").alias("src"), F.col("mn").alias("dst"))
    out2 = mins.select(F.col("u").alias("src"), F.col("mn").alias("dst"))
    return out1.unionByName(out2).where("src != dst").distinct()


def test_star_passes_match_two_star_composition(spark):
    """The fixpoint's large-star pass then small-star pass must emit
    exactly the edge SET of small_star(large_star(e)) — on named cases
    AND random graphs, including negative/boundary ids where
    binary-comparison bugs in the window min would show up. The input
    is the raw edge list: the first pass reads it as given. All graphs
    run as one table, each node tagged (graph, id): structs order
    field by field, so graphs stay disjoint and keep their id order."""
    from miekki.stages.cc import _large_pass, _small_pass

    rng = np.random.Generator(np.random.PCG64(11))
    graphs = list(CASES.values())
    for n_nodes, n_edges in [(60, 80), (150, 120)]:
        ids = np.unique(rng.integers(-(2**62), 2**62, size=n_nodes))
        graphs.append([(int(a), int(b)) for a, b in zip(
            rng.choice(ids, size=n_edges), rng.choice(ids, size=n_edges))])
    rows = [(g, a, b) for g, edges in enumerate(graphs) for a, b in edges]
    e = spark.createDataFrame(rows, "g int, a long, b long").selectExpr(
        "named_struct('g', g, 'id', a) AS src",
        "named_struct('g', g, 'id', b) AS dst")
    want = {(r.src, r.dst) for r in small_star(large_star(e)).collect()}
    got = {(r.src, r.dst)
           for r in _small_pass(_large_pass(e)[0]).collect()}
    assert {s.g for s, _ in want} == set(range(len(graphs)))
    assert got == want, (sorted(got - want)[:5], sorted(want - got)[:5])
