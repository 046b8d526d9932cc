"""X43 HyperLogLog sketch (miekki/sketches.py) unit pins.

The driver cross-check (`hll_vocab` key) value-twins registers,
integer harmonic core, and the estimate itself against DuckDB at
sf0.01; these tests pin the structure's guarantees on crafted sets:
accuracy on planted cardinalities across BOTH estimator branches
(linear counting and the raw harmonic path), the merge algebra
(register max == sketch of the union), and the shuffle shape (two grouped
aggregations with map-side partials, no window, no Python eval).
"""

import math

import pytest
from pyspark.sql import functions as F

from miekki.sketches import (HLL_P_DEFAULT, hll_estimate, hll_merge,
                             hll_registers, hll_rel_err, hll_vocab)


def _vals(spark, n, tag, parts=8):
    return (spark.range(n, numPartitions=parts)
            .select(F.concat_ws("-", F.lit(tag), F.col("id"))
                    .alias("v")))


def _est(spark, n, p=HLL_P_DEFAULT, hash_fn="xxhash64"):
    regs = hll_registers(_vals(spark, n, f"card{n}"), "v", (), p, hash_fn)
    return hll_estimate(regs, (), p).collect()[0]


@pytest.mark.parametrize("n", [1, 50, 800])
def test_linear_counting_branch_accuracy(spark, n):
    """Small cardinalities (n ≪ m = 4096) take the linear-counting
    branch, which is near-exact there."""
    row = _est(spark, n)
    assert row["v_zero"] > 0
    assert abs(row["est_distinct"] / n - 1.0) <= 0.05


@pytest.mark.parametrize("n", [30_000, 120_000])
def test_raw_branch_accuracy(spark, n):
    """Large cardinalities (n ≫ 2.5m) take the raw harmonic branch;
    the estimate must land within 5 standard errors (5·1.04/√m ≈
    8.1% at p=12 — a deterministic pin, the hash is fixed)."""
    row = _est(spark, n)
    raw = (0.7213 / (1 + 1.079 / 4096)) * 4096 * 4096 \
        * (1 << 49) / row["s_scaled"]
    assert raw > 2.5 * 4096          # really the raw branch
    assert abs(row["est_distinct"] / n - 1.0) <= 5 * hll_rel_err(12)


def test_md5_mode_matches_xxhash_accuracy(spark):
    """The twin hash mode is a different hash, same structure — it
    must satisfy the same accuracy contract."""
    row = _est(spark, 20_000, hash_fn="md5")
    assert abs(row["est_distinct"] / 20_000 - 1.0) <= 5 * hll_rel_err(12)


def test_merge_is_sketch_of_union(spark):
    """Register-wise max of shard sketches == the sketch built over
    the concatenated input — frame-exact, and overlap between shards
    must not inflate the merged estimate."""
    a = _vals(spark, 6000, "m")                      # m-0 … m-5999
    b = (spark.range(3000, 9000, numPartitions=8)    # m-3000 … m-8999
         .select(F.concat_ws("-", F.lit("m"), F.col("id")).alias("v")))
    merged = hll_merge(hll_registers(a, "v"), hll_registers(b, "v"))
    direct = hll_registers(a.unionByName(b), "v")
    assert merged.exceptAll(direct).isEmpty()
    assert direct.exceptAll(merged).isEmpty()
    est = hll_estimate(merged).collect()[0]["est_distinct"]
    assert abs(est / 9000 - 1.0) <= 5 * hll_rel_err(12)


def test_grouped_registers_bounded_and_grouped_estimates(spark):
    """Per-group sketches: each group's register frame is ≤ m rows
    regardless of input size, and each estimate tracks its own
    group's cardinality."""
    df = (spark.range(40_000, numPartitions=8)
          .select((F.col("id") % 2).cast("string").alias("g"),
                  F.concat_ws("-", F.col("id") % 2,
                              F.when(F.col("id") % 2 == 0,
                                     F.col("id"))       # 20k distinct
                              .otherwise(F.col("id") % 100))  # 50 odd
                  .alias("v")))
    regs = hll_registers(df, "v", ("g",))
    sizes = {r["g"]: r["n"] for r in
             regs.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n <= 4096 for n in sizes.values())
    ests = {r["g"]: r["est_distinct"]
            for r in hll_estimate(regs, ("g",)).collect()}
    assert abs(ests["0"] / 20_000 - 1.0) <= 5 * hll_rel_err(12)
    assert abs(ests["1"] / 50 - 1.0) <= 0.05


@pytest.mark.fast
def test_vocab_contract_on_fixture(spark, corpus_df):
    """hll_vocab over the fixture corpus: one row per lang, exact
    n_tokens > 0, every within_tol true, estimator consistent with
    the integer core (n_present + v_zero = m)."""
    from miekki.stages.normalize import norm_text_col

    docs = corpus_df.select("lang", norm_text_col("text").alias("norm"))
    out = hll_vocab(docs).toPandas()
    assert len(out) == out["lang"].nunique() > 0
    assert (out["n_tokens"] > 0).all()
    assert (out["n_present"] + out["v_zero"] == 4096).all()
    assert out["within_tol"].all()


def test_plan_two_grouped_aggs_no_window_no_python(spark):
    """Build = ONE Exchange on (group, reg_idx); estimate adds ONE
    more on (group); partial aggregates collapse map-side; never a
    window, never Python eval."""
    df = _vals(spark, 1000, "plan").select(
        F.lit("g").alias("g"), F.col("v"))
    est = hll_estimate(hll_registers(df, "v", ("g",)), ("g",))
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan
    assert plan.count("HashAggregate") >= 4, plan   # partial+final ×2
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rho_bounds(spark):
    """Registers only ever hold rho in [1, 61-p]: bitlen ≤ 60-p for
    w > 0 and the w = 0 arm caps at 61-p."""
    regs = hll_registers(_vals(spark, 50_000, "rho"), "v").toPandas()
    assert regs["rho"].between(1, 49).all()
    assert regs["reg_idx"].between(0, 4095).all()


def test_rel_err_helper():
    assert math.isclose(hll_rel_err(12), 1.04 / 64.0)


# =====================================================================
# X44 — Count-Min Sketch
# =====================================================================

from miekki.sketches import (CMS_D_DEFAULT, CMS_WP_DEFAULT,  # noqa: E402
                             cms_build, cms_err_bound, cms_merge,
                             cms_probe, cms_vocab)


def _zipf_tokens(spark, parts=8):
    """40_960 rows: token t-j appears ~4096/2^j times for j in 0..11
    plus a uniform tail — planted heavy hitters with known counts."""
    return (spark.range(40_960, numPartitions=parts)
            .select(F.concat_ws(
                "-", F.lit("t"),
                F.expr("CAST(floor(log2(1 + id % 8192)) AS INT)"))
                .alias("v")))


def test_cms_never_underestimates_and_err_bound(spark):
    """est >= truth for EVERY queried item (the one-sided guarantee),
    and est - truth <= e*N/w for all planted items (deterministic pin
    — the hash is fixed; the probabilistic bound holds per-item with
    prob 1-e^-4 and the fixture has no adversarial collisions)."""
    df = _zipf_tokens(spark)
    n_total = df.count()
    sketch = cms_build(df, "v")
    items = df.distinct()
    est = {r["v"]: r["cms_est"]
           for r in cms_probe(sketch, items, "v").collect()}
    truth = {r["v"]: r["n"] for r in
             df.groupBy("v").agg(F.count(F.lit(1)).alias("n")).collect()}
    bound = cms_err_bound(n_total)
    for tok, n in truth.items():
        assert est[tok] >= n, tok
        assert est[tok] - n <= bound, (tok, est[tok], n, bound)


def test_cms_absent_item_estimates_small(spark):
    """Items never inserted probe to ~0 (only collision mass)."""
    sketch = cms_build(_zipf_tokens(spark), "v")
    ghosts = (spark.range(20)
              .select(F.concat_ws("-", F.lit("ghost"), F.col("id"))
                      .alias("v")))
    est = cms_probe(sketch, ghosts, "v").toPandas()
    assert (est["cms_est"] >= 0).all()
    assert (est["cms_est"] <= cms_err_bound(40_960)).all()


def test_cms_merge_is_sketch_of_concat(spark):
    """Cell-wise sum of shard sketches == sketch of the concatenated
    input — frame-exact (multiset semantics: overlap counts twice)."""
    a = _zipf_tokens(spark)
    b = (spark.range(5000, numPartitions=8)
         .select(F.concat_ws("-", F.lit("t"), F.col("id") % 7)
                 .alias("v")))
    merged = cms_merge(cms_build(a, "v"), cms_build(b, "v"))
    direct = cms_build(a.unionByName(b), "v")
    assert merged.exceptAll(direct).isEmpty()
    assert direct.exceptAll(merged).isEmpty()


def test_cms_bounded_state_and_md5_mode(spark):
    """Sketch frame is <= d*w rows at any input size; md5 twin mode
    obeys the same no-underestimate contract."""
    df = _zipf_tokens(spark)
    sk = cms_build(df, "v", hash_fn="md5")
    assert sk.count() <= CMS_D_DEFAULT * (1 << CMS_WP_DEFAULT)
    est = cms_probe(sk, df.distinct(), "v", hash_fn="md5")
    truth = df.groupBy("v").agg(F.count(F.lit(1)).alias("n"))
    bad = (est.join(truth, "v")
           .where(F.col("cms_est") < F.col("n")).count())
    assert bad == 0


@pytest.mark.fast
def test_cms_vocab_contract_on_fixture(spark, corpus_df):
    """cms_vocab over the fixture corpus: k rows, every no_underest
    true, and the heavy head (top tokens, far above collision mass)
    estimates exactly."""
    from miekki.stages.normalize import norm_text_col

    docs = corpus_df.select(norm_text_col("text").alias("norm"))
    out = cms_vocab(docs, k=50).toPandas().sort_values(
        "n", ascending=False, ignore_index=True)
    assert len(out) == 50
    assert out["no_underest"].all()
    head = out.head(5)
    assert (head["cms_est"] == head["n"]).all() or \
        ((head["cms_est"] - head["n"]) <= 0.02 * head["n"]).all()


# =====================================================================
# X45 — HDR histogram / quantile sketch
# =====================================================================

from miekki.sketches import (HDR_QS_DEFAULT, HDR_SUBS_DEFAULT,  # noqa: E402
                             hdr_bounds, hdr_histogram, hdr_quantiles,
                             len_quantiles)


def _lens(spark, rows, parts=8):
    """DataFrame (g, x) from a list of (group, value) pairs."""
    return spark.createDataFrame(rows, "g string, x long") \
        .repartition(parts)


def test_hdr_bin_monotone_and_bounds_partition_the_domain(spark):
    """bin(x) is monotone non-decreasing in x, and every x lands
    inside its own bin's [lo, hi] — including the sub-s octaves
    (p < 16) where floor-based bounds would collapse."""
    xs = list(range(0, 700)) + [10**k for k in range(3, 15)]
    df = spark.createDataFrame([(int(x),) for x in xs], "x long")
    lo, hi = hdr_bounds("bin", HDR_SUBS_DEFAULT)
    p = "shiftleft(CAST(1 AS BIGINT), length(bin(x)) - 1)"
    binned = (df.select("x", F.expr(p).alias("__p"))
              .select("x", F.expr(
                  f"CASE WHEN x <= 0 THEN -1 ELSE "
                  f"(length(bin(x)) - 1) * 16 + ((x - __p) * 16) DIV __p"
                  f" END").cast("int").alias("bin"))
              .select("x", "bin", F.expr(lo).alias("lo"),
                      F.expr(hi).alias("hi"))
              .orderBy("x").collect())
    prev_bin = None
    for r in binned:
        if prev_bin is not None:
            assert r["bin"] >= prev_bin, r
        prev_bin = r["bin"]
        if r["x"] > 0:
            assert r["lo"] <= r["x"] <= r["hi"], r


def test_hdr_histogram_bounded_and_mergeable(spark):
    """Histogram frame is tiny regardless of input size, and bin-wise
    sum of shard histograms == histogram of the concatenation."""
    a = _lens(spark, [("g", (i * 37) % 5000 + 1) for i in range(4000)])
    b = _lens(spark, [("g", (i * 11) % 800 + 1) for i in range(2000)])
    ha, hb = hdr_histogram(a, "x", ("g",)), hdr_histogram(b, "x", ("g",))
    from miekki.sketches import cms_merge
    merged = cms_merge(ha, hb)       # same bin-wise-sum algebra
    direct = hdr_histogram(a.unionByName(b), "x", ("g",))
    assert merged.exceptAll(direct).isEmpty()
    assert direct.exceptAll(merged).isEmpty()
    assert direct.count() <= 13 * 16   # <= bitlen(5000) octaves * s


def test_hdr_quantiles_contain_exact_rank_stat(spark):
    """For every (group, q): the exact r-th order statistic lies in
    the returned [lo, hi] — the sketch's deterministic guarantee."""
    import random
    rng = random.Random(7)
    rows = [("a", rng.randrange(1, 100_000)) for _ in range(3000)] + \
           [("b", rng.randrange(1, 50)) for _ in range(500)] + \
           [("c", 1)]
    out = len_quantiles(_lens(spark, rows), len_col="x",
                        group_col="g").collect()
    assert len(out) == 3 * 3
    by_group = {}
    for r in out:
        assert r["contained"], r
        assert r["lo"] <= r["exact"] <= r["hi"], r
        by_group.setdefault(r["g"], []).append(r)
    # sanity: p50 <= p90 <= p99 per group (exact column is ordered)
    for g, rs in by_group.items():
        rs = sorted(rs, key=lambda r: r["q"])
        assert rs[0]["exact"] <= rs[1]["exact"] <= rs[2]["exact"]
    # singleton group: every quantile is the single value
    assert all(r["exact"] == 1 and r["n_vals"] == 1
               for r in by_group["c"])

    # edge inputs, ungrouped and grouped: no values give no rows;
    # all-zero values land in bin -1 = [0, 0]; a single value answers
    # every quantile with its own bin
    for g in ((), ("g",)):
        def read_out(rows):
            df = _lens(spark, rows).select(*g, "x")
            return hdr_quantiles(hdr_histogram(df, "x", g), g).collect()

        assert read_out([]) == [], g
        zeros = read_out([("z", 0)] * 5)
        assert len(zeros) == 3, g
        assert all((r["n_vals"], r["bin"], r["lo"], r["hi"])
                   == (5, -1, 0, 0) for r in zeros), zeros
        one = read_out([("s", 12345)])
        assert len(one) == 3, g
        assert len({(r["r"], r["bin"], r["lo"], r["hi"])
                    for r in one}) == 1, one
        assert one[0]["lo"] <= 12345 <= one[0]["hi"], one


def test_hdr_relative_error_bound(spark):
    """Bin width / lo <= ~1/s for octaves >= s: the estimate interval
    is within ~6.7% relative width at s=16 for values >= 16."""
    rows = [("g", v) for v in range(16, 20_000, 7)]
    out = len_quantiles(_lens(spark, rows), len_col="x",
                        group_col="g").collect()
    for r in out:
        assert (r["hi"] - r["lo"] + 1) / r["lo"] <= 1 / 16 + 1e-9, r


def test_hdr_quantile_plan_bounded_windows_no_python(spark):
    """The read-out runs over histogram bins (bounded), never over raw
    rows; no Python eval anywhere."""
    hist = hdr_histogram(_lens(spark, [("g", i + 1) for i in range(100)]),
                         "x", ("g",))
    q = hdr_quantiles(hist, ("g",))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the bin aggregation precedes the per-group read-out aggregation
    assert plan.count("HashAggregate") >= 2


def test_cms_plan_single_exchange_build_no_window_no_python(spark):
    """Build = map-only explode + ONE Exchange with map-side sum
    partials; never a window, never Python eval."""
    sk = cms_build(_zipf_tokens(spark), "v")
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan   # partial+final
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hll_update_state_incremental_equals_batch(spark, tmp_path):
    """Three micro-batches merged through the persistent state table
    equal the one-shot build over their concatenation; replaying a
    batch is a no-op (at-least-once safety); state stays <= m rows."""
    from miekki.catalog import HadoopCatalog
    from miekki.sketches import hll_update_state

    cat = HadoopCatalog(spark, str(tmp_path / "hllcat"))
    batches = [_vals(spark, 4000, "s0"),
               _vals(spark, 3000, "s1"),
               _vals(spark, 2000, "s0")]      # overlaps batch 0
    for i, b in enumerate(batches):
        hll_update_state(cat, "hll_state", b, "v", run_id=f"b{i}")
    state = cat.read("hll_state")
    direct = hll_registers(
        batches[0].unionByName(batches[1]).unionByName(batches[2]), "v")
    assert state.exceptAll(direct).isEmpty()
    assert direct.exceptAll(state).isEmpty()
    assert state.count() <= 4096

    # replay batch 1: state must not change
    hll_update_state(cat, "hll_state", batches[1], "v", run_id="b9")
    replayed = cat.read("hll_state")
    assert replayed.exceptAll(direct).isEmpty()
    assert direct.exceptAll(replayed).isEmpty()

    # the live estimate tracks the true union cardinality (7000:
    # s0-0..3999 + s1-0..2999, batch 2 fully overlaps batch 0).
    # NB read the CURRENT generation — `state` above still points at
    # the file generation the replay's overwrite swept
    est = hll_estimate(replayed).collect()[0]["est_distinct"]
    assert abs(est / 7000 - 1.0) <= 5 * hll_rel_err(12)


def test_cms_update_state_exactly_once(spark, tmp_path):
    """Cell-sum is not replay-idempotent, so the state update is
    bseq-gated: in-order batches apply, a replayed or stale bseq is
    skipped, and the final cells equal the one-shot build over the
    applied batches only."""
    from miekki.catalog import HadoopCatalog
    from miekki.sketches import cms_update_state

    cat = HadoopCatalog(spark, str(tmp_path / "cmscat"))
    b0, b1 = _zipf_tokens(spark), _vals(spark, 3000, "c")
    assert cms_update_state(cat, "cms_state", b0, "v", bseq=1)
    assert cms_update_state(cat, "cms_state", b1, "v", bseq=2)
    # replay of bseq 2 and a stale bseq 1: both skipped
    assert not cms_update_state(cat, "cms_state", b1, "v", bseq=2)
    assert not cms_update_state(cat, "cms_state", b0, "v", bseq=1)

    state = cat.read("cms_state")
    cells = state.where(F.col("row_idx") >= 0)
    direct = cms_build(b0.unionByName(b1), "v")
    assert cells.exceptAll(direct).isEmpty()
    assert direct.exceptAll(cells).isEmpty()
    # the rider row records the last applied bseq
    assert state.where("row_idx = -1").first()["cnt"] == 2


def test_cms_update_state_nonstring_group_col(spark, tmp_path):
    """The bseq rider's NULL group columns take the sketch's actual
    dtypes (ADVICE r5 low): with an int group column the persisted
    state must keep IntegerType across merges, not coerce to string."""
    from miekki.catalog import HadoopCatalog
    from miekki.sketches import cms_build, cms_update_state

    cat = HadoopCatalog(spark, str(tmp_path / "cmscat_int"))
    b0 = spark.createDataFrame([(1, "a"), (1, "b"), (2, "a")],
                               "g int, v string")
    b1 = spark.createDataFrame([(1, "a"), (2, "c")], "g int, v string")
    assert cms_update_state(cat, "cms_gstate", b0, "v", bseq=1,
                            group_cols=("g",))
    assert cms_update_state(cat, "cms_gstate", b1, "v", bseq=2,
                            group_cols=("g",))
    state = cat.read("cms_gstate")
    assert state.schema["g"].dataType.simpleString() == "int"
    direct = cms_build(b0.unionByName(b1), "v", ("g",))
    cells = state.where(F.col("row_idx") >= 0)
    assert cells.exceptAll(direct).isEmpty()
    assert direct.exceptAll(cells).isEmpty()


def test_hdr_quantiles_no_single_partition_window(spark):
    """The read-out plans no Window, grouped or ungrouped, so no
    empty-spec WindowExec (VERDICT r5 wrong #2) or a spec that only
    dodges it can come back; one groupBy over the bin frame keeps the
    ungrouped plan at <= 6 Exchanges."""
    from miekki.sketches import hdr_histogram, hdr_quantiles

    df = spark.range(5000).selectExpr("id % 997 + 1 AS len",
                                      "CAST(id % 3 AS STRING) AS g")
    plans = {g: (hdr_quantiles(hdr_histogram(df, "len", g), g)
                 ._jdf.queryExecution().executedPlan().toString())
             for g in ((), ("g",))}
    for g, plan in plans.items():
        assert "Window" not in plan, (g, plan)
        # the read-out consumes the aggregated bin frame
        assert "HashAggregate" in plan
    assert plans[()].count("Exchange") <= 6, plans[()]


def test_len_quantiles_evidence_guard(spark):
    """The exact-rank evidence wrapper refuses production-sized
    inputs (VERDICT r5 wrong #3)."""
    import pytest as _pytest

    from miekki.sketches import len_quantiles

    df = spark.range(300).selectExpr("id % 7 + 1 AS n_chars",
                                     "'en' AS lang")
    assert len_quantiles(df, max_rows=1000).count() > 0
    with _pytest.raises(ValueError, match="EVIDENCE"):
        len_quantiles(df, max_rows=100)
