"""Tier-dedup operators (SURVEY.md §2.0c X27–X29) unit pins.

The driver cross-check (dedup_tiers / cluster_cap / mix_sample keys)
compares full outputs against independently written DuckDB twins at
sf0.01; these tests pin the semantics on crafted rows — priority
order, unknown origins, cap exactness vs a single-level reference,
rate determinism — the places a shared twin bug could hide.
"""

import pytest
from pyspark.sql import Window, functions as F

from miekki.tiers import (TIER_PRIORITY, capped_topk, cluster_cap,
                          mix_sample, tier_labels)


@pytest.fixture(scope="module")
def tier_case(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    # doc 1: exact+minhash (exact wins); doc 2: minhash+simhash;
    # doc 3: substr; doc 4: simhash only; doc 5: unknown origin
    # (ranks weakest, but still a dup — never 'unique'); 6,7: no edges
    edges = spark.createDataFrame(
        [(1, 2, "minhash"), (1, 3, "substr"), (1, 1, "exact"),
         (2, 4, "simhash"), (5, 5, "mystery")],
        ["src", "dst", "origin"])
    return docs, edges


def test_tier_priority(spark, tier_case):
    docs, edges = tier_case
    out = {r["doc_id"]: r["tier"]
           for r in tier_labels(docs, edges).collect()}
    assert out == {1: "exact", 2: "minhash", 3: "substr", 4: "simhash",
                   5: "unique", 6: "unique", 7: "unique"}
    # doc 5's unknown origin ranks below every named tier; the tier
    # CASE has no name for rank len(priority) so it falls to unique —
    # pinned here so a future origin rename can't silently demote docs
    assert "mystery" not in TIER_PRIORITY


def test_tier_labels_total(spark, tier_case):
    docs, edges = tier_case
    out = tier_labels(docs, edges)
    assert out.count() == docs.count()          # exactly one row per doc
    assert out.where(F.col("tier").isNull()).count() == 0


def test_capped_topk_matches_single_level(spark):
    """Two-level selection == the naive one-window selection on a
    corpus with one hot key (the exactness argument, executed), keyed
    by one column and by two (the cross-corpus (band_id, band_hash)
    bucket shape, ranked by doc_id itself)."""
    rows = [(i, "hot" if i % 4 else f"cold{i}", i % 3, (i * 37) % 101)
            for i in range(1, 401)]
    df = spark.createDataFrame(rows, ["doc_id", "key", "key2", "rk"])
    for keys, rank in ((["key"], "rk"), (["key", "key2"], "doc_id")):
        got = capped_topk(df, keys, k=5, rank_col=rank, salts=7)
        w = Window.partitionBy(*keys).orderBy(rank, "doc_id")
        want = (df.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= 5)
                .withColumn("rn", F.col("rn").cast("int")))
        assert got.exceptAll(want).count() == 0, keys
        assert want.exceptAll(got).count() == 0, keys


def test_cluster_cap_bounds_and_singletons(spark):
    labels = spark.createDataFrame(
        [(i, i % 3 if i < 30 else i) for i in range(1, 40)],
        ["doc_id", "cluster_id"])
    out = cluster_cap(labels, k=4, salts=4).toPandas()
    sizes = out.groupby("cluster_id").size()
    assert (sizes <= 4).all()
    # singleton clusters survive with rn == 1 (docs 30..39)
    singles = out[out["cluster_id"] >= 30]
    assert len(singles) == 10 and (singles["rn"] == 1).all()
    # deterministic: same survivors under a different partitioning
    out2 = cluster_cap(labels.repartition(7), k=4, salts=4).toPandas()
    assert sorted(map(tuple, out.values.tolist())) == \
        sorted(map(tuple, out2.values.tolist()))


def test_mix_sample_rates_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "fr") for i in range(1, 2001)],
        ["doc_id", "lang"])
    rk = F.pmod(F.col("doc_id") * 2654435761, F.lit(10000))
    out = mix_sample(docs, rates=(("en", 0.5),), stratum_col="lang",
                     default_rate=1.0, rank_col=rk).toPandas()
    assert len(out) == 2000                      # tagged, never dropped
    kept = out.groupby("stratum")["kept"].mean()
    assert kept["fr"] == 1.0                     # default rate applies
    assert 0.4 < kept["en"] < 0.6                # ~half, hash-uniform
    # membership is a pure function of the key — repartition-stable
    out2 = mix_sample(docs.repartition(13), rates=(("en", 0.5),),
                      stratum_col="lang", default_rate=1.0,
                      rank_col=rk).toPandas()
    m1 = dict(zip(out["doc_id"], out["kept"]))
    m2 = dict(zip(out2["doc_id"], out2["kept"]))
    assert m1 == m2


def test_tier_labels_randomized_parity(spark):
    """Seeded random edge soup (including self-loops, duplicate
    pairs, unknown origins, docs outside the edge set) vs a
    pure-Python recomputation of strongest-tier-per-endpoint."""
    import random

    rng = random.Random(42)
    n_docs = 300
    origins = list(TIER_PRIORITY) + ["mystery", "exact"]
    edges = [(rng.randrange(n_docs), rng.randrange(n_docs),
              rng.choice(origins)) for _ in range(500)]
    docs = spark.createDataFrame([(i,) for i in range(n_docs)],
                                 ["doc_id"])
    edf = spark.createDataFrame(edges, ["src", "dst", "origin"])

    rank = {name: i for i, name in enumerate(TIER_PRIORITY)}
    best: dict[int, int] = {}
    for s, d, o in edges:
        r = rank.get(o, len(TIER_PRIORITY))
        for e in (s, d):
            best[e] = min(best.get(e, r), r)
    want = {i: (TIER_PRIORITY[best[i]]
                if i in best and best[i] < len(TIER_PRIORITY)
                else "unique")
            for i in range(n_docs)}

    got = {r["doc_id"]: r["tier"]
           for r in tier_labels(docs, edf).collect()}
    assert got == want


def test_mix_sample_null_stratum_gets_default(spark):
    docs = spark.createDataFrame([(1, "en"), (2, None)],
                                 ["doc_id", "lang"])
    out = {r["doc_id"]: r["kept"] for r in
           mix_sample(docs, rates=(("en", 1.0),), stratum_col="lang",
                      key_col="doc_id", default_rate=0.0).collect()}
    assert out == {1: True, 2: False}


def test_pipeline_doc_tiers_stage(spark, corpus_df, tmp_path):
    """run(emit_tiers=True) materializes a doc_tiers table consistent
    with the run's own labels: tier != unique exactly for docs whose
    cluster has >1 member (every such doc is an edge endpoint), and
    every md5-identical family is tiered 'exact' end to end."""
    from miekki import pipeline
    from miekki.catalog import HadoopCatalog

    cat = HadoopCatalog(spark, str(tmp_path / "cat_tiers"))
    cat.overwrite("corpus", corpus_df.limit(400), run_id="ingest")
    r = pipeline.run(spark, cat, run_id="t1", n_buckets=4,
                     emit_tiers=True)
    assert "doc_tiers" in r["executed"]
    tiers = cat.read("doc_tiers").toPandas()
    labels = r["labels"].toPandas()
    assert len(tiers) == len(labels) == r["n_docs"]

    tmap = dict(zip(tiers.doc_id, tiers.tier))
    sizes = labels.groupby("cluster_id")["doc_id"].transform("size")
    multi = set(labels.doc_id[sizes.values > 1])
    assert {d for d, t in tmap.items() if t != "unique"} == multi

    # byte-identical norm_text ⇒ tier 'exact' on every family member
    norm = cat.read("docs_norm").toPandas()
    fam = norm.groupby("norm_text")["doc_id"].apply(list)
    exact_docs = [d for ds in fam[fam.str.len() > 1] for d in ds]
    assert exact_docs, "fixture must contain exact-dup families"
    assert all(tmap[d] == "exact" for d in exact_docs)

    # resume: a second run skips the tier stage too
    r2 = pipeline.run(spark, cat, run_id="t2", n_buckets=4,
                      emit_tiers=True)
    assert "doc_tiers" in r2["skipped"]


def test_mix_sample_broadcast_no_corpus_shuffle(spark):
    """The rates join must broadcast; the corpus side must reach the
    projection without an Exchange."""
    docs = spark.createDataFrame([(1, "en"), (2, "fr")],
                                 ["doc_id", "lang"])
    plan = mix_sample(docs, rates=(("en", 0.5), ("fr", 1.0)),
                      key_col="doc_id")._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_mix_sample_empty_rates_uses_default(spark):
    """rates=() is a legitimate 'default rate for every stratum' call
    (reachable via `curate --mix \"\"`) — it must not crash on the
    empty-frame schema inference, and duplicate strata must be
    rejected loudly (they would duplicate docs through the join)."""
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "fr") for i in range(1, 401)],
        ["doc_id", "lang"])
    rk = F.pmod(F.col("doc_id") * 2654435761, F.lit(10000))
    out = mix_sample(docs, rates=(), stratum_col="lang",
                     default_rate=0.5, rank_col=rk).toPandas()
    assert len(out) == 400
    assert 0.35 < out["kept"].mean() < 0.65
    with pytest.raises(ValueError, match="duplicate strata"):
        mix_sample(docs, rates=(("en", 0.5), ("en", 0.9)),
                   stratum_col="lang", rank_col=rk)


# ---------------------------------------------------------------------
# X40 — soft dedup (cluster-size-aware probabilistic retention)
# ---------------------------------------------------------------------

def test_soft_dedup_retention_scales_inverse_sqrt(spark):
    """alpha=0.5 keeps ~n^0.5 of an n-member cluster: with uniform
    ranks the EXACT kept count is |{rk < floor(B/sqrt(n))}| (+ the
    min-rank member if it wasn't already below) — recomputed here in
    Python per cluster and compared member-for-member."""
    import math

    from miekki.tiers import MIX_BUCKETS, soft_dedup

    rows = [(cid * 1000 + i, cid)
            for cid, n in enumerate([1, 2, 10, 100, 400], start=1)
            for i in range(n)]
    labels = spark.createDataFrame(rows, ["doc_id", "cluster_id"])
    out = soft_dedup(labels, alpha=0.5).toPandas()
    assert len(out) == len(rows)
    for cid, grp in out.groupby("cluster_id"):
        assert (grp["n_members"] == len(grp)).all()
    # replicate the rank expression exactly: xxhash64('soft', doc_id)
    ranked = labels.select(
        "doc_id", "cluster_id",
        F.pmod(F.xxhash64(F.lit("soft"), F.col("doc_id")),
               F.lit(MIX_BUCKETS)).alias("rk")).toPandas()
    merged = out.merge(ranked, on=["doc_id", "cluster_id"])
    for cid, grp in merged.groupby("cluster_id"):
        thresh = math.floor(MIX_BUCKETS / math.sqrt(len(grp)))
        min_rk = grp["rk"].min()
        expect = (grp["rk"] < thresh) | (grp["rk"] == min_rk)
        assert (grp["kept"] == expect).all(), cid


def test_soft_dedup_always_keeps_one_and_alpha_extremes(spark):
    """Every cluster retains >= 1 survivor even at alpha=1 (threshold
    floor(B/n) can be tiny); alpha=0 keeps everything."""
    from miekki.tiers import soft_dedup

    rows = [(i, i // 50) for i in range(500)]
    labels = spark.createDataFrame(rows, ["doc_id", "cluster_id"])
    hard = soft_dedup(labels, alpha=1.0).toPandas()
    kept_per = hard[hard["kept"]].groupby("cluster_id").size()
    assert set(kept_per.index) == set(range(10))   # all 10 clusters
    assert (kept_per >= 1).all()
    soft0 = soft_dedup(labels, alpha=0.0).toPandas()
    assert soft0["kept"].all()                     # alpha=0 keeps all


def test_soft_dedup_deterministic_under_repartition(spark):
    """Membership is a pure hash function of doc_id — identical under
    a different partitioning (the composition-safety contract X26/X29
    also pin)."""
    from miekki.tiers import soft_dedup

    rows = [(i, i // 30) for i in range(300)]
    labels = spark.createDataFrame(rows, ["doc_id", "cluster_id"])
    a = soft_dedup(labels).toPandas().sort_values("doc_id")
    b = soft_dedup(labels.repartition(13)).toPandas() \
        .sort_values("doc_id")
    assert list(a["kept"]) == list(b["kept"])


def test_soft_dedup_no_window_over_members(spark):
    """Scale shape: cluster stats come from a groupBy (partial-agg
    collapsible), never a window over raw members — a 10^8-member
    cluster must not serialize into one task."""
    from miekki.tiers import soft_dedup

    labels = spark.createDataFrame([(1, 1), (2, 1)],
                                   ["doc_id", "cluster_id"])
    plan = soft_dedup(labels)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan
