"""Physical-plan assertions (SURVEY.md §4: 'rely on and verify via
df.explain in tests'): predicate pushdown reaches the parquet scan,
column pruning holds at the Arrow boundary, the hot SQL path is
whole-stage codegen'd, and the tiny side of the recall join
broadcasts."""

import re

import pytest
from pyspark.sql import functions as F

from miekki.config import DedupConfig

CFG = DedupConfig()
SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.fast


@pytest.fixture(autouse=True)
def _fresh_plans(spark):
    """Other tests cache() the same parquet inputs; Spark substitutes
    cached InMemoryRelations for scans, which would hide the
    pushdown/pruning behavior these tests assert on."""
    spark.catalog.clearCache()
    yield


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_to_parquet(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(docs.where(F.col("lang") == "en").select("doc_id"))
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters:.*lang.*", plan), plan


def test_column_pruning_at_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(docs.select("doc_id", "lang"))
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m and "text" not in m.group(1), m.group(0)


def test_shingle_path_is_codegen(spark):
    from miekki.stages.normalize import normalize

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "url", F.col("doc_id").cast("string")).withColumn(
        "warc_ts", F.current_timestamp())
    plan = _plan(normalize(docs, CFG))
    # normalize + doc_id hash projections are whole-stage codegen'd
    # ("codegen id" markers in formatted mode); shingling itself runs
    # inside the fused signature kernel, not in SQL
    assert "codegen id" in plan
    assert "xxhash64" in plan


def test_signature_stage_prunes_columns(spark, corpus_df, tmp_path):
    """Only doc_id + norm_text may cross the Arrow boundary — html
    must be pruned out before mapInArrow (SURVEY.md §4)."""
    from miekki.stages.normalize import normalize
    from miekki.stages.signatures import signatures_from_text

    # a parquet source, so the plan has a scan whose schema can be read
    # (an in-memory DataFrame shows none)
    path = str(tmp_path / "corpus.parquet")
    corpus_df.write.parquet(path)
    corpus = spark.read.parquet(path)
    assert "html" in corpus.columns
    sigs = signatures_from_text(normalize(corpus, CFG), CFG)
    plan = _plan(sigs)
    m = re.search(r"ArrowEvalPython|MapInArrow", plan)
    assert m, plan
    # the scan that feeds the kernel must not carry html
    scan_schemas = re.findall(r"ReadSchema: (.*)", plan)
    assert scan_schemas, plan
    for s in scan_schemas:
        assert "html" not in s, s


# Spark jobs dedup_labels runs while building its result on the
# fixture corpus: the two checkpoints, the CC rounds and the AQE query
# stages they cover. A stage-graph change that adds a materialization
# changes it.
DEDUP_LABELS_JOBS = 25


def test_recall_truth_join_broadcasts(spark, corpus_df, fixture_corpus):
    from miekki.pipeline import dedup_labels

    _, truth_pairs, _ = fixture_corpus
    sc = spark.sparkContext
    sc.setJobGroup("dedup_labels_jobs", "dedup_labels")
    try:
        labels = dedup_labels(corpus_df, CFG).select("doc_id", "cluster_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("dedup_labels_jobs")
    assert len(jobs) == DEDUP_LABELS_JOBS, sorted(jobs)
    tp = spark.createDataFrame(truth_pairs)
    j = F.broadcast(tp).join(
        labels.withColumnRenamed("doc_id", "src"), "src")
    assert "BroadcastHashJoin" in _plan(j)


def test_bucketed_t2_readback_joins_shuffle_free(spark, corpus_df, tmp_path):
    """SURVEY.md §4.5 / SCALE.md claim made real (r1 VERDICT missing
    #1): T2 written bucketed by doc_id reads back with bucket-aware
    partitioning, so (a) a doc_id self-join plans with ZERO exchanges
    and (b) the verify join shuffles only the edge side."""
    from miekki.catalog import HadoopCatalog
    from miekki.stages.normalize import normalize
    from miekki.stages.signatures import signatures_from_text
    from miekki.stages.verify import verify_edges

    cat = HadoopCatalog(spark, str(tmp_path / "cat"))
    docs = normalize(corpus_df, CFG)
    cat.overwrite("signatures", signatures_from_text(docs, CFG), "t0",
                  bucket_by=(8, ["doc_id"]))

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        a = cat.read("signatures").select("doc_id", "simhash")
        b = cat.read("signatures").select("doc_id", "n_shingles")
        jplan = a.join(b, "doc_id")._jdf.queryExecution() \
            .executedPlan().toString()
        assert jplan.count("Exchange") == 0, jplan

        sigs = cat.read("signatures")
        edges = spark.range(50).select(
            (F.col("id") * 7).alias("src"), (F.col("id") * 11).alias("dst"))
        vplan = verify_edges(edges, sigs, CFG)._jdf.queryExecution() \
            .executedPlan().toString()
        # 2 exchanges: the edge side into each join; NONE above the
        # bucketed signature scans (4 would mean both sides shuffle)
        assert vplan.count("Exchange") <= 2, vplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_bucketed_readback_survives_reregistration(spark, corpus_df, tmp_path):
    """The bucket spec lives in the manifest, not the session: a fresh
    read (simulating a resumed session) re-registers the table and
    returns identical rows."""
    from miekki.catalog import HadoopCatalog
    from miekki.stages.normalize import normalize
    from miekki.stages.signatures import signatures_from_text

    cat = HadoopCatalog(spark, str(tmp_path / "cat2"))
    docs = normalize(corpus_df, CFG)
    sigs = signatures_from_text(docs, CFG)
    cat.overwrite("signatures", sigs, "t0", bucket_by=(4, ["doc_id"]))
    got = cat.read("signatures")
    assert got.count() == docs.count()
    # snapshot flips on rewrite, table points at the new data dir
    s1 = cat.snapshot_id("signatures")
    cat.overwrite("signatures", sigs.limit(10), "t1",
                  bucket_by=(4, ["doc_id"]))
    assert cat.snapshot_id("signatures") != s1
    assert cat.read("signatures").count() == 10


def _tree_counts(df, names=("Exchange", "ReusedExchange", "Sort", "Window")):
    """Node counts in the operator tree of the formatted plan."""
    tree = _plan(df).split("\n\n", 1)[0]
    return tuple(len(re.findall(rf"\b{n} \(\d+\)", tree)) for n in names)


def test_bucket_pairing_plans_pinned(spark, corpus_df):
    """The three candidate passes built on ``lsh.bucket_pairs`` keep
    their shuffle shape: per level one Exchange, the level-2 input and
    the pair branches reading it back through ReusedExchange. As
    (Exchange, ReusedExchange, Sort, Window) over checkpointed inputs,
    AQE off; in ``executedPlan().toString().count("Exchange")`` terms
    (a ReusedExchange line names its source too) these are 5, 9 and 9,
    the last being 8 for pair generation plus the cap's (src, dst)
    Exchange. An extra shuffle, or a lost reuse, changes a count."""
    from miekki.stages.lsh import bucket_pairs, minhash_candidate_edges
    from miekki.stages.normalize import normalize
    from miekki.stages.signatures import signatures_from_text
    from miekki.stages.simhash import _block_table
    from miekki.stages.substr import anchor_table, candidate_anchor_pairs

    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        docs = normalize(corpus_df, CFG).localCheckpoint()
        sigs = signatures_from_text(docs, CFG).localCheckpoint()
        anchors = anchor_table(docs, CFG).localCheckpoint()
        sim_cand = bucket_pairs(_block_table(sigs, CFG), ["block_id", "block_val"],
                                CFG.simhash_chain).dropDuplicates(["src", "dst"])
        assert _tree_counts(minhash_candidate_edges(sigs, CFG)) == (3, 1, 3, 3)
        assert _tree_counts(sim_cand) == (3, 3, 5, 5)
        assert _tree_counts(candidate_anchor_pairs(anchors, CFG)) == (3, 3, 7, 7)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
