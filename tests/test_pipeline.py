"""End-to-end gates (SURVEY.md §5.3/§5.5, FIXTURES.md F2):
cluster labels == networkx oracle over the same verified edges,
dup-pair recall >= 0.99 (J >= 0.72 gate), precision >= 0.95,
exactly one canonical per cluster, determinism across shuffle
partitionings."""

import os

import pandas as pd
import pytest

from oracle.cc import cc_labels as oracle_cc
from oracle.xxh64 import spark_xxhash64

GOLDEN_LABELS = os.path.join(os.path.dirname(__file__), "golden",
                             "cluster_labels_sf0001.parquet")


def test_labels_match_oracle_cc(fixture_corpus, pipeline_result):
    corpus_pdf, _, _ = fixture_corpus
    labels_pdf, edges_pdf = pipeline_result
    all_ids = [spark_xxhash64(u) for u in corpus_pdf.url]
    olab = oracle_cc(
        list(edges_pdf[["src", "dst"]].itertuples(index=False, name=None)),
        all_ids,
    )
    assert len(labels_pdf) == len(corpus_pdf)
    mism = [(r.doc_id, r.cluster_id, olab[r.doc_id])
            for r in labels_pdf.itertuples() if olab[r.doc_id] != r.cluster_id]
    assert not mism, mism[:5]


def test_recall_gate(fixture_corpus, pipeline_result):
    """>= 0.99 on pairs at/above the designed-recall J (SURVEY.md §2.2);
    contain pairs are the M5 substring pass and excluded until then."""
    _, truth_pairs, _ = fixture_corpus
    labels_pdf, _ = pipeline_result
    lmap = dict(zip(labels_pdf.doc_id, labels_pdf.cluster_id))
    gate = truth_pairs[(truth_pairs.kind != "negative")
                       & (truth_pairs.jaccard >= 0.72)]
    hits = sum(lmap[r.src] == lmap[r.dst] for r in gate.itertuples())
    assert hits / len(gate) >= 0.99, f"{hits}/{len(gate)}"


def test_precision_gate(truth_components, pipeline_result):
    """Same-cluster pairs must overwhelmingly sit in one TRUE dup
    component (planted ∪ organic J>=0.7 closure) — >= 0.95
    (FIXTURES.md F2; organic near-dups in the synthetic base corpus
    are legitimate merges, see conftest.truth_components)."""
    labels_pdf, _ = pipeline_result
    good = bad = 0
    for _, grp in labels_pdf.groupby("cluster_id"):
        ids = grp.doc_id.tolist()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if truth_components[ids[i]] == truth_components[ids[j]]:
                    good += 1
                else:
                    bad += 1
    assert good / max(1, good + bad) >= 0.95, (good, bad)


def test_negatives_not_merged(fixture_corpus, pipeline_result):
    _, truth_pairs, _ = fixture_corpus
    labels_pdf, _ = pipeline_result
    lmap = dict(zip(labels_pdf.doc_id, labels_pdf.cluster_id))
    neg = truth_pairs[truth_pairs.kind == "negative"]
    merged = sum(lmap[r.src] == lmap[r.dst] for r in neg.itertuples())
    assert merged == 0, f"{merged} negative pairs merged"


def test_one_canonical_per_cluster(pipeline_result):
    labels_pdf, _ = pipeline_result
    per = labels_pdf.groupby("cluster_id").is_canonical.sum()
    assert (per == 1).all()


def test_canonical_is_earliest(pipeline_result):
    labels_pdf, _ = pipeline_result
    for _, grp in labels_pdf.groupby("cluster_id"):
        first = grp.sort_values(["warc_ts", "url"]).iloc[0]
        assert first.is_canonical


def test_determinism_across_partitionings(spark, corpus_df, pipeline_result):
    """T5 must be identical under a different shuffle partitioning
    (SURVEY.md §5.5) — deterministic ids + min-aggregation guarantee it."""
    from miekki.pipeline import dedup_labels

    labels_pdf, _ = pipeline_result
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        again = dedup_labels(corpus_df.repartition(5)).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    a = labels_pdf[["doc_id", "cluster_id", "is_canonical"]].sort_values("doc_id").reset_index(drop=True)
    b = again[["doc_id", "cluster_id", "is_canonical"]].sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_run_labels_equal_dedup_labels(spark, corpus_df, tmp_path):
    """The durable run() and the in-memory dedup_labels compose the
    same stage graph, so they give the same T5; run()'s lineage keys
    chain the upstream output snapshots (the form catalogs written
    before StageRunner derived the keys resume from)."""
    from miekki.catalog import HadoopCatalog
    from miekki.pipeline import dedup_labels, run

    cat = HadoopCatalog(spark, str(tmp_path / "cat"))
    cat.overwrite("corpus", corpus_df, run_id="ingest")
    res = run(spark, cat, run_id="t", n_buckets=4)
    cols = ["doc_id", "cluster_id", "url", "warc_ts", "is_canonical"]
    a, b = (df.select(*cols).toPandas().sort_values("doc_id")
            .reset_index(drop=True)
            for df in (res["labels"], dedup_labels(corpus_df)))
    pd.testing.assert_frame_equal(a, b)

    snaps = [cat.snapshot_id(t) for t in ("corpus", "docs_norm",
                                          "signatures", "candidate_edges")]
    lin = cat.read("lineage").where("status = 'done'").toPandas()
    keys = dict(zip(lin.stage, lin.input_snapshot))
    assert keys == {"docs_norm": snaps[0],
                    "signatures": snaps[1],
                    "candidate_edges": "+".join(snaps[1:3]),
                    "cluster_labels": "+".join(snaps[1:4])}


def test_recrawled_urls_fold_to_earliest_capture(spark, fixture_corpus):
    """T0 carrying a url more than once (a re-crawl appended instead of
    upserted) still gives one T5 row per doc, stamped with the url's
    earliest capture, and one canonical per cluster: 200 fixture docs
    plus 5 copies crawled 3 days earlier and 3 crawled 3 days later
    with changed text."""
    from miekki.pipeline import dedup_labels

    corpus_pdf, _, _ = fixture_corpus
    base = corpus_pdf[["url", "warc_ts", "html", "text", "lang"]].iloc[:200]
    days = pd.Timedelta(days=3)
    earlier = base.iloc[:5].assign(warc_ts=base.warc_ts.iloc[:5] - days)
    later = base.iloc[5:8].assign(warc_ts=base.warc_ts.iloc[5:8] + days,
                                  text=base.text.iloc[5:8] + " recrawled")
    corpus = spark.createDataFrame(pd.concat([base, earlier, later]))
    labels = dedup_labels(corpus).toPandas()
    first = corpus.toPandas().groupby("url").warc_ts.min()
    assert len(labels) == labels.doc_id.nunique() == 200
    assert (labels.warc_ts.values == first[labels.url].values).all()
    assert (labels.groupby("cluster_id").is_canonical.sum() == 1).all()


def test_golden_labels(pipeline_result):
    """Freeze end-to-end semantics: any drift fails loudly
    (FIXTURES.md F3). Regenerate via scripts/gen_golden.py ONLY on an
    intentional config change."""
    labels_pdf, _ = pipeline_result
    if not os.path.exists(GOLDEN_LABELS):
        pytest.skip("golden labels not generated yet (scripts/gen_golden.py)")
    golden = pd.read_parquet(GOLDEN_LABELS)
    got = labels_pdf[["doc_id", "cluster_id"]].sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, golden)
