import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("MIEKKI_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "fast: the per-commit tier (CC, golden signatures, "
        "kernel parity, plan pins, sf0.001 contracts); "
        "run with -m fast, about 2 min on 4 cores")


@pytest.fixture(scope="session")
def spark():
    import shutil
    import tempfile

    from miekki.session import build_spark

    # event log: the streaming flat-shuffle and CC task-count tests
    # read per-stage metrics from it (spark.ui stays off). The whole
    # suite writes ~1.2 GB of JSON, so it goes to disk, not tmpfs
    # (RAM), and is removed at teardown.
    evlog = tempfile.mkdtemp(prefix="miekki_evlog_")
    s = build_spark(
        master="local[8]",
        app_name="miekki-tests",
        shuffle_partitions=8,
        extra_conf={
            # the 24g production default lets G1 grow the heap past
            # the RAM of a small test host, where the kernel then
            # kills the JVM mid-suite; the sf0.001 fixtures need a
            # fraction of this
            "spark.driver.memory": os.environ.get("MIEKKI_DRIVER_MEM", "4g"),
            "spark.eventLog.enabled": "true",
            # single uncompressed file so eventlog.Tail can follow it
            # by byte offset (Spark 4 defaults to a rolling zstd v2
            # layout)
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": evlog},
    )
    yield s
    s.stop()
    shutil.rmtree(evlog, ignore_errors=True)


@pytest.fixture(scope="session")
def fixture_corpus():
    """(corpus_pdf, truth_pairs, truth_clusters) for sf0.001 — the
    deterministic planted-dup corpus (FIXTURES.md)."""
    from miekki.fixtures import make_corpus

    docs = pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"))
    return make_corpus(docs)


@pytest.fixture(scope="session")
def corpus_df(spark, fixture_corpus):
    corpus_pdf, _, _ = fixture_corpus
    return spark.createDataFrame(
        corpus_pdf[["url", "warc_ts", "html", "text", "lang"]]
    ).cache()


@pytest.fixture(scope="session")
def truth_components(fixture_corpus):
    """Ground-truth dup components: planted pairs ∪ ORGANIC near-dups.

    The synthetic base corpus contains organically near-identical
    texts (same generator word pool, J up to ~0.98, even across
    langs) — merging them is correct behavior, so the truth must be
    the transitive closure over planted edges plus all-pairs true
    char-5 Jaccard >= 0.7 (the pinned dup definition)."""
    from miekki.textproc import char_shingles, normalize_text
    from oracle.cc import cc_labels as oracle_cc
    from oracle.xxh64 import spark_xxhash64

    corpus_pdf, truth_pairs, _ = fixture_corpus
    ids = [spark_xxhash64(u) for u in corpus_pdf.url]
    sets = [frozenset(char_shingles(normalize_text(t), 5))
            for t in corpus_pdf.text]
    edges = [(r.src, r.dst) for r in truth_pairs.itertuples()
             if r.kind != "negative"]
    n = len(ids)
    for i in range(n):
        si = sets[i]
        for j in range(i + 1, n):
            sj = sets[j]
            inter = len(si & sj)
            if inter and inter / (len(si) + len(sj) - inter) >= 0.7:
                edges.append((ids[i], ids[j]))
    return oracle_cc(edges, ids)


@pytest.fixture(scope="session")
def pipeline_result(spark, corpus_df):
    """Run the full pipeline ONCE per test session; reused by the
    e2e/recall/golden tests. Returns (labels_pdf, edges_pdf): labels
    are cluster_labels over exactly the edge set returned."""
    from miekki.config import DedupConfig
    from miekki.pipeline import cluster_labels, dedup_edges
    from miekki.stages.normalize import normalize
    from miekki.stages.signatures import signatures_from_text

    cfg = DedupConfig()
    docs = normalize(corpus_df, cfg).localCheckpoint()
    sigs = signatures_from_text(docs, cfg).localCheckpoint()
    edges = dedup_edges(docs, sigs, cfg).localCheckpoint()
    labels = cluster_labels(edges, corpus_df, cfg)
    return labels.toPandas(), edges.toPandas()
