"""Spark stage output vs the pure-Python oracle, bit-for-bit
(SURVEY.md §5.1): normalize, shingle counts, signatures, band hashes —
on real fixture-corpus texts (en/fr/es/zh/de)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from miekki.config import DedupConfig
from miekki.stages.lsh import band_table
from miekki.stages.normalize import normalize
from miekki.stages.signatures import signatures_from_text
from oracle import sketches
from oracle.xxh64 import spark_xxhash64
from miekki.textproc import normalize_text

CFG = DedupConfig()


def _sample(corpus_pdf, n=40):
    """Deterministic stratified sample: first n//5 urls per lang."""
    out = []
    for lang, grp in corpus_pdf.groupby("lang"):
        out.extend(grp.url.head(n // 5).tolist())
    return out


def test_normalize_matches_oracle(spark, corpus_df, fixture_corpus):
    corpus_pdf, _, _ = fixture_corpus
    urls = _sample(corpus_pdf)
    rows = (normalize(corpus_df.where(corpus_df.url.isin(urls)), CFG)
            .select("url", "doc_id", "norm_text").collect())
    assert len(rows) == len(urls)
    by_url = corpus_pdf.set_index("url").text
    for r in rows:
        assert r.doc_id == spark_xxhash64(r.url)
        assert r.norm_text == normalize_text(by_url[r.url]), r.url


def _sigs(corpus_df, urls):
    docs = normalize(corpus_df.where(corpus_df.url.isin(urls)), CFG)
    return signatures_from_text(docs, CFG)


def test_shingles_match_oracle(spark, corpus_df, fixture_corpus):
    corpus_pdf, _, _ = fixture_corpus
    urls = _sample(corpus_pdf)
    got = {r.doc_id: r.n_shingles
           for r in _sigs(corpus_df, urls).select("doc_id", "n_shingles").collect()}
    assert len(got) == len(urls)
    by_url = corpus_pdf.set_index("url").text
    for url in urls:
        expect = sketches.shingle_hashes(by_url[url], CFG)
        assert got[spark_xxhash64(url)] == len(expect), url


def test_signatures_match_oracle(spark, corpus_df, fixture_corpus):
    corpus_pdf, _, _ = fixture_corpus
    urls = _sample(corpus_pdf, n=20)
    sigs = {r.doc_id: r for r in _sigs(corpus_df, urls).collect()}
    by_url = corpus_pdf.set_index("url").text
    for url in urls:
        did = spark_xxhash64(url)
        hashes = sketches.shingle_hashes(by_url[url], CFG)
        assert list(sketches.minhash_signature(hashes, CFG)) == list(sigs[did].minhash)
        assert sketches.simhash_fingerprint(hashes, CFG) == sigs[did].simhash


def test_band_hashes_match_oracle(spark, corpus_df, fixture_corpus):
    corpus_pdf, _, _ = fixture_corpus
    urls = _sample(corpus_pdf, n=10)
    sigs = _sigs(corpus_df, urls).localCheckpoint()
    bands = band_table(sigs, CFG)
    got = {}
    for r in bands.collect():
        got.setdefault(r.doc_id, []).append((r.band_id, r.band_hash))
        assert 0 <= r.salt < CFG.salt_buckets
    sig_rows = {r.doc_id: np.array(r.minhash) for r in sigs.collect()}
    for did, pairs in got.items():
        expect = sketches.band_hashes(sig_rows[did], CFG)
        assert sorted(pairs) == sorted(expect)


def test_fused_kernel_parity(spark, corpus_df, fixture_corpus):
    """signatures_from_text (fused C shingle+sketch kernel) is
    bit-exact with the oracle composition on sampled fixture docs plus
    adversarial rows (CJK, emoji, accents, empty, NULL, shorter-than-k,
    one repeated char)."""
    corpus_pdf, _, _ = fixture_corpus
    urls = _sample(corpus_pdf)
    adversarial = [("x1", "中文测试文档内容很长的一段话测试"),
                   ("x2", "emoji 🎉🎊 test 🚀 mixed"),
                   ("x3", "héllo wörld àccents"),
                   ("x4", ""), ("x5", None), ("x6", "ab"),
                   ("x7", "aaaaaaaaaaaaaaaa")]
    extra = spark.createDataFrame(adversarial, "url string, text string") \
        .withColumn("warc_ts", F.current_timestamp()) \
        .withColumn("lang", F.lit("en")) \
        .withColumn("html", F.encode(F.coalesce("text", F.lit("")), "utf-8"))
    corpus = corpus_df.where(corpus_df.url.isin(urls)).unionByName(
        extra, allowMissingColumns=True)
    got = {r.doc_id: r for r in signatures_from_text(
        normalize(corpus, CFG), CFG).collect()}
    texts = corpus_pdf.set_index("url").text
    expect = [(u, texts[u]) for u in urls] + adversarial
    assert len(got) == len(expect)
    for url, text in expect:
        hashes = sketches.shingle_hashes(text or "", CFG)
        r = got[spark_xxhash64(url)]
        assert list(r.minhash) == list(sketches.minhash_signature(hashes, CFG)), url
        assert r.simhash == sketches.simhash_fingerprint(hashes, CFG), url
        assert r.n_shingles == len(hashes), url


@pytest.mark.fast
def test_candidate_components_salt_invariant(spark, corpus_df):
    """salt_buckets only shapes the shuffle: for each pass built on
    lsh.bucket_pairs (MinHash bands, SimHash blocks, substring
    anchors), the connected components of the candidate-pair graph
    on the sf0.001 fixture corpus are the same at S = 1, 3 and 1024.
    The pair sets themselves may differ with S (stars centre on
    salt-group minima), so verified edges may too."""
    from miekki.stages.lsh import bucket_pairs, minhash_candidate_edges
    from miekki.stages.simhash import _block_table
    from miekki.stages.substr import anchor_table, candidate_anchor_pairs
    from oracle.cc import cc_labels

    docs = normalize(corpus_df, CFG).localCheckpoint()
    sigs = signatures_from_text(docs, CFG).localCheckpoint()
    anchors = anchor_table(docs, CFG).localCheckpoint()
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    passes = {
        "minhash": lambda c: minhash_candidate_edges(sigs, c),
        "simhash": lambda c: bucket_pairs(_block_table(sigs, c),
                                          ["block_id", "block_val"],
                                          c.simhash_chain),
        "substr": lambda c: candidate_anchor_pairs(anchors, c),
    }
    for name, cand in passes.items():
        comps = {}
        for s in (1, 3, 1024):
            edges = cand(DedupConfig(salt_buckets=s)).select("src", "dst").collect()
            assert edges, (name, s)
            comps[s] = cc_labels(edges, ids)
        assert comps[1] == comps[3] == comps[1024], name
        # the corpus has planted dups, so the check is not vacuous
        assert len(set(comps[1].values())) < len(ids), name


@pytest.mark.fast
def test_hot_bucket_salted_star(spark):
    """One 5,000-member bucket at S=8, star pairs only: one component
    and exactly |bucket| - 1 pairs, none repeated."""
    from miekki.stages.lsh import bucket_pairs, salt
    from oracle.cc import cc_labels

    n = 5000
    bucket = (spark.range(n).select(F.col("id").alias("doc_id"),
                                    F.lit(7).alias("k"))
              .withColumn("salt", salt(DedupConfig(salt_buckets=8))))
    assert bucket.select("salt").distinct().count() == 8
    edges = bucket_pairs(bucket, ["k"]).collect()
    assert len(edges) == n - 1
    assert len({(e.src, e.dst) for e in edges}) == n - 1
    assert all(e.src < e.dst for e in edges)
    assert set(cc_labels(edges, range(n)).values()) == {0}


def test_nfc_sample_guard(spark):
    """SURVEY.md §2.1: non-NFC input must fail fast (sampled check),
    not silently break oracle byte-parity."""
    import unicodedata

    import pytest

    from miekki.stages.normalize import assert_nfc_sample

    good = spark.createDataFrame([("café très bien",), (None,)],
                                 "text string")
    assert assert_nfc_sample(good) == 1
    nfd = unicodedata.normalize("NFD", "café très bien")
    bad = spark.createDataFrame([(nfd,)], "text string")
    with pytest.raises(ValueError, match="not NFC"):
        assert_nfc_sample(bad)


# ---------------------------------------------------------------------
# X41 — LSH parameter planner
# ---------------------------------------------------------------------

def test_lsh_plan_matches_numpy_scurve(spark):
    """Every (b, r) split of n_perm is present, masses match a numpy
    recompute of the MMDS S-curve to 6 dp, and `chosen` is the
    fp+fn argmin with the smaller-b tie-break."""
    import numpy as np

    from miekki.stages.lsh import lsh_plan

    n_perm, thr, steps = 64, 0.5, 50
    out = lsh_plan(spark, n_perm=n_perm, threshold=thr,
                   s_steps=steps).toPandas().sort_values("b")
    divisors = [b for b in range(1, n_perm + 1) if n_perm % b == 0]
    assert list(out["b"]) == divisors
    assert (out["b"] * out["r"] == n_perm).all()

    s = np.arange(1, steps) / steps
    best, best_key = None, None
    for _, row in out.iterrows():
        q = (1.0 - s ** row["r"]) ** row["b"]
        fp = np.mean((1.0 - q)[s < thr])
        fn = np.mean(q[s >= thr])
        assert abs(round(fp, 6) - row["fp_mass"]) <= 1e-6, row["b"]
        assert abs(round(fn, 6) - row["fn_mass"]) <= 1e-6, row["b"]
        key = (fp + fn, row["b"])
        if best_key is None or key < best_key:
            best, best_key = row["b"], key
    chosen = out[out["chosen"]]
    assert len(chosen) == 1
    assert chosen.iloc[0]["b"] == best


def test_lsh_plan_tracks_threshold(spark):
    """The chosen split follows the classic heuristic — the S-curve
    midpoint (1/b)^(1/r) sits near the verify threshold — and moves
    monotonically with it: raising the threshold never INCREASES the
    band count (higher thresholds want longer bands / steeper
    curves). Pins chosen b for three thresholds of the production
    128-perm signature."""
    from miekki.stages.lsh import lsh_plan

    chosen = {}
    for thr in (0.5, 0.7, 0.85):
        out = lsh_plan(spark, n_perm=128, threshold=thr).toPandas()
        row = out[out["chosen"]].iloc[0]
        chosen[thr] = int(row["b"])
        midpoint = (1.0 / row["b"]) ** (1.0 / row["r"])
        assert abs(midpoint - thr) < 0.25, (thr, midpoint)
    assert chosen == {0.5: 32, 0.7: 16, 0.85: 8}


def test_lsh_plan_no_window(spark):
    """lsh_plan's chosen flag comes from a 1-row min-struct broadcast,
    never a single-partition row_number window (VERDICT r5 wrong #2)."""
    from miekki.stages.lsh import lsh_plan

    plan = (lsh_plan(spark)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
