"""O13 exact-substring pass (SURVEY.md §2.6): native-kernel-vs-oracle
rolling-hash, winnowing and run-extension parity, the Schleimer'03
anchor guarantee, and end-to-end containment recall on the planted
``contain`` fixtures at the test config (L=40, w=16, k=16)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from miekki.config import TEST_SUBSTR
from miekki.substr_kernels import batch_common_runs, batch_doc_anchors
from oracle.winnow import (common_run_length, longest_common_run,
                           window_hashes_naive, winnow_naive)

CFG = TEST_SUBSTR  # substr_len=40, winnow_w=16, anchor_k=16


def _anchors(data: bytes, k: int, w: int):
    """(fps as uint64 list, byte positions) of one doc."""
    rows, fps, pos = batch_doc_anchors(
        np.frombuffer(data, dtype=np.uint8),
        np.array([0, len(data)], dtype=np.int64), k, w)
    assert (rows == 0).all()
    return fps.view(np.uint64).tolist(), pos.tolist()


def _runs(pairs, k):
    """batch_common_runs over (a, b, pos_a, pos_b) byte pairs."""
    def flat(docs):
        return (np.frombuffer(b"".join(docs), dtype=np.uint8),
                np.cumsum([0] + [len(d) for d in docs]).astype(np.int64))

    da, oa = flat([p[0] for p in pairs])
    db, ob = flat([p[1] for p in pairs])
    return batch_common_runs(da, oa, db, ob,
                             np.array([p[2] for p in pairs], dtype=np.int32),
                             np.array([p[3] for p in pairs], dtype=np.int32),
                             k).tolist()


def test_rolling_hash_matches_naive():
    # w=1 selects every window, so the anchors are all rolling hashes
    rng = np.random.Generator(np.random.PCG64(3))
    for n in (16, 17, 40, 200):
        data = bytes(rng.integers(0, 256, size=n, dtype=np.uint8))
        fps, pos = _anchors(data, 16, 1)
        assert pos == list(range(n - 15))
        assert fps == window_hashes_naive(data, 16)


def test_rolling_hash_short_input():
    assert _anchors(bytes(5), 16, 1) == ([], [])


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=300), st.integers(min_value=2, max_value=20))
def test_winnow_matches_naive(data, w):
    h = window_hashes_naive(data, 8)
    sel = winnow_naive(h, w)
    assert _anchors(data, 8, w) == ([h[i] for i in sel], sel)


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_anchor_guarantee(data):
    """Any planted common run >= w + k - 1 bytes yields >= 1 shared
    (fp, in-run offset) anchor in both docs (SURVEY.md §5.2)."""
    rng_a = data.draw(st.binary(min_size=0, max_size=120))
    rng_b = data.draw(st.binary(min_size=0, max_size=120))
    run = data.draw(st.binary(min_size=CFG.winnow_w + CFG.anchor_k - 1,
                              max_size=200))
    a = (rng_a + run + rng_a).decode("latin1")
    b = (rng_b + run + rng_b).decode("latin1")
    # anchor positions are UTF-8 BYTE offsets: latin1 chars >= 0x80
    # widen to 2 bytes, so compute run bounds in byte space
    sa = len(rng_a.decode("latin1").encode("utf-8"))
    sb = len(rng_b.decode("latin1").encode("utf-8"))
    rl = len(run.decode("latin1").encode("utf-8"))
    fa, pa = _anchors(a.encode("utf-8"), CFG.anchor_k, CFG.winnow_w)
    fb, pb = _anchors(b.encode("utf-8"), CFG.anchor_k, CFG.winnow_w)
    # shared fp anchored INSIDE the planted run at the same run offset
    a_off = {(f, p - sa) for f, p in zip(fa, pa)
             if sa <= p <= sa + rl - CFG.anchor_k}
    b_off = {(f, p - sb) for f, p in zip(fb, pb)
             if sb <= p <= sb + rl - CFG.anchor_k}
    assert a_off & b_off, (len(rng_a), len(run))


def test_common_run_extension():
    a = b"xxxxxTHE COMMON RUN OF BYTES HEREyyyyy"
    b_ = b"zzTHE COMMON RUN OF BYTES HEREqqqqqqqqq"
    pa_, pb_ = a.index(b"COMMON"), b_.index(b"COMMON")
    want = len("THE COMMON RUN OF BYTES HERE")
    assert want == longest_common_run(a, b_)
    assert _runs([(a, b_, pa_, pb_)], 6) == [want]
    assert common_run_length(a, b_, pa_, pb_, 6) == want


def test_collision_rejected():
    # anchor windows differ -> run 0 regardless of positions
    assert _runs([(b"abcdefgh", b"abcdxfgh", 0, 0)], 8) == [0]
    assert common_run_length(b"abcdefgh", b"abcdxfgh", 0, 0, 8) == 0


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_batch_run_parity(data):
    """batch_common_runs == oracle common_run_length per pair,
    bit-exact — including hash-collision rows (differing anchor
    windows), zero extensions, and full-clip runs."""
    k = 8
    n = data.draw(st.integers(min_value=1, max_value=12))
    pairs = []
    for _ in range(n):
        run = data.draw(st.binary(min_size=k, max_size=60))
        pre_a = data.draw(st.binary(min_size=0, max_size=30))
        pre_b = data.draw(st.binary(min_size=0, max_size=30))
        suf_a = data.draw(st.binary(min_size=0, max_size=30))
        suf_b = data.draw(st.binary(min_size=0, max_size=30))
        a = pre_a + run + suf_a
        b = pre_b + run + suf_b
        # anchor somewhere inside the planted run
        off = data.draw(st.integers(min_value=0, max_value=len(run) - k))
        pairs.append((a, b, len(pre_a) + off, len(pre_b) + off))
    # plus a guaranteed-collision row (anchor windows differ)
    pairs.append((b"abcdefghXY", b"abcdXfghXY", 0, 0))
    assert _runs(pairs, k) == [common_run_length(*p, k) for p in pairs]


@pytest.fixture(scope="module")
def substr_edges(spark, corpus_df):
    from miekki.stages.normalize import normalize
    from miekki.stages.substr import substr_candidate_edges

    docs = normalize(corpus_df, CFG).localCheckpoint()
    return substr_candidate_edges(docs, CFG).toPandas()


def test_contain_pairs_found(fixture_corpus, substr_edges):
    """Every planted contain pair with run >= L must co-cluster under
    the substr edge graph ALONE — possibly transitively: the bounded
    chain-pair generation links bucket members through intermediates
    that share the same run, never all-pairs (SURVEY.md §2.6)."""
    import networkx as nx

    _, truth_pairs, _ = fixture_corpus
    contain = truth_pairs[(truth_pairs.kind == "contain")
                          & (truth_pairs.run_bytes >= CFG.substr_len)]
    g = nx.Graph()
    g.add_edges_from((r.src, r.dst) for r in substr_edges.itertuples())
    missed = [(r.src, r.dst, r.run_bytes) for r in contain.itertuples()
              if r.src not in g or r.dst not in g
              or not nx.has_path(g, r.src, r.dst)]
    assert len(missed) <= max(1, int(0.01 * len(contain))), missed[:5]


def test_substr_edges_verified(fixture_corpus, substr_edges):
    """Every emitted edge must correspond to a REAL common run >= L
    (cross-check with difflib longest common run on normalized text)."""
    from miekki.textproc import normalize_text
    from oracle.xxh64 import spark_xxhash64

    corpus_pdf, _, _ = fixture_corpus
    norm = {spark_xxhash64(u): normalize_text(t).encode("utf-8")
            for u, t in zip(corpus_pdf.url, corpus_pdf.text)}
    sample = substr_edges.head(40)
    for r in sample.itertuples():
        lcr = longest_common_run(norm[r.src], norm[r.dst])
        assert lcr >= CFG.substr_len, (r.src, r.dst, r.weight, lcr)
        assert r.weight <= lcr


def test_e2e_recall_with_substr(spark, corpus_df, fixture_corpus):
    """Full pipeline at the test substr config: recall over ALL
    gated truth pairs (minhash kinds J>=0.72 AND contain runs>=L)
    must clear 0.99 (BASELINE.json metric)."""
    from miekki.pipeline import dedup_labels

    _, truth_pairs, _ = fixture_corpus
    labels = dedup_labels(corpus_df, CFG).toPandas()
    lmap = dict(zip(labels.doc_id, labels.cluster_id))
    tp = truth_pairs[truth_pairs.kind != "negative"]
    gate = tp[(tp.jaccard >= 0.72) |
              ((tp.kind == "contain") & (tp.run_bytes >= CFG.substr_len))]
    hits = sum(lmap[r.src] == lmap[r.dst] for r in gate.itertuples())
    assert hits / len(gate) >= 0.99, f"{hits}/{len(gate)}"


def test_batch_anchor_parity():
    """batch_doc_anchors == winnow_naive(window_hashes_naive(doc)) per
    doc, bit-exact, over one multi-doc batch — including short docs
    (n <= w), empty docs, and boundary-adjacent content."""
    k, w = 16, 16
    texts = [
        "x" * 10,                                  # shorter than k -> none
        "the quick brown fox jumps over the lazy dog " * 8,
        "",                                        # empty
        "the quick brown fox jumps over the lazy dog " * 8,  # dup of #1
        "short but over k bytes, single window",   # nh <= w branch
        "Z" * 200,                                 # degenerate repeats
        "boundary" * 40,
    ]
    bs = [t.encode("utf-8") for t in texts]
    data = np.frombuffer(b"".join(bs), dtype=np.uint8)
    offs = np.cumsum([0] + [len(b) for b in bs]).astype(np.int64)
    rows, fps, pos = batch_doc_anchors(data, offs, k, w)
    for i, b in enumerate(bs):
        m = rows == i
        h = window_hashes_naive(b, k)
        sel = winnow_naive(h, w)
        assert pos[m].tolist() == sel, f"doc {i} pos"
        assert fps[m].view(np.uint64).tolist() == [h[j] for j in sel], \
            f"doc {i} fps"
