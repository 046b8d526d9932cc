"""O12 SimHash candidate pass: exact Hamming verification on
hand-built fingerprints, block-banding recall guarantee, hot-bucket
boundedness (SURVEY.md §2.5)."""

import pytest
from pyspark.sql import functions as F

from miekki.config import DedupConfig
from miekki.stages.simhash import simhash_candidate_edges

CFG = DedupConfig()


def _edges(spark, fps):
    """fps: dict doc_id -> signed-64 fingerprint."""
    sigs = spark.createDataFrame(
        [(d, [0] * CFG.n_perm, f) for d, f in fps.items()],
        "doc_id long, minhash array<bigint>, simhash long",
    )
    rows = simhash_candidate_edges(sigs, CFG).collect()
    return {(r.src, r.dst): r.weight for r in rows}


def test_hamming_filter_exact(spark):
    base = 0x0123456789ABCDEF
    fps = {
        1: base,
        2: base ^ 0b1,                # hamming 1
        3: base ^ 0b111,              # hamming 3 — kept
        4: base ^ 0b11110000,         # hamming 4 within one block — dropped
        5: base ^ ((1 << 0) | (1 << 17) | (1 << 34) | (1 << 51)),
        # ^ hamming 4 spread over all 4 blocks: NO block matches doc 1
        #   -> not even a candidate (pigeonhole boundary)
    }
    got = _edges(spark, fps)
    pairs = set(got)
    assert (1, 2) in pairs
    assert (1, 3) in pairs
    assert (2, 3) in pairs
    # (2,5) is hamming 3 (both flip bit 0) — legitimately kept
    assert (2, 5) in pairs
    assert not any(4 in p for p in pairs), pairs       # hamming 4
    assert (1, 5) not in pairs                          # hamming 4
    assert got[(1, 2)] == pytest.approx(1 - 1 / 64)
    assert got[(1, 3)] == pytest.approx(1 - 3 / 64)


def test_identical_fps_hot_bucket_connected(spark):
    """1000 identical fingerprints (boilerplate pages): the successor
    chain must connect them all into ONE component without all-pairs."""
    import networkx as nx

    fps = {i: 42 for i in range(1000)}
    got = _edges(spark, fps)
    # bounded: far fewer than n^2/2 pairs
    assert len(got) <= 1000 * (CFG.simhash_chain + 2) * 4
    g = nx.Graph()
    g.add_nodes_from(fps)
    g.add_edges_from(got)
    assert nx.number_connected_components(g) == 1


def test_all_edges_satisfy_hamming(spark, corpus_df):
    """On the real fixture corpus every emitted simhash edge must obey
    the Hamming bound (cross-check vs the oracle popcount)."""
    from miekki.config import DedupConfig
    from miekki.stages.normalize import normalize
    from miekki.stages.signatures import signatures_from_text
    from oracle.sketches import hamming64

    cfg = DedupConfig()
    sigs = signatures_from_text(normalize(corpus_df, cfg), cfg).localCheckpoint()
    fp = {r.doc_id: r.simhash for r in sigs.select("doc_id", "simhash").collect()}
    edges = simhash_candidate_edges(sigs, cfg).collect()
    assert edges, "fixture corpus must produce simhash edges (exact dups)"
    for e in edges:
        assert hamming64(fp[e.src], fp[e.dst]) <= cfg.hamming_max


def test_simhash_sorted_matches_global_sort(spark):
    """The range-bucketed + boundary-join rewrite of the Manku sorted
    sweep must produce EXACTLY the global-sort candidate pairs."""
    from pyspark.sql import Window
    from miekki.driver_queries import (CFG as DCFG, q_minhash_sig,
                                       q_simhash_sorted_pairs)

    sf = "/root/testdata/sf0.001"
    got = {(r.src, r.dst)
           for r in q_simhash_sorted_pairs(spark, sf).collect()}

    sigs = q_minhash_sig(spark, sf).select("doc_id", "simhash")
    ref = set()
    for rr in range(4):
        rot = F.expr(
            f"cast(shiftleft(simhash, {16 * rr}) |"
            f" shiftrightunsigned(simhash, {64 - 16 * rr}) as bigint)"
            if rr else "simhash")
        df = sigs.withColumn("rot", rot)
        w = Window.orderBy("rot", "doc_id")
        nxt = (df.select("doc_id", "simhash",
                         F.lead("doc_id").over(w).alias("dst"),
                         F.lead("simhash").over(w).alias("fp_dst"))
               .where(F.col("dst").isNotNull()))
        for r in nxt.collect():
            if bin((r.simhash ^ r.fp_dst) & ((1 << 64) - 1)).count("1") \
                    <= DCFG.hamming_max:
                ref.add((min(r.doc_id, r.dst), max(r.doc_id, r.dst)))
    assert got == ref
