"""M1 smoke: full mini-pipeline on sf0.001 vs the pure-Python oracle.

Checks, per SURVEY.md §5:
  - production signature path (signatures_from_text): shingle count,
    minhash and simhash == oracle bit-for-bit (sample)
  - Spark cluster labels == networkx oracle labels over the SAME
    verified edge set, and vs truth families (recall)
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

from miekki.config import DedupConfig
from miekki.fixtures import make_corpus
from miekki.session import build_spark
from miekki.pipeline import cluster_labels, dedup_edges
from miekki.stages.normalize import normalize
from miekki.stages.signatures import signatures_from_text
from oracle import sketches
from oracle.cc import cc_labels as oracle_cc
from oracle.xxh64 import spark_xxhash64

cfg = DedupConfig()
t0 = time.time()
docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
corpus_pdf, truth_pairs, truth_clusters = make_corpus(docs)
print(f"fixture: {len(corpus_pdf)} docs  ({time.time()-t0:.1f}s)")

spark = build_spark(master="local[8]", app_name="smoke_m1")
corpus = spark.createDataFrame(corpus_pdf[["url", "warc_ts", "text", "lang"]])

# --- kernel parity on a sample -------------------------------------
dn = normalize(corpus, cfg).localCheckpoint()
sigs = signatures_from_text(dn, cfg).localCheckpoint()
sample = (dn.select("doc_id", "url").limit(20)
          .join(sigs, "doc_id").collect())
bad = 0
for r in sample:
    otext_row = corpus_pdf[corpus_pdf.url == r.url].iloc[0]
    oh = sketches.shingle_hashes(otext_row.text, cfg)
    if r.n_shingles != len(oh):
        print("SHINGLE COUNT MISMATCH", r.url, r.n_shingles, len(oh)); bad += 1
    osig = sketches.minhash_signature(oh, cfg)
    ofp = sketches.simhash_fingerprint(oh, cfg)
    if list(osig) != list(r.minhash) or ofp != r.simhash:
        print("SIG MISMATCH", r.url,
              "mh", list(osig)[:3], list(r.minhash)[:3], "fp", ofp, r.simhash)
        bad += 1
print(f"shingle-count/minhash/simhash parity on {len(sample)} docs:"
      f" {'OK' if not bad else 'FAIL'}")

# --- end-to-end ------------------------------------------------------
# labels and the oracle's input come from ONE checkpointed edge set
# (minhash ∪ simhash ∪ substr), so CC parity compares like with like
t1 = time.time()
edges = dedup_edges(dn, sigs, cfg).localCheckpoint()
lab_pdf = cluster_labels(edges, corpus, cfg).toPandas()
print(f"edges + labels: {len(lab_pdf)} labels, {lab_pdf.cluster_id.nunique()}"
      f" clusters ({time.time()-t1:.1f}s)")
edges_pdf = edges.select("src", "dst").toPandas()
all_ids = [spark_xxhash64(u) for u in corpus_pdf.url]
olab = oracle_cc(list(edges_pdf.itertuples(index=False, name=None)), all_ids)
mism = sum(1 for _, r in lab_pdf.iterrows() if olab[r.doc_id] != r.cluster_id)
print(f"label parity vs networkx oracle: {mism} mismatches / {len(lab_pdf)}")

# recall vs planted truth (minhash-reachable kinds, J >= 0.72 gate)
lmap = dict(zip(lab_pdf.doc_id, lab_pdf.cluster_id))
tp = truth_pairs[(truth_pairs.kind != "negative")]
gate = tp[(tp.jaccard >= 0.72)]
hit = sum(lmap[r.src] == lmap[r.dst] for _, r in gate.iterrows())
print(f"recall (J>=0.72 pairs): {hit}/{len(gate)} = {hit/len(gate):.4f}")
for kind, grp in tp.groupby("kind"):
    h = sum(lmap[r.src] == lmap[r.dst] for _, r in grp.iterrows())
    note = ""
    if kind == "contain":
        # contain pairs are dups only when the shared run reaches the
        # pinned L (cfg.substr_len); shorter-run fixtures are planted
        # NON-dups under the spec, so the honest denominator is the
        # catchable subset
        catchable = grp[grp.run_bytes >= cfg.substr_len]
        hc = sum(lmap[r.src] == lmap[r.dst] for _, r in catchable.iterrows())
        note = (f"  (catchable run>=L={cfg.substr_len}:"
                f" {hc}/{len(catchable)})")
    print(f"  {kind:9s}: {h}/{len(grp)}{note}")

spark.stop()
sys.exit(0 if (mism == 0 and bad == 0) else 1)
