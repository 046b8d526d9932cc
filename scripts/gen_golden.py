"""Generate tests/golden/ freeze files (FIXTURES.md F3).

Run ONLY on an intentional semantic/config change — these files exist
so refactors can't silently drift cluster semantics.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

from miekki.config import DedupConfig
from miekki.fixtures import make_corpus
from miekki.pipeline import dedup_labels
from miekki.session import build_spark
from miekki.stages.normalize import normalize
from miekki.stages.signatures import signatures_from_text

GOLDEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "tests", "golden")
cfg = DedupConfig()

docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
corpus_pdf, _, _ = make_corpus(docs)
spark = build_spark(master="local[8]", shuffle_partitions=8)
corpus = spark.createDataFrame(corpus_pdf[["url", "warc_ts", "text", "lang"]])

labels = (dedup_labels(corpus, cfg).toPandas()[["doc_id", "cluster_id"]]
          .sort_values("doc_id").reset_index(drop=True))
labels.to_parquet(os.path.join(GOLDEN, "cluster_labels_sf0001.parquet"), index=False)
print("labels:", len(labels), "clusters:", labels.cluster_id.nunique())

# 50-doc signature freeze
dn = normalize(corpus, cfg)
sample_ids = sorted(labels.doc_id)[:50]
sig = (signatures_from_text(dn.where(dn.doc_id.isin(sample_ids)), cfg)
       .select("doc_id", "minhash", "simhash")
       .toPandas().sort_values("doc_id").reset_index(drop=True))
sig.to_parquet(os.path.join(GOLDEN, "minhash_sf0001_sample.parquet"), index=False)
print("sig sample:", len(sig))
spark.stop()
