"""Frozen 50-doc signature golden (FIXTURES.md F3): any change to
shingling/permutation/simhash semantics of the fused signature path
(signatures_from_text) fails loudly."""

import os

import pandas as pd
import pytest

from miekki.config import DedupConfig
from miekki.stages.normalize import normalize
from miekki.stages.signatures import signatures_from_text

GOLDEN = os.path.join(os.path.dirname(__file__), "golden",
                      "minhash_sf0001_sample.parquet")

pytestmark = pytest.mark.fast


def test_signature_golden_from_text(spark, corpus_df):
    golden = pd.read_parquet(GOLDEN)
    cfg = DedupConfig()
    dn = normalize(corpus_df, cfg)
    got = (signatures_from_text(dn.where(dn.doc_id.isin(golden.doc_id.tolist())), cfg)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert len(got) == len(golden)
    for g, w in zip(golden.itertuples(), got.itertuples()):
        assert g.doc_id == w.doc_id
        assert list(g.minhash) == list(w.minhash)
        assert g.simhash == w.simhash
