"""Driver-registry invariants (driver_queries.py round-5 fold): the
driver records at most the first 50 keys of queries(), so the
registry must stay <= 50 keys, fully oracled, with every unfolded
operator reachable through exactly one key."""

import pytest

import __spark_entry__ as entry
from miekki.driver_queries import (_ALL_ORACLE_SQL, _ALL_QUERIES,
                                   _EMBED_MEDIA_SUITE, _FOLDED_AWAY,
                                   _PIPELINE_CONTRACTS, _SIG_CONTRACTS,
                                   ORACLE_SQL, QUERIES)

pytestmark = pytest.mark.fast


def test_registry_at_most_50_keys():
    assert len(QUERIES) <= 50


def test_every_key_has_an_oracle():
    assert set(ORACLE_SQL) == set(QUERIES)


def test_entry_module_exports_the_folded_registry():
    assert list(entry.queries()) == list(QUERIES)
    assert set(entry.oracle_sql()) == set(QUERIES)


def test_never_recorded_and_new_keys_come_first():
    """The r4 artifact stopped at key 50; keys without an artifact
    row must be ordered before previously-recorded ones."""
    front = list(QUERIES)[:23]
    for k in ("seq_pack", "chunk_passages", "pack_pieces",
              "chunk_tokens", "quality_clf", "semdedup_text",
              "curate_funnel", "shard_assign", "asof_join", "ann_brute",
              "soft_dedup", "lsh_plan", "bloom_decontam", "hll_vocab",
              "cms_vocab", "len_quantiles", "url_dedup",
              "text_quality", "cc_edge_ops",
              "embed_media_suite", "relational_counts",
              "sig_contracts", "pipeline_contracts"):
        assert k in front, (k, front)


def test_folds_cover_every_retired_key():
    """Every key removed from the public registry is reachable via a
    fold (or merged into profile) — nothing silently dropped."""
    folded = (set(_SIG_CONTRACTS) | set(_PIPELINE_CONTRACTS)
              | set(_EMBED_MEDIA_SUITE)
              | {"q_setops", "semi_anti", "id_collisions",
                 "embedding_norms", "windowed_events", "sessions",
                 "profile", "profile_approx", "scan_corpus",
                 "edge_union", "cc_largestar", "cc_smallstar",
                 "bucket_edges", "lang_id", "quality_score",
                 "vocab_topk", "repetition", "url_canon"})
    retired = set(_ALL_QUERIES) - set(QUERIES)
    assert retired <= folded
    # and the fold dicts reference real unfolded queries
    for sub in (_SIG_CONTRACTS, _PIPELINE_CONTRACTS,
                _EMBED_MEDIA_SUITE):
        for name, fn in sub.items():
            assert callable(fn), name
    assert _FOLDED_AWAY <= (folded | {"bpe_tokenize"})


def test_unfolded_oracles_still_available():
    """pytest/debugging path: every retired key keeps its original
    oracle in _ALL_ORACLE_SQL."""
    for k in set(_ALL_QUERIES) - set(QUERIES):
        assert k in _ALL_ORACLE_SQL or k in ("bpe_tokenize",), k
