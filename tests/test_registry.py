"""Driver-registry invariants (miekki/driver_queries.py): the driver
records at most the first 50 keys of queries(), so the registry must
stay <= 50 keys, fully oracled, and carry no query function that no
key, test or bench reaches."""

import ast
import glob
import inspect
import os

import pytest

import __spark_entry__ as entry
from miekki import driver_queries as dq
from miekki.driver_queries import QUERIES, oracle_sql

pytestmark = pytest.mark.fast

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_at_most_50_keys():
    assert len(QUERIES) <= 50


def test_every_key_has_an_oracle():
    assert set(oracle_sql()) == set(QUERIES)


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


def _reached_functions(roots) -> set:
    """Every function reachable from ``roots`` through the global names
    its code (nested code objects included) reads and its closure
    cells, descending into dict/list/tuple values."""
    seen, stack = set(), list(roots)
    while stack:
        obj = stack.pop()
        if isinstance(obj, dict):
            stack += obj.values()
        elif isinstance(obj, (list, tuple)):
            stack += obj
        elif inspect.isfunction(obj) and obj not in seen:
            seen.add(obj)
            codes = [obj.__code__]
            while codes:
                code = codes.pop()
                stack += [obj.__globals__[n] for n in code.co_names
                          if n in obj.__globals__]
                codes += [c for c in code.co_consts
                          if inspect.iscode(c)]
            stack += [c.cell_contents for c in obj.__closure__ or ()]
    return seen


def _imported_from_driver_queries() -> set[str]:
    names = set()
    for path in glob.glob(os.path.join(REPO, "tests", "*.py")) + [
            os.path.join(REPO, "bench.py")]:
        with open(path) as f:
            tree = ast.parse(f.read())
        names |= {a.name for node in ast.walk(tree)
                  if isinstance(node, ast.ImportFrom)
                  and node.module == "miekki.driver_queries"
                  for a in node.names}
    return names


def test_every_query_function_is_reached():
    """A module-level q* function no driver key reaches (through
    helpers, folds and closures) and no test or bench imports is dead
    code."""
    reached = _reached_functions(QUERIES.values())
    imported = _imported_from_driver_queries()
    dead = sorted(
        name for name, fn in vars(dq).items()
        if name.startswith("q") and inspect.isfunction(fn)
        and fn.__module__ == dq.__name__
        and fn not in reached and name not in imported)
    assert not dead, dead


@pytest.mark.parametrize("query", [dq.q_doc_fingerprint, dq.q_media_decode,
                                   dq.q_media_frames])
def test_row_set_contracts_hold(spark, query):
    """The row-set rules these contract sub-queries carry as booleans
    (anchored docs == docs of >= anchor_k UTF-8 bytes; kind is the
    pinned doc_id % 3 mapping; frame rows == the non-empty videos)
    hold on every row at sf0.001."""
    df = query(spark, "/root/testdata/sf0.001")
    bools = [c for c, t in df.dtypes if t == "boolean"]
    rows = df.select(*bools).collect()
    assert rows
    bad = [r for r in rows if not all(r)]
    assert not bad, bad[:5]
