"""Seeded input generator for the benchmark workloads.

Base texts are synthesized from the seed (a Zipf-weighted vocabulary
led by English function words), then ``miekki.fixtures.make_corpus``
plants its duplicate families (FIXTURES.md F2) on top. Everything is
drawn from ``numpy.random.Generator(PCG64(seed))`` in one fixed call
order, so the same (workload, seed, size) gives byte-identical files.

Outputs per workload, cached as parquet under ``<cache>/<key>/``:

- ``corpus``: (url, warc_ts, text, lang), the pipeline input;
- ``truth_pairs``: (src, dst, kind, jaccard, run_bytes), every planted
  pair with its measured char-shingle Jaccard, replica pairs included;
- ``truth_clusters``: (doc_id, family_id), the true component per doc.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from miekki.config import DedupConfig
from miekki.fixtures import make_corpus
from miekki.textproc import char_shingles, normalize_text
from oracle.xxh64 import spark_xxhash64

# pairs below this Jaccard are not expected to be found by MinHash:
# the LSH S-curve gives P(candidate) >= 0.9999 at J >= 0.72 (config.py)
MINHASH_RECALL_J = 0.72
# verify keeps a pair when its 128-permutation estimate reaches tau =
# 0.7; the estimate's sd is ~0.035 near J = 0.8, so from here up each
# pair is kept with P > 0.997. Between 0.72 and 0.8 a correct run still
# misses ~3% of pairs (measured: near_lo pairs at J 0.77-0.78).
SURE_J = 0.8

_FUNCTION_WORDS = ("the of and to in a is that for it as was with be by on "
                   "not he i this are or his from at which but have an they "
                   "you were her she there one all we their").split()
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# replica perturbation rate of the dense workload: ~3% of tokens edited
REPLICA_P = 0.03


def _vocab(rng: np.random.Generator, n: int = 20000) -> np.ndarray:
    lens = rng.integers(3, 10, size=n)
    letters = rng.integers(0, len(_LETTERS), size=int(lens.sum()))
    words, pos = [], 0
    for ln in lens:
        words.append("".join(_LETTERS[letters[pos:pos + ln]]))
        pos += ln
    return np.array(list(_FUNCTION_WORDS) + words)


def _texts(rng: np.random.Generator, vocab: np.ndarray, n_docs: int,
           n_words: int) -> list[str]:
    """n_docs texts of n_words Zipf-drawn words, a sentence every 12."""
    w = 1.0 / (np.arange(len(vocab)) + 8.0)
    ids = rng.choice(len(vocab), size=(n_docs, n_words), p=w / w.sum())
    out = []
    for row in vocab[ids]:
        sents = [" ".join(row[i:i + 12]) for i in range(0, n_words, 12)]
        out.append(". ".join(sents) + ".")
    return out


def _documents(texts: list[str], ids=None) -> pd.DataFrame:
    ids = np.arange(len(texts), dtype=np.int64) if ids is None else ids
    return pd.DataFrame({"doc_id": ids, "text": texts, "lang": "en",
                         "source": "web"})


def jaccard(a: str, b: str, k: int) -> float:
    sa = set(char_shingles(normalize_text(a), k))
    sb = set(char_shingles(normalize_text(b), k))
    return len(sa & sb) / len(sa | sb)


def _perturb(rng: np.random.Generator, text: str, p: float) -> str:
    toks = text.split(" ")
    mask = rng.random(len(toks)) < p
    return " ".join(t + "x" if m else t for t, m in zip(toks, mask))


def pages(seed: int, n_pages: int, cfg: DedupConfig):
    """KB-sized pages (10 paragraphs of ~50 words) with planted
    families: the per-byte layers dominate."""
    rng = np.random.Generator(np.random.PCG64(seed))
    texts = _texts(rng, _vocab(rng), n_pages, 450)
    corpus, tp, tc = make_corpus(_documents(texts), cfg, seed)
    return corpus.drop(columns=["html"]), tp, tc


def dense(seed: int, n_base: int, replicas: int, cfg: DedupConfig):
    """~300-char docs, each base doc present as ``replicas`` near-dup
    copies (~3% of tokens edited) before families are planted: nearly
    every doc sits in a multi-member cluster, so the pair- and
    shuffle-bound layers dominate."""
    rng = np.random.Generator(np.random.PCG64(seed))
    base = _texts(rng, _vocab(rng), n_base, 44)
    texts, ids = [], []
    for b, t in enumerate(base):
        for r in range(replicas):
            texts.append(t if r == 0 else _perturb(rng, t, REPLICA_P))
            ids.append(b * replicas + r)
    docs = _documents(texts, np.array(ids, dtype=np.int64))
    corpus, tp, tc = make_corpus(docs, cfg, seed)
    # replica groups: fold make_corpus's per-doc families into one
    # family per base doc; replica 0 anchors the star of replica pairs
    url_of = {int(i): u for i, u in zip(docs.doc_id, _doc_urls(docs))}
    hid = {i: spark_xxhash64(u) for i, u in url_of.items()}
    group = {hid[i]: hid[(i // replicas) * replicas] for i in url_of}
    tc["family_id"] = tc.family_id.map(group)
    rep_pairs = [(hid[b * replicas], hid[b * replicas + r], "replica",
                  jaccard(texts[b * replicas], texts[b * replicas + r],
                          cfg.shingle_k), 0)
                 for b in range(n_base) for r in range(1, replicas)]
    tp = pd.concat([tp, pd.DataFrame(rep_pairs, columns=tp.columns)],
                   ignore_index=True)
    return corpus.drop(columns=["html"]), tp, tc


def _doc_urls(docs: pd.DataFrame) -> list[str]:
    # the url make_corpus gives a base doc (fixtures._base_url)
    return [f"https://{s}.example.com/{lg}/doc{i:08d}"
            for i, s, lg in zip(docs.doc_id, docs.source, docs.lang)]


def generate(workload: str, seed: int, size: dict, cfg: DedupConfig):
    if workload == "pages_long":
        return pages(seed, size["pages"], cfg)
    if workload == "dense_pairs":
        return dense(seed, size["base"], size["replicas"], cfg)
    raise ValueError(f"unknown workload {workload!r}")


def load(cache_root: str, workload: str, seed: int, size: dict,
         cfg: DedupConfig) -> tuple[dict[str, str], bool]:
    """Paths of the cached (corpus, truth_pairs, truth_clusters)
    parquet files, generating them on a miss; returns (paths, hit)."""
    tag = "_".join(f"{k}{v}" for k, v in sorted(size.items()))
    d = os.path.join(cache_root, f"{workload}_s{seed}_{tag}")
    paths = {n: os.path.join(d, f"{n}.parquet")
             for n in ("corpus", "truth_pairs", "truth_clusters")}
    done = os.path.join(d, "done.json")
    if os.path.exists(done):
        return paths, True
    frames = generate(workload, seed, size, cfg)
    os.makedirs(d, exist_ok=True)
    for (name, path), df in zip(paths.items(), frames):
        df.to_parquet(path, index=False)
    with open(done, "w") as f:
        json.dump({"rows": len(frames[0])}, f)
    return paths, False


def dup_pairs(truth_pairs: pd.DataFrame, cfg: DedupConfig,
              with_substr: bool, min_j: float = MINHASH_RECALL_J
              ) -> pd.DataFrame:
    """The pairs a run must join (FIXTURES.md F2 recall): planted
    non-negative pairs MinHash can reach (J >= min_j), plus containment
    pairs whose shared run reaches the substring threshold when that
    pass runs."""
    tp = truth_pairs[truth_pairs.kind != "negative"]
    keep = tp.jaccard >= min_j
    if with_substr:
        keep |= (tp.kind == "contain") & (tp.run_bytes >= cfg.substr_len)
    return tp[keep]


def score(labels: pd.DataFrame, pairs: pd.DataFrame,
          clusters: pd.DataFrame) -> tuple[float, float]:
    """(recall, precision) of pipeline labels (doc_id, cluster_id).

    Recall: share of ``pairs`` whose endpoints share a cluster.
    Precision: share of same-cluster doc pairs whose docs share a true
    family (a truth pair or a transitive closure of truth pairs)."""
    lab = dict(zip(labels.doc_id, labels.cluster_id))
    src = pairs.src.map(lab)
    dst = pairs.dst.map(lab)
    recall = float((src.notna() & (src == dst)).mean()) if len(pairs) else 1.0
    m = labels.merge(clusters, on="doc_id", how="left")
    m["family_id"] = m.family_id.fillna(m.doc_id)

    def n_pairs(sizes: pd.Series) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    same = n_pairs(m.groupby("cluster_id").size())
    good = n_pairs(m.groupby(["cluster_id", "family_id"]).size())
    precision = good / same if same else 1.0
    return recall, precision
