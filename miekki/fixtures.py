"""Deterministic synthetic-corpus generator (FIXTURES.md F1/F2).

Wraps the driver-provided ``documents.parquet`` base texts into the
corpus shape mandated by BASELINE.json input_hint
(url, warc_ts, html, text, lang) and plants duplicate families with
ground-truth tables for the recall >= 0.99 gate (SURVEY.md O24).

All generation is numpy.random.Generator(PCG64(seed)) in ONE fixed
call order — regenerating is byte-stable. No pyspark imports: output
is pandas/pyarrow, written as parquet the pipeline reads.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

from miekki.config import DedupConfig
from miekki.textproc import char_shingles, normalize_text, render_html
from oracle.xxh64 import spark_xxhash64

EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

# warc_ts = EPOCH + base_id*137 s. Widened bench corpora offset ids by
# rep*10^7 (bench.widen_documents), so beyond mult~146 the product
# passes year 9999 and datetime overflows. Wrap at 2*10^11 s (~year
# 8300): every id used by mult <= 96 stays BELOW the wrap, so all
# cached/previously-measured corpora are bit-identical; only
# would-have-overflowed ids wrap. Within-family ordering (seed
# strictly first, +13 s per variant) is unaffected by a per-base wrap.
TS_WRAP_S = 200_000_000_000

# fixed variant order per family — part of the deterministic call order
VARIANT_KINDS = ("exact", "near_hi", "near_mid", "near_lo", "reorder", "contain", "chain")
NEAR_P = {"near_hi": 0.03, "near_mid": 0.08, "near_lo": 0.15}


def _base_url(doc_id: int, source: str, lang: str) -> str:
    return f"https://{source}.example.com/{lang}/doc{doc_id:08d}"


def _tokens(text: str) -> list[str]:
    toks = text.split()
    if len(toks) >= 10:
        return toks
    # zh-style unsegmented text: fall back to 3-char chunks so
    # token-level edits stay meaningful
    s = text.replace(" ", "")
    return [s[i : i + 3] for i in range(0, len(s), 3)] or [text]


def _rand_tokens(rng: np.random.Generator, n: int) -> list[str]:
    return [f"q{v:09d}z" for v in rng.integers(0, 10**9, size=n)]


def _near(rng: np.random.Generator, toks: list[str], p: float) -> list[str]:
    mask = rng.random(len(toks)) < p
    return [t + "x" if m else t for t, m in zip(toks, mask)]


def _jaccard(a: str, b: str, k: int) -> float:
    sa = set(char_shingles(normalize_text(a), k))
    sb = set(char_shingles(normalize_text(b), k))
    # empty-vs-empty is 1.0 — the oracle's pinned convention
    # (oracle/sketches.py true_jaccard); 0.0 here would record an
    # exact-dup pair of empty docs below every recall gate's tau
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def make_corpus(documents: pd.DataFrame, cfg: DedupConfig = DedupConfig(),
                seed: int = 42):
    """Build (corpus, truth_pairs, truth_clusters) pandas frames.

    Every 5th base doc (in doc_id order) seeds a duplicate family
    (FIXTURES.md F2); the rest are negatives. Variant urls get a
    ``v<kind>`` suffix; warc_ts orders the seed strictly first so
    canonical selection (O19) is deterministic.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    docs = documents.sort_values("doc_id").reset_index(drop=True)

    urls, tss, texts, langs = [], [], [], []
    pairs = []          # (src_url, dst_url, kind, jaccard, run_bytes)
    families = []       # (url, seed_url)

    for idx, row in docs.iterrows():
        base_id = int(row.doc_id)
        url = _base_url(base_id, row.source, row.lang)
        ts = EPOCH + timedelta(seconds=(base_id * 137) % TS_WRAP_S)
        urls.append(url); tss.append(ts); texts.append(row.text); langs.append(row.lang)
        families.append((url, url))

        if idx % 5 != 0:
            continue
        seed_text = row.text
        toks = _tokens(seed_text)
        variant_texts = {}
        for kind in VARIANT_KINDS:
            if kind == "exact":
                vt = seed_text
            elif kind in NEAR_P:
                vt = " ".join(_near(rng, toks, NEAR_P[kind]))
            elif kind == "reorder":
                h = len(toks) // 2
                vt = " ".join(toks[h:] + toks[:h])
            elif kind == "contain":
                m = max(1, int(len(toks) * 0.6))
                start = int(rng.integers(0, len(toks) - m + 1))
                core = toks[start : start + m]
                vt = " ".join(_rand_tokens(rng, 150) + core + _rand_tokens(rng, 150))
                run_bytes = len(" ".join(core).lower().encode("utf-8"))
            elif kind == "chain":
                vt = " ".join(_near(rng, _tokens(variant_texts["near_mid"]), NEAR_P["near_mid"]))
            variant_texts[kind] = vt

            vurl = f"{url}v{kind}"
            vts = ts + timedelta(seconds=13 * (1 + VARIANT_KINDS.index(kind)))
            urls.append(vurl); tss.append(vts); texts.append(vt); langs.append(row.lang)
            families.append((vurl, url))

            if kind == "chain":
                src_url = f"{url}vnear_mid"   # chain derives from near_mid
            else:
                src_url = url
            j = _jaccard(variant_texts.get("near_mid", seed_text) if kind == "chain" else seed_text,
                         vt, cfg.shingle_k)
            rb = run_bytes if kind == "contain" else 0
            pairs.append((src_url, vurl, kind, j, rb))

        # one negative pair per family: this seed vs the previous seed
        if idx >= 5:
            prev = docs.iloc[(idx // 5 - 1) * 5]
            purl = _base_url(int(prev.doc_id), prev.source, prev.lang)
            pairs.append((purl, url, "negative", _jaccard(prev.text, seed_text, cfg.shingle_k), 0))

    hid = {u: spark_xxhash64(u) for u in urls}
    corpus = pd.DataFrame({
        "url": urls,
        "warc_ts": pd.Series(tss, dtype="datetime64[us, UTC]"),
        "html": [render_html(t) for t in texts],
        "text": texts,
        "lang": langs,
    })
    truth_pairs = pd.DataFrame(
        [(hid[s], hid[d], k, j, rb) for s, d, k, j, rb in pairs],
        columns=["src", "dst", "kind", "jaccard", "run_bytes"],
    )
    truth_clusters = pd.DataFrame(
        [(hid[u], hid[su]) for u, su in families], columns=["doc_id", "family_id"]
    )
    return corpus, truth_pairs, truth_clusters


def write_fixture(sf_dir: str, out_dir: str) -> dict[str, str]:
    """Generate the fixture corpus for one testdata SF dir → parquet."""
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    corpus, tp, tc = make_corpus(docs)
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, df in [("corpus", corpus), ("truth_pairs", tp), ("truth_clusters", tc)]:
        p = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(p, index=False)
        paths[name] = p
    return paths
