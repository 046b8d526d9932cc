"""spark-submit entry point (SURVEY.md §3.3; BASELINE.json north_rule
"run via spark-submit --py-files").

  spark-submit --py-files miekki.zip miekki/cli.py run \
      --catalog-root /data/miekki --corpus corpus --run-id R1
  spark-submit ... miekki/cli.py run --catalog iceberg \
      --namespace warehouse.dedup --corpus db.corpus --run-id R1
  python -m miekki.cli ingest --sf-dir /root/testdata/sf0.1 \
      --catalog-root /tmp/cat          # sandbox: fixture corpus → catalog
  python scripts/bench_cluster_scaling.py   # N vs 4N executors protocol

On a real cluster the session comes from spark-submit's conf; locally
build_spark supplies local[N] defaults.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _get_spark(args):
    from miekki.session import build_spark

    return build_spark(master=args.master, app_name="miekki-cli",
                       shuffle_partitions=args.shuffle_partitions)


def _get_catalog(spark, args):
    from miekki.catalog import HadoopCatalog, IcebergCatalog

    if args.catalog == "iceberg":
        return IcebergCatalog(spark, args.namespace)
    return HadoopCatalog(spark, args.catalog_root)


def cmd_ingest(args):
    """Sandbox helper: synthesize the fixture corpus from an sf dir
    and register it as the catalog's `corpus` table."""
    from miekki.fixtures import write_fixture

    spark = _get_spark(args)
    cat = _get_catalog(spark, args)
    paths = write_fixture(args.sf_dir, args.catalog_root + "/_fixture_src")
    df = spark.read.parquet(paths["corpus"])
    if args.partitions:
        df = df.repartition(args.partitions)
    cat.overwrite("corpus", df, run_id="ingest")
    print(json.dumps({"ingested": cat.read("corpus").count()}))


def cmd_run(args):
    from miekki.config import DedupConfig
    from miekki.pipeline import run

    spark = _get_spark(args)
    cat = _get_catalog(spark, args)
    cfg = DedupConfig()
    t0 = time.time()
    res = run(spark, cat, cfg, run_id=args.run_id,
              corpus_table=args.corpus,
              check_invariant=args.check_invariant,
              emit_tiers=args.emit_tiers)
    out = {
        "run_id": args.run_id,
        "n_docs": res["n_docs"],
        "executed": res["executed"],
        "skipped": res["skipped"],
        "wall_sec": round(time.time() - t0, 2),
        "config_hash": cfg.config_hash()[:12],
    }
    if args.emit_tiers:
        from pyspark.sql import functions as F

        out["tier_histogram"] = {      # ≤5-row aggregate, safe collect
            r["tier"]: r["n"] for r in
            cat.read("doc_tiers").groupBy("tier")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    print(json.dumps(out))


def _run_filter(spark, cat, cfg, args):
    """Shared X24 funnel head for the filter and curate subcommands:
    normalize -> filter_battery -> persist `filter_verdicts` and
    `corpus_kept`. One definition so the two commands' persisted
    tables can never silently diverge. Returns (corpus, docs,
    kept_ids)."""
    from pyspark.sql import functions as F

    from miekki.exprs import doc_id_sql
    from miekki.stages.normalize import normalize
    from miekki.webstats import filter_battery

    corpus = cat.read(args.corpus)
    docs = normalize(corpus, cfg)
    langs = tuple(s for s in args.langs.split(",") if s)
    verdicts = filter_battery(docs, norm_col="norm_text",
                              allowed_langs=langs)
    cat.overwrite("filter_verdicts", verdicts, run_id=args.run_id)
    kept_ids = (cat.read("filter_verdicts")
                .where(F.col("keep")).select("doc_id"))
    kept = (corpus
            .withColumn("doc_id", F.expr(doc_id_sql("url", cfg)))
            .join(kept_ids, "doc_id", "left_semi")
            .drop("doc_id"))
    cat.overwrite("corpus_kept", kept, run_id=args.run_id)
    return corpus, docs, kept_ids


def cmd_filter(args):
    """Run the web-corpus filter battery (X24) over the catalog's
    corpus table: writes `filter_verdicts` (doc_id, keep, reasons —
    the Dolma-style tagger output; nothing is dropped silently) and
    `corpus_kept` (the surviving corpus rows, a left-semi join
    against the persisted verdicts so the battery computes once).
    Map-only except the semi join; reason histogram is a ≤2^4-row
    aggregate, safe to collect."""
    from pyspark.sql import functions as F

    from miekki.config import DedupConfig

    spark = _get_spark(args)
    cat = _get_catalog(spark, args)
    cfg = DedupConfig()
    _run_filter(spark, cat, cfg, args)
    v = cat.read("filter_verdicts")

    hist = {r["reasons"]: r["n"] for r in
            (v.where(~F.col("keep"))
             .groupBy("reasons").agg(F.count(F.lit(1)).alias("n"))
             .collect())}
    print(json.dumps({
        "run_id": args.run_id,
        "n_docs": v.count(),
        "n_kept": cat.read("corpus_kept").count(),
        "dropped_by_reason": hist,
    }))


def cmd_stats(args):
    """Corpus distribution report via the bounded-state sketch family
    (X43/X45) plus the exact vocabulary head (X21): per-language
    HyperLogLog vocabulary cardinality (register frame + estimate —
    sketch-sized state, the corpus' token VALUES are never shuffled),
    per-language HDR doc-length quantiles (bin frame + guaranteed
    [lo, hi] containment intervals), and the exact top-k tokens
    (TakeOrderedAndProject — per-partition heaps). Each lands as a
    catalog table; the printed JSON carries the headline numbers
    (every collected frame here is sketch-sized: ≤ langs·3 quantile
    rows, ≤ langs HLL rows, ≤ k token rows)."""
    from pyspark.sql import functions as F

    from miekki.sketches import (hdr_histogram, hdr_quantiles,
                                 hll_estimate, hll_registers)
    from miekki.stages.normalize import norm_text_col
    from miekki.webstats import vocab_topk

    spark = _get_spark(args)
    cat = _get_catalog(spark, args)
    docs = (cat.read(args.corpus)
            .select("lang", norm_text_col("text").alias("norm"))
            .withColumn("n_chars", F.length("norm")))
    toks = (docs.select("lang", F.explode(F.split("norm", " "))
                        .alias("token"))
            .where(F.col("token") != ""))

    regs = hll_registers(toks, "token", ("lang",))
    vocab = hll_estimate(regs, ("lang",))
    lens = hdr_quantiles(hdr_histogram(docs, "n_chars", ("lang",)),
                         ("lang",))
    top = vocab_topk(docs, k=args.topk)
    cat.overwrite("stats_vocab_hll", vocab, run_id=args.run_id)
    cat.overwrite("stats_len_quantiles", lens, run_id=args.run_id)
    cat.overwrite("stats_vocab_topk", top, run_id=args.run_id)

    vrows = {r["lang"]: round(r["est_distinct"], 1)
             for r in cat.read("stats_vocab_hll").collect()}
    lrows = {}
    for r in cat.read("stats_len_quantiles").collect():
        lrows.setdefault(r["lang"], {})[r["q"]] = [r["lo"], r["hi"]]
    trows = [[r["token"], r["n"]]
             for r in cat.read("stats_vocab_topk")
             .orderBy(F.desc("n"), "token").limit(10).collect()]
    print(json.dumps({"run_id": args.run_id,
                      "vocab_est_by_lang": vrows,
                      "len_quantile_bounds_by_lang": lrows,
                      "top_tokens_head": trows}))


def cmd_cross(args):
    """X47 cross-corpus near-dup flagging from spark-submit: flag
    every doc of --corpus (B) that near-duplicates ANY doc of --ref
    (A) at signature-Jaccard >= tau. Writes `cross_verdicts`
    (doc_id, matched_a, est_j, flagged) — one row per B doc. The
    exact-overlap complement is the filter/decontam path; this one
    catches paraphrase-level and lightly-edited copies."""
    from pyspark.sql import functions as F

    from miekki.config import DedupConfig
    from miekki.cross import cross_dedup
    from miekki.stages.normalize import normalize
    from miekki.stages.signatures import signatures_from_text

    spark = _get_spark(args)
    cat = _get_catalog(spark, args)
    cfg = DedupConfig()
    sigs_b = signatures_from_text(
        normalize(cat.read(args.corpus), cfg), cfg)
    sigs_a = signatures_from_text(
        normalize(cat.read(args.ref), cfg), cfg)
    v = cross_dedup(sigs_b, sigs_a, cfg,
                    reps_per_bucket=args.reps_per_bucket)
    cat.overwrite("cross_verdicts", v, run_id=args.run_id)
    out = cat.read("cross_verdicts")
    print(json.dumps({
        "run_id": args.run_id,
        "n_docs": out.count(),
        "n_flagged": out.where(F.col("flagged")).count(),
    }))


def cmd_curate(args):
    """End-to-end training-data curation — the composition the engine
    exists for, as one resumable catalog run:

      corpus → X24 filter battery (verdicts kept, never silent)
             → dedup pipeline (MinHash-LSH ∪ SimHash ∪ substring → CC)
               with X27 tier labels
             → X28 cluster cap (≤ --cluster-cap survivors per dup
               cluster, deterministic rank)
             → X29 mixture sampling (per-lang --mix rates)
             → X26 split assignment (--splits weights)
             → `curated` table (url, warc_ts, text, lang, cluster_id,
               tier, split)

    Every arrow is a catalog table, so the funnel is auditable and
    each count in the printed JSON is reproducible by reading the
    intermediate tables. Dedup stages resume via lineage; the
    filter/cap/mix/split stages are cheap projections recomputed per
    run_id."""
    from pyspark.sql import functions as F

    from miekki.config import DedupConfig
    from miekki.exprs import doc_id_sql
    from miekki.pipeline import run
    from miekki.tiers import cluster_cap, mix_sample
    from miekki.webstats import split_assign

    spark = _get_spark(args)
    cat = _get_catalog(spark, args)
    cfg = DedupConfig()
    t0 = time.time()

    # 0. optional X46 URL-level dedup — collapse re-crawls of one
    # page by canonical URL BEFORE any content work (the standard
    # funnel order: every downstream stage then pays for one capture
    # per page). url_verdicts keeps the audit trail; corpus_url_kept
    # becomes the funnel's input table.
    url_summary = None
    if args.url_dedup:
        from miekki.decontam import url_dedup

        raw = cat.read(args.corpus)
        # audit value: RAW capture rows, counted before the
        # identical-url collapse below (the verdict table would
        # under-report appended recrawls of one exact url)
        n_url_in = raw.count()
        # pre-collapse captures with IDENTICAL raw url (recrawl
        # appended instead of upserted): they all hash to one doc_id,
        # so url_dedup's (len, doc_id) tie-break cannot separate them
        # and the winners semi-join below would keep every one of
        # them — including shorter losers (ADVICE r5 high). Keep the
        # lexicographically-richest capture per raw url via ONE
        # map-side-collapsible max-struct (never a window over raw
        # captures — same scale argument as url_dedup itself);
        # unique-url corpora pass through bit-identically (all
        # groups are singletons).
        payload = [c for c in raw.columns if c != "url"]
        raw = (raw.groupBy("url")
               .agg(F.max(F.struct(
                   F.length("text").alias("__l"),
                   *[F.col(c) for c in payload])).alias("__w"))
               .select("url", *[F.col(f"__w.{c}") for c in payload]))
        raw = raw.withColumn("doc_id", F.expr(doc_id_sql("url", cfg)))
        uv = url_dedup(raw.withColumn("__n", F.length("text")),
                       len_col="__n")
        cat.overwrite("url_verdicts", uv, run_id=args.run_id)
        winners = (cat.read("url_verdicts")
                   .where(F.col("kept")).select("doc_id"))
        cat.overwrite("corpus_url_kept",
                      raw.join(winners, "doc_id", "left_semi")
                      .drop("doc_id"),
                      run_id=args.run_id)
        n_url_kept = cat.read("corpus_url_kept").count()
        url_summary = {"captures": n_url_in, "pages_kept": n_url_kept}
        args.corpus = "corpus_url_kept"

    # 1. filter battery → keep/drop verdicts + surviving corpus
    # (shared head with the filter subcommand — one definition)
    corpus, docs, kept_ids = _run_filter(spark, cat, cfg, args)
    n_input = corpus.count()
    n_filtered = cat.read("corpus_kept").count()

    # 1b. optional unigram-LM scoring (X30) over the full input —
    # an auditable quality signal next to the verdicts (scored
    # pre-filter so dropped docs keep their score for the audit)
    if args.emit_lm:
        from miekki.lm import lm_score

        cat.overwrite(
            "doc_lm",
            lm_score(docs.select("doc_id", "norm_text"),
                     norm_col="norm_text"),
            run_id=args.run_id)

    # 1c. optional DSIR importance weights (X32) over the full input
    # with the filter battery's keepers as the target distribution —
    # "docs that look like what the battery keeps" as a continuous,
    # auditable signal next to the binary verdicts
    if args.emit_dsir:
        from miekki.dsir import dsir_score, feature_weights

        raw_docs = docs.select("doc_id", "norm_text")
        tgt_docs = raw_docs.join(kept_ids, "doc_id", "left_semi")
        w = feature_weights(tgt_docs, raw_docs, norm_col="norm_text")
        cat.overwrite(
            "doc_dsir",
            dsir_score(raw_docs, w, threshold=args.dsir_threshold,
                       norm_col="norm_text"),
            run_id=args.run_id)

    # 2. dedup + tiers over the surviving corpus (resumable stages)
    res = run(spark, cat, cfg, run_id=args.run_id,
              corpus_table="corpus_kept", emit_tiers=True)

    # 3. cluster-size retention: the hard per-cluster ceiling (X28,
    # ≤ k survivors) by default, or X40 soft dedup (each member kept
    # w.p. n^(-alpha), min-rank member always) when --soft-alpha is
    # given — the smooth retention curve for data-constrained runs
    labels = cat.read("cluster_labels").select("doc_id", "cluster_id",
                                               "url")
    if args.soft_alpha is not None:
        from miekki.tiers import soft_dedup
        capped = (soft_dedup(labels.select("doc_id", "cluster_id"),
                             alpha=args.soft_alpha)
                  .where(F.col("kept")))
    else:
        capped = cluster_cap(labels, k=args.cluster_cap)
    survivors = labels.join(capped.select("doc_id"), "doc_id",
                            "left_semi")

    # 4. mixture sampling per lang, 5. split assignment by url
    rates = tuple((kv.split("=")[0], float(kv.split("=")[1]))
                  for kv in args.mix.split(",") if kv)
    meta = survivors.join(
        cat.read("docs_norm").select("doc_id", "lang"), "doc_id")
    mixed = mix_sample(meta, rates=rates, stratum_col="lang",
                       key_col="url", default_rate=args.default_rate)
    final_ids = mixed.where(F.col("kept")).select("doc_id")
    weights = tuple((kv.split("=")[0], float(kv.split("=")[1]))
                    for kv in args.splits.split(",") if kv)
    # --split-by cluster: dedup-aware eval hygiene (every member of a
    # dup cluster hashes the same key, so near-dups can never straddle
    # train/val — the split_leakage audit's fix). url stays the
    # default for append-stability of historical runs.
    split_src = (labels.select("doc_id", F.col("cluster_id")
                               .cast("string").alias("__sk"))
                 if args.split_by == "cluster"
                 else labels.select("doc_id", F.col("url").alias("__sk")))
    final = (labels.join(final_ids, "doc_id", "left_semi")
             .join(split_assign(split_src, weights=weights,
                                key_col="__sk"), "doc_id")
             .join(cat.read("doc_tiers"), "doc_id")
             # read the PERSISTED corpus_kept, not the `kept` plan:
             # the plan would re-scan the raw corpus, re-hash every
             # url and re-run the verdict semi-join whose result is
             # already parquet in the catalog
             .join(cat.read("corpus_kept").withColumn(
                 "doc_id", F.expr(doc_id_sql("url", cfg)))
                 .select("doc_id", "warc_ts", "text", "lang"), "doc_id")
             .select("doc_id", "url", "warc_ts", "text", "lang",
                     "cluster_id", "tier", "split"))
    cat.overwrite("curated", final, run_id=args.run_id)

    cur = cat.read("curated")
    n_curated = cur.count()

    # 6. optional sequence packing (X33) over the curated survivors —
    # the terminal loader-side step: every curated doc gets its
    # (bucket, seq span) assignment for fixed-length training
    # sequences; per-bucket fill stats ride the summary
    pack_summary = None
    if args.emit_pack:
        from miekki.lm import _tokens
        from miekki.packing import pack_stats, seq_pack

        # token counts use the pinned X30 tokenizer over NORMALIZED
        # text (packing.py's contract) — splitting raw `text` on ' '
        # would disagree with doc_lm's n_tok for docs with tabs or
        # newlines
        counts = (docs
                  .select("doc_id",
                          F.size(_tokens("norm_text")).cast("long")
                          .alias("n_tok"))
                  .join(cur.select("doc_id"), "doc_id", "left_semi"))
        packed = seq_pack(counts, seq_len=args.seq_len)
        cat.overwrite("doc_pack", packed, run_id=args.run_id)
        st = (pack_stats(cat.read("doc_pack"), seq_len=args.seq_len)
              .agg(F.sum("n_tokens").alias("tok"),
                   F.sum("n_seqs").alias("seqs")).first())
        pack_summary = {"n_tokens": st["tok"], "n_seqs": st["seqs"],
                        "seq_len": args.seq_len}

    # 7. optional passage chunking (X34) — the retrieval-side dual of
    # packing: overlapping windows over the curated survivors'
    # normalized text
    chunk_summary = None
    if args.emit_chunks:
        from miekki.chunking import chunk_passages

        cur_norm = (docs.select("doc_id", F.col("norm_text")
                                .alias("norm"))
                    .join(cur.select("doc_id"), "doc_id", "left_semi"))
        cat.overwrite(
            "doc_chunks",
            chunk_passages(cur_norm, chunk_len=args.chunk_len,
                           stride=args.chunk_stride),
            run_id=args.run_id)
        chunk_summary = {
            "n_chunks": cat.read("doc_chunks").count(),
            "chunk_len": args.chunk_len, "stride": args.chunk_stride}

    # 8. optional semantic dedup (X31 over X36 text embeddings) — an
    # auditable second-pass signal over the curated survivors: which
    # kept docs are still semantic near-dups of each other (the
    # lexical passes above catch token overlap; the embedding pass
    # catches paraphrase-level similarity)
    semdedup_summary = None
    if args.emit_semdedup:
        from miekki.semdedup import semantic_dedup
        from miekki.text_embed import text_embed

        cur_norm = (docs.select("doc_id", F.col("norm_text")
                                .alias("norm"))
                    .join(cur.select("doc_id"), "doc_id", "left_semi"))
        sem = semantic_dedup(text_embed(cur_norm),
                             n_cells=args.semdedup_cells,
                             threshold=args.semdedup_threshold,
                             vec_col="vec", id_col="doc_id")
        cat.overwrite("doc_semdedup", sem, run_id=args.run_id)
        sd = cat.read("doc_semdedup")
        semdedup_summary = {
            "n_docs": sd.count(),
            "n_semantic_dups": sd.where("is_semantic_dup").count(),
            "n_cells": args.semdedup_cells,
            "threshold": args.semdedup_threshold}

    # 9. optional shard assignment (X39) — the terminal write-side
    # step: a deterministic global shuffle of the curated survivors
    # into balanced training shards (train split only: val/test are
    # read whole, never streamed shard-wise)
    shard_summary = None
    if args.emit_shards:
        from miekki.sharding import shard_assign, shard_stats

        assigned = shard_assign(
            cur.where(F.col("split") == "train").select("doc_id"),
            n_shards=args.n_shards)
        cat.overwrite("doc_shards", assigned, run_id=args.run_id)
        st = (shard_stats(cat.read("doc_shards"))
              .agg(F.count(F.lit(1)).alias("shards"),
                   F.min("n_docs").alias("mn"),
                   F.max("n_docs").alias("mx")).first())
        shard_summary = {"n_shards": args.n_shards,
                         "shards_used": st["shards"],
                         "min_docs": st["mn"], "max_docs": st["mx"]}

    print(json.dumps({
        "run_id": args.run_id,
        "funnel": {"input": n_input, "after_filter": n_filtered,
                   "after_dedup": res["n_docs"],
                   "after_cap": survivors.count(),
                   "curated": n_curated},
        "url_dedup": url_summary,
        "retention": ("cap" if args.soft_alpha is None
                      else f"soft:{args.soft_alpha}"),
        "by_split": {r["split"]: r["n"] for r in
                     cur.groupBy("split")
                     .agg(F.count(F.lit(1)).alias("n")).collect()},
        "by_tier": {r["tier"]: r["n"] for r in
                    cur.groupBy("tier")
                    .agg(F.count(F.lit(1)).alias("n")).collect()},
        "pack": pack_summary,
        "chunks": chunk_summary,
        "semdedup": semdedup_summary,
        "shards": shard_summary,
        "wall_sec": round(time.time() - t0, 2),
    }))


def main(argv=None):
    p = argparse.ArgumentParser(prog="miekki")
    sub = p.add_subparsers(dest="cmd", required=True)
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--master", default=None)
    common.add_argument("--shuffle-partitions", type=int, default=None)
    common.add_argument("--catalog", choices=["hadoop", "iceberg"],
                        default="hadoop")
    common.add_argument("--catalog-root", default="/tmp/miekki_catalog")
    common.add_argument("--namespace", default="miekki")

    pi = sub.add_parser("ingest", parents=[common])
    pi.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    pi.add_argument("--partitions", type=int, default=96)
    pi.set_defaults(fn=cmd_ingest)

    pr = sub.add_parser("run", parents=[common])
    pr.add_argument("--run-id", default="run0")
    pr.add_argument("--corpus", default="corpus")
    pr.add_argument("--check-invariant", action="store_true")
    pr.add_argument("--emit-tiers", action="store_true",
                    help="also materialize the X27 doc_tiers table")
    pr.set_defaults(fn=cmd_run)

    pf = sub.add_parser("filter", parents=[common])
    pf.add_argument("--run-id", default="filter0")
    pf.add_argument("--corpus", default="corpus")
    pf.add_argument("--langs", default="en",
                    help="comma-separated language allowlist")
    pf.set_defaults(fn=cmd_filter)

    px = sub.add_parser("cross", parents=[common])
    px.add_argument("--run-id", default="cross0")
    px.add_argument("--corpus", default="corpus",
                    help="corpus B: the table to flag")
    px.add_argument("--ref", required=True,
                    help="corpus A: the reference table to flag against")
    px.add_argument("--reps-per-bucket", type=int, default=2)
    px.set_defaults(fn=cmd_cross)

    ps = sub.add_parser("stats", parents=[common])
    ps.add_argument("--run-id", default="stats0")
    ps.add_argument("--corpus", default="corpus",
                    help="catalog table to report on (e.g. corpus_kept)")
    ps.add_argument("--topk", type=int, default=100)
    ps.set_defaults(fn=cmd_stats)

    pc = sub.add_parser("curate", parents=[common])
    pc.add_argument("--run-id", default="curate0")
    pc.add_argument("--corpus", default="corpus")
    pc.add_argument("--langs", default="en")
    pc.add_argument("--cluster-cap", type=int, default=4)
    pc.add_argument("--split-by", choices=["url", "cluster"],
                    default="url",
                    help="split-assignment key; 'cluster' keeps every"
                         " dup cluster inside one split (zero"
                         " train/val near-dup leakage)")
    pc.add_argument("--url-dedup", action="store_true",
                    help="collapse re-crawls by canonical URL (X46)"
                         " before the filter battery; writes"
                         " url_verdicts + corpus_url_kept")
    pc.add_argument("--soft-alpha", type=float, default=None,
                    help="use X40 soft dedup (keep each cluster "
                    "member w.p. n^-alpha, min-rank always kept) "
                    "instead of the hard --cluster-cap ceiling")
    pc.add_argument("--mix", default="en=1.0",
                    help="lang=rate pairs, e.g. en=0.5,fr=1.0")
    pc.add_argument("--default-rate", type=float, default=1.0)
    pc.add_argument("--splits", default="train=0.98,val=0.01,test=0.01")
    pc.add_argument("--emit-lm", action="store_true",
                    help="also write doc_lm (X30 unigram-LM scores"
                         " over the full input, pre-filter)")
    pc.add_argument("--emit-dsir", action="store_true",
                    help="also write doc_dsir (X32 importance weights"
                         " over the full input; target = the filter"
                         " battery's keepers)")
    pc.add_argument("--dsir-threshold", type=float, default=0.0)
    pc.add_argument("--emit-pack", action="store_true",
                    help="also write doc_pack (X33 sequence-packing"
                         " assignment over the curated survivors)")
    pc.add_argument("--seq-len", type=int, default=2048)
    pc.add_argument("--emit-chunks", action="store_true",
                    help="also write doc_chunks (X34 overlapping"
                         " passage windows over the curated"
                         " survivors' normalized text)")
    pc.add_argument("--chunk-len", type=int, default=2048)
    pc.add_argument("--chunk-stride", type=int, default=1792)
    pc.add_argument("--emit-shards", action="store_true",
                    help="assign curated train docs to balanced "
                         "training shards (X39 doc_shards table)")
    pc.add_argument("--n-shards", type=int, default=64)
    pc.add_argument("--emit-semdedup", action="store_true",
                    help="also write doc_semdedup (X31 SemDeDup over"
                         " X36 text embeddings of the curated"
                         " survivors)")
    pc.add_argument("--semdedup-cells", type=int, default=32)
    pc.add_argument("--semdedup-threshold", type=float, default=0.95)
    pc.set_defaults(fn=cmd_curate)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
