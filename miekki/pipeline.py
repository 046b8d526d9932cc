"""End-to-end dedup pipeline (SURVEY.md §3.1).

The stage graph is defined once: ``dedup_edges`` (T1 + T2 → T4) and
``cluster_labels`` (T4 + T0 → T5). ``dedup_labels`` composes them as
the pure dataflow (DataFrame in → DataFrame out, no I/O) used by tests
and the driver contract; ``run`` materializes the same functions with
checkpointing / lineage / metrics via the catalog layer (O21–O23) and
resumes mid-pipeline: a stage re-executes only when its input
snapshot or the config hash changed or no 'done' lineage row exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from miekki.config import DedupConfig
from miekki.exprs import doc_id_sql
from miekki.stages.canonical import select_canonical
from miekki.stages.cc import cc_labels
from miekki.stages.lsh import minhash_candidate_edges
from miekki.stages.normalize import normalize
from miekki.stages.signatures import signatures_from_text
from miekki.stages.verify import verify_edges


def candidate_edges(signatures: DataFrame, cfg: DedupConfig,
                    use_simhash: bool = True) -> DataFrame:
    """T2 → verified candidate edges (T4): minhash ∪ simhash (O14)."""
    cand = minhash_candidate_edges(signatures, cfg)
    edges = verify_edges(cand, signatures, cfg, origin="minhash")
    if use_simhash:
        from miekki.stages.simhash import simhash_candidate_edges

        edges = edges.unionByName(simhash_candidate_edges(signatures, cfg))
    return edges


def dedup_edges(docs: DataFrame, sigs: DataFrame, cfg: DedupConfig,
                use_simhash: bool = True,
                use_substr: bool = True) -> DataFrame:
    """T1 + T2 → T4: candidate_edges ∪ the exact-substring pass."""
    edges = candidate_edges(sigs, cfg, use_simhash=use_simhash)
    if use_substr:
        from miekki.stages.substr import substr_candidate_edges

        edges = edges.unionByName(substr_candidate_edges(docs, cfg))
    return edges


def _doc_meta(corpus: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, url, warc_ts) with EXACTLY one row per doc, in one
    aggregate over T0: doc_id is the url hash, so a dirty input
    carrying the same url twice (recrawl appended instead of upserted)
    folds to one row, pinned to its earliest capture (warc_ts is
    non-null; the canonical tie-break prefers the earliest crawl
    anyway)."""
    earliest = F.min(F.struct("warc_ts", "url")).alias("m")
    return (corpus.groupBy(F.expr(doc_id_sql("url", cfg)).alias("doc_id"))
            .agg(earliest).select("doc_id", "m.url", "m.warc_ts"))


def cluster_labels(edges: DataFrame, corpus: DataFrame,
                   cfg: DedupConfig) -> DataFrame:
    """T4 + T0 → T5 (doc_id, cluster_id, url, warc_ts, is_canonical):
    CC over the de-duplicated (src, dst) pairs, then one canonical per
    cluster."""
    pairs = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    meta = _doc_meta(corpus, cfg)
    return select_canonical(cc_labels(pairs, meta.select("doc_id")), meta)


def dedup_labels(corpus: DataFrame, cfg: DedupConfig = DedupConfig(),
                 use_simhash: bool = True,
                 use_substr: bool = True) -> DataFrame:
    """corpus (url, warc_ts, text, lang[, html]) → labels
    (doc_id, cluster_id, url, warc_ts, is_canonical)."""
    # signatures feed three consumers (banding + both verify joins):
    # materialize once instead of recomputing the Arrow kernel 3x.
    # pipeline.run() checkpoints T2 to the catalog instead (O23).
    # localCheckpoint, NOT persist(): an InMemoryRelation would preserve
    # the doc_id partitioning for the six doc_id-keyed joins downstream,
    # but measured e2e at 4 cores it DOUBLED the candidate-edge phase
    # (361 s vs ~130 s) — every branch re-decodes the columnar cache and
    # whole-stage codegen breaks at the cache boundary, which costs far
    # more than the skinny join-side exchanges it saves. On a real
    # cluster the equivalent partition reuse comes free from the
    # bucketed T1/T2 catalog writes in run() (SURVEY.md §4.5).
    docs = normalize(corpus, cfg).localCheckpoint()
    sigs = signatures_from_text(docs, cfg).localCheckpoint()
    edges = dedup_edges(docs, sigs, cfg, use_simhash, use_substr)
    return cluster_labels(edges, corpus, cfg)


def run(spark, catalog, cfg: DedupConfig = DedupConfig(),
        run_id: str = "run0", corpus_table: str = "corpus",
        check_invariant: bool = False, use_substr: bool = True,
        n_buckets: int = 32,
        emit_tiers: bool = False) -> dict:
    """Durable pipeline: corpus table → checkpointed T1/T2/T4/T5 in
    the catalog with lineage + per-file metrics (O21–O23).

    Stage graph (each row = one catalog table, one lineage unit):
      docs_norm      ← corpus                      (O3/O4)
      signatures     ← docs_norm                   (O5–O7 + n_shingles)
      candidate_edges← signatures [+ docs_norm]    (O8–O14)
      cluster_labels ← candidate_edges + corpus    (O15–O19)
      doc_tiers      ← candidate_edges + docs_norm (X27, opt-in:
                       emit_tiers=True — off by default so the
                       benchmarked 4-stage job stays comparable
                       across rounds)

    Resume: stage skipped iff a 'done' lineage row matches
    (stage, input_snapshot, config_hash) AND the output table still
    holds that row's snapshot; StageRunner keys each stage by the
    output snapshots of the stages before it, so re-running an
    upstream stage invalidates all downstream stages automatically.
    """
    from miekki.lineage import StageRunner

    runner = StageRunner(catalog, run_id, cfg.config_hash(),
                         catalog.snapshot_id(corpus_table) or "none")
    corpus = catalog.read(corpus_table)

    if check_invariant:
        from miekki.stages.extract import invariant_violations
        from miekki.stages.normalize import assert_nfc_sample

        bad = invariant_violations(corpus).first()["n_violations"]
        if bad:
            raise RuntimeError(
                f"extract invariant violated on {bad} rows (BASELINE input_hint)")
        assert_nfc_sample(corpus)

    docs = runner.materialize("docs_norm", lambda: normalize(corpus, cfg))
    # T2 bucketed by doc_id: both verify joins (src- and dst-side)
    # then read the signatures shuffle-free (SURVEY.md §4.5); at
    # 10^12 docs n_buckets is sized so one bucket ~ one executor core
    # worth of signatures (physical knob, not part of config_hash).
    sigs = runner.materialize(
        "signatures", lambda: signatures_from_text(docs, cfg),
        bucket_by=(n_buckets, ["doc_id"]))
    edges = runner.materialize(
        "candidate_edges",
        lambda: dedup_edges(docs, sigs, cfg, use_substr=use_substr),
        bucket_by=(n_buckets, ["src"]))
    labels = runner.materialize(
        "cluster_labels", lambda: cluster_labels(edges, corpus, cfg))

    out = {
        "labels": labels,
        "executed": runner.executed,
        "skipped": runner.skipped,
        "n_docs": sum(n for n, _ in catalog.data_files("cluster_labels")),
    }
    if emit_tiers:
        from miekki.tiers import pipeline_doc_tiers

        out["tiers"] = runner.materialize(
            "doc_tiers", lambda: pipeline_doc_tiers(docs, edges))
    return out
