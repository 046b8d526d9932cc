"""O13 — exact-substring (containment) pass (SURVEY.md §2.6).

Flags doc pairs sharing >= L contiguous bytes of normalized text —
the dups MinHash misses (a page embedded in a larger page has low
Jaccard). Spark-native re-expression of the suffix-array approach:

  1. winnowing anchors per doc (Arrow kernel, miekki.substr_kernels)
  2. explode to a fingerprint table (fp, doc_id, pos) — streamed,
     never checkpointed (the big intermediate at corpus scale)
  3. salted star + chain candidate pairs per fp bucket
     (``lsh.bucket_pairs``: bounded, never all-pairs; carries anchor
     positions through)
  4. exact byte-extension verification around <= A anchors per pair
     (Arrow kernel; the anchor window is byte-compared, so hash
     collisions cannot create false edges)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from miekki.config import DedupConfig
from miekki.kernels import _bin_view, _utf8_view
from miekki.stages.lsh import bucket_pairs, salt
from miekki.substr_kernels import batch_common_runs, batch_doc_anchors

def _anchor_schema(id_type: str) -> str:
    return f"doc_id {id_type}, fp long, pos int"


def _verify_schema(id_type: str) -> str:
    return f"src {id_type}, dst {id_type}, run_len int"

MAX_ANCHORS_PER_PAIR = 4
CHAIN_SUCCESSORS = 2


def _first_last_per_fp(rows: np.ndarray, fps: np.ndarray, pos: np.ndarray):
    """Per (row, fp) group keep only the min- and max-pos occurrence
    (numpy twin of `groupBy(doc_id, fp).agg(min(pos), max(pos))` +
    distinct-explode). A doc's text sits in ONE Arrow row, so this
    finalizes exactly what the SQL agg computed — minus the 8.8M-row
    shuffle it used to cost."""
    order = np.lexsort((pos, fps, rows))
    r, f, p = rows[order], fps[order], pos[order]
    head = np.empty(len(r), dtype=bool)
    head[0] = True
    head[1:] = (r[1:] != r[:-1]) | (f[1:] != f[:-1])
    first_idx = np.nonzero(head)[0]
    last_idx = np.append(first_idx[1:], len(r)) - 1
    keep = np.union1d(first_idx, last_idx)       # min==max collapses
    return r[keep], f[keep], p[keep]


def make_anchor_kernel(cfg: DedupConfig):
    """Anchors for a whole Arrow batch in ONE vectorized pass
    (miekki.substr_kernels.batch_doc_anchors): rolling hashes over the
    concatenated UTF-8 bytes (exact — global polynomial exponents
    cancel per doc) + one flat span-doubling winnowing table + one
    global unique. Replaces the r1 per-doc python loop (and its
    per-doc .as_py() string copies): 1.46x faster at 2k-doc batches,
    min-of-5 (ROADMAP r2 #4). The first/last-per-(doc,fp) reduction
    (anchor_table's old groupBy) happens here too — map-side, no
    shuffle."""
    k, w = cfg.anchor_k, cfg.winnow_w

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc_id = batch.column("doc_id").to_numpy(zero_copy_only=False)
            data, offs = _utf8_view(batch.column("norm_text"))
            rows, fps, pos = batch_doc_anchors(data, offs, k, w)
            if not len(rows):
                continue
            rows, fps, pos = _first_last_per_fp(rows, fps, pos)
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_id[rows]), pa.array(fps), pa.array(pos)],
                names=["doc_id", "fp", "pos"])

    return kernel


def anchor_table(docs_norm: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, norm_text) → (doc_id, fp, pos); up to TWO positions
    per (doc, fp) — first and last occurrence. Min-pos alone loses
    containment edges when an anchor's content repeats inside a doc
    (boilerplate): the earliest occurrence may sit outside the true
    >=L shared run (ADVICE r1). First+last brackets the doc, so a run
    anywhere keeps at least one in-run anchor unless the same fp
    repeats 3+ times with the run strictly in the middle.

    Map-only (r2): the first/last reduction runs inside the Arrow
    kernel (a doc never spans batches), so this stage does ZERO
    shuffles — the old `groupBy(doc_id, fp)` moved the full 8.8M-row
    anchor table once for nothing."""
    from miekki.exprs import id_spark_type

    return docs_norm.select("doc_id", "norm_text").mapInArrow(
        make_anchor_kernel(cfg), _anchor_schema(id_spark_type(cfg)))


def candidate_anchor_pairs(anchors: DataFrame, cfg: DedupConfig) -> DataFrame:
    """fp table → (src, dst, src_pos, dst_pos): ``lsh.bucket_pairs``
    per fp bucket in (doc_id, pos) order, <= MAX_ANCHORS_PER_PAIR rows
    per pair."""
    pairs = (bucket_pairs(anchors.withColumn("salt", salt(cfg)), ["fp"],
                          CHAIN_SUCCESSORS, ("pos",))
             .where(F.col("src") != F.col("dst")))
    # cap ranked by a deterministic hash, NOT by earliest position:
    # earliest-first lets a repeated prefix crowd out run-interior
    # anchors (ADVICE r1); hash rank spreads the kept anchors over the
    # doc while staying partitioning-invariant.
    w = Window.partitionBy("src", "dst").orderBy(
        F.xxhash64("src_pos", "dst_pos"), "src_pos", "dst_pos")
    # drop exact duplicate anchors BEFORE the cap: the bucket-min row
    # emits its first CHAIN_SUCCESSORS neighbors as chain pairs AND
    # the same rows as star pairs — byte-identical, adjacent under
    # this ordering. Without the lag-filter they consume anchor-budget
    # slots (a pair could hold 2 distinct anchors instead of 4,
    # dropping a containment edge its crowded-out anchor witnessed)
    # and get clipped/joined/byte-verified twice. Both window passes
    # share one (exchange, sort) — same partitioning and order.
    here = F.struct("src_pos", "dst_pos")
    deduped = (pairs.withColumn("_prev", F.lag(here).over(w))
               .where(F.col("_prev").isNull() | (here != F.col("_prev")))
               .drop("_prev"))
    return (deduped.withColumn("rn", F.row_number().over(w))
                   .where(F.col("rn") <= MAX_ANCHORS_PER_PAIR).drop("rn"))


def make_verify_kernel(cfg: DedupConfig):
    k = cfg.anchor_k

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            src = batch.column("src").to_numpy(zero_copy_only=False)
            dst = batch.column("dst").to_numpy(zero_copy_only=False)
            spos = batch.column("src_pos").to_numpy(zero_copy_only=False)
            dpos = batch.column("dst_pos").to_numpy(zero_copy_only=False)
            # clips come from substring() over non-null encoded text
            da, oa = _bin_view(batch.column("t_src"))
            db, ob = _bin_view(batch.column("t_dst"))
            # one flat-buffer vectorized pass over the whole batch (r3)
            # — replaces the per-pair .as_py() python loop that made
            # this the slowest-scaling stage in BENCH_r02
            runs = batch_common_runs(da, oa, db, ob, spos, dpos, k)
            yield pa.RecordBatch.from_arrays(
                [pa.array(src), pa.array(dst), pa.array(runs)],
                names=["src", "dst", "run_len"])

    return kernel


def _clip(side: str, ext: int, k: int):
    """Byte-window clip of one side's text around its anchor: emits
    t_<side> = utf8_bytes[pos-ext : pos+k+ext] and the anchor position
    rebased into the clip. substring() here is over BINARY (byte
    positions — the anchor positions are byte offsets, so string
    substring would shear on non-ASCII text)."""
    off = f"greatest({side}_pos - {ext}, 0)"
    return [
        F.expr(f"substring(tb_{side}, {off} + 1, {2 * ext + k})")
         .alias(f"t_{side}"),
        F.expr(f"{side}_pos - {off}").cast("int").alias(f"{side}_cpos"),
    ]


def substr_candidate_edges(docs_norm: DataFrame, cfg: DedupConfig) -> DataFrame:
    """T1 → verified containment edges (origin='substr',
    weight=run_len). Docs shorter than anchor_k bytes can't qualify
    (run <= doc length < L) and produce no anchors.

    Verification ships CLIPPED byte windows, not whole documents
    (r2): the candidate pair table used to carry both full texts
    through the second join's shuffle and the Arrow boundary —
    ~5 KB/pair here, 10-100x worse on real web pages. A window of
    ext = substr_len bytes each side of the anchor decides the
    threshold EXACTLY: clipped run = min(ext_l, ext) + k +
    min(ext_r, ext), and if true run >= L then either both sides are
    uncapped (full run) or a capped side alone contributes ext = L.
    The reported weight saturates at 2L + k — documented cap, only
    the threshold decision is semantic."""
    anchors = anchor_table(docs_norm, cfg)
    pairs = candidate_anchor_pairs(anchors, cfg)
    ext = cfg.substr_len
    k = cfg.anchor_k
    texts = docs_norm.select("doc_id",
                             F.encode("norm_text", "UTF-8").alias("tb"))
    joined = (pairs
              .join(texts.withColumnsRenamed(
                  {"doc_id": "src", "tb": "tb_src"}), "src")
              .select("src", "dst", "dst_pos", "src_pos",
                      *_clip("src", ext, k))
              .join(texts.withColumnsRenamed(
                  {"doc_id": "dst", "tb": "tb_dst"}), "dst")
              .select("src", "dst", F.col("src_cpos").alias("src_pos"),
                      "t_src", *_clip("dst", ext, k))
              .withColumnRenamed("dst_cpos", "dst_pos"))
    from miekki.exprs import id_spark_type

    verified = joined.mapInArrow(make_verify_kernel(cfg),
                                 _verify_schema(id_spark_type(cfg)))
    return (verified.where(F.col("run_len") >= cfg.substr_len)
            .groupBy("src", "dst")
            .agg(F.max("run_len").alias("run_len"))
            .select("src", "dst", F.lit("substr").alias("origin"),
                    F.col("run_len").cast("double").alias("weight")))
