"""X34 — passage chunking: split every document into fixed-length
overlapping windows, map-only.

Public design this derives from: the standard retrieval/RAG corpus
preparation step (fixed-size passages with overlap — e.g. DPR,
Karpukhin et al. 2020, uses 100-word passages; most production
chunkers use character or token windows with a stride). The dual of
X33: packing concatenates short docs UP to sequence length, chunking
splits long docs DOWN to passage length.

Pinned spec (shared by both dialects; character-based so the twin is
exact and tokenizer-free — swap in X30's tokenizer upstream by
pre-joining token arrays if token windows are needed):
  L          = chunk_len  (chars per chunk)
  S          = stride     (chars between chunk starts; S <= L,
               overlap = L - S)
  n_chunks   = 1                          for len(text) <= L
               (len - L + S - 1) div S + 1 otherwise
               (integer arithmetic in BOTH engines — float ceil can
               disagree at exact multiples)
  chunk i    = substring(text, i*S + 1, L)   (1-based, clipped at the
               end; the last chunk may be shorter, never empty)
  empty doc  = exactly one empty chunk (pinned — the doc stays
               visible downstream, X24's never-discard-silently)

Coverage invariant (tested): every character position of the doc
appears in at least one chunk, consecutive chunks overlap by exactly
L - S chars (except the clipped tail), and chunk 0 starts at 0.

Scale shape: ONE map-only projection — sequence/transform/posexplode
are all codegen'd; no shuffle, no UDF, no state. Output row count is
sum(n_chunks) ≈ corpus_chars / S; at 100 TB the fan-out is bounded
per-task and streams (posexplode emits incrementally), so executor
memory is O(longest single document), the same bound normalize
already requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

CHUNK_LEN_DEFAULT = 2048
STRIDE_DEFAULT = 1792          # 256-char overlap


def chunk_passages(docs: DataFrame, chunk_len: int = CHUNK_LEN_DEFAULT,
                   stride: int = STRIDE_DEFAULT) -> DataFrame:
    """(doc_id, chunk_idx, chunk, n_chars) of the ``norm`` column — see
    module doc for the pinned spec. Map-only; one output row per
    chunk."""
    if not (0 < stride <= chunk_len):
        raise ValueError(f"need 0 < stride <= chunk_len,"
                         f" got {stride} > {chunk_len}")
    ln = F.length(F.coalesce(F.col("norm"), F.lit("")))
    n_chunks = F.when(ln <= chunk_len, F.lit(1)).otherwise(
        F.expr(f"(length(coalesce(norm, '')) - {chunk_len}"
               f" + {stride} - 1) div {stride}") + 1)
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.substring(F.coalesce(F.col("norm"), F.lit("")),
                              i * stride + 1, chunk_len))
    return (docs
            .select("doc_id", F.posexplode(chunks)
                    .alias("chunk_idx", "chunk"))
            .withColumn("n_chars", F.length("chunk").cast("long")))


def chunk_duck_sql(docs_cte: str, chunk_len: int = CHUNK_LEN_DEFAULT,
                   stride: int = STRIDE_DEFAULT) -> str:
    """DuckDB twin recomputing identical rows (same integer n_chunks
    arithmetic, same 1-based substr windows, same empty-doc pin)."""
    t = "coalesce(norm, '')"
    n = (f"CASE WHEN length({t}) <= {chunk_len} THEN 1"
         f" ELSE (length({t}) - {chunk_len} + {stride} - 1)"
         f" // {stride} + 1 END")
    return f"""
WITH docs AS ({docs_cte}),
sized AS (SELECT doc_id, {t} AS t, {n} AS n FROM docs)
SELECT doc_id,
       CAST(unnest(range(0, n)) AS INT) AS chunk_idx,
       unnest([substr(t, i * {stride} + 1, {chunk_len})
               for i in range(0, n)]) AS chunk,
       CAST(unnest([length(substr(t, i * {stride} + 1, {chunk_len}))
                    for i in range(0, n)]) AS BIGINT) AS n_chars
FROM sized
"""


def chunk_tokens(docs: DataFrame, chunk_len: int = 256,
                 stride: int = 224) -> DataFrame:
    """Token-space passage chunking (VERDICT r4 next-step #4): the
    char spec transposed onto the pre-tokenized ``tokens`` column (X30's
    tokenizer upstream, or any BPE id array as array<string>):

      (doc_id, chunk_idx, chunk: array<...>, n_tok)

    Same pinned arithmetic with len = size(tokens); empty/NULL token
    arrays pin to exactly one empty chunk (the doc stays visible).
    Coverage invariant (tested): every token index appears in ≥ 1
    chunk, consecutive chunks overlap by exactly chunk_len - stride
    tokens except the clipped tail.

    Scale shape: identical to chunk_passages — ONE map-only
    sequence/transform/posexplode projection, no shuffle, no UDF,
    memory O(longest doc)."""
    if not (0 < stride <= chunk_len):
        raise ValueError(f"need 0 < stride <= chunk_len,"
                         f" got {stride} > {chunk_len}")
    toks = F.coalesce(F.col("tokens"), F.array().cast("array<string>"))
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_len, F.lit(1)).otherwise(
        F.floor((n - chunk_len + stride - 1) / stride).cast("int") + 1)
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * stride + 1, chunk_len))
    return (docs
            .select("doc_id", F.posexplode(chunks)
                    .alias("chunk_idx", "chunk"))
            .withColumn("n_tok", F.size("chunk").cast("long")))


def chunk_tokens_duck_sql(docs_cte: str, chunk_len: int = 256,
                          stride: int = 224) -> str:
    """DuckDB twin of chunk_tokens with the chunk rendered as a
    space-joined string (both engines stringify for the hash compare).
    docs_cte must yield (doc_id, toks: list<varchar>)."""
    n = (f"CASE WHEN len(toks) <= {chunk_len} THEN 1"
         f" ELSE (len(toks) - {chunk_len} + {stride} - 1)"
         f" // {stride} + 1 END")
    return f"""
WITH docs AS ({docs_cte}),
sized AS (SELECT doc_id, toks, {n} AS n FROM docs)
SELECT doc_id,
       CAST(unnest(range(0, n)) AS INT) AS chunk_idx,
       -- coalesce: slicing an EMPTY list yields NULL in DuckDB where
       -- Spark's concat_ws gives '' (the pinned one-empty-chunk row)
       unnest([coalesce(array_to_string(
                 toks[i * {stride} + 1 : i * {stride} + {chunk_len}], ' '),
                 '')
               for i in range(0, n)]) AS chunk,
       CAST(unnest([coalesce(
                 len(toks[i * {stride} + 1 : i * {stride} + {chunk_len}]), 0)
                    for i in range(0, n)]) AS BIGINT) AS n_tok
FROM sized
"""
