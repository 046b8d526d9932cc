"""X33 — sequence packing for training (concat-and-chunk): assign
curated docs to fixed-length training sequences, deterministically
and in parallel.

Public design this derives from: the standard GPT-style pretraining
input pipeline (Brown et al. 2020 §2.3 describe packing documents
into 2048-token sequences; T5/LLaMA data loaders do the same) —
documents are concatenated in a fixed order and chunked every
`seq_len` tokens, with docs allowed to straddle a chunk boundary.
Boundary-respecting bin packing (first-fit-decreasing) is inherently
sequential per bin; concat-and-chunk is what production loaders
actually run AND it is exactly expressible as a window cumsum, so it
parallelizes and twins.

Pinned spec (shared by both dialects):
  bucket    = hash(doc_id) mod P                  (P = n_buckets —
              independent packer streams; production xxhash64,
              portable twin = multiplicative hash)
  order     = (rank, doc_id) within bucket        (rank pluggable —
              hash-uniform by default; pass a curriculum/length key
              to control locality)
  cum       = exclusive running sum of n_tok within the bucket
  start_off = cum mod seq_len      (offset of the doc's first token
                                    inside its first sequence)
  seq_first = floor(cum / seq_len)                (bucket-local)
  seq_last  = floor((cum + n_tok - 1) / seq_len)  for n_tok > 0;
              pinned = seq_first for n_tok = 0
  n_seqs    = seq_last - seq_first + 1 for n_tok > 0, else 0
              (how many training sequences the doc touches)

Conservation invariants (pinned, tested): within a bucket the
sequences 0..floor((sum n_tok - 1)/seq_len) are each touched by at
least one doc and every token position below the bucket's total is
covered exactly once — concat-and-chunk wastes nothing except the
final partial sequence per bucket.

Scale shape (the part that must survive 1000 executors / 100 TB):
  * exactly ONE shuffle — hashpartition on bucket; the window cumsum
    streams each bucket ordered (WindowExec buffers one frame row at
    a time for a running sum, not the whole partition for rank-style
    frames).
  * bucket count P is the parallelism/locality knob: partitions hold
    ~corpus/P docs, hash-uniform (no skew by construction — the key
    is a hash of doc_id, not a data attribute). Cross-bucket sequence
    ids never need a global pass: ids are (bucket, seq) pairs, and a
    flat id is `bucket * ceil_cap + seq` with ceil_cap chosen per
    run (docs_per_bucket * max_doc_tok / seq_len bounds it).
  * no driver-side state, no collect, no UDFs — pure codegen'd
    projections around one Window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

SEQ_LEN_DEFAULT = 2048
N_BUCKETS_DEFAULT = 1024


def seq_pack(docs: DataFrame, seq_len: int = SEQ_LEN_DEFAULT,
             n_buckets: int = N_BUCKETS_DEFAULT,
             bucket_col: F.Column | None = None,
             rank_col: F.Column | None = None,
             carry: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc packing assignment: (doc_id, bucket, n_tok, start_off,
    seq_first, seq_last, n_seqs[, *carry]). See module doc for the
    pinned spec.

    `docs` needs (doc_id, n_tok); n_tok is the doc's token count
    (X30's n_tok or X5's token counter — integer, >= 0). `carry`
    names extra columns to thread through the window (pack_pieces
    carries the token array — same one-shuffle shape, no join-back)."""
    # domain-tagged defaults (see tiers.mix_sample): independent of
    # each other and of every other hash-rank operator over doc_id
    bucket = (bucket_col if bucket_col is not None
              else F.pmod(F.xxhash64(F.lit("pack"), F.col("doc_id")),
                          F.lit(n_buckets)))
    rank = (rank_col if rank_col is not None
            else F.pmod(F.xxhash64(F.lit("packrk"), F.col("doc_id")),
                        F.lit(1 << 31)))
    tok = F.col("n_tok").cast("long")
    w = (Window.partitionBy("bucket")
         .orderBy("rk", "doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    out = (docs.select("doc_id", tok.alias("n_tok"),
                       bucket.alias("bucket"), rank.alias("rk"), *carry)
           .withColumn("cum", cum)
           .select(
               "doc_id", "bucket", "n_tok", *carry,
               F.pmod("cum", F.lit(seq_len)).alias("start_off"),
               # integer DIV, not double /: the DuckDB twin uses exact
               # integer //, and double division truncated to long can
               # cross an integer boundary for cumulative sums beyond
               # ~2^40 (ADVICE r4) — real at 10^12-doc bucket sums
               F.expr(f"cum DIV {int(seq_len)}").alias("seq_first"),
               F.when(F.col("n_tok") > 0,
                      F.expr(f"(cum + n_tok - 1) DIV {int(seq_len)}"))
               .otherwise(F.expr(f"cum DIV {int(seq_len)}"))
               .alias("seq_last")))
    return out.withColumn(
        "n_seqs",
        F.when(F.col("n_tok") > 0,
               F.col("seq_last") - F.col("seq_first") + 1)
        .otherwise(F.lit(0)).cast("long"))


def pack_stats(packed: DataFrame, seq_len: int = SEQ_LEN_DEFAULT
               ) -> DataFrame:
    """Per-bucket rollup: docs, tokens, sequences produced, and the
    fill ratio of the final chunking (1 - waste); waste is only the
    final partial sequence per bucket, so fill -> 1 as buckets grow."""
    agg = packed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"))
    n_seqs = F.ceil(F.col("n_tokens") / F.lit(float(seq_len)))
    return agg.select(
        "bucket", "n_docs", "n_tokens",
        n_seqs.cast("long").alias("n_seqs"),
        # a bucket of only zero-token docs produces 0 sequences;
        # fill is pinned 1.0 (vacuously no waste), never NULL from 0/0
        F.when(n_seqs > 0,
               F.round(F.col("n_tokens")
                       / (n_seqs * seq_len).cast("double"), 4))
        .otherwise(F.lit(1.0)).alias("fill"))


def seq_pack_duck_sql(docs_cte: str, seq_len: int = SEQ_LEN_DEFAULT,
                      n_buckets: int = N_BUCKETS_DEFAULT) -> str:
    """DuckDB twin recomputing identical values; pair its portable
    bucket/rank expressions with the same expressions passed as Spark
    columns (production defaults are xxhash64-based and need the
    Spark-side hash)."""
    # the portable keys reduce doc_id mod a prime BEFORE the
    # multiplicative mix: DuckDB raises on BIGINT overflow (unlike
    # Spark's wrapping pmod), so a bare doc_id * K would crash the
    # twin for ids past ~2^63/K; after the mod the product is
    # bounded by 1000002 * 2654435761 < 2^52
    bucket_sql = (f"(((doc_id % 1000003 + 1000003) % 1000003)"
                  f" * 2654435761) % {n_buckets}")
    rank_sql = ("(((doc_id % 1000003 + 1000003) % 1000003)"
                " * 48271) % 2147483648")
    return f"""
WITH docs AS ({docs_cte}),
keyed AS (
  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         {bucket_sql} AS bucket, {rank_sql} AS rk
  FROM docs),
cums AS (
  SELECT doc_id, bucket, n_tok,
         -- DuckDB widens window sums of BIGINT to HUGEINT; pin the
         -- twin's dtype to Spark's long
         CAST(coalesce(sum(n_tok) OVER (
           PARTITION BY bucket ORDER BY rk, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum
  FROM keyed)
SELECT doc_id, bucket, n_tok,
       cum % {seq_len} AS start_off,
       cum // {seq_len} AS seq_first,
       CASE WHEN n_tok > 0 THEN (cum + n_tok - 1) // {seq_len}
            ELSE cum // {seq_len} END AS seq_last,
       CASE WHEN n_tok > 0
            THEN (CASE WHEN n_tok > 0 THEN (cum + n_tok - 1) // {seq_len}
                       ELSE cum // {seq_len} END) - cum // {seq_len} + 1
            ELSE 0 END AS n_seqs
FROM cums
"""


def pack_pieces(docs: DataFrame, seq_len: int = SEQ_LEN_DEFAULT,
                n_buckets: int = N_BUCKETS_DEFAULT,
                tokens_col: str = "tokens",
                bucket_col: F.Column | None = None,
                rank_col: F.Column | None = None) -> DataFrame:
    """Token-space packing (VERDICT r4 next-step #4): route each doc's
    token ARRAY into the fixed-length sequences seq_pack assigns it,
    emitting one row per (doc, sequence) piece:

      (doc_id, bucket, seq, seq_off, piece: array<...>, n_piece)

    Pinned spec (derives from seq_pack's; g = global token position
    within the bucket's concat stream, cum = the doc's first g):
      piece for sequence s = tokens[g0-cum : g1-cum]  with
        g0 = max(cum, s*seq_len), g1 = min(cum+n_tok, (s+1)*seq_len)
      seq_off = g0 - s*seq_len   (where the piece starts inside s)
      zero-token docs emit NO pieces (their visibility lives in the
      seq_pack assignment row, n_seqs = 0)

    Conservation invariants (tested): sum(n_piece) per doc = n_tok;
    within (bucket, seq) the pieces tile [0, seq_len) exactly once
    (except the bucket's final partial sequence); concatenating a
    doc's pieces in seq order reproduces its token array.

    Scale shape: seq_pack's ONE bucket shuffle (the array rides the
    same exchange — no join-back), then a map-only inline explode;
    per-row fan-out is n_seqs ≈ n_tok/seq_len, memory O(longest doc),
    the bound normalize already requires."""
    sized = docs.select(
        "doc_id",
        F.coalesce(F.col(tokens_col),
                   F.array().cast("array<string>")).alias("_toks"))
    asg = seq_pack(sized.withColumn(
        "n_tok", F.size("_toks").cast("long")),
        seq_len=seq_len, n_buckets=n_buckets,
        bucket_col=bucket_col, rank_col=rank_col, carry=("_toks",))
    L = int(seq_len)
    cum = (F.col("seq_first") * L + F.col("start_off")).alias("cum")
    pieces = F.when(
        F.col("n_tok") > 0,
        F.transform(
            F.sequence("seq_first", "seq_last"),
            lambda s: F.struct(
                s.cast("long").alias("seq"),
                F.greatest(F.col("cum") - s * L, F.lit(0).cast("long"))
                .alias("seq_off"),
                F.slice(
                    "_toks",
                    (F.greatest(F.col("cum"), s * L)
                     - F.col("cum") + 1).cast("int"),
                    (F.least(F.col("cum") + F.col("n_tok"), (s + 1) * L)
                     - F.greatest(F.col("cum"), s * L)).cast("int"))
                .alias("piece")))
    ).otherwise(F.expr(
        "array()").cast(
        "array<struct<seq:long,seq_off:long,piece:array<string>>>"))
    return (asg.withColumn("cum", cum)
            .select("doc_id", "bucket", F.inline(pieces))
            .withColumn("n_piece", F.size("piece").cast("long")))


def pack_pieces_duck_sql(docs_cte: str, seq_len: int = SEQ_LEN_DEFAULT,
                         n_buckets: int = N_BUCKETS_DEFAULT) -> str:
    """DuckDB twin of pack_pieces (seq_pack_duck_sql's portable
    bucket/rank): identical rows with the piece array rendered as a
    space-joined string (both engines stringify — a raw list column
    hashes differently through pandas). docs_cte must yield (doc_id,
    toks: list<varchar>)."""
    bucket_sql = (f"(((doc_id % 1000003 + 1000003) % 1000003)"
                  f" * 2654435761) % {n_buckets}")
    rank_sql = ("(((doc_id % 1000003 + 1000003) % 1000003)"
                " * 48271) % 2147483648")
    L = int(seq_len)
    return f"""
WITH docs AS ({docs_cte}),
keyed AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
         {bucket_sql} AS bucket, {rank_sql} AS rk
  FROM docs),
cums AS (
  SELECT doc_id, bucket, toks, n_tok,
         CAST(coalesce(sum(n_tok) OVER (
           PARTITION BY bucket ORDER BY rk, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum
  FROM keyed),
spans AS (
  SELECT *, cum // {L} AS s0,
         -- empty range for zero-token docs: no pieces (pinned)
         CASE WHEN n_tok > 0 THEN (cum + n_tok - 1) // {L} + 1
              ELSE cum // {L} END AS s_end
  FROM cums)
SELECT doc_id, bucket,
       CAST(s AS BIGINT) AS seq,
       greatest(cum, s * {L}) - s * {L} AS seq_off,
       array_to_string(
         toks[CAST(greatest(cum, s * {L}) - cum + 1 AS BIGINT) :
              CAST(least(cum + n_tok, (s + 1) * {L}) - cum AS BIGINT)],
         ' ') AS piece,
       least(cum + n_tok, (s + 1) * {L}) - greatest(cum, s * {L})
         AS n_piece
FROM (SELECT *, unnest(range(s0, s_end)) AS s FROM spans)
"""
