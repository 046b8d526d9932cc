"""Web-corpus filtering/statistics operators (SURVEY.md §2.0c
X19–X22) — the filter battery a training-data pipeline runs between
extraction and dedup.

All four are pure Spark built-ins (whole-stage codegen, zero Python on
the hot path) with independently-written DuckDB twins for the driver
cross-check. Regex constants are shared and kept dialect-portable
(no lookahead, no backrefs, no \\u escapes) so Java regex (Spark) and
RE2 (DuckDB) agree byte-for-byte — the same contract decontam.py
pins for URL canonicalization.

X19 — PII detection + redaction (emails, IPv4, NANP-style phone
numbers). Map-only: counts via regexp_extract_all, redaction via a
FIXED chain of regexp_replace (emails first, so an address never
leaves a digit-run behind for the phone pass to half-match). At
100 TB this is a single codegen'd projection — no shuffle, no UDF.
Pattern scope is documented, not universal: internationalized phone
formats and IPv6 are out of scope (a production deployment swaps in
a larger pattern table, same plan shape).

X20 — domain statistics + blocklist: host extraction reuses the
canonicalization spec (port stripped, leading 'www.' dropped,
lowercased), then one count/sum aggregation keyed by host. Hot
domains (a crawl is Zipfian in hosts) are safe: count/sum/avg
partial-aggregate map-side, so the shuffle carries one row per
(partition, host), not per doc. The blocklist rides as a literal
isin for small lists; a big blocklist becomes a broadcast anti-join
with the identical result column.

X21 — corpus vocabulary top-k: explode tokens → count → top-k.
Token-count aggregation needs NO manual salting: HashAggregate's
partial/final split IS the two-level aggregation (stopwords collapse
to one row per map partition before the exchange). Top-k compiles to
TakeOrderedAndProject — per-partition heaps, never a global sort.
Ties at the boundary are broken by token ASC in both engines so the
result SET is deterministic.

X23 — line-level dedup (CCNet/C4-style boilerplate removal): keep
the FIRST corpus-wide occurrence of every distinct line, drop the
rest — nav bars, cookie banners, copyright footers vanish from all
but one doc. Two skew-free shuffles at any scale: (1) winner per
distinct line is min(struct(doc_id, idx)) — an associative agg, so
a line shared by 10^9 pages collapses to one row per map partition
before the exchange (never a row_number window over a hot line);
the winners ARE the surviving rows, no join-back; (2) reassembly
groups by doc_id (skew bounded by document length).

X24 — filter battery: the composed keep/drop decision a training
pipeline actually ships — quality shape (Gopher thresholds), language
allowlist, PII budget, repetition ceiling — with machine-readable
reason codes per dropped doc (the RefinedWeb/Dolma tagger pattern:
never discard silently, tag WHY). Pure composition of the X3/X4/X19/
X22 columns, so it stays one map-only codegen'd projection.

X22 — repetition scores (Gopher-style, Rae et al. 2021 §A1.1):
fraction of duplicate word n-grams per document (n = 2, 3), the
classic boilerplate/spam signal. Per-row array ops only (split →
transform → array_distinct) — map-only, no explode, no shuffle; docs
shorter than n words score 0 by the one-gram convention shared with
decontam.word_ngrams_col.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from miekki.decontam import HOSTPORT_RE

# --- shared dialect-portable PII patterns ----------------------------
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
# boundary-anchored (like IPV4_RE): without anchors the pattern
# matches INSIDE longer digit runs ('1234-567-89012' would yield a
# mangled partial redaction and a spurious n_phones count). The area
# code needs an alternation because \b cannot sit before an OPTIONAL
# '(' (space-paren is not a word boundary); \b and (?:) are portable
# across Java regex and DuckDB's RE2, unlike lookbehind.
PHONE_RE = ("(?:\\([0-9]{3}\\)|\\b[0-9]{3})"
            "[- ][0-9]{3}[- ][0-9]{4}\\b")

# redaction applies patterns in THIS order (emails before ips/phones:
# an address must vanish whole before the digit-oriented passes run)
PII_ORDER = [("email", EMAIL_RE, "<EMAIL>"),
             ("ipv4", IPV4_RE, "<IP>"),
             ("phone", PHONE_RE, "<PHONE>")]


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


# =====================================================================
# X19 — PII
# =====================================================================

def pii_columns(text_col) -> dict[str, Column]:
    """Per-doc PII match counts: {n_emails, n_ipv4, n_phones}.
    Patterns are passed through the DataFrame API (F.lit), never an
    expr() SQL string, so no second layer of backslash escaping."""
    c = _c(text_col)
    return {
        "n_emails": F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0)))
        .cast("bigint"),
        "n_ipv4": F.size(F.regexp_extract_all(c, F.lit(IPV4_RE), F.lit(0)))
        .cast("bigint"),
        "n_phones": F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), F.lit(0)))
        .cast("bigint"),
    }


def redact_pii_col(text_col) -> Column:
    """Redacted text: every PII match replaced by its token, applied
    in the pinned PII_ORDER chain."""
    c = _c(text_col)
    for _, pat, tok in PII_ORDER:
        c = F.regexp_replace(c, pat, tok)
    return c


def pii_stats(df: DataFrame) -> DataFrame:
    """Map-only operator: doc_id + PII counts + redacted text."""
    cols = pii_columns("text")
    return df.select("doc_id",
                     *[c.alias(n) for n, c in cols.items()],
                     redact_pii_col("text").alias("redacted"))


def pii_duck_cols(expr: str) -> str:
    """DuckDB select-list computing the same counts + redaction.
    DuckDB's regexp_replace is first-match-only by default — the 'g'
    option makes it global like Spark's."""
    red = expr
    for _, pat, tok in PII_ORDER:
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    return (
        f"CAST(length(regexp_extract_all({expr}, '{EMAIL_RE}')) AS BIGINT)"
        " AS n_emails,"
        f" CAST(length(regexp_extract_all({expr}, '{IPV4_RE}')) AS BIGINT)"
        " AS n_ipv4,"
        f" CAST(length(regexp_extract_all({expr}, '{PHONE_RE}')) AS BIGINT)"
        " AS n_phones,"
        f" {red} AS redacted")


# =====================================================================
# X20 — domain statistics
# =====================================================================

def host_col(url_col) -> Column:
    """Registrable-host extraction per the canonicalization spec:
    lowercased authority, port stripped, one leading 'www.' dropped.
    Non-absolute inputs (no '://') yield ''."""
    hp = F.lower(F.regexp_extract(_c(url_col), HOSTPORT_RE, 1))
    return F.regexp_replace(
        F.regexp_replace(hp, ":[0-9]+$", ""), "^www\\.", "")


def domain_stats(df: DataFrame, chars_col: str | None = None,
                 blocklist: tuple[str, ...] = ()) -> DataFrame:
    """Per-domain rollup: (host, n_docs[, sum_chars], blocked).
    One partial-aggregated shuffle keyed by host; the blocklist is a
    literal isin (tiny) — swap for a broadcast anti-join when the
    list outgrows the plan string, same output."""
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if chars_col:
        aggs.append(F.sum(chars_col).cast("bigint").alias("sum_chars"))
    out = (df.withColumn("host", host_col("url"))
           .groupBy("host").agg(*aggs))
    blocked = (F.col("host").isin(*blocklist) if blocklist
               else F.lit(False))
    return out.withColumn("blocked", blocked)


def domain_stats_duck_sql(src: str, url_expr: str,
                          chars_col: str | None = None,
                          blocklist: tuple[str, ...] = ()) -> str:
    """DuckDB twin of domain_stats over ``src`` (a table or CTE)."""
    hp = f"lower(regexp_extract({url_expr}, '{HOSTPORT_RE}', 1))"
    host = (f"regexp_replace(regexp_replace({hp}, ':[0-9]+$', ''),"
            f" '^www\\.', '')")
    chars = (f", CAST(sum({chars_col}) AS BIGINT) AS sum_chars"
             if chars_col else "")
    if blocklist:
        lits = ", ".join("'" + b.replace("'", "''") + "'"
                         for b in blocklist)
        blocked = f"host IN ({lits})"
    else:
        blocked = "FALSE"
    return (f"SELECT host, CAST(count(*) AS BIGINT) AS n_docs{chars},"
            f" {blocked} AS blocked"
            f" FROM (SELECT {host} AS host"
            f"{', ' + chars_col if chars_col else ''} FROM {src})"
            " GROUP BY host")


# =====================================================================
# X21 — vocabulary top-k
# =====================================================================

def vocab_topk(docs_norm: DataFrame, k: int = 100,
               norm_col: str = "norm") -> DataFrame:
    """Corpus-wide token frequencies, top-k. groupBy(token).count()
    partial-aggregates map-side (the built-in two-level aggregation —
    no manual salt needed for associative aggs, unlike the window
    operators in stages/lsh.py), and orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-k heaps merged on one
    reducer; never a full sort of the vocabulary)."""
    return (docs_norm
            .select(F.explode(F.split(_c(norm_col), " ")).alias("token"))
            .where(F.col("token") != "")
            .groupBy("token").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("token"))
            .limit(k))


# =====================================================================
# X22 — repetition scores
# =====================================================================

def repetition_columns(norm_col) -> dict[str, Column]:
    """{dup{n}gram_frac: Column} — fraction of word n-grams that are
    repeats of an earlier n-gram in the same doc (0.0 for docs with
    <= 1 gram). Pure per-row array ops; rounded to 4 so float
    formatting can't diverge between engines."""
    words = F.split(_c(norm_col), " ")
    out: dict[str, Column] = {}

    # r5 perf: grams by chained zip_with (exprs.zip_word_grams), not
    # transform(sequence, i -> concat_ws(slice(words, i, n))) — the
    # per-gram lambda with a per-gram slice ran 8x slower and kept
    # the whole projection out of codegen (measured mult=16: this
    # family 17.7 s -> 1.7 s, the filter battery 48.9 s -> 3.2 s).
    # Values identical (exceptAll-checked at mult=16); DuckDB twin
    # untouched.
    from miekki.exprs import zip_word_grams

    for n in (2, 3):
        grams = zip_word_grams(words, n)
        total = F.size(grams)
        frac = (total - F.size(F.array_distinct(grams))) / total
        out[f"dup{n}gram_frac"] = F.round(frac, 4)
    return out


# =====================================================================
# X24 — filter battery (keep/drop + reason codes)
# =====================================================================

# thresholds shared by both dialects; conditions evaluate over the
# ROUNDED ratio columns (quality_columns / quality_duck_cols round to
# 4) so borderline docs can't flip between engines on float formatting
BATTERY_MAX_DUP2 = 0.2
BATTERY_MAX_DUP3 = 0.18


def filter_battery(docs: DataFrame, norm_col: str = "norm",
                   pii_text_col: str | None = None,
                   allowed_langs: tuple[str, ...] = ("en",)) -> DataFrame:
    """Composed corpus filter → (doc_id, keep, reasons). `reasons` is
    a comma-joined, fixed-order list of the checks that failed
    ('' when keep). PII is counted on ``pii_text_col`` (raw text —
    normalization may mangle addresses) when given, else on the norm
    column. One map-only projection; concat_ws skips the nulls of
    passing checks in both engines."""
    from miekki.textstats import predict_lang, quality_columns

    q = quality_columns(norm_col)
    from miekki.textstats import quality_ok_col

    quality_ok = quality_ok_col(q)
    lang_ok = predict_lang(norm_col).isin(*allowed_langs)
    p = pii_columns(pii_text_col if pii_text_col is not None else norm_col)
    pii_ok = (p["n_emails"] + p["n_ipv4"] + p["n_phones"]) == 0
    r = repetition_columns(norm_col)
    rep_ok = ((r["dup2gram_frac"] <= BATTERY_MAX_DUP2)
              & (r["dup3gram_frac"] <= BATTERY_MAX_DUP3))

    checks = [("quality", quality_ok), ("lang", lang_ok),
              ("pii", pii_ok), ("repetition", rep_ok)]
    keep = checks[0][1]
    for _, c in checks[1:]:
        keep = keep & c
    reasons = F.concat_ws(
        ",", *[F.when(~c, F.lit(name)) for name, c in checks])
    return docs.select("doc_id", keep.alias("keep"),
                       reasons.alias("reasons"))


def filter_battery_duck_sql(src: str, norm_expr: str = "norm",
                            pii_expr: str | None = None,
                            allowed_langs: tuple[str, ...] = ("en",)) -> str:
    """DuckDB twin over ``src`` (subquery/CTE providing doc_id and the
    referenced text columns)."""
    from miekki.textstats import (lang_id_duck_sql, quality_duck_cols,
                                  quality_ok_duck)

    pii = pii_expr if pii_expr is not None else norm_expr
    inner = (f"SELECT doc_id, {quality_duck_cols(norm_expr)},"
             f" {lang_id_duck_sql(norm_expr)} AS pred_lang,"
             f" {pii_duck_cols(pii)},"
             f" {repetition_duck_cols(norm_expr)}"
             f" FROM {src}")
    langs = ", ".join("'" + lg.replace("'", "''") + "'"
                      for lg in allowed_langs)
    conds = {
        "quality": quality_ok_duck(),
        "lang": f"pred_lang IN ({langs})",
        "pii": "(n_emails + n_ipv4 + n_phones) = 0",
        "repetition": (f"(dup2gram_frac <= {BATTERY_MAX_DUP2} AND"
                       f" dup3gram_frac <= {BATTERY_MAX_DUP3})"),
    }
    keep = " AND ".join(conds.values())
    reasons = ", ".join(
        f"CASE WHEN NOT {c} THEN '{name}' END" for name, c in conds.items())
    return (f"SELECT doc_id, ({keep}) AS keep,"
            f" concat_ws(',', {reasons}) AS reasons"
            f" FROM ({inner})")


# =====================================================================
# X23 — line-level dedup (boilerplate removal)
# =====================================================================

def line_dedup(docs: DataFrame, text_col: str = "text",
               sep: str = "\n") -> DataFrame:
    """Corpus-wide keep-first unit dedup → (doc_id, clean_text,
    n_lines, n_kept). A unit (line by default; see paragraph_dedup)
    survives iff this (doc_id, unit-index) is the minimum occurrence
    of that exact unit in the corpus; clean_text is the surviving
    units re-joined in original order with ``sep`` ('' when every
    unit was seen earlier elsewhere).

    Both shuffles are hot-line-safe (module docstring): min(struct)
    partial-aggregates map-side, and the winner SET needs no join
    back against the exploded units.
    """
    import re

    pat = re.escape(sep)
    docs2 = docs.select(
        "doc_id", F.col(text_col).alias("text"),
        F.size(F.split(text_col, pat)).alias("n_lines"))
    lines = docs2.select(
        "doc_id", F.posexplode(F.split("text", pat)).alias("idx", "line"))
    winners = (lines
               .groupBy("line")
               .agg(F.min(F.struct("doc_id", "idx")).alias("w"))
               .select(F.col("w.doc_id").alias("doc_id"),
                       F.col("w.idx").alias("idx"), "line"))
    kept = (winners.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.struct("idx", "line"))),
                         lambda s: s["line"]),
                     sep).alias("clean_text")))
    return (docs2.join(kept, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.col("n_lines").cast("bigint").alias("n_lines"),
                    F.coalesce("n_kept", F.lit(0)).cast("bigint")
                    .alias("n_kept")))


def paragraph_dedup(docs: DataFrame) -> DataFrame:
    """Dolma-style corpus-wide keep-first PARAGRAPH dedup: X23's
    exact machinery with the blank-line separator. Same schema,
    same skew-safety, same twin (line_dedup_duck_sql(sep='\\n\\n'))."""
    return line_dedup(docs, "text", sep="\n\n")


def line_dedup_duck_sql(src: str, sep: str = "\n") -> str:
    """DuckDB twin over ``src`` (subquery/CTE with doc_id, text):
    QUALIFY row_number keeps the (doc_id, idx)-minimal occurrence —
    an independent formulation of the same keep-first rule. ``sep``
    mirrors line_dedup's (paragraph mode: '\\n\\n')."""
    # non-newline separators are quote-escaped before interpolation
    # (ADVICE r5 low: a sep containing ' produced broken SQL)
    s = " || ".join(["chr(10)"] * sep.count("\n")) \
        if sep and set(sep) == {"\n"} \
        else "'" + sep.replace("'", "''") + "'"
    return f"""
WITH d AS (SELECT doc_id, text,
                  CAST(len(str_split(text, {s})) AS BIGINT) AS n_lines
           FROM {src}),
     lines AS (SELECT doc_id, n_lines,
                      generate_subscripts(str_split(text, {s}), 1) AS idx,
                      unnest(str_split(text, {s})) AS line
               FROM d),
     surv AS (SELECT doc_id, idx, line FROM lines
              QUALIFY row_number() OVER (PARTITION BY line
                                         ORDER BY doc_id, idx) = 1),
     kept AS (SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_kept,
                     string_agg(line, {s} ORDER BY idx) AS clean_text
              FROM surv GROUP BY doc_id)
SELECT d.doc_id, coalesce(kept.clean_text, '') AS clean_text,
       d.n_lines, coalesce(kept.n_kept, 0) AS n_kept
FROM d LEFT JOIN kept USING (doc_id)"""


def repetition_duck_cols(expr: str) -> str:
    parts = []
    for n in (2, 3):
        k = n - 1
        grams = (f"list_transform(generate_series(1, greatest(1,"
                 f" length(str_split({expr}, ' ')) - {k})),"
                 f" i -> array_to_string(list_slice("
                 f"str_split({expr}, ' '), i, i + {k}), ' '))")
        parts.append(
            f"round((length({grams}) - length(list_distinct({grams})))"
            f" / CAST(length({grams}) AS DOUBLE), 4)"
            f" AS dup{n}gram_frac")
    return ", ".join(parts)


# =====================================================================
# X25 — per-domain cap sampling
# =====================================================================

DOMAIN_CAP_SALTS = 64


def domain_cap(docs: DataFrame, k: int = 100,
               rank_col: Column | None = None,
               salts: int = DOMAIN_CAP_SALTS) -> DataFrame:
    """Keep at most ``k`` docs per registrable host, selected
    deterministically by a uniform rank (default xxhash64(doc_id) —
    a reproducible 'random' sample; pass ``rank_col`` for a
    dialect-portable rank or quality-ordered selection). Returns
    (doc_id, host, rn) for the survivors, rn in 1..k.

    The naive plan — row_number() over (partition by host) — puts a
    whole domain in ONE task: a crawl is Zipfian in hosts, so the
    biggest domain (10^8-10^9 pages) serializes the stage. This is
    the same hot-key shape as LSH mega-buckets (stages/lsh.py), and
    the same fix applies — two-level selection:

      level 1: row_number over (host, pmod(xxhash64(doc_id), salts))
               — group size is bounded by |host|/salts; keep rank <= k.
      level 2: row_number over host alone, but over at most
               k*salts pre-filtered rows per host.

    Exact, not approximate: a row among the k rank-smallest of its
    host is among the k smallest of ANY subset containing it, so
    level 1 never discards a level-2 winner. Both levels stream
    through WindowExec one bounded group at a time; survivors of
    level 1 are ~k*salts rows per host, so the level-2 exchange
    carries O(hosts * k * salts), independent of corpus size.
    (The two-level selection itself lives in tiers.capped_topk since
    r4 — the dup-cluster cap X28 reuses it keyed by cluster_id.)"""
    from miekki.tiers import capped_topk

    rk = (rank_col if rank_col is not None
          else F.xxhash64(F.lit("dcap"), F.col("doc_id")))  # domain tag
    base = docs.select("doc_id", host_col("url").alias("host"),
                       rk.alias("rk"))
    return (capped_topk(base, ["host"], k, salts=salts)
            .select("doc_id", "host", "rn"))


def domain_cap_duck_sql(src: str, url_expr: str, rank_expr: str,
                        k: int = 100) -> str:
    """DuckDB twin: single-level row_number per host (the oracle does
    not need the skew decomposition) over the same (rank, doc_id)
    order. ``src`` provides doc_id and the url column."""
    hp = f"lower(regexp_extract({url_expr}, '{HOSTPORT_RE}', 1))"
    host = (f"regexp_replace(regexp_replace({hp}, ':[0-9]+$', ''),"
            f" '^www\\.', '')")
    return (f"SELECT doc_id, host, CAST(rn AS INT) AS rn FROM ("
            f"SELECT doc_id, host, row_number() OVER ("
            f"PARTITION BY host ORDER BY rk, doc_id) AS rn FROM ("
            f"SELECT doc_id, {host} AS host, {rank_expr} AS rk"
            f" FROM {src})) WHERE rn <= {k}")


# =====================================================================
# X26 — deterministic split assignment (train/val/test)
# =====================================================================

SPLIT_BUCKETS = 10000


def split_assign(docs: DataFrame,
                 weights: tuple[tuple[str, float], ...] = (
                     ("train", 0.98), ("val", 0.01), ("test", 0.01)),
                 key_col: str = "url",
                 rank_col: Column | None = None) -> DataFrame:
    """Assign every doc to a named split by hashing a stable key —
    the reproducible alternative to rand(): re-running the pipeline,
    adding docs, or changing partitioning never moves an existing doc
    between splits (critical for eval hygiene: a val doc that drifts
    into train silently contaminates every later comparison).

    bucket = pmod(xxhash64(key), SPLIT_BUCKETS); split boundaries are
    the cumulative weights scaled to SPLIT_BUCKETS and rounded once, so the
    realized proportions are exact in expectation and every engine
    computing the same buckets agrees on every row. Map-only: one
    codegen'd projection, no shuffle, composes with any downstream
    groupBy. Pass ``rank_col`` to swap the hash for a
    dialect-portable rank (driver twin) — the CASE chain is
    unchanged."""
    # domain-tagged (see tiers.mix_sample): without the "split" salt
    # this rank is identical to a plain-xxhash64 sampler over the same
    # key and the two compositions correlate (mix < 0.99 would empty
    # val/test entirely)
    rk = (rank_col if rank_col is not None
          else F.pmod(F.xxhash64(F.lit("split"), F.col(key_col)),
                      F.lit(SPLIT_BUCKETS)))
    names = [n for n, _ in weights]
    bounds = _split_bounds(weights, SPLIT_BUCKETS)
    expr = F.lit(names[-1])
    for name, hi in reversed(list(zip(names[:-1], bounds[:-1]))):
        expr = F.when(rk < hi, F.lit(name)).otherwise(expr)
    return docs.select("doc_id", expr.alias("split"))


def _split_bounds(weights, buckets: int) -> list[int]:
    """Cumulative upper bounds in bucket units; last bound == buckets
    so the CASE chain is exhaustive regardless of float rounding."""
    total = sum(w for _, w in weights)
    bounds, cum = [], 0.0
    for _, w in weights:
        cum += w / total
        bounds.append(int(round(cum * buckets)))
    bounds[-1] = buckets
    return bounds


def split_leakage(labeled_splits: DataFrame) -> DataFrame:
    """Dedup-aware split audit (Lee'22's train-test-leakage concern):
    per dup cluster, does the cluster span more than one split?
    Input: (doc_id, cluster_id, split). Output: (cluster_id,
    n_members, n_splits, leaky). Keying split_assign on CLUSTER_ID
    instead of url/doc_id makes leakage structurally zero — every
    member hashes the same key — which is the fix this audit
    motivates. ONE partial-aggregated groupBy; count_distinct over
    ≤ |splits| values per cluster collapses map-side."""
    return (labeled_splits.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.count_distinct("split").alias("n_splits"))
            .withColumn("leaky", F.col("n_splits") > 1))


def split_assign_duck_sql(src: str, rank_expr: str,
                          weights: tuple[tuple[str, float], ...] = (
                              ("train", 0.98), ("val", 0.01),
                              ("test", 0.01))) -> str:
    """DuckDB twin: identical CASE chain over ``rank_expr``."""
    names = [n for n, _ in weights]
    bounds = _split_bounds(weights, SPLIT_BUCKETS)
    whens = " ".join(
        f"WHEN rk < {hi} THEN '{name}'"
        for name, hi in zip(names[:-1], bounds[:-1]))
    return (f"SELECT doc_id, CASE {whens} ELSE '{names[-1]}' END AS split"
            f" FROM (SELECT doc_id, {rank_expr} AS rk FROM {src})")
