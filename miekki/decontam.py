"""Benchmark decontamination + URL canonicalization (SURVEY.md §2.0c
X17/X18) — two training-data-pipeline operators a web-scale corpus
build needs before dedup even starts.

Both are pure Spark SQL (codegen'd, zero Python on the hot path) with
independently-written DuckDB twins for the driver cross-check. The
regex patterns are shared constants kept dialect-portable (no
lookahead, no \\u escapes) so Java regex (Spark) and RE2 (DuckDB)
agree byte-for-byte; param sorting relies on both engines' binary
string collation (params are ASCII by construction).

X17 — decontamination (Brown et al. 2020 / Chowdhery et al. 2022
style): flag every training document sharing at least one word
n-gram (default n=13) with any document in a benchmark set. Scale
shape: the benchmark side is tiny relative to the corpus (benchmarks
are MBs; the corpus is 100 TB), so its distinct gram set is
broadcast and the training side streams map-side through a
broadcast-hash semi-join — no corpus shuffle at all; the only
aggregation is the per-doc hit count, keyed by doc_id. Production
hashes grams to int64 (xxhash64) so the broadcast table is 8 bytes a
gram; the driver query runs the same plan on raw gram strings so
DuckDB can verify values (string equality == hash equality modulo
collisions, which the pytest parity test rules out at fixture scale).

X18 — URL canonicalization (pinned spec, absolute http(s) URLs):
  1. strip the fragment ('#...' to end)
  2. lowercase scheme and host (path/query case is preserved — paths
     are case-sensitive per RFC 3986)
  3. drop a leading 'www.' from the host
  4. drop the default port (':80' http, ':443' https); keep others
  5. empty path -> '/'; otherwise strip trailing slashes
  6. query: split on '&', drop empty params and tracking params
     (utm_* prefix; fbclid/gclid/igshid/mc_eid/ref keys), sort the
     survivors byte-wise, rejoin; drop '?' when none survive
Inputs without '://' (not absolute) fall back to lower(trim(url)).
Userinfo ('user:pass@host') is out of scope and documented as such.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column, functions as F

# --- shared dialect-portable pattern constants -----------------------
SCHEME_RE = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"
HOSTPORT_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)"
PATH_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"
TRACKING_KEY_RE = "^(fbclid|gclid|igshid|mc_eid|ref)(=|$)"


# =====================================================================
# X18 — URL canonicalization
# =====================================================================

def canonical_url_col(url_col) -> Column:
    """Spark Column computing the canonical form of ``url_col``."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    u0 = F.regexp_replace(F.trim(c), "#.*", "")
    scheme = F.lower(F.regexp_extract(u0, SCHEME_RE, 1))
    hp = F.lower(F.regexp_extract(u0, HOSTPORT_RE, 1))
    port = F.regexp_extract(hp, ":([0-9]+)$", 1)
    host = F.regexp_replace(
        F.regexp_replace(hp, ":[0-9]+$", ""), "^www\\.", "")
    default_port = (
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")))
    port_part = F.when(default_port, F.lit("")).otherwise(
        F.concat(F.lit(":"), port))
    path = F.regexp_replace(
        F.regexp_extract(u0, PATH_RE, 1), "/+$", "")
    path_part = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u0, "\\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.startswith("utm_")
        & ~p.rlike(TRACKING_KEY_RE))
    sorted_q = F.array_join(F.array_sort(params), "&")
    query_part = F.when(sorted_q == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), sorted_q))
    canon = F.concat(scheme, F.lit("://"), host, port_part,
                     path_part, query_part)
    return F.when(~F.trim(c).contains("://"), F.lower(F.trim(c))) \
            .otherwise(canon)


def url_dedup(docs: DataFrame, len_col: str = "n_chars") -> DataFrame:
    """X46 — URL-level dedup (the step every crawl pipeline runs
    BEFORE content dedup: C4/CCNet/RefinedWeb all collapse re-crawls
    of one page first): group captures by canonical URL, keep the
    richest capture — winner = max(struct(len, doc_id)), i.e. longest
    text, ties to the larger doc_id. Exactly one winner per canonical
    URL; kept is computed, never filtered (X24's pattern).

    Scale shape (the soft_dedup argument): ONE groupBy(canon_url)
    whose count/max-struct partials collapse map-side — a page
    re-crawled 10^6 times folds before the exchange — then a plain
    equi-join back (AQE broadcasts small stats, skew-splits hot
    URLs). Never a window over raw captures.

    Output: (doc_id, canon_url, n_dups, kept)."""
    lc = F.col(len_col)
    base = docs.select("doc_id",
                       canonical_url_col("url").alias("canon_url"),
                       lc.cast("long").alias("__len"))
    stats = base.groupBy("canon_url").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.max(F.struct(F.col("__len"), F.col("doc_id"))).alias("__w"))
    return (base.join(stats, "canon_url")
            .select("doc_id", "canon_url", "n_dups",
                    ((F.col("__len") == F.col("__w.__len"))
                     & (F.col("doc_id") == F.col("__w.doc_id")))
                    .alias("kept")))


def url_dedup_duck_sql(src: str) -> str:
    """DuckDB twin of url_dedup over (doc_id, url, n_chars):
    window-function formulation (independent decomposition — rank
    over captures instead of the groupBy+join max-struct)."""
    return ("SELECT doc_id, canon_url,"
            " CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT)"
            " AS n_dups,"
            " row_number() OVER (PARTITION BY canon_url"
            "   ORDER BY n_chars DESC, doc_id DESC) = 1 AS kept"
            " FROM (SELECT doc_id, n_chars,"
            f" {canonical_url_duck('url')} AS canon_url FROM {src})")


def canonical_url_duck(expr: str) -> str:
    """DuckDB expression computing the same canonical URL —
    independently written against the pinned spec (the driver
    cross-check), sharing only the pattern constants."""
    u0 = f"regexp_replace(trim({expr}), '#.*', '')"
    scheme = f"lower(regexp_extract({u0}, '{SCHEME_RE}', 1))"
    hp = f"lower(regexp_extract({u0}, '{HOSTPORT_RE}', 1))"
    port = f"regexp_extract({hp}, ':([0-9]+)$', 1)"
    host = (f"regexp_replace(regexp_replace({hp}, ':[0-9]+$', ''),"
            f" '^www\\.', '')")
    port_part = (
        f"CASE WHEN {port} = '' OR ({scheme} = 'http' AND {port} = '80')"
        f" OR ({scheme} = 'https' AND {port} = '443')"
        f" THEN '' ELSE ':' || {port} END")
    path = (f"regexp_replace(regexp_extract({u0}, '{PATH_RE}', 1),"
            f" '/+$', '')")
    path_part = f"CASE WHEN {path} = '' THEN '/' ELSE {path} END"
    query = f"regexp_extract({u0}, '\\?([^#]*)', 1)"
    # starts_with, NOT LIKE: in LIKE 'utm_%' the '_' is a single-char
    # wildcard, which would also drop non-tracking params like
    # 'utmx=1' that Spark's startswith keeps (cross-engine divergence)
    params = (
        f"list_filter(str_split({query}, '&'),"
        f" p -> p <> '' AND NOT starts_with(p, 'utm_')"
        f" AND NOT regexp_matches(p, '{TRACKING_KEY_RE}'))")
    # coalesce: DuckDB yields NULL (not '') when every param is
    # filtered out, and NULL would poison the final || concat
    sorted_q = f"coalesce(array_to_string(list_sort({params}), '&'), '')"
    query_part = (f"CASE WHEN {sorted_q} = '' THEN ''"
                  f" ELSE '?' || {sorted_q} END")
    canon = (f"{scheme} || '://' || {host} || {port_part}"
             f" || {path_part} || {query_part}")
    return (f"CASE WHEN NOT contains(trim({expr}), '://')"
            f" THEN lower(trim({expr})) ELSE {canon} END")


def canonical_url_py(url: str) -> str:
    """Pure-Python reference of the pinned spec (pytest oracle; no
    Spark/DuckDB imports so it loads in oracle contexts)."""
    import re

    u0 = re.sub("#.*", "", url.strip())
    # the absolute-URL test runs on the ORIGINAL trimmed string, like
    # the Spark/DuckDB twins — testing u0 would branch differently
    # when '://' appears only inside the fragment
    if "://" not in url.strip():
        return url.strip().lower()
    m = re.match(SCHEME_RE, u0)
    scheme = m.group(1).lower() if m else ""
    m = re.match(HOSTPORT_RE, u0)
    hp = (m.group(1) if m else "").lower()
    pm = re.search(":([0-9]+)$", hp)
    port = pm.group(1) if pm else ""
    host = re.sub("^www\\.", "", re.sub(":[0-9]+$", "", hp))
    default = (port == "" or (scheme, port) in
               (("http", "80"), ("https", "443")))
    port_part = "" if default else ":" + port
    m = re.match(PATH_RE, u0)
    path = re.sub("/+$", "", m.group(1) if m else "")
    path_part = path if path else "/"
    qm = re.search("\\?([^#]*)", u0)
    query = qm.group(1) if qm else ""
    params = sorted(
        p for p in query.split("&")
        if p and not p.startswith("utm_")
        and not re.search(TRACKING_KEY_RE, p))
    query_part = "?" + "&".join(params) if params else ""
    return scheme + "://" + host + port_part + path_part + query_part


# =====================================================================
# X17 — benchmark decontamination
# =====================================================================

def word_ngrams_col(norm_col, n: int) -> Column:
    """Distinct word n-grams of a normalized (single-spaced) text
    column; docs shorter than n words yield one gram = the whole text
    (same short-doc convention as shingling, SURVEY.md §2.1)."""
    from miekki.exprs import zip_word_grams

    c = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    return F.array_distinct(zip_word_grams(F.split(c, " "), n))


def decontaminate(docs_norm: DataFrame, n: int = 13,
                  bench_pred: Column | None = None,
                  hash_grams: bool = True) -> DataFrame:
    """Per-training-doc contamination report vs a benchmark subset.

    ``docs_norm``: (doc_id, norm). ``bench_pred``: boolean Column
    marking benchmark docs (default: pmod(doc_id, 97) == 0 — the
    deterministic stand-in this sandbox uses for a held-out eval set).
    Returns (doc_id, n_hit_grams, contaminated) for every NON-bench
    doc, n_hit_grams = count of distinct n-grams shared with ANY
    benchmark doc.

    Scale shape (100 TB): the benchmark gram set is collected small
    and BROADCAST (forced — real benchmark suites are MBs, ≤ O(10^7)
    grams ≈ 80 MB hashed); the corpus side is a map-side explode +
    broadcast-hash inner join + per-doc partial count — the only
    shuffle is the final doc_id-keyed count agg, whose input is
    already collapsed map-side by partial aggregation. If a benchmark
    ever outgrew broadcast, drop the F.broadcast hint and AQE picks a
    shuffle join — semantics unchanged.
    """
    if bench_pred is None:
        bench_pred = F.pmod(F.col("doc_id"), F.lit(97)) == 0
    grams = (docs_norm
             .withColumn("__bench", bench_pred)
             .select("doc_id", "__bench",
                     F.explode(word_ngrams_col("norm", n)).alias("gram"))
             .where(F.col("gram") != ""))
    if hash_grams:
        grams = grams.withColumn("gram", F.xxhash64("gram"))
    bench_grams = (grams.where("__bench").select("gram").distinct())
    hits = (grams.where(~F.col("__bench"))
            .join(F.broadcast(bench_grams), "gram")
            .groupBy("doc_id")
            .agg(F.countDistinct("gram").alias("n_hit_grams")))
    train = docs_norm.where(~bench_pred).select("doc_id")
    return (train.join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_hit_grams", F.lit(0)).cast("bigint")
                    .alias("n_hit_grams"))
            .withColumn("contaminated", F.col("n_hit_grams") > 0))


def decontaminate_duck_sql(norm_cte: str, n: int = 13) -> str:
    """DuckDB twin of ``decontaminate(hash_grams=False)`` over the
    normalized-docs CTE (doc_id, norm)."""
    k = n - 1
    grams = (
        "SELECT doc_id, ((doc_id % 97) + 97) % 97 = 0 AS bench,"
        " unnest(list_distinct(list_transform("
        f" generate_series(1, greatest(1,"
        f" length(str_split(norm, ' ')) - {k})),"
        f" i -> array_to_string(list_slice(str_split(norm, ' '),"
        f" i, i + {k}), ' ')))) AS gram"
        f" FROM ({norm_cte})")
    return (
        f"WITH g0 AS ({grams}),"
        " g AS (SELECT * FROM g0 WHERE gram <> ''),"
        " bench AS (SELECT DISTINCT gram FROM g WHERE bench),"
        " hits AS (SELECT t.doc_id,"
        "  CAST(count(DISTINCT t.gram) AS BIGINT) AS n"
        "  FROM g t JOIN bench USING (gram) WHERE NOT t.bench"
        "  GROUP BY t.doc_id)"
        " SELECT d.doc_id, coalesce(h.n, 0) AS n_hit_grams,"
        " coalesce(h.n, 0) > 0 AS contaminated"
        f" FROM (SELECT doc_id FROM ({norm_cte})"
        "  WHERE ((doc_id % 97) + 97) % 97 <> 0) d"
        " LEFT JOIN hits h USING (doc_id)")
