"""Web-corpus filter battery (SURVEY.md §2.0c X19–X22) unit pins.

The driver cross-check (pii_stats / domain_stats / cms_vocab /
text_quality keys) already compares full outputs against independently
written DuckDB twins at sf0.01; these tests pin hand-computed values
on crafted rows — the cases where a shared bug in both dialect twins
could hide (regex ordering, tie-breaks, transform arity).
"""

import pytest
from pyspark.sql import functions as F

from miekki.webstats import (domain_stats, host_col, line_dedup, pii_stats,
                             repetition_columns, vocab_topk)


@pytest.fixture(scope="module")
def pii_df(spark):
    rows = [
        (1, "write to alice.smith+x@mail.example.org today"),
        (2, "hosts 10.0.0.1 and 192.168.255.254 up"),
        (3, "call (415) 555-0100 or 415 555 0199"),
        (4, "no pii here at all"),
        # the ordering trap: the email's host contains a dotted token;
        # emails must be redacted whole before the ipv4/phone passes
        (5, "mail me at bob@10.1.2.3.example.com thanks"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_pii_counts(spark, pii_df):
    out = {r["doc_id"]: r for r in pii_stats(pii_df).collect()}
    assert (out[1]["n_emails"], out[1]["n_ipv4"], out[1]["n_phones"]) == (1, 0, 0)
    assert (out[2]["n_emails"], out[2]["n_ipv4"], out[2]["n_phones"]) == (0, 2, 0)
    assert (out[3]["n_emails"], out[3]["n_ipv4"], out[3]["n_phones"]) == (0, 0, 2)
    assert (out[4]["n_emails"], out[4]["n_ipv4"], out[4]["n_phones"]) == (0, 0, 0)


def test_pii_redaction_order(spark, pii_df):
    out = {r["doc_id"]: r["redacted"] for r in pii_stats(pii_df).collect()}
    assert out[1] == "write to <EMAIL> today"
    assert out[2] == "hosts <IP> and <IP> up"
    assert out[3] == "call <PHONE> or <PHONE>"
    assert out[4] == "no pii here at all"
    # email swallowed whole — no residual <IP> inside it
    assert out[5] == "mail me at <EMAIL> thanks"


def test_host_col(spark):
    rows = [(1, "https://WWW.Example.COM:8080/a?b=c"),
            (2, "http://sub.example.org/x"),
            (3, "relative/path/only"),
            (4, "https://www.www.example.net/")]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    out = {r["doc_id"]: r["h"]
           for r in df.select("doc_id", host_col("url").alias("h")).collect()}
    assert out[1] == "example.com"
    assert out[2] == "sub.example.org"
    assert out[3] == ""          # non-absolute → empty host
    assert out[4] == "www.example.net"  # only ONE leading www. dropped


def test_domain_stats_rollup(spark):
    rows = [("https://a.example.com/1", 10),
            ("https://www.a.example.com/2", 20),
            ("https://b.example.org/", 5)]
    df = spark.createDataFrame(rows, ["url", "n_chars"])
    out = {r["host"]: r for r in
           domain_stats(df, chars_col="n_chars",
                        blocklist=("b.example.org",)).collect()}
    assert out["a.example.com"]["n_docs"] == 2
    assert out["a.example.com"]["sum_chars"] == 30
    assert not out["a.example.com"]["blocked"]
    assert out["b.example.org"]["blocked"]


def test_vocab_topk_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "b a b c"), (2, "c a  d")], ["doc_id", "norm"])
    got = [(r["token"], r["n"]) for r in vocab_topk(df, k=3).collect()]
    # counts: a=2 b=2 c=2 d=1; ties break token-ASC so top-3 is a,b,c
    assert got == [("a", 2), ("b", 2), ("c", 2)]


def test_repetition_known_values(spark):
    """Regression for the F.transform arity bug: a defaulted n=n
    capture made PySpark pass the array INDEX as n, so every doc
    scored 0.0. These are hand-computed fractions."""
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z"), (3, "w"), (4, "p p p p")],
        ["doc_id", "norm"])
    cols = repetition_columns("norm")
    out = {r["doc_id"]: r for r in
           df.select("doc_id", *[c.alias(n) for n, c in cols.items()])
             .collect()}
    # doc 1 2-grams: [a b, b a, a b, b a] → 2 dup of 4
    assert out[1]["dup2gram_frac"] == pytest.approx(0.5)
    # doc 1 3-grams: [a b a, b a b, a b a] → 1 dup of 3
    assert out[1]["dup3gram_frac"] == pytest.approx(0.3333)
    assert out[2]["dup2gram_frac"] == 0.0
    assert out[3]["dup2gram_frac"] == 0.0  # single word: 1 degenerate gram
    assert out[4]["dup2gram_frac"] == pytest.approx(0.6667)
    assert out[4]["dup3gram_frac"] == pytest.approx(0.5)


def test_line_dedup_keep_first(spark):
    rows = [
        (1, "nav bar\nunique one\nfooter"),
        (2, "nav bar\nunique two\nfooter\nnav bar"),
        (3, "nav bar\nfooter"),          # nothing survives
        (4, "unique one\nbrand new"),    # 'unique one' lost to doc 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert out[1]["clean_text"] == "nav bar\nunique one\nfooter"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 3)
    assert out[2]["clean_text"] == "unique two"
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (4, 1)
    assert out[3]["clean_text"] == ""
    assert (out[3]["n_lines"], out[3]["n_kept"]) == (2, 0)
    assert out[4]["clean_text"] == "brand new"


def test_line_dedup_hot_line_skew_free(spark):
    """Winner selection must be an associative min-aggregate (map-side
    partials), NEVER a row_number window over the line key — a
    billion-page boilerplate line would serialize one reducer. Plan
    must show partial aggregation and no Window."""
    df = spark.createDataFrame([(1, "a\nb")], ["doc_id", "text"])
    plan = line_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan or "partial" in plan.lower()


def test_filter_battery_reason_codes(spark):
    """Keep/drop + reason codes, hand-computed. Reasons must come out
    in the fixed check order (quality,lang,pii,repetition) regardless
    of how many fire, and '' (never NULL) for kept docs."""
    from miekki.webstats import filter_battery

    rows = [
        # passes everything: enough tokens/chars, english stopwords,
        # no pii, no repeated n-grams
        (1, "the quick brown fox jumps over the lazy dog and it was "
            "here that they all sat down for a while",
            "clean text"),
        # too short (3 tokens) but carries an english stopword → only
        # the quality check fires
        (2, "in the end", "no pii"),
        # quality-passing but no english stopword signal → lang
        (3, "zzz qqq vvv kkk www yyy mmm nnn ppp rrr sss ttt uuu "
            "xxx aaa bbb ccc ddd eee fff ggg hhh iii jjj",
            "no pii"),
        # english + quality ok, pii planted in the raw column
        (4, "the quick brown fox jumps over the lazy dog and it was "
            "here that they all sat down for a while",
            "mail bob@mail.example.org"),
        # english + quality ok, heavy 2/3-gram repetition
        (5, "the cat sat the cat sat the cat sat the cat sat the cat "
            "sat the cat sat the cat sat the cat sat the cat sat",
            "no pii"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "norm", "ptext"])
    out = {r["doc_id"]: r for r in
           filter_battery(df, norm_col="norm", pii_text_col="ptext",
                          allowed_langs=("en",)).collect()}
    assert (out[1]["keep"], out[1]["reasons"]) == (True, "")
    assert (out[2]["keep"], out[2]["reasons"]) == (False, "quality")
    assert (out[3]["keep"], out[3]["reasons"]) == (False, "lang")
    assert (out[4]["keep"], out[4]["reasons"]) == (False, "pii")
    assert (out[5]["keep"], out[5]["reasons"]) == (False, "repetition")


def test_filter_battery_multi_reason_order(spark):
    """A doc failing several checks lists them comma-joined in the
    canonical order, not alphabetical / evaluation-dependent."""
    from miekki.webstats import filter_battery

    df = spark.createDataFrame(
        [(1, "zz 11", "bob@mail.example.org 10.0.0.1")],
        ["doc_id", "norm", "ptext"])
    row = filter_battery(df, norm_col="norm", pii_text_col="ptext",
                         allowed_langs=("en",)).collect()[0]
    assert row["keep"] is False
    assert row["reasons"] == "quality,lang,pii"


def test_filter_battery_map_only(spark):
    """The composed battery is one codegen'd projection — no Exchange
    (100 TB contract: filtering a crawl must not shuffle)."""
    from miekki.webstats import filter_battery

    df = spark.createDataFrame([(1, "a b", "x")],
                               ["doc_id", "norm", "ptext"])
    plan = (filter_battery(df, norm_col="norm", pii_text_col="ptext")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_domain_cap_exact_selection(spark):
    """Two-level (salted) selection must equal the single-level
    definition: per host, the k rank-smallest docs, rn dense 1..k.
    Ranks crafted so winners land in DIFFERENT salt groups."""
    from miekki.webstats import domain_cap

    rows = [(d, f"https://big.example.com/{d}") for d in range(1, 21)]
    rows += [(100 + d, f"https://small.example.org/{d}") for d in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    # rank = doc_id so selection is predictable; salts=4 spreads
    # doc_ids 1..4 (the winners) across all four level-1 groups
    out = domain_cap(df, k=4, rank_col=F.col("doc_id"), salts=4).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r["host"], []).append((r["rn"], r["doc_id"]))
    assert sorted(by_host["big.example.com"]) == [
        (1, 1), (2, 2), (3, 3), (4, 4)]
    # under-cap host: everything survives, rn dense
    assert sorted(by_host["small.example.org"]) == [
        (1, 100), (2, 101), (3, 102)]


def test_domain_cap_salted_plan(spark):
    """Level-1 window must partition by (host, salt) — the skew
    decomposition — and level 2 runs over pre-filtered rows only:
    the plan has two Window nodes and a pmod in the first partition
    spec."""
    from miekki.webstats import domain_cap

    df = spark.createDataFrame([(1, "https://a.example.com/")],
                               ["doc_id", "url"])
    plan = (domain_cap(df, k=2)._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("Window") >= 2
    assert "pmod" in plan


def test_domain_cap_randomized_parity(spark):
    """Seeded randomized parity vs an independent single-level pandas
    reference: Zipf-ish host sizes, deliberately COLLIDING ranks (mod
    13) so the doc_id tie-break is exercised, salts chosen to not
    divide the rank modulus."""
    import numpy as np
    import pandas as pd

    from miekki.webstats import domain_cap

    rng = np.random.Generator(np.random.PCG64(7))
    n = 600
    hosts = [f"h{min(int(rng.zipf(1.3)), 9)}.example.com" for _ in range(n)]
    pdf = pd.DataFrame({
        "doc_id": np.arange(1, n + 1),
        "url": [f"https://{h}/{i}" for i, h in enumerate(hosts)],
        "rk": rng.integers(0, 13, size=n),   # heavy ties
    })
    expect = (pdf.sort_values(["rk", "doc_id"])
              .assign(host=[h[0:0] + h for h in
                            pdf.sort_values(["rk", "doc_id"])
                            .url.str.extract(r"https://([^/]+)/")[0]])
              .groupby("host").head(3))
    exp_ids = set(expect.doc_id)

    df = spark.createDataFrame(pdf)
    got = domain_cap(df, k=3, rank_col=F.col("rk"), salts=7).collect()
    assert {r["doc_id"] for r in got} == exp_ids
    # rn must equal the single-level rank position
    rank_map = {}
    for host, grp in expect.groupby("host"):
        for pos, d in enumerate(grp.doc_id, start=1):
            rank_map[d] = pos
    assert all(rank_map[r["doc_id"]] == r["rn"] for r in got)


def test_split_assign_thresholds_and_stability(spark):
    """Boundary buckets land on the correct side of each cumulative
    threshold, and assignment is a pure function of the key — adding
    rows never moves an existing doc between splits."""
    from miekki.webstats import split_assign

    # rank_col = doc_id directly: buckets 0..9999, bounds 8000/9000
    rows = [(0,), (7999,), (8000,), (8999,), (9000,), (9999,)]
    df = spark.createDataFrame(rows, ["doc_id"])
    out = {r["doc_id"]: r["split"] for r in
           split_assign(df, weights=(("train", 0.8), ("val", 0.1),
                                     ("test", 0.1)),
                        rank_col=F.col("doc_id")).collect()}
    assert out == {0: "train", 7999: "train", 8000: "val",
                   8999: "val", 9000: "test", 9999: "test"}

    # stability: the same keys with extra rows present
    df2 = spark.createDataFrame(rows + [(123,), (4567,)], ["doc_id"])
    out2 = {r["doc_id"]: r["split"] for r in
            split_assign(df2, weights=(("train", 0.8), ("val", 0.1),
                                       ("test", 0.1)),
                         rank_col=F.col("doc_id")).collect()}
    assert all(out2[k] == v for k, v in out.items())


def test_split_assign_default_hash_map_only(spark):
    """Default path (xxhash64 of the key col) stays one map-only
    projection and splits exhaustively (no NULL split)."""
    from miekki.webstats import split_assign

    df = spark.createDataFrame(
        [(i, f"https://example.com/{i}") for i in range(200)],
        ["doc_id", "url"])
    sa = split_assign(df)
    plan = sa._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got = sa.groupBy("split").count().collect()
    assert sum(r["count"] for r in got) == 200
    assert all(r["split"] in ("train", "val", "test") for r in got)


def test_split_bounds_properties():
    """Pure-python property test: bounds nondecreasing, exhaustive
    (last == buckets) for arbitrary positive weights — float rounding
    can never leave an unassigned bucket."""
    from hypothesis import given, strategies as st

    from miekki.webstats import _split_bounds

    @given(st.lists(st.floats(min_value=1e-6, max_value=1e6,
                              allow_nan=False, allow_infinity=False),
                    min_size=1, max_size=8),
           st.integers(min_value=1, max_value=100000))
    def check(ws, buckets):
        weights = tuple((f"s{i}", w) for i, w in enumerate(ws))
        bounds = _split_bounds(weights, buckets)
        assert len(bounds) == len(ws)
        assert bounds[-1] == buckets
        assert all(0 <= b <= buckets for b in bounds)
        assert all(a <= b for a, b in zip(bounds, bounds[1:]))

    check()


def test_pii_and_repetition_stay_map_only(spark):
    """Whole battery minus the aggs compiles to a single map-only
    projection — no Exchange in the plan (the 100 TB contract in the
    module docstring)."""
    from miekki.webstats import pii_columns, redact_pii_col

    df = spark.createDataFrame([(1, "a b a b", "https://x.example.com/")],
                               ["doc_id", "text", "url"])
    every = {**pii_columns("text"), "redacted": redact_pii_col("text"),
             "host": host_col("url"), **repetition_columns("text")}
    plan = (df.select("doc_id", *[c.alias(n) for n, c in every.items()])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_paragraph_dedup_keep_first_and_twin(spark):
    """Paragraph mode (X23 with the Dolma unit): blank-line-separated
    paragraphs dedup corpus-wide keep-first, and the parameterized
    DuckDB twin reproduces every row."""
    import duckdb

    from miekki.webstats import line_dedup_duck_sql, paragraph_dedup

    rows = [
        (1, "intro para\n\nbody text here\n\nfooter para"),
        (2, "intro para\n\nfresh body\n\nfooter para"),
        (3, "intro para\n\nfooter para"),      # nothing survives
        (4, "line one\nline two\n\nbody text here"),  # multi-line para
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert out[1]["clean_text"] == \
        "intro para\n\nbody text here\n\nfooter para"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 3)
    assert out[2]["clean_text"] == "fresh body"
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    # the two-line paragraph is ONE unit, distinct from 'body text
    # here' which doc 1 already claimed
    assert out[4]["clean_text"] == "line one\nline two"
    assert (out[4]["n_lines"], out[4]["n_kept"]) == (2, 1)

    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = {r[0]: r for r in con.sql(
        line_dedup_duck_sql("t", sep="\n\n")).fetchall()}
    for i in (1, 2, 3, 4):
        assert duck[i][1] == out[i]["clean_text"], i
        assert duck[i][2] == out[i]["n_lines"], i
        assert duck[i][3] == out[i]["n_kept"], i


def test_split_leakage_cluster_keyed_is_zero(spark):
    """Cluster-keyed split assignment can never split a dup cluster
    across train/val/test; doc-keyed assignment on the same clusters
    leaks (planted multi-member clusters with many members make it
    overwhelming)."""
    from miekki.webstats import split_assign, split_leakage

    # 50 clusters x 8 members
    rows = [(c * 100 + m, c) for c in range(50) for m in range(8)]
    clusters = spark.createDataFrame(rows, ["doc_id", "cluster_id"])
    weights = (("train", 0.5), ("val", 0.25), ("test", 0.25))

    by_cluster = (split_assign(clusters, weights=weights,
                               key_col="cluster_id")
                  .join(clusters, "doc_id"))
    audit_c = split_leakage(by_cluster).toPandas()
    assert not audit_c["leaky"].any()
    assert (audit_c["n_members"] == 8).all()

    by_doc = (split_assign(
        clusters.withColumn("k", clusters["doc_id"].cast("string")),
        weights=weights, key_col="k")
        .join(clusters, "doc_id"))
    audit_d = split_leakage(by_doc).toPandas()
    assert audit_d["leaky"].sum() > 25   # 8 draws across 3 splits


def test_zip_word_grams_matches_python_reference(spark):
    """The zip_with gram builder (exprs.zip_word_grams — shared by
    repetition, decontam, Bloom, DSIR features) equals the obvious
    Python n-gram construction on randomized word arrays, including
    empty/short docs and repeated words."""
    import random

    from pyspark.sql import functions as F

    from miekki.exprs import zip_word_grams

    rng = random.Random(11)
    docs = []
    for i in range(200):
        n_words = rng.choice([0, 1, 2, 3, rng.randrange(4, 40)])
        docs.append((i, " ".join(
            f"w{rng.randrange(8)}" for _ in range(n_words))))
    df = spark.createDataFrame(docs, ["doc_id", "norm"])

    def py_grams(text, n):
        ws = text.split(" ")
        if len(ws) < n:
            return [" ".join(ws)]
        return [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]

    for n in (2, 3, 5):
        got = {r["doc_id"]: r["g"] for r in df.select(
            "doc_id", zip_word_grams(F.split("norm", " "), n)
            .alias("g")).collect()}
        for doc_id, text in docs:
            assert got[doc_id] == py_grams(text, n), (doc_id, n, text)


def test_line_dedup_duck_sql_quote_separator(spark):
    """A separator containing a single quote is escaped before SQL
    interpolation (ADVICE r5 low) — twin still matches the operator."""
    import duckdb

    from miekki.webstats import line_dedup, line_dedup_duck_sql

    rows = [(1, "aaa'x'bbb'x'ccc"), (2, "bbb'x'ddd")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           line_dedup(df, sep="'x'").collect()}
    assert out[1]["clean_text"] == "aaa'x'bbb'x'ccc"
    assert out[2]["clean_text"] == "ddd"

    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = {r[0]: r for r in con.sql(
        line_dedup_duck_sql("t", sep="'x'")).fetchall()}
    for i in (1, 2):
        assert duck[i][1] == out[i]["clean_text"], i
