"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring and token counting, all pure Spark SQL
(codegen'd, no Python) with exact DuckDB twins for the driver
cross-check (the text_quality key).

The regex patterns are deliberately ASCII-safe and lookahead-free so
Java regex (Spark) and RE2 (DuckDB) agree byte-for-byte; stopword
counts use space-delimited non-overlapping matching — both engines
undercount identically, which is what the cross-check needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# --- language ID (charset + stopword hybrid heuristic) --------------
# Works on normalized (lowercased, ws-collapsed) text. Signals:
#   zh: CJK codepoint count;  de/fr/es: language-typical diacritics +
#   stopwords;  en: English stopwords.  Deterministic tie-break order.
CJK = "[\\u4e00-\\u9fff]"               # Java regex (Spark)
CJK_DUCK = "[\\x{4e00}-\\x{9fff}]"      # RE2 (DuckDB) — no \\u escapes
SIG = {
    "en": " (the|and|was|for|that|with|this) ",
    "fr": " (le|la|les|des|une|est|dans|avec) ",
    "es": " (el|los|las|una|por|con|para|que) ",
    "de": " (der|die|das|und|ist|ein|mit|von) ",
}
DIACRITIC = {
    "fr": "[àâçèéêëîïôùûœ]",
    "es": "[áéíñóúü¿¡]",
    "de": "[äößü]",
}


def _count(col, pattern: str) -> F.Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0))


def lang_scores(norm_col) -> dict[str, F.Column]:
    """Per-language integer scores; higher = more likely."""
    c = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    scores = {"zh": _count(c, CJK) * 3}
    for lang, pat in SIG.items():
        s = _count(c, pat) * 2
        if lang in DIACRITIC:
            s = s + _count(c, DIACRITIC[lang])
        scores[lang] = s
    return scores


LANG_ORDER = ["zh", "en", "fr", "es", "de"]   # deterministic tie-break


def predict_lang(norm_col) -> F.Column:
    """argmax over lang_scores with first-wins tie-break; 'und' when
    every score is 0."""
    scores = lang_scores(norm_col)
    best = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best > 0, expr).otherwise(F.lit("und"))


# --- token counting --------------------------------------------------
WS_TOKEN_SPLIT = " "
BPE_ISH = "[a-z0-9]+|[^a-z0-9 ]"   # word runs + single non-alnum marks


def token_counts(norm_col) -> dict[str, F.Column]:
    c = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    return {
        "n_ws_tokens": F.when(F.length(c) == 0, F.lit(0))
                        .otherwise(F.size(F.split(c, WS_TOKEN_SPLIT))),
        "n_bpe_ish": _count(c, BPE_ISH),
        "n_chars": F.char_length(c),
    }


# --- quality scoring (Gopher/CCNet-style cheap signals) --------------
PUNCT = "[,.!?;:]"
EN_STOP = " (the|and|of|to|in|is|was|that|for|with) "


def quality_columns(norm_col) -> dict[str, F.Column]:
    c = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    toks = token_counts(norm_col)
    n_tok = toks["n_ws_tokens"]
    n_chars = toks["n_chars"]
    return {
        **toks,
        "mean_tok_len": F.round((n_chars - n_tok + 1)
                                / F.greatest(n_tok, F.lit(1)), 4),
        "punct_ratio": F.round(_count(c, PUNCT)
                               / F.greatest(n_chars, F.lit(1)), 4),
        "stopword_ratio": F.round(_count(c, EN_STOP)
                                  / F.greatest(n_tok, F.lit(1)), 4),
        "digit_ratio": F.round(_count(c, "[0-9]")
                               / F.greatest(n_chars, F.lit(1)), 4),
    }


# Gopher-ish keep-rule thresholds — the SINGLE definition shared by
# quality_score's quality_ok column and the filter battery (X24); the
# two verdicts must never silently disagree.
QUALITY_MIN_TOKENS = 5
QUALITY_MIN_CHARS = 30
QUALITY_TOK_LEN = (2, 12)
QUALITY_MAX_DIGIT_RATIO = 0.3


def quality_ok_col(c) -> F.Column:
    """The keep rule over quality_columns outputs (c: name -> Column
    or a plain dict of columns)."""
    g = (lambda n: c[n]) if isinstance(c, dict) else c
    return ((g("n_ws_tokens") >= QUALITY_MIN_TOKENS)
            & (g("n_chars") >= QUALITY_MIN_CHARS)
            & (g("mean_tok_len") >= QUALITY_TOK_LEN[0])
            & (g("mean_tok_len") <= QUALITY_TOK_LEN[1])
            & (g("digit_ratio") <= QUALITY_MAX_DIGIT_RATIO))


def quality_ok_duck() -> str:
    """DuckDB twin of the same rule, built from the same constants."""
    return (f"(n_ws_tokens >= {QUALITY_MIN_TOKENS}"
            f" AND n_chars >= {QUALITY_MIN_CHARS}"
            f" AND mean_tok_len >= {QUALITY_TOK_LEN[0]}"
            f" AND mean_tok_len <= {QUALITY_TOK_LEN[1]}"
            f" AND digit_ratio <= {QUALITY_MAX_DIGIT_RATIO})")


def quality_score(docs_norm: DataFrame) -> DataFrame:
    cols = quality_columns("norm_text")
    out = docs_norm
    for name, col in cols.items():
        out = out.withColumn(name, col)
    # Gopher-ish keep rule: sane length + token shape (shared defs)
    return out.withColumn("quality_ok", quality_ok_col(F.col))


# --- DuckDB twins -----------------------------------------------------

def _duck_count(expr: str, pattern: str) -> str:
    pat = pattern.replace("'", "''")
    return f"length(regexp_extract_all({expr}, '{pat}'))"


def lang_id_duck_sql(norm_expr: str) -> str:
    """DuckDB expression computing the same pred_lang."""
    score = {"zh": f"{_duck_count(norm_expr, CJK_DUCK)} * 3"}
    for lang, pat in SIG.items():
        s = f"{_duck_count(norm_expr, pat)} * 2"
        if lang in DIACRITIC:
            s += f" + {_duck_count(norm_expr, DIACRITIC[lang])}"
        score[lang] = f"({s})"
    best = "greatest(" + ", ".join(score[lang] for lang in LANG_ORDER) + ")"
    case = "'und'"
    for lang in reversed(LANG_ORDER):
        case = f"CASE WHEN {score[lang]} = {best} THEN '{lang}' ELSE {case} END"
    return f"CASE WHEN {best} > 0 THEN ({case}) ELSE 'und' END"


def quality_duck_cols(norm_expr: str) -> str:
    n_tok = (f"CASE WHEN length({norm_expr}) = 0 THEN 0"
             f" ELSE length(str_split({norm_expr}, ' ')) END")
    n_chars = f"length({norm_expr})"
    return (
        f"CAST({n_tok} AS INT) AS n_ws_tokens,"
        f" CAST({_duck_count(norm_expr, BPE_ISH)} AS INT) AS n_bpe_ish,"
        f" CAST({n_chars} AS INT) AS n_chars,"
        f" round(({n_chars} - {n_tok} + 1) / greatest({n_tok}, 1), 4)"
        f"  AS mean_tok_len,"
        f" round({_duck_count(norm_expr, PUNCT)} / greatest({n_chars}, 1), 4)"
        f"  AS punct_ratio,"
        f" round({_duck_count(norm_expr, EN_STOP)} / greatest({n_tok}, 1), 4)"
        f"  AS stopword_ratio,"
        f" round({_duck_count(norm_expr, '[0-9]')} / greatest({n_chars}, 1), 4)"
        f"  AS digit_ratio"
    )
