"""Text-analysis column functions (north-star X5: language-ID, quality
scoring, token counting, fingerprinting) — all pure Catalyst expressions
with DuckDB SQL twins generated from the same data tables.

These are the per-document map-side metrics a 100 TB training-data pipeline
computes on every row: no shuffles, no UDFs, whole-stage codegen end to end.
Every function returns (Column, sql_fragment) pairs via parallel *_expr /
*_sql constructors so queries and oracles never drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Language-ID: marker-stopword voting with a fixed preference order for ties.
# A real pipeline uses charset n-gram models; the heuristic here is the
# deterministic, oracle-checkable skeleton (scores → argmax with stable
# tie-break) that such a model plugs into.
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "nicht", "ist"],
    "en": ["the", "and", "of", "is", "not", "with"],
    "es": ["el", "la", "los", "las", "es", "y"],
    "fr": ["le", "les", "des", "est", "et", "ne"],
    "zh": ["de5", "shi4", "bu4", "le5", "zai4", "he2"],  # romanized markers
}
LANG_ORDER = ["de", "en", "es", "fr", "zh"]  # tie-break preference


def _in_list_sql(items: list[str]) -> str:
    return ", ".join("'" + i.replace("'", "''") + "'" for i in items)


def lang_scores_expr(text_col: str) -> dict[str, Column]:
    toks = f"split(lower({text_col}), '\\\\s+')"
    return {
        lang: F.expr(f"size(filter({toks}, t -> t IN ({_in_list_sql(words)})))")
        for lang, words in LANG_MARKERS.items()
    }


def lang_scores_sql(text_col: str) -> dict[str, str]:
    toks = f"string_split_regex(lower({text_col}), '\\s+')"
    return {
        lang: f"len(list_filter({toks}, t -> t IN ({_in_list_sql(words)})))"
        for lang, words in LANG_MARKERS.items()
    }


def lang_pred_expr(text_col: str) -> Column:
    scores = lang_scores_expr(text_col)
    best = F.greatest(*scores.values())
    expr = None
    for lang in LANG_ORDER:
        cond = scores[lang] == best
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def lang_pred_sql(text_col: str) -> str:
    scores = lang_scores_sql(text_col)
    best = "greatest(" + ", ".join(scores.values()) + ")"
    branches = " ".join(
        f"WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in LANG_ORDER
    )
    return f"CASE {branches} ELSE 'und' END"


# ---------------------------------------------------------------------------
# Quality metrics: the length / punctuation / stopword ratios used to filter
# low-quality documents before LLM training.
# ---------------------------------------------------------------------------

_PUNCT_RE = r"[\.,;:!?]"
_EN_STOPWORDS = LANG_MARKERS["en"] + ["a", "to", "in", "that", "it", "for"]


def quality_metrics_expr(text_col: str) -> dict[str, Column]:
    toks = f"split(trim({text_col}), '\\\\s+')"
    n_tokens = F.expr(f"size({toks})")
    n_chars = F.length(F.col(text_col))
    stop_hits = F.expr(
        f"size(filter({toks}, t -> lower(t) IN ({_in_list_sql(_EN_STOPWORDS)})))"
    )
    punct = F.expr(f"regexp_count({text_col}, '{_PUNCT_RE}')")
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tokens.cast("bigint"),
        # ansi: size(split(...)) >= 1 even on empty text
        "avg_token_len": F.round((n_chars - (n_tokens - 1)).cast("double") / n_tokens, 4),
        # try_divide: an empty document has n_chars = 0 -> NULL ratio on
        # both engines (the DuckDB twin's x/0 is natively NULL)
        "punct_ratio": F.round(F.try_divide(punct.cast("double"), n_chars), 6),
        "stopword_ratio": F.round(stop_hits.cast("double") / n_tokens, 6),  # ansi: n_tokens >= 1
    }


def quality_metrics_sql(text_col: str) -> dict[str, str]:
    toks = f"string_split_regex(trim({text_col}), '\\s+')"
    n_tokens = f"len({toks})"
    n_chars = f"length({text_col})"
    stop_hits = f"len(list_filter({toks}, t -> lower(t) IN ({_in_list_sql(_EN_STOPWORDS)})))"
    punct = f"len(regexp_extract_all({text_col}, '{_PUNCT_RE}'))"
    return {
        "n_chars": f"CAST({n_chars} AS BIGINT)",
        "n_tokens": f"CAST({n_tokens} AS BIGINT)",
        "avg_token_len": f"round(CAST({n_chars} - ({n_tokens} - 1) AS DOUBLE) / {n_tokens}, 4)",
        "punct_ratio": f"round(CAST({punct} AS DOUBLE) / {n_chars}, 6)",
        "stopword_ratio": f"round(CAST({stop_hits} AS DOUBLE) / {n_tokens}, 6)",
    }


# ---------------------------------------------------------------------------
# Gopher-style document quality rules (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", §A1.1 — public paper): hard thresholds on word count,
# mean word length, symbol-to-word ratio, alphabetic-word fraction, and
# stopword presence. The pass flag is the conjunction actually used to gate
# training data; every metric is a pure map-side expression.
# ---------------------------------------------------------------------------

# backslash-free on purpose: Spark's SQL string parser unescapes '\.' to '.'
# while DuckDB keeps it literal — bracket classes parse identically in both.
_SYMBOL_RE = "#|[.][.][.]"
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_metrics_expr(text_col: str) -> dict[str, Column]:
    toks = f"split(trim({text_col}), '\\\\s+')"
    n_words = F.expr(f"size({toks})")
    n_chars = F.length(F.col(text_col))
    # ansi: size(split(...)) >= 1 even on empty text (all three ratios)
    mean_word_len = F.round((n_chars - (n_words - 1)).cast("double") / n_words, 4)
    alpha_frac = F.round(
        F.expr(f"size(filter({toks}, w -> w rlike '[A-Za-z]'))").cast("double") / n_words, 6  # ansi: n_words >= 1
    )
    symbol_ratio = F.round(
        F.expr(f"regexp_count({text_col}, '{_SYMBOL_RE}')").cast("double") / n_words, 6  # ansi: n_words >= 1
    )
    stop_hits = F.expr(
        f"size(filter({toks}, w -> lower(w) IN ({_in_list_sql(GOPHER_STOPWORDS)})))"
    ).cast("bigint")
    gopher_pass = (
        n_words.between(50, 100000)
        & mean_word_len.between(3, 10)
        & (symbol_ratio < 0.1)
        & (alpha_frac > 0.8)
        & (stop_hits >= 2)
    )
    return {
        "n_words": n_words.cast("bigint"),
        "mean_word_len": mean_word_len,
        "alpha_frac": alpha_frac,
        "symbol_ratio": symbol_ratio,
        "stop_hits": stop_hits,
        "gopher_pass": gopher_pass,
    }


def gopher_metrics_sql(text_col: str) -> dict[str, str]:
    toks = f"string_split_regex(trim({text_col}), '\\s+')"
    n_words = f"len({toks})"
    n_chars = f"length({text_col})"
    mean_word_len = f"round(CAST({n_chars} - ({n_words} - 1) AS DOUBLE) / {n_words}, 4)"
    alpha_frac = (
        f"round(CAST(len(list_filter({toks}, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)"
        f" / {n_words}, 6)"
    )
    symbol_ratio = (
        f"round(CAST(len(regexp_extract_all({text_col}, '{_SYMBOL_RE}')) AS DOUBLE)"
        f" / {n_words}, 6)"
    )
    stop_hits = (
        f"CAST(len(list_filter({toks}, w -> lower(w) IN ({_in_list_sql(GOPHER_STOPWORDS)}))) AS BIGINT)"
    )
    gopher_pass = (
        f"({n_words} BETWEEN 50 AND 100000"
        f" AND {mean_word_len} BETWEEN 3 AND 10"
        f" AND {symbol_ratio} < 0.1"
        f" AND {alpha_frac} > 0.8"
        f" AND {stop_hits} >= 2)"
    )
    return {
        "n_words": f"CAST({n_words} AS BIGINT)",
        "mean_word_len": mean_word_len,
        "alpha_frac": alpha_frac,
        "symbol_ratio": symbol_ratio,
        "stop_hits": stop_hits,
        "gopher_pass": gopher_pass,
    }


# ---------------------------------------------------------------------------
# Token counting: whitespace tokens plus a BPE-ish estimate. The regex
# mirrors byte-pair pre-tokenization coarsely: words, digits, and symbol
# runs count separately; ~4 chars/token is the usual LLM estimate blended in.
# ---------------------------------------------------------------------------

_BPE_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def token_counts_expr(text_col: str) -> dict[str, Column]:
    ws = F.expr(f"size(split(trim({text_col}), '\\\\s+'))")
    bpe = F.expr(f"regexp_count({text_col}, '{_BPE_RE}')")
    est4 = F.ceil(F.length(F.col(text_col)) / F.lit(4.0))
    return {
        "ws_tokens": ws.cast("bigint"),
        "bpe_tokens": bpe.cast("bigint"),
        "est_tokens": est4.cast("bigint"),
    }


def token_counts_sql(text_col: str) -> dict[str, str]:
    ws = f"len(string_split_regex(trim({text_col}), '\\s+'))"
    bpe = f"len(regexp_extract_all({text_col}, '{_BPE_RE}'))"
    est4 = f"ceil(length({text_col}) / 4.0)"
    return {
        "ws_tokens": f"CAST({ws} AS BIGINT)",
        "bpe_tokens": f"CAST({bpe} AS BIGINT)",
        "est_tokens": f"CAST({est4} AS BIGINT)",
    }


# ---------------------------------------------------------------------------
# Fingerprinting: canonicalized content hash (exact-dup key) and its band
# prefix (the bucketing key near-dup passes use to avoid the N² join).
# ---------------------------------------------------------------------------


def fingerprint_expr(text_col: str) -> dict[str, Column]:
    canon = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    fp = F.md5(canon)
    return {"fingerprint": fp, "fp_band": F.substring(fp, 1, 8)}


def fingerprint_sql(text_col: str) -> dict[str, str]:
    canon = f"lower(trim(regexp_replace({text_col}, '\\s+', ' ', 'g')))"
    fp = f"md5({canon})"
    return {"fingerprint": fp, "fp_band": f"substring({fp}, 1, 8)"}


# ---------------------------------------------------------------------------
# Word n-gram shingles — the unit of Jaccard near-dup detection.
# ---------------------------------------------------------------------------


def shingles_expr(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram set as array<string>; empty array for texts
    shorter than n tokens. element_at is 1-based; the sequence guard avoids
    Spark's descending-sequence surprise when size < n.

    The token array is bound ONCE via a single-element-array transform
    lambda (the winnowing trick, _winnow_fps): inlining the split into each
    element_at re-tokenizes the text per shingle position — O(tokens^2)
    work that projection collapse does to the naive form (measured 7x on
    decontaminate_overlap at sf0.1)."""
    toks = f"split(lower(trim({text_col})), '\\\\s+')"
    parts = ", ".join(f"element_at(t, i + {j})" for j in range(n))
    return F.expr(
        f"flatten(transform(array({toks}), t -> "
        f"CASE WHEN size(t) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(t) - {n - 1}), i -> concat_ws(' ', {parts}))) "
        f"ELSE array() END))"
    )


def shingles_sql(text_col: str, n: int = 3) -> str:
    toks = f"string_split_regex(lower(trim({text_col})), '\\s+')"
    parts = " || ' ' || ".join(f"({toks})[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {n - 1} + 1), i -> {parts})) "
        f"ELSE [] END"
    )
