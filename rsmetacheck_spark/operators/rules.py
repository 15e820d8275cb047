"""Quality rules over pre-computed feature columns.

Split of labor (SURVEY.md §2.9): token-level stats arrive from the fused
Arrow stage (functions/pytext.py explains why); everything HERE is a native
expression — threshold compares, substring probes, URL/host and timestamp
rules — all inside whole-stage codegen. Each rule returns (metric, hit);
registry order mirrors the reference's fixed detector list
(detect_pitfalls_main.py:281-311) since rule order is part of output parity.

The expressions are Spark SQL text, rendered from the thresholds registry
and parsed once per projection (`selectExpr` / `F.expr`). A Column-API tree
costs one Py4J round trip per node — about 3,900 for the 15-rule findings
array alone — which made plan building a large share of a small job's fixed
cost. Threshold values enter the text only through `lit`.

Reference shapes implemented (SURVEY.md §2.3):
 - doc length      <- P010's line-count check (p010.py:73)
 - symbol ratio    <- P003's separator-pattern shape (p003.py:6-29)
 - stopword frac   <- W001's ratio shape (w001.py:114-115)
 - dup n-grams     <- hashed-shingle repetition (SURVEY §2.5 dedup precursor)
 - boilerplate     <- P002 placeholder-regex alternation (p002.py:30-59)
 - host blocklist  <- P004 URL classifier (p004.py:7-45)
 - freshness       <- W002 date-delta rule (w002.py:104-145)
"""

from __future__ import annotations

import math

from .. import thresholds as TH

HOST_RE = r"^https?://([^/]+)"


def lit(value) -> str:
    """A Python threshold value as a Spark SQL literal. Floats carry the
    `D` suffix: a bare `0.3` parses as DECIMAL, not DOUBLE. Strings escape
    backslash and quote (the parser unescapes string literals)."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isfinite(value):
            return f"{value!r}D"
        name = "NaN" if math.isnan(value) else (
            "Infinity" if value > 0 else "-Infinity")
        return f"CAST('{name}' AS DOUBLE)"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")


def in_list(expr: str, values) -> str:
    """`expr IN (values)`; an empty list matches nothing."""
    if not values:
        return "false"
    return f"({expr}) IN ({', '.join(lit(v) for v in values)})"


def url_host(url: str) -> str:
    return f"regexp_extract({url}, {lit(HOST_RE)}, 1)"


def rule_sql() -> dict[str, tuple[str, str]]:
    """rule_code -> (metric, hit) SQL over the model-stage columns: url,
    warc_ts, lang_pred, log_ppl, n_pii_*, the pytext stats (n_words,
    sym_ratio, stop_frac, mean_word_len, dup_ngram_frac, bullet_frac,
    ellipsis_frac) and `__lowtext`, the lowercased extracted text that the
    caller names once per row (verdicts.py)."""
    boiler = " OR ".join(
        f"instr(__lowtext, {lit(p)}) > 0" for p in TH.BOILERPLATE_PHRASES
    ) or "false"

    def above(col: str, limit) -> tuple[str, str]:
        return col, f"{col} > {lit(limit)}"

    def pii(col: str) -> tuple[str, str]:
        return f"CAST({col} AS DOUBLE)", f"{col} > 0"

    return {
        "R001_doc_length": (
            "CAST(n_words AS DOUBLE)",
            f"n_words < {lit(TH.MIN_WORDS)} OR n_words > {lit(TH.MAX_WORDS)}",
        ),
        "R002_symbol_ratio": above("sym_ratio", TH.MAX_SYMBOL_RATIO),
        "R003_stopword_fraction": (
            "stop_frac", f"stop_frac < {lit(TH.MIN_STOPWORD_FRAC)}"
        ),
        "R004_mean_word_length": (
            "mean_word_len",
            f"mean_word_len < {lit(TH.MIN_MEAN_WORD_LEN)}"
            f" OR mean_word_len > {lit(TH.MAX_MEAN_WORD_LEN)}",
        ),
        "R005_dup_ngram_fraction": above("dup_ngram_frac", TH.MAX_DUP_NGRAM_FRAC),
        "R006_boilerplate_phrase": (
            f"CASE WHEN {boiler} THEN 1.0D ELSE 0.0D END", boiler
        ),
        "R007_bullet_ratio": above("bullet_frac", TH.MAX_BULLET_LINE_FRAC),
        "R008_ellipsis_ratio": above("ellipsis_frac", TH.MAX_ELLIPSIS_LINE_FRAC),
        "R009_langid": ("0.0D", f"NOT ({in_list('lang_pred', TH.KEEP_LANGS)})"),
        "R010_perplexity": above("log_ppl", TH.MAX_LOG_PPL),
        "R011_pii_email": pii("n_pii_email"),
        "R012_pii_phone": pii("n_pii_phone"),
        "R013_pii_id": pii("n_pii_id"),
        "R014_host_blocklist": (
            "0.0D", in_list(url_host("url"), TH.HOST_BLOCKLIST)
        ),
        "R015_freshness": (
            "0.0D",
            f"warc_ts < CAST({lit(TH.FRESHNESS_CUTOFF)} AS TIMESTAMP)",
        ),
    }

