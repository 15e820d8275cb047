"""The rules are Spark SQL text rendered from the thresholds registry
(operators/rules.py). Threshold values reach that text through `rules.lit`,
so a `--threshold` override holding a quote or a backslash must still match
exactly what the pandas oracle matches, and float thresholds must parse as
DOUBLE (a bare `0.3` parses as DECIMAL)."""

from __future__ import annotations

import pandas as pd
import pytest

import main as cli_main
from rsmetacheck_spark import thresholds as TH
from rsmetacheck_spark.functions.pytext import STATS_FIELDS, text_stats
from rsmetacheck_spark.operators import rules as R
from rsmetacheck_spark.operators.verdicts import with_findings
from rsmetacheck_spark.oracle import doc_rule_hits

LITERALS = [
    0.3, 1e-05, -2.5, 7.0, 1e16, 50, -3, True, False,
    "plain", "it's", "c:\\temp", "\\'", "'\\", "a\\u0041", "tab\there",
    "line\nbreak", "50% off", "über", "",
]


def test_lit_round_trips_through_spark_sql(spark):
    row = spark.range(1).selectExpr(
        *[f"{R.lit(v)} AS c{i}" for i, v in enumerate(LITERALS)],
        *[f"typeof({R.lit(v)}) AS t{i}" for i, v in enumerate(LITERALS)],
    ).first()
    for i, v in enumerate(LITERALS):
        assert row[f"c{i}"] == v, (v, R.lit(v), row[f"c{i}"])
        if isinstance(v, float):
            assert R.lit(v).endswith("D"), R.lit(v)
            assert row[f"t{i}"] == "double", (v, row[f"t{i}"])
    assert spark.range(1).selectExpr("typeof(0.3)").first()[0].startswith(
        "decimal"), "bare 0.3 is expected to parse as DECIMAL"


def test_lit_non_finite_floats(spark):
    row = spark.range(1).selectExpr(
        *[f"{R.lit(v)} AS c{i}" for i, v in enumerate(
            (float("inf"), float("-inf"), float("nan")))]
    ).first()
    assert row.c0 == float("inf") and row.c1 == float("-inf")
    assert row.c2 != row.c2  # NaN
    with pytest.raises(TypeError):
        R.lit(object())


CLEAN = ("the house and the river are near the old bridge and the water "
         "is clear in the morning when the light is soft ") * 5

DOCS = [
    # (text, url, warc_ts, lang_pred, log_ppl)
    (CLEAN, "https://ok.example/a", "2025-07-01 00:00:00", "en", 0.0),
    (CLEAN + " IT'S FREE", "https://ok.example/b", "2025-05-01 00:00:00", "en", 2e-05),
    (CLEAN + " see C:\\Temp now", "https://ok.example/c", "2025-06-01 00:00:00", "de", 5e-06),
    (CLEAN + " its free c:/temp", "https://o'neil.example/d", "2024-01-01 00:00:00", "zz", 1e-05),
    (CLEAN, "https://back\\slash.example/e", "2025-06-01 00:00:01", "fr", 3.0),
    (CLEAN, "https://oneil.example/f", "2026-01-01 00:00:00", "es", 0.0),
    ("short text", "not a url", "2020-01-01 00:00:00", "en", 1e-05),
]


def test_overrides_with_quotes_backslashes_and_floats_match_oracle(
    spark, th_restore,
):
    cli_main._apply_threshold_overrides([
        "BOILERPLATE_PHRASES=(\"it's free\", 'c:\\\\temp', 'lorem ipsum')",
        "HOST_BLOCKLIST=(\"o'neil.example\", 'back\\\\slash.example')",
        "MAX_LOG_PPL=1e-05",
        "MAX_SYMBOL_RATIO=0.3",
        "FRESHNESS_CUTOFF='2025-06-01 00:00:00'",
    ])
    assert "it's free" in TH.BOILERPLATE_PHRASES
    assert "c:\\temp" in TH.BOILERPLATE_PHRASES
    assert "back\\slash.example" in TH.HOST_BLOCKLIST

    stat_names = [name for name, _typ in STATS_FIELDS]
    rows = [
        (url, ts, text, lang, ppl, 0, 0, 0,
         *[text_stats(text)[n] for n in stat_names])
        for text, url, ts, lang, ppl in DOCS
    ]
    schema = (
        "url string, warc_ts string, extracted_text string, lang_pred string,"
        " log_ppl double, n_pii_email int, n_pii_phone int, n_pii_id int, "
        + ", ".join(f"{n} {t}" for n, t in STATS_FIELDS)
    )
    df = spark.createDataFrame(rows, schema).selectExpr(
        "*", "CAST(warc_ts AS TIMESTAMP) AS __ts"
    ).drop("warc_ts").withColumnRenamed("__ts", "warc_ts")
    got = {
        r.url: {f.rule: f.hit for f in r.findings}
        for r in with_findings(df).select("url", "findings").collect()
    }
    for text, url, ts, lang, ppl in DOCS:
        want = doc_rule_hits(text, url, pd.Timestamp(ts), lang, ppl, {})
        assert got[url] == want, (url, got[url], want)
    # every overridden rule fires somewhere and not everywhere
    for rule in ("R006_boilerplate_phrase", "R010_perplexity",
                 "R014_host_blocklist", "R015_freshness"):
        fired = {url for url, hits in got.items() if hits[rule]}
        assert 0 < len(fired) < len(DOCS), (rule, fired)
