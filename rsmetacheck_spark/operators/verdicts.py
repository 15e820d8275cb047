"""Verdict assembly + keep/drop gate.

Per-document `findings` column: array<struct<rule,hit,severity,metric,
evidence>> — the Spark analog of the reference's per-rule verdict dicts
(p001.py:70-77) with `pitfall_code` stamping (detect_pitfalls_main.py:331).
`keep` mirrors the any-issue reduce gating JSON-LD emission
(detect_pitfalls_main.py:360-366): keep = no drop-severity hit.

Plan shape: three projections, each one `selectExpr` over SQL text from
rules.py. The lowered text and the metric/hit expressions are materialized
as NAMED columns first, and later expressions reference them as attribute
refs — CollapseProject will not re-inline a non-cheap expression referenced
multiple times, so each is computed exactly once per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import thresholds as TH
from . import rules as R

FINDING_SCHEMA = (
    "array<struct<rule:string,hit:boolean,severity:string,metric:double,evidence:string>>"
)


def with_findings(df: DataFrame) -> DataFrame:
    """Expects model-stage columns; adds findings + keep."""
    base = [f"`{c}`" for c in df.columns]
    # the model stage emits extracted_text SPARSELY (null == identical to
    # scrubbed_text); boilerplate reads the restored value. It scans a
    # LOWERED copy per phrase: naming it once makes the row pay one
    # lowercase pass instead of |PHRASES|
    text = (
        "coalesce(extracted_text, scrubbed_text)"
        if "scrubbed_text" in df.columns else "extracted_text"
    )
    df = df.selectExpr("*", f"lower({text}) AS __lowtext")

    rules = R.rule_sql()
    helpers = []
    for i, (rule, _sev) in enumerate(TH.RULES):
        metric, hit = rules[rule]
        helpers += [
            f"coalesce(CAST(({metric}) AS DOUBLE), 0.0D) AS __m{i}",
            f"coalesce(({hit}), false) AS __h{i}",
        ]
    df = df.selectExpr("*", *helpers)

    # per-rule evidence template (the reference renders a distinct template
    # per detector, json_ld_utils.py:144-333): the rule's description from
    # the static lookup is baked in as a literal. Evidence text is rendered
    # ONLY for hits — the reference renders evidence only for flagged
    # verdicts (json_ld_utils.py:447-493), and null evidence for the ~13
    # non-hit rules per doc saves ~1 KB/row at the sink.
    structs = ", ".join(
        f"named_struct('rule', {R.lit(rule)}, 'hit', __h{i},"
        f" 'severity', {R.lit(sev)}, 'metric', __m{i},"
        f" 'evidence', CASE WHEN __h{i} THEN concat("
        f"{R.lit(f'{rule}: {TH.RULE_INFO[rule][1]} (metric=')},"
        f" CAST(__m{i} AS STRING), ')') END)"
        for i, (rule, sev) in enumerate(TH.RULES)
    )
    dropped = " OR ".join(
        f"__h{i}" for i, (_r, sev) in enumerate(TH.RULES) if sev == TH.DROP
    ) or "false"
    return df.selectExpr(
        *base, f"array({structs}) AS findings", f"NOT ({dropped}) AS keep"
    )
