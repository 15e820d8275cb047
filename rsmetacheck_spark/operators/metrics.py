"""Aggregate metrics + per-partition lineage (A1-A4, SURVEY.md §2.4; the
analog of analysis_results.json, detect_pitfalls_main.py:385-394).

metrics:  rule, hits, pct (round 2), lang_counts map<lang,count>
lineage:  partition_id, input_snapshot, rows_in, rows_kept, rule_hits map

Shuffle story: one explode -> partial-aggregated groupBy(rule) (map-side
combine is automatic for count/sum); the total-docs scalar joins back via a
broadcast of a 1-row DataFrame, not a window over the full data. The
findings array is in fixed RULES order (verdicts.py), so per-rule sums use
element_at instead of a second explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import thresholds as TH
from . import rules as R


def rule_metrics_table(pages_out: DataFrame) -> DataFrame:
    """Every registered rule always appears, zero-hit rules included — the
    reference emits every detector with count 0 (detect_pitfalls_main.py:
    393-396), so consumers can rely on a fixed 15-row table. The hit
    aggregation right-joins a literal rule list (broadcast, 15 rows)."""
    spark = pages_out.sparkSession
    rules = ", ".join(R.lit(rule) for rule, _sev in TH.RULES)
    all_rules = spark.range(1).selectExpr(f"explode(array({rules})) AS rule")
    total = pages_out.selectExpr("count(1) AS total_docs")
    # A3 fidelity (detect_pitfalls_main.py:346-351): a hit counts once per
    # TARGET LANGUAGE of the document (multi-valued explode over the
    # langid top-2 list when present), while `hits` stays doc-level —
    # exactly the reference's two counters
    langs = (
        "lang_top2" if "lang_top2" in pages_out.columns else "array(lang_pred)"
    )
    # ONE pass over the sink for BOTH grains (the doc-level `hits` and
    # the per-language counts used to need two scans + two explodes):
    # posexplode_outer tags each finding's first lang row (pos 0; pos
    # NULL for the empty-langs model-error rows, which must still count
    # as hits), so hits = sum of first-flags while lang counts group the
    # non-null lang rows — identical numbers, half the sink scans.
    hit_findings = (
        pages_out
        .selectExpr(f"{langs} AS langs", "explode(findings) AS f")
        .filter("f.hit")
        .selectExpr("f.rule AS rule", "posexplode_outer(langs) AS (pos, lang)")
    )
    per_rule_lang = hit_findings.groupBy("rule", "lang").agg(
        F.expr("count(1) AS n"),
        F.expr("sum(CASE WHEN coalesce(pos, 0) = 0 THEN 1 ELSE 0 END) AS nf"),
    )
    agg = per_rule_lang.groupBy("rule").agg(
        F.expr(
            "map_from_entries(sort_array(collect_list("
            "CASE WHEN lang IS NOT NULL THEN struct(lang, n) END)))"
            " AS lang_counts"
        ),
        F.expr("sum(nf) AS hits"),
    )
    empty_map = "map_from_entries(CAST(array() AS array<struct<lang:string,n:bigint>>))"
    return (
        all_rules
        .join(F.broadcast(agg), "rule", "left")
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "rule",
            "coalesce(hits, 0) AS hits",
            # greatest(total, 1): a zero-row corpus must yield pct=0.0,
            # not an ANSI DIVIDE_BY_ZERO that aborts the metrics write
            # (found by the empty-input observed-counters probe)
            "round(coalesce(hits, 0) * 100.0D / greatest(total_docs, 1), 2)"
            " AS pct",
            f"coalesce(lang_counts, {empty_map}) AS lang_counts",
        )
    )


def _rule_hit_sums() -> str:
    """SQL map rule -> hit count; the findings array is in RULES order."""
    entries = ", ".join(
        f"named_struct('key', {R.lit(rule)}, 'value',"
        f" sum(CAST(element_at(findings, {i + 1}).hit AS BIGINT)))"
        for i, (rule, _sev) in enumerate(TH.RULES)
    )
    return f"map_from_entries(array({entries}))"


def host_metrics_table(pages_out: DataFrame) -> DataFrame:
    """Per-host keep stats with EXPLICIT skew salting (north_rule: "salting
    hot hosts"): the synthetic corpus gives 3 hosts ~30% of all rows, so a
    naive groupBy(host) sends a third of the table to 3 reducers. Phase 1
    aggregates (host, salt) with salt = url-hash mod N_SALT — hot hosts
    fan out across N_SALT reducers; phase 2 combines the <= N_SALT partial
    rows per host. AQE skew handling stays on as backstop; this makes the
    fan-out deterministic rather than reactive."""
    phase1 = (
        pages_out
        .selectExpr(
            f"{R.url_host('url')} AS host",
            f"pmod(xxhash64(url), {TH.N_SALT}) AS __salt",
            "keep",
        )
        .groupBy("host", "__salt")
        .agg(F.expr("count(1) AS n"), F.expr("sum(CAST(keep AS BIGINT)) AS k"))
    )
    return (
        phase1.groupBy("host")
        .agg(F.expr("sum(n) AS n_docs"), F.expr("sum(k) AS n_kept"))
        .selectExpr(
            "*", "round(100.0D * n_kept / n_docs, 2) AS keep_pct"
        )
    )


def lineage_table(pages_out: DataFrame, input_snapshot: str) -> DataFrame:
    """Per-partition lineage; partition = the deterministic url-hash bucket
    (the checkpoint/resume unit), not the ephemeral task partition id."""
    part = (
        F.col("bucket") if "bucket" in pages_out.columns else F.spark_partition_id()
    )
    return (
        pages_out
        .groupBy(part.alias("partition_id"))
        .agg(
            F.count("*").alias("rows_in"),
            F.sum(F.col("keep").cast("long")).alias("rows_kept"),
            F.expr(_rule_hit_sums()).alias("rule_hits"),
        )
        .withColumn("input_snapshot", F.lit(input_snapshot))
    )
