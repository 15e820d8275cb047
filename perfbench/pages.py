"""Pages workload (`pages_html`): the user's CLI run (`main.main`) over
synthetic HTML pages. Its traced run also times the `--resume` path.

Inputs are made from the seed with `synth.gen_row` (the default class mix)
and written as 2 x nproc parquet files, the way a crawl arrives in many
files. The pandas oracle (`oracle.oracle_labels`) runs on the same rows in
the same worker processes. Both are cached by seed and size under the
benchmark's cache dir and stay outside every timed region.
"""

from __future__ import annotations

import contextlib
import io
import json
import multiprocessing
import os
import shutil
import time

import common as C

N_DOCS = 4_000          # docs per CLI job
JOB_S = 6.0             # nominal job time: --seconds / JOB_S sets the job count
RESUME_DONE_GROUPS = 2  # of the resume path's 4 bucket groups: half done
SUBOP_SAMPLE = 400      # docs for the one-core fused-stage split


# ---------------------------------------------------------------------------
# input + oracle (cached)
# ---------------------------------------------------------------------------

def _gen_part(job):
    """Generate rows [lo, hi) of the seed's pages, write them as one parquet
    file and return the oracle's per-rule hit sums for them."""
    import pandas as pd

    from rsmetacheck_spark import oracle, synth
    from rsmetacheck_spark import thresholds as TH

    seed, lo, hi, path = job
    df = pd.DataFrame([synth.gen_row(seed, i) for i in range(lo, hi)])
    df = df.drop(columns=["_class"])
    df.to_parquet(path, index=False, coerce_timestamps="us")
    labels = oracle.oracle_labels(df)
    hits = {r: int(labels[f"hit_{r}"].sum()) for r, _sev in TH.RULES}
    return {"n": hi - lo, "kept": int(labels["keep"].sum()), "hits": hits}


def make_input(cache: str, seed: int, n: int) -> tuple[str, dict]:
    """-> (dir of part files, oracle summary {n, kept, hits{rule}})."""
    d = os.path.join(cache, f"pages_s{seed}_n{n}")
    data = os.path.join(d, "data")
    done = os.path.join(d, "oracle.json")
    if not os.path.exists(done):
        C.fresh_dir(data)
        parts = 2 * C.nproc()
        bounds = [n * k // parts for k in range(parts + 1)]
        jobs = [
            (seed, bounds[k], bounds[k + 1],
             os.path.join(data, f"part-{k:05d}.parquet"))
            for k in range(parts)
        ]
        # fork, not spawn: no thread exists yet (the memory sampler and
        # Spark start later), and spawn would leave a resource-tracker
        # process running until the benchmark exits
        with multiprocessing.get_context("fork").Pool(C.nproc()) as pool:
            res = pool.map(_gen_part, jobs)
            pool.close()
            pool.join()
        summary = {"n": sum(r["n"] for r in res),
                   "kept": sum(r["kept"] for r in res),
                   "hits": {}}
        for r in res:
            for k, v in r["hits"].items():
                summary["hits"][k] = summary["hits"].get(k, 0) + v
        with open(done + ".tmp", "w") as fh:
            json.dump(summary, fh)
        os.replace(done + ".tmp", done)
    with open(done) as fh:
        return data, json.load(fh)


def part_files(input_dir: str) -> list[str]:
    return sorted(
        os.path.join(input_dir, f) for f in os.listdir(input_dir)
        if f.endswith(".parquet")
    )


# ---------------------------------------------------------------------------
# correctness gate
# ---------------------------------------------------------------------------

def sink_column(pages_out: str, col: str):
    import pyarrow.dataset as ds

    return ds.dataset(pages_out, format="parquet", partitioning="hive") \
        .to_table(columns=[col]).column(col)


def check_job(out: str, oracle: dict, observed: dict | None) -> tuple[list[str], int]:
    """Compare a finished CLI job's outputs with the oracle.
    -> (list of failed checks, model_error rows in the sink)."""
    with open(os.path.join(out, "analysis_results.json")) as fh:
        summary = json.load(fh)
    bad = []
    if summary["total_docs"] != oracle["n"]:
        bad.append(f"total_docs {summary['total_docs']} != {oracle['n']}")
    if summary["kept"] != oracle["kept"]:
        bad.append(f"kept {summary['kept']} != oracle {oracle['kept']}")
    hits = {r["rule"]: r["hits"] for r in summary["rules"]}
    for rule, want in oracle["hits"].items():
        if hits.get(rule) != want:
            bad.append(f"{rule} hits {hits.get(rule)} != oracle {want}")
    errors = sink_column(os.path.join(out, "pages_out"), "model_error")
    n_err = len(errors) - errors.null_count
    if len(errors) != oracle["n"]:
        bad.append(f"sink rows {len(errors)} != input docs {oracle['n']}")
    if observed is not None:
        want_obs = {"n_docs": oracle["n"], "n_keep": summary["kept"],
                    "n_model_errors": n_err}
        if observed != want_obs:
            bad.append(f"sink_counters {observed} != sink {want_obs}")
    return bad, n_err


@contextlib.contextmanager
def observed_counters(box: dict):
    """Record the `sink_counters` Observation of the CLI's materialize call
    (main.main keeps the result local, so wrap the module function)."""
    from rsmetacheck_spark.plans import pipeline

    orig = pipeline.materialize

    def wrapped(*a, **kw):
        res = orig(*a, **kw)
        box["observed"] = res.observed
        return res

    pipeline.materialize = wrapped
    try:
        yield box
    finally:
        pipeline.materialize = orig


def run_cli(inputs: list[str], out: str) -> None:
    import main as M

    argv = ["--input", *inputs, "--output", out, "--cpus", str(C.nproc())]
    with contextlib.redirect_stdout(io.StringIO()):  # the CLI prints a summary
        M.main(argv)


# ---------------------------------------------------------------------------
# workload
# ---------------------------------------------------------------------------

class PagesWorkload:
    def __init__(self, name: str, run_dir: str, cache: str, seed: int):
        self.run_dir = run_dir
        self.input_dir, self.oracle = make_input(cache, seed, N_DOCS)
        self.k = 0

    def _out(self) -> str:
        self.k += 1
        return os.path.join(self.run_dir, f"out{self.k}")

    def setup(self, spark) -> None:
        """Warm-up: two CLI jobs, over a quarter of the input and then all
        of it. They spawn the Python workers, build their models and
        compile the JVM side of every stage; users pay this once per
        process, so it counts in setup_s (README.md, "Warm-up policy")."""
        self.spark = spark
        files = part_files(self.input_dir)
        for inputs in (files[: max(1, len(files) // 4)], [self.input_dir]):
            out = self._out()
            run_cli(inputs, out)
            shutil.rmtree(out, ignore_errors=True)

    def job(self, out: str) -> tuple[float, dict | None]:
        """One timed CLI job. -> (seconds, sink_counters observation)."""
        box: dict = {}
        with observed_counters(box):
            t = time.perf_counter()
            run_cli([self.input_dir], out)
            dt = time.perf_counter() - t
        return dt, box.get("observed")

    def measure(self, seconds: float) -> dict:
        """Closed loop: one CLI job at a time, round(seconds / JOB_S) jobs
        (at least one). A fixed count, not a deadline, so every run and
        every commit does the same work."""
        times, failed, errors, rows, checks = [], 0, 0, 0, []
        n_jobs = max(1, round(seconds / JOB_S))
        while len(times) < n_jobs:
            out = self._out()
            try:
                dt, observed = self.job(out)
                bad, n_err = check_job(out, self.oracle, observed)
                if observed is None:  # the wrapper saw no materialize call
                    bad.append("no sink_counters observation")
            except Exception as exc:  # a crashed job fails the gate
                dt, bad, n_err = None, [C.brief(exc)], 0
            shutil.rmtree(out, ignore_errors=True)
            rows += self.oracle["n"]
            errors += n_err if not bad else self.oracle["n"]
            if bad:
                failed += 1
                checks.extend(bad)
                break
            times.append(dt)
        return {
            "attempted": len(times) + failed, "failed": failed,
            "checks_failed": checks, "job_s": times,
            "wall_s": sum(times) / len(times) if times else 0.0,
            "ok_frac": 1.0 - errors / rows,
        }

    # -- traced run ------------------------------------------------------

    def traced(self, tr: C.Tracer) -> dict:
        """The CLI job as a chain of layer calls under one "job" span, each
        call under its own span and job description and run from this
        thread. Intermediates go to scratch parquet, so each layer's work
        runs inside its own span. Then, as a separate root span, the
        `--resume` path over a copy of a killed run."""
        from pyspark.sql import functions as F

        from rsmetacheck_spark import thresholds as TH
        from rsmetacheck_spark.operators.metrics import (
            host_metrics_table, lineage_table, rule_metrics_table)
        from rsmetacheck_spark.operators.model_stage import apply_model_stage
        from rsmetacheck_spark.operators.report import (
            per_doc_reports, summary_report)
        from rsmetacheck_spark.operators.verdicts import with_findings
        from rsmetacheck_spark.plans.pipeline import (
            OUTPUT_COLS, decode_from_sink, encode_for_sink, read_pages)
        from rsmetacheck_spark.sources.tables import write_table

        spark = self.spark
        out = self._out()
        scratch = C.fresh_dir(os.path.join(self.run_dir, "scratch"))
        with tr.span("job"):
            with tr.span("sources.scan", jvm_rchar=C.jvm_rchar()) as scan:
                read_pages(spark, self.input_dir).select(
                    "url", "warc_ts", "html"
                ).write.format("noop").mode("overwrite").save()
                # Spark's task input metrics count only a small part of a
                # local parquet scan (footers), so take the JVM's read(2)
                # bytes over the span instead
                scan["jvm_rchar"] = C.jvm_rchar() - scan["jvm_rchar"]
            with tr.span("operators.model_stage"):
                apply_model_stage(
                    read_pages(spark, self.input_dir)
                    .select("url", "warc_ts", "html")
                ).write.parquet(os.path.join(scratch, "model"))
            with tr.span("operators.verdicts"):
                v = with_findings(
                    spark.read.parquet(os.path.join(scratch, "model")))
                v.withColumn("bucket", F.pmod(
                    F.xxhash64("url"), F.lit(TH.N_BUCKETS)).cast("int")
                ).select(*OUTPUT_COLS).write.parquet(
                    os.path.join(scratch, "verdicts"))
            with tr.span("sources.tables.write"):
                verdicts = spark.read.parquet(os.path.join(scratch, "verdicts"))
                write_table(
                    encode_for_sink(verdicts).repartition(
                        TH.N_BUCKETS, "bucket"),
                    os.path.join(out, "pages_out"), partition_by=("bucket",))
            pages_out = decode_from_sink(spark.read.schema(
                verdicts.schema).parquet(os.path.join(out, "pages_out")))
            with tr.span("operators.metrics"):
                write_table(rule_metrics_table(pages_out),
                            os.path.join(out, "metrics"))
                write_table(lineage_table(pages_out, "bench"),
                            os.path.join(out, "lineage"))
                write_table(host_metrics_table(pages_out),
                            os.path.join(out, "host_metrics"))
            with tr.span("operators.report"):
                write_table(per_doc_reports(pages_out),
                            os.path.join(out, "reports"),
                            partition_by=("bucket",))
                write_summary(spark, out, pages_out)
        # untraced, outside every span: outputs and counts for the layers
        bad, n_err = check_job(out, self.oracle, None)
        sink = os.path.join(out, "pages_out")
        ext = sink_column(sink, "extracted_text")
        with open(os.path.join(out, "analysis_results.json")) as fh:
            kept = json.load(fh)["kept"]
        info = {
            "sink_rows": len(ext),
            "sparse_text_frac": ext.null_count / max(len(ext), 1),
            "files_written": C.dir_stats(sink)[0],
            "report_bytes": C.dir_stats(os.path.join(out, "reports"))[1],
            "keep_frac": kept / max(len(ext), 1),
            "model_errors": n_err,
        }
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)
        info.update(self.traced_resume(tr))
        info["checks_failed"] = bad + info.pop("resume_checks_failed")
        return info

    def traced_resume(self, tr: C.Tracer) -> dict:
        """The `--resume` path (`resume_materialize`) over an output dir
        holding half the buckets of a killed run, made untimed with
        `fail_after_groups`. The resumed output must reach the oracle's
        values, as a straight run does."""
        import inspect

        from rsmetacheck_spark import thresholds as TH
        from rsmetacheck_spark.plans.pipeline import read_pages
        from rsmetacheck_spark.streaming.incremental import (
            load_done, read_resumed, resume_materialize)

        spark = self.spark
        out = self._out()
        try:
            resume_materialize(spark, read_pages(spark, self.input_dir), out,
                               fail_after_groups=RESUME_DONE_GROUPS)
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                raise
        skipped = len(load_done(out))
        group_size = inspect.signature(resume_materialize) \
            .parameters["group_size"].default
        rows_done = len(sink_column(os.path.join(out, "pages_out"), "url"))
        with tr.span("streaming.incremental"):
            resume_materialize(spark, read_pages(spark, self.input_dir), out)
        write_summary(spark, out, read_resumed(spark, out))
        bad, _ = check_job(out, self.oracle, None)
        shutil.rmtree(out, ignore_errors=True)
        return {
            "resume_checks_failed": [f"resume: {b}" for b in bad],
            "buckets_skipped": skipped,
            "groups": -(-(TH.N_BUCKETS - skipped) // group_size),
            "rows_filtered_frac": rows_done / self.oracle["n"],
        }

    def layer_metrics(self, tr: C.Tracer, ev: dict, info: dict) -> dict:
        def e(desc, key):
            return ev.get(desc, {}).get(key, 0.0)

        ms, w = "operators.model_stage", "sources.tables.write"
        inc = "streaming.incremental"
        return {
            "sources.scan.wall_s": tr.wall("sources.scan"),
            "sources.scan.bytes_read": sum(
                s["jvm_rchar"] for s in tr.spans
                if s["name"] == "sources.scan"),
            f"{ms}.wall_s": tr.wall(ms),
            f"{ms}.executor_run_s": e(ms, "run_s"),
            f"{ms}.executor_cpu_s": e(ms, "cpu_s"),
            f"{ms}.gc_s": e(ms, "gc_s"),
            f"{ms}.rows_out": info["sink_rows"],
            f"{ms}.error_frac": info["model_errors"] / info["sink_rows"],
            "operators.verdicts.wall_s": tr.wall("operators.verdicts"),
            "operators.verdicts.executor_run_s":
                e("operators.verdicts", "run_s"),
            "operators.verdicts.executor_cpu_s":
                e("operators.verdicts", "cpu_s"),
            "operators.verdicts.keep_frac": info["keep_frac"],
            f"{w}.wall_s": tr.wall(w),
            f"{w}.shuffle_write_bytes": e(w, "shuffle_write_bytes"),
            f"{w}.bytes_written": e(w, "bytes_written"),
            f"{w}.files_written": info["files_written"],
            f"{w}.spill_bytes": e(w, "spill_bytes"),
            f"{w}.sparse_text_frac": info["sparse_text_frac"],
            "operators.metrics.wall_s": tr.wall("operators.metrics"),
            "operators.metrics.shuffle_bytes":
                e("operators.metrics", "shuffle_write_bytes"),
            "operators.report.wall_s": tr.wall("operators.report"),
            "operators.report.bytes_written": info["report_bytes"],
            f"{inc}.groups": info["groups"],
            f"{inc}.group_wall_s": tr.wall(inc) / info["groups"],
            f"{inc}.buckets_skipped": info["buckets_skipped"],
            f"{inc}.rows_filtered_frac": info["rows_filtered_frac"],
        }


def write_summary(spark, out: str, pages_out) -> None:
    """The CLI's summary file, from the metrics table and two counts."""
    from rsmetacheck_spark.operators.metrics import rule_metrics_table
    from rsmetacheck_spark.operators.report import summary_report

    summary = summary_report(rule_metrics_table(pages_out),
                             pages_out.count(),
                             pages_out.filter("keep").count())
    with open(os.path.join(out, "analysis_results.json"), "w") as fh:
        fh.write(summary)


def fused_stage_split(input_dir: str) -> dict[str, float]:
    """In this process, one core: microseconds per doc of each call the fused
    model stage makes, over the first SUBOP_SAMPLE docs of the input."""
    import pyarrow.parquet as pq

    from rsmetacheck_spark.functions.pytext import text_stats, tokenize
    from rsmetacheck_spark.operators.extract import extract_text
    from rsmetacheck_spark.operators.langid import get_model as get_langid
    from rsmetacheck_spark.operators.perplexity import get_model as get_ppl
    from rsmetacheck_spark.operators.scrub import scrub_text

    html = pq.read_table(part_files(input_dir)[0], columns=["html"]) \
        .column("html").to_pylist()[:SUBOP_SAMPLE]
    langid, ppl = get_langid(), get_ppl()
    out: dict[str, float] = {}

    def timed(name, fn, args_list):
        t = time.perf_counter()
        res = [fn(*a) for a in args_list]
        out[name] = (time.perf_counter() - t) / len(args_list) * 1e6
        return res

    texts = timed("extract", extract_text, [(h,) for h in html])
    toks = timed("tokenize", tokenize, [(t,) for t in texts])
    timed("langid", langid.predict_top2, [(t,) for t in texts])
    timed("perplexity", ppl.log_ppl, list(zip(texts, toks)))
    timed("scrub", scrub_text, [(t,) for t in texts])
    timed("text_stats", text_stats, list(zip(texts, toks)))
    return {f"operators.model_stage.{k}.us_per_doc": v for k, v in out.items()}
