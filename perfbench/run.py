"""Benchmark entry point.

    python3 perfbench/run.py --workload pages_html --seed 1 --seconds 18 --trace 0

Run from the repository root. Prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics (layers a workload does not run read 0). Exits 1 when the
correctness gate fails and 2 when the program under test is missing.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("pages_html", "registry_sweep")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def workload(name: str, run_dir: str, cache: str, seed: int):
    if name == "registry_sweep":
        from sweep import SweepWorkload

        return SweepWorkload(name, run_dir, cache, seed)
    from pages import PagesWorkload

    return PagesWorkload(name, run_dir, cache, seed)


def run_untraced(w, seconds: float) -> tuple[dict, dict]:
    import common as C

    with C.MemSampler() as mem:
        t0 = time.perf_counter()
        spark = C.start_spark()
        session_s = time.perf_counter() - t0
        w.setup(spark)
        setup_s = time.perf_counter() - t0
        res = w.measure(seconds)
    C.stop_spark(spark)
    res["session_s"] = session_s
    res["peak_rss_mb_by_program"] = {
        k: v / 2**20 for k, v in mem.peak_by_comm.items()}
    metrics = {
        "setup_s": setup_s,
        "wall_s": res["wall_s"],
        "peak_rss_mb": mem.peak_mb,
        "ok_frac": res["ok_frac"],
    }
    return metrics, res


def pass_seconds(res: dict) -> list[float]:
    """Untraced times of the work the traced run repeats, in run order:
    each CLI job, or each pass over the sweep's queries."""
    if "query_s" in res:
        return [sum(p.values()) for p in res["query_s"]]
    return res["job_s"]


def run_traced(w, name: str, event_dir: str, trace_out: str) -> tuple[dict, dict]:
    """The workload's work as a chain of spans, between two untraced runs
    of the same work that give the overhead baseline. Executor metrics come
    from the event log, read after the session stops."""
    import common as C

    tr = C.Tracer()
    with tr.span("session.start"):
        spark = C.start_spark()
    tr.sc = spark.sparkContext
    w.setup(spark)
    # A-B-A: untraced passes, traced pass, untraced passes; the overhead is
    # measured against the mean of the two untraced passes next to it
    before = w.measure(0)
    info = w.traced(tr)
    after = w.measure(0)
    near = pass_seconds(before)[-1:] + pass_seconds(after)[:1]
    base_total = sum(near) / len(near) if len(near) == 2 else 0.0
    tr.sc = None
    C.stop_spark(spark)
    ev = C.read_event_log(event_dir, tr.windows())
    layers = w.layer_metrics(tr, ev, info)
    layers["session.start_s"] = tr.wall("session.start")
    layers["trace.overhead_frac"] = (
        tr.wall("job") / base_total - 1.0 if base_total else 0.0)
    layers["trace.unattributed_frac"] = (
        tr.self_times()["job"] / tr.wall("job"))
    if name != "registry_sweep":
        import pages

        layers.update(pages.fused_stage_split(w.input_dir))
    tr.dump(trace_out, event_log=ev)
    res = {
        "attempted": before["attempted"] + after["attempted"] + 1,
        "failed": before["failed"] + after["failed"]
        + (1 if info["checks_failed"] else 0),
        "checks_failed": before["checks_failed"] + after["checks_failed"]
        + info["checks_failed"],
        "span_self_s": tr.self_times(),
    }
    return layers, res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "main.py"))
            and os.path.isdir(os.path.join(ROOT, "rsmetacheck_spark"))):
        print("perfbench: main.py / rsmetacheck_spark not found next to "
              f"{HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    import common as C

    cache = os.path.join(WORK, "cache")
    run_dir = C.fresh_dir(os.path.join(WORK, f"run-{os.getpid()}"))
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    C.configure_env(run_dir, ROOT, event_dir)
    os.makedirs(cache, exist_ok=True)
    try:
        w = workload(args.workload, run_dir, cache, args.seed)
        if args.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            metrics, res = run_traced(
                w, args.workload, event_dir,
                os.path.join(traces, f"{args.workload}-s{args.seed}.json"))
            kind = "per_layer"
        else:
            metrics, res = run_untraced(w, args.seconds)
            kind = "end_to_end"
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec()[kind]}
    correct = not res["checks_failed"]
    print(json.dumps({"workload": args.workload, "seed": args.seed, **res},
                     default=str))
    for msg in res["checks_failed"]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
