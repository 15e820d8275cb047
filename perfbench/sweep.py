"""Registry sweep: a fixed, family-covering list of `queries.REGISTRY`
entries, run once each in sorted order as `fn(spark, sf_dir).count()`.

The tables are a copy of the project's fixed sf0.001 test tables, kept in
this directory; the seed does not change them. Each query's expected row
count is its `oracle_sql()` run on DuckDB over the same files, cached
outside every timed region.
"""

from __future__ import annotations

import json
import os
import re
import time

import common as C

# every 16th name in sorted order from the 5th on, plus each family's first
# name: 16 of the 130 queries, a pass of about 17 s on 4 cores. The full
# registry takes about 100 s even at this scale, more than one run allows.
STRIDE, OFFSET = 16, 4
# passes over the list in a timed run: this host's speed swings on a scale
# of seconds to minutes, and a longer timed region averages more of it
PASSES = 2


def sweep_names() -> list[str]:
    """Sorted order (as bench.py), so shared feeder checkpoints are built by
    the same query every run. Every family is present."""
    from rsmetacheck_spark.queries import REGISTRY

    names = sorted(REGISTRY)
    return sorted(set(names[OFFSET::STRIDE]) | set(firsts(names)))


def firsts(names: list[str]) -> list[str]:
    """The first name of each family, in sorted order."""
    seen: dict[str, str] = {}
    for n in sorted(names):
        seen.setdefault(family(n), n)
    return sorted(seen.values())


def family(name: str) -> str:
    return re.match(r"[a-z]+", name).group(0)


def warmup_names() -> list[str]:
    """Two queries outside the sweep, a relational one and a streaming one,
    so the first JVM compilation and the stream start-up land in setup_s.
    (A warm-up pass over each family's first query made the timed pass
    steadier but cost 24 s of every run, which the run budget lacks.)"""
    from rsmetacheck_spark.queries import REGISTRY

    pick = set(sweep_names())
    rest = [n for n in sorted(REGISTRY) if n not in pick]
    return [next(n for n in rest if family(n) == fam) for fam in ("q", "st")]


def clear_query_caches() -> None:
    """Forget the session-local feeder memos, so a pass builds its shared
    checkpoints as a fresh process would."""
    from rsmetacheck_spark import queries

    for cache in (queries._CKPT_CACHE, queries._UNIT_MAT_CACHE,
                  queries._ASG_CACHE):
        cache.clear()


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------

# a copy of the project's fixed sf0.001 test tables (TESTDATA.md), which the
# tests also read; the seed does not change them
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.001")


def oracle_counts(sf_dir: str, names: list[str]) -> dict[str, int]:
    """Row count of each query's oracle SQL on DuckDB over the same files."""
    import duckdb

    from rsmetacheck_spark.queries import REGISTRY

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, f)}'")
    return {n: con.sql(f"SELECT count(*) FROM ({REGISTRY[n][1]})")
            .fetchone()[0] for n in names}


def oracle_for(cache: str) -> dict[str, int]:
    """Oracle row count per query of the sweep, cached; a changed query
    list computes only the new ones."""
    path = os.path.join(cache, "sweep_oracle.json")
    counts: dict[str, int] = {}
    if os.path.exists(path):
        with open(path) as fh:
            counts = json.load(fh)
    missing = sorted(set(sweep_names()) - set(counts))
    if missing:
        counts.update(oracle_counts(TABLES, missing))
        with open(path + ".tmp", "w") as fh:
            json.dump(counts, fh)
        os.replace(path + ".tmp", path)
    return counts


# ---------------------------------------------------------------------------
# workload
# ---------------------------------------------------------------------------

class SweepWorkload:
    def __init__(self, name: str, run_dir: str, cache: str, seed: int):
        self.run_dir = run_dir
        self.sf_dir, self.oracle = TABLES, oracle_for(cache)
        self.names = sweep_names()

    def setup(self, spark) -> None:
        from rsmetacheck_spark.queries import REGISTRY

        self.spark = spark
        for n in warmup_names():
            REGISTRY[n][0](spark, self.sf_dir).count()

    def _run(self, name: str) -> tuple[float, str | None]:
        from rsmetacheck_spark.queries import REGISTRY

        t = time.perf_counter()
        try:
            n = REGISTRY[name][0](self.spark, self.sf_dir).count()
        except Exception as exc:
            return time.perf_counter() - t, f"{name}: {C.brief(exc)}"
        dt = time.perf_counter() - t
        want = self.oracle[name]
        return dt, (None if n == want else f"{name}: {n} rows != oracle {want}")

    def measure(self, seconds: float) -> dict:
        """PASSES passes over the fixed list, whatever `seconds` says: a
        time-cut list would change the query mix run to run. Each pass
        clears the feeder memos first, so every pass does the same work."""
        passes, checks = [], []
        for _ in range(PASSES):
            clear_query_caches()
            times = {}
            for name in self.names:
                times[name], bad = self._run(name)
                if bad:
                    checks.append(bad)
            passes.append(times)
        vals = [t for times in passes for t in times.values()]
        return {
            "attempted": len(vals), "failed": len(checks),
            "checks_failed": checks, "query_s": passes,
            "wall_s": sum(vals) / len(vals),
            "ok_frac": 1.0 - len(checks) / len(vals),
        }

    def traced(self, tr: C.Tracer) -> dict:
        """Each query under a span named after it; scratch checkpoints
        (`rsmc_ckpt_*` under TMPDIR) counted per query."""
        import tempfile

        tmp = tempfile.gettempdir()

        def ckpts():
            return {f for f in os.listdir(tmp) if f.startswith("rsmc_ckpt_")}

        clear_query_caches()
        before = ckpts()
        checks = []
        with tr.span("job"):
            for name in self.names:
                with tr.span(f"queries.{name}", family=family(name)):
                    _dt, bad = self._run(name)
                if bad:
                    checks.append(bad)
        built = ckpts() - before
        nbytes = sum(C.dir_stats(os.path.join(tmp, d))[1] for d in built)
        return {"checks_failed": checks, "ckpt_builds": len(built),
                "ckpt_bytes": nbytes}

    def layer_metrics(self, tr: C.Tracer, ev: dict, info: dict) -> dict:
        m: dict[str, float] = {}
        for s in tr.spans:
            fam = s.get("family")
            if fam is None:
                continue
            stats = ev.get(s["name"], {})
            for key, val in (
                ("wall_s", s["end"] - s["start"]),
                ("executor_run_s", stats.get("run_s", 0.0)),
                ("executor_cpu_s", stats.get("cpu_s", 0.0)),
                ("shuffle_bytes", stats.get("shuffle_write_bytes", 0.0)),
            ):
                k = f"queries.{fam}.{key}"
                m[k] = m.get(k, 0.0) + val
        m["queries.checkpoint.builds"] = info["ckpt_builds"]
        m["queries.checkpoint.bytes"] = info["ckpt_bytes"]
        return m
