"""Shared machinery of the benchmark: launch environment, Spark session
start and stop, the process-tree memory sampler, in-memory spans and the
event-log reader.

Everything the package would otherwise default (driver memory, core count,
scratch and local dirs, worker PYTHONPATH) is set here, before the JVM
starts, so the package itself stays untouched.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_PERIOD_S = 0.2   # MemSampler: seconds between /proc samples
STOP_TIMEOUT_S = 60.0   # stop_spark: wait for the JVM tree before killing it


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(run_dir: str, root: str, event_log_dir: str | None) -> None:
    """Launch hygiene. Must run before pyspark launches its JVM: the JVM and
    its Python workers inherit this environment.

    - PYTHONPATH: workers unpickle package functions and must import
      `rsmetacheck_spark` even when the benchmark is started from elsewhere.
    - SPARK_DRIVER_MEM: the package default (16g) exceeds small hosts.
    - SPARK_GRAFT_CPUS: the package default is 32; use this host's cores.
    - SPARK_LOCAL_DIRS / TMPDIR / java.io.tmpdir: fresh per run and inside
      the run dir, so shuffle files and `rsmc_ckpt_*` scratch stay there.
    - The event log (traced runs only) is uncompressed and unrolled, which
      the stdlib reader below needs; Spark 4.1 defaults to zstd + rolling.
    """
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.pop("RSMC_THRESHOLD_OVERRIDES", None)
    # every JVM, the spark-submit launcher too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = {"spark.ui.showConsoleProgress": "false"}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = args + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


def start_spark():
    from rsmetacheck_spark.session import get_spark

    # the CLI's own app name and settings: main.main()'s get_spark call then
    # finds this session instead of starting a second one
    spark = get_spark("rsmetacheck_main", cores=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_rchar() -> int:
    """Bytes the Spark JVM has read through read(2) and friends so far."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/io") as fh:
        return next(int(line.split()[1]) for line in fh
                    if line.startswith("rchar:"))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for every process
    of the JVM's tree (the JVM, the Python daemon and its workers) to exit."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    tree = [proc.pid] + descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(STOP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + STOP_TIMEOUT_S
    while time.time() < deadline and any(alive(p) for p in tree):
        time.sleep(0.1)
    for p in tree:
        if alive(p):
            try:
                os.kill(p, 9)
            except OSError:
                pass


# ---------------------------------------------------------------------------
# peak memory over the process tree
# ---------------------------------------------------------------------------

def alive(pid: int) -> bool:
    """True while `pid` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] not in "ZX"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


# programs whose memory counts: this process, the JVM, the Python daemon and
# its workers. Short-lived forks of the JVM (named after the forking
# thread, e.g. "Executor task l") and helpers such as jspawnhelper or chmod
# briefly map the JVM's pages and would count them twice.
COUNTED = ("java", "python", "python3")


def tree_rss_bytes(pid: int) -> dict[str, int]:
    """RSS of `pid` and its descendants, summed per program name, for the
    programs in COUNTED."""
    out: dict[str, int] = {}
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read().strip()
            if comm not in COUNTED:
                continue
            with open(f"/proc/{p}/statm") as fh:
                rss = int(fh.read().split()[1]) * PAGE
        except OSError:
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


class MemSampler:
    """Samples the summed RSS of this process and all its descendants
    (the JVM, the Python daemon and workers) every SAMPLE_PERIOD_S seconds;
    keeps the peak of the sum and, for the raw output, each program's peak."""

    def __init__(self):
        self.peak = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        mem = tree_rss_bytes(os.getpid())
        self.peak = max(self.peak, sum(mem.values()))
        for k, v in mem.items():
            self.peak_by_comm[k] = max(self.peak_by_comm.get(k, 0), v)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(SAMPLE_PERIOD_S)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent), written out at the end.
    Each span also sets the Spark job description of the calling thread,
    so event-log task metrics can be attributed to it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # perf_counter() + epoch0 = Unix time, the event log's clock
        self.epoch0 = time.time() - time.perf_counter()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part covered by its children, summed
        by name (children of one span never overlap: calls are serial)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def windows(self) -> list[tuple[str, float, float]]:
        """(name, start ms, end ms) of each span, in Unix time."""
        return [(s["name"], (s["start"] + self.epoch0) * 1e3,
                 (s["end"] + self.epoch0) * 1e3) for s in self.spans]

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        t = self.tracer
        self.rec = {
            "id": len(t.spans), "name": self.name,
            "parent": t._stack[-1] if t._stack else None,
            "start": time.perf_counter(), "end": None, **self.attrs,
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        if t.sc is not None:
            t.sc.setJobDescription(self.name)
        return self.rec

    def __exit__(self, *exc):
        t = self.tracer
        self.rec["end"] = time.perf_counter()
        t._stack.pop()
        if t.sc is not None:
            parent = t.spans[t._stack[-1]]["name"] if t._stack else None
            t.sc.setJobDescription(parent)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

TASK_FIELDS = {
    "run_s": ("Executor Run Time", 1e-3),
    "cpu_s": ("Executor CPU Time", 1e-9),
    "gc_s": ("JVM GC Time", 1e-3),
    "spill_bytes": ("Disk Bytes Spilled", 1),
}


def span_at(windows: list[tuple[str, float, float]], t_ms: float) -> str | None:
    """Name of the innermost (latest started) span open at `t_ms`."""
    best = None
    for name, lo, hi in windows:
        if lo <= t_ms <= hi and (best is None or lo >= best[1]):
            best = (name, lo)
    return best and best[0]


def read_event_log(log_dir: str, windows: list[tuple[str, float, float]] = ()
                   ) -> dict[str, dict[str, float]]:
    """Sum task-end metrics per job description: executor run time, CPU,
    GC, bytes read/written, shuffle read/write and spill. Stages are
    attributed through the description on their StageSubmitted event. A
    stage whose description names no span in `windows` (Tracer.windows())
    goes to the innermost span open when it was submitted: a streaming
    query's micro-batches run under a description of their own
    ("<query name>\nid = ...\nbatch = N"), on the stream's thread."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    names = {w[0] for w in windows}
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    info = ev["Stage Info"]
                    desc = props.get("spark.job.description") or "-"
                    if desc not in names and "Submission Time" in info:
                        desc = span_at(windows, info["Submission Time"]) or desc
                    stage_desc[info["Stage ID"]] = desc
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = out.setdefault(
                        stage_desc.get(ev["Stage ID"], "-"),
                        {k: 0.0 for k in (
                            "tasks", "run_s", "cpu_s", "gc_s", "spill_bytes",
                            "bytes_read", "bytes_written",
                            "shuffle_read_bytes", "shuffle_write_bytes")},
                    )
                    acc["tasks"] += 1
                    for key, (field, scale) in TASK_FIELDS.items():
                        acc[key] += m.get(field, 0) * scale
                    acc["bytes_read"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    acc["bytes_written"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    acc["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return out


# ---------------------------------------------------------------------------
# small helpers
# ---------------------------------------------------------------------------

def brief(exc: BaseException) -> str:
    """Exception class and the first line of its message."""
    first = (str(exc).strip().splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first[:300]}"


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of data files under `path`."""
    n = b = 0
    for dp, _dn, fns in os.walk(path):
        for f in fns:
            if f.endswith(suffix):
                n += 1
                b += os.path.getsize(os.path.join(dp, f))
    return n, b
