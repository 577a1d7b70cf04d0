"""Shared plumbing for the benchmark: paths, the host-sized Spark session,
the failure ledger, event-log task metrics and the result line.

Everything the benchmark writes lives under ``<checkout>/.perfbench/``
(generated inputs, Spark scratch, event logs, job outputs), so a run never
touches anything outside the checkout it was started from.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
REQUIRED = ("engine/__init__.py", "jobs/featuregen.py", "__spark_entry__.py",
            "scripts/check_oracle.py")

# Host sizing: at most 4 Spark cores (the benchmark host has 4) and an
# explicit heap. bench.get_spark defaults to a 48g driver with -Xmn24g,
# which does not fit a 15 GB host.
CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "4g"
# how long stop_processes waits for a process it started before killing it
STOP_GRACE_S = 30.0


def missing_sources() -> list[str]:
    return [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]


def prepare_env(run_dir: str) -> None:
    """Point every scratch location (JVM temp, Python temp, Spark local
    dirs) into the run directory and make ``engine`` importable by the
    Python workers Spark launches (pandas UDFs run in those workers, which
    do not inherit the driver's ``sys.path``)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() caches the first TMPDIR it saw
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # takes precedence over spark.local.dir
    # no /tmp/hsperfdata_* from any JVM Spark launches (launcher included)
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def load_module(relpath: str):
    """Import a repository script (not a package member) by its path."""
    name = os.path.splitext(os.path.basename(relpath))[0]
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def new_run_dir(workload: str) -> str:
    """A fresh per-run scratch directory; earlier runs' scratch is removed
    (generated inputs live in the separate, seed-keyed input cache)."""
    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    d = os.path.join(runs, f"{workload}-{os.getpid()}")
    os.makedirs(d)
    return d


def evict(parent: str, keep: int) -> None:
    """Keep only the ``keep`` most recently used entries of an input cache."""
    if not os.path.isdir(parent):
        return
    entries = sorted(
        (os.path.join(parent, e) for e in os.listdir(parent)),
        key=os.path.getmtime, reverse=True,
    )
    for e in entries[keep:]:
        shutil.rmtree(e, ignore_errors=True)


def spark_session(run_dir: str, app: str, event_log: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{CORES}]")
        .config("spark.driver.memory", HEAP)
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -XX:ActiveProcessorCount={CORES} "
            f"-Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # set either way: the builder keeps options across sessions of a process
    b = b.config("spark.eventLog.enabled", str(event_log).lower())
    if event_log:
        # uncompressed: the zstd codec's Python reader is not installed here
        d = os.path.join(run_dir, "eventlog")
        os.makedirs(d, exist_ok=True)
        b = b.config("spark.eventLog.dir", "file://" + d).config("spark.eventLog.compress", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM (``VmHWM``)."""
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def proc_table() -> dict[int, tuple[int, int, int, str]]:
    """``pid -> (ppid, cpu ticks, start time in ticks, state)`` of every
    process; cpu ticks are utime + stime + the same for reaped children."""
    stats = {}
    for e in os.listdir("/proc"):
        if e.isdigit():
            try:
                with open(f"/proc/{e}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(e)] = (int(f[1]), sum(int(x) for x in f[11:15]), int(f[19]), f[0])
    return stats


def descendants(stats: dict, pid: int) -> set[int]:
    """``pid`` and every process below it in ``stats``."""
    tree, todo = set(), [pid]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo += [c for c, s in stats.items() if s[0] == p and c not in tree]
    return tree


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by ``pid`` and its live
    descendants (Spark's Python worker daemon and workers), plus this
    Python process, which builds the plans."""
    stats = proc_table()
    own = os.times()
    return (sum(stats[p][1] for p in descendants(stats, pid) if p in stats)
            / os.sysconf("SC_CLK_TCK") + own.user + own.system)


def stop_processes() -> None:
    """Stop the Spark session and every process this one started — the
    Spark JVM, Spark's Python worker daemon and its workers — and wait until
    each has ended. ``spark.stop()`` alone leaves the JVM running until it
    notices its stdin close, which is after this process has exited. What is
    still running after ``STOP_GRACE_S`` is killed."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    me = os.getpid()
    stats = proc_table()
    started = {p: stats[p][2] for p in descendants(stats, me) - {me}}
    session = SparkSession.getActiveSession()
    try:
        if session is not None:
            session.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Exception:
        traceback.print_exc()
    gateway = SparkContext._gateway
    SparkContext._gateway = SparkContext._jvm = None  # a later session starts a new JVM
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            traceback.print_exc()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=STOP_GRACE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + STOP_GRACE_S
    while True:
        now = proc_table()
        # the same process (pid and start time) and not yet a zombie
        live = [p for p, t in started.items() if p in now and now[p][2] == t and now[p][3] != "Z"]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


class Clock:
    """Wall and CPU seconds (``tree_cpu_s``) of one timed region."""

    def __init__(self, pid: int):
        self.pid = pid
        self.wall = self.cpu = 0.0

    def __enter__(self) -> "Clock":
        self._w, self._c = time.perf_counter(), tree_cpu_s(self.pid)
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._w
        self.cpu = tree_cpu_s(self.pid) - self._c


def noop(df) -> None:
    """Execute a frame in full without collecting it."""
    df.write.mode("overwrite").format("noop").save()


def now_ms() -> int:
    return int(time.time() * 1000)


class Ledger:
    """Counts attempted and failed operations (timed units and output
    checks) and keeps the name of every failure.

    ``known`` names checks recorded as known engine failures: they still
    count in ``failed`` (and so in ``failed_frac``) and are printed, but do
    not turn ``correct`` false."""

    def __init__(self, known: frozenset[str] = frozenset()):
        self.known = known
        self.attempted = 0
        self.failures: list[str] = []
        self.lines: list[str] = []

    def run(self, name: str, fn) -> tuple[bool, object]:
        """Run one operation: ``(True, result)``, or ``(False, None)`` with
        the operation counted as failed when it raises."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:
            self.failures.append(name)
            self.lines.append(f"FAIL  {name}: {traceback.format_exc(limit=3).strip()}")
            return False, None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(name)
        tag = "ok   " if ok else ("KNOWN" if name in self.known else "FAIL ")
        self.lines.append(f"{tag} check {name}" + (f": {detail}" if detail else ""))
        return ok

    @property
    def correct(self) -> bool:
        return all(f in self.known for f in self.failures)


class Spans:
    """Named wall-clock spans of the traced run. Task metrics are joined to
    a span by task launch time after the session stops."""

    def __init__(self):
        self.spans: dict[str, tuple[int, int]] = {}

    def time(self, name: str, fn):
        t0, p0 = now_ms(), time.perf_counter()
        out = fn()
        self.spans[name] = (t0, now_ms())
        return out, time.perf_counter() - p0


def task_metrics(event_dir: str, spans: dict[str, tuple[int, int]]) -> dict[str, dict]:
    """Σ task metrics per span from the (stopped) session's event log.

    A task belongs to the span its launch time falls in. ``task_skew`` is
    max ÷ median task run time within the span."""
    acc = {
        n: {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "input_mb": 0.0, "run_ms": []}
        for n in spans
    }
    logs = sorted(os.path.join(r, f) for r, _d, fs in os.walk(event_dir) for f in fs
                  if not f.startswith("."))
    for path in logs:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                tm = ev.get("Task Metrics") or {}
                launch = (ev.get("Task Info") or {}).get("Launch Time", 0)
                for n, (t0, t1) in spans.items():
                    if tm and t0 <= launch <= t1:
                        a = acc[n]
                        a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                        a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                        a["shuffle_write_mb"] += (
                            (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                        )
                        a["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                        a["input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
                        a["run_ms"].append(tm.get("Executor Run Time", 0))
    for a in acc.values():
        runs = a.pop("run_ms")
        med = statistics.median(runs) if runs else 0
        a["task_skew"] = max(runs) / med if med else 0.0
        a["tasks"] = len(runs)
    return acc


class Part:
    """What one workload part measured: its timed work (wall and CPU), its
    own set-up (on top of the session start), the JVM's peak RSS read right
    after its timed work (before its output checks) and its per-layer
    metrics. ``TASK_LAYERS`` in the part's module maps further per-layer
    metrics onto span task sums."""

    def __init__(self, work_s: float, work_cpu_s: float, setup_s: float, rss_mb: float,
                 layers: dict):
        self.work_s, self.work_cpu_s = work_s, work_cpu_s
        self.setup_s, self.rss_mb, self.layers = setup_s, rss_mb, layers


def session_multiset_sql(probes_sql: str, gap_us: int) -> str:
    """DuckDB: the tie-insensitive columns of a feature output —
    ``(doc_id, asof_ts, session_id, n_tok, source)`` — from the probes it was
    computed for (``probes_sql`` yields doc_id, asof_ts, n_tok, source).
    session_id follows engine.window_ops.sessionize: per-entity ordinal from
    1, a new session when the gap to the previous probe exceeds ``gap_us``.
    The RANGE frame gives tied probes one id whatever their order."""
    return f"""
WITH p AS ({probes_sql}),
g AS (SELECT *, CASE WHEN lag(asof_ts) OVER w IS NULL
                       OR epoch_us(asof_ts) - epoch_us(lag(asof_ts) OVER w) > {gap_us}
                     THEN 1 ELSE 0 END AS is_new
      FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY asof_ts))
SELECT doc_id, asof_ts,
       CAST(sum(is_new) OVER (PARTITION BY doc_id ORDER BY asof_ts
                              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS session_id,
       n_tok, source
FROM g
"""


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def median(xs) -> float:
    return float(statistics.median(xs))


def emit(ledger: Ledger, metrics: dict[str, tuple[float, str]]) -> None:
    """Print the report lines, then the one-line JSON result (last line)."""
    for line in ledger.lines:
        print(line)
    frac = len(ledger.failures) / max(1, ledger.attempted)
    print(f"failed_frac {frac:.4f} ({len(ledger.failures)}/{ledger.attempted})"
          + (f" failures={ledger.failures}" if ledger.failures else ""))
    print(json.dumps({
        "correct": ledger.correct,
        "attempted": ledger.attempted,
        "failed": len(ledger.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
