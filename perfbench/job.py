"""featuregen_resume workload: the production job (jobs/featuregen.py) on
its synthetic corpus, killed after two committed chunks and resumed.

The job runs in this process through its ``main(argv)`` entry point, on
the benchmark's session (``SparkSession.builder.getOrCreate()`` inside the
job returns it). Launching it through ``spark-submit`` costs a fresh JVM
per launch (≥ 13 s on a 4-core host), three per cycle, which the run-time
budget of the benchmark cannot hold; ``perfbench/selftest.py`` runs the
same kill-and-resume once through ``spark-submit --py-files``. For the same
reason there is no separate uninterrupted run: the resumed output is
checked against a DuckDB computation over the job's own staged inputs
instead of against a second engine run. The fault
injection's ``os._exit(42)`` is turned into an exception for the length of
the killed run, so the job stops at the same point — right after its
second chunk commits — and the benchmark goes on.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import time

from perfbench import common as C

DOCS = 5_000
PROBES_PER_DOC = 2  # --synthetic N generates 2N probes
SESSION_GAP_US = 1_800_000_000  # the job's default --gap "30 minutes"
PARTITIONS = 8
CHUNK = 2
KILL_AFTER = 2
WIDTH = 16
CHUNK_RE = re.compile(r"^chunk \d+: pids=\[([\d, ]*)\] rows=(\d+) wall=([\d.]+)s$")


class _Exit(Exception):
    def __init__(self, code: int):
        super().__init__(f"os._exit({code})")
        self.code = code


class JobRun:
    def __init__(self, rc: int, wall: float, stdout: str, stage_wall: float):
        self.rc, self.wall, self.stdout, self.stage_wall = rc, wall, stdout, stage_wall
        self.chunks = [
            ([int(p) for p in m.group(1).split(",") if p.strip()], int(m.group(2)),
             float(m.group(3)))
            for m in map(CHUNK_RE.match, stdout.splitlines()) if m
        ]


def run_job(job, argv: list[str]) -> JobRun:
    """One job run; returns its exit code, wall, stdout and staging wall."""
    stage_wall = [0.0]
    real_stage, real_exit = job.stage_inputs, os._exit

    def timed_stage(*a, **kw):
        t0 = time.perf_counter()
        try:
            return real_stage(*a, **kw)
        finally:
            stage_wall[0] += time.perf_counter() - t0

    def fake_exit(code):
        raise _Exit(code)

    buf = io.StringIO()
    job.stage_inputs, os._exit = timed_stage, fake_exit
    t0 = time.perf_counter()
    try:
        with contextlib.redirect_stdout(buf):
            rc = job.main(argv)
    except _Exit as ex:
        rc = ex.code
    finally:
        job.stage_inputs, os._exit = real_stage, real_exit
        wall = time.perf_counter() - t0
    return JobRun(rc, wall, buf.getvalue(), stage_wall[0])


def job_argv(out: str, seed: int, docs: int, extra=()) -> list[str]:
    return ["--synthetic", str(docs), "--partitions", str(PARTITIONS),
            "--chunk-size", str(CHUNK), "--parallelism", str(WIDTH),
            "--seed", str(seed), "--output", out, *extra]


def run(spark, args, ledger: C.Ledger, run_dir: str, spans: C.Spans) -> C.Part:
    from engine.checkpoint import ParquetJournalTableIO

    job = C.load_module("jobs/featuregen.py")
    cycles = []
    cpus: list[float] = []
    start = time.perf_counter()
    while not cycles or time.perf_counter() - start < args.seconds:
        out = os.path.join(run_dir, f"job{len(cycles)}")

        def cycle():
            killed = run_job(job, job_argv(out, args.seed, DOCS,
                                           ("--kill-after-chunks", str(KILL_AFTER))))
            after_kill = ParquetJournalTableIO(out).committed_partitions()
            return killed, after_kill, run_job(job, job_argv(out, args.seed, DOCS))

        with C.Clock(C.jvm_pid(spark)) as clock:
            ok, res = ledger.run(f"featuregen.cycle{len(cycles)}",
                                 lambda: spans.time("featuregen.job", cycle)[0])
        if not ok:
            return C.Part(0.0, 0.0, 0.0, C.jvm_peak_rss_mb(spark), {})
        cycles.append((*res, out))
        cpus.append(clock.cpu)
    rss = C.jvm_peak_rss_mb(spark)
    for i, c in enumerate(cycles):
        check_cycle(ledger, f"cycle{i}", *c)
    job_walls = [k.wall + r.wall for k, _a, r, _o in cycles]
    resume_walls = [r.wall for _k, _a, r, _o in cycles]
    killed, after_kill, resumed, out = cycles[-1]
    ledger.lines.append(
        f"metric job_wall_s {C.median(job_walls):.3f} s (killed run + resume, median of "
        f"{len(cycles)}); resume_wall_s {C.median(resume_walls):.3f} s; {DOCS} docs, "
        f"{PARTITIONS} partitions, chunks of {CHUNK}, kill after {KILL_AFTER}; "
        f"staging {killed.stage_wall:.2f} s"
    )
    layers = traced_layers(killed, after_kill, resumed, out) if args.trace else {}
    return C.Part(C.median(job_walls), C.median(cpus), 0.0, rss, layers)


def check_cycle(ledger: C.Ledger, tag: str, killed: JobRun, after_kill: set, resumed: JobRun,
                out: str) -> None:
    import duckdb

    from engine.checkpoint import ParquetJournalTableIO

    ledger.check(f"{tag}.killed_exit_42", killed.rc == 42, f"rc={killed.rc}")
    ledger.check(f"{tag}.resume_exit_0", resumed.rc == 0, f"rc={resumed.rc}")
    ledger.check(f"{tag}.killed_committed_{KILL_AFTER}_chunks",
                 len(after_kill) == KILL_AFTER * CHUNK, f"{len(after_kill)} pids")
    redone = recomputed(after_kill, resumed)
    ledger.check(f"{tag}.recomputed_pids_0", not redone, f"{sorted(redone)}")
    jio = ParquetJournalTableIO(out)
    journal = jio.read_journal()
    pids = [r["partition_id"] for r in journal]
    pid_dirs = {int(e.split("=")[1]) for e in os.listdir(jio.data_dir) if e.startswith("__pid=")}
    everything = set(range(PARTITIONS))
    ledger.check(f"{tag}.every_pid_committed_once",
                 sorted(pids) == sorted(everything) and pid_dirs == everything,
                 f"{len(pids)} journal records, {len(pid_dirs)} pid dirs")
    files = jio.count_rows(pids)
    ledger.check(f"{tag}.journal_rows_eq_files",
                 all(r["metrics"]["rows_out"] == files[r["partition_id"]] for r in journal))
    cols = "doc_id, asof_ts, CAST(session_id AS BIGINT) AS session_id, n_tok, source"
    expected = C.session_multiset_sql(
        f"SELECT doc_id, asof_ts, n_tok, source FROM read_parquet('{out}/_staged/probes/**/*.parquet')",
        SESSION_GAP_US)
    actual = f"SELECT {cols} FROM read_parquet('{out}/data/**/*.parquet')"
    con = duckdb.connect()
    try:
        con.sql("SET TimeZone = 'UTC'")
        con.sql(f"CREATE VIEW expected AS {expected}")
        con.sql(f"CREATE VIEW actual AS {actual}")
        diff = con.sql("SELECT (SELECT count(*) FROM (FROM actual EXCEPT ALL FROM expected)) + "
                       "(SELECT count(*) FROM (FROM expected EXCEPT ALL FROM actual))").fetchone()[0]
        n = con.sql("SELECT count(*) FROM actual").fetchone()[0]
    finally:
        con.close()
    ledger.check(f"{tag}.resumed_eq_duckdb_from_staged_probes", diff == 0, f"{diff} rows differ")
    ledger.check(f"{tag}.rows_eq_probes", n == PROBES_PER_DOC * DOCS,
                 f"{n} vs {PROBES_PER_DOC * DOCS}")


def recomputed(after_kill: set, resumed: JobRun) -> set:
    """Partitions the resume wrote although the killed run had committed them."""
    return {p for pids, _r, _w in resumed.chunks for p in pids} & after_kill


def traced_layers(killed: JobRun, after_kill: set, resumed: JobRun, out: str) -> dict:
    from engine.checkpoint import ParquetJournalTableIO

    chunks = killed.chunks + resumed.chunks
    walls = sorted(w for _p, _r, w in chunks)
    rows = sum(r for _p, r, _w in chunks)
    med = C.median(walls) if walls else 0.0
    jio = ParquetJournalTableIO(out)
    t = []
    for _ in range(5):
        t0 = time.perf_counter()
        jio.committed_partitions()
        t.append(time.perf_counter() - t0)
    return {
        "featuregen.stage_inputs.wall_s": (killed.stage_wall, "s"),
        "featuregen.stage_inputs.bytes_mb": (C.dir_mb(os.path.join(out, "_staged")), "MB"),
        "checkpoint.run_chunk.wall_s_p50": (med, "s"),
        "checkpoint.run_chunk.max_over_median": (walls[-1] / med if med else 0.0, "ratio"),
        "checkpoint.run_chunk.rows_per_s": (rows / sum(walls) if walls else 0.0, "rows/s"),
        "checkpoint.output_bytes_per_row": (
            C.dir_mb(os.path.join(out, "data")) * 1e6 / rows if rows else 0.0, "B/row"),
        "checkpoint.committed_partitions.wall_s": (C.median(t), "s"),
        "checkpoint.recomputed_pids": (float(len(recomputed(after_kill, resumed))), "count"),
    }


TASK_LAYERS = {
    "featuregen.cpu_s": ("featuregen.job", "cpu_s", "s"),
    "featuregen.shuffle_write_mb": ("featuregen.job", "shuffle_write_mb", "MB"),
    "featuregen.spill_mb": ("featuregen.job", "spill_mb", "MB"),
}
