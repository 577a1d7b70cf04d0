"""Self-tests of the benchmark on tiny inputs (about 5 minutes on 4 cores).

    python3 perfbench/selftest.py

Checks that every workload emits every metric it names, that injected
failures show up in ``failed``/``failed_frac``, that a dropped output row
fails the flagship checks, that hot-key routing reads 1 key on the skewed
corpus and 0 on the uniform one, and that the job's kill-and-resume also
holds when launched through ``spark-submit --py-files`` as a real process.
Faults are injected by patching the benchmark's modules; the benchmark
command itself has no fault-injection option.
"""

from __future__ import annotations

import ast
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import zipfile
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common as C  # noqa: E402
from perfbench import flagship, job, queries, run  # noqa: E402

E2E = {"work_s", "work_cpu_s", "setup_s", "peak_rss_mb"}


def shrink() -> None:
    for shape in flagship.SHAPES.values():
        shape["docs"] = 500
    job.DOCS = 500
    queries.ROWS.update(events=2_000, users=40, orders=2_000, customers=200,
                        documents=400, embeddings=200)


def bench(*argv: str) -> tuple[dict, str]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = run.main(["--seed", "7", "--seconds", "0", *argv])
    out = buf.getvalue()
    if rc != 0:
        raise AssertionError(f"{argv}: exit code {rc}\n{out}")
    return json.loads(out.strip().splitlines()[-1]), out


def expect(cond: bool, what: str, out: str = "") -> None:
    if not cond:
        raise AssertionError(what + ("\n" + out[-3000:] if out else ""))
    print(f"ok  {what}")


def test_metrics_and_routing() -> None:
    for workload, routed in (("flagship_uniform", 0), ("flagship_skewed", 1)):
        res, out = bench("--workload", workload, "--trace", "1")
        expect(res["correct"] and res["failed"] == 0, f"{workload}: all checks pass", out)
        expect(set(res["metrics"]) == set(run.PER_LAYER), f"{workload}: every per-layer metric")
        keys = res["metrics"]["skew.straggler_hot_keys.keys_routed"]["value"]
        expect(keys == routed, f"{workload}: {routed} hot key(s) routed", out)
        expect(res["metrics"]["fused.chain.cpu_s"]["value"] > 0, f"{workload}: task sums read")
    res, out = bench("--workload", "entry_queries_resume", "--trace", "0")
    expect(set(res["metrics"]) == E2E, "entry_queries_resume: every end-to-end metric", out)
    expect(all(v["value"] > 0 for v in res["metrics"].values()), "end-to-end metrics are > 0")
    expect(res["correct"] and res["failed"] == 0, "entry_queries_resume: all checks pass", out)
    # traced: every query, near_dup_jaccard's known failure included, and the job
    res, out = bench("--workload", "entry_queries_resume", "--trace", "1")
    expect(set(res["metrics"]) == set(run.PER_LAYER),
           "entry_queries_resume traced: every per-layer metric", out)
    expect(res["correct"], "entry_queries_resume traced: correct", out)
    expect(set(failures(out)) <= queries.KNOWN_FAILURES,
           "entry_queries_resume traced: only known failures fail", out)
    expect("ok    check oracle.near_dup_jaccard.bounded" in out,
           "entry_queries_resume traced: near_dup_jaccard within its known bound", out)
    expect(all(res["metrics"][f"query.{q}.wall_s"]["value"] > 0 for q in queries.QUERIES),
           "entry_queries_resume traced: every query timed", out)
    expect(res["metrics"]["checkpoint.recomputed_pids"]["value"] == 0
           and "ok    check cycle0.recomputed_pids_0" in out, "no pid recomputed", out)


def failures(out: str) -> list[str]:
    line = next(ln for ln in out.splitlines() if ln.startswith("failed_frac "))
    return ast.literal_eval(line.split("failures=", 1)[1]) if "failures=" in line else []


def failed_frac(out: str) -> float:
    line = next(ln for ln in out.splitlines() if ln.startswith("failed_frac "))
    return float(line.split()[1])


def drop_one_row(out):
    """Lose one output row, which the checks must catch."""
    from pyspark.sql import functions as F

    first = out.select("doc_id", "asof_ts").limit(1).collect()[0]
    return out.where(~((F.col("doc_id") == first.doc_id) & (F.col("asof_ts") == first.asof_ts)))


def test_injected_failures() -> None:
    import __spark_entry__ as E

    real_pipeline = flagship.pipeline

    def lossy_pipeline(*a):
        o, s = real_pipeline(*a)
        return drop_one_row(o), s

    with mock.patch.object(flagship, "pipeline", lossy_pipeline):
        res, out = bench("--workload", "flagship_skewed")
    expect(not res["correct"] and "FAIL  check rows_out_eq_probes" in out,
           "dropped output row fails the row-count check", out)
    expect("FAIL  check duckdb_multiset_doc_asof_session_ntok_source" in out,
           "dropped output row fails the DuckDB multiset check", out)

    def boom(*_a):
        raise RuntimeError("injected failure")

    with mock.patch.object(flagship, "pipeline", boom):
        res, out = bench("--workload", "flagship_uniform")
    expect(res["failed"] >= 1 and not res["correct"] and failed_frac(out) > 0,
           "erroring rep counts as failed", out)

    # the kill point lies beyond the last chunk, so the killed run exits 0
    with mock.patch.object(job, "KILL_AFTER", job.PARTITIONS // job.CHUNK + 1):
        res, out = bench("--workload", "featuregen_resume")
    expect("FAIL  check cycle0.killed_exit_42" in out and not res["correct"]
           and failed_frac(out) > 0,
           f"featuregen_resume: wrong exit code shows in failed_frac ({failed_frac(out):.3f})", out)

    real_queries = E.queries
    with mock.patch.object(queries, "QUERIES", [*queries.QUERIES, "injected"]), \
            mock.patch.object(E, "queries", lambda: {**real_queries(), "injected": boom}):
        res, out = bench("--workload", "entry_queries")
    expect("query.injected[0]" in failures(out) and not res["correct"] and failed_frac(out) > 0,
           f"entry_queries: erroring query shows in failed_frac ({failed_frac(out):.3f})", out)


def test_spark_submit_kill_and_resume() -> None:
    from engine.checkpoint import ParquetJournalTableIO

    d = os.path.join(C.WORK, "selftest-submit")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    pkg = os.path.join(d, "engine.zip")
    with zipfile.ZipFile(pkg, "w") as z:
        for root, _dirs, files in os.walk(os.path.join(C.ROOT, "engine")):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, C.ROOT))
    out = os.path.join(d, "out")

    def submit(*extra: str) -> int:
        cmd = ["spark-submit", "--master", f"local[{C.CORES}]", "--driver-memory", C.HEAP,
               "--conf", f"spark.local.dir={d}", "--py-files", pkg,
               os.path.join(C.ROOT, "jobs", "featuregen.py"),
               *job.job_argv(out, 7, job.DOCS, extra)]
        env = {**os.environ, "TMPDIR": d}
        return subprocess.run(cmd, cwd=d, env=env, capture_output=True, timeout=600).returncode

    expect(submit("--kill-after-chunks", str(job.KILL_AFTER)) == 42, "spark-submit: killed run exits 42")
    done = ParquetJournalTableIO(out).committed_partitions()
    expect(len(done) == job.KILL_AFTER * job.CHUNK, f"spark-submit: {len(done)} pids committed")
    expect(submit() == 0, "spark-submit: resume exits 0")
    expect(ParquetJournalTableIO(out).committed_partitions() == set(range(job.PARTITIONS)),
           "spark-submit: every pid committed after resume")


def main() -> int:
    if C.missing_sources():
        print(f"program sources missing: {C.missing_sources()}", file=sys.stderr)
        return 2
    shrink()
    test_metrics_and_routing()
    test_injected_failures()
    test_spark_submit_kill_and_resume()
    print("selftest: all passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
