"""Benchmark entry point: runs one workload and prints one JSON result line.

    python3 perfbench/run.py --workload flagship_skewed --seed 1 --seconds 1 --trace 0

Workloads (see README.md for why, and for the two listed in BENCHMARK.json):
  flagship_skewed       fused feature chain + token join, one doc_id holding
                        40 % of events and probes (routed)
  flagship_uniform      the same with a 5 % hot key (not routed)
  entry_queries         __spark_entry__ queries, each checked against oracle_sql()
  featuregen_resume     jobs/featuregen.py killed after two chunks, then resumed
  entry_queries_resume  entry_queries; traced runs add featuregen_resume, in
                        the same session

Report lines (every output check's verdict, the workload's own metrics such
as seq_per_s, failed_frac) come first; the last stdout line is
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import importlib
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common as C  # noqa: E402
from perfbench.queries import QUERIES  # noqa: E402

# workload -> the parts it runs and the parts a traced run adds, in order,
# in one Spark session
WORKLOADS = {
    "flagship_uniform": (("flagship",), ()),
    "flagship_skewed": (("flagship",), ()),
    "featuregen_resume": (("job",), ()),
    "entry_queries": (("queries",), ()),
    "entry_queries_resume": (("queries",), ("job",)),
}

# Every per-layer metric, reported by every traced run; a layer the
# workload does not execute reads 0.
PER_LAYER = {
    "io.scan.wall_s": "s", "io.scan.input_mb": "MB",
    "skew.straggler_hot_keys.wall_s": "s", "skew.straggler_hot_keys.keys_routed": "count",
    "fused.chain.wall_s": "s", "fused.chain.cpu_s": "s", "fused.chain.gc_s": "s",
    "fused.chain.shuffle_write_mb": "MB", "fused.chain.spill_mb": "MB",
    "fused.chain.task_skew": "ratio", "fused.chain.rows_out": "count",
    "token_join.wall_s": "s", "token_join.cpu_s": "s", "token_join.shuffle_write_mb": "MB",
    "token_join.task_skew": "ratio", "token_join.rows_out": "count",
    "skew.dim_grouped_agg.wall_s": "s", "skew.dim_grouped_agg.shuffle_write_mb": "MB",
    "featuregen.stage_inputs.wall_s": "s", "featuregen.stage_inputs.bytes_mb": "MB",
    "featuregen.cpu_s": "s", "featuregen.shuffle_write_mb": "MB", "featuregen.spill_mb": "MB",
    "checkpoint.run_chunk.wall_s_p50": "s", "checkpoint.run_chunk.max_over_median": "ratio",
    "checkpoint.run_chunk.rows_per_s": "rows/s", "checkpoint.output_bytes_per_row": "B/row",
    "checkpoint.committed_partitions.wall_s": "s", "checkpoint.recomputed_pids": "count",
    # traced run's own unit wall (compare with the untraced work_s for the
    # event-log cost) and Σ per-layer walls minus it (the cost of splitting)
    "trace.rep_wall_s": "s", "trace.overhead_s": "s",
}
PER_LAYER.update({f"query.{q}.wall_s": "s" for q in QUERIES})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = C.missing_sources()
    if missing:
        print(f"perfbench: program sources missing under {C.ROOT}: {missing}", file=sys.stderr)
        return 2
    run_dir = C.new_run_dir(args.workload)
    C.prepare_env(run_dir)
    always, traced = WORKLOADS[args.workload]
    parts = [importlib.import_module(f"perfbench.{m}")
             for m in always + (traced if args.trace else ())]
    ledger = C.Ledger(frozenset().union(*(getattr(p, "KNOWN_FAILURES", ()) for p in parts)))
    spans = C.Spans()

    # a terminated run still stops the processes it started (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        t0 = time.perf_counter()
        spark = C.spark_session(run_dir, f"perfbench-{args.workload}", event_log=bool(args.trace))
        t_session = time.perf_counter() - t0
        results = []
        for p in parts:
            spark.conf.set("spark.sql.shuffle.partitions", str(p.WIDTH))
            results.append(p.run(spark, args, ledger, run_dir, spans))
    finally:
        C.stop_processes()
    work = sum(r.work_s for r in results)
    work_cpu = sum(r.work_cpu_s for r in results)
    setup = t_session + sum(r.setup_s for r in results)
    rss = max(r.rss_mb for r in results)
    ledger.lines.append(f"metric work_s {work:.3f} s; work_cpu_s {work_cpu:.3f} s; setup_s {setup:.3f} s "
                        f"(session start {t_session:.2f} s); peak_rss_mb {rss:.0f} MB")
    if args.trace:
        layers = {"trace.rep_wall_s": (work, "s")}
        for r in results:
            layers.update(r.layers)
        tm = C.task_metrics(os.path.join(run_dir, "eventlog"), spans.spans)
        for p in parts:
            for name, (span, key, unit) in p.TASK_LAYERS.items():
                if span in tm:
                    layers[name] = (tm[span][key], unit)
        metrics = {n: layers.get(n, (0.0, u)) for n, u in PER_LAYER.items()}
        for n, (v, u) in metrics.items():
            ledger.lines.append(f"layer {n} {v:.6g} {u}")
    else:
        metrics = {"work_s": (work, "s"), "work_cpu_s": (work_cpu, "s"), "setup_s": (setup, "s"),
                   "peak_rss_mb": (rss, "MB")}
    C.emit(ledger, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
