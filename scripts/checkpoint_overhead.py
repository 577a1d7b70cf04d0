"""Measure the resumable-checkpoint overhead on the production path
(round-3 verdict task: jobs/featuregen.py is resume-tested but was never
benched).  Same materialized corpus, same pipeline, two sinks:

  straight — flagship pipeline once, single hive-partitioned write
             (the bench.py flagship_compute + flagship_write_io shape)
  chunked  — the jobs/featuregen.py shape: P hash-partitions committed
             atomically in chunks through CheckpointManager (per-chunk
             pipeline build, journal write, cache.release_all barrier)

Usage:

    AFG_BENCH_DOCS=8000000 python scripts/checkpoint_overhead.py [cores] \
        [partitions] [chunk_size]

Prints one JSON line suitable for appending to BENCH/envelope.json's
``checkpoint_overhead`` record: {"straight_s": ..., "chunked_s": ...,
"overhead_pct": ...}.  Run it alone on the host — never overlapped with
another bench (shared memory bandwidth corrupts both).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from engine import cache
from engine.checkpoint import PID_COL, CheckpointManager, ParquetJournalTableIO, with_partition_id
from engine.io import write_partitioned
from jobs.featuregen import build_features


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    partitions = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    chunk_size = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    spark = bench.get_spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    root = bench.ensure_corpus(spark, bench.BENCH_DOCS)

    probes = spark.read.parquet(os.path.join(root, "probes"))
    state = spark.read.parquet(os.path.join(root, "seq_events"))
    seqs = bench.read_sequences(spark, root, bench.BENCH_DOCS)
    probes = probes.join(seqs.select("doc_id", "n_tok", "source"), "doc_id", "left")
    entity, probe_ts, values = "doc_id", "asof_ts", ["fvalue", "fcat"]

    from engine.skew import straggler_hot_keys

    n = probes.count() + state.count()
    hot_keys = straggler_hot_keys(
        probes.select(entity).unionByName(state.select(entity)), entity, n,
        cores=cores, sample_fraction=0.05,
    )

    def build(p, s):
        feat, _plan = build_features(
            p, s, entity, probe_ts, values, "30 minutes", [1], hot_keys=hot_keys,
        )
        return feat

    out_root = "/tmp/afg_ckpt_overhead"
    shutil.rmtree(out_root, ignore_errors=True)

    # warmup (codegen + page cache), untimed — same protocol as flagship_ab
    bench.materialize(build(probes, state))
    cache.release_all()
    spark.catalog.clearCache()

    # straight: one pipeline, one partitioned write
    t0 = time.time()
    feat = build(probes, state)
    write_partitioned(feat, os.path.join(out_root, "straight"), "source",
                      max_records_per_file=4_000_000)
    straight_s = round(time.time() - t0, 2)
    cache.release_all()
    spark.catalog.clearCache()

    # chunked: the featuregen loop (per-chunk plan build + atomic commit).
    # The chunk filter is a predicate on a COMPUTED hash pid — the reader
    # cannot prune, so every chunk re-scans the full input.
    probes_p = with_partition_id(probes, entity, partitions)
    state_p = with_partition_id(state, entity, partitions)
    lineage = {"inputs": {"corpus": root}, "params": {"partitions": partitions}}

    def chunked_loop(out_name, pp, ss):
        io = ParquetJournalTableIO(os.path.join(out_root, out_name))
        mgr = CheckpointManager(io, partitions)
        pending = mgr.pending()
        for i in range(0, len(pending), chunk_size):
            chunk = pending[i : i + chunk_size]
            cp = pp.where(F_isin(chunk))
            cs = ss.where(F_isin(chunk)).drop(PID_COL)
            mgr.run_chunk(chunk, build(cp, cs), lineage)
            cache.release_all()

    t0 = time.time()
    chunked_loop("chunked", probes_p, state_p)
    chunked_s = round(time.time() - t0, 2)
    spark.catalog.clearCache()

    # chunked_staged: jobs/featuregen.py --stage-input — pid-partitioned
    # input copies written once (timed as part of this leg), chunk scans
    # partition-prune to their pids.
    from jobs.featuregen import stage_inputs

    t0 = time.time()
    sp_p, ss_p = stage_inputs(
        spark, probes_p, state_p, os.path.join(out_root, "staged_in")
    )
    chunked_loop("chunked_staged", sp_p, ss_p)
    staged_s = round(time.time() - t0, 2)

    print(json.dumps({
        "cores": cores,
        "bench_docs": bench.BENCH_DOCS,
        "partitions": partitions,
        "chunk_size": chunk_size,
        "straight_s": straight_s,
        "chunked_s": chunked_s,
        "overhead_pct": round((chunked_s / straight_s - 1) * 100, 1),
        "staged_s": staged_s,
        "staged_overhead_pct": round((staged_s / straight_s - 1) * 100, 1),
    }))
    spark.stop()


def F_isin(chunk):
    from pyspark.sql import functions as F

    return F.col(PID_COL).isin(chunk)


if __name__ == "__main__":
    main()
