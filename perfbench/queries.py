"""entry_queries workload: 14 entry queries from ``__spark_entry__.queries()``,
each output collected and checked against its ``oracle_sql()`` on DuckDB.

Every query is timed once per session: a warm second pass would double
the run's length, which the benchmark's run-time budget cannot hold. The
walls therefore include each plan's first-run code generation, as the
one-pass correctness gate (scripts/check_oracle.py) sees it, and the first query
(asof_union) also carries the JVM's warm-up. Untraced runs time only the
queries of the as-of kernels, engine.transforms and the token counts;
traced runs time all of them (TRACED_ONLY).

Inputs are generated from the seed in the shape of the repository's test
tables (schemas of ``engine.io.SCHEMAS``): ``documents`` and ``embeddings``
at the sf0.1 row counts, ``events`` and ``orders`` smaller so one run stays
inside the benchmark's time budget.
"""

from __future__ import annotations

import os
import time

from perfbench import common as C

# The entry queries sized for this benchmark, minus simhash_pairs: it has
# no oracle (rows-only) and near_dup_jaccard already covers corpus.dedup,
# while its ~6 s per run does not fit the benchmark's run-time budget.
QUERIES = (
    "asof_union asof_merge asof_bucketed hotwin_family sessionize rolling_1h "
    "two_level_agg agg_features row_features_text near_dup_jaccard "
    "ann_topk quality_score token_counts multimodal_decode"
).split()
# Timed and checked only in traced runs, after the others: the untraced
# runs' time budget (a Spark session costs ~15 s of every run on a 4-core
# host) holds the as-of kernels (union, merge, bucketed), engine.transforms
# (agg_features, row_features_text) and token_counts, ~30 s cold. The rest
# take ~35 s more cold, near_dup_jaccard ~12 s and hotwin_family (the
# per-op hot-key path) ~17 s of it. Their per-layer walls come from every
# traced run; they are not part of work_s.
TRACED_ONLY = ("sessionize", "rolling_1h", "two_level_agg", "near_dup_jaccard", "ann_topk",
               "quality_score", "multimodal_decode", "hotwin_family")
# Known engine failure, counted in `failed` but not in `correct`:
# near_dup_jaccard returns a slightly different LSH candidate set than its
# oracle (on the sf0.1 test tables both sides have 254 pairs, two on each
# side different; on generated inputs 0 or 1 pair differs). The failure is
# bounded by the separate check oracle.near_dup_jaccard.bounded, which is
# not known: at most NEAR_DUP_MAX_ONE_SIDED pairs on one side only, and
# every shared pair with the same jaccard. Remove both once the engine is
# fixed.
KNOWN_FAILURES = frozenset({"oracle.near_dup_jaccard"})
NEAR_DUP_MAX_ONE_SIDED = 4
WIDTH = 8
ROWS = {"events": 20_000, "users": 300, "orders": 30_000, "customers": 3_000,
        "documents": 5_000, "embeddings": 2_000}
KEEP_INPUTS = 2

WORDS = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def generate(seed: int) -> str:
    """Write the four tables for ``seed`` once; returns their directory."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    parent = os.path.join(C.WORK, "testdata")
    out = os.path.join(parent, f"s{seed}_e{ROWS['events']}_d{ROWS['documents']}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        os.makedirs(out, exist_ok=True)
        rng = np.random.default_rng(seed)
        us = pa.timestamp("us")
        base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)

        n = ROWS["events"]
        ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + base
        pq.write_table(pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.int64()).cast(us),
            "user_id": pa.array(rng.integers(0, ROWS["users"], n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }), os.path.join(out, "events.parquet"))

        n = ROWS["orders"]
        day = 86_400_000_000
        odate = base - rng.integers(0, 10 * 365, n) * day
        pq.write_table(pa.table({
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, ROWS["customers"], n), pa.int64()),
            "o_orderstatus": pa.array(np.array(["P", "O", "F"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500_000.0, n), 2)),
            "o_orderdate": pa.array(odate, pa.int64()).cast(us),
            "o_orderpriority": pa.array(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n)]),
        }), os.path.join(out, "orders.parquet"))

        # documents: random words; 5 % near-duplicates (an earlier text plus
        # " dup") and a few exact copies, as in the sf0.1 test tables
        n = ROWS["documents"]
        texts: list[str] = []
        for i in range(n):
            r = rng.random()
            if i > 10 and r < 0.05:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            elif i > 10 and r < 0.052:
                texts.append(texts[int(rng.integers(0, i))])
            else:
                k = int(rng.integers(10, 101))
                texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
        langs = rng.choice([lang for lang, _ in LANGS], n, p=[p for _, p in LANGS])
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }), os.path.join(out, "documents.parquet"))

        n = ROWS["embeddings"]
        emb = rng.normal(0.0, 0.125, (n, 64)).astype(np.float32)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }), os.path.join(out, "embeddings.parquet"))
        with open(os.path.join(out, "_DONE"), "w") as fh:
            fh.write("ok\n")
    os.utime(out)
    C.evict(parent, KEEP_INPUTS)
    return out


def isolate(spark) -> None:
    """Drop the previous query's persists, so one query's cache does not
    bleed into the next measurement."""
    from engine import cache

    cache.release_all()
    spark.catalog.clearCache()


def run(spark, args, ledger: C.Ledger, run_dir: str, spans: C.Spans) -> C.Part:
    """One pass over the queries in a fresh session: each output is
    collected (timed) and compared with its oracle (untimed). More passes
    follow while ``--seconds`` lasts; each query reports its median."""
    import duckdb

    t0 = time.perf_counter()
    sf_dir = generate(args.seed)
    print(f"inputs {sf_dir} ready in {time.perf_counter() - t0:.2f} s "
          "(input preparation, not in setup_s)")
    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    gate = C.load_module("scripts/check_oracle.py")
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in ("events", "orders", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    names = [q for q in QUERIES if q not in TRACED_ONLY]
    if args.trace:
        names += TRACED_ONLY
    walls: dict[str, list[float]] = {q: [] for q in names}
    cpus: dict[str, list[float]] = {q: [] for q in names}
    pid = C.jvm_pid(spark)
    start = time.perf_counter()
    t_check = 0.0
    passes = 0
    try:
        while passes < 1 or time.perf_counter() - start < args.seconds:
            for q in names:
                isolate(spark)
                with C.Clock(pid) as clock:
                    ok, got = ledger.run(f"query.{q}[{passes}]",
                                         lambda q=q: qs[q](spark, sf_dir).toPandas())
                if ok:
                    walls[q].append(clock.wall)
                    cpus[q].append(clock.cpu)
                if ok and passes == 0:
                    t0 = time.perf_counter()
                    check(ledger, con, gate, q, got, oracles.get(q))
                    t_check += time.perf_counter() - t0
            passes += 1
        rss = C.jvm_peak_rss_mb(spark)
    finally:
        con.close()
    med = {q: C.median(w) for q, w in walls.items() if w}
    total = sum(v for q, v in med.items() if q not in TRACED_ONLY)
    cpu = sum(C.median(cpus[q]) for q in med if q not in TRACED_ONLY)
    ledger.lines.append(
        "per-query " + " ".join(f"{q}={v:.2f}" for q, v in med.items()) + "\n"
        f"metric queries_wall_s {total:.3f} s (Σ of per-query medians over {passes} pass(es), "
        f"{len(med)} of {len(names)} queries ran, traced-only {TRACED_ONLY} not summed; slowest "
        f"{max(med, key=med.get) if med else '-'}); oracle checks {t_check:.2f} s (untimed)"
    )
    return C.Part(total, cpu, 0.0, rss, {f"query.{q}.wall_s": (v, "s") for q, v in med.items()})


def check(ledger: C.Ledger, con, gate, q: str, got, sql: str | None) -> None:
    if sql is None:
        # rows-only entries (simhash_pairs: xxhash64 has no DuckDB
        # analogue), as in scripts/check_oracle.py
        ledger.check(f"rows.{q}", len(got) > 0, f"{len(got)} rows, no oracle_sql entry")
        return
    ok, want = ledger.run(f"oracle.{q}.duckdb", lambda: con.sql(sql).df())
    if ok:
        # scripts/check_oracle.py's comparison: order-insensitive,
        # floats exact
        problems = gate.compare(q, got, want)
        ledger.check(f"oracle.{q}", not problems, "; ".join(problems) or f"{len(got)} rows")
        if q == "near_dup_jaccard":
            check_near_dup_bound(ledger, got, want)


def check_near_dup_bound(ledger: C.Ledger, got, want) -> None:
    """Bound the known near_dup_jaccard failure, so a regression beyond it
    still fails ``correct``."""
    m = got.merge(want, on=["id_a", "id_b"], how="outer", suffixes=("_spark", "_duck"),
                  indicator=True)
    one_sided = int((m["_merge"] != "both").sum())
    both = m[m["_merge"] == "both"]
    other_j = int((both["jaccard_spark"] != both["jaccard_duck"]).sum())
    ledger.check(
        "oracle.near_dup_jaccard.bounded",
        len(both) > 0 and one_sided <= NEAR_DUP_MAX_ONE_SIDED and other_j == 0,
        f"{len(both)} shared pairs, {one_sided} on one side only "
        f"(max {NEAR_DUP_MAX_ONE_SIDED}), {other_j} shared with another jaccard",
    )


TASK_LAYERS: dict = {}
