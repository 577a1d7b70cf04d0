"""Equality of the fused hot-key feature chain (engine.fused — two wide
shuffles) with the composition of the public operators it replaces:
asof_join → lag_features → sessionize → rolling_aggregates(prefix).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine.asof import asof_join
from engine.fused import fused_feature_chain
from engine.window_ops import lag_features, rolling_aggregates, sessionize

GAP = "1 hour"
WIN = "1 day"


@pytest.fixture(scope="module")
def sides(seq_fixtures):
    ev = seq_fixtures["seq_events"]
    # unique (doc_id, asof_ts) so lag/session ordering is deterministic and
    # the row-level comparison is well-defined (the raw probe fixture holds
    # deliberate duplicate ties for the as-of oracle queries)
    probes = (
        seq_fixtures["probes"].distinct()
        .withColumn("probe_id", F.xxhash64("doc_id", "asof_ts"))
        .cache()
    )
    return probes, ev


ROLL = {"fvalue_last": ["count", "sum", "avg"]}


def reference_chain(probes, ev, window=WIN, gap=GAP, rolling=ROLL):
    f = asof_join(
        probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
        values=["fvalue", "fcat"], suffix="_last",
    )
    f = lag_features(f, "doc_id", "asof_ts", ["fvalue_last"], lags=[1, 2])
    f = sessionize(f, "doc_id", "asof_ts", gap=gap)
    return rolling_aggregates(
        f, "doc_id", "asof_ts", rolling, window=window, method="prefix",
    )


def fused_chain(probes, ev, bucket, window=WIN, gap=GAP):
    return fused_feature_chain(
        probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
        values=["fvalue", "fcat"], suffix="_last",
        lag_cols=["fvalue_last"], lags=[1, 2],
        session_gap=gap, rolling={"fvalue_last": ["count", "sum", "avg"]},
        rolling_window=window, bucket=bucket,
    )


def assert_equal(ref, fus):
    key = ["doc_id", "asof_ts", "probe_id"]
    assert sorted(ref.columns) == sorted(fus.columns)
    a = ref.toPandas().sort_values(key, kind="mergesort").reset_index(drop=True)
    b = (
        fus.select(*ref.columns).toPandas()
        .sort_values(key, kind="mergesort").reset_index(drop=True)
    )
    assert len(a) == len(b)
    assert (a["doc_id"].values == b["doc_id"].values).all()
    for c in ref.columns:
        if c in ("doc_id", "fcat_last"):
            assert (
                a[c].fillna("__N").values == b[c].fillna("__N").values
            ).all(), c
        elif a[c].dtype.kind in "fiu" or c.startswith("fvalue"):
            assert np.allclose(
                a[c].astype(float), b[c].astype(float), equal_nan=True
            ), c
        else:
            assert (a[c].values == b[c].values).all(), c


@pytest.mark.parametrize("bucket", ["6 hours", "2 days"])
def test_fused_matches_composition(sides, bucket):
    probes, ev = sides
    assert_equal(reference_chain(probes, ev), fused_chain(probes, ev, bucket))


def test_fused_tiny_buckets_exercise_carries(sides):
    """Bucket far smaller than the event spacing: every bucket holds ~1 row,
    so every lag/session/rolling answer crosses buckets via the carries."""
    probes, ev = sides
    assert_equal(
        reference_chain(probes, ev, window="6 hours"),
        fused_chain(probes, ev, "17 minutes", window="6 hours"),
    )


def test_fused_window_smaller_than_bucket(sides):
    probes, ev = sides
    assert_equal(
        reference_chain(probes, ev, window="30 minutes"),
        fused_chain(probes, ev, "2 days", window="30 minutes"),
    )


HOT = "doc000000000000"  # the fixture's skewed entity (~20% of events)


@pytest.mark.parametrize("bucket", ["6 hours", "47 minutes"])
def test_fused_hybrid_matches_composition(sides, bucket):
    """hot_keys= mode: hot entities time-bucketed, cold entities plain —
    one plan, same rows as the composition for BOTH populations."""
    probes, ev = sides
    assert_equal(
        reference_chain(probes, ev),
        fused_chain_hybrid(probes, ev, bucket, hot_keys=[HOT]),
    )


def test_fused_hybrid_multi_hot(sides):
    probes, ev = sides
    hot = [HOT, "doc000000000007", "doc000000000033"]
    assert_equal(
        reference_chain(probes, ev),
        fused_chain_hybrid(probes, ev, "6 hours", hot_keys=hot),
    )


def test_fused_hybrid_empty_hot_list(sides):
    """hot_keys=[] must degenerate to the plain single-window semantics."""
    probes, ev = sides
    assert_equal(
        reference_chain(probes, ev),
        fused_chain_hybrid(probes, ev, "6 hours", hot_keys=[]),
    )


def test_fused_hybrid_all_hot(sides):
    """Every entity hot ≡ the always-bucketed legacy mode."""
    probes, ev = sides
    all_ids = [r[0] for r in probes.select("doc_id").distinct().collect()]
    assert_equal(
        reference_chain(probes, ev),
        fused_chain_hybrid(probes, ev, "6 hours", hot_keys=all_ids),
    )


def fused_chain_hybrid(probes, ev, bucket, hot_keys, window=WIN, gap=GAP, rolling=ROLL):
    return fused_feature_chain(
        probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
        values=["fvalue", "fcat"], suffix="_last",
        lag_cols=["fvalue_last"], lags=[1, 2],
        session_gap=gap, rolling=rolling,
        rolling_window=window, bucket=bucket, hot_keys=hot_keys,
    )


def test_fused_hybrid_fits_codegen_cache(sides, spark):
    """A routed chain compiles at most 60 generated classes and a second
    execution compiles none: the plan fits Spark's codegen cache at its
    default size. (A bucket no other test uses keeps the literals fresh.)"""
    probes, ev = sides
    probes.count(), ev.count()  # the cached inputs are not the chain's work
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "100"
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled():
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        fused_chain_hybrid(probes, ev, "5 hours", hot_keys=[HOT]).write.format(
            "noop").mode("overwrite").save()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    first, second = compiled(), compiled()
    assert first <= 60 and second == 0, (first, second)


def edge_sides(spark):
    """Hand-built rows on 1-hour buckets for the carry edge cases: bucket 1's
    probes all precede its first state row, bucket 2's states all hold a
    null fvalue, buckets 3-5 are empty and bucket 7 holds only a state, so
    the lag tails of buckets 6 and 8 reach back across them."""
    import datetime as dt

    cold = "doc000000000001"
    ev = [
        (HOT, 0, 10, 1.0, "a"), (HOT, 0, 20, 2.0, "b"), (HOT, 1, 40, 3.0, "c"),
        (HOT, 2, 5, None, "d"), (HOT, 2, 10, None, "e"), (HOT, 7, 30, 5.0, "f"),
        (cold, 0, 15, 4.0, "g"), (cold, 3, 0, None, "h"),
    ]
    pr = [
        (HOT, 0, 5), (HOT, 0, 15), (HOT, 0, 30), (HOT, 1, 5), (HOT, 1, 10),
        (HOT, 2, 20), (HOT, 2, 30), (HOT, 6, 10), (HOT, 8, 10), (HOT, 8, 50),
        (cold, 0, 20), (cold, 2, 0), (cold, 3, 30),
    ]

    def at(h, m):
        return dt.datetime(2024, 1, 1) + dt.timedelta(hours=h, minutes=m)

    events = spark.createDataFrame(
        [(d, at(h, m), v, c) for d, h, m, v, c in ev],
        "doc_id string, ts timestamp, fvalue double, fcat string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    probes = spark.createDataFrame(
        [(d, at(h, m), i) for i, (d, h, m) in enumerate(pr)],
        "doc_id string, asof_ts timestamp, probe_id long",
    ).withColumn("asof_ts", F.col("asof_ts").cast("timestamp_ntz"))
    return probes, events


@pytest.mark.parametrize("hot", [[HOT], None])
def test_fused_carry_edge_cases(spark, hot):
    """Leading-probe, all-null, empty-bucket and stddev carries: routed
    (hot_keys=[HOT]) and fully bucketed (None) chains equal the composition,
    with stddev exercising the sum-of-squares carry."""
    probes, ev = edge_sides(spark)
    roll = {"fvalue_last": ["count", "sum", "avg", "stddev"]}
    assert_equal(
        reference_chain(probes, ev, window="3 hours", gap="45 minutes", rolling=roll),
        fused_chain_hybrid(probes, ev, "1 hour", hot_keys=hot, window="3 hours",
                           gap="45 minutes", rolling=roll),
    )


def test_plan_lowering_routes_through_fused(sides):
    """FeaturePlan hybrid lowering (engine.plan.lower hot_keys=...) compiles
    the asof→lag→sessionize→rolling pattern to the fused chain: results
    equal the plain lowering, and the physical plan carries the fused
    shape's exchange budget instead of the per-op hot branch's ~10."""
    from engine.plan import FeatureEngine

    probes, ev = sides

    def build():
        return (
            FeatureEngine(probes, entity="doc_id", ts="asof_ts")
            .asof(ev, values=["fvalue", "fcat"], suffix="_last")
            .lag(["fvalue_last"], lags=[1, 2])
            .sessionize(GAP)
            .rolling({"fvalue_last": ["count", "sum", "avg"]}, WIN, method="prefix")
        )

    plain = build().to_df()
    hybrid = build().to_df(hot_keys=[HOT], bucket="6 hours")
    assert_equal(plain, hybrid)
    # plan shape: the lowering must emit EXACTLY the fused plan (same real
    # exchange count as calling fused_feature_chain directly — counted like
    # scripts/audit_plans.py on formatted detail headers, so reused subtrees
    # aren't double-counted), and strictly fewer than the per-op two-branch
    # fallback it replaces. Absolute caps live in the plan audit, which runs
    # on uncached parquet inputs.
    import io
    import re
    from contextlib import redirect_stdout

    def n_ex(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return len(re.findall(r"^\(\d+\) Exchange\b", buf.getvalue(), re.M))

    direct = fused_chain_hybrid(probes, ev, "6 hours", hot_keys=[HOT])
    lowered = build().to_df(hot_keys=[HOT], bucket="6 hours")
    from engine.plan import _fused_split

    assert _fused_split(build().plan) is not None
    assert n_ex(lowered) == n_ex(direct), (n_ex(lowered), n_ex(direct))


def test_plan_lowering_fused_fallback_on_leads(sides):
    """A lag step with leads can't fuse (carries are backward-only): the
    lowering must fall back to the per-op hot/cold split, still correct."""
    from engine.plan import FeatureEngine

    probes, ev = sides

    def build():
        return (
            FeatureEngine(probes, entity="doc_id", ts="asof_ts")
            .asof(ev, values=["fvalue", "fcat"], suffix="_last")
            .lag(["fvalue_last"], lags=[1], leads=[1])
        )

    plain = build().to_df().toPandas()
    hybrid = build().to_df(hot_keys=[HOT], bucket="6 hours").toPandas()
    key = ["doc_id", "asof_ts", "probe_id"]
    a = plain.sort_values(key, kind="mergesort").reset_index(drop=True)
    b = hybrid[plain.columns].sort_values(key, kind="mergesort").reset_index(drop=True)
    for c in plain.columns:
        if a[c].dtype.kind in "fiu":
            assert np.allclose(
                a[c].astype(float), b[c].astype(float), equal_nan=True
            ), c


@pytest.mark.parametrize("bucket,hot", [("6 hours", None), ("47 minutes", [HOT]), ("6 hours", [])])
def test_fused_ffill_matches_composition(sides, bucket, hot):
    """ffill_cols= (W1 inside the fused chain): in-bucket last(ignorenulls)
    + cross-bucket last-non-null carry must equal composing forward_fill
    after the as-of join — plain, hybrid, and degenerate-empty modes.
    fvalue_last is null for before-first probes and for null state values,
    so the fill is genuinely exercised across bucket boundaries."""
    from engine.window_ops import forward_fill

    probes, ev = sides
    ref = forward_fill(
        reference_chain(probes, ev), "doc_id", "asof_ts", ["fvalue_last"]
    )
    fus = fused_feature_chain(
        probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
        values=["fvalue", "fcat"], suffix="_last",
        lag_cols=["fvalue_last"], lags=[1, 2],
        session_gap=GAP, rolling={"fvalue_last": ["count", "sum", "avg"]},
        rolling_window=WIN, bucket=bucket, hot_keys=hot,
        ffill_cols=["fvalue_last"],
    )
    assert_equal(ref, fus)


def test_fused_ffill_rejects_dependent_lag(sides):
    """lag over an ffill OUTPUT column must raise (the fused assembly
    computes fills after the in-bucket lag expressions)."""
    probes, ev = sides
    with pytest.raises(ValueError, match="ffill outputs"):
        fused_feature_chain(
            probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
            values=["fvalue"], suffix="_last",
            ffill_cols=["fvalue_last"], ffill_suffix="_f",
            lag_cols=["fvalue_last_f"], lags=[1],
        )


def test_plan_lowering_fuses_ffill(sides):
    """A FeaturePlan with an ffill step still fuses (order-neutral) and
    matches the plain lowering."""
    from engine.plan import FeatureEngine, _fused_split

    probes, ev = sides

    def build():
        return (
            FeatureEngine(probes, entity="doc_id", ts="asof_ts")
            .asof(ev, values=["fvalue", "fcat"], suffix="_last")
            .ffill(["fvalue_last"])
            .lag(["fvalue_last"], lags=[1])
            .sessionize(GAP)
        )

    assert _fused_split(build().plan) is not None
    plain = build().to_df()
    hybrid = build().to_df(hot_keys=[HOT], bucket="6 hours")
    assert_equal(plain, hybrid)
    # lag over the ffill OUTPUT cannot fuse — falls back, still matches
    def build_dep():
        return (
            FeatureEngine(probes, entity="doc_id", ts="asof_ts")
            .asof(ev, values=["fvalue", "fcat"], suffix="_last")
            .ffill(["fvalue_last"])
            .lag(["fvalue_last_f"], lags=[1])
        )

    assert _fused_split(build_dep().plan) is None


def test_fused_no_state_rows(sides, spark):
    """Probes with an empty state side: all as-of values null, lags null,
    sessions and rolling still defined over the probe frame."""
    probes, ev = sides
    empty = ev.where(F.lit(False))
    assert_equal(reference_chain(probes, empty), fused_chain(probes, empty, "6 hours"))


def test_fused_leakage_free(sides):
    """No fused output can depend on state rows after the probe ts: removing
    all future state rows per probe leaves fvalue_last identical (spot-check
    via max state ts ≤ probe ts join)."""
    probes, ev = sides
    out = fused_chain(probes, ev, "6 hours")
    joined = out.join(
        ev.select("doc_id", F.col("ts").alias("state_ts"), F.col("fvalue").alias("sv")),
        on="doc_id",
    )
    # any probe whose fvalue_last matches ONLY future rows would be leakage;
    # verify every non-null fvalue_last has a matching state row at ts <= probe ts
    ok = joined.where(
        (F.col("sv") == F.col("fvalue_last")) & (F.col("state_ts") <= F.col("asof_ts"))
    ).select("doc_id", "probe_id").distinct()
    has_val = out.where(F.col("fvalue_last").isNotNull()).select(
        "doc_id", "probe_id"
    ).distinct()
    assert has_val.join(ok, ["doc_id", "probe_id"], "left_anti").count() == 0
