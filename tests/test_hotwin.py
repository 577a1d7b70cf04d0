"""Equality of the skew-proof (time-bucketed, engine.hotwin) window plans
with the plain single-window plans, on the skewed fixture (hot doc holds a
large share of rows) plus forced-hot long-tail keys. Hot keys are routed
the one way the engine offers: a FeaturePlan lowered with ``hot_keys``."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from engine.plan import FeatureEngine
from engine.skew import detect_hot_keys


@pytest.fixture(scope="module")
def ev(seq_fixtures):
    return seq_fixtures["seq_events"]


@pytest.fixture(scope="module")
def hot_keys(ev):
    ks = detect_hot_keys(ev, "doc_id", threshold=50)
    assert ks, "fixture should contain at least one hot doc"
    # add a couple of cold keys to force the bucketed path on sparse series too
    extra = [
        r["doc_id"]
        for r in ev.select("doc_id").distinct().orderBy("doc_id").limit(3).collect()
    ]
    return sorted(set(ks) | set(extra))


def _sorted(pdf, cols):
    return pdf.sort_values(cols, kind="mergesort").reset_index(drop=True)


def _plain_and_hot(ev, hot_keys, bucket, add_step):
    """One single-step plan lowered plainly and with ``hot_keys``, both
    sorted on (doc_id, ts, fvalue)."""
    def lowered(**kw):
        eng = add_step(FeatureEngine(ev, entity="doc_id", ts="ts"))
        return _sorted(eng.to_df(**kw).toPandas(), ["doc_id", "ts", "fvalue"])

    return lowered(), lowered(hot_keys=hot_keys, bucket=bucket)


def _assert_close(a, b, cols):
    for c in cols:
        assert np.allclose(
            a[c].astype(float), b[c].astype(float), equal_nan=True
        ), c


def test_lag_hot_matches_plain(ev, hot_keys):
    a, b = _plain_and_hot(
        ev, hot_keys, "2 days", lambda e: e.lag(["fvalue"], lags=[1, 2], leads=[1])
    )
    _assert_close(a, b, ["fvalue_lag1", "fvalue_lag2", "fvalue_lead1"])


def test_sessionize_hot_matches_plain(ev, hot_keys):
    a, b = _plain_and_hot(ev, hot_keys, "2 days", lambda e: e.sessionize("6 hours"))
    assert (a["session_id"].astype("int64").values
            == b["session_id"].astype("int64").values).all()


def test_rolling_hot_matches_plain(ev, hot_keys):
    a, b = _plain_and_hot(
        ev, hot_keys, "12 hours",
        lambda e: e.rolling({"fvalue": ["count", "sum", "avg"]}, "2 days", method="prefix"),
    )
    _assert_close(a, b, ["fvalue_count_2days", "fvalue_sum_2days", "fvalue_avg_2days"])


def test_ffill_hot_matches_plain(ev, hot_keys):
    a, b = _plain_and_hot(ev, hot_keys, "2 days", lambda e: e.ffill(["fvalue"]))
    _assert_close(a, b, ["fvalue_f"])


def test_cumulative_hot_matches_plain(ev, hot_keys):
    names = ["sum", "count", "min", "max", "avg"]
    a, b = _plain_and_hot(
        ev, hot_keys, "12 hours", lambda e: e.cumulative({"fvalue": names})
    )
    _assert_close(a, b, [f"fvalue_cum{n}" for n in names])


def test_plan_level_hot_lowering_matches_plain(seq_fixtures, hot_keys):
    """lower(plan, hot_keys=...) (pipeline-level hot/cold split) must agree
    with the plain lowering on the full as-of → lag → sessionize → rolling
    chain — the production job's skew path (jobs/featuregen.py)."""
    def build():
        return (
            FeatureEngine(seq_fixtures["probes"], entity="doc_id", ts="asof_ts")
            .asof(seq_fixtures["seq_events"], values=["fvalue", "fcat"], suffix="_last")
            .lag(["fvalue_last"], lags=[1, 2])
            .sessionize("1 hour")
            .rolling({"fvalue_last": ["count", "sum"]}, "1 day", method="prefix")
        )

    plain = build().to_df().toPandas()
    hot = build().to_df(hot_keys=hot_keys, bucket="2 days").toPandas()
    key = ["doc_id", "asof_ts"]
    a, b = _sorted(plain, key), _sorted(hot, key)
    assert list(a.columns) == list(b.columns)
    for c in [
        "fvalue_last", "fvalue_last_lag1", "fvalue_last_lag2",
        "fvalue_last_count_1day", "fvalue_last_sum_1day",
    ]:
        assert np.allclose(a[c].astype(float), b[c].astype(float), equal_nan=True), c
    assert (a["session_id"].astype("int64").values
            == b["session_id"].astype("int64").values).all()


def test_hot_predicate_compiles_to_isin_and_handles_nulls(spark):
    """Single-column hot keys must compile to In/InSet (not a key-deep OR
    chain — round-1 advice) and preserve eqNullSafe semantics for NULL keys."""
    from engine.hotwin import hot_predicate

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c"), (3, "d")], "k long, v string"
    )
    # 10k keys: must analyze instantly (InSet), not build a 10k-deep OR tree
    big = hot_predicate("k", list(range(10_000)))
    assert df.where(big).count() == 3
    assert str(big).startswith("Column<'in(k, ")  # single In expr, no OR tree

    with_null = hot_predicate("k", [1, None])
    got = {r["v"] for r in df.where(with_null).collect()}
    assert got == {"a", "c"}

    cold = df.where(~F.coalesce(hot_predicate("k", [1, None]), F.lit(False)))
    assert {r["v"] for r in cold.collect()} == {"b", "d"}

    # composite keys keep the conjunction path
    comp = hot_predicate(["k", "v"], [(1, "a"), (3, "d")])
    assert df.where(comp).count() == 2
