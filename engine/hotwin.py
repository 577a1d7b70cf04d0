"""Skew-proof (time-bucketed) variants of the per-entity window operators.

A per-entity SQL window serializes each key into one task: a key holding p%
of all rows caps scaling at 1/p regardless of cluster size (Amdahl), and
AQE's skew handling covers only joins — never window functions. Requirement:
BASELINE.json:6/14 "explicit salting for skewed doc_id/source keys … skew
handled explicitly"; the salting axis that applies to windowed operators is
TIME, not a random salt (a random salt would break ordering semantics).

Pattern (same as ``asof_join(strategy="bucketed")``, engine/asof.py): split a
hot entity's timeline into fixed time buckets, run the window op within
``(entity, bucket)`` — parallel across buckets — and stitch bucket
boundaries with carry tables that hold ONE row per (entity, active bucket):

* lag/lead: the last/first k rows of each bucket are duplicated into the
  NEXT/PREVIOUS non-empty bucket (dense bucket index) as context rows, so an
  offset window inside a bucket sees exactly the rows it would have seen in
  the global window; context rows are dropped after.
* sessionize: the previous-event timestamp at a bucket's first row comes
  from a per-bucket max-ts carry; session ordinals = in-bucket flag cumsum
  + running sum of per-bucket flag totals from earlier buckets.
* expanding sums (the prefix-rolling primitive): in-bucket RANGE cumsum +
  running sum of per-bucket totals from earlier buckets.

These are not exposed directly: ``engine.plan.lower(hot_keys=...)`` routes
the hot branch of a plan here (``_lower_hot_step``) when the plan does not
fit the fused chain, while cold keys keep the plain single-window plan
(zero overhead for the long tail). Equality with the plain plans is
asserted in tests/test_hotwin.py.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from engine.tstools import epoch_micros

_B = "__afg_wb"       # time bucket
_DBI = "__afg_dbi"    # dense (per-entity) bucket index
_CTX = "__afg_ctx"    # 1 = boundary context row (dropped after the window)


def _as_list(x: str | Sequence[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def with_bucket(df: DataFrame, ts: str, bucket_us: int) -> DataFrame:
    return df.withColumn(_B, F.floor(epoch_micros(ts) / F.lit(bucket_us)))


def hot_predicate(entity: str | Sequence[str], hot_keys: list) -> Column:
    """Null-safe membership predicate for the hot/cold split. ``hot_keys``
    holds scalar values for a single-column entity, tuples/Rows otherwise.

    Single-column keys compile to ``isin`` (Catalyst In/InSet — O(1) set
    probe, push-down-able, and safe for the up-to-10k-key lists
    ``engine.skew.detect_hot_keys`` returns). The old left-nested
    eqNullSafe OR chain — kept only for composite keys, which stay small —
    built a ~10k-deep expression tree that risked analyzer stack overflow
    (round-1 advice). ``isin`` never matches NULL, so a NULL hot key is
    handled with an explicit isNull branch to preserve eqNullSafe
    semantics."""
    ents = _as_list(entity)
    if len(ents) == 1:
        vals = [hk[0] if isinstance(hk, (tuple, list)) else hk for hk in hot_keys]
        nonnull = [v for v in vals if v is not None]
        pred = F.col(ents[0]).isin(nonnull) if nonnull else F.lit(False)
        if len(nonnull) < len(vals):  # a NULL key was marked hot
            pred = pred | F.col(ents[0]).isNull()
        return pred
    pred = None
    for hk in hot_keys:
        conj = None
        for k, v in zip(ents, tuple(hk)):
            c = F.col(k).eqNullSafe(F.lit(v))
            conj = c if conj is None else (conj & c)
        pred = conj if pred is None else (pred | conj)
    return pred


def bucketed_lag_features(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    cols: Iterable[str],
    lags: Sequence[int] = (1,),
    leads: Sequence[int] = (),
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """W3 for hot keys: offset windows over (entity, bucket) with k-row
    boundary context duplicated into the adjacent non-empty bucket."""
    ents = _as_list(entity)
    cols = list(cols)
    k_back = max(lags) if lags else 0
    k_fwd = max(leads) if leads else 0
    in_cols = df.columns

    d = with_bucket(df, ts, bucket_us)
    # dense per-entity bucket index — context must land in the next NON-EMPTY
    # bucket, so raw bucket ids (which may have gaps) cannot address it.
    # |idx| = entities x active buckets: tiny for hot keys.
    idx = d.select(*ents, _B).distinct()
    idx = idx.withColumn(
        _DBI, F.row_number().over(Window.partitionBy(*ents).orderBy(F.col(_B)))
    )
    d = d.join(idx, on=[*ents, _B], how="left").drop(_B)

    ts_us = epoch_micros(ts)
    parts = [d.withColumn(_CTX, F.lit(0))]
    # A bucket's context must cover the last/first k rows over ALL earlier/
    # later buckets, not just the adjacent one (a bucket may hold < k rows).
    # Dense indexing guarantees every indexed bucket is non-empty, so those k
    # rows lie within the k nearest dense buckets: replicate each bucket's
    # k-row tail/head into the next/previous k buckets (explode; ≤ k copies
    # per tail row, linear). Surplus older context cannot perturb the offsets
    # — every context row is a genuine neighbor in correct ts order.
    if k_back:
        w_desc = Window.partitionBy(*ents, _DBI).orderBy(ts_us.desc())
        parts.append(
            d.withColumn("__rn", F.row_number().over(w_desc))
            .where(F.col("__rn") <= k_back)
            .drop("__rn")
            .withColumn("__s", F.explode(F.sequence(F.lit(1), F.lit(k_back))))
            .withColumn(_DBI, F.col(_DBI) + F.col("__s"))
            .drop("__s")
            .withColumn(_CTX, F.lit(1))
        )
    if k_fwd:
        w_asc = Window.partitionBy(*ents, _DBI).orderBy(ts_us.asc())
        parts.append(
            d.withColumn("__rn", F.row_number().over(w_asc))
            .where(F.col("__rn") <= k_fwd)
            .drop("__rn")
            .withColumn("__s", F.explode(F.sequence(F.lit(1), F.lit(k_fwd))))
            .withColumn(_DBI, F.col(_DBI) - F.col("__s"))
            .drop("__s")
            .withColumn(_CTX, F.lit(1))
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)

    # context rows sort strictly before/after the bucket's real rows (their
    # timestamps fall outside the bucket's time range by construction), so
    # in-bucket lag/lead indexes exactly the global neighbors.
    w = Window.partitionBy(*ents, _DBI).orderBy(epoch_micros(ts))
    exprs = []
    for c in cols:
        for k in lags:
            exprs.append(F.lag(c, k).over(w).alias(f"{c}_lag{k}"))
        for k in leads:
            exprs.append(F.lead(c, k).over(w).alias(f"{c}_lead{k}"))
    out = u.select("*", *exprs).where(F.col(_CTX) == 0)
    return out.select(
        *in_cols,
        *[f"{c}_lag{k}" for c in cols for k in lags],
        *[f"{c}_lead{k}" for c in cols for k in leads],
    )


def bucketed_sessionize(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    gap_us: int,
    session_col: str = "session_id",
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """W4 for hot keys: gap flags with a previous-bucket max-ts carry, then
    bucket-stitched cumulative session ordinals."""
    ents = _as_list(entity)
    in_cols = df.columns
    d = with_bucket(df, ts, bucket_us)
    ts_us = epoch_micros(ts)

    w_in = Window.partitionBy(*ents, _B).orderBy(ts_us)
    prev_in = F.lag(ts_us).over(w_in)
    bmax = d.groupBy(*ents, _B).agg(F.max(ts_us).alias("__bmax"))
    w_c = (
        Window.partitionBy(*ents)
        .orderBy(F.col(_B))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = bmax.withColumn("__prev_c", F.max("__bmax").over(w_c)).select(
        *ents, _B, "__prev_c"
    )
    d = d.join(carry, on=[*ents, _B], how="left")
    prev_us = F.coalesce(prev_in, F.col("__prev_c"))
    d = d.withColumn(
        "__flag",
        F.when(prev_us.isNull() | ((ts_us - prev_us) > gap_us), 1).otherwise(0),
    )
    in_cum = F.sum("__flag").over(
        w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ftot = d.groupBy(*ents, _B).agg(F.sum("__flag").alias("__ft"))
    offs = ftot.withColumn("__off", F.sum("__ft").over(w_c)).select(
        *ents, _B, "__off"
    )
    d = d.withColumn("__in_cum", in_cum).join(offs, on=[*ents, _B], how="left")
    d = d.withColumn(
        session_col,
        (F.col("__in_cum") + F.coalesce(F.col("__off"), F.lit(0))).cast("long"),
    )
    return d.select(*in_cols, session_col)


def bucketed_forward_fill(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    cols: Iterable[str],
    out_suffix: str = "_ffill",
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """W1 for hot keys: expanding last-non-null = in-bucket ffill, with the
    per-bucket last non-null value forward-filled across buckets as carry."""
    ents = _as_list(entity)
    cols = list(cols)
    in_cols = df.columns
    d = with_bucket(df, ts, bucket_us)
    ts_us = epoch_micros(ts)
    w_in = (
        Window.partitionBy(*ents, _B)
        .orderBy(ts_us)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_c = (
        Window.partitionBy(*ents)
        .orderBy(F.col(_B))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # per-bucket last non-null value: max_by ignores rows with a NULL
    # ordering key, so nulls never win
    blast = d.groupBy(*ents, _B).agg(
        *[
            F.max_by(F.col(c), F.when(F.col(c).isNotNull(), ts_us)).alias(f"__bl_{c}")
            for c in cols
        ]
    )
    carry = blast.select(
        *ents,
        _B,
        *[
            F.last(f"__bl_{c}", ignorenulls=True).over(w_c).alias(f"__cc_{c}")
            for c in cols
        ],
    )
    d = d.join(carry, on=[*ents, _B], how="left")
    for c in cols:
        d = d.withColumn(
            c + out_suffix,
            F.coalesce(
                F.last(c, ignorenulls=True).over(w_in), F.col(f"__cc_{c}")
            ),
        )
    return d.select(*in_cols, *[c + out_suffix for c in cols])


def bucketed_cumulative_stats(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    aggs: dict[str, Sequence[str]],
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """W7 for hot keys. sum/count stitch via per-bucket totals; min/max
    decompose for EXPANDING frames (running min = min(in-bucket running min,
    carry min)) — unlike sliding frames, where they don't."""
    ents = _as_list(entity)
    in_cols = df.columns
    d = with_bucket(df, ts, bucket_us)
    ts_us = epoch_micros(ts)
    w_in = (
        Window.partitionBy(*ents, _B)
        .orderBy(ts_us)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_c = (
        Window.partitionBy(*ents)
        .orderBy(F.col(_B))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot_exprs, carry_exprs, seen = [], [], set()

    def need_partial(c, n):
        nm = f"__t_{c}_{n}"
        if nm in seen:
            return
        seen.add(nm)
        base = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}[n]
        tot_exprs.append(base(c).alias(nm))
        merge = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}[n]
        carry_exprs.append(merge(nm).over(w_c).alias(f"__o_{c}_{n}"))

    for c, names in aggs.items():
        for n in names:
            if n in ("sum", "count", "min", "max"):
                need_partial(c, n)
            elif n == "avg":
                need_partial(c, "sum")
                need_partial(c, "count")
            else:
                raise ValueError(f"unsupported cumulative agg: {n}")
    tot = d.groupBy(*ents, _B).agg(*tot_exprs)
    carry = tot.select(*ents, _B, *carry_exprs)
    d = d.join(carry, on=[*ents, _B], how="left")
    out_cols = []
    for c, names in aggs.items():
        for n in names:
            o = f"{c}_cum{n}"
            out_cols.append(o)
            if n == "count":
                d = d.withColumn(
                    o,
                    (F.count(c).over(w_in)
                     + F.coalesce(F.col(f"__o_{c}_count"), F.lit(0))).cast("long"),
                )
            elif n == "sum":
                in_s = F.sum(c).over(w_in)
                off = F.col(f"__o_{c}_sum")
                d = d.withColumn(
                    o,
                    F.when(
                        in_s.isNull() & off.isNull(), F.lit(None)
                    ).otherwise(F.coalesce(in_s, F.lit(0)) + F.coalesce(off, F.lit(0))),
                )
            elif n == "min":
                d = d.withColumn(
                    o, F.least(F.min(c).over(w_in), F.col(f"__o_{c}_min"))
                )
            elif n == "max":
                d = d.withColumn(
                    o, F.greatest(F.max(c).over(w_in), F.col(f"__o_{c}_max"))
                )
            elif n == "avg":
                cnt = F.count(c).over(w_in) + F.coalesce(
                    F.col(f"__o_{c}_count"), F.lit(0)
                )
                sm = F.coalesce(F.sum(c).over(w_in), F.lit(0)) + F.coalesce(
                    F.col(f"__o_{c}_sum"), F.lit(0)
                )
                d = d.withColumn(o, F.when(cnt > 0, sm / cnt))
    return d.select(*in_cols, *out_cols)


def bucketed_expanding_sums(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    specs: dict[str, Column],
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """Expanding (RANGE unboundedPreceding..currentRow, peer-inclusive)
    per-entity sums, bucket-stitched: in-bucket range cumsum + running sum
    of earlier buckets' totals.

    NULL caveat: an all-null prefix yields 0, not SQL-NULL — callers must
    gate on a count spec (the prefix-rolling finals do), or use never-null
    addends.
    """
    ents = _as_list(entity)
    d = with_bucket(df, ts, bucket_us)
    ts_us = epoch_micros(ts)
    w_in = (
        Window.partitionBy(*ents, _B)
        .orderBy(ts_us)
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    w_c = (
        Window.partitionBy(*ents)
        .orderBy(F.col(_B))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot = d.groupBy(*ents, _B).agg(
        *[F.sum(expr).alias(f"__t_{name}") for name, expr in specs.items()]
    )
    offs = tot.select(
        *ents,
        _B,
        *[
            F.sum(f"__t_{name}").over(w_c).alias(f"__o_{name}")
            for name in specs
        ],
    )
    for name, expr in specs.items():
        d = d.withColumn(f"__i_{name}", F.sum(expr).over(w_in))
    d = d.join(offs, on=[*ents, _B], how="left")
    for name in specs:
        d = d.withColumn(
            name,
            F.coalesce(F.col(f"__i_{name}"), F.lit(0))
            + F.coalesce(F.col(f"__o_{name}"), F.lit(0)),
        ).drop(f"__i_{name}", f"__o_{name}")
    return d.drop(_B)
