"""Fused feature chain: as-of + lag/lead + sessionize + prefix rolling in
TWO wide shuffles — with an optional built-in hot/cold skew split.

Why this exists: the hybrid skew split routes hot entities through the
time-bucketed operators in ``engine.hotwin`` / ``engine.asof``. Each of
those is correct and individually skew-proof, but each pays its own wide
exchange, carry aggregation, and carry join — chained, the hot branch of the
flagship pipeline compiled to ~10 wide shuffles plus 2 plan-truncation
checkpoints, and its wall time was dominated by per-stage fixed costs that
do not shrink with cores (measured ~0.5 scaling efficiency 4→16 cores for
the hot branch while the cold chain sat near the CPU ceiling).

The fusion observation: every op in the chain wants the SAME physical
layout — rows hash-clustered by ``(entity, time_bucket)`` and sorted by
event time. Spark evaluates any number of window expressions over one
partitioning+ordering in a single Window operator without re-shuffling, so
the whole chain collapses to:

* **Exchange 1** — the tagged probe∪state union, clustered by
  ``(entity, bucket)`` and sorted once. Two window passes share that
  order: the first resolves every row's in-bucket as-of payload, the
  previous probe's ts and the probe ordinal; the second computes each
  probe's in-bucket features (expanding range cums for the rolling
  partials, session flags, the last k rows for lags, fills) and each
  bucket's totals. Probe rows plus one totals row per bucket are persisted.
* **Carry table** — one row per (entity, bucket holding probes), built in
  one ordered pass per entity over its bucket totals (an aggregation and a
  fold: no window, no shuffle of the frame). It holds the state carried
  INTO the bucket: the payload of the last earlier state row, the session
  count, the running partial totals, the last fill values, the last k
  rows and the cutoff start offsets. A bucket's probes that precede its
  first state row all resolve to the carried payload, so each bucket total
  is the in-bucket value plus (#such probes × the carry), known in the
  same step. |entities × buckets| rows, broadcast-joined to the probes.
* **Exchange 2** — the prefix-rolling cutoff resolution: each feature row
  explodes into (state@ts, probe@ts−W−1µs) roles clustered by
  ``(entity, bucket_of_role_key)``; one sorted pass resolves the cutoff
  cums; a cutoff whose bucket holds no earlier feature row starts from the
  carried start offset.

The plan is kept small enough for Spark's generated-class cache (100
entries by default): a routed execution compiles at most 60 classes
(asserted in tests/test_fused.py and scripts/audit_plans.py), so a repeated
execution recompiles nothing. E1 and E2 rows share their leading columns,
so both exchanges, sorts and window keys reuse the same classes.

**Hybrid mode (``hot_keys=``)** — the whole-pipeline skew split collapses
into the SAME two exchanges: the bucket id becomes
``B = hot(entity) ? floor(ts/bucket) : 0``, so hot entities are time-split
across tasks while every cold entity keeps a single per-entity group
(exactly the plain single-window plan). The carry table is built from the
hot buckets only; cold rows miss in the carry join and coalesce to the
no-earlier-bucket defaults — which is precisely their semantics. Compared
to the two-branch split (cold chain ∪ per-op bucketed hot chain), this
removes the duplicate input scans, the hot branch's ~10 fixed-cost stages
and the branch persists: the big data makes exactly one pass through each
exchange. The carry table stays |hot_keys × active buckets| rows — size
``bucket`` so that stays broadcastable (e.g. 10k hot keys × 120 buckets).

Semantics are IDENTICAL to composing the public operators
(``asof_join`` → ``lag_features`` → ``sessionize`` →
``rolling_aggregates(method="prefix")``); tests/test_fused.py asserts
row-level equality against that composition, in both modes. Determinism
requires unique ``(entity, ts)`` probe rows (same as the composed ops —
window ordering among exact ties is engine-chosen either way).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.asof import _PAYLOAD, _TAG, _TS_KEY, _tagged_union
from engine.cache import tracked_persist
from engine.hotwin import hot_predicate
from engine.window_ops import parse_duration_seconds

_B = "__fx_b"
_SK = "__fx_sk"


def _as_list(x: str | Sequence[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def _empty_like(col: Column) -> Column:
    """Typed empty array matching ``col``'s element type."""
    return F.slice(col, 1, 0)


def _sum_type(dt: T.DataType) -> T.DataType:
    """Type of a running total of ``dt`` values (as Spark's ``sum``)."""
    if isinstance(dt, T.DecimalType):
        return T.DecimalType(38, dt.scale)
    return T.DoubleType() if isinstance(dt, T.FractionalType) else T.LongType()


def fused_feature_chain(
    probes: DataFrame,
    state: DataFrame,
    on: str | Sequence[str],
    probe_ts: str = "ts",
    state_ts: str | None = None,
    values: Sequence[str] | None = None,
    suffix: str = "",
    strict: bool = False,
    lag_cols: Sequence[str] = (),
    lags: Sequence[int] = (1,),
    session_gap: str | int | float | None = None,
    session_col: str = "session_id",
    rolling: dict[str, Sequence[str]] | None = None,
    rolling_window: str | int | float = "1 day",
    bucket: str | int | float = "6 hours",
    hot_keys: Sequence | None = None,
    ffill_cols: Sequence[str] = (),
    ffill_suffix: str = "_ffill",
) -> DataFrame:
    """Fused feature chain over ``probes`` against ``state``.

    Equivalent to::

        f = asof_join(probes, state, on, probe_ts, state_ts, values,
                      strict=strict, suffix=suffix)           # any strategy
        f = forward_fill(f, on, probe_ts, ffill_cols, ffill_suffix)  # W1
        f = lag_features(f, on, probe_ts, lag_cols, lags=lags)
        f = sessionize(f, on, probe_ts, gap=session_gap)      # if gap given
        f = rolling_aggregates(f, on, probe_ts, rolling,
                               window=rolling_window, method="prefix")

    but compiled to two wide shuffles total. ``lag_cols`` name columns AFTER
    the as-of suffix is applied (e.g. ``fvalue_last``); ``rolling`` maps
    those names to agg lists among {count, sum, avg, mean, stddev}.
    ``ffill_cols`` forward-fill existing probe/as-of columns in the same
    windows (in-bucket ``last(ignorenulls)`` + a per-bucket last-non-null
    carry, forward-filled over the bucket axis); ``lag_cols``/``rolling``
    must not reference the ffill OUTPUT columns (fill first yourself, or
    use the composed operators) — ffill outputs are assembled after the
    in-bucket lag/cum expressions.

    ``hot_keys=None`` buckets EVERY entity by time (the pure hot-branch
    plan — feed it pre-filtered hot slices). ``hot_keys=[...]`` is the
    whole-pipeline hybrid: listed entities are time-bucketed, everything
    else runs as a plain per-entity group in the same two exchanges, and
    the carry table is built from the hot buckets only.
    An empty list means "no skew": the plan degenerates to the plain
    single-window chain.
    """
    keys = _as_list(on)
    state_ts = state_ts or probe_ts
    if values is None:
        values = [c for c in state.columns if c not in set(keys) | {state_ts}]
    values = list(values)
    out_names = [v + suffix for v in values]
    lag_cols = list(lag_cols)
    ffill_cols = list(ffill_cols)
    bad_ff = {c + ffill_suffix for c in ffill_cols} & (
        set(lag_cols) | set(rolling or {})
    )
    if bad_ff:
        raise ValueError(
            f"fused chain cannot lag/roll over ffill outputs {sorted(bad_ff)}"
        )
    lags = sorted(set(int(k) for k in lags))
    k_max = max(lags) if lags and lag_cols else 0
    bucket_us = int(parse_duration_seconds(bucket) * 1_000_000)
    gap_us = (
        int(parse_duration_seconds(session_gap) * 1_000_000)
        if session_gap is not None
        else None
    )
    win_us = int(parse_duration_seconds(rolling_window) * 1_000_000)
    rolling = rolling or {}
    decomposable = {"count", "sum", "avg", "mean", "stddev"}
    bad = [n for ns in rolling.values() for n in ns if n not in decomposable]
    if bad:
        raise ValueError(f"fused chain cannot compute rolling {bad} (prefix method)")
    rsuffix = (
        rolling_window.replace(" ", "")
        if isinstance(rolling_window, str)
        else f"{int(rolling_window)}s"
    )

    if hot_keys is not None and not list(hot_keys):
        # Degenerate case (r3 verdict #3): an empty hot list means no entity
        # needs time-splitting, so the two-exchange scaffolding (carry
        # aggregations, the E2 role explode's second shuffle of 2× rows)
        # protects nothing — at 500k docs it measured 1.6× the plain chain.
        # Emit the plain ONE-exchange composition instead: every window op
        # below shares partitionBy(entity), so Catalyst plans a single
        # Exchange + sorts (the rolling prefix resolve re-sorts, no
        # re-shuffle). The composed ops are the semantic definition the
        # fused plan is equality-tested against, so this is by construction
        # identical. (Since the 2026-08-19 threshold recalibration this
        # path also runs at fact scale; a compound xxhash64 sort-prefix key
        # like the fused plan's _SK was tried here and MEASURED OUT — an
        # interleaved same-session A/B showed parity-within-noise at 8M
        # docs/16 cores and a consistent 25-35% cost at 500k docs across
        # two sessions, so the plain keys stay. The _SK win lives in the
        # fused two-exchange plan where it was measured.)
        from engine.asof import asof_join
        from engine.window_ops import (
            forward_fill,
            lag_features,
            rolling_aggregates,
            sessionize,
        )

        out = asof_join(
            probes, state, on=keys, probe_ts=probe_ts, state_ts=state_ts,
            values=values, strict=strict, suffix=suffix, strategy="union",
        )
        if ffill_cols:
            out = forward_fill(
                out, keys, probe_ts, ffill_cols, out_suffix=ffill_suffix
            )
        if lag_cols:
            out = lag_features(out, keys, probe_ts, lag_cols, lags=lags)
        if session_gap is not None:
            out = sessionize(
                out, keys, probe_ts, gap=session_gap, session_col=session_col
            )
        if rolling:
            out = rolling_aggregates(
                out, keys, probe_ts, rolling,
                window=rolling_window, method="prefix",
            )
        keep = [
            *keys,
            *[c for c in probes.columns if c not in keys],
            *out_names,
            *[c + ffill_suffix for c in ffill_cols],
            *[f"{c}_lag{k}" for c in lag_cols for k in lags],
            *([session_col] if session_gap is not None else []),
            *[f"{c}_{n}_{rsuffix}" for c, ns in rolling.items() for n in ns],
        ]
        return out.select(*keep)

    pred: Column | None = None
    if hot_keys is not None:
        hot_keys = list(hot_keys)
        pred = hot_predicate(on, hot_keys) if hot_keys else F.lit(False)

    def time_b(col: Column) -> Column:
        return F.floor(col / F.lit(bucket_us))

    def bucket_of(col: Column) -> Column:
        """Hybrid: only hot entities are time-split; a cold entity keeps one
        group (B=0), making its in-bucket window the complete computation."""
        if pred is None:
            return time_b(col)
        return F.when(pred, time_b(col)).otherwise(F.lit(0))

    # rolling partials — identical to rolling_aggregates(method="prefix");
    # name -> (kind, column), ``addend`` maps a value to its partial
    partials: dict[str, tuple[str, str]] = {}
    for c, names in rolling.items():
        partials[f"__cn_{c}"] = ("n", c)
        if set(names) & {"sum", "avg", "mean", "stddev"}:
            partials[f"__cs_{c}"] = ("s", c)
        if "stddev" in names:
            partials[f"__cq_{c}"] = ("q", c)

    def addend(kind: str, x: Column) -> Column:
        if kind == "n":
            return F.when(x.isNotNull(), F.lit(1)).otherwise(F.lit(0))
        return x if kind == "s" else x * x

    # ---- Exchange 1: one scan, one shuffle, both tags retained ----------
    # The probe∪state union is hash-clustered by (entity, B) and sorted
    # once. Two window passes share that order (no re-shuffle, no re-sort):
    # the first resolves the in-bucket as-of payload of every row (for a
    # state row it is its own payload), the previous probe's ts and the
    # probe ordinal; the second computes every in-bucket feature over the
    # probe rows (prefix cums, session flags, lags, fills) and, over the
    # whole bucket, the per-bucket totals the carry table is built from.
    unioned, probe_cols = _tagged_union(
        probes, state, keys, probe_ts, state_ts, values, out_names,
        with_state_ts=False,
    )
    unioned = unioned.withColumn(_B, bucket_of(F.col(_TS_KEY)))
    # Sort-key prefix hardening: corpus entity keys routinely share a long
    # common prefix (doc%012d here; URLs/paths in real corpora), so Spark's
    # 8-byte sort-prefix comparator never discriminates and EVERY comparison
    # in the fact-scale window sorts falls through to a full string compare.
    # A leading 64-bit hash of the keys makes the prefix decisive for ~all
    # comparisons (equal hashes fall back to the real key, so grouping is
    # exact). The hash is a pure function of the keys: window groups and
    # exchange co-location are unchanged.
    unioned = unioned.withColumn(_SK, F.xxhash64(*keys))
    # E1 and E2 rows both lead with (_SK, keys, bucket, ts, tag) so the two
    # exchanges, sorts and window groupings compile to the same classes
    lead_cols = [_SK, *keys, _B, _TS_KEY, _TAG]
    unioned = unioned.select(
        *lead_cols, *[c for c in unioned.columns if c not in lead_cols]
    )
    tie = F.col(_TAG).asc() if not strict else F.col(_TAG).desc()
    w_in = Window.partitionBy(_SK, *keys, _B).orderBy(F.col(_TS_KEY).asc(), tie)
    earlier = w_in.rowsBetween(Window.unboundedPreceding, -1)
    ts = F.col(_TS_KEY)
    is_p = F.col(_TAG) == 1
    first = F.col("__first")
    mid = unioned.withColumns({
        _PAYLOAD: F.coalesce(_PAYLOAD, F.last(_PAYLOAD, ignorenulls=True).over(earlier)),
        "__prn": F.count(F.when(is_p, F.lit(1))).over(earlier),
        "__first": F.count(F.lit(1)).over(earlier) == 0,
        **({"__pts": F.last(F.when(is_p, ts), ignorenulls=True).over(earlier)}
           if gap_us is not None else {}),
    })

    def v_in(c: str) -> Column:
        """A probe's in-bucket value of ``c`` (as-of outputs are null on the
        bucket's leading probes, which take the carried payload instead)."""
        return F.when(is_p, F.col(_PAYLOAD).getField(c) if c in out_names else F.col(c))

    # the session flag against the bucket's previous probe (null on its
    # first probe, whose flag comes from the carry)
    if gap_us is not None:
        pts = F.col("__pts")
        mid = mid.withColumn(
            "__fl", F.when(is_p & pts.isNotNull(), (ts - pts > gap_us).cast("int"))
        )
    if k_max:
        mid = mid.withColumn("__lgsrc", F.when(is_p, F.struct(
            F.col(_PAYLOAD).isNull().alias("__l"), *[v_in(c).alias(c) for c in lag_cols]
        )))
    upto = w_in.rangeBetween(Window.unboundedPreceding, 0)
    whole = w_in.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    row_cols = {
        "__np": F.count(F.when(is_p, F.lit(1))).over(upto),
        **{f"__cum_{p}": F.sum(addend(k, v_in(c))).over(upto) for p, (k, c) in partials.items()},
        **{f"__ff_{c}": F.last(v_in(c), ignorenulls=True).over(
            w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow))
           for c in ffill_cols},
    }
    if gap_us is not None:
        row_cols["__sess"] = F.sum("__fl").over(upto)
    prn = F.col("__prn")
    if k_max:
        # the bucket's last k_max probes before the row: each holds a
        # distinct residue of its probe ordinal mod k_max and is the latest
        # probe of that residue (the k-th earlier probe has residue prn - k)
        row_cols["__lgs"] = F.array(*[
            F.max_by(F.col("__lgsrc"), F.when(is_p & (prn % k_max == m), prn)).over(earlier)
            for m in range(k_max)
        ])
    # per-bucket totals (kept on the bucket's first row only)
    bucket_cols = {
        # last state payload; ties resolved as in engine.asof._asof_bucketed
        "__pay": F.max_by(F.col(_PAYLOAD), F.when(~is_p, F.struct(ts, F.col(_PAYLOAD)))),
        "__nl": F.count(F.when(is_p & F.col(_PAYLOAD).isNull(), F.lit(1))),
        "__min_ts": F.min(F.when(is_p, ts)),
        "__max_ts": F.max(F.when(is_p, ts)),
        **({"__fin": F.sum("__fl")} if gap_us is not None else {}),
        **{f"__in{p}": F.sum(addend(k, v_in(c))) for p, (k, c) in partials.items()},
        # last non-null fill value; ties broken on the value (deterministic)
        **{f"__ffi_{c}": F.max_by(v_in(c), F.when(v_in(c).isNotNull(), F.struct(ts, v_in(c))))
           for c in ffill_cols},
    }
    bucket_cols = {n: e.over(whole) for n, e in bucket_cols.items()}
    if k_max:
        # the bucket's last k_max probes, picked the same way
        tail_row = F.struct(ts.alias("__t"), *[
            F.col("__lgsrc")[f].alias(f) for f in ("__l", *lag_cols)
        ])
        bucket_cols["__tail"] = F.array_sort(F.array_compact(F.array(*[
            F.max_by(tail_row, F.when(is_p & (prn % k_max == m), prn)).over(whole)
            for m in range(k_max)
        ])))
    mid = mid.select(
        *[c for c in mid.columns if c not in ("__pts", "__fl", "__lgsrc")],
        *[e.alias(n) for n, e in row_cols.items()],
        *[F.when(first, e).alias(n) for n, e in bucket_cols.items()],
    )
    # Persist what the two consumers read: every probe row, plus the first
    # row of each (hot) bucket, which carries the per-bucket totals. The
    # filter runs in the same stage as the windows, and no consumer needs
    # the cache's partitioning, so nothing is shuffled again.
    carry_row = first if pred is None else first & pred
    mid_all = tracked_persist(mid.where(is_p | carry_row))

    # ---- carry table (tiny, broadcast): one ordered pass per hot entity --
    # A hot entity's per-bucket totals are collected in bucket order and
    # folded once; for every bucket holding probes the fold emits the state
    # carried INTO it: the as-of payload (the last state of any earlier
    # bucket, state-only buckets included), the session count, the running
    # partial totals, the last fill values and the last k_max rows. The
    # leading probes of a bucket all resolve to the carried payload, so its
    # totals are the in-bucket values plus (#leads x the carry), known in the
    # same step. No shuffle of the frame, no window: one aggregation, and a
    # fold linear in the entity's active buckets (plus the pointer copies of
    # its growing output array).
    items = mid_all.where(carry_row).groupBy(_SK, *keys).agg(
        F.array_sort(F.collect_list(F.struct(_B, *bucket_cols))).alias("__ax")
    )
    x0 = F.element_at("__ax", 1)  # typed template for the fold's zero

    def lead(c: str, carry: Column) -> Column | None:
        """The value every leading probe of a bucket takes for ``c``."""
        return carry.getField(c) if c in out_names else None

    def tot(p: str, x: Column, carry: Column) -> Column:
        k, c = partials[p]
        t = F.coalesce(x[f"__in{p}"], F.lit(0))
        if lead(c, carry) is None:
            return t
        return t + F.coalesce(x["__nl"] * addend(k, lead(c, carry)), F.lit(0))

    def resolve_tail(tail: Column, carry: Column) -> Column:
        return F.transform(tail, lambda t: F.struct(*[
            (F.when(t["__l"], lead(c, carry)).otherwise(t[c]) if c in out_names else t[c])
            .alias(c) for c in lag_cols
        ]))

    sum_t = items.select(
        *[tot(p, x0, x0["__pay"]).alias(p) for p in partials]
    ).schema
    zero = {"carry": F.when(F.lit(False), x0["__pay"])}
    if gap_us is not None:
        zero["prev_ts"] = F.lit(None).cast("long")
        zero["sess"] = F.lit(0).cast("long")
    if partials:
        zero["__off"] = F.struct(*[
            F.lit(0).cast(_sum_type(sum_t[p].dataType)).alias(p) for p in partials
        ])
    for c in ffill_cols:
        zero[f"__ffo_{c}"] = F.when(F.lit(False), x0[f"__ffi_{c}"])
    if k_max:
        zero["hist"] = _empty_like(resolve_tail(x0["__tail"], x0["__pay"]))

    def emit(s: Column, x: Column) -> Column:
        """The carry row of bucket ``x`` given the state ``s`` before it."""
        cols = [x[_B].alias(_B), s["carry"].alias("__carry"), x["__nl"].alias("__nl")]
        if gap_us is not None:
            # the bucket's first probe opens a session unless the previous
            # probe (in an earlier bucket) lies within the gap
            first_flag = F.when(
                s["prev_ts"].isNull() | (x["__min_ts"] - s["prev_ts"] > gap_us), F.lit(1)
            ).otherwise(F.lit(0))
            cols.append((s["sess"] + first_flag).alias("__sess0"))
        cols += [s[n].alias(n) for n in zero if n.startswith("__")]  # totals, fills
        if k_max:
            cols.append(s["hist"].alias("__prevk"))
        return F.struct(*cols)

    def step(s: Column, x: Column) -> Column:
        carry = s["carry"]
        o = emit(s, x)
        has_p = x["__max_ts"].isNotNull()
        nxt = {"carry": F.coalesce(x["__pay"], carry)}
        if gap_us is not None:
            # a state-only bucket opens no session
            nxt["prev_ts"] = F.coalesce(x["__max_ts"], s["prev_ts"])
            nxt["sess"] = F.when(
                has_p, o["__sess0"] + F.coalesce(x["__fin"], F.lit(0))
            ).otherwise(s["sess"])
        if partials:
            nxt["__off"] = F.struct(*[
                (s["__off"][p] + tot(p, x, carry)).cast(_sum_type(sum_t[p].dataType)).alias(p)
                for p in partials
            ])
        for c in ffill_cols:
            ffb = x[f"__ffi_{c}"]
            if lead(c, carry) is not None:
                ffb = F.coalesce(ffb, F.when(x["__nl"] > 0, lead(c, carry)))
            nxt[f"__ffo_{c}"] = F.coalesce(ffb, s[f"__ffo_{c}"])
        if k_max:
            cat = F.concat(s["hist"], resolve_tail(x["__tail"], carry))
            n = F.size(cat)
            nxt["hist"] = F.when(n > k_max, F.slice(cat, n - k_max + 1, k_max)).otherwise(cat)
        out = F.when(has_p, F.concat(s["out"], F.array(o))).otherwise(s["out"])
        return F.struct(*[e.alias(n) for n, e in nxt.items()], out.alias("out"))

    zero_s = [e.alias(n) for n, e in zero.items()]
    zero_out = _empty_like(F.array(emit(F.struct(*zero_s), x0)))
    rows = F.aggregate("__ax", F.struct(*zero_s, zero_out.alias("out")), step)["out"]
    # start offsets for E2: a cutoff of a row in bucket B lands in bucket
    # B-kh or B-kh-1; when that bucket holds no earlier feature row its base
    # is the running total before the first feature bucket at or after it,
    # which lies within the kh + 1 buckets before B.
    kh = (win_us + 1) // bucket_us
    if partials:
        names = [f.name for f in items.select(zero_out).schema[0].dataType.elementType]
        rows = F.transform(rows, lambda e, i: F.struct(*[e[n].alias(n) for n in names], *[
            F.element_at(F.filter(
                F.slice(rows, F.greatest(i - kh - 1, F.lit(0)) + 1, kh + 2),
                lambda o: o[_B] >= e[_B] - kh - j,
            ), 1)["__off"].alias(f"__so{j}")
            for j in (0, 1)
        ]))
    carry = items.select(_SK, *keys, F.explode(rows).alias("__r")).select(
        _SK, *keys, "__r.*"
    )

    # ---- main chain: probe rows + carry, no further window --------------
    # Cold rows in hybrid mode miss the carry join: every carried column is
    # null and falls back to the no-earlier-bucket default, which is exactly
    # the semantics of their single per-entity group.
    out = mid_all.where(is_p).drop(*bucket_cols).join(
        F.broadcast(carry), on=[_SK, *keys, _B], how="left"
    )
    carried = F.col("__carry")
    pay = F.coalesce(F.col(_PAYLOAD), carried)
    out = out.withColumns({n: pay.getField(n) for n in out_names})
    # leading probes up to a row: the first min(#probes so far, __nl)
    n_lead = F.least(F.col("__np"), F.coalesce(F.col("__nl"), F.lit(0)))

    def cum(p: str) -> Column:
        """In-bucket prefix cum of partial ``p`` over the resolved values."""
        k, c = partials[p]
        in_b = F.coalesce(F.col(f"__cum_{p}"), F.lit(0))
        if lead(c, carried) is None:
            return in_b
        return in_b + F.coalesce(n_lead * addend(k, lead(c, carried)), F.lit(0))

    # ffill finals: in-bucket fill, else the leads' carried value, else the
    # cross-bucket fill.
    ffill_names = [c + ffill_suffix for c in ffill_cols]
    out = out.withColumns({
        c + ffill_suffix: F.coalesce(
            F.col(f"__ff_{c}"),
            *([F.when(F.col("__nl") > 0, lead(c, carried))] if c in out_names else []),
            F.col(f"__ffo_{c}"),
        )
        for c in ffill_cols
    })

    # lag finals: the in-bucket lag (a leading row takes the carry), else
    # the (k − #earlier probes)-th row from the end of the cross-bucket tail.
    lag_names = []
    lag_exprs = {}
    for c in lag_cols:
        for k in lags:
            name = f"{c}_lag{k}"
            lag_names.append(name)
            lg = F.get(F.col("__lgs"), F.pmod(prn - k, F.lit(k_max)))
            own = lg.getField(c)
            if c in out_names:
                own = F.when(lg.getField("__l"), lead(c, carried)).otherwise(own)
            idx = F.size(F.col("__prevk")) - (F.lit(k) - prn)
            lag_exprs[name] = F.when(prn >= k, own).otherwise(
                F.get(F.col("__prevk"), idx).getField(c)
            )
    out = out.withColumns(lag_exprs)

    # session ids: in-bucket flag sum + the bucket's first flag (1 without an
    # earlier bucket) + running earlier-bucket totals.
    if gap_us is not None:
        out = out.withColumn(
            session_col,
            (
                F.coalesce(F.col("__sess"), F.lit(0)) + F.coalesce(F.col("__sess0"), F.lit(1))
            ).cast("long"),
        )

    # stitched global prefix cums (peer-inclusive)
    out = out.withColumns({
        f"__st_{p}": cum(p) + F.coalesce(F.col("__off")[p], F.lit(0)) for p in partials
    })

    keep = [
        *keys,
        *[c for c in probe_cols if c not in keys],
        *out_names,
        *ffill_names,
        *lag_names,
        *([session_col] if gap_us is not None else []),
    ]
    if not partials:
        return out.select(*keep)

    # ---- Exchange 2: cutoff resolution for the rolling prefix -----------
    # Byte discipline (r4): only the CUT rows (side 1) survive to the output,
    # so every pass-through column (probe payload, as-of strings, lag/session
    # results, the start offset, and the __st_ partials that side 0 already
    # carries inside __pay) is NULLED on side 0 before the exchange. UnsafeRow
    # omits variable-length data for null fields, so this roughly halves the
    # variable bytes the 2×-row explode pushes through the second shuffle (the
    # r3 protocol's residual 4→16 decay was memory bandwidth). _TS_KEY is
    # dropped entirely (its information lives on in __key).
    out = out.withColumn(
        "__sob",
        F.when(time_b(ts - F.lit(win_us + 1)) == F.col(_B) - kh, F.col("__so0"))
        .otherwise(F.col("__so1")),
    )
    pay2 = F.struct(*[F.col(f"__st_{p}").alias(p) for p in partials])
    role = F.explode(
        F.array(
            F.struct(
                F.lit(0).alias("__side"),
                F.col(_TS_KEY).alias("__key"),
                pay2.alias("__pay"),
            ),
            F.struct(
                F.lit(1).alias("__side"),
                (F.col(_TS_KEY) - F.lit(win_us + 1)).alias("__key"),
                F.when(F.lit(False), pay2).alias("__pay"),
            ),
        )
    )
    passthrough = [c for c in keep if c not in keys] + [
        f"__st_{p}" for p in partials
    ] + ["__sob"]
    e = out.select(
        _SK,
        *keys,
        *passthrough,
        role.alias("__role"),
    )
    e = e.select("*", "__role.__side", "__role.__key", "__role.__pay").drop("__role")
    is_cut = F.col("__side") == 1
    e = e.select(
        _SK,
        *keys,
        bucket_of(F.col("__key")).alias("__rb"),
        "__key",
        "__side",
        "__pay",
        *[F.when(is_cut, F.col(c)).alias(c) for c in passthrough],
    )
    w_res = (
        Window.partitionBy(_SK, *keys, "__rb")
        .orderBy(F.col("__key").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    resolved = e.withColumn("__base", F.last("__pay", ignorenulls=True).over(w_res))
    cut = resolved.where(F.col("__side") == 1)
    # a cutoff with no earlier feature row in its bucket starts from the
    # carried start offset (hot rows only: a cold cutoff shares its rows'
    # single bucket, so a missing base correctly falls back to zero)
    base = F.coalesce(F.col("__base"), F.col("__sob"))

    def minus(p: str) -> Column:
        return F.col(f"__st_{p}") - F.coalesce(base.getField(p), F.lit(0))

    final = cut
    roll_names = []
    for c, names in rolling.items():
        n_w = minus(f"__cn_{c}")
        s_w = minus(f"__cs_{c}") if f"__cs_{c}" in partials else None
        for n in names:
            o = f"{c}_{n}_{rsuffix}"
            roll_names.append(o)
            if n == "count":
                final = final.withColumn(o, n_w.cast("long"))
            elif n == "sum":
                final = final.withColumn(o, F.when(n_w > 0, s_w))
            elif n in ("avg", "mean"):
                final = final.withColumn(o, F.when(n_w > 0, s_w / n_w))
            elif n == "stddev":
                q_w = minus(f"__cq_{c}")
                var = (q_w - s_w * s_w / n_w) / (n_w - F.lit(1))
                final = final.withColumn(
                    o, F.when(n_w > 1, F.sqrt(F.greatest(var, F.lit(0.0))))
                )
    return final.select(*keep, *roll_names)
