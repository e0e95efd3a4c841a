"""Time-series resampling and cohort analytics over event streams.

The OLAP surfaces a telemetry/event corpus needs beyond plain windowed
aggregation: dense regular time grids (gap-fill — downstream charting
and ML featurization require a row per bucket, present or not) and
cohort retention matrices (the product-analytics staple).

Spark-first: the time grid is ``sequence()`` + ``explode`` over each
key's observed span (codegen — no driver-side calendar), joined against
the bucketed aggregate; retention is two aggregates over the same scan.
Everything is engine-portable integer arithmetic on epoch seconds, so
the driver queries hash bit-exactly against SQL replays.

100 TB notes: the grid explode is bounded by span/interval per key —
size the interval so a key's grid fits a task (a year of hourly buckets
is 8.8k rows); the gap-fill join is one shuffle keyed by (key, bucket);
retention is two hash aggregates with map-side partials.

Reference parity: none (the reference has no time-series surface);
LLM-pipeline/analytics extension (SURVEY §2.12).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def epoch_bucket(ts: Column, interval_s: int) -> Column:
    """Bucket start as epoch seconds floored to the interval —
    integer arithmetic, identical in any SQL dialect.  pmod, not %:
    the remainder must be non-negative so pre-1970 instants floor to
    the bucket CONTAINING them instead of rounding toward zero."""
    secs = ts.cast("long")
    return (secs - F.pmod(secs, F.lit(interval_s))).cast("long")


def resample_counts(
    events: DataFrame,
    ts_col: str,
    key_col: str,
    interval_s: int = 3600,
    value_col: str | None = None,
) -> DataFrame:
    """Dense per-key time grid: one row per (key, bucket) for EVERY
    interval between the key's first and last event, with the bucket's
    event count (and sum of ``value_col`` if given) — zeros where the
    key was silent.  Output: (key, bucket_start, n_events[, sum_value]).

    Plan: one bucketed aggregate; one tiny per-key span aggregate whose
    grid explodes via sequence() (codegen); one left join keyed by
    (key, bucket).  The grid side is the small one — it carries no
    payload, only (key, bucket).
    """
    b = epoch_bucket(F.col(ts_col), interval_s)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col:
        aggs.append(F.sum(value_col).alias("sum_value"))
    per_bucket = (
        events.select(F.col(key_col), b.alias("bucket_start"),
                      *( [F.col(value_col)] if value_col else [] ))
        .groupBy(key_col, "bucket_start")
        .agg(*aggs)
    )
    # span derives from the SMALL per-bucket aggregate, not a second
    # scan+shuffle of the raw events (min/max of present buckets equal
    # min/max of event buckets by construction)
    span = per_bucket.groupBy(key_col).agg(
        F.min("bucket_start").alias("_lo"),
        F.max("bucket_start").alias("_hi"),
    )
    grid = span.select(
        key_col,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(interval_s))
        ).alias("bucket_start"),
    )
    fills = {"n_events": F.lit(0).cast("bigint")}
    if value_col:
        # zero literal typed from the aggregate, so a long/decimal sum
        # is not silently promoted to double by the gap fill
        fills["sum_value"] = F.lit(0).cast(
            dict(per_bucket.dtypes)["sum_value"]
        )
    out = grid.join(per_bucket, [key_col, "bucket_start"], "left")
    for c, zero in fills.items():
        out = out.withColumn(c, F.coalesce(F.col(c), zero))
    return out


def cohort_retention(
    events: DataFrame,
    ts_col: str,
    key_col: str,
    period_s: int = 86400 * 7,
) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-event
    period (the cohort), counted in every later period they return.
    Output (cohort, period_offset, n_active) — offset 0 is the cohort
    size itself; n_active at offset k = distinct users of that cohort
    seen k periods after their first.

    Two aggregates over one scan shape: first-event per user (one
    shuffle by user), then distinct users per (cohort, offset) — the
    distinct rides the same (user, cohort, offset) grouping, so no
    expensive count-distinct state.
    """
    b = epoch_bucket(F.col(ts_col), period_s)
    firsts = events.select(F.col(key_col), b.alias("_p")).groupBy(
        key_col
    ).agg(F.min("_p").alias("cohort"))
    visits = (
        events.select(F.col(key_col), b.alias("_p"))
        .distinct()
        .join(firsts, key_col)
        .select(
            key_col,
            "cohort",
            ((F.col("_p") - F.col("cohort")) / period_s)
            .cast("long")
            .alias("period_offset"),
        )
        # no second distinct: rows are already unique on (key, _p) and
        # (cohort, period_offset) is a function of (key, _p)
    )
    return visits.groupBy("cohort", "period_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )


def funnel_counts(
    events: DataFrame,
    ts_col: str,
    key_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered-funnel completion counts: a user reaches step i when an
    event of type ``steps[i]`` occurs AT OR AFTER the user's earliest
    completion of step i-1 (the min-chain semantics: each step's time
    is the earliest qualifying event, so ties on the boundary count and
    results are order-deterministic without any sequence fold).

    Output (step, step_name, n_users), step 1-based; n_users is
    monotonically non-increasing down the funnel.

    Plan: one filtered min-aggregate per step, each joined against the
    previous step's per-user time — k keyed shuffles for a k-step
    funnel, no collect, no UDF, no per-user event arrays (a user with
    millions of events costs the same as one with ten).
    """
    if not steps:
        raise ValueError("steps must name at least one event type")
    t = events.select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).cast("long").alias("_t"),
        F.col(type_col).alias("_ty"),
    )
    prev = None
    out_rows = []
    for i, step in enumerate(steps):
        cur = t.filter(F.col("_ty") == step)
        if prev is not None:
            cur = cur.join(
                prev.select("_k", F.col("_st").alias("_prev")), "_k"
            ).filter(F.col("_t") >= F.col("_prev"))
        cur = cur.groupBy("_k").agg(F.min("_t").alias("_st"))
        out_rows.append(
            cur.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i + 1).alias("step"),
                F.lit(step).alias("step_name"),
                "n_users",
            )
        )
        prev = cur
    out = out_rows[0]
    for df in out_rows[1:]:
        out = out.unionByName(df)
    return out


def sliding_counts(
    events: DataFrame,
    ts_col: str,
    interval_s: int,
    hop_s: int,
) -> DataFrame:
    """Hopping/sliding window counts: every event lands in the
    ``interval_s / hop_s`` hop-aligned windows that contain it, via a
    codegen sequence() explode — no self-join, no per-window scans.
    Output (window_start, n_events); ``hop_s`` must divide
    ``interval_s`` (windows stay hop-aligned).
    """
    if interval_s % hop_s != 0:
        raise ValueError(
            f"hop_s ({hop_s}) must divide interval_s ({interval_s})"
        )
    t = F.col(ts_col).cast("long")
    # smallest hop-aligned start strictly greater than t - interval ...
    # = floor((t - interval)/hop)*hop + hop; largest = floor(t/hop)*hop
    lo = (F.floor((t - interval_s) / hop_s) * hop_s + hop_s).cast("long")
    hi = (F.floor(t / hop_s) * hop_s).cast("long")
    return (
        events.select(
            F.explode(F.sequence(lo, hi, F.lit(hop_s))).alias(
                "window_start"
            )
        )
        .groupBy("window_start")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def ohlc_downsample(
    df: DataFrame,
    keys: list[str],
    ts: Column,
    value: Column,
    interval_s: int,
    order_tiebreak: Column | None = None,
) -> DataFrame:
    """Open/high/low/close downsampling per (keys, time bucket) — the
    financial-candle / telemetry-compaction aggregate: first and last
    observed value of each bucket plus the extremes, collapsing any
    tick volume to four numbers per series per interval.

    First/last need a TOTAL order to be engine-deterministic: ties on
    the timestamp are broken by ``order_tiebreak`` (default: the value
    itself — pass the row's unique id when you have one).  Plan: ONE
    shuffle on (keys, bucket); open/close are min/max over a packed
    (order, value) struct from the same exchange as the min/max/count
    aggregates — no window pass, so the aggregate stays partial+final
    (map-side combined), the 100 TB-friendly shape.

    Output: keys + (bucket_start, open, high, low, close, n_ticks)."""
    if interval_s <= 0:
        raise ValueError(f"interval_s must be > 0, got {interval_s}")
    tb = order_tiebreak if order_tiebreak is not None else value
    bucket = epoch_bucket(ts, interval_s)
    packed = F.struct(
        ts.alias("_t"), tb.alias("_tb"), value.alias("_v")
    )
    return (
        df.select(*keys, bucket.alias("bucket_start"), packed.alias("_p"))
        .groupBy(*keys, "bucket_start")
        .agg(
            F.min("_p").getField("_v").alias("open"),
            F.max(F.col("_p").getField("_v")).alias("high"),
            F.min(F.col("_p").getField("_v")).alias("low"),
            F.max("_p").getField("_v").alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


def interpolate_resample(
    events: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    interval_s: int = 86400,
) -> DataFrame:
    """Linear interpolation of an irregular per-key series onto the
    regular epoch grid — the value-filling complement to
    :func:`resample_counts` (which densifies counts): for every grid
    instant g strictly inside the key's observed span,

        v(g) = vp + (vn - vp) * ((g - tp) / (tn - tp))

    with (tp, vp) / (tn, vn) the neighboring observations at-or-before
    / at-or-after g.  A grid instant that coincides with an
    observation reproduces its value exactly (tn == tp guard — no
    0/0).  Multiple observations in the same epoch second collapse to
    MIN(value) first — an arbitrary but deterministic, engine-portable
    choice (a float AVG would be reduction-order-dependent).  Every
    arithmetic step after that is a single exactly-rounded IEEE op in
    a fixed parse order, so results hash identically cross-engine (the
    Gopher-gate float discipline).

    Plan shape: one collapse aggregate; a tiny per-key span aggregate
    whose in-span grid explodes via sequence(); then TWO as-of joins
    (backward for (tp, vp), forward for (tn, vn)) — each the
    union-trick window over (grid ∪ observations) keyed by the series
    key, one shuffle apiece (operators/asof.py; a fused variant could
    share the union the way direction='nearest' does).  No window ever
    orders more than one key's series + grid.

    Output: (key_col, grid_ts, value)."""
    from subgraph_extractor_spark.operators import asof as _asof

    sec = F.col(ts_col).cast("long")
    obs = (
        events.select(
            F.col(key_col), sec.alias("_ot"), F.col(value_col).alias("_v")
        )
        .groupBy(key_col, "_ot")
        .agg(F.min("_v").alias("_ov"))
    )
    span = obs.groupBy(key_col).agg(
        F.min("_ot").alias("_lo"), F.max("_ot").alias("_hi")
    )
    step = F.lit(interval_s)
    gstart = F.expr(f"((_lo + {interval_s} - 1) div {interval_s}) * {interval_s}")
    gend = F.expr(f"(_hi div {interval_s}) * {interval_s}")
    grid = (
        span.select(key_col, gstart.alias("_gs"), gend.alias("_ge"))
        .filter(F.col("_gs") <= F.col("_ge"))
        .select(
            key_col,
            F.explode(F.sequence("_gs", "_ge", step)).alias("grid_ts"),
        )
    )
    prev = _asof.asof_join(
        grid, obs.select(key_col, "_ot", "_ov"),
        key=key_col, left_time="grid_ts", right_time="_ot",
        value_cols=["_ot", "_ov"], direction="backward",
    ).withColumnRenamed("_ot", "_pt").withColumnRenamed("_ov", "_pv")
    both = _asof.asof_join(
        prev, obs.select(key_col, "_ot", "_ov"),
        key=key_col, left_time="grid_ts", right_time="_ot",
        value_cols=["_ot", "_ov"], direction="forward",
    ).withColumnRenamed("_ot", "_nt").withColumnRenamed("_ov", "_nv")
    g = F.col("grid_ts").cast("double")
    interp = F.when(F.col("_nt") == F.col("_pt"), F.col("_pv")).otherwise(
        F.col("_pv")
        + (F.col("_nv") - F.col("_pv"))
        * (
            (g - F.col("_pt").cast("double"))
            / (F.col("_nt").cast("double") - F.col("_pt").cast("double"))
        )
    )
    return both.select(
        key_col,
        F.col("grid_ts").cast("long").alias("grid_ts"),
        interp.alias("value"),
    )
