"""Time-bucket re-sampling + trailing-window functions (SURVEY §2.7).

Two physical shapes, both shuffle-light:

- re-bucketing (summarize/smartSummarize/hitcount): one hash aggregation on
  (series, bucket) — Spark's map-side partial agg does the heavy lifting, and
  the bucket key is derived arithmetic on ``ts`` so no extra exchange beyond
  the single groupBy,
- trailing windows (moving*/stdev): ``Window.partitionBy(series).orderBy(ts)``
  row-frame aggregates — one shuffle by series, then a linear scan per
  partition; the window history extension widens the *fetch* instead of
  shifting results (parser.go:255-268 semantics), which our recursive
  evaluator does by fetching arg0 over [from - preview, until).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from carbonapi_spark.evaluator import eval_expr, static_step
from carbonapi_spark.functions import interval_step, register
from carbonapi_spark.functions.helper import series_window, wrap_name
from carbonapi_spark.model.consolidation import (
    _PERCENTILE_RE, agg_column, agg_sql, percentile_column,
)
from carbonapi_spark.model.series import (NAME, ORD, TS, VALUE, SERIES_SCHEMA,
                                          SeriesFrame)



# ------------------------------------------------------------- summarize

@register("summarize", step=interval_step)
def summarize(ctx, exp, f, u):
    """re-bucket to interval — summarize/function.go:33-145.

    Default aligns buckets to wall-clock multiples of the interval and pads
    one extra trailing bucket (AlignToBucketSize, align.go:230 + the
    unconditional `newStop += bucketSize`); alignToFrom=true buckets start
    at the series start. Point->bucket assignment is by timestamp
    (function.go:112-135's ceil arithmetic reduces to floor((ts-start)/sz))."""
    V = F.col(VALUE)
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    bucket_size = exp.get_interval(1)
    func = exp.get_string(2, "sum", names=("func",))
    func_given = "func" in exp.named_args or len(exp.args) > 2
    align = exp.get_bool(3, False, names=("alignToFrom",))
    align_given = "alignToFrom" in exp.named_args or len(exp.args) > 3

    if align:
        new_start = frame.start
        new_stop = frame.stop
        bucket = F.col(TS) - ((F.col(TS) - new_start) % bucket_size)
    else:
        new_start = frame.start - frame.start % bucket_size
        new_stop = frame.stop - frame.stop % bucket_size
        if new_stop != frame.stop:
            new_stop += bucket_size
        new_stop += bucket_size  # unconditional extra bucket (function.go:74-77)
        bucket = F.col(TS) - (F.col(TS) % bucket_size)

    interval_str = exp.args[1].val_str or exp.args[1].target
    suffix = f",'{interval_str}'"
    if func_given or align_given:
        suffix += f",'{func}'"
    if align_given:
        suffix += f",{'true' if align else 'false'}"

    agg = agg_column(func, xff=frame.xff, alias=VALUE)
    df = (frame.df.groupBy(NAME, ORD, bucket.alias(TS)).agg(agg)
          .withColumn(NAME, F.concat(F.lit("summarize("), F.col(NAME),
                                     F.lit(suffix + ")"))))
    out = SeriesFrame(df, bucket_size, new_start, new_stop,
                      frame.consolidation, frame.xff, dense=False)
    return out.densify()


@register("smartSummarize", step=interval_step)
def smart_summarize(ctx, exp, f, u):
    """summarize without gap padding; optional fetch-start alignment to
    s/min/h/d/w/mon/y boundary — smartSummarize/function.go:32
    (+ parser.go:300-330 start adjustment)."""
    V = F.col(VALUE)
    bucket_size = exp.get_interval(1)
    func = exp.get_string(2, "sum", names=("func",))
    align_to = exp.get_string(3, "", names=("alignTo", "alignToFrom"))
    start = f
    if align_to:
        start = _align_start(f, align_to)
    frame = eval_expr(ctx, exp.args[0], start, u).densify()

    bucket = F.col(TS) - ((F.col(TS) - frame.start) % bucket_size)
    interval_str = exp.args[1].val_str or exp.args[1].target
    suffix = f",'{interval_str}','{func}'"
    agg = agg_column(func, xff=frame.xff, alias=VALUE)
    df = (frame.df.groupBy(NAME, ORD, bucket.alias(TS)).agg(agg)
          .withColumn(NAME, F.concat(F.lit("smartSummarize("), F.col(NAME),
                                     F.lit(suffix + ")"))))
    new_stop = frame.start + ((frame.stop - frame.start + bucket_size - 1)
                              // bucket_size) * bucket_size
    out = SeriesFrame(df, bucket_size, frame.start, new_stop,
                      frame.consolidation, frame.xff, dense=False)
    return out.densify()


def _align_start(start: int, align_to: str) -> int:
    """StartAlignTo (parser.go:979-1022): truncate epoch to unit boundary (UTC)."""
    import datetime as dt

    unit = align_to.lstrip("0123456789+-")
    d = dt.datetime.fromtimestamp(start, dt.timezone.utc)
    if unit.startswith("y"):
        d = d.replace(month=1, day=1, hour=0, minute=0, second=0, microsecond=0)
    elif unit.startswith("mon"):
        d = d.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    elif unit.startswith("w"):
        dow = int(unit[-1]) if "0" <= unit[-1] <= "9" else 0
        d = d.replace(hour=0, minute=0, second=0, microsecond=0)
        delta = (d.weekday() + 1 - dow) % 7  # python Mon=0 -> graphite Sun=0
        d -= dt.timedelta(days=delta)
    elif unit.startswith("d"):
        d = d.replace(hour=0, minute=0, second=0, microsecond=0)
    elif unit.startswith("h"):
        d = d.replace(minute=0, second=0, microsecond=0)
    elif unit.startswith("min"):
        d = d.replace(second=0, microsecond=0)
    elif unit.startswith("s"):
        d = d.replace(microsecond=0)
    else:
        raise ValueError(f"invalid alignTo {align_to!r}")
    return int(d.timestamp())


@register("hitcount", step=interval_step)
def hitcount(ctx, exp, f, u):
    """sum(v*step) per bucket, spreading points that straddle bucket
    boundaries proportionally — hitcount/function.go:33-155."""
    V = F.col(VALUE)
    bucket_size = exp.get_interval(1)
    align = exp.get_bool(2, False, names=("alignToInterval",))
    start = f
    if align:
        # AlignStartToInterval truncates start to a multiple of the interval
        start = f - f % bucket_size
    frame = eval_expr(ctx, exp.args[0], start, u).densify()

    stop = frame.stop
    fstart = frame.start
    if align:
        stop = fstart + ((stop - fstart) // bucket_size) * bucket_size + bucket_size
    n_buckets = (stop - fstart + bucket_size - 1) // bucket_size
    new_start = stop - n_buckets * bucket_size

    step = frame.step
    ts = F.col(TS)
    # overlap of [ts, ts+step) with each bucket it touches; clamp to range
    b0 = F.floor((ts - new_start) / bucket_size).cast("long")
    b1 = F.floor((ts + step - 1 - new_start) / bucket_size).cast("long")
    b1 = F.least(b1, F.lit(int(n_buckets - 1)))
    df = (frame.df.where(V.isNotNull())
          .withColumn("__b", F.explode(F.sequence(F.greatest(b0, F.lit(0)), b1)))
          .withColumn("__bstart", F.lit(new_start) + F.col("__b") * bucket_size)
          .withColumn("__overlap",
                      F.least(ts + step, F.col("__bstart") + bucket_size,
                              F.lit(stop)) - F.greatest(ts, F.col("__bstart")))
          .where(F.col("__overlap") > 0)
          .groupBy(NAME, ORD, F.col("__bstart").alias(TS))
          .agg(F.sum(V * F.col("__overlap")).cast("double").alias(VALUE)))

    interval_str = exp.args[1].val_str or exp.args[1].target
    suffix = f",'{interval_str}'" + (",true" if align else "")
    df = df.withColumn(NAME, F.concat(F.lit("hitcount("), F.col(NAME),
                                      F.lit(suffix + ")")))
    out = SeriesFrame(df, bucket_size, new_start, stop,
                      frame.consolidation, frame.xff, dense=False)
    return out.densify()


# ------------------------------------------------------------- moving*

_MOVING_CONS = {"movingAverage": "average", "movingSum": "sum",
                "movingMin": "min", "movingMax": "max",
                "movingMedian": "median"}

# Above this window size the lag-array expression gets unwieldy (wp lag
# columns + a wp-element sort per row); switch to a per-series pandas
# rolling-quantile kernel instead (one Python crossing per series).
_LAG_WINDOW_MAX = 128


def _lag_percentile(v, wp: int, p: float, xff: float):
    """Exact interpolated percentile over the trailing *wp* rows, codegen'd.

    Spark's exact ``percentile`` is an interpreted ObjectAggregate; as a
    window function its buffer is rebuilt per output row (the round-2 bench
    showed movingMedian at 9x the catalog mean because of it). This builds
    the same answer as scalar expressions inside whole-stage codegen:
    ``array(v, lag(v,1), .., lag(v,wp-1))`` -> drop NULLs -> ``array_sort``
    -> linear interpolation at rank (n-1)*p — the identical arithmetic to
    ``F.percentile`` / DuckDB ``quantile_cont``. All lags share one window
    spec, so WindowExec makes a single per-series pass with O(1) offset
    frames.

    NULL semantics match the aggregate form exactly: a lag that reaches
    beyond the partition head is NULL and is filtered like a NULL value —
    and the ``moving`` evaluator always fetches ``wp`` rows of history, so
    output rows (ts >= from) always have a full frame (total = wp, which is
    what the xff gate divides by).
    """
    ow = series_window()
    lags = [v] + [F.lag(v, i).over(ow) for i in range(1, wp)]
    vals = F.array_sort(F.filter(F.array(*lags), lambda x: x.isNotNull()))
    n = F.size(vals)
    k = (n - 1).cast("double") * F.lit(p)
    lo = F.floor(k).cast("int")
    frac = k - lo.cast("double")
    vlo = F.try_element_at(vals, lo + 1)
    vhi = F.coalesce(F.try_element_at(vals, lo + 2), vlo)
    out = F.when(n > 0,
                 F.when(frac > 0, vlo + frac * (vhi - vlo)).otherwise(vlo))
    if xff and xff > 0:
        out = F.when(n.cast("double") / wp >= xff, out)
    return out


def _pandas_rolling_percentile(df, wp: int, p: float, xff: float):
    """Rolling interpolated percentile for windows too wide for the lag
    array — grouped ``applyInPandas``, one Arrow batch per series."""
    import pandas as pd  # noqa: F401 — worker-side import

    def apply(pdf):
        pdf = pdf.sort_values(TS)
        s = pdf[VALUE]
        out = s.rolling(wp, min_periods=1).quantile(p, interpolation="linear")
        if xff and xff > 0:
            nn = s.notna().rolling(wp, min_periods=1).sum()
            out = out.where(nn / wp >= xff)
        pdf = pdf.assign(**{VALUE: out})
        return pdf[[NAME, ORD, TS, VALUE]]

    return df.groupBy(ORD).applyInPandas(apply, SERIES_SCHEMA)


@register("movingAverage", "movingSum", "movingMin", "movingMax",
          "movingMedian", "movingWindow")
def moving(ctx, exp, f, u):
    """trailing window of N points / an interval — moving/function.go:66-260.

    Fetches [from - window, until) and emits points for [from, until): the
    window at output ts covers the current + previous N-1 points of the
    extended series (the reference's skip-first-value loop reduces to
    exactly rowsBetween(-(N-1), 0); its first extended point never falls in
    any output window)."""
    arg1 = exp.args[1]
    # the history to fetch before f: an interval window gives it; a point
    # count needs the argument's step, which the static step pass reads
    # off the AST without building the argument
    if arg1.is_const():
        argstr = arg1.val_str
        preview = exp.get_int(1) * static_step(ctx, exp.args[0], f, u)
    else:
        argstr = f"'{arg1.val_str or arg1.target}'"
        preview = abs(exp.get_interval(1))

    if exp.target == "movingWindow":
        cons = exp.get_string(2, "average")
        xff = exp.get_float(3, 0.0, names=("xFilesFactor",))
    else:
        cons = _MOVING_CONS[exp.target]
        xff = exp.get_float(2, 0.0, names=("xFilesFactor",)) if len(exp.args) > 2 else 0.0

    frame = eval_expr(ctx, exp.args[0], f - preview, u).densify()
    wp = preview // frame.step
    if wp <= 0:
        out = frame.with_df(frame.df.where("false"))
        return wrap_name(exp.target, out, argstr)

    if cons == "median" or _PERCENTILE_RE.match(cons):
        # exact percentile as an interpreted window aggregate rebuilds its
        # buffer per row — replace with a codegen'd lag-array (small wp) or
        # a per-series pandas rolling kernel (large wp)
        p = 0.5 if cons == "median" else float(cons[1:]) / 100.0
        if wp <= _LAG_WINDOW_MAX:
            df = frame.df.withColumn(
                VALUE, _lag_percentile(F.col(VALUE), wp, p, xff).cast("double"))
        else:
            df = _pandas_rolling_percentile(frame.df, wp, p, xff)
    else:
        # every aggregate of the fold becomes a window function over the
        # trailing wp rows of its series
        lo = f"{wp - 1} PRECEDING" if wp > 1 else "CURRENT ROW"
        over = (f" OVER (PARTITION BY {ORD} ORDER BY {TS} ASC "
                f"ROWS BETWEEN {lo} AND CURRENT ROW)")
        df = frame.df.withColumn(
            VALUE, F.expr(f"CAST({agg_sql(cons, xff=xff, over=over)} AS DOUBLE)"))
    df = df.where(f"{TS} >= {f}")
    out = SeriesFrame(df, frame.step, f, frame.stop, frame.consolidation,
                      frame.xff, dense=True)
    return wrap_name(exp.target, out, argstr)


@register("stdev", "stddev")
def stdev(ctx, exp, f, u):
    """rolling population stddev of last N points (partial head windows
    allowed) — stdev/function.go:29-77."""
    V = F.col(VALUE)
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    points = exp.get_int(1)
    tolerance = exp.get_float(2, 0.1)
    min_len = int((1 - tolerance) * points)

    w = series_window().rowsBetween(-(points - 1), 0)
    idx = F.row_number().over(series_window()) - 1
    nn = F.count(V).over(w)
    sd = F.stddev_pop(V).over(w)
    valid = V.isNotNull() & ~((idx >= min_len) & (nn < min_len))
    df = frame.df.withColumn(VALUE, F.when(valid, F.coalesce(sd, F.lit(0.0))))
    return wrap_name("stdev", frame.with_df(df), exp.args[1].val_str)


# ------------------------------------------------------- flat-line aggs

@register("nPercentile")
def n_percentile(ctx, exp, f, u):
    """flat line at the series' n-th percentile (non-interpolated)
    — nPercentile/function.go:32."""
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    n = exp.get_float(1)
    per = frame.per_series(value=percentile_column(F.col(VALUE), n, False).cast("double"))
    df = frame.df.drop(VALUE).join(per, ORD)
    return wrap_name("nPercentile", frame.with_df(df), exp.raw_arg(1))


@register("aggregateLine")
def aggregate_line(ctx, exp, f, u):
    """flat line at the per-series aggregate — aggregateLine/function.go:32."""
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    func = exp.get_string(1, "average")
    df = frame.df.drop(VALUE).join(frame.per_series(value=func), ORD)
    return wrap_name("aggregateLine", frame.with_df(df), f"'{func}'")


@register("linearRegression")
def linear_regression(ctx, exp, f, u):
    """least-squares line fit projected over the request range
    — linearRegression/function.go:33 (gonum polyfit deg 1 == regr_slope/
    regr_intercept, JVM-side)."""
    V = F.col(VALUE)
    source_from = f
    source_until = u
    if len(exp.args) > 1:
        source_from = exp.get_interval(1, default_sign=-1) + (
            int(ctx.now.timestamp()) if ctx.now else u)
    if len(exp.args) > 2:
        source_until = exp.get_interval(2, default_sign=-1) + (
            int(ctx.now.timestamp()) if ctx.now else u)
    source = eval_expr(ctx, exp.args[0], source_from, source_until)
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    fit = (source.df
           .groupBy(NAME, ORD)
           .agg(F.regr_slope(V, F.col(TS).cast("double")).alias("__m"),
                F.regr_intercept(V, F.col(TS).cast("double")).alias("__b")))
    df = (frame.df.drop(VALUE)
          .join(fit, [NAME, ORD])
          .withColumn(VALUE, (F.col("__m") * F.col(TS) + F.col("__b")).cast("double"))
          .drop("__m", "__b"))
    suffix = [exp.raw_arg(i) for i in range(1, len(exp.args))]
    return wrap_name("linearRegression", frame.with_df(df), *suffix)
