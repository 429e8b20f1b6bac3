"""Time-bucket re-sampling + trailing-window functions (SURVEY §2.7).

Two physical shapes, both shuffle-light:

- re-bucketing (summarize/smartSummarize/hitcount): one hash aggregation on
  (series, bucket) — Spark's map-side partial agg does the heavy lifting, and
  the bucket key is derived arithmetic on ``ts`` so no extra exchange beyond
  the single groupBy,
- trailing windows (moving*/stdev): ``OVER (PARTITION BY ord ORDER BY ts
  ROWS ...)`` row-frame aggregates — one shuffle by series, then a linear scan per
  partition; the window history extension widens the *fetch* instead of
  shifting results (parser.go:255-268 semantics), which our recursive
  evaluator does by fetching arg0 over [from - preview, until).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import functions as F

from carbonapi_spark.evaluator import eval_expr, static_step
from carbonapi_spark.functions import interval_step, register
from carbonapi_spark.functions.helper import wrap_name
from carbonapi_spark.model.consolidation import (
    _PERCENTILE_RE, agg_sql, consolidation_name, percentile_sql,
)
from carbonapi_spark.model.series import (NAME, ORD, SERIES_SCHEMA, SERIES_WINDOW,
                                          TS, VALUE, SeriesFrame, trailing)
from carbonapi_spark.sqltext import expr_cached, sql_dlit


# ------------------------------------------------------------- summarize

@register("summarize", step=interval_step)
def summarize(ctx, exp, f, u):
    """re-bucket to interval — summarize/function.go:33-145.

    Default aligns buckets to wall-clock multiples of the interval and pads
    one extra trailing bucket (AlignToBucketSize, align.go:230 + the
    unconditional `newStop += bucketSize`); alignToFrom=true buckets start
    at the series start. Point->bucket assignment is by timestamp
    (function.go:112-135's ceil arithmetic reduces to floor((ts-start)/sz))."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    bucket_size = exp.get_interval(1)
    func = exp.get_string(2, "sum", names=("func",))
    func_given = "func" in exp.named_args or len(exp.args) > 2
    align = exp.get_bool(3, False, names=("alignToFrom",))
    align_given = "alignToFrom" in exp.named_args or len(exp.args) > 3

    out = frame.consolidate_to(bucket_size, func, origin=frame.start if align else 0)
    # unconditional extra bucket (function.go:74-77); aligned to from, the
    # buckets end at the series' stop
    stop = frame.stop if align else out.stop + bucket_size
    suffix = [f"'{exp.args[1].val_str or exp.args[1].target}'"]
    if func_given or align_given:
        suffix.append(f"'{func}'")
    if align_given:
        suffix.append("true" if align else "false")
    return wrap_name("summarize", replace(out, stop=stop, dense=False), *suffix).densify()


@register("smartSummarize", step=interval_step)
def smart_summarize(ctx, exp, f, u):
    """summarize without gap padding; optional fetch-start alignment to
    s/min/h/d/w/mon/y boundary — smartSummarize/function.go:32
    (+ parser.go:300-330 start adjustment)."""
    bucket_size = exp.get_interval(1)
    func = exp.get_string(2, "sum", names=("func",))
    align_to = exp.get_string(3, "", names=("alignTo", "alignToFrom"))
    start = f
    if align_to:
        start = _align_start(f, align_to)
    frame = eval_expr(ctx, exp.args[0], start, u)
    out = frame.consolidate_to(bucket_size, func, origin=frame.start)
    return wrap_name("smartSummarize", replace(out, dense=False),
                     f"'{exp.args[1].val_str or exp.args[1].target}'", f"'{func}'").densify()


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
    b0 = f"CAST(floor(({TS} - {new_start}) / {bucket_size}) AS BIGINT)"
    b1 = f"CAST(floor(({TS} + {step} - 1 - {new_start}) / {bucket_size}) AS BIGINT)"
    # overlap of [ts, ts+step) with each bucket it touches; clamp to range
    df = (frame.df.where(f"{VALUE} IS NOT NULL")
          .withColumn("__b", F.expr(f"explode(sequence(greatest({b0}, 0), "
                                    f"least({b1}, {n_buckets - 1})))"))
          .withColumn("__bstart", F.expr(f"{new_start} + __b * {bucket_size}"))
          .withColumn("__overlap", F.expr(
              f"least({TS} + {step}, __bstart + {bucket_size}, {stop}) "
              f"- greatest({TS}, __bstart)"))
          .where("__overlap > 0")
          .groupBy(NAME, ORD, expr_cached(f"__bstart AS {TS}"))
          .agg(expr_cached(f"CAST(sum({VALUE} * __overlap) AS DOUBLE) AS {VALUE}")))
    out = SeriesFrame(df, bucket_size, new_start, stop,
                      frame.consolidation, frame.xff, dense=False)
    interval_str = exp.args[1].val_str or exp.args[1].target
    return wrap_name("hitcount", out, f"'{interval_str}'",
                     *(["true"] if align else [])).densify()


# ------------------------------------------------------------- moving*

_MOVING_CONS = {"movingAverage": "average", "movingSum": "sum",
                "movingMin": "min", "movingMax": "max",
                "movingMedian": "median"}

# Above this window size the lag-array expression gets unwieldy (wp lag
# columns + a wp-element sort per row); switch to a per-series pandas
# rolling-quantile kernel instead (one Python crossing per series).
_LAG_WINDOW_MAX = 128


def _lag_percentile(wp: int, p: float, xff: float) -> str:
    """SQL text of the exact interpolated percentile over the trailing *wp*
    rows, codegen'd.

    Spark's exact ``percentile`` is an interpreted ObjectAggregate; as a
    window function its buffer is rebuilt per output row (the round-2 bench
    showed movingMedian at 9x the catalog mean because of it). This is
    the same answer as scalar expressions inside whole-stage codegen:
    ``array(value, lag(value, 1), .., lag(value, wp-1))`` -> drop NULLs ->
    ``array_sort`` -> linear interpolation at rank (n-1)*p — the identical
    arithmetic to ``percentile`` / DuckDB ``quantile_cont``. All lags share
    one window spec, so WindowExec makes a single per-series pass with O(1)
    offset frames.

    NULL semantics match the aggregate form exactly: a lag that reaches
    beyond the partition head is NULL and is filtered like a NULL value —
    and the ``moving`` evaluator always fetches ``wp`` rows of history, so
    output rows (ts >= from) always have a full frame (total = wp, which is
    what the xff gate divides by).
    """
    lags = [VALUE] + [f"lag({VALUE}, {i}) OVER ({SERIES_WINDOW})" for i in range(1, wp)]
    vals = f"array_sort(filter(array({', '.join(lags)}), x -> x IS NOT NULL))"
    n = f"size({vals})"
    k = f"CAST({n} - 1 AS DOUBLE) * {sql_dlit(p)}"
    lo = f"CAST(floor({k}) AS INT)"
    frac = f"({k} - CAST({lo} AS DOUBLE))"
    vlo = f"try_element_at({vals}, {lo} + 1)"
    vhi = f"coalesce(try_element_at({vals}, {lo} + 2), {vlo})"
    out = (f"CASE WHEN {n} > 0 THEN CASE WHEN {frac} > 0 THEN "
           f"{vlo} + {frac} * ({vhi} - {vlo}) ELSE {vlo} END END")
    if xff and xff > 0:
        out = f"CASE WHEN CAST({n} AS DOUBLE) / {wp} >= {sql_dlit(xff)} THEN {out} END"
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
            df = frame.map_value(_lag_percentile(wp, p, xff)).df
        else:
            df = _pandas_rolling_percentile(frame.df, wp, p, xff)
    else:
        # every aggregate of the fold becomes a window function over the
        # trailing wp rows of its series
        df = frame.map_value(agg_sql(cons, xff=xff, over=" " + trailing(wp))).df
    df = df.where(f"{TS} >= {f}")
    out = SeriesFrame(df, frame.step, f, frame.stop, frame.consolidation,
                      frame.xff, dense=True)
    return wrap_name(exp.target, out, argstr)


@register("stdev", "stddev")
def stdev(ctx, exp, f, u):
    """rolling population stddev of last N points (partial head windows
    allowed) — stdev/function.go:29-77."""
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    points = exp.get_int(1)
    tolerance = exp.get_float(2, 0.1)
    min_len = int((1 - tolerance) * points)

    idx = f"row_number() OVER ({SERIES_WINDOW}) - 1"
    nn = f"count({VALUE}) {trailing(points)}"
    sd = f"stddev_pop({VALUE}) {trailing(points)}"
    valid = f"{VALUE} IS NOT NULL AND NOT ({idx} >= {min_len} AND {nn} < {min_len})"
    return wrap_name("stdev", frame.map_value(f"CASE WHEN {valid} THEN coalesce({sd}, 0.0D) END"),
                     exp.args[1].val_str)


# ------------------------------------------------------- flat-line aggs

@register("nPercentile")
def n_percentile(ctx, exp, f, u):
    """flat line at the series' n-th percentile (non-interpolated)
    — nPercentile/function.go:32."""
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    n = exp.get_float(1)
    per = frame.per_series(value=f"CAST({percentile_sql(VALUE, n, False)} AS DOUBLE)")
    df = frame.df.drop(VALUE).join(per, ORD)
    return wrap_name("nPercentile", frame.with_df(df), exp.raw_arg(1))


@register("aggregateLine")
def aggregate_line(ctx, exp, f, u):
    """flat line at the per-series aggregate — aggregateLine/function.go:32."""
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    func = consolidation_name(exp.get_string(1, "average"))
    df = frame.df.drop(VALUE).join(frame.per_series(value=func), ORD)
    return wrap_name("aggregateLine", frame.with_df(df), f"'{func}'")


@register("linearRegression")
def linear_regression(ctx, exp, f, u):
    """least-squares line fit projected over the request range
    — linearRegression/function.go:33 (gonum polyfit deg 1 == regr_slope/
    regr_intercept, JVM-side)."""
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
    fit = source.df.groupBy(NAME, ORD).agg(
        expr_cached(f"regr_slope({VALUE}, CAST({TS} AS DOUBLE)) AS __m"),
        expr_cached(f"regr_intercept({VALUE}, CAST({TS} AS DOUBLE)) AS __b"))
    df = (frame.df.drop(VALUE).join(fit, [NAME, ORD])
          .withColumn(VALUE, expr_cached(f"CAST(__m * {TS} + __b AS DOUBLE)"))
          .drop("__m", "__b"))
    suffix = [exp.raw_arg(i) for i in range(1, len(exp.args))]
    return wrap_name("linearRegression", frame.with_df(df), *suffix)
