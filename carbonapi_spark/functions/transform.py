"""Per-point scalar transforms (SURVEY §2.3) — pure Column expressions.

Every function here is a 1:1 value map (plus a name rewrite), so Catalyst
fuses arbitrarily long chains of them into one whole-stage-codegen project
over the scan: zero shuffles, zero Python in the hot path. All expressions
are ANSI-safe (guarded division/log/sqrt), mirroring Graphite's
NaN-out-of-domain behavior with NULLs.

Reference files cited per function under ``expr/functions/``.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from carbonapi_spark.evaluator import eval_expr
from carbonapi_spark.functions import register
from carbonapi_spark.functions.helper import (
    float_str,
    series_window,
    wrap_name,
)
from carbonapi_spark.model.series import ORD, TS, VALUE



# ---------------------------------------------------------------- pure maps

@register("absolute")
def absolute(ctx, exp, f, u):
    """abs(v) — absolute/function.go:28."""
    return wrap_name("absolute", eval_expr(ctx, exp.args[0], f, u).map_value(F.abs))


@register("offset", "add")
def offset(ctx, exp, f, u):
    """v + c — offset/function.go:30."""
    c = exp.get_float(1)
    return wrap_name(exp.target, eval_expr(ctx, exp.args[0], f, u).map_value(lambda v: v + c),
                     exp.raw_arg(1))


@register("scale")
def scale(ctx, exp, f, u):
    """v * c — scale/function.go:30."""
    c = exp.get_float(1)
    return wrap_name("scale", eval_expr(ctx, exp.args[0], f, u).map_value(lambda v: v * c),
                     exp.raw_arg(1))


@register("scaleToSeconds")
def scale_to_seconds(ctx, exp, f, u):
    """v * seconds/step — scaleToSeconds/function.go:30."""
    sec = exp.get_float(1)
    frame = eval_expr(ctx, exp.args[0], f, u)
    k = sec / frame.step
    return wrap_name("scaleToSeconds", frame.map_value(lambda v: v * k),
                     float_str(sec))


@register("invert")
def invert(ctx, exp, f, u):
    """1/v, 0 -> NaN — invert/function.go:30."""
    return wrap_name("invert",
                     eval_expr(ctx, exp.args[0], f, u).map_value(
                         lambda v: F.when(v != 0, F.lit(1.0) / v)))


@register("pow")
def pow_(ctx, exp, f, u):
    """v^c — pow/function.go:31."""
    c = exp.get_float(1)
    return wrap_name("pow", eval_expr(ctx, exp.args[0], f, u).map_value(lambda v: F.pow(v, c)),
                     exp.raw_arg(1))


@register("squareRoot")
def square_root(ctx, exp, f, u):
    """sqrt(v), negative -> NaN — squareRoot/function.go:30."""
    return wrap_name("squareRoot",
                     eval_expr(ctx, exp.args[0], f, u).map_value(
                         lambda v: F.when(v >= 0, F.sqrt(v))))


@register("exp")
def exp_(ctx, exp, f, u):
    """e^v — exp/function.go:29."""
    return wrap_name("exp", eval_expr(ctx, exp.args[0], f, u).map_value(F.exp))


@register("sigmoid")
def sigmoid(ctx, exp, f, u):
    """1/(1+e^-v) — sigmoid/function.go:30."""
    return wrap_name("sigmoid",
                     eval_expr(ctx, exp.args[0], f, u).map_value(
                         lambda v: F.lit(1.0) / (F.lit(1.0) + F.exp(-v))))


@register("logit")
def logit(ctx, exp, f, u):
    """ln(v/(1-v)), domain (0,1) — logit/function.go:32."""
    def fn(v):
        ratio = F.when(v != 1.0, v / (F.lit(1.0) - v))
        return F.when(ratio > 0, F.log(ratio))
    return wrap_name("logit", eval_expr(ctx, exp.args[0], f, u).map_value(fn))


@register("log", "logarithm")
def logarithm(ctx, exp, f, u):
    """log_base(v), v<=0 -> NaN — logarithm/function.go:32."""
    base = exp.get_float(1, 10.0, names=("base",))
    def fn(v):
        return F.when(v > 0, F.log(float(base), v))
    frame = eval_expr(ctx, exp.args[0], f, u).map_value(fn)
    if len(exp.args) > 1 or "base" in exp.named_args:
        return wrap_name("logarithm", frame, exp.raw_arg(1) if len(exp.args) > 1
                         else f"base={float_str(base)}")
    return wrap_name("logarithm", frame)


@register("round")
def round_(ctx, exp, f, u):
    """half-even rounding like helper.SafeRound (helper.go:225-231)."""
    precision = exp.get_int(1, 0, names=("precision",))
    frame = eval_expr(ctx, exp.args[0], f, u).map_value(lambda v: F.bround(v, precision))
    if len(exp.args) > 1 or "precision" in exp.named_args:
        return wrap_name("round", frame, str(precision))
    return wrap_name("round", frame)


@register("isNonNull", "isNotNull")
def is_non_null(ctx, exp, f, u):
    """1 if value present else 0 — isNotNull/function.go:31."""
    return wrap_name(exp.target,
                     eval_expr(ctx, exp.args[0], f, u).densify().map_value(
                         lambda v: v.isNotNull().cast("double")))


@register("transformNull")
def transform_null(ctx, exp, f, u):
    """NaN -> default — transformNull/function.go:35 (referenceSeries form
    joins against a mask of the reference's non-null points)."""
    V = F.col(VALUE)
    default = exp.get_float(1, 0.0, names=("default",))
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    ref_exp = exp.named_args.get("referenceSeries")
    suffix = exp.raw_arg(1) if len(exp.args) > 1 else (
        float_str(default) if ("default" in exp.named_args or ref_exp) else None)
    if ref_exp is not None:
        ref = eval_expr(ctx, ref_exp, f, u)
        mask = (ref.df.groupBy(TS)
                .agg(F.max(V.isNotNull().cast("int")).alias("__ref_ok")))
        df = (frame.df.join(F.broadcast(mask), TS, "left")
              .withColumn(VALUE, F.when(V.isNull() & (F.col("__ref_ok") == 1),
                                        F.lit(default)).otherwise(V))
              .drop("__ref_ok"))
        out = frame.with_df(df)
    else:
        out = frame.map_value(lambda v: F.coalesce(v, F.lit(default)))
    return wrap_name("transformNull", out, *( [suffix] if suffix else [] ))


@register("timeSlice")
def time_slice(ctx, exp, f, u):
    """NULL outside [start, end] — timeSlice/function.go:44."""
    V = F.col(VALUE)
    start = exp.get_interval(1, default_sign=-1)
    end = exp.get_interval(2, default_sign=-1, default=0)
    now = int(ctx.now.timestamp()) if ctx.now else u
    lo, hi = now + start, (now + end if end else u)
    frame = eval_expr(ctx, exp.args[0], f, u)
    out = frame.with_df(frame.df.withColumn(
        VALUE, F.when((F.col(TS) >= lo) & (F.col(TS) <= hi), V)))
    return wrap_name("timeSlice", out, str(start), str(end or u - now))


# ------------------------------------------------------- window-based maps

@register("offsetToZero")
def offset_to_zero(ctx, exp, f, u):
    """v - min(series) — offsetToZero/function.go:31."""
    V = F.col(VALUE)
    frame = eval_expr(ctx, exp.args[0], f, u)
    w = Window.partitionBy(ORD)
    df = frame.df.withColumn(VALUE, V - F.min(V).over(w))
    return wrap_name("offsetToZero", frame.with_df(df))


@register("minMax")
def min_max(ctx, exp, f, u):
    """(v-min)/(max-min), degenerate -> 0 — minMax/function.go:32."""
    V = F.col(VALUE)
    frame = eval_expr(ctx, exp.args[0], f, u)
    w = Window.partitionBy(ORD)
    lo, hi = F.min(V).over(w), F.max(V).over(w)
    df = frame.df.withColumn(
        VALUE,
        F.when(V.isNull(), None)
         .when(hi - lo != 0, (V - lo) / (hi - lo))
         .otherwise(F.lit(0.0)))
    return wrap_name("minMax", frame.with_df(df))


@register("derivative")
def derivative(ctx, exp, f, u):
    """v - prev, first point NaN — derivative/function.go:30."""
    V = F.col(VALUE)
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    df = frame.df.withColumn(VALUE, V - F.lag(V).over(series_window()))
    return wrap_name("derivative", frame.with_df(df))


def _nn_derivative_value(max_value: float | None, min_value: float | None):
    V = F.col(VALUE)
    prev = F.lag(V).over(series_window())
    diff = V - prev
    out = F.when(diff >= 0, diff)
    # counter-wrap semantics: nonNegativeDerivative/function.go:97-110
    lo = min_value if min_value is not None else 0.0
    if max_value is not None:
        out = out.when(F.lit(max_value) >= V, (F.lit(max_value) - prev) + (V - F.lit(lo)) + 1)
    if min_value is not None:
        out = out.when(F.lit(min_value) <= V, V - F.lit(min_value))
    return out


@register("nonNegativeDerivative")
def non_negative_derivative(ctx, exp, f, u):
    """counter delta; negative -> NaN unless wrap args given
    — nonNegativeDerivative/function.go:31-116."""
    max_v = exp.get_float(1, float("nan"), names=("maxValue",))
    min_v = exp.get_float(2, float("nan"), names=("minValue",))
    has_max = max_v == max_v
    has_min = min_v == min_v
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    df = frame.df.withColumn(
        VALUE, _nn_derivative_value(max_v if has_max else None,
                                    min_v if has_min else None))
    suffix = []
    if has_max:
        suffix.append(float_str(max_v))
    if has_min:
        suffix.append(float_str(min_v) if has_max else f"minValue={float_str(min_v)}")
    return wrap_name("nonNegativeDerivative", frame.with_df(df), *suffix)


@register("perSecond")
def per_second(ctx, exp, f, u):
    """nonNegativeDerivative / step — perSecond/function.go:33."""
    max_v = exp.get_float(1, float("nan"), names=("maxValue",))
    has_max = max_v == max_v
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    step = frame.step
    val = _nn_derivative_value(max_v if has_max else None, None) / F.lit(float(step))
    df = frame.df.withColumn(VALUE, val)
    return wrap_name("perSecond", frame.with_df(df),
                     *( [exp.raw_arg(1)] if len(exp.args) > 1 else [] ))


@register("delay")
def delay(ctx, exp, f, u):
    """shift values by n steps — delay/function.go:30."""
    V = F.col(VALUE)
    steps = exp.get_int(1)
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    df = frame.df.withColumn(VALUE, F.lag(V, steps).over(series_window()))
    return wrap_name("delay", frame.with_df(df), str(steps))


@register("integral")
def integral(ctx, exp, f, u):
    """running sum; NULL points stay NULL but don't reset — integral/function.go:30."""
    V = F.col(VALUE)
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    w = series_window().rowsBetween(Window.unboundedPreceding, 0)
    df = frame.df.withColumn(VALUE, F.when(V.isNotNull(), F.sum(V).over(w)))
    return wrap_name("integral", frame.with_df(df))


@register("integralByInterval")
def integral_by_interval(ctx, exp, f, u):
    """running sum resetting each bucket; NULL counts as 0 inside a bucket
    — integralByInterval/function.go:30."""
    V = F.col(VALUE)
    interval = exp.get_interval(1)
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    bucket = F.col(TS) - ((F.col(TS) - f) % F.lit(interval))
    w = (Window.partitionBy(ORD, bucket).orderBy(TS)
         .rowsBetween(Window.unboundedPreceding, 0))
    df = frame.df.withColumn(VALUE, F.sum(F.coalesce(V, F.lit(0.0))).over(w))
    return wrap_name("integralByInterval", frame.with_df(df), exp.raw_arg(1))


@register("keepLastValue")
def keep_last_value(ctx, exp, f, u):
    """forward-fill up to *limit* consecutive gaps — keepLastValue/function.go:31-88
    (fills the first `limit` points of longer gaps, carbonapi behavior)."""
    V = F.col(VALUE)
    limit = exp.get_float(1, float("inf"), names=("limit",))
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    w = series_window().rowsBetween(Window.unboundedPreceding, 0)
    last_v = F.last(V, ignorenulls=True).over(w)
    last_ts = F.last(F.when(V.isNotNull(), F.col(TS)), ignorenulls=True).over(w)
    gap_ok = ((F.col(TS) - last_ts) / frame.step) <= F.lit(limit)
    df = frame.df.withColumn(VALUE, F.when(V.isNotNull(), V)
                             .when(last_ts.isNotNull() & gap_ok, last_v))
    suffix = []
    if len(exp.args) > 1 or "limit" in exp.named_args:
        suffix.append("inf" if limit == float("inf") else str(int(limit)))
    return wrap_name("keepLastValue", frame.with_df(df), *suffix)


@register("interpolate")
def interpolate(ctx, exp, f, u):
    """linear interpolation across gaps <= limit — interpolate/function.go:26."""
    V = F.col(VALUE)
    limit = exp.get_float(1, float("inf"), names=("limit",))
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    w_back = series_window().rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = series_window().rowsBetween(0, Window.unboundedFollowing)
    prev_v = F.last(V, ignorenulls=True).over(w_back)
    prev_ts = F.last(F.when(V.isNotNull(), F.col(TS)), ignorenulls=True).over(w_back)
    next_v = F.first(V, ignorenulls=True).over(w_fwd)
    next_ts = F.first(F.when(V.isNotNull(), F.col(TS)), ignorenulls=True).over(w_fwd)
    gap_len = (next_ts - prev_ts) / frame.step - 1
    frac = (F.col(TS) - prev_ts) / (next_ts - prev_ts)
    blended = prev_v + (next_v - prev_v) * frac
    df = frame.df.withColumn(
        VALUE,
        F.when(V.isNotNull(), V)
         .when(prev_ts.isNotNull() & next_ts.isNotNull() & (gap_len <= F.lit(limit)),
               blended))
    return wrap_name("interpolate", frame.with_df(df))


@register("changed")
def changed(ctx, exp, f, u):
    """1 when value differs from previous else 0 — changed/function.go:30."""
    V = F.col(VALUE)
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    prev = F.lag(V).over(series_window())
    df = frame.df.withColumn(
        VALUE,
        F.when(prev.isNull() & V.isNull(), F.lit(0.0))
         .when(prev.isNull() | V.isNull(), F.lit(1.0))
         .when(prev != V, F.lit(1.0)).otherwise(F.lit(0.0)))
    return wrap_name("changed", frame.with_df(df))


@register("drawAsInfinite", "lineWidth", "dashed", "color", "alpha",
          "secondYAxis", "stacked")
def graph_decorator(ctx, exp, f, u):
    """graph-option decorators — cairo/function.go:28. Values unchanged;
    the option is recorded on the frame and consumed by format=png/svg
    (render/graph.py); wire formats see only the name annotation."""
    from dataclasses import replace
    frame = eval_expr(ctx, exp.args[0], f, u)
    opts = dict(frame.graph_options or {})
    if exp.target == "color":
        opts["color"] = exp.get_string(1, "")
    elif exp.target == "alpha":
        opts["alpha"] = exp.get_float(1, 1.0)
    elif exp.target == "lineWidth":
        opts["lineWidth"] = exp.get_float(1, 1.2)
    elif exp.target == "dashed":
        opts["dashed"] = exp.get_float(1, 5.0)
    else:
        opts[exp.target] = True
    frame = replace(frame, graph_options=opts)
    extra = [exp.raw_arg(i) for i in range(1, len(exp.args))]
    if exp.target in ("drawAsInfinite", "secondYAxis", "stacked"):
        return wrap_name(exp.target, frame, *extra)
    return frame  # color/alpha/dashed/lineWidth keep the original name
