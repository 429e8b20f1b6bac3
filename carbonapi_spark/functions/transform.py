"""Per-point scalar transforms (SURVEY §2.3) — SQL text over the frame's
columns.

Every function here is a value map (plus a name rewrite), so Catalyst
fuses arbitrarily long chains of them into one whole-stage-codegen project
over the scan: zero shuffles, zero Python in the hot path. The
window-based maps read one series in time order (``SERIES_WINDOW``). All
expressions are ANSI-safe (guarded division/log/sqrt), mirroring
Graphite's NaN-out-of-domain behavior with NULLs.

Reference files cited per function under ``expr/functions/``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from carbonapi_spark.evaluator import eval_expr
from carbonapi_spark.functions import register
from carbonapi_spark.functions.helper import float_str, wrap_name
from carbonapi_spark.model.series import ORD, RUNNING, SERIES_WINDOW, TS, VALUE
from carbonapi_spark.sqltext import sql_all, sql_dlit

_PREV = f"lag({VALUE}) OVER ({SERIES_WINDOW})"


def _map(ctx, exp, f, u, fname: str, sql: str, *suffix: str):
    """wrap_name(fname, arg0 with value -> *sql*, *suffix)."""
    return wrap_name(fname, eval_expr(ctx, exp.args[0], f, u).map_value(sql), *suffix)


# ---------------------------------------------------------------- pure maps

@register("absolute")
def absolute(ctx, exp, f, u):
    """abs(v) — absolute/function.go:28."""
    return _map(ctx, exp, f, u, "absolute", f"abs({VALUE})")


@register("offset", "add")
def offset(ctx, exp, f, u):
    """v + c — offset/function.go:30."""
    return _map(ctx, exp, f, u, exp.target, f"{VALUE} + {sql_dlit(exp.get_float(1))}",
                exp.raw_arg(1))


@register("scale")
def scale(ctx, exp, f, u):
    """v * c — scale/function.go:30."""
    return _map(ctx, exp, f, u, "scale", f"{VALUE} * {sql_dlit(exp.get_float(1))}",
                exp.raw_arg(1))


@register("scaleToSeconds")
def scale_to_seconds(ctx, exp, f, u):
    """v * seconds/step — scaleToSeconds/function.go:30."""
    sec = exp.get_float(1)
    frame = eval_expr(ctx, exp.args[0], f, u)
    return wrap_name("scaleToSeconds",
                     frame.map_value(f"{VALUE} * {sql_dlit(sec / frame.step)}"),
                     float_str(sec))


@register("invert")
def invert(ctx, exp, f, u):
    """1/v, 0 -> NaN — invert/function.go:30."""
    return _map(ctx, exp, f, u, "invert",
                f"CASE WHEN {VALUE} != 0 THEN 1.0D / {VALUE} END")


@register("pow")
def pow_(ctx, exp, f, u):
    """v^c — pow/function.go:31."""
    return _map(ctx, exp, f, u, "pow", f"power({VALUE}, {sql_dlit(exp.get_float(1))})",
                exp.raw_arg(1))


@register("squareRoot")
def square_root(ctx, exp, f, u):
    """sqrt(v), negative -> NaN — squareRoot/function.go:30."""
    return _map(ctx, exp, f, u, "squareRoot",
                f"CASE WHEN {VALUE} >= 0 THEN sqrt({VALUE}) END")


@register("exp")
def exp_(ctx, exp, f, u):
    """e^v — exp/function.go:29."""
    return _map(ctx, exp, f, u, "exp", f"exp({VALUE})")


@register("sigmoid")
def sigmoid(ctx, exp, f, u):
    """1/(1+e^-v) — sigmoid/function.go:30."""
    return _map(ctx, exp, f, u, "sigmoid", f"1.0D / (1.0D + exp(-{VALUE}))")


@register("logit")
def logit(ctx, exp, f, u):
    """ln(v/(1-v)), domain (0,1) — logit/function.go:32."""
    ratio = f"CASE WHEN {VALUE} != 1.0D THEN {VALUE} / (1.0D - {VALUE}) END"
    return _map(ctx, exp, f, u, "logit", f"CASE WHEN {ratio} > 0 THEN ln({ratio}) END")


@register("log", "logarithm")
def logarithm(ctx, exp, f, u):
    """log_base(v), v<=0 -> NaN — logarithm/function.go:32."""
    base = exp.get_float(1, 10.0, names=("base",))
    suffix = []
    if len(exp.args) > 1 or "base" in exp.named_args:
        suffix = [exp.raw_arg(1) if len(exp.args) > 1 else f"base={float_str(base)}"]
    return _map(ctx, exp, f, u, "logarithm",
                f"CASE WHEN {VALUE} > 0 THEN log({sql_dlit(base)}, {VALUE}) END", *suffix)


@register("round")
def round_(ctx, exp, f, u):
    """half-even rounding like helper.SafeRound (helper.go:225-231)."""
    precision = exp.get_int(1, 0, names=("precision",))
    suffix = [str(precision)] if len(exp.args) > 1 or "precision" in exp.named_args else []
    return _map(ctx, exp, f, u, "round", f"bround({VALUE}, {precision})", *suffix)


@register("isNonNull", "isNotNull")
def is_non_null(ctx, exp, f, u):
    """1 if value present else 0 — isNotNull/function.go:31."""
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    return wrap_name(exp.target, frame.map_value(f"{VALUE} IS NOT NULL"))


@register("transformNull")
def transform_null(ctx, exp, f, u):
    """NaN -> default — transformNull/function.go:35 (referenceSeries form
    joins against a mask of the reference's non-null points)."""
    default = exp.get_float(1, 0.0, names=("default",))
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    ref_exp = exp.named_args.get("referenceSeries")
    suffix = exp.raw_arg(1) if len(exp.args) > 1 else (
        float_str(default) if ("default" in exp.named_args or ref_exp) else None)
    if ref_exp is not None:
        ref = eval_expr(ctx, ref_exp, f, u)
        mask = ref.df.groupBy(TS).agg(
            F.expr(f"max(CAST({VALUE} IS NOT NULL AS INT)) AS __ref_ok"))
        df = (frame.df.join(mask.hint("broadcast"), TS, "left")
              .withColumn(VALUE, F.expr(f"CASE WHEN {VALUE} IS NULL AND __ref_ok = 1 "
                                        f"THEN {sql_dlit(default)} ELSE {VALUE} END"))
              .drop("__ref_ok"))
        out = frame.with_df(df)
    else:
        out = frame.map_value(f"coalesce({VALUE}, {sql_dlit(default)})")
    return wrap_name("transformNull", out, *([suffix] if suffix else []))


@register("timeSlice")
def time_slice(ctx, exp, f, u):
    """NULL outside [start, end] — timeSlice/function.go:44."""
    start = exp.get_interval(1, default_sign=-1)
    end = exp.get_interval(2, default_sign=-1, default=0)
    now = int(ctx.now.timestamp()) if ctx.now else u
    lo, hi = now + start, (now + end if end else u)
    return _map(ctx, exp, f, u, "timeSlice",
                f"CASE WHEN {TS} >= {lo} AND {TS} <= {hi} THEN {VALUE} END",
                str(start), str(end or u - now))


# ------------------------------------------------------- window-based maps

@register("offsetToZero")
def offset_to_zero(ctx, exp, f, u):
    """v - min(series) — offsetToZero/function.go:31."""
    return _map(ctx, exp, f, u, "offsetToZero",
                f"{VALUE} - min({VALUE}) OVER (PARTITION BY {ORD})")


@register("minMax")
def min_max(ctx, exp, f, u):
    """(v-min)/(max-min), degenerate -> 0 — minMax/function.go:32."""
    lo, hi = (f"{a}({VALUE}) OVER (PARTITION BY {ORD})" for a in ("min", "max"))
    return _map(ctx, exp, f, u, "minMax",
                f"CASE WHEN {VALUE} IS NULL THEN NULL WHEN {hi} - {lo} != 0 THEN "
                f"({VALUE} - {lo}) / ({hi} - {lo}) ELSE 0.0D END")


@register("derivative")
def derivative(ctx, exp, f, u):
    """v - prev, first point NaN — derivative/function.go:30."""
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    return wrap_name("derivative", frame.map_value(f"{VALUE} - {_PREV}"))


def _nn_derivative_sql(max_value: float | None, min_value: float | None) -> str:
    diff = f"({VALUE} - {_PREV})"
    out = f"CASE WHEN {diff} >= 0 THEN {diff}"
    # counter-wrap semantics: nonNegativeDerivative/function.go:97-110
    lo = sql_dlit(min_value if min_value is not None else 0.0)
    if max_value is not None:
        mx = sql_dlit(max_value)
        out += f" WHEN {mx} >= {VALUE} THEN ({mx} - {_PREV}) + ({VALUE} - {lo}) + 1"
    if min_value is not None:
        out += f" WHEN {lo} <= {VALUE} THEN {VALUE} - {lo}"
    return out + " END"


@register("nonNegativeDerivative")
def non_negative_derivative(ctx, exp, f, u):
    """counter delta; negative -> NaN unless wrap args given
    — nonNegativeDerivative/function.go:31-116."""
    max_v = exp.get_float(1, float("nan"), names=("maxValue",))
    min_v = exp.get_float(2, float("nan"), names=("minValue",))
    has_max = max_v == max_v
    has_min = min_v == min_v
    suffix = []
    if has_max:
        suffix.append(float_str(max_v))
    if has_min:
        suffix.append(float_str(min_v) if has_max else f"minValue={float_str(min_v)}")
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    return wrap_name("nonNegativeDerivative", frame.map_value(
        _nn_derivative_sql(max_v if has_max else None, min_v if has_min else None)), *suffix)


@register("perSecond")
def per_second(ctx, exp, f, u):
    """nonNegativeDerivative / step — perSecond/function.go:33."""
    max_v = exp.get_float(1, float("nan"), names=("maxValue",))
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    val = _nn_derivative_sql(max_v if max_v == max_v else None, None)
    return wrap_name("perSecond", frame.map_value(f"{val} / {sql_dlit(float(frame.step))}"),
                     *([exp.raw_arg(1)] if len(exp.args) > 1 else []))


@register("delay")
def delay(ctx, exp, f, u):
    """shift values by n steps — delay/function.go:30."""
    steps = exp.get_int(1)
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    # a bare window function is already DOUBLE: set without map_value's
    # cast, so the Window node itself yields ``value``
    df = frame.df.withColumn(VALUE, F.expr(f"lag({VALUE}, {steps}) OVER ({SERIES_WINDOW})"))
    return wrap_name("delay", frame.with_df(df), str(steps))


@register("integral")
def integral(ctx, exp, f, u):
    """running sum; NULL points stay NULL but don't reset — integral/function.go:30."""
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    return wrap_name("integral", frame.map_value(
        f"CASE WHEN {VALUE} IS NOT NULL THEN sum({VALUE}) {RUNNING} END"))


@register("integralByInterval")
def integral_by_interval(ctx, exp, f, u):
    """running sum resetting each bucket; NULL counts as 0 inside a bucket
    — integralByInterval/function.go:30."""
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    bucket = f"{TS} - ({TS} - {f}) % {exp.get_interval(1)}"
    # a DOUBLE window result, set directly as in delay
    df = frame.df.withColumn(VALUE, F.expr(
        f"sum(coalesce({VALUE}, 0.0D)) OVER (PARTITION BY {ORD}, {bucket} "
        f"ORDER BY {TS} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"))
    return wrap_name("integralByInterval", frame.with_df(df), exp.raw_arg(1))


_LAST_TS = f"last(CASE WHEN {VALUE} IS NOT NULL THEN {TS} END, true)"


@register("keepLastValue")
def keep_last_value(ctx, exp, f, u):
    """forward-fill up to *limit* consecutive gaps — keepLastValue/function.go:31-88
    (fills the first `limit` points of longer gaps, carbonapi behavior)."""
    limit = exp.get_float(1, float("inf"), names=("limit",))
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    last_ts = f"{_LAST_TS} {RUNNING}"
    gap_ok = f"({TS} - {last_ts}) / {frame.step} <= {sql_dlit(limit)}"
    df = frame.map_value(
        f"CASE WHEN {VALUE} IS NOT NULL THEN {VALUE} WHEN {last_ts} IS NOT NULL "
        f"AND {gap_ok} THEN last({VALUE}, true) {RUNNING} END")
    suffix = []
    if len(exp.args) > 1 or "limit" in exp.named_args:
        suffix.append("inf" if limit == float("inf") else str(int(limit)))
    return wrap_name("keepLastValue", df, *suffix)


@register("interpolate")
def interpolate(ctx, exp, f, u):
    """linear interpolation across gaps <= limit — interpolate/function.go:26."""
    limit = exp.get_float(1, float("inf"), names=("limit",))
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    fwd = f"OVER ({SERIES_WINDOW} ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
    prev_v, prev_ts = f"last({VALUE}, true) {RUNNING}", f"{_LAST_TS} {RUNNING}"
    next_v = f"first({VALUE}, true) {fwd}"
    next_ts = f"first(CASE WHEN {VALUE} IS NOT NULL THEN {TS} END, true) {fwd}"
    gap_len = f"({next_ts} - {prev_ts}) / {frame.step} - 1"
    frac = f"({TS} - {prev_ts}) / ({next_ts} - {prev_ts})"
    near = sql_all([f"{prev_ts} IS NOT NULL", f"{next_ts} IS NOT NULL",
                    f"{gap_len} <= {sql_dlit(limit)}"])
    return wrap_name("interpolate", frame.map_value(
        f"CASE WHEN {VALUE} IS NOT NULL THEN {VALUE} WHEN {near} THEN "
        f"{prev_v} + ({next_v} - {prev_v}) * ({frac}) END"))


@register("changed")
def changed(ctx, exp, f, u):
    """1 when value differs from previous else 0 — changed/function.go:30."""
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    return wrap_name("changed", frame.map_value(
        f"CASE WHEN {_PREV} IS NULL AND {VALUE} IS NULL THEN 0.0D "
        f"WHEN {_PREV} IS NULL OR {VALUE} IS NULL THEN 1.0D "
        f"WHEN {_PREV} != {VALUE} THEN 1.0D ELSE 0.0D END"))


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
