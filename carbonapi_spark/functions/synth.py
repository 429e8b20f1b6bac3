"""Synthetic series sources (SURVEY §2.1): constantLine, time, sin,
randomWalk, identity — generated distributed via ``spark.range`` spines."""

from __future__ import annotations

from carbonapi_spark.functions import register
from carbonapi_spark.functions.helper import float_str
from carbonapi_spark.model.series import NAME, ORD, RUNNING, TS, VALUE, SeriesFrame
from carbonapi_spark.sqltext import local_df as _local_df, sql_dlit, sql_lit


def _half_range(ctx, exp, f, u) -> int:
    """Step rule of the three-point constant lines."""
    return max((u - f) // 2, 1)


def _step_arg(i: int):
    """Step rule: the ``step`` argument at position *i*, 60 by default."""
    return lambda ctx, exp, f, u: exp.get_int(i, 60, names=("step",))


def _spine_frame(ctx, name: str, f: int, u: int, step: int) -> SeriesFrame:
    df = ctx.spark.range(f, u, step).selectExpr(
        f"{sql_lit(name)} AS {NAME}", f"{sql_lit(name)} AS {ORD}",
        f"CAST(id AS BIGINT) AS {TS}", f"CAST(NULL AS DOUBLE) AS {VALUE}")
    return SeriesFrame(df, step, f, u, dense=True)


@register("constantLine", step=_half_range)
def constant_line(ctx, exp, f, u):
    """flat synthetic series at value — constantLine/function.go:29
    (three points: from, midpoint, until)."""
    value = exp.get_float(0)
    name = float_str(value)
    mid = f + (u - f) // 2
    rows = [(name, name, int(t), float(value)) for t in (f, mid, u)]
    df = _local_df(ctx.spark, rows, "name STRING, ord STRING, ts BIGINT, value DOUBLE")
    return SeriesFrame(df, max((u - f) // 2, 1), f, u + 1, dense=True)


@register("threshold", step=_half_range)
def threshold(ctx, exp, f, u):
    """constantLine with optional alias — cairo threshold semantics."""
    value = exp.get_float(0)
    label = exp.get_string(1, float_str(value), names=("label",))
    frame = constant_line(ctx, exp, f, u)
    return frame.map_name(sql_lit(label))


@register("timeFunction", "time", step=_step_arg(1))
def time_function(ctx, exp, f, u):
    """value = its own timestamp — timeFunction/function.go:29."""
    name = exp.get_string(0)
    step = exp.get_int(1, 60, names=("step",))
    frame = _spine_frame(ctx, name, f, u, step)
    return frame.map_value(f"CAST({TS} AS DOUBLE)")


@register("identity", step=lambda ctx, exp, f, u: 60)
def identity(ctx, exp, f, u):
    """identity(name): value = ts at 60s step — identity/function.go:29."""
    name = exp.get_string(0)
    frame = _spine_frame(ctx, name, f, u, 60)
    frame = frame.map_value(f"CAST({TS} AS DOUBLE)")
    return frame.map_name("format_string('identity(%s)', name)")


@register("sin", "sinFunction", step=_step_arg(2))
def sin_function(ctx, exp, f, u):
    """synthetic sine — sinFunction/function.go:31."""
    name = exp.get_string(0)
    amplitude = exp.get_float(1, 1.0, names=("amplitude",))
    step = exp.get_int(2, 60, names=("step",))
    frame = _spine_frame(ctx, name, f, u, step)
    return frame.map_value(f"{sql_dlit(amplitude)} * sin(CAST({TS} AS DOUBLE))")


@register("randomWalk", "randomWalkFunction", step=_step_arg(1))
def random_walk(ctx, exp, f, u):
    """random walk: cumulative sum of U(-0.5, 0.5) steps
    — randomWalk/function.go:30."""
    name = exp.get_string(0, "randomWalk")
    step = exp.get_int(1, 60, names=("step",))
    frame = _spine_frame(ctx, name, f, u, step)
    return frame.map_value(f"sum(rand() - 0.5D) {RUNNING}")
