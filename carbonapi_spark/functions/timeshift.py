"""Time-shift operators: fetch a displaced window, re-label to the request
window (reference adjusts the fetch in parser.go:182-216; our recursive
evaluator passes the displaced [from, until) down to the fetch instead)."""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import functions as F

from carbonapi_spark.evaluator import eval_expr
from carbonapi_spark.functions import register
from carbonapi_spark.model.series import NAME, TS, SeriesFrame, union


@register("timeShift")
def time_shift(ctx, exp, f, u):
    """timeShift(sl, offset, resetEnd=true, alignDST=false)
    — timeShift/function.go:74."""
    offset = exp.get_interval(1, default_sign=-1)
    frame = eval_expr(ctx, exp.args[0], f + offset, u + offset)
    df = frame.df.withColumn(TS, (F.col(TS) - offset).cast("long"))
    raw = exp.args[1].val_str or exp.args[1].target
    df = df.withColumn(NAME, F.format_string("timeShift(%s,'%s')", F.col(NAME),
                                             F.lit(raw)))
    return SeriesFrame(df, frame.step, frame.start - offset, frame.stop - offset,
                       frame.consolidation, frame.xff, frame.dense)


@register("timeStack")
def time_stack(ctx, exp, f, u):
    """N shifted copies, one per period back — timeStack/function.go:31
    (fetch adjustments parser.go:190-216)."""
    unit = exp.get_interval(1, default_sign=-1, default=-604800)
    start_idx = exp.get_int(2, 0)
    end_idx = exp.get_int(3, 7)
    raw = exp.args[1].val_str if len(exp.args) > 1 else "1w"
    frames = []
    for i in range(start_idx, end_idx):
        delta = unit * i
        sub = eval_expr(ctx, exp.args[0], f + delta, u + delta)
        df = (sub.df.withColumn(TS, (F.col(TS) - delta).cast("long"))
              .withColumn(NAME, F.format_string(f"timeShift(%s,{raw},{i})",
                                                F.col(NAME))))
        frames.append(replace(sub, df=df, start=sub.start - delta,
                              stop=sub.stop - delta))
    if not frames:
        raise ValueError("timeStack: empty range")
    return union(frames)
