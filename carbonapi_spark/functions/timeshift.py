"""Time-shift operators: fetch a displaced window, re-label to the request
window (reference adjusts the fetch in parser.go:182-216; our recursive
evaluator passes the displaced [from, until) down to the fetch instead)."""

from __future__ import annotations

from carbonapi_spark.evaluator import eval_expr
from carbonapi_spark.functions import register
from carbonapi_spark.model.series import NAME, union
from carbonapi_spark.sqltext import sql_lit


@register("timeShift")
def time_shift(ctx, exp, f, u):
    """timeShift(sl, offset, resetEnd=true, alignDST=false)
    — timeShift/function.go:74."""
    offset = exp.get_interval(1, default_sign=-1)
    frame = eval_expr(ctx, exp.args[0], f + offset, u + offset).shift(offset)
    raw = exp.args[1].val_str or exp.args[1].target
    fmt = sql_lit("timeShift(%s,'%s')")
    return frame.map_name(f"format_string({fmt}, {NAME}, {sql_lit(raw)})")


@register("timeStack")
def time_stack(ctx, exp, f, u):
    """N shifted copies, one per period back — timeStack/function.go:31
    (fetch adjustments parser.go:190-216)."""
    unit = exp.get_interval(1, default_sign=-1, default=-604800)
    start_idx = exp.get_int(2, 0)
    end_idx = exp.get_int(3, 7)
    raw = exp.args[1].val_str if len(exp.args) > 1 else "1w"
    frames = [eval_expr(ctx, exp.args[0], f + unit * i, u + unit * i).shift(unit * i)
              .map_name(f"format_string({sql_lit(f'timeShift(%s,{raw},{i})')}, {NAME})")
              for i in range(start_idx, end_idx)]
    if not frames:
        raise ValueError("timeStack: empty range")
    return union(frames)
