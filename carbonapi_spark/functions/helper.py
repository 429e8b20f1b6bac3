"""Shared helpers for render-function implementations."""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql.window import Window

from carbonapi_spark.evaluator import EvalContext, eval_expr
from carbonapi_spark.model.series import ORD, TS, SeriesFrame, combine
from carbonapi_spark.parser import Expr


def series_args(ctx: EvalContext, exp: Expr, from_ts: int, until_ts: int,
                start: int = 0, end: int | None = None) -> SeriesFrame:
    """Flatten several seriesList args into one combined frame
    (helper.GetSeriesArgsAndRemoveNonExisting, helper.go:39-72)."""
    args = exp.args[start:end]
    if not args:
        raise ValueError(f"{exp.target}: missing series arguments")
    frames = [eval_expr(ctx, a, from_ts, until_ts) for a in args]
    return combine(frames)


def series_window(order_desc: bool = False) -> Window:
    """Per-series window ordered by time."""
    o = F.col(TS).desc() if order_desc else F.col(TS).asc()
    return Window.partitionBy(ORD).orderBy(o)


def wrap_name(fname: str, frame: SeriesFrame, *suffix_args: str) -> SeriesFrame:
    """name -> fname(name[,args]) — per-series name synthesis as a Column."""
    if suffix_args:
        tail = "," + ",".join(suffix_args)
    else:
        tail = ""
    return frame.map_name(lambda n: F.concat(F.lit(fname + "("), n, F.lit(tail + ")")))


def node_expr(name: Column, idx: int) -> Column:
    """Dot-node *idx* of a name (negative from the end) — tags stripped first.

    helper.AggKey semantics (expr/helper/helper.go:85-109): node indexing is
    over the base name (before ';'). Returns NULL when out of range.
    """
    base = F.split_part(name, F.lit(";"), F.lit(1))
    parts = F.split(base, "\\.")
    # element_at supports negative indexes; convert 0-based node to 1-based
    i = idx + 1 if idx >= 0 else idx
    return F.try_element_at(parts, F.lit(i))


def agg_key_expr(name: Column, keys: list[int | str]) -> Column:
    """Group key from node indexes and/or tag names, dot-joined
    (helper.go:85-109; tags via expr/tags/helper.go:160)."""
    from carbonapi_spark.sources.lake import tags_expr

    parts = []
    for k in keys:
        if isinstance(k, int):
            parts.append(node_expr(name, k))
        else:
            parts.append(tags_expr(name).getItem(k))
    if not parts:
        return name
    return F.concat_ws(".", *[F.coalesce(p, F.lit("")) for p in parts])


def float_str(v: float) -> str:
    """Go %g-style float formatting for synthesized names."""
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)
