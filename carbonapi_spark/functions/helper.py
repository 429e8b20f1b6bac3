"""Shared helpers for render-function implementations."""

from __future__ import annotations

from carbonapi_spark.evaluator import EvalContext, eval_expr
from carbonapi_spark.model.series import NAME, SeriesFrame, combine
from carbonapi_spark.parser import Expr
from carbonapi_spark.sqltext import sql_lit


def series_args(ctx: EvalContext, exp: Expr, from_ts: int, until_ts: int,
                start: int = 0, end: int | None = None) -> SeriesFrame:
    """Flatten several seriesList args into one combined frame
    (helper.GetSeriesArgsAndRemoveNonExisting, helper.go:39-72)."""
    args = exp.args[start:end]
    if not args:
        raise ValueError(f"{exp.target}: missing series arguments")
    frames = [eval_expr(ctx, a, from_ts, until_ts) for a in args]
    return combine(frames)


def wrap_name(fname: str, frame: SeriesFrame, *suffix_args: str) -> SeriesFrame:
    """name -> fname(name[,args]) — per-series name synthesis."""
    tail = "".join("," + a for a in suffix_args)
    return frame.map_name(f"concat({sql_lit(fname + '(')}, {NAME}, {sql_lit(tail + ')')})")


_DOT = sql_lit(r"\.")


def nodes_sql() -> str:
    """SQL text of the array of dot-nodes of a name's base (before ';')."""
    return f"split(split_part({NAME}, ';', 1), {_DOT}, -1)"


def node_sql(idx: int) -> str:
    """SQL text of dot-node *idx* of a name (negative from the end) — tags
    stripped first.

    helper.AggKey semantics (expr/helper/helper.go:85-109): node indexing is
    over the base name (before ';'). NULL when out of range.
    """
    # element_at supports negative indexes; convert 0-based node to 1-based
    i = idx + 1 if idx >= 0 else idx
    return f"try_element_at({nodes_sql()}, {i})"


def agg_key_sql(keys: list[int | str]) -> str:
    """SQL text of the group key from node indexes and/or tag names,
    dot-joined (helper.go:85-109; tags via expr/tags/helper.go:160)."""
    from carbonapi_spark.sources.lake import tags_sql

    parts = [node_sql(k) if isinstance(k, int)
             else f"{tags_sql()}[{sql_lit(k)}]" for k in keys]
    if not parts:
        return NAME
    return "concat_ws('.', " + ", ".join(f"coalesce({p}, '')" for p in parts) + ")"


def float_str(v: float) -> str:
    """Go %g-style float formatting for synthesized names."""
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)
