"""Sorts / limits / top-k (SURVEY §2.8).

Series order is first-class in Graphite but Spark DataFrames are unordered,
so ordering is *encoded into the ``ord`` column*: a sort ranks the
per-series table (:meth:`SeriesFrame.per_series`, one row per series) and
:meth:`SeriesFrame.rank` rewrites ``ord`` to the zero-padded rank, by which
the serializer orders. The rank window is unpartitioned but only ever sees
that small table; the ranks join back by broadcast. ``limit`` over a sort
has that sort keep its first n ranks; over anything else it ranks the
distinct ords the same way (:func:`ranked`) and joins the first n back,
leaving ``ord`` as it is, so list order is kept. Sort keys are SQL text.
"""

from __future__ import annotations

from carbonapi_spark.evaluator import eval_expr
from carbonapi_spark.functions import register
from carbonapi_spark.model.series import NAME, ORD, ranked
from carbonapi_spark.sqltext import expr_cached, selectx, sql_lit


def _by_agg(descending: bool) -> str:
    """Order on the per-series ``__agg``, NaN last (helper/sort.go:26-31)."""
    return "__agg DESC NULLS LAST" if descending else "__agg ASC NULLS LAST"


# ---------------------------------------------------------------- sortBy

@register("sortBy", "sortByTotal", "sortByMaxima", "sortByMinima")
def sort_by(ctx, exp, f, u, n: int | None = None):
    """order series by a per-series aggregate — sortBy/function.go:33-92,
    NaN sorts last (helper/sort.go:26-31). With *n* (``limit`` over the
    sort) only the first n ranks are kept."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    if exp.target == "sortBy":
        func = exp.get_string(1, "average", names=("func",))
        reverse = exp.get_bool(2, False, names=("reverse",))
    else:
        func = {"sortByTotal": "sum", "sortByMaxima": "max",
                "sortByMinima": "min"}[exp.target]
        reverse = exp.target in ("sortByTotal", "sortByMaxima")
    if exp.target == "sortByMinima":
        # graphite quirk: sortByMinima only considers series with max > 0
        frame = frame.keep(frame.per_series(__agg="max").where("__agg > 0"))
    return frame.rank(frame.per_series(__agg=func), _by_agg(reverse), n=n)


# split at digit/non-digit boundaries, left-pad numeric runs -> the string
# compare becomes a numeric-aware compare (helper/sort.go:52)
_RUNS = sql_lit(r"(?<=\D)(?=\d)|(?<=\d)(?=\D)")
_DIGITS = sql_lit(r"^\d+$")
_NATURAL_KEY = (f"array_join(transform(split({NAME}, {_RUNS}, -1), t -> CASE WHEN "
                f"t RLIKE {_DIGITS} THEN lpad(t, 20, '0') ELSE t END), '')")


@register("sortByName")
def sort_by_name(ctx, exp, f, u, n: int | None = None):
    """lexicographic or natural-number-aware name order — sortByName/function.go:30."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    natural = exp.get_bool(1, False, names=("natural",))
    reverse = exp.get_bool(2, False, names=("reverse",))
    key = _NATURAL_KEY if natural else NAME
    per = selectx(frame.df, ORD, f"{key} AS __key").distinct()
    return frame.rank(per, "__key DESC" if reverse else "__key ASC", n=n)


_SORTS = {"sortBy": sort_by, "sortByTotal": sort_by, "sortByMaxima": sort_by,
          "sortByMinima": sort_by, "sortByName": sort_by_name}


# ------------------------------------------------------------ top-k

_HL = {
    "highestAverage": ("average", False), "highestCurrent": ("current", False),
    "highestMax": ("max", False), "highestMin": ("min", False),
    "lowestAverage": ("average", True), "lowestCurrent": ("current", True),
    "lowestMax": ("max", True), "lowestMin": ("min", True),
}


@register("highest", "lowest", *_HL.keys())
def highest_lowest(ctx, exp, f, u):
    """top-/bottom-n series by aggregate — highestLowest/function.go:34."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    if exp.target in ("highest", "lowest"):
        n = exp.get_int(1, 1)
        func = exp.get_string(2, "average")
        ascending = exp.target == "lowest"
    else:
        n = exp.get_int(1, 1)
        func, ascending = _HL[exp.target]
    return frame.rank(frame.per_series(__agg=func), _by_agg(not ascending), n=n)


@register("mostDeviant")
def most_deviant(ctx, exp, f, u):
    """top-n series by variance — mostDeviant/function.go:32.

    Accepts (n, seriesList) or (seriesList, n) argument order like the
    reference."""
    if exp.args[0].is_const():
        n, series_idx = exp.get_int(0), 1
    else:
        n, series_idx = exp.get_int(1), 0
    frame = eval_expr(ctx, exp.args[series_idx], f, u)
    per = frame.per_series(__agg=expr_cached("var_pop(value)"))
    return frame.rank(per, _by_agg(True), n=n)


@register("limit")
def limit(ctx, exp, f, u):
    """first n series (list order) — limit/function.go:29.

    Over a sort, the sort ranks its first n series only. Otherwise the
    distinct ords are ranked and the first n joined back, ``ord``
    unchanged, so list order is kept."""
    n = exp.get_int(1)
    arg = exp.args[0]
    if arg.is_func() and arg.target in _SORTS:
        return _SORTS[arg.target](ctx, arg, f, u, n=n)
    frame = eval_expr(ctx, arg, f, u)
    first = selectx(ranked(selectx(frame.df, ORD).distinct(), n=n), ORD)
    return frame.with_df(frame.df.join(first.hint("broadcast"), ORD))
