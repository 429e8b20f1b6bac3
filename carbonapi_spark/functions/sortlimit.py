"""Sorts / limits / top-k (SURVEY §2.8).

Series order is first-class in Graphite but Spark DataFrames are unordered,
so ordering is *encoded into the ``ord`` column*: sort functions reassign
``ord`` to a zero-padded rank and the serializer orders by it. The rank is
computed on the tiny per-series aggregate table (one row per series), so the
unpartitioned rank window never sees big data; the result joins back
broadcast.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from carbonapi_spark.functions import register
from carbonapi_spark.functions.helper import series_arg, series_args
from carbonapi_spark.model.consolidation import agg_column, skips_nulls
from carbonapi_spark.model.series import NAME, ORD, TS, VALUE, SeriesFrame



def _per_series(frame: SeriesFrame, func: str):
    """One row per series: (ord, __agg)."""
    V = F.col(VALUE)
    src = frame if skips_nulls(func) else frame.densify()
    return src.df.groupBy(ORD).agg(
        agg_column(func, V, F.col(TS), 0.0).cast("double").alias("__agg"))


def _reorder(frame: SeriesFrame, ranked) -> SeriesFrame:
    """ranked: (ord, __rank). Reassign ord = zero-padded rank."""
    df = (frame.df.join(F.broadcast(ranked), ORD)
          .withColumn(ORD, F.format_string("%010d", F.col("__rank")))
          .drop("__rank"))
    return frame.with_df(df)


def _keep_top(frame: SeriesFrame, func: str, n: int, ascending: bool) -> SeriesFrame:
    per = _per_series(frame, func)
    order = [F.col("__agg").asc_nulls_last() if ascending
             else F.col("__agg").desc_nulls_last(), F.col(ORD)]
    w = Window.orderBy(*order)
    keep = per.withColumn("__rank", F.row_number().over(w)).where(F.col("__rank") <= n)
    return _reorder(frame, keep.select(ORD, "__rank"))


# ---------------------------------------------------------------- sortBy

@register("sortBy", "sortByTotal", "sortByMaxima", "sortByMinima")
def sort_by(ctx, exp, f, u):
    """order series by a per-series aggregate — sortBy/function.go:33-92,
    NaN sorts last (helper/sort.go:26-31)."""
    frame = series_arg(ctx, exp, exp.args[0], f, u)
    if exp.target == "sortBy":
        func = exp.get_string(1, "average", names=("func",))
        reverse = exp.get_bool(2, False, names=("reverse",))
    else:
        func = {"sortByTotal": "sum", "sortByMaxima": "max",
                "sortByMinima": "min"}[exp.target]
        reverse = exp.target in ("sortByTotal", "sortByMaxima")
    if exp.target == "sortByMinima":
        # graphite quirk: sortByMinima only considers series with max > 0
        per = _per_series(frame, "max").where(F.col("__agg") > 0).select(ORD)
        frame = frame.with_df(frame.df.join(F.broadcast(per), ORD))
    per = _per_series(frame, func)
    order = F.col("__agg").desc_nulls_last() if reverse else F.col("__agg").asc_nulls_last()
    w = Window.orderBy(order, F.col(ORD))
    ranked = per.withColumn("__rank", F.row_number().over(w)).select(ORD, "__rank")
    return _reorder(frame, ranked)


@register("sortByName")
def sort_by_name(ctx, exp, f, u):
    """lexicographic or natural-number-aware name order — sortByName/function.go:30."""
    frame = series_arg(ctx, exp, exp.args[0], f, u)
    natural = exp.get_bool(1, False, names=("natural",))
    reverse = exp.get_bool(2, False, names=("reverse",))
    key = F.col(NAME)
    if natural:
        # split at digit/non-digit boundaries, left-pad numeric runs -> the
        # string compare becomes a numeric-aware compare (helper/sort.go:52)
        toks = F.split(F.col(NAME), r"(?<=\D)(?=\d)|(?<=\d)(?=\D)")
        key = F.array_join(
            F.transform(toks, lambda t: F.when(t.rlike(r"^\d+$"),
                                               F.lpad(t, 20, "0")).otherwise(t)), "")
    per = frame.df.select(ORD, key.alias("__key")).distinct()
    order = F.col("__key").desc() if reverse else F.col("__key").asc()
    w = Window.orderBy(order, F.col(ORD))
    ranked = per.withColumn("__rank", F.row_number().over(w)).select(ORD, "__rank")
    return _reorder(frame, ranked)


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
    frame = series_arg(ctx, exp, exp.args[0], f, u)
    if exp.target in ("highest", "lowest"):
        n = exp.get_int(1, 1)
        func = exp.get_string(2, "average")
        ascending = exp.target == "lowest"
    else:
        n = exp.get_int(1, 1)
        func, ascending = _HL[exp.target]
    return _keep_top(frame, func, n, ascending)


@register("mostDeviant")
def most_deviant(ctx, exp, f, u):
    """top-n series by variance — mostDeviant/function.go:32.

    Accepts (n, seriesList) or (seriesList, n) argument order like the
    reference."""
    V = F.col(VALUE)
    if exp.args[0].is_const():
        n, series_idx = exp.get_int(0), 1
    else:
        n, series_idx = exp.get_int(1), 0
    frame = series_arg(ctx, exp, exp.args[series_idx], f, u)
    per = frame.df.groupBy(ORD).agg(F.var_pop(V).alias("__agg"))
    w = Window.orderBy(F.col("__agg").desc_nulls_last(), F.col(ORD))
    keep = per.withColumn("__rank", F.row_number().over(w)).where(F.col("__rank") <= n)
    return _reorder(frame, keep.select(ORD, "__rank"))


@register("limit")
def limit(ctx, exp, f, u):
    """first n series (list order) — limit/function.go:29."""
    frame = series_arg(ctx, exp, exp.args[0], f, u)
    n = exp.get_int(1)
    per = frame.df.select(ORD).distinct()
    w = Window.orderBy(F.col(ORD))
    keep = (per.withColumn("__rank", F.row_number().over(w))
            .where(F.col("__rank") <= n).select(ORD))
    return frame.with_df(frame.df.join(F.broadcast(keep), ORD))
