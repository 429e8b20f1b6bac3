"""Series-to-series arithmetic (SURVEY §2.5): equi-joins on (series, ts).

The reference's implicit join is a positional zip after alignment
(``expr/helper/align.go:382``). Here it is a real relational join:

- N:1 shapes (divideSeries, asPercent with a single total) broadcast the
  one-series side,
- positional list zips (divideSeriesLists & friends) join on the per-frame
  series *rank* — order made explicit, as Spark requires,
- grouped shapes (asPercent by nodes) join on the node key with a full
  outer join to reproduce Graphite's MISSING-pad semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from carbonapi_spark.evaluator import eval_expr
from carbonapi_spark.functions import built_step, register
from carbonapi_spark.sqltext import expr_cached, selectx, sql_lit
from carbonapi_spark.functions.helper import agg_key_sql
from carbonapi_spark.model.series import NAME, ORD, TS, VALUE, align

# the value as a percentage of the joined total ``__tot``
_PCT = f"CASE WHEN __tot != 0 THEN {VALUE} / __tot * 100 END"


@register("divideSeries")
def divide_series(ctx, exp, f, u):
    """each dividend / the single divisor — divideSeries/function.go:32.

    With 2+ args and a wildcard-multi divisor the reference errors; a single
    divisor is broadcast-joined on ts."""
    dividend = eval_expr(ctx, exp.args[0], f, u)
    if len(exp.args) == 1:
        raise ValueError("divideSeries: divisor required")
    divisor = eval_expr(ctx, exp.args[1], f, u)
    dividend, divisor = align([dividend, divisor])
    den = selectx(divisor.df, f"{TS} AS __dts", f"{VALUE} AS __den")
    df = (dividend.df
          .join(den.hint("broadcast"), expr_cached(f"{TS} = __dts"), "left")
          .withColumn(VALUE, expr_cached(f"CASE WHEN __den != 0 THEN {VALUE} / __den END"))
          .drop("__dts", "__den"))
    return dividend.with_df(df).map_name(
        f"format_string('divideSeries(%s,%s)', {NAME}, "
        f"{sql_lit(exp.args[1].to_string())})")


_PAIR_OPS = {
    "sum": "__va + __vb", "add": "__va + __vb",
    "diff": "__va - __vb", "subtract": "__va - __vb",
    "multiply": "__va * __vb",
    "divide": "CASE WHEN __vb != 0 THEN __va / __vb END",
    "pow": "power(__va, __vb)",
    "max": "greatest(__va, __vb)", "min": "least(__va, __vb)",
}
_LIST_OPS = {
    "divideSeriesLists": ("divideSeries", _PAIR_OPS["divide"]),
    "diffSeriesLists": ("diffSeries", _PAIR_OPS["diff"]),
    "multiplySeriesLists": ("multiplySeries", _PAIR_OPS["multiply"]),
    "sumSeriesLists": ("sumSeries", _PAIR_OPS["sum"]),
    "powSeriesLists": ("powSeries", _PAIR_OPS["pow"]),
}


@register(*_LIST_OPS.keys(), "aggregateSeriesLists")
def series_lists(ctx, exp, f, u):
    """pairwise i-th vs i-th — seriesList/function.go:31; lists must have
    equal lengths. Join key = (series rank, ts)."""
    fa = eval_expr(ctx, exp.args[0], f, u)
    fb = eval_expr(ctx, exp.args[1], f, u)
    if exp.target == "aggregateSeriesLists":
        func = exp.get_string(2)
        name_fn = func.replace("Series", "") + "Series"
        op = _PAIR_OPS.get(func)
        if op is None:
            raise ValueError(f"aggregateSeriesLists: unsupported function {func}")
    else:
        name_fn, op = _LIST_OPS[exp.target]

    # dense sides: the inner join below drops a missing row (a pair that
    # never overlaps would vanish) and greatest/least skip a NULL
    fa, fb = (fr.densify() for fr in align([fa, fb]))
    # one job fetches both sides' series orders (tiny: one row per series);
    # positional indexing then happens via a literal array — no count() jobs,
    # no broadcast-index subplans re-evaluating the fetch pipeline per side
    both = (selectx(fa.df, "0 AS __s", ORD).unionByName(selectx(fb.df, "1 AS __s", ORD))
            .distinct().collect())
    ords = [sorted(r[1] for r in both if r[0] == s) for s in (0, 1)]
    if len(ords[0]) != len(ords[1]):
        raise ValueError(
            f"{exp.target}: seriesLists must have the same length "
            f"({len(ords[0])} vs {len(ords[1])})")
    a, b = (fr.df.selectExpr(
        f"array_position(array({', '.join(map(sql_lit, o))}), {ORD}) AS __idx", TS,
        f"{NAME} AS __n{s}", f"{VALUE} AS __v{s}")
        for fr, o, s in ((fa, ords[0], "a"), (fb, ords[1], "b")))
    name = f"format_string({sql_lit(name_fn + '(%s,%s)')}, __na, __nb)"
    df = a.join(b, ["__idx", TS]).selectExpr(
        f"{name} AS {NAME}", f"{name} AS {ORD}", TS, f"CAST({op} AS DOUBLE) AS {VALUE}")
    return fa.with_df(df)


@register("asPercent", "pct")
def as_percent(ctx, exp, f, u):
    """% of total — asPercent/function.go:335-489, all four shapes:
    (sl), (sl, N), (sl, totalSeries), (sl, None|total, *nodes)."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    nodes = exp.get_node_or_tag_args(2) if len(exp.args) > 2 else []
    total_arg = exp.args[1] if len(exp.args) > 1 else None

    if nodes:
        return _as_percent_by_nodes(ctx, exp, frame, total_arg, nodes, f, u)

    if total_arg is not None and total_arg.is_const():
        n = total_arg.val
        out = frame.map_value(f"{VALUE} / {sql_lit(n)} * 100" if n != 0 else "NULL")
        return out.map_name(f"format_string('asPercent(%s,%s)', name, "
                            f"{sql_lit(total_arg.val_str)})")

    if total_arg is None or (total_arg.is_name() and total_arg.target.lower() == "none"):
        # total = per-ts sum of the list itself
        tot = f"sum({VALUE}) OVER (PARTITION BY {TS})"
        out = frame.map_value(f"CASE WHEN {tot} != 0 THEN {VALUE} / {tot} * 100 END")
        return out.map_name(f"format_string('asPercent(%s,sumSeries(%s))', {NAME}, "
                            f"{sql_lit(exp.args[0].to_string())})")

    total = eval_expr(ctx, total_arg, f, u)
    frame, total = align([frame, total])
    total = total.densify()
    # single total series: broadcast join on ts; multi without nodes sums them.
    # The single-vs-multi naming decision rides the SAME aggregation as the
    # sum (the total is densified, so every series has a row at every ts
    # and the per-ts distinct-name count IS the global series count) — the
    # total subplan is evaluated exactly once, no separate count() job.
    tot_df = total.df.groupBy(TS).agg(expr_cached(f"sum({VALUE}) AS __tot"),
                                      expr_cached(f"count(DISTINCT {NAME}) AS __nd"))
    tstr = total_arg.to_string()
    tname = f"CASE WHEN __nd > 1 THEN {sql_lit(f'sumSeries({tstr})')} ELSE {sql_lit(tstr)} END"
    df = (frame.df.join(tot_df.hint("broadcast"), TS, "left")
          .withColumn(VALUE, expr_cached(_PCT))
          .withColumn(NAME, F.expr(f"format_string('asPercent(%s,%s)', {NAME}, {tname})"))
          .drop("__tot", "__nd"))
    return frame.with_df(df)


def _as_percent_by_nodes(ctx, exp, frame, total_arg, nodes, f, u):
    """asPercent grouped by node key, with MISSING padding on both sides
    (asPercent/function.go:400-430)."""
    key = f"{agg_key_sql(nodes)} AS __key"
    if total_arg is None or (total_arg.is_name() and total_arg.target.lower() == "none"):
        keyed = frame.df.select("*", F.expr(key))
        tot = keyed.groupBy("__key", TS).agg(expr_cached(f"sum({VALUE}) AS __tot"))
        df = (keyed.join(tot, ["__key", TS], "left")
              .withColumn(VALUE, expr_cached(_PCT))
              .withColumn(NAME, expr_cached(f"format_string('asPercent(%s,%s)', {NAME}, __key)"))
              .drop("__key", "__tot"))
        return frame.with_df(df)

    total = eval_expr(ctx, total_arg, f, u)
    # dense sides: the full join below pads a missing row as MISSING
    frame2, total = (fr.densify() for fr in align([frame, total]))
    tot = (total.df.select("*", F.expr(key)).groupBy("__key", TS)
           .agg(expr_cached(f"sum({VALUE}) AS __tot"), expr_cached(f"min({NAME}) AS __tname")))
    # MISSING detection comes from the join-side nullness itself (pre-rename
    # NAME / __tname), never from pattern-matching the rebuilt display name —
    # a genuine series named e.g. "app.MISSING_data.cpu" must keep its values
    # (asPercent/function.go:400-430 pads only actually-unmatched sides).
    df = (frame2.df.select("*", F.expr(key)).join(tot, ["__key", TS], "full")
          .withColumn("__unmatched", expr_cached(f"{NAME} IS NULL OR __tname IS NULL"))
          .withColumn(NAME, expr_cached(
              f"CASE WHEN {NAME} IS NOT NULL AND __tname IS NOT NULL THEN "
              f"format_string('asPercent(%s,%s)', {NAME}, __tname) "
              f"WHEN {NAME} IS NOT NULL THEN format_string('asPercent(%s,MISSING)', {NAME}) "
              f"ELSE format_string('asPercent(MISSING,%s)', __tname) END"))
          .withColumn(ORD, expr_cached(f"coalesce({ORD}, {NAME})"))
          .withColumn(VALUE, expr_cached(
              f"CASE WHEN __unmatched THEN CAST(NULL AS DOUBLE) WHEN __tot != 0 "
              f"THEN {VALUE} / __tot * 100 END"))
          .drop("__key", "__tot", "__tname", "__unmatched"))
    return frame2.with_df(df)


@register("weightedAverage")
def weighted_average(ctx, exp, f, u):
    """sum(avg*weight)/sum(weight) matched by node key
    — weightedAverage/function.go:31."""
    favg = eval_expr(ctx, exp.args[0], f, u)
    fwgt = eval_expr(ctx, exp.args[1], f, u)
    nodes = exp.get_node_or_tag_args(2)
    # dense sides: over sparse ones no two rows may meet in the join below
    favg, fwgt = (fr.densify() for fr in align([favg, fwgt]))
    key = f"{agg_key_sql(nodes)} AS __key"
    a = favg.df.selectExpr(key, TS, f"{VALUE} AS __a")
    w = fwgt.df.selectExpr(key, TS, f"{VALUE} AS __w")
    prod = (a.join(w, ["__key", TS]).groupBy(TS)
            .agg(expr_cached("sum(__a * __w) AS __num"),
                 expr_cached("sum(CASE WHEN __a IS NOT NULL THEN __w END) AS __den")))
    name = sql_lit(f"weightedAverage({exp.args[0].to_string()},{exp.args[1].to_string()},"
                   f"{','.join(str(n) for n in nodes)})")
    df = prod.selectExpr(f"{name} AS {NAME}", f"{name} AS {ORD}", TS,
                         f"CAST(CASE WHEN __den != 0 THEN __num / __den END AS DOUBLE) AS {VALUE}")
    return favg.with_df(df)


@register("fallbackSeries", step=built_step)
def fallback_series(ctx, exp, f, u):
    """if the first list is empty use the fallback — fallbackSeries/function.go:29.

    The emptiness probe is the one place a driver-side count is semantically
    required (the reference does the same list-length check)."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    if frame.df.select(NAME).limit(1).count() == 0:
        return eval_expr(ctx, exp.args[1], f, u)
    return frame
