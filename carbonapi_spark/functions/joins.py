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
from pyspark.sql.window import Window

from carbonapi_spark.evaluator import eval_expr
from carbonapi_spark.functions import built_step, register
from carbonapi_spark.sqltext import expr_cached, selectx, sql_lit
from carbonapi_spark.functions.helper import agg_key_sql
from carbonapi_spark.model.series import NAME, ORD, TS, VALUE, align



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


_LIST_OPS = {
    "divideSeriesLists": ("divideSeries", lambda a, b: F.when(b != 0, a / b)),
    "diffSeriesLists": ("diffSeries", lambda a, b: a - b),
    "multiplySeriesLists": ("multiplySeries", lambda a, b: a * b),
    "sumSeriesLists": ("sumSeries", lambda a, b: a + b),
    "powSeriesLists": ("powSeries", lambda a, b: F.pow(a, b)),
}


@register(*_LIST_OPS.keys(), "aggregateSeriesLists")
def series_lists(ctx, exp, f, u):
    """pairwise i-th vs i-th — seriesList/function.go:31; lists must have
    equal lengths. Join key = (series rank, ts)."""
    V = F.col(VALUE)
    fa = eval_expr(ctx, exp.args[0], f, u)
    fb = eval_expr(ctx, exp.args[1], f, u)
    if exp.target == "aggregateSeriesLists":
        func = exp.get_string(2)
        name_fn = func.replace("Series", "") + "Series"
        op = {
            "sum": lambda a, b: a + b, "add": lambda a, b: a + b,
            "diff": lambda a, b: a - b, "subtract": lambda a, b: a - b,
            "multiply": lambda a, b: a * b,
            "divide": lambda a, b: F.when(b != 0, a / b),
            "pow": lambda a, b: F.pow(a, b),
            "max": lambda a, b: F.greatest(a, b), "min": lambda a, b: F.least(a, b),
        }.get(func)
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
    both = (fa.df.select(F.lit(0).alias("__s"), F.col(ORD))
            .unionByName(fb.df.select(F.lit(1).alias("__s"), F.col(ORD)))
            .distinct().collect())
    ords_a = sorted(r[1] for r in both if r[0] == 0)
    ords_b = sorted(r[1] for r in both if r[0] == 1)
    if len(ords_a) != len(ords_b):
        raise ValueError(
            f"{exp.target}: seriesLists must have the same length "
            f"({len(ords_a)} vs {len(ords_b)})")
    a = fa.df.select(F.array_position(F.lit(ords_a), F.col(ORD)).alias("__idx"),
                     F.col(TS), F.col(NAME).alias("__na"), V.alias("__va"))
    b = fb.df.select(F.array_position(F.lit(ords_b), F.col(ORD)).alias("__idx"),
                     F.col(TS), F.col(NAME).alias("__nb"), V.alias("__vb"))
    name = F.format_string(f"{name_fn}(%s,%s)", F.col("__na"), F.col("__nb"))
    df = (a.join(b, ["__idx", TS])
          .select(name.alias(NAME), name.alias(ORD), F.col(TS),
                  op(F.col("__va"), F.col("__vb")).cast("double").alias(VALUE)))
    return fa.with_df(df)


@register("asPercent", "pct")
def as_percent(ctx, exp, f, u):
    """% of total — asPercent/function.go:335-489, all four shapes:
    (sl), (sl, N), (sl, totalSeries), (sl, None|total, *nodes)."""
    V = F.col(VALUE)
    frame = eval_expr(ctx, exp.args[0], f, u)
    nodes = exp.get_node_or_tag_args(2) if len(exp.args) > 2 else []
    total_arg = exp.args[1] if len(exp.args) > 1 else None

    if nodes:
        return _as_percent_by_nodes(ctx, exp, frame, total_arg, nodes, f, u)

    if total_arg is not None and total_arg.is_const():
        n = total_arg.val
        nstr = total_arg.val_str
        out = frame.map_value(lambda v: v / F.lit(n) * 100 if n != 0 else F.lit(None))
        return out.map_name(f"format_string('asPercent(%s,%s)', name, {sql_lit(nstr)})")

    if total_arg is None or (total_arg.is_name() and total_arg.target.lower() == "none"):
        # total = per-ts sum of the list itself
        tot = F.sum(V).over(Window.partitionBy(TS))
        df = frame.df.withColumn(VALUE, F.when(tot != 0, V / tot * 100))
        df = df.withColumn(NAME, F.format_string(
            "asPercent(%s,sumSeries(%s))", F.col(NAME), F.lit(exp.args[0].to_string())))
        return frame.with_df(df)

    total = eval_expr(ctx, total_arg, f, u)
    frame, total = align([frame, total])
    total = total.densify()
    # single total series: broadcast join on ts; multi without nodes sums them.
    # The single-vs-multi naming decision rides the SAME aggregation as the
    # sum (the total is densified, so every series has a row at every ts
    # and the per-ts distinct-name count IS the global series count) — the
    # total subplan is evaluated exactly once, no separate count() job.
    tot_df = total.df.groupBy(TS).agg(F.sum(V).alias("__tot"),
                                      F.count_distinct(F.col(NAME)).alias("__nd"))
    tstr = total_arg.to_string()
    tname = (F.when(F.col("__nd") > 1, F.lit(f"sumSeries({tstr})"))
             .otherwise(F.lit(tstr)))
    df = (frame.df.join(F.broadcast(tot_df), TS, "left")
          .withColumn(VALUE, F.when(F.col("__tot") != 0, V / F.col("__tot") * 100))
          .withColumn(NAME, F.format_string("asPercent(%s,%s)", F.col(NAME), tname))
          .drop("__tot", "__nd"))
    return frame.with_df(df)


def _as_percent_by_nodes(ctx, exp, frame, total_arg, nodes, f, u):
    """asPercent grouped by node key, with MISSING padding on both sides
    (asPercent/function.go:400-430)."""
    V = F.col(VALUE)
    key = F.expr(agg_key_sql(nodes))
    if total_arg is None or (total_arg.is_name() and total_arg.target.lower() == "none"):
        tot = (frame.df.withColumn("__key", key)
               .groupBy("__key", TS).agg(F.sum(V).alias("__tot")))
        df = (frame.df.withColumn("__key", key)
              .join(tot, ["__key", TS], "left")
              .withColumn(VALUE, F.when(F.col("__tot") != 0, V / F.col("__tot") * 100))
              .withColumn(NAME, F.format_string("asPercent(%s,%s)", F.col(NAME),
                                                F.col("__key")))
              .drop("__key", "__tot"))
        return frame.with_df(df)

    total = eval_expr(ctx, total_arg, f, u)
    # dense sides: the full join below pads a missing row as MISSING
    frame2, total = (fr.densify() for fr in align([frame, total]))
    tkey = F.expr(agg_key_sql(nodes))
    tot = (total.df.withColumn("__key", tkey)
           .groupBy("__key", TS).agg(F.sum(V).alias("__tot"),
                                     F.min(NAME).alias("__tname")))
    num = frame2.df.withColumn("__key", key)
    # MISSING detection comes from the join-side nullness itself (pre-rename
    # NAME / __tname), never from pattern-matching the rebuilt display name —
    # a genuine series named e.g. "app.MISSING_data.cpu" must keep its values
    # (asPercent/function.go:400-430 pads only actually-unmatched sides).
    df = (num.join(tot, ["__key", TS], "full")
          .withColumn("__unmatched",
                      F.col(NAME).isNull() | F.col("__tname").isNull())
          .withColumn(NAME, F.when(F.col(NAME).isNotNull() & F.col("__tname").isNotNull(),
                                   F.format_string("asPercent(%s,%s)", F.col(NAME),
                                                   F.col("__tname")))
                      .when(F.col(NAME).isNotNull(),
                            F.format_string("asPercent(%s,MISSING)", F.col(NAME)))
                      .otherwise(F.format_string("asPercent(MISSING,%s)",
                                                 F.col("__tname"))))
          .withColumn(ORD, F.coalesce(F.col(ORD), F.col(NAME)))
          .withColumn(VALUE,
                      F.when(F.col("__unmatched"), F.lit(None).cast("double"))
                      .when(F.col("__tot") != 0, V / F.col("__tot") * 100))
          .drop("__key", "__tot", "__tname", "__unmatched"))
    return frame2.with_df(df)


@register("weightedAverage")
def weighted_average(ctx, exp, f, u):
    """sum(avg*weight)/sum(weight) matched by node key
    — weightedAverage/function.go:31."""
    V = F.col(VALUE)
    favg = eval_expr(ctx, exp.args[0], f, u)
    fwgt = eval_expr(ctx, exp.args[1], f, u)
    nodes = exp.get_node_or_tag_args(2)
    # dense sides: over sparse ones no two rows may meet in the join below
    favg, fwgt = (fr.densify() for fr in align([favg, fwgt]))
    key = F.expr(agg_key_sql(nodes))
    a = favg.df.select(key.alias("__key"), F.col(TS), V.alias("__a"))
    w = fwgt.df.select(key.alias("__key"), F.col(TS), V.alias("__w"))
    prod = (a.join(w, ["__key", TS])
            .groupBy(TS)
            .agg(F.sum(F.col("__a") * F.col("__w")).alias("__num"),
                 F.sum(F.when(F.col("__a").isNotNull(), F.col("__w"))).alias("__den")))
    name = f"weightedAverage({exp.args[0].to_string()},{exp.args[1].to_string()},{','.join(str(n) for n in nodes)})"
    df = prod.select(F.lit(name).alias(NAME), F.lit(name).alias(ORD), F.col(TS),
                     F.when(F.col("__den") != 0,
                            F.col("__num") / F.col("__den")).cast("double").alias(VALUE))
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
