"""Long-tail operators: SLO family, baselines, KS test, applyByNode
rewrite, percentile band filter, and documented stubs for the
config-gated external-lookup functions."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from carbonapi_spark.sqltext import local_df as _local_df, sql_lit
from pyspark.sql.window import Window

from carbonapi_spark.evaluator import EvalError, eval_expr
from carbonapi_spark.functions import (
    built_step, first_arg_step, interval_step, register,
)
from carbonapi_spark.model.series import (
    NAME, ORD, TS, VALUE, SERIES_SCHEMA, SeriesFrame, align, combine,
)

_SLO_METHODS = {
    "above": lambda v, x: v > x,
    "aboveOrEqual": lambda v, x: v >= x,
    "below": lambda v, x: v < x,
    "belowOrEqual": lambda v, x: v <= x,
}


@register("slo", "sloErrorBudget", step=interval_step)
def slo(ctx, exp, f, u):
    """per-bucket fraction of points meeting the predicate; error budget =
    (fraction - objective) * bucketSize — slo/function.go:29-230."""
    V = F.col(VALUE)
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    bucket_size = exp.get_interval(1)
    method = exp.get_string(2)
    value = exp.get_float(3)
    if method not in _SLO_METHODS:
        raise EvalError(f"slo: unsupported method {method}")
    is_budget = exp.target == "sloErrorBudget"
    objective = exp.get_float(4) if is_budget else 0.0

    op = {"above": V > value, "aboveOrEqual": V >= value,
          "below": V < value, "belowOrEqual": V <= value}[method]
    bucket = F.col(TS) - ((F.col(TS) - frame.start) % bucket_size)
    matched = F.count(F.when(op, 1))
    notnull = F.count(V)
    frac = F.when(notnull > 0, matched.cast("double") / notnull)
    out_val = (frac - objective) * bucket_size if is_budget else frac

    interval_str = exp.args[1].val_str or exp.args[1].target
    if is_budget:
        suffix = f", {interval_str}, {method}, {exp.args[3].val_str}, {exp.args[4].val_str})"
    else:
        suffix = f", {interval_str}, {method}, {exp.args[3].val_str})"
    df = (frame.df.groupBy(NAME, ORD, bucket.alias(TS))
          .agg(out_val.cast("double").alias(VALUE))
          .withColumn(NAME, F.concat(F.lit(exp.target + "("), F.col(NAME),
                                     F.lit(suffix))))
    n_buckets = (frame.stop - frame.start + bucket_size - 1) // bucket_size
    out = SeriesFrame(df, bucket_size, frame.start,
                      frame.start + n_buckets * bucket_size,
                      frame.consolidation, frame.xff, dense=False)
    return out.densify()


@register("baseline", "baselineAberration")
def baseline(ctx, exp, f, u):
    """median across N same-time-previous-period windows; aberration is the
    ratio of current to that baseline — baselines/function.go:30-160."""
    V = F.col(VALUE)
    unit = exp.get_interval(1, default_sign=-1)
    start_i = exp.get_int(2)
    end_i = exp.get_int(3)
    is_aberration = exp.target == "baselineAberration"

    current = eval_expr(ctx, exp.args[0], f, u).densify()
    shifted = []
    for i in range(start_i, end_i):
        if i == 0:
            continue
        offs = i * unit
        sub = eval_expr(ctx, exp.args[0], f + offs, u + offs)
        df = sub.df.withColumn(TS, (F.col(TS) - offs).cast("long"))
        shifted.append(SeriesFrame(df, sub.step, sub.start - offs,
                                   sub.stop - offs, sub.consolidation,
                                   sub.xff, sub.dense))
    if not shifted:
        raise EvalError("baseline: empty window range")
    union = shifted[0].df
    for s in shifted[1:]:
        union = union.unionByName(s.df)
    med = (union.groupBy(NAME, TS)
           .agg(F.percentile(V, F.lit(0.5)).alias("__med")))
    prefix = exp.target
    if is_aberration:
        cur = current.df
        df = (cur.join(med, [NAME, TS], "left")
              .withColumn(VALUE,
                          F.when(F.col("__med").isNull(), None)
                          .when(V.isNull(), None)
                          .when(F.col("__med") != 0, V / F.col("__med"))
                          .otherwise(V))
              .drop("__med")
              .withColumn(NAME, F.format_string(f"{prefix}(%s)", F.col(NAME))))
        return current.with_df(df)
    grid = current.df.select(NAME, ORD, TS)
    df = (grid.join(med, [NAME, TS], "left")
          .withColumn(VALUE, F.col("__med")).drop("__med")
          .withColumn(NAME, F.format_string(f"{prefix}(%s)", F.col(NAME))))
    return current.with_df(df)


@register("kolmogorovSmirnovTest2", "ksTest2")
def ks_test2(ctx, exp, f, u):
    """rolling two-sample KS statistic of two series
    — kolmogorovSmirnovTest2/function.go:32-85 (numpy kernel; window is the
    previous windowSize points, first windowSize outputs NaN)."""
    s1 = eval_expr(ctx, exp.args[0], f, u)
    s2 = eval_expr(ctx, exp.args[1], f, u)
    n = exp.get_int(2)
    s1, s2 = (s.densify() for s in align([s1, s2]))
    b = s2.df.select(F.col(TS).alias("__ts2"), F.col(VALUE).alias("__v2"),
                     F.col(NAME).alias("__n2"))
    joined = s1.df.join(F.broadcast(b), F.col(TS) == F.col("__ts2"), "left")

    n_str = exp.args[2].val_str

    def apply(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(TS)
        v1 = pdf[VALUE].to_numpy(dtype=float)
        v2 = pdf["__v2"].to_numpy(dtype=float)
        out = np.full(len(v1), np.nan)
        for i in range(n, len(v1)):
            w1 = v1[i - n:i]
            w2 = v2[i - n:i]
            out[i] = _ks_stat(w1, w2)
        name2 = pdf["__n2"].dropna()
        nm2 = name2.iloc[0] if len(name2) else ""
        name = f"kolmogorovSmirnovTest2({pdf[NAME].iloc[0]},{nm2},{n_str})"
        return pd.DataFrame({NAME: [name] * len(v1), ORD: [pdf[ORD].iloc[0]] * len(v1),
                             TS: pdf[TS].to_numpy(), VALUE: out})

    df = joined.groupBy(ORD).applyInPandas(apply, SERIES_SCHEMA)
    return s1.with_df(df, dense=True)


def _ks_stat(a: np.ndarray, b: np.ndarray) -> float:
    """Two-sample KS D statistic (NaNs are sorted to the end like Go's
    sort of NaN-containing data; windows are fixed-length as in the
    reference's ring buffer)."""
    a = np.sort(a)
    b = np.sort(b)
    na, nb = len(a), len(b)
    if na == 0 or nb == 0:
        return float("nan")
    allv = np.concatenate([a, b])
    cdf_a = np.searchsorted(a, allv, side="right") / na
    cdf_b = np.searchsorted(b, allv, side="right") / nb
    return float(np.max(np.abs(cdf_a - cdf_b)))


@register("applyByNode", step=built_step)
def apply_by_node(ctx, exp, f, u):
    """for each node-prefix, instantiate the template ('%' -> prefix),
    evaluate it, optionally alias — rewrite/applyByNode/function.go:31
    (driver-side macro expansion, as in the reference's RewriteExpr)."""
    from carbonapi_spark.parser import parse

    frame = eval_expr(ctx, exp.args[0], f, u)
    node = exp.get_int(1)
    template = exp.get_string(2)
    new_name = exp.get_string(3, "", names=("newName",))

    base = F.split_part(F.col(NAME), F.lit(";"), F.lit(1))
    parts = F.split(base, "\\.")
    cnt = F.size(parts)
    end = F.lit(node) + F.when(F.lit(node) < 0, cnt).otherwise(F.lit(0)) + 1
    prefix = F.array_join(F.slice(parts, 1, end), ".")
    prefixes = sorted(r[0] for r in frame.df.select(prefix).distinct().collect())

    frames = []
    for p in prefixes:
        sub_target = template.replace("%", p)
        sub = eval_expr(ctx, parse(sub_target), f, u)
        if new_name:
            label = new_name.replace("%", p)
            sub = sub.map_name(sql_lit(label))
        frames.append(sub)
    if not frames:
        return SeriesFrame.empty(ctx.spark, frame.step, frame.start, frame.stop)
    return combine(frames)


@register("removeBetweenPercentile")
def remove_between_percentile(ctx, exp, f, u):
    """keep series that stray outside the [n, 100-n] band of the per-ts
    cross-series percentiles — removeBetweenPercentile/function.go:32."""
    V = F.col(VALUE)
    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    n = exp.get_float(1)
    lo_p, hi_p = min(n, 100 - n) / 100, max(n, 100 - n) / 100
    bands = (frame.df.groupBy(TS)
             .agg(F.percentile(V, F.lit(lo_p)).alias("__lo"),
                  F.percentile(V, F.lit(hi_p)).alias("__hi")))
    return frame.keep(frame.df.join(bands, TS)
                      .where((V < F.col("__lo")) | (V > F.col("__hi")))
                      .select(ORD).distinct())


def _require_client(ctx, name: str):
    """The reference gates these functions behind a service config file and
    registers nothing when it is absent (aliasByRedis/function.go:58-64);
    here the gate is an injected client callable on
    ``EvalContext.external_clients`` — the engine never owns the
    connection. Unconfigured -> the same hard error as before."""
    client = ctx.external_clients.get(name)
    if client is None:
        raise EvalError(
            f"{name} requires an external service connection; inject "
            f"EvalContext.external_clients[{name!r}] (see SURVEY.md §2.4)")
    return client


def _rename_map(frame, rename: dict, drop_unmatched: bool):
    """Apply a name->newname dict via a broadcast literal map (one row per
    series was collected to build it — the aliasQuery batching shape)."""
    if not rename and not drop_unmatched:
        return frame
    pairs = [F.lit(x) for kv in rename.items() for x in kv]
    m = F.create_map(*pairs) if pairs else F.create_map()
    new = m.getItem(F.col(NAME))
    df = frame.df
    if drop_unmatched:
        df = df.where(new.isNotNull())
    return frame.with_df(df.withColumn(NAME, F.coalesce(new, F.col(NAME))))


@register("aliasByRedis")
def alias_by_redis(ctx, exp, f, u):
    """aliasByRedis(seriesList, hashName, keepPath=False): HGET hashName
    <last node> per series — aliasByRedis/function.go:167-230. The client
    is a BATCH callable ``(hash_name, keys: list[str]) -> dict[key, alias]``
    (the reference does one HGET per series; one round-trip per render is
    the Spark-right shape). Lookup misses keep the original name."""
    client = _require_client(ctx, "aliasByRedis")
    frame = eval_expr(ctx, exp.args[0], f, u)
    hash_name = exp.get_string(1)
    keep_path = exp.get_bool(2, False, names=("keepPath",))

    def last_node(n):  # prepareMetric, function.go:20-23
        return n.split(";")[0].split(".")[-1]

    names = [r[0] for r in frame.df.select(NAME).distinct().collect()]
    found = client(hash_name, sorted({last_node(n) for n in names})) or {}
    rename = {}
    for n in names:
        alias = found.get(last_node(n))
        if alias is None:
            continue
        if keep_path:
            parts = n.split(";")[0].split(".")
            parts[-1] = alias
            rename[n] = ".".join(parts)
        else:
            rename[n] = alias
    return _rename_map(frame, rename, drop_unmatched=False)


@register("aliasByPostgres")
def alias_by_postgres(ctx, exp, f, u):
    """aliasByPostgres(seriesList, databaseName, keyString, *fields):
    selected name nodes are substituted into a configured SQL template and
    the query result becomes the new name — aliasByPostgres/function.go:
    151-238. The SQL templating lives in the client:
    ``(database, key, node_lists: list[list[str]]) -> list[str | None]``
    (batched, one entry per series; None = no match). Series without a
    match are DROPPED, as in the reference (function.go:220-233 appends
    only matched results)."""
    client = _require_client(ctx, "aliasByPostgres")
    frame = eval_expr(ctx, exp.args[0], f, u)
    database = exp.get_string(1)
    key = exp.get_string(2)
    fields = [exp.get_int(i) for i in range(3, len(exp.args))]
    if not fields:
        raise EvalError("aliasByPostgres: field indices required")

    names = [r[0] for r in frame.df.select(NAME).distinct().collect()]
    node_lists = []
    for n in names:
        nodes = n.split(";")[0].split(".")
        picked = [nodes[i] for i in
                  (i + len(nodes) if i < 0 else i for i in fields)
                  if 0 <= i < len(nodes)]
        node_lists.append(picked)
    aliases = client(database, key, node_lists)
    rename = {n: a for n, a in zip(names, aliases) if a is not None}
    return _rename_map(frame, rename, drop_unmatched=True)


@register("graphiteWeb", step=built_step)
def graphite_web(ctx, exp, f, u):
    """graphiteWeb(target): proxy the raw target to a real graphite-web
    /render and graft the result into the plan — graphiteWeb/function.go:77
    (the reference's fallback for functions it lacks). Client:
    ``(target: str, from_ts: int, until_ts: int) ->
    (rows: list[(name, ts, value)], step: int)``."""
    client = _require_client(ctx, "graphiteWeb")
    target = exp.args[0].to_string()
    rows, step = client(target, f, u)
    df = _local_df(ctx.spark, 
        [(n, n, int(t), None if v is None else float(v))
         for n, t, v in rows], SERIES_SCHEMA)
    return SeriesFrame(df, int(step), f, u)


@register("areaBetween")
def area_between(ctx, exp, f, u):
    """graph decorator: band between two series; values unchanged, names
    wrapped — cairo areaBetween semantics."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    return frame.map_name("format_string('areaBetween(%s)', name)")


@register("compressPeriodicGaps")
def compress_periodic_gaps(ctx, exp, f, u):
    """detect a periodic sampling stride from the first two non-NaN points
    and re-bucket to it with 'last' consolidation
    — compressPeriodicGaps/function.go:31-110 (per-series numpy kernel)."""
    import numpy as np
    import pandas as pd
    from carbonapi_spark.model.series import SERIES_SCHEMA

    frame = eval_expr(ctx, exp.args[0], f, u).densify()
    step = frame.step

    def apply(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(TS)
        vals = pdf[VALUE].to_numpy(dtype=float)
        ts = pdf[TS].to_numpy()
        name = "compressPeriodicGaps(" + pdf[NAME].iloc[0] + ")"
        ord_ = pdf[ORD].iloc[0]
        nn = np.flatnonzero(~np.isnan(vals))
        interval = None
        if len(nn) >= 2:
            first, second = int(nn[0]), int(nn[1])
            guess = second - first
            third = second + guess
            if guess > 1 and third <= len(vals) - 2 and not np.isnan(vals[third]) \
                    and np.isnan(vals[third - 1]) and np.isnan(vals[third + 1]):
                interval = guess * step
        if interval is None:
            return pd.DataFrame({NAME: [name] * len(ts), ORD: [ord_] * len(ts),
                                 TS: ts, VALUE: vals})
        new_start = int(ts[0] + nn[0] * step)
        stop = int(ts[-1] + step)
        buckets = list(range(new_start, stop, interval))
        out = []
        for b in buckets:
            sel = vals[((ts >= b) & (ts < b + interval))]
            sel = sel[~np.isnan(sel)]
            out.append(sel[-1] if len(sel) else np.nan)
        return pd.DataFrame({NAME: [name] * len(buckets),
                             ORD: [ord_] * len(buckets),
                             TS: buckets, VALUE: out})

    df = frame.df.groupBy(ORD).applyInPandas(apply, SERIES_SCHEMA)
    # step/range metadata reflects the detected interval only per series;
    # frame-level meta keeps the original (mixed-output quirk of the ref too)
    return frame.with_df(df, dense=False)


@register("timeShiftByMetric", step=first_arg_step)
def time_shift_by_metric(ctx, exp, f, u):
    """align 'version' series to the newest version by shifting time per
    marker metrics — timeShiftByMetric/function.go:33-215.

    Marker versions are the last dot-node matching (\\d+)_(\\d+); per major
    version the latest mark wins; offset = (top mark's last-data position -
    this mark's) * step. Metrics pick their offset via node[versionRank]
    (exact then prefix match); unmatched series are dropped."""
    import re as _re

    metrics = eval_expr(ctx, exp.args[0], f, u).densify()
    marks = eval_expr(ctx, exp.args[1], f, u).densify()
    version_rank = exp.get_int(2)
    step = metrics.step

    mark_rows = (marks.df.where(F.col(VALUE).isNotNull())
                 .groupBy(NAME).agg(F.max(TS).alias("__last")))
    versions: dict[str, int] = {}
    for r in mark_rows.collect():
        mv = r[NAME].split(";")[0].split(".")[-1]
        m = _re.match(r"^(\d+)_(\d+)$", mv)
        if not m:
            continue
        pos = int(r["__last"])
        versions[mv] = max(versions.get(mv, -1), pos)
    if not versions:
        raise EvalError("timeShiftByMetric: no valid marks")
    # latest mark per major version
    by_major: dict[int, tuple[int, str, int]] = {}
    for mv, pos in versions.items():
        major, minor = (int(x) for x in mv.split("_"))
        cur = by_major.get(major)
        if cur is None or minor > cur[0]:
            by_major[major] = (minor, mv, pos)
    newest = by_major[max(by_major)]
    top_pos = newest[2]
    offsets = {mv: top_pos - pos for mv, (mi, mv, pos) in
               ((v[1], v) for v in by_major.values())}

    rows = []
    for mv, off in offsets.items():
        rows.append((mv, off))
    off_df = _local_df(ctx.spark, rows, "ver STRING, off BIGINT")

    base = F.split_part(F.col(NAME), F.lit(";"), F.lit(1))
    parts = F.split(base, "\\.")
    ver = F.try_element_at(parts, F.lit(version_rank + 1))
    tagged = metrics.df.withColumn("__ver", ver)
    joined = tagged.join(F.broadcast(off_df),
                         F.col("ver").startswith(F.col("__ver")), "inner")
    df = (joined
          .withColumn(TS, (F.col(TS) + F.col("off")).cast("long"))
          .withColumn(NAME, F.format_string("timeShiftByMetric(%s)", F.col(NAME)))
          .drop("__ver", "ver", "off"))
    return metrics.with_df(df, dense=False)


@register("aliasQuery")
def alias_query(ctx, exp, f, u):
    """regex-derive a new query per series, evaluate it, format its last
    value into the new name — aliasQuery/function.go:26-95 (carbonapi ext;
    inherently a driver-side loop of sub-queries, as in the reference)."""
    import re as _re
    from carbonapi_spark.parser import parse as _parse

    frame = eval_expr(ctx, exp.args[0], f, u)
    search = exp.get_string(1)
    replace = exp.get_string(2)
    new_name = exp.get_string(3)
    replace_py = _re.sub(r"\\(\d+)", r"\\g<\1>", replace)

    names = sorted(r[0] for r in frame.df.select(NAME).distinct().collect())
    # evaluate every derived sub-target lazily, then fetch ALL last values
    # in ONE union + window job (N collect round-trips otherwise; the
    # reference is also driver-side here but we can at least batch)
    from functools import reduce

    subs = []
    for i, n in enumerate(names):
        target = _re.sub(search, replace_py, n)
        sub = eval_expr(ctx, _parse(target), f, u)
        subs.append(sub.df.where(F.col(VALUE).isNotNull())
                    .select(F.lit(i).alias("__q"), F.col(TS), F.col(VALUE)))
    lasts: dict[int, float] = {}
    if subs:
        union = reduce(lambda a, b: a.unionByName(b), subs)
        w = Window.partitionBy("__q").orderBy(F.col(TS).desc())
        rows = (union.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1).select("__q", VALUE).collect())
        lasts = {r["__q"]: r[VALUE] for r in rows}
    mapping = [(n, new_name % lasts.get(i, float("nan")))
               for i, n in enumerate(names)]
    map_df = _local_df(ctx.spark, mapping, "name STRING, __new STRING")
    df = (frame.df.join(F.broadcast(map_df), NAME)
          .withColumn(NAME, F.col("__new")).drop("__new"))
    return frame.with_df(df)
