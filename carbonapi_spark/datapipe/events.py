"""Event-sequence analytics over the events table: ordered funnels,
cohort retention, transition counts, single-/multi-touch attribution
(heuristic + Markov removal-effect), A/B + CUPED readouts, RFM and
rolling-active-user segmentation, session paths, survival
(Kaplan-Meier), robust statistics (MAD outliers, trimmed/winsorized
means), CUSUM change-points, as-of / trailing-window joins, and the
join-key skew diagnostic.

Every quantity is an exact integer, a deterministic fixed-point value,
or a single IEEE division of exact operands — so each op carries an
exact SQL oracle.  Scale shape: event-sized work shuffles at most once
per stage on ``user_id`` (the stream's natural partitioner) or reduces
immediately to a value-histogram / states^2 / group-sized table;
outputs are never event-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from carbonapi_spark.sqltext import local_df as _local_df


def funnel(events: DataFrame, steps: list[str],
           within_s: int | None = None, user_col: str = "user_id",
           type_col: str = "event_type",
           ts_col: str = "sec") -> DataFrame:
    """Ordered funnel conversion: for each prefix of ``steps``, how many
    users performed the steps IN ORDER (each step strictly after the
    previous one; ``within_s`` bounds the whole journey from step 1).

    Step i's earliest qualifying timestamp is min(ts of step-i events
    > t_{i-1}) per user — the standard ordered-funnel semantics
    (earliest-completion greedy, which never misses a completion for
    unbounded funnels).
    With ``within_s`` the greedy anchor is the EARLIEST step-1 event;
    journeys that would only complete from a later anchor are not
    counted (documented trade-off; exact per-anchor search is
    exponential).  Returns (step, event_type, n_users, conversion)
    with conversion relative to step 1.

    ONE event-table pass: events are filtered to the K step types,
    shuffled once on ``user_col``, and each user's time-sorted
    step-event list is folded through the greedy state machine
    (reached, anchor, last) in a single codegen'd HOF — the earliest
    qualifying timestamp chain t_i = min(ts of step-i events > t_{i-1})
    without materializing any t_i.  Per-user array size is the user's
    STEP-TYPE event count only.  (The previous join-chain ran the scan
    once per step and, worse, re-executed steps 1..i-1 for each
    ``counts[i]`` action — O(K^2) corpus passes at scale.)"""
    if not steps:
        raise ValueError("funnel needs at least one step")
    k = len(steps)
    row = funnel_counts_frame(events, steps, within_s, user_col,
                              type_col, ts_col).collect()[0]
    counts = [row[f"c{i}"] or 0 for i in range(1, k + 1)]
    base = counts[0]
    rows = [(i + 1, steps[i], counts[i],
             round(counts[i] / base, 6) if base else 0.0)
            for i in range(len(steps))]
    return _local_df(events.sparkSession, 
        rows, "step INT, event_type STRING, n_users LONG, "
              "conversion DOUBLE")


def funnel_counts_frame(events: DataFrame, steps: list[str],
                        within_s: int | None = None,
                        user_col: str = "user_id",
                        type_col: str = "event_type",
                        ts_col: str = "sec") -> DataFrame:
    """The one-job core of :func:`funnel`: a single row
    (c1..cK = users reaching each step prefix).  Exposed separately so
    the plan-shape test can pin the single event scan + single
    user-keyed exchange."""
    k = len(steps)
    steps_lit = F.array(*[F.lit(s) for s in steps])
    per_user = (events.where(F.col(type_col).isin(*set(steps)))
                .groupBy(user_col)
                .agg(F.sort_array(F.collect_list(F.struct(
                    F.col(ts_col).cast("long").alias("ts"),
                    F.col(type_col).alias("ty")))).alias("__evs")))
    init = F.struct(F.lit(0).alias("r"),
                    F.lit(None).cast("long").alias("anchor"),
                    F.lit(None).cast("long").alias("last"))

    def fold(acc, e):
        nxt = F.element_at(steps_lit, acc["r"] + 1)
        ok = (acc["r"] < k) & (e["ty"] == nxt) \
            & ((acc["r"] == 0) | (e["ts"] > acc["last"]))
        if within_s is not None:
            ok = ok & ((acc["r"] == 0)
                       | (e["ts"] <= acc["anchor"] + F.lit(within_s)))
        return F.when(ok, F.struct(
            (acc["r"] + 1).alias("r"),
            F.when(acc["r"] == 0, e["ts"]).otherwise(acc["anchor"])
            .alias("anchor"),
            e["ts"].alias("last"))).otherwise(acc)

    reached = per_user.select(
        F.aggregate("__evs", init, fold)["r"].alias("__r"))
    return reached.agg(*[
        F.sum((F.col("__r") >= i).cast("long")).alias(f"c{i}")
        for i in range(1, k + 1)])


def cohort_retention(events: DataFrame, period_s: int = 7 * 86400,
                     user_col: str = "user_id",
                     ts_col: str = "sec") -> DataFrame:
    """Classic retention triangle: users are cohorted by the period of
    their FIRST event; cell (cohort, offset) counts cohort members
    active ``offset`` periods later.  Periods are absolute buckets
    (ts div period), so cohorts align across the corpus.

    Two user-keyed aggregations (first event, distinct active periods)
    and one join — output is (cohorts x offsets)-sized.  Returns
    (cohort_period, period_offset, n_users, retention) with retention
    relative to the cohort's size (offset 0 row = 1.0 by
    construction)."""
    sec = F.col(ts_col)
    period = F.floor(sec / F.lit(period_s)).cast("long")
    first = (events.groupBy(user_col)
             .agg(F.min(period).alias("__cohort")))
    active = (events.select(F.col(user_col), period.alias("__p"))
              .distinct())
    size = first.groupBy("__cohort").agg(
        F.count(F.lit(1)).alias("__size"))
    cells = (active.join(first, user_col)
             .groupBy("__cohort", (F.col("__p") - F.col("__cohort"))
                      .alias("period_offset"))
             .agg(F.count(F.lit(1)).alias("n_users")))
    return (cells.join(F.broadcast(size), "__cohort")
            .select(F.col("__cohort").alias("cohort_period"),
                    "period_offset", "n_users",
                    F.round(F.col("n_users") / F.col("__size"), 6)
                    .alias("retention")))


def event_transitions(events: DataFrame, user_col: str = "user_id",
                      type_col: str = "event_type",
                      ts_col: str = "sec",
                      order_col: str = "event_id") -> DataFrame:
    """First-order transition counts between consecutive events of each
    user (the Markov/sankey matrix): (event_type, next_type, n) with
    the user's last event transitioning to the '__end__' sentinel.
    Deterministic ordering via (ts, order_col) — whole-second
    timestamps collide, the id breaks the tie.  One window over the
    user-partitioned stream plus one pair-keyed aggregation."""
    from pyspark.sql.window import Window
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col),
                                             F.col(order_col))
    nxt = F.lead(type_col).over(w)
    return (events.select(F.col(type_col),
                          F.coalesce(nxt, F.lit("__end__"))
                          .alias("next_type"))
            .groupBy(type_col, "next_type")
            .agg(F.count(F.lit(1)).alias("n")))


def attribution(events: DataFrame, conversion_type: str,
                touch_types: list[str], model: str = "last",
                lookback_s: int | None = None,
                user_col: str = "user_id", type_col: str = "event_type",
                ts_col: str = "sec",
                order_col: str = "event_id") -> DataFrame:
    """Single-touch marketing attribution: each conversion event is
    credited to the user's LAST (or FIRST) preceding touch event's type
    — the classic last-touch / first-touch models.  Returns
    (channel, n_conversions); the one-model face of
    :func:`attribution_models` (same single event pass)."""
    if model not in ("last", "first"):
        raise ValueError("model must be 'last' or 'first'")
    return (attribution_models(events, conversion_type, touch_types,
                               (model,), lookback_s, user_col,
                               type_col, ts_col, order_col)
            .select("channel", "n_conversions"))


def attribution_models(events: DataFrame, conversion_type: str,
                       touch_types: list[str],
                       models: tuple[str, ...] = ("last", "first"),
                       lookback_s: int | None = None,
                       user_col: str = "user_id",
                       type_col: str = "event_type", ts_col: str = "sec",
                       order_col: str = "event_id") -> DataFrame:
    """All requested single-touch models in ONE event pass: the
    user-partitioned window carries one running (ts, type) struct PER
    MODEL (``last``/``first`` with ignorenulls over rows-unbounded-
    preceding) over the same sort, so adding a model adds a window
    aggregate, not a scan — the shape the two-model scoreboard row and
    its oracle both use (the oracle computes lts/lty/fts/fty over one
    window; running ``attribution`` twice paid the dominant scan+sort
    cost per model).  Ordering is (ts, order_col); ``lookback_s`` voids
    credits older than the window; unattributed conversions land in
    '__none__'.  Returns (model, channel, n_conversions)."""
    from pyspark.sql.window import Window
    bad = [m for m in models if m not in ("last", "first")]
    if bad or not models:
        raise ValueError("models must be a non-empty subset of "
                         "('last', 'first')")
    w = (Window.partitionBy(user_col)
         .orderBy(F.col(ts_col), F.col(order_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    touch = F.when(F.col(type_col).isin(*touch_types),
                   F.struct(F.col(ts_col).cast("long").alias("ts"),
                            F.col(type_col).alias("ty")))
    carried = [((F.last(touch, ignorenulls=True) if m == "last"
                 else F.first(touch, ignorenulls=True)).over(w)
                .alias(f"__t_{m}")) for m in models]
    # one select -> ONE physical Window node evaluating every model's
    # carry over the same sort
    conv = (events.select("*", *carried)
            .where(F.col(type_col) == conversion_type))
    pairs = []
    for m in models:
        credit = F.col(f"__t_{m}.ty")
        if lookback_s is not None:
            credit = F.when(
                F.col(ts_col).cast("long") - F.col(f"__t_{m}.ts")
                <= lookback_s, credit)
        pairs.append(F.struct(
            F.lit(m).alias("model"),
            F.coalesce(credit, F.lit("__none__")).alias("channel")))
    return (conv.select(F.explode(F.array(*pairs)).alias("__mc"))
            .select("__mc.model", "__mc.channel")
            .groupBy("model", "channel")
            .agg(F.count(F.lit(1)).alias("n_conversions")))


def rfm_segments(events: DataFrame, n_bins: int = 5,
                 user_col: str = "user_id", ts_col: str = "sec",
                 order_col: str = "event_id",
                 exact: bool = True) -> DataFrame:
    """RFM segmentation (recency / frequency quantile grid — the
    classic user-value matrix): per user, recency = last event ts and
    frequency = event count, binned into ``n_bins`` (higher bin = more
    recent / more active).

    ``exact=True`` ntiles with user_id tie-break — equal-population
    bins, deterministic and engine-portable, but the two ntile windows
    are UNPARTITIONED: one task sorts the whole user table, so this
    mode is for driver-bounded user counts (fine to ~1e7; the 20M-event
    / 200k-user smoke in SCALE.md runs it in seconds).  ``exact=False``
    is the 100 TB mode, the same duality as ``text.quantile_thresholds``:
    bin cutoffs come from one ``percentile_approx`` pass (Greenwald-
    Khanna sketch, map-side mergeable) and bins are assigned map-side —
    no global sort at any user count, at the cost of sketch rank error
    and boundary-tie placement (a value equal to a cutoff goes below,
    where ntile balances populations exactly).

    One user-keyed aggregation either way; the approx path persists the
    user table via the size-gated scratch registry because it feeds
    both the cutoff sketch and the bin projection.  Returns (user_id,
    recency, frequency, r_bin, f_bin) — exact integers."""
    from pyspark.sql.window import Window
    per_user = events.groupBy(user_col).agg(
        F.max(F.col(ts_col).cast("long")).alias("recency"),
        F.count(F.lit(1)).alias("frequency"))
    if exact:
        rw = Window.partitionBy().orderBy(F.col("recency"), F.col(user_col))
        fw = Window.partitionBy().orderBy(F.col("frequency"), F.col(user_col))
        return per_user.select(
            user_col, "recency", "frequency",
            F.ntile(n_bins).over(rw).alias("r_bin"),
            F.ntile(n_bins).over(fw).alias("f_bin"))
    from carbonapi_spark.datapipe import track_if_large
    per_user = track_if_large(per_user, events)
    qs = F.array(*[F.lit(i / n_bins) for i in range(1, n_bins)])
    cuts = per_user.agg(
        F.percentile_approx(F.col("recency").cast("double"), qs,
                            F.lit(10000)).alias("__rcut"),
        F.percentile_approx(F.col("frequency").cast("double"), qs,
                            F.lit(10000)).alias("__fcut"))

    def bin_of(v, cut):
        return (F.lit(1) + F.size(F.filter(cut, lambda t: t < v))) \
            .cast("int")

    return (per_user.crossJoin(F.broadcast(cuts))
            .select(user_col, "recency", "frequency",
                    bin_of(F.col("recency").cast("double"),
                           F.col("__rcut")).alias("r_bin"),
                    bin_of(F.col("frequency").cast("double"),
                           F.col("__fcut")).alias("f_bin")))


def active_users(events: DataFrame, windows: tuple[int, ...] = (1, 7, 28),
                 user_col: str = "user_id",
                 ts_col: str = "sec") -> DataFrame:
    """Rolling distinct-active-user counts — the DAU/WAU/MAU dashboard
    (default windows 1/7/28 days) plus stickiness (smallest window over
    largest, the classic DAU/MAU engagement ratio).

    Rolling COUNT(DISTINCT) is not a window aggregate; the scalable
    shape is contribution explosion on the *deduplicated* (user, day)
    pair table: the one event-sized shuffle reduces events to distinct
    pairs, each pair then contributes to the ``max(windows)`` days it
    can keep a user active, and min-offset per (user, day) makes every
    window a conditional count in ONE keyed aggregation (a user active
    on day d counts toward window W on day d' iff d' - d < W, i.e. the
    minimal offset over the user's activity days is < W).  Work scales
    as pairs x max(window), never events x window; no self-join of the
    event table, no per-day subquery.

    Returns one row per day in [first activity day, last activity day]
    reachable from any pair: (day, au{w}d per window, stickiness)."""
    ws = sorted(set(windows))
    if not ws or ws[0] < 1:
        raise ValueError("windows must be positive day counts")
    wmax = ws[-1]
    day = F.floor(F.col(ts_col).cast("long") / F.lit(86400)).cast("long")
    pairs = events.select(F.col(user_col).alias("__u"),
                          day.alias("__day")).distinct()
    hi = pairs.agg(F.max("__day").alias("__hi"))
    m = (pairs.crossJoin(F.broadcast(hi))
         .select("__u", F.explode(
             F.sequence(F.lit(0), F.lit(wmax - 1))).alias("__o"),
             "__day", "__hi")
         .where(F.col("__day") + F.col("__o") <= F.col("__hi"))
         .groupBy("__u", (F.col("__day") + F.col("__o")).alias("day"))
         .agg(F.min("__o").alias("__m")))
    aggs = [F.sum((F.col("__m") < w).cast("long")).alias(f"au{w}d")
            for w in ws]
    out = m.groupBy("day").agg(*aggs)
    stick = (F.col(f"au{ws[0]}d").cast("double")
             / F.col(f"au{wmax}d"))
    return out.withColumn("stickiness", stick)


def asof_join(left: DataFrame, right: DataFrame, on: str = "sec",
              by: tuple[str, ...] = ("user_id",),
              right_cols: tuple[str, ...] = ("value",),
              direction: str = "backward",
              tolerance_s: int | None = None,
              suffix: str = "_r") -> DataFrame:
    """As-of join: attach to every left row the single right row with
    the greatest ``on`` <= left's ``on`` (``backward``; ``forward`` =
    smallest >=; ``nearest`` = smaller absolute gap, ties to backward),
    per ``by`` group — the time-series point-in-time lookup Spark has
    no built-in for (pandas ``merge_asof`` / kdb ``aj`` semantics,
    inclusive on equal timestamps).

    Physical shape is the scalable merge-union, NOT a range join: both
    inputs are unioned with a side tag, shuffled ONCE on ``by``, and a
    running ``last(..., ignorenulls)`` over the (ts, side)-ordered
    window carries each right row forward to the left rows it answers
    (``nearest`` runs a second, reverse-ordered window over the SAME
    partitioning — one extra sort, still one exchange — and picks the
    closer side per row).  Cost is one exchange + one/two sorts over
    |L|+|R| — no per-row range probe, no O(|L| x |R|) corner, skew
    bounded by the ``by`` key like any event-keyed window.

    ``right`` must be unique per (by, on) — pre-aggregate ties away
    (e.g. ``groupBy(by, on).agg(max(...))``); duplicate keys would make
    "the" matched row ill-defined.  ``tolerance_s`` nulls matches
    farther than the bound (applied to the selected match, pandas
    semantics; for backward/forward the nearest match is also the only
    candidate within any tolerance, so this is exact).  Matched columns
    come back as ``<col><suffix>`` plus ``<on><suffix>`` for the
    matched timestamp; unmatched left rows keep NULLs (left join)."""
    from pyspark.sql.window import Window
    if direction == "nearest":
        return _asof_nearest(left, right, on, by, right_cols,
                             tolerance_s, suffix)
    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown direction {direction!r}")
    keys = list(by)
    lts = F.col(on).cast("long")
    r_on = f"{on}{suffix}"
    rtypes, ltypes = dict(right.dtypes), dict(left.dtypes)
    # left payload (everything not a key / the ts) rides the union with
    # NULLs on the right side — one shuffle total, no join-back
    lpay = [c for c in left.columns if c not in keys and c != on]
    full_r = right.select(
        *keys, lts.alias("__ts"), F.lit(0).alias("__side"),
        lts.alias(r_on),
        *[F.col(c).alias(f"{c}{suffix}") for c in right_cols],
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lpay])
    full_l = left.select(
        *keys, lts.alias("__ts"), F.lit(1).alias("__side"),
        F.lit(None).cast("long").alias(r_on),
        *[F.lit(None).cast(rtypes[c]).alias(f"{c}{suffix}")
          for c in right_cols],
        *lpay)
    sign = 1 if direction == "backward" else -1
    w = (Window.partitionBy(*keys)
         .orderBy((F.col("__ts") * sign).asc(), F.col("__side").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = [F.last(F.col(c), ignorenulls=True).over(w).alias(c)
               for c in [r_on] + [f"{c}{suffix}" for c in right_cols]]
    out = (full_r.unionByName(full_l)
           .select(*keys, "__ts", "__side", *carried, *lpay)
           .where(F.col("__side") == 1))
    if tolerance_s is not None:
        gap = (F.col("__ts") - F.col(r_on)) * sign
        keep = F.col(r_on).isNotNull() & (gap <= tolerance_s)
        out = out.select(
            *keys, "__ts", *lpay,
            *[F.when(keep, F.col(c)).alias(c)
              for c in [r_on] + [f"{c}{suffix}" for c in right_cols]])
    else:
        out = out.select(*keys, "__ts", *lpay, r_on,
                         *[f"{c}{suffix}" for c in right_cols])
    return out.withColumnRenamed("__ts", on)


def _asof_nearest(left: DataFrame, right: DataFrame, on: str,
                  by: tuple[str, ...], right_cols: tuple[str, ...],
                  tolerance_s: int | None, suffix: str) -> DataFrame:
    """``asof_join(direction="nearest")``: both carries over ONE
    shuffle (same partitioning, forward is a second sort), smaller
    absolute gap wins, ties to the backward match."""
    from pyspark.sql.window import Window
    keys = list(by)
    lts = F.col(on).cast("long")
    r_on = f"{on}{suffix}"
    rtypes, ltypes = dict(right.dtypes), dict(left.dtypes)
    lpay = [c for c in left.columns if c not in keys and c != on]
    rc_out = [f"{c}{suffix}" for c in right_cols]
    full_r = right.select(
        *keys, lts.alias("__ts"), F.lit(0).alias("__side"),
        lts.alias("__ron"),
        *[F.col(c).alias(f"__rv_{c}") for c in right_cols],
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lpay])
    full_l = left.select(
        *keys, lts.alias("__ts"), F.lit(1).alias("__side"),
        F.lit(None).cast("long").alias("__ron"),
        *[F.lit(None).cast(rtypes[c]).alias(f"__rv_{c}")
          for c in right_cols],
        *lpay)
    wb = (Window.partitionBy(*keys)
          .orderBy(F.col("__ts").asc(), F.col("__side").asc())
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wf = (Window.partitionBy(*keys)
          .orderBy(F.col("__ts").desc(), F.col("__side").asc())
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = []
    for c in ["__ron"] + [f"__rv_{c}" for c in right_cols]:
        carried.append(F.last(F.col(c), ignorenulls=True).over(wb)
                       .alias(f"{c}__b"))
        carried.append(F.last(F.col(c), ignorenulls=True).over(wf)
                       .alias(f"{c}__f"))
    u = (full_r.unionByName(full_l)
         .select(*keys, "__ts", "__side", *carried, *lpay)
         .where(F.col("__side") == 1))
    bts, fts = F.col("__ron__b"), F.col("__ron__f")
    use_b = bts.isNotNull() & (fts.isNull()
                               | ((F.col("__ts") - bts)
                                  <= (fts - F.col("__ts"))))
    picked = [F.when(use_b, bts).otherwise(fts).alias(r_on)] + [
        F.when(use_b, F.col(f"__rv_{c}__b"))
        .otherwise(F.col(f"__rv_{c}__f")).alias(f"{c}{suffix}")
        for c in right_cols]
    out = u.select(*keys, "__ts", *lpay, *picked)
    if tolerance_s is not None:
        gap = F.abs(F.col("__ts") - F.col(r_on))
        keep = F.col(r_on).isNotNull() & (gap <= tolerance_s)
        out = out.select(*keys, "__ts", *lpay,
                         *[F.when(keep, F.col(c)).alias(c)
                           for c in [r_on] + rc_out])
    return out.withColumnRenamed("__ts", on)


def window_join(left: DataFrame, right: DataFrame, on: str = "sec",
                by: tuple[str, ...] = ("user_id",),
                value_col: str = "value", window_s: int = 3600,
                prefix: str = "w_") -> DataFrame:
    """Window join (kdb ``wj`` semantics): for every left row, aggregate
    the right rows of the same ``by`` group whose timestamp falls in
    ``[ts - window_s, ts]`` (inclusive both ends) — "stats of the quotes
    around each trade", the windowed sibling of :func:`asof_join`.

    Same merge-union physical shape: both inputs are tagged and
    unioned, shuffled ONCE on ``by``, and a RANGE-framed window over
    the numeric timestamp aggregates right values per left row — left
    rows carry NULL values, so the null-skipping aggregates see only
    right rows.  No range join, no per-row probe; cost is one exchange
    + one sort over |L|+|R|.

    Emits ``{prefix}cnt/sum/min/max/avg``.  For an exact cross-engine
    sum, feed an integer ``value_col`` (the catalog entry uses
    micro-units); ``avg`` is one IEEE division of the sum by the
    count."""
    from pyspark.sql.window import Window
    keys = list(by)
    lts = F.col(on).cast("long")
    rtypes, ltypes = dict(right.dtypes), dict(left.dtypes)
    lpay = [c for c in left.columns if c not in keys and c != on]
    full_r = right.select(
        *keys, lts.alias("__ts"), F.lit(0).alias("__side"),
        F.col(value_col).alias("__v"),
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lpay])
    full_l = left.select(
        *keys, lts.alias("__ts"), F.lit(1).alias("__side"),
        F.lit(None).cast(rtypes[value_col]).alias("__v"),
        *lpay)
    w = (Window.partitionBy(*keys).orderBy(F.col("__ts"))
         .rangeBetween(-window_s, 0))
    cnt = F.count("__v").over(w)
    s = F.sum("__v").over(w)
    out = (full_r.unionByName(full_l)
           .select(*keys, "__ts", "__side", *lpay,
                   cnt.alias(f"{prefix}cnt"),
                   s.alias(f"{prefix}sum"),
                   F.min("__v").over(w).alias(f"{prefix}min"),
                   F.max("__v").over(w).alias(f"{prefix}max"),
                   F.round(F.when(cnt > 0, s / cnt), 6)
                   .alias(f"{prefix}avg"))
           .where(F.col("__side") == 1)
           .drop("__side"))
    return out.withColumnRenamed("__ts", on)


def parse_props(events: DataFrame, schema: str = "k INT",
                col: str = "props") -> DataFrame:
    """Parse the semi-structured JSON ``props`` column into typed
    fields (one ``p_<field>`` column per schema field).  ``from_json``
    is a JVM-side stateless projection — the semi-structured path stays
    inside whole-stage codegen, no Python in the loop — and malformed
    documents surface as NULL structs (count them; don't crash the
    job), the PERMISSIVE contract of the corpus ingest paths."""
    parsed = F.from_json(F.col(col), schema)
    fields = [f.split()[0] for f in schema.split(",")]
    return events.select(
        "*", *[parsed.getField(f).alias(f"p_{f}") for f in fields])


def props_stats(events: DataFrame, schema: str = "k INT",
                col: str = "props") -> DataFrame:
    """Per-event-type stats over an extracted JSON property: row
    count, non-null parse count (malformed/missing -> NULL, never an
    error), exact integer sum, and the derived mean — the
    smoke-you-run-first on any semi-structured column at ingest."""
    fields = [f.split()[0] for f in schema.split(",")]
    f0 = f"p_{fields[0]}"
    parsed = parse_props(events, schema, col)
    return (parsed.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count(F.col(f0)).alias("n_parsed"),
                 F.sum(F.col(f0).cast("long")).alias("sum_v"))
            .select("event_type", "n", "n_parsed", "sum_v",
                    (F.col("sum_v").cast("double")
                     / F.col("n_parsed")).alias("mean_v"))
            .orderBy("event_type"))


def ab_test(events: DataFrame, conversion_type: str = "purchase",
            salt: str = "exp1", user_col: str = "user_id") -> DataFrame:
    """Two-arm A/B experiment readout: users are assigned to arms by a
    DETERMINISTIC hash of (salt, user) — xxhash64 parity, the standard
    reproducible-bucketing recipe, so reruns and engines agree — and
    conversion is "user emitted >= 1 ``conversion_type`` event".

    Returns one row per arm (arm, n_users, n_converted, cvr) plus the
    pooled two-proportion z statistic (same value on both rows; the
    driver-visible effect readout).  Every aggregate is an exact
    integer; cvr and z are fixed closed-form IEEE expressions over
    those integers, so the whole readout replays bit-for-bit.

    Scale shape: ONE user-keyed aggregation (map-side combined), then a
    2-row broadcast self-join for the pooled statistic — event volume
    never crosses the shuffle twice.
    """
    arm = (F.pmod(F.xxhash64(F.concat(F.lit(salt),
                                      F.col(user_col).cast("string"))),
                  F.lit(2)).cast("int"))
    per_user = (events.groupBy(F.col(user_col))
                .agg(F.max(F.when(F.col("event_type") == conversion_type,
                                  1).otherwise(0)).alias("__conv"))
                .select(arm.alias("arm"), F.col("__conv")))
    arms = (per_user.groupBy("arm")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum("__conv").alias("n_converted")))
    tot = (arms.agg(F.sum("n_users").alias("__n"),
                    F.sum("n_converted").alias("__c"))
           .select("__n", "__c"))
    other = (arms.select(F.col("arm").alias("__oarm"),
                         F.col("n_users").alias("__on"),
                         F.col("n_converted").alias("__oc")))
    j = (arms.join(F.broadcast(other), F.col("arm") != F.col("__oarm"))
         .join(F.broadcast(tot)))
    p = F.col("__c").cast("double") / F.col("__n")
    se = F.sqrt(p * (1.0 - p)
                * (1.0 / F.col("n_users") + 1.0 / F.col("__on")))
    # degenerate experiment (pooled rate 0 or 1 -> se = 0): z is NULL,
    # not a 0/0 — ANSI mode raises on the division otherwise (probed:
    # every sf0.01 user converts); guard mirrored in the SQL oracle
    z = F.when(se > 0,
               (F.col("n_converted").cast("double") / F.col("n_users")
                - F.col("__oc").cast("double") / F.col("__on")) / se)
    return (j.select("arm", "n_users", "n_converted",
                     (F.col("n_converted").cast("double")
                      / F.col("n_users")).alias("cvr"),
                     z.alias("z"))
            .orderBy("arm"))


def cuped_adjusted_lift(events: DataFrame, split_sec: int,
                        metric_type: str = "click",
                        salt: str = "exp1",
                        user_col: str = "user_id",
                        sec_col: str = "sec") -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013):
    per-user PRE-period activity predicts POST-period activity, so
    regressing it out (theta = cov(x, y) / var(x), y' = y - theta (x -
    x_bar)) shrinks the metric variance without biasing the treatment
    contrast.  Arms are the :func:`ab_test` hash-parity assignment.

    Metrics are integer event COUNTS (x = pre-period ``metric_type``
    events, y = post-period), so every moment (sum x, sum y, sum x^2,
    sum xy) is an exact int64 — theta and the adjusted means are fixed
    closed-form IEEE expressions over exact integers, bit-identical in
    any engine.  theta pools BOTH arms (the standard recipe: the
    covariate predates assignment, so pooling is unbiased).

    Returns one row per arm: (arm, n_users, mean_y, mean_y_adj, theta).
    Scale shape: one user-keyed aggregation of the event stream, one
    4-moment global aggregation (broadcast back), one 2-row finish.
    """
    arm = (F.pmod(F.xxhash64(F.concat(F.lit(salt),
                                      F.col(user_col).cast("string"))),
                  F.lit(2)).cast("int"))
    is_m = (F.col("event_type") == metric_type).cast("long")
    pre = F.sum(F.when(F.col(sec_col) < split_sec, is_m)
                .otherwise(F.lit(0))).alias("x")
    post = F.sum(F.when(F.col(sec_col) >= split_sec, is_m)
                 .otherwise(F.lit(0))).alias("y")
    per_user = (events.groupBy(F.col(user_col)).agg(pre, post)
                .select(arm.alias("arm"), "x", "y"))
    mom = (per_user.agg(F.count(F.lit(1)).alias("n"),
                        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                        F.sum(F.col("x") * F.col("x")).alias("sxx"),
                        F.sum(F.col("x") * F.col("y")).alias("sxy")))
    # theta = (n*sxy - sx*sy) / (n*sxx - sx^2); sums fit int64 at any
    # realistic per-user count; the products are exact-int doubles
    num = (F.col("n").cast("double") * F.col("sxy")
           - F.col("sx").cast("double") * F.col("sy"))
    den = (F.col("n").cast("double") * F.col("sxx")
           - F.col("sx").cast("double") * F.col("sx"))
    theta = F.when(den > 0, num / den).otherwise(F.lit(0.0))
    xbar = F.col("sx").cast("double") / F.col("n")
    stats = mom.select(theta.alias("theta"), xbar.alias("xbar"))
    arms = (per_user.groupBy("arm")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum("y").alias("__sy"), F.sum("x").alias("__sxa")))
    mean_y = F.col("__sy").cast("double") / F.col("n_users")
    mean_y_adj = (mean_y
                  - F.col("theta")
                  * (F.col("__sxa").cast("double") / F.col("n_users")
                     - F.col("xbar")))
    return (arms.join(F.broadcast(stats))
            .select("arm", "n_users", mean_y.alias("mean_y"),
                    mean_y_adj.alias("mean_y_adj"), "theta")
            .orderBy("arm"))


def kaplan_meier(events: DataFrame, period_s: int = 86400,
                 user_col: str = "user_id",
                 ts_col: str = "sec") -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (Kaplan & Meier
    1958) — the churn readout: S(t) = P(user still active after t
    periods), with right-censoring for users still alive at the end of
    the observation window.

    Lifetime = floor((last - first) / period).  A user whose last event
    falls within one period of the corpus end is CENSORED at their
    current lifetime (they may yet return); everyone else died at
    theirs.  Estimator: S(t) = prod_{u <= t} (1 - d_u / n_u) with
    d_u deaths at lifetime u and n_u = at-risk (everyone whose death or
    censoring time is >= u).

    Replay exactness: each factor (1 - d/n) is one IEEE divide of exact
    integers; S(t) is a SEQUENTIAL product over factors sorted by
    lifetime — Spark's ``F.aggregate`` folds left-to-right and the SQL
    oracle walks the same ranked sequence with a recursive CTE, so the
    bits match with NO rounding anywhere (survival ships as the raw
    double of the fixed-order product chain).

    Scale shape: one user-keyed aggregation (the only event-sized
    shuffle), then everything is (observation span / period)-sized: the
    lifetime table, the cumulative risk window, and the factor array
    that is sort_array'd and folded per output row (O(T^2) on T = a few
    hundred periods at most — constant-bounded by calendar time, not by
    corpus size).  Returns (period, at_risk, deaths, censored,
    survival) ordered by period."""
    from pyspark.sql.window import Window
    sec = F.col(ts_col)
    per_user = events.groupBy(user_col).agg(F.min(sec).alias("__first"),
                                            F.max(sec).alias("__last"))
    end = per_user.agg(F.max("__last").alias("__end"))
    life = (per_user.crossJoin(F.broadcast(end))
            .select(F.floor((F.col("__last") - F.col("__first"))
                            / F.lit(period_s)).cast("long").alias("period"),
                    ((F.col("__end") - F.col("__last")) < F.lit(period_s))
                    .cast("long").alias("__c")))
    counts = life.groupBy("period").agg(
        (F.count(F.lit(1)) - F.sum("__c")).alias("deaths"),
        F.sum("__c").alias("censored"))
    # at-risk: total minus everyone who exited at an earlier lifetime —
    # a cumulative window over the period-sized table (bounded by
    # calendar span / period, never by users)
    risked = counts.select(
        "period", "deaths", "censored",
        (F.sum(F.col("deaths") + F.col("censored")).over(
            Window.orderBy("period").rowsBetween(
                Window.currentRow, Window.unboundedFollowing)))
        .alias("at_risk"))
    factor = (F.lit(1.0) - F.col("deaths").cast("double")
              / F.col("at_risk").cast("double"))
    facs = risked.agg(F.sort_array(F.collect_list(
        F.struct(F.col("period").alias("t"), factor.alias("f"))))
        .alias("__fs"))
    surv = F.aggregate(
        F.filter(F.col("__fs"), lambda s: s["t"] <= F.col("period")),
        F.lit(1.0), lambda acc, s: acc * s["f"])
    return (risked.crossJoin(F.broadcast(facs))
            .select("period", "at_risk", "deaths", "censored",
                    surv.alias("survival"))
            .orderBy("period"))


def mad_outliers(events: DataFrame, k: float = 3.0,
                 group_col: str = "event_type",
                 val_col: str = "value") -> DataFrame:
    """Robust per-group outlier detection: median absolute deviation
    (the Hampel filter) — the metric-anomaly readout that a mean/stdev
    z-score cannot give you when the outliers themselves inflate the
    stdev.

    Median is POSITIONAL (the lower median: the value at sorted row
    floor((n+1)/2)) rather than an engine ``median()``/``percentile``
    call — interpolation conventions differ across engines, a row pick
    cannot.  MAD is the same positional median over |v - med|, and the
    flag is |v - med| > k * MAD; every comparison is IEEE arithmetic
    on exact parquet doubles, so there is no rounding anywhere.

    Scale shape: ONE corpus pass — the per-group DISTINCT VALUE
    HISTOGRAM (hash agg, map-side combined).  Everything downstream is
    value-range-sized: the positional medians are cumulative windows
    over the histogram (never a row_number sort of raw rows — that
    variant serialized each metric's full history through one task),
    the DEVIATION histogram derives algebraically from the value
    histogram (|v - med| carries its count), and the outlier count is
    a filtered sum over it.  A/B at 20M events x 5 groups: raw-sort
    203 s -> histogram 41 s -> single-scan 9 s.  Real metric values
    quantize (the histogram is value-range-sized); a near-unique-value
    column would need roc_auc's bucketed two-level cum-sum instead.
    Output is group-sized."""
    from pyspark.sql.window import Window
    g = F.col(group_col)
    v = F.col(val_col).cast("double")
    # the histogram feeds THREE consumers (median, deviation histogram,
    # outlier count) inside ONE action: Spark's ReuseExchange dedupes
    # the identical exchange subtree at runtime, so the corpus scan and
    # histogram aggregation run once WITHOUT a persist barrier (A/B:
    # persisting cost +1.5 s at 20M from the forced materialization;
    # the runtime reuse is pinned post-execution in test_plan_shape)
    hist = (events.select(g.alias("__g"), v.alias("__v"))
            .groupBy("__g", "__v").agg(F.count(F.lit(1)).alias("__c")))

    def _median_h(h: DataFrame, out: str) -> DataFrame:
        wc = (Window.partitionBy("__g").orderBy("__v")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        ranked = h.select(
            "__g", "__v",
            F.sum("__c").over(wc).alias("__cum"),
            F.sum("__c").over(Window.partitionBy("__g")).alias("__n"))
        return (ranked
                .where(F.col("__cum") >= F.floor((F.col("__n") + 1) / 2))
                .groupBy("__g")
                .agg(F.min("__v").alias(out), F.max("__n").alias(out + "_n")))

    med = _median_h(hist, "median")
    devh = (hist.join(F.broadcast(med), "__g")
            .select("__g", F.abs(F.col("__v") - F.col("median"))
                    .alias("__v"), "__c")
            .groupBy("__g", "__v").agg(F.sum("__c").alias("__c")))
    mad = _median_h(devh, "mad").select("__g", "mad")
    flagged = (devh.join(F.broadcast(mad), "__g")
               .groupBy("__g")
               .agg(F.sum(F.when(F.col("__v") > F.lit(float(k))
                                 * F.col("mad"), F.col("__c"))
                          .otherwise(F.lit(0))).alias("n_outliers")))
    return (med.join(mad, "__g").join(flagged, "__g")
            .select(F.col("__g").alias(group_col),
                    F.col("median_n").alias("n"), "median", "mad",
                    "n_outliers")
            .orderBy(group_col))


MARKOV_SCALE = 1_000_000


def markov_transition_counts(events: DataFrame, touch_types: list[str],
                             conversion_type: str,
                             user_col: str = "user_id",
                             type_col: str = "event_type",
                             ts_col: str = "sec",
                             order_col: str = "event_id") -> DataFrame:
    """Per-user journey transition counts for Markov attribution:
    START -> touches (in time order, truncated at the FIRST conversion)
    -> CONV / NULL terminal.

    The truncation happens BEFORE the per-user collect: one conversion
    pass finds each user's first-conversion (ts, oid) cursor, touches
    after it are filtered out pre-shuffle, so the user-keyed
    collect_list carries only journey-length arrays — not the user's
    whole event history (with 1-in-6 conversions that is a ~12x shuffle
    cut; A/B'd 94 -> 19 s at 20M events).  Two event scans + one
    user-keyed shuffle; the pair explode is path-sized and collapses
    map-side into the (states^2)-bounded count table."""
    from carbonapi_spark import scratch
    cursor = F.struct(F.col(ts_col).cast("long").alias("ts"),
                      F.col(order_col).cast("long").alias("oid"))
    # the cursor table feeds TWO consumers (the touch filter and the
    # terminal full-outer) — persist it so the conversion scan runs
    # once; it is converting-user-sized, one 16-byte struct per user
    conv = scratch.track(
        events.where(F.col(type_col) == conversion_type)
        .groupBy(user_col).agg(F.min(cursor).alias("__cut")))
    touches = (events.where(F.col(type_col).isin(*set(touch_types)))
               .join(conv, user_col, "left")
               .where(F.col("__cut").isNull() | (cursor < F.col("__cut"))))
    paths = (touches.groupBy(user_col)
             .agg(F.sort_array(F.collect_list(F.struct(
                 F.col(ts_col).cast("long").alias("ts"),
                 F.col(order_col).cast("long").alias("oid"),
                 F.col(type_col).alias("ty")))).alias("__a")))
    # full outer: converting users with zero prior touches still emit
    # START -> CONV; touch-only users emit ... -> NULL
    per_user = paths.join(conv, user_col, "full")
    path = F.coalesce(F.transform(F.col("__a"), lambda e: e["ty"]),
                      F.array().cast("array<string>"))
    term = F.when(F.col("__cut").isNotNull(), F.lit("CONV")) \
        .otherwise(F.lit("NULL"))
    states = F.concat(F.array(F.lit("START")), path, F.array(term))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(states) - 1),
        lambda i: F.struct(F.element_at(states, i).alias("s"),
                           F.element_at(states, i + 1).alias("t")))
    return (per_user.select(F.explode(pairs).alias("__p"))
            .select(F.col("__p.s").alias("s"), F.col("__p.t").alias("t"))
            .groupBy("s", "t").agg(F.count(F.lit(1)).alias("cnt")))


def markov_attribution(events: DataFrame, touch_types: list[str],
                       conversion_type: str, n_iter: int = 16,
                       user_col: str = "user_id",
                       type_col: str = "event_type",
                       ts_col: str = "sec",
                       order_col: str = "event_id") -> DataFrame:
    """Markov-chain attribution by REMOVAL EFFECT (Anderl et al. 2016
    'Mapping the customer journey'): channel credit = how much the
    journey-level conversion probability drops when the channel is
    removed (its visits redirected to the NULL absorber) — the
    data-driven alternative to last/first-touch heuristics (which are
    also implemented, ``attribution_models``).

    Absorption probabilities run in INTEGER FIXED-POINT (micro units):
    per-edge contribution (cnt * p_t) div out_s, summed exactly,
    ``n_iter`` truncated-horizon iterations (journeys here are short;
    the horizon is part of the estimator's definition, so both engines
    compute the identical number).  Each removal run zeroes the
    removed channel's INCOMING value — p(removed) := 0 — the standard
    redirect-to-NULL.  share = (V - V_c) / sum_d (V - V_d) is a single
    IEEE division of exact integers.

    Scale shape: the corpus-sized work is
    :func:`markov_transition_counts` (one scan, one user shuffle); the
    chain itself is a (touch-count + 3)^2 matrix — collected and
    iterated driver-side in exact ints, the k-means/PCA bounded-driver
    -hop economy, replayed verbatim by the unrolled SQL oracle.
    Returns (channel, conv_drop_micro, removal_effect, share) ordered
    by channel."""
    spark = events.sparkSession
    rows = markov_transition_counts(
        events, touch_types, conversion_type, user_col, type_col,
        ts_col, order_col).collect()
    cnt: dict[tuple[str, str], int] = {(r["s"], r["t"]): r["cnt"]
                                       for r in rows}
    out: dict[str, int] = {}
    for (s, _), c in cnt.items():
        out[s] = out.get(s, 0) + c
    trans = sorted(cnt)  # deterministic edge order (sum is exact anyway)

    def absorb(drop: str | None) -> int:
        p = {s: 0 for s in
             set(out) | {t for _, t in trans} | {"CONV", "NULL"}}
        p["CONV"] = MARKOV_SCALE
        for _ in range(n_iter):
            nxt = dict(p)
            for s in out:
                acc = 0
                for (a, t), c in cnt.items():
                    if a != s:
                        continue
                    pt = 0 if t == drop else p[t]
                    acc += (c * pt) // out[s]
                nxt[s] = acc
            nxt["CONV"] = MARKOV_SCALE
            nxt["NULL"] = 0
            p = nxt
        return p.get("START", 0)

    v = absorb(None)
    drops = {c: v - absorb(c) for c in touch_types}
    tot = sum(drops.values())
    out_rows = [(c, drops[c],
                 (float(drops[c]) / float(v)) if v > 0 else 0.0,
                 (float(drops[c]) / float(tot)) if tot > 0 else 0.0)
                for c in sorted(touch_types)]
    df = _local_df(spark, 
        out_rows, "channel STRING, conv_drop_micro LONG, "
                  "removal_effect DOUBLE, share DOUBLE")
    return df.select("channel", "conv_drop_micro",
                     F.round(F.col("removal_effect"), 6)
                     .alias("removal_effect"),
                     F.round(F.col("share"), 6).alias("share")) \
        .orderBy("channel")


def cusum_changepoint(events: DataFrame, group_col: str = "event_type",
                      val_col: str = "value", ts_col: str = "sec",
                      order_col: str = "event_id",
                      bucket_s: int = 86400,
                      scale: int = 1_000_000) -> DataFrame:
    """Offline change-point detection per metric group: the point where
    the cumulative deviation from the global mean peaks (the CUSUM
    statistic, Page 1954 / the classic mean-shift estimator
    argmax_t |sum_{i<=t}(x_i) - t*mu|) — 'when did this metric's level
    actually move?'.

    INTEGER arithmetic end to end: values quantized to micro units on
    the JVM (HALF_UP — DuckDB's convention), mu = S div n in integer
    micros (the deterministic integer mean — documented estimator
    definition, not an approximation of float math), dev_t =
    |cum_t - t*mu| stays within int64 (cum <= n*|x|_max ~ 6e15 at 20M
    rows of 1e8-micro values).  The argmax breaks ties on earliest
    (ts, id); means before/after are single IEEE divisions of exact
    integers.

    Scale shape: the running sum is TWO-LEVEL — partial sums per
    (group, time-bucket), cumulative offsets over the bucket-count-
    sized table, and the row window partitions by (group, bucket) —
    so no task ever sorts a whole group's history (the roc_auc bucket
    recipe applied to time order; a per-group global window serializes
    each metric through one task at lake scale).  The argmax is one
    integer max + a semi-join back.  Output is group-sized:
    (group, change_sec, change_id, t_before, stat_micro, mean_before,
    mean_after)."""
    from pyspark.sql.window import Window
    g = F.col(group_col)
    x = F.round(F.col(val_col).cast("double") * scale).cast("long")
    base = events.select(
        g.alias("__g"), x.alias("__x"),
        F.col(ts_col).cast("long").alias("__ts"),
        F.col(order_col).cast("long").alias("__oid"),
        F.floor(F.col(ts_col).cast("long") / F.lit(bucket_s))
        .cast("long").alias("__b"))
    # level 1: bucket partials + within-bucket running sum/rank
    wb = (Window.partitionBy("__g", "__b").orderBy("__ts", "__oid")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    part = base.groupBy("__g", "__b").agg(F.sum("__x").alias("__bs"),
                                          F.count(F.lit(1)).alias("__bn"))
    wo = (Window.partitionBy("__g").orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offs = part.select(
        "__g", "__b",
        (F.sum("__bs").over(wo) - F.col("__bs")).alias("__soff"),
        (F.sum("__bn").over(wo) - F.col("__bn")).alias("__noff"))
    tot = base.groupBy("__g").agg(F.sum("__x").alias("__s"),
                                  F.count(F.lit(1)).alias("__n"))
    mu = tot.select("__g", "__s", "__n",
                    F.expr("__s div __n").alias("__mu"))
    cum = (base.join(offs, ["__g", "__b"])
           .select("__g", "__ts", "__oid",
                   (F.col("__soff") + F.sum("__x").over(wb)).alias("__cum"),
                   (F.col("__noff")
                    + F.count(F.lit(1)).over(wb)).alias("__t")))
    dev = (cum.join(F.broadcast(mu), "__g")
           .where(F.col("__t") < F.col("__n"))   # last point is no split
           .select("__g", "__ts", "__oid", "__cum", "__t",
                   F.abs(F.col("__cum") - F.col("__t") * F.col("__mu"))
                   .alias("__dev")))
    best = dev.groupBy("__g").agg(F.max("__dev").alias("__dev"))
    pick = (dev.join(best, ["__g", "__dev"])
            .groupBy("__g")
            .agg(F.min(F.struct("__ts", "__oid", "__cum", "__t", "__dev"))
                 .alias("__p")))
    return (pick.join(F.broadcast(mu), "__g")
            .select(F.col("__g").alias(group_col),
                    F.col("__p.__ts").alias("change_sec"),
                    F.col("__p.__oid").alias("change_id"),
                    F.col("__p.__t").alias("t_before"),
                    F.col("__p.__dev").alias("stat_micro"),
                    (F.col("__p.__cum")
                     / F.col("__p.__t") / F.lit(float(scale)))
                    .alias("mean_before"),
                    ((F.col("__s") - F.col("__p.__cum"))
                     / (F.col("__n") - F.col("__p.__t"))
                     / F.lit(float(scale))).alias("mean_after"))
            .orderBy(group_col))


def session_paths(events: DataFrame, gap_s: int = 4 * 3600,
                  depth: int = 5, k: int = 20,
                  user_col: str = "user_id",
                  type_col: str = "event_type", ts_col: str = "sec",
                  order_col: str = "event_id") -> DataFrame:
    """Top-k navigation paths: the first ``depth`` event types of each
    gap-session, joined with '>' — the product-analytics 'how do users
    actually move through the app' sankey feed (and, for a training
    pipeline, the behavioral-sequence vocabulary).

    Sessions are gap-defined exactly like ``sessionize`` (a new session
    when the gap >= ``gap_s``), but derived with lag + running count so
    every EVENT keeps its session id (``session_window`` only leaves
    the aggregate).  One user-keyed window + one session-keyed
    aggregation + one path-keyed count: output is path-vocabulary-
    sized, ties broken by path string.  Everything is integer counts
    and exact string builds."""
    from pyspark.sql.window import Window
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col),
                                             F.col(order_col))
    prev = F.lag(F.col(ts_col)).over(w)
    new_s = (prev.isNull()
             | (F.col(ts_col) >= prev + F.lit(gap_s))).cast("long")
    wc = (Window.partitionBy(user_col).orderBy(F.col(ts_col),
                                               F.col(order_col))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sid = F.sum(new_s).over(wc)
    per_sess = (events
                .select(F.col(user_col), F.col(ts_col).cast("long")
                        .alias("__ts"),
                        F.col(order_col).cast("long").alias("__oid"),
                        F.col(type_col).alias("__ty"),
                        sid.alias("__sid"))
                .groupBy(user_col, "__sid")
                .agg(F.sort_array(F.collect_list(F.struct(
                    F.col("__ts"), F.col("__oid"), F.col("__ty"))))
                    .alias("__a")))
    path = F.array_join(
        F.slice(F.transform(F.col("__a"), lambda e: e["__ty"]),
                1, depth), ">")
    return (per_sess.select(path.alias("path"))
            .groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
            .orderBy(F.desc("n_sessions"), "path").limit(k))


def trimmed_stats(events: DataFrame, lo_num: int = 1, hi_num: int = 19,
                  den: int = 20, group_col: str = "event_type",
                  val_col: str = "value",
                  scale: int = 1_000_000) -> DataFrame:
    """Per-group trimmed + winsorized means (the robust-location pair:
    trimming DROPS the tails, winsorizing CLAMPS them) with positional
    quantile cutoffs — the outlier-resistant aggregate for metric
    rollups where a handful of wild points poison the plain mean.

    Cutoffs are POSITIONAL: q_lo = the value at sorted row
    ceil(lo_num/den * n) computed in pure integers ((lo_num*n + den-1)
    div den), so no engine quantile-interpolation convention is
    involved.  Values are micro-quantized on the JVM; every sum is
    exact int64 over the ONE-PASS per-group value histogram (the
    mad_outliers machinery — nothing downstream of the histogram sees
    corpus-sized data), and each mean is a single IEEE division of
    exact integers.  Returns (group, n, q_lo, q_hi, trimmed_mean,
    winsorized_mean)."""
    from pyspark.sql.window import Window
    g = F.col(group_col)
    x = F.round(F.col(val_col).cast("double") * scale).cast("long")
    hist = (events.select(g.alias("__g"), x.alias("__v"))
            .groupBy("__g", "__v").agg(F.count(F.lit(1)).alias("__c")))
    wc = (Window.partitionBy("__g").orderBy("__v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = hist.select(
        "__g", "__v", "__c",
        F.sum("__c").over(wc).alias("__cum"),
        F.sum("__c").over(Window.partitionBy("__g")).alias("__n"))

    def _cut(num: int, out: str) -> DataFrame:
        tgt = F.expr(f"({num} * __n + {den - 1}) div {den}")
        return (ranked.where(F.col("__cum") >= tgt)
                .groupBy("__g").agg(F.min("__v").alias(out)))

    lo = _cut(lo_num, "__lo")
    hi = _cut(hi_num, "__hi")
    j = (ranked.join(F.broadcast(lo), "__g").join(F.broadcast(hi), "__g"))
    mid = F.col("__v").between(F.col("__lo"), F.col("__hi"))
    clamped = F.greatest(F.least(F.col("__v"), F.col("__hi")),
                         F.col("__lo"))
    agg = j.groupBy("__g").agg(
        F.max("__n").alias("n"),
        F.max("__lo").alias("__lo"), F.max("__hi").alias("__hi"),
        F.sum(F.when(mid, F.col("__v") * F.col("__c"))
              .otherwise(F.lit(0))).alias("__ts"),
        F.sum(F.when(mid, F.col("__c")).otherwise(F.lit(0))).alias("__tn"),
        F.sum(clamped * F.col("__c")).alias("__ws"))
    sc = float(scale)
    return (agg.select(
        F.col("__g").alias(group_col), "n",
        (F.col("__lo") / sc).alias("q_lo"),
        (F.col("__hi") / sc).alias("q_hi"),
        (F.col("__ts") / F.col("__tn") / sc).alias("trimmed_mean"),
        (F.col("__ws") / F.col("n") / sc).alias("winsorized_mean"))
        .orderBy(group_col))


def key_skew_report(df: DataFrame, key_col: str,
                    top_k: int = 10) -> DataFrame:
    """One-row skew diagnostic for a join/groupBy key — the measurement
    behind every 100 TB join-strategy decision (broadcast? salt? AQE
    skew hints?): row/key counts, positional median and p99 key
    frequency, the share held by the top ``top_k`` keys, and the Gini
    coefficient of the frequency distribution.

    Everything derives from the key-frequency table and its
    FREQUENCY-OF-FREQUENCY histogram: the quantiles are positional
    picks over the cumulative key counts (no interpolation
    conventions), the Gini's rank-weighted sum folds per distinct
    frequency block in closed form (c * k * (2*start + k - 1) / 2 —
    exact integers; ties are rank-averaged BY BLOCK, making the
    statistic order-free), and only the final ratios touch floating
    point.  Shapes: one key-keyed aggregation (the only input-sized
    shuffle), then everything is distinct-frequency-sized.

    Returns (key_col, n_rows, n_keys, max_cnt, p50_cnt, p99_cnt,
    top_share, gini) — ``top_share`` is the row share held by the top
    ``top_k`` keys."""
    from pyspark.sql.window import Window
    freq = (df.groupBy(F.col(key_col).alias("__k"))
            .agg(F.count(F.lit(1)).alias("__c")))
    hist = freq.groupBy("__c").agg(F.count(F.lit(1)).alias("__kn"))
    wc = (Window.orderBy("__c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = hist.select(
        "__c", "__kn",
        F.sum("__kn").over(wc).alias("__cum"),
        F.sum("__kn").over(Window.partitionBy()).alias("__nk"))

    def _pos(num: int, den: int, out: str) -> DataFrame:
        tgt = F.expr(f"({num} * __nk + {den - 1}) div {den}")
        return (ranked.where(F.col("__cum") >= tgt)
                .agg(F.min("__c").alias(out)))

    # rank-weighted sum for Gini: keys sorted by frequency ascending;
    # a block of __kn keys at frequency __c occupies ranks
    # (start+1 .. start+__kn) where start = cum - __kn
    riw = ranked.select(
        (F.col("__c")
         * F.col("__kn") * (2 * (F.col("__cum") - F.col("__kn"))
                            + F.col("__kn") + 1)).alias("__rw"),
        (F.col("__c") * F.col("__kn")).alias("__tot"), "__nk")
    sums = riw.agg(F.sum("__rw").alias("__rw"),
                   F.sum("__tot").alias("__n"),
                   F.max("__nk").alias("__nk"),
                   )
    top = (freq.orderBy(F.desc("__c"), "__k").limit(top_k)
           .agg(F.sum("__c").alias("__topc")))
    mx = freq.agg(F.max("__c").alias("max_cnt"))
    p50 = _pos(1, 2, "p50_cnt")
    p99 = _pos(99, 100, "p99_cnt")
    # gini = (2 * sum_i(i * x_i) / (n_keys * total)) - (n_keys + 1)/n_keys
    # with __rw = 2 * sum(i * x_i) already (the block formula doubles)
    gini = (F.col("__rw") / (F.col("__nk").cast("double")
                             * F.col("__n").cast("double"))
            - (F.col("__nk") + 1) / F.col("__nk").cast("double"))
    return (sums.crossJoin(F.broadcast(mx)).crossJoin(F.broadcast(p50))
            .crossJoin(F.broadcast(p99)).crossJoin(F.broadcast(top))
            .select(F.lit(key_col).alias("key_col"),
                    F.col("__n").alias("n_rows"),
                    F.col("__nk").alias("n_keys"),
                    "max_cnt", "p50_cnt", "p99_cnt",
                    (F.col("__topc") / F.col("__n").cast("double"))
                    .alias("top_share"),
                    gini.alias("gini")))


def time_to_convert(events: DataFrame, conversion_type: str,
                    touch_types: list[str],
                    user_col: str = "user_id",
                    type_col: str = "event_type",
                    ts_col: str = "sec") -> DataFrame:
    """Latency from a channel's FIRST touch to the user's FIRST-EVER
    conversion — the time-to-convert distribution per channel (the
    attribution family's 'how long does each channel take to pay off'
    companion).  A (user, channel) whose first touch lands AFTER the
    user's first conversion is dropped entirely — it is NOT re-matched
    to a later re-conversion, mirroring first-conversion attribution
    (re-converting users count only toward channels that touched them
    before conversion #1).

    Two user-keyed aggregations (first touch per channel, first
    conversion) + one join; latencies are exact integer seconds and
    the p50/p90 are POSITIONAL picks over the per-channel latency
    histogram (the value-histogram recipe — no engine quantile
    interpolation, nothing downstream is user-sized).  Returns
    (channel, n_converted, p50_s, p90_s, mean_s) with mean one IEEE
    division of exact integers."""
    from pyspark.sql.window import Window
    sec = F.col(ts_col).cast("long")
    touches = (events.where(F.col(type_col).isin(*set(touch_types)))
               .groupBy(user_col, F.col(type_col).alias("channel"))
               .agg(F.min(sec).alias("__t")))
    conv = (events.where(F.col(type_col) == conversion_type)
            .groupBy(user_col).agg(F.min(sec).alias("__cv")))
    lat = (touches.join(conv, user_col)
           .where(F.col("__cv") >= F.col("__t"))
           .select("channel", (F.col("__cv") - F.col("__t"))
                   .alias("__l")))
    hist = (lat.groupBy("channel", "__l")
            .agg(F.count(F.lit(1)).alias("__c")))
    wc = (Window.partitionBy("channel").orderBy("__l")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = hist.select(
        "channel", "__l", "__c",
        F.sum("__c").over(wc).alias("__cum"),
        F.sum("__c").over(Window.partitionBy("channel")).alias("__n"),
        (F.col("__l") * F.col("__c")).alias("__lc"))

    def _pos(num: int, den: int, out: str) -> DataFrame:
        tgt = F.expr(f"({num} * __n + {den - 1}) div {den}")
        return (ranked.where(F.col("__cum") >= tgt)
                .groupBy("channel").agg(F.min("__l").alias(out)))

    tot = ranked.groupBy("channel").agg(
        F.max("__n").alias("n_converted"), F.sum("__lc").alias("__sum"))
    return (tot.join(_pos(1, 2, "p50_s"), "channel")
            .join(_pos(9, 10, "p90_s"), "channel")
            .select("channel", "n_converted", "p50_s", "p90_s",
                    (F.col("__sum")
                     / F.col("n_converted").cast("double"))
                    .alias("mean_s"))
            .orderBy("channel"))
