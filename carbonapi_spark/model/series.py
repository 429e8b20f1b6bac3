"""SeriesFrame: the engine's single data abstraction.

The reference's ``MetricData`` (``expr/types/types.go:28-37``) is a dense
float64 vector with (start, stop, step) and NaN-encoded gaps; a query result
is an *ordered list* of them. Our Spark-native equivalent is one long/tidy
DataFrame

    name STRING, ord STRING, ts BIGINT, value DOUBLE

- at most one row per (series, step-bucket); ``ts = start + i*step`` epoch
  seconds,
- a gap is a missing row or a row with NULL value: fetches return the
  sparse scan (``dense=False``), and :meth:`SeriesFrame.densify` — called
  by the operators whose result for a missing row would differ from their
  result for a NULL row, and by :func:`combine` — materializes the NULL
  rows that make the frame dense (the reference invariant
  ``len(Values) == (stop-start)/step``); the serializer fills the
  remaining gaps on the driver,
- ``ord`` is the stable series identity assigned at fetch time (the original
  name); it survives alias/name rewrites so order-sensitive operators
  (diffSeries first-arg, seriesList positional zips) stay deterministic in
  an unordered engine. The serializer orders series by it, and only this
  module rewrites it: :func:`union` prefixes each frame's ords with its
  zero-padded position (``0000|``, ``0001|``, …) so list order survives
  concatenation, and :meth:`SeriesFrame.rank` replaces ``ord`` with the
  series' zero-padded rank (``%010d``),
- frame-level metadata (step/start/stop/consolidation/xFilesFactor) rides on
  the Python wrapper: it is uniform per fetch by construction and combining
  frames of different steps goes through LCM re-consolidation
  (``expr/helper/align.go:76-189`` semantics).

Every expression a frame method adds is SQL text
(:mod:`carbonapi_spark.sqltext`): text that is the same for every request
is parsed once and cached, text that carries request literals (bounds,
steps, names) is parsed where it is used. Sort keys handed to
:meth:`SeriesFrame.rank` and :func:`ranked` are SQL sort keys.

Per-series folds (one row per series, keyed by ``ord``) go through
:meth:`SeriesFrame.per_series`, which holds the NULL rule for them: it
reads the sparse frame only when every fold skips NULLs
(:func:`~carbonapi_spark.model.consolidation.skips_nulls`), else the
densified one. :meth:`SeriesFrame.keep` and :meth:`SeriesFrame.rank` join
such a table back by broadcast.

The series data is lazy DataFrame algebra: only the serializer collects it.
Building a frame may still run small driver actions — a seriesByTag fetch
resolves its names, and a few operators (seriesLists, fallbackSeries,
countValues, useSeriesAbove, applyByNode and the alias/shift-by-lookup
extras) collect per-series keys (see ``evaluator.py``); sorts and limits
stay lazy.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from carbonapi_spark.model.consolidation import (
    agg_column, is_valid_consolidation, skips_nulls,
)
from carbonapi_spark.sqltext import expr_cached, local_df as _local_df, selectx

NAME, ORD, TS, VALUE = "name", "ord", "ts", "value"
RANK = "__rank"
SERIES_SCHEMA = "name STRING, ord STRING, ts BIGINT, value DOUBLE"
# the window of one series in time order, ``OVER ({SERIES_WINDOW})``;
# RUNNING and trailing(n) add a frame of rows to it
SERIES_WINDOW = f"PARTITION BY {ORD} ORDER BY {TS} ASC"
# ``OVER`` clause of the rows of a series up to this one
RUNNING = f"OVER ({SERIES_WINDOW} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"


def trailing(n: int) -> str:
    """``OVER`` clause of the trailing *n* rows of a series, this one
    included."""
    lo = f"{n - 1} PRECEDING" if n > 1 else "CURRENT ROW"
    return f"OVER ({SERIES_WINDOW} ROWS BETWEEN {lo} AND CURRENT ROW)"


def _lcm(a: int, b: int) -> int:
    return a * b // math.gcd(a, b)


@dataclass
class SeriesFrame:
    df: DataFrame
    step: int
    start: int  # inclusive, step-aligned
    stop: int  # exclusive
    consolidation: str = "average"
    xff: float = 0.0
    # every series has a row at every bucket of [start, stop)
    dense: bool = False
    # render hints set by the graph-decorator functions (color/alpha/
    # lineWidth/dashed/drawAsInfinite/stacked/secondYAxis) and consumed by
    # format=png/svg (render/graph.py); wire formats ignore them
    graph_options: dict | None = None

    # ------------------------------------------------------------------
    @staticmethod
    def empty(spark, step: int = 60, start: int = 0, stop: int = 0) -> "SeriesFrame":
        return SeriesFrame(_local_df(spark, [], SERIES_SCHEMA), step, start, stop)


    # ------------------------------------------------------------------
    def with_df(self, df: DataFrame, *, dense: bool | None = None) -> "SeriesFrame":
        return replace(self, df=df, dense=self.dense if dense is None else dense)

    def map_value(self, sql: str) -> "SeriesFrame":
        """Pointwise value transform to the SQL expression *sql* over the
        frame's columns, cast to DOUBLE. Keeps the rows, so a NULL-to-value
        map (*sql* not NULL where ``value`` is) needs a dense frame."""
        return self.with_df(self.df.withColumn(VALUE, F.expr(f"CAST({sql} AS DOUBLE)")))

    def map_name(self, sql: str) -> "SeriesFrame":
        """Name rewrite to the SQL expression *sql* over the frame's
        columns (``ord`` untouched — series identity survives). The text
        usually carries request literals, so it is parsed, not cached."""
        return self.with_df(self.df.withColumn(NAME, F.expr(sql)))

    def shift(self, offset: int) -> "SeriesFrame":
        """The frame moved *offset* seconds earlier: ``ts`` and the bounds
        together (a fetch of a displaced window relabelled to the
        request's)."""
        df = self.df.withColumn(TS, F.expr(f"CAST({TS} - {offset} AS BIGINT)"))
        return replace(self, df=df, start=self.start - offset, stop=self.stop - offset)

    def n_points(self) -> int:
        return max(0, (self.stop - self.start) // self.step)

    # ------------------------------------------------------------------
    def densify(self, start: int | None = None, stop: int | None = None) -> "SeriesFrame":
        """Materialize NULL rows for every missing (series, bucket).

        One hash aggregation by series (``ord``) collecting a ts->value
        map, then an inline spine explode with map lookup. Exactly ONE
        shuffle — and its partitioning (hash(ord)) is what downstream
        ``PARTITION BY ord`` windows need, so a fetch → densify →
        window pipeline runs with no further exchange. Map size per series
        is bounded by the request's point count. Two rows for one bucket
        of one series fail the map build (``DUPLICATED_MAP_KEY``).

        Built from SQL text in three Dataset steps: the aggregate's
        expressions are the same for every request and are cached; the
        spine carries the request's bounds and is parsed per call.
        """
        start = self.start if start is None else start
        stop = self.stop if stop is None else stop
        if self.dense and start == self.start and stop == self.stop:
            return self
        if stop <= start:
            return replace(self, start=start, stop=stop, dense=True)
        per_series = self.df.groupBy(expr_cached(ORD)).agg(
            expr_cached(f"first({NAME}, true) AS {NAME}"),
            expr_cached(f"map_from_entries(collect_list(struct({TS}, {VALUE}))) AS __pts"))
        spine = f"sequence({start}, {stop - self.step}, {self.step})"
        df = selectx(per_series.selectExpr(NAME, ORD, f"explode({spine}) AS {TS}", "__pts"),
                     NAME, ORD, f"CAST({TS} AS BIGINT) AS {TS}",
                     f"try_element_at(__pts, {TS}) AS {VALUE}")
        return replace(self, df=df, start=start, stop=stop, dense=True)

    # ------------------------------------------------------------------
    def per_series(self, *, xff: float = 0.0, **folds: str) -> DataFrame:
        """One row per series: ``(ord, <alias>…)``, one fold per alias.

        A fold is a consolidation name (:func:`is_valid_consolidation`),
        folded by :func:`agg_column` in time order and gated by *xff*, or
        else aggregate SQL text over the frame's columns that skips NULLs,
        as every SQL aggregate of a column does (``count(*)`` does not).
        The sparse frame is read only when every named fold
        :func:`skips_nulls`; otherwise the densified one, so that a fold
        which counts rows counts the missing ones."""
        named = {a: f for a, f in folds.items() if is_valid_consolidation(f)}
        src = self if all(skips_nulls(f, xff) for f in named.values()) else self.densify()
        aggs = [agg_column(f, xff=xff, alias=a) if a in named
                else F.expr(f"{f} AS {a}") for a, f in folds.items()]
        return src.df.groupBy(expr_cached(ORD)).agg(*aggs)

    def keep(self, ords: DataFrame) -> "SeriesFrame":
        """The series whose ``ord`` is in *ords* (a DataFrame with an
        ``ord`` column), ``ord`` unchanged: a broadcast left-semi join."""
        return self.with_df(self.df.join(
            selectx(ords, ORD).hint("broadcast"), ORD, "left_semi"))

    def rank(self, per: DataFrame, *order: str, n: int | None = None) -> "SeriesFrame":
        """Reorder the series by *per* (one row per ``ord``) sorted on
        *order* (SQL sort keys, see :func:`ranked`), keeping the first *n*
        if given: ``ord`` becomes the zero-padded rank."""
        ranks = selectx(ranked(per, *order, n=n), ORD, RANK)
        df = (self.df.join(ranks.hint("broadcast"), ORD)
              .withColumn(ORD, expr_cached(f"format_string('%010d', {RANK})"))
              .drop(RANK))
        return self.with_df(df)

    # ------------------------------------------------------------------
    def consolidate_to(self, step: int, consolidation: str | None = None,
                       xff: float | None = None, *, origin: int) -> "SeriesFrame":
        """Re-bucket to the coarser *step* using the series' consolidation
        function (ScaleToCommonStep semantics, align.go:76-189). Buckets
        start at *origin* plus a multiple of *step*; the bounds widen to
        whole buckets.

        A fold that counts the bucket's rows (xFilesFactor > 0, or a
        count-sensitive function, see :func:`skips_nulls`) reads the
        densified frame; a NULL-skipping fold reads the frame as it is."""
        func = consolidation or self.consolidation
        factor = xff if xff is not None else self.xff
        src = self if skips_nulls(func, factor) else self.densify()
        bucket = f"{TS} - ({TS} - {origin}) % {step}" if origin else f"{TS} - {TS} % {step}"
        df = src.df.groupBy(expr_cached(NAME), expr_cached(ORD),
                            F.expr(f"{bucket} AS {TS}")).agg(
            agg_column(func, xff=factor, alias=VALUE))
        start = self.start - (self.start - origin) % step
        stop_last = (self.stop - 1) - (self.stop - 1 - origin) % step
        return replace(src, df=df, step=step, start=start, stop=stop_last + step)


def ranked(per: DataFrame, *order: str, n: int | None = None) -> DataFrame:
    """*per* (one row per ``ord``) with its 1-based row number ``__rank``
    by ``(*order, ord)`` (SQL sort keys), the first *n* rows if given.
    ``ord`` breaks ties, so the order is total. The window is
    unpartitioned: *per* is small."""
    keys = ", ".join((*order, ORD))
    out = per.withColumn(RANK, expr_cached(f"row_number() OVER (ORDER BY {keys})"))
    return out if n is None else out.where(f"{RANK} <= {n}")


# ----------------------------------------------------------------------
# multi-frame alignment
# ----------------------------------------------------------------------

def common_step(frames: list[SeriesFrame]) -> int:
    step = 1
    for f in frames:
        step = _lcm(step, f.step)
    return step


def align(frames: list[SeriesFrame]) -> list[SeriesFrame]:
    """LCM-step re-consolidation + a common [start, stop) for all frames.

    Mirrors ``ScaleToCommonStep`` + ``AlignSeries`` (align.go:76,243). Only
    the bounds are padded: a frame whose bounds widen is no longer dense.
    """
    frames = [f for f in frames if f is not None]
    if not frames:
        return []
    step = common_step(frames)
    frames = [f if f.step == step else f.consolidate_to(step, origin=0) for f in frames]
    start = min(f.start for f in frames)
    stop = max(f.stop for f in frames)
    return [f if (f.start, f.stop) == (start, stop)
            else replace(f, start=start, stop=stop, dense=False) for f in frames]


def union(frames: list[SeriesFrame]) -> SeriesFrame:
    """Concatenate series lists in order: each frame's ``ord`` is prefixed
    with its zero-padded position (``0000|``…). The result spans all the
    frames' bounds, and is dense only if they all are over the same
    bounds; step and metadata are the first frame's."""
    dfs = [f.df.withColumn(ORD, expr_cached(f"concat('{i:04d}|', {ORD})"))
           for i, f in enumerate(frames)]
    start = min(f.start for f in frames)
    stop = max(f.stop for f in frames)
    dense = all(f.dense and (f.start, f.stop) == (start, stop) for f in frames)
    return replace(frames[0], df=reduce(DataFrame.unionByName, dfs),
                   start=start, stop=stop, dense=dense)


def combine(frames: list[SeriesFrame]) -> SeriesFrame:
    """:func:`union` of the frames aligned to one step and range, each
    densified.

    Each frame is densified before its ``ord`` is prefixed. That fixes the
    order in which a fold over the combined frame adds its values, and so
    the last bits of a floating-point sum, which the rendered bodies
    pinned by ``renderbench/answer_key.json`` depend on."""
    frames = [f for f in frames if f is not None]
    if not frames:
        raise ValueError("combine() of zero frames")
    return union([f.densify() for f in align(frames)])
