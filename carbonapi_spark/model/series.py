"""SeriesFrame: the engine's single data abstraction.

The reference's ``MetricData`` (``expr/types/types.go:28-37``) is a dense
float64 vector with (start, stop, step) and NaN-encoded gaps; a query result
is an *ordered list* of them. Our Spark-native equivalent is one long/tidy
DataFrame

    name STRING, ord STRING, ts BIGINT, value DOUBLE

- one row per (series, step-bucket); ``ts = start + i*step`` epoch seconds,
- a gap is a row with NULL value **when the frame is dense** (fetches return
  dense frames, mirroring the reference invariant
  ``len(Values) == (stop-start)/step``),
- ``ord`` is the stable series identity assigned at fetch time (the original
  name); it survives alias/name rewrites so order-sensitive operators
  (diffSeries first-arg, seriesList positional zips) stay deterministic in
  an unordered engine,
- frame-level metadata (step/start/stop/consolidation/xFilesFactor) rides on
  the Python wrapper: it is uniform per fetch by construction and combining
  frames of different steps goes through LCM re-consolidation
  (``expr/helper/align.go:76-189`` semantics).

Everything here is lazy DataFrame algebra: a full render builds ONE Spark
job DAG and only the serializer collects.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, functions as F

from carbonapi_spark.datapipe import local_df as _local_df

from carbonapi_spark.model.consolidation import agg_column

NAME, ORD, TS, VALUE = "name", "ord", "ts", "value"
SERIES_SCHEMA = "name STRING, ord STRING, ts BIGINT, value DOUBLE"


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
    dense: bool = False
    # the pre-densification plan, kept by densify() ONLY. Its consumers
    # treat a missing row like a NULL row and so neither run the densify
    # shuffle nor build the dense plan (densify() leaves ``df`` unbuilt
    # until it is read): NULL-skipping aggregations
    # (functions/aggregate.py) and the render collect
    # (render/serialize.py collect_series, which densifies on the
    # driver). Any transform invalidates it (with_df/map_value/map_name
    # clear it).
    raw_df: DataFrame | None = None
    # render hints set by the graph-decorator functions (color/alpha/
    # lineWidth/dashed/drawAsInfinite/stacked/secondYAxis) and consumed by
    # format=png/svg (render/graph.py); wire formats ignore them
    graph_options: dict | None = None

    # ------------------------------------------------------------------
    @staticmethod
    def empty(spark, step: int = 60, start: int = 0, stop: int = 0) -> "SeriesFrame":
        return SeriesFrame(_local_df(spark, [], SERIES_SCHEMA), step, start, stop)

    @staticmethod
    def from_points(spark, rows, step: int, start: int, stop: int,
                    **meta) -> "SeriesFrame":
        """Test fixture builder — the MakeMetricData analog (types.go:802)."""
        df = _local_df(spark, 
            [(n, n, int(t), None if v is None or (isinstance(v, float) and math.isnan(v)) else float(v))
             for (n, t, v) in rows],
            SERIES_SCHEMA,
        )
        return SeriesFrame(df, step, start, stop, **meta)

    # ------------------------------------------------------------------
    def with_df(self, df: DataFrame, *, dense: bool | None = None) -> "SeriesFrame":
        return replace(self, df=df, dense=self.dense if dense is None else dense,
                       raw_df=None)

    def map_value(self, fn, *, dense: bool | None = None) -> "SeriesFrame":
        """Pointwise value transform: value -> fn(col). Stays dense."""
        df = self.df.withColumn(VALUE, fn(F.col(VALUE)).cast("double"))
        return self.with_df(df, dense=dense)

    def map_name(self, fn) -> "SeriesFrame":
        """Name rewrite (``ord`` untouched — series identity survives)."""
        return self.with_df(self.df.withColumn(NAME, fn(F.col(NAME))))

    def n_points(self) -> int:
        return max(0, (self.stop - self.start) // self.step)

    # ------------------------------------------------------------------
    def spine(self):
        """DataFrame of every bucket ts in [start, stop) — distributed."""
        spark = self.df.sparkSession
        return spark.range(self.start, self.stop, self.step).withColumnRenamed("id", TS)

    def densify(self, start: int | None = None, stop: int | None = None) -> "SeriesFrame":
        """Materialize NULL rows for every missing (series, bucket).

        The dense plan is built on the first read of the returned frame's
        ``df`` and memoized there: a frame that reaches the wire through
        ``raw_df`` (render/serialize.py collect_series) or aggregates it
        (functions/aggregate.py) never pays the py4j calls that build it.

        The plan: one hash aggregation by series (``ord``) collecting a
        ts->value map, then an inline spine explode with map lookup. Exactly
        ONE shuffle — and its partitioning (hash(ord)) is what downstream
        ``Window.partitionBy(ord)`` operators need, so a fetch → densify →
        window pipeline runs with no further exchange. Map size per series
        is bounded by the request's point count.
        """
        start = self.start if start is None else start
        stop = self.stop if stop is None else stop
        if self.dense and start == self.start and stop == self.stop:
            return self
        if stop <= start:
            return replace(self, start=start, stop=stop, dense=True)
        out = replace(self, df=None, start=start, stop=stop, dense=True,
                      raw_df=self.raw_df if self.dense else self.df)
        out._densify_of = self
        return out

    def _dense_plan(self, src: "SeriesFrame") -> DataFrame:
        per_series = (src.df
                      .groupBy(ORD)
                      .agg(F.first(NAME, ignorenulls=True).alias(NAME),
                           F.map_from_entries(
                               F.collect_list(F.struct(F.col(TS),
                                                       F.col(VALUE)))).alias("__pts")))
        spine = F.sequence(F.lit(self.start), F.lit(self.stop - self.step),
                           F.lit(self.step))
        return (per_series
                .select(NAME, ORD, F.explode(spine).alias(TS), F.col("__pts"))
                .select(NAME, ORD, F.col(TS).cast("long"),
                        F.try_element_at(F.col("__pts"), F.col(TS)).alias(VALUE)))

    # ------------------------------------------------------------------
    def consolidate_to(self, step: int, consolidation: str | None = None,
                       xff: float | None = None) -> "SeriesFrame":
        """Re-bucket to a coarser step using the series' consolidation
        function (ScaleToCommonStep semantics, align.go:76-189)."""
        if step == self.step:
            return self
        func = consolidation or self.consolidation
        factor = xff if xff is not None else self.xff
        bucket = (F.col(TS) - (F.col(TS) % F.lit(step))).alias(TS)
        agg = agg_column(func, F.col(VALUE), F.col(TS), factor).cast("double").alias(VALUE)
        df = self.df.groupBy(NAME, ORD, bucket).agg(agg)
        start = self.start - self.start % step
        stop_last = (self.stop - 1) - (self.stop - 1) % step
        return replace(self, df=df, step=step, start=start,
                       stop=stop_last + step, dense=self.dense, raw_df=None)


# ----------------------------------------------------------------------
# multi-frame alignment
# ----------------------------------------------------------------------

def common_step(frames: list[SeriesFrame]) -> int:
    step = 1
    for f in frames:
        step = _lcm(step, f.step)
    return step


def align(frames: list[SeriesFrame], *, densify: bool = True) -> list[SeriesFrame]:
    """LCM-step re-consolidation + pad all frames to a common [start, stop).

    Mirrors ``ScaleToCommonStep`` + ``AlignSeries`` (align.go:76,243).
    """
    frames = [f for f in frames if f is not None]
    if not frames:
        return []
    step = common_step(frames)
    frames = [f.consolidate_to(step) for f in frames]
    start = min(f.start for f in frames)
    stop = max(f.stop for f in frames)
    if densify:
        return [f.densify(start, stop) for f in frames]
    return [replace(f, start=start, stop=stop) for f in frames]


def combine(frames: list[SeriesFrame], *, densify: bool = True) -> SeriesFrame:
    """Align N frames and union them into one, with ``ord`` made globally
    order-stable across argument position (arg index prefixes the ord key)."""
    frames = [f for f in frames if f is not None]
    if not frames:
        raise ValueError("combine() of zero frames")
    aligned = align(frames, densify=densify)
    dfs = []
    for i, f in enumerate(aligned):
        dfs.append(f.df.withColumn(ORD, F.concat(F.lit(f"{i:04d}|"), F.col(ORD))))
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    base = aligned[0]
    return replace(base, df=out, raw_df=None)


def _frame_df(frame: SeriesFrame) -> DataFrame:
    df = frame.__dict__["df"]
    if df is None:  # densify() left it to be built here, once
        df = frame.__dict__["df"] = frame._dense_plan(
            frame.__dict__.pop("_densify_of"))
    return df


def _set_frame_df(frame: SeriesFrame, df: DataFrame | None) -> None:
    frame.__dict__["df"] = df


# ``df`` stays a dataclass field (constructor argument, replace(df=...))
# read through this property, which builds a densified frame's plan lazily
SeriesFrame.df = property(_frame_df, _set_frame_df)
