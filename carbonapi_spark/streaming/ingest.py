"""Structured Streaming ingestion: the carbon daemon replaced by a stream
job writing the Parquet lake.

The reference has NO streaming machinery (SURVEY §2.11): carbon daemons
ingest and carbonapi only queries. On Spark the natural equivalent is a
Structured Streaming job that:

1. parses the carbon plaintext protocol (``metric.path value timestamp``)
   or an events stream,
2. bucket-aggregates to the lake step with a watermark for late points
   (tumbling window == a streaming ``summarize``),
3. appends to the Parquet lake partitioned by time bucket, so the batch
   engine's ts-range partition pruning keeps working.

Everything here is plain DataFrame code usable with either ``readStream``
(production) or ``read`` (tests) inputs — Structured Streaming's unified
API means the same transformations serve both.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def parse_carbon_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse the carbon plaintext protocol: ``<name> <value> <epoch>``.

    Input: a DataFrame with a STRING column ``value`` (the socket/file line),
    e.g. from ``spark.readStream.format('socket')`` or ``format('text')``.
    Output: (name STRING, ts BIGINT, value DOUBLE) with bad lines dropped.
    """
    parts = F.split(F.trim(F.col(value_col)), r"[ \t\n\x0B\f\r]+")
    df = lines.select(
        F.element_at(parts, 1).alias("name"),
        F.try_element_at(parts, F.lit(3)).cast("long").alias("ts"),
        F.try_element_at(parts, F.lit(2)).cast("double").alias("value"),
    )
    return df.where(F.col("name").isNotNull() & F.col("ts").isNotNull())


def events_stream_to_series(events: DataFrame, step: int = 60,
                            watermark: str = "10 minutes") -> DataFrame:
    """Streaming version of the events->series projection: tumbling-window
    sum per (series, step bucket) with late-data handling.

    Works on a streaming DataFrame with (ts TIMESTAMP, event_type STRING,
    user_id LONG, value DOUBLE). The watermark bounds state: buckets older
    than it are finalized and emitted (append mode).
    """
    win = F.window(F.col("ts"), f"{step} seconds")
    out = (events
           .withWatermark("ts", watermark)
           .groupBy(F.concat(F.lit("events."), F.col("event_type")).alias("name"),
                    win)
           .agg(F.sum("value").alias("value"))
           .select("name",
                   F.col("window.start").cast("long").alias("ts"),
                   F.col("value")))
    return out


def stream_summarize(series: DataFrame, interval: int, func: str = "sum",
                     watermark: str = "10 minutes") -> DataFrame:
    """``summarize()`` as a streaming query: the only place Graphite
    semantics meet watermarks. Input: streaming (name, ts TIMESTAMP, value).
    """
    from carbonapi_spark.model.consolidation import agg_column

    win = F.window(F.col("ts"), f"{interval} seconds")
    agg = agg_column(func, "value", "CAST(ts AS BIGINT)")
    return (series
            .withWatermark("ts", watermark)
            .groupBy("name", win)
            .agg(agg.cast("double").alias("value"))
            .select("name", F.col("window.start").cast("long").alias("ts"),
                    "value"))


def write_lake(series: DataFrame, path: str, checkpoint: str,
               partition_hours: int = 24):
    """Append the streaming series into the Parquet lake, partitioned by
    day bucket so batch queries prune on ts."""
    out = series.withColumn(
        "day_bucket", (F.col("ts") - F.col("ts") % (partition_hours * 3600)))
    return (out.writeStream
            .format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .partitionBy("day_bucket")
            .outputMode("append"))


def stream_rollups(series: DataFrame, path: str, checkpoint_root: str,
                   steps: list[int],
                   methods: list[tuple[str, str]] | None = None,
                   default_method: str = "average",
                   watermark: str = "10 minutes",
                   partition_seconds: int = 86400) -> list:
    """Keep ``write_rollups``' archive layout fresh from a stream: one
    windowed aggregation per rollup step, watermark-finalized buckets
    appended into ``{path}/step={s}/`` partitioned by day — the same
    directories ``TieredLake`` serves, so a year-long dashboard query
    keeps pruning to the coarse tier while ingestion never stops.

    Method selection mirrors the batch writer (graphite
    storage-aggregation: ordered glob patterns, first match wins, all
    candidate consolidations in the ONE windowed aggregation).  Input:
    streaming (name, ts TIMESTAMP, value).  Returns the started-ready
    ``DataStreamWriter`` per step (caller ``.start()``s them; separate
    checkpoints per step under ``checkpoint_root``)."""
    from carbonapi_spark.model.consolidation import agg_column
    from carbonapi_spark.parser.globs import glob_to_java_regex

    funcs = sorted({f for _p, f in (methods or [])} | {default_method})
    writers = []
    for s in steps:
        win = F.window(F.col("ts"), f"{s} seconds")
        agged = (series.withWatermark("ts", watermark)
                 .groupBy("name", win)
                 .agg(*[agg_column(f, "value", "CAST(ts AS BIGINT)", alias=f"__{f}")
                        for f in funcs]))
        value = F.col(f"__{default_method}")
        for pat, f in reversed(methods or []):
            value = F.when(F.col("name").rlike(glob_to_java_regex(pat)),
                           F.col(f"__{f}")).otherwise(value)
        out = (agged.select("name",
                            F.col("window.start").cast("long").alias("ts"),
                            value.alias("value"))
               .withColumn("day", (F.col("ts") - F.col("ts")
                                   % F.lit(partition_seconds))
                           .cast("long")))
        writers.append(out.writeStream.format("parquet")
                       .option("path", f"{path}/step={s}")
                       .option("checkpointLocation",
                               f"{checkpoint_root}/step_{s}")
                       .partitionBy("day").outputMode("append"))
    return writers
