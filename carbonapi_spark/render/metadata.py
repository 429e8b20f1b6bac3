"""Metadata endpoints over the lake: /metrics/find, /metrics/expand,
/tags/autoComplete/{tags,values} (reference cmd/carbonapi/http/
find_handlers.go:176, expand_handler.go, tags_handler.go:22).

The reference proxies these to its storage backends' name indexes; we own
storage, so they become DISTINCT queries over the lake's ``name`` column —
Catalyst prunes to the name column only (column pruning means the parquet
scan reads a single column's pages).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from carbonapi_spark.model.series import NAME
from carbonapi_spark.parser.globs import glob_to_java_regex
from carbonapi_spark.sources.lake import (SeriesLake, by_name, glob_prefix,
                                          tags_sql)


def _name_prefixes(lake: SeriesLake, query: str):
    """(rows, ``p``, ``deeper``) for a one-level glob expansion: ``p`` is
    each name's first len(query.split('.')) components, ``deeper`` says
    the name has more.  ``p`` matching the glob implies the name starts
    with the glob's literal prefix, so that prefix guards the scan: the
    same ``startswith`` a fetch uses, which Parquet receives as a
    pushed ``StringStartsWith`` filter (``rlike`` is evaluated only
    after the scan)."""
    depth = len(query.split("."))
    parts = F.split(F.split_part(F.col(NAME), F.lit(";"), F.lit(1)), "\\.")
    rows = lake.df
    literal = glob_prefix(query)
    if literal:
        rows = rows.where(F.col(NAME).startswith(literal))
    return (rows, F.array_join(F.slice(parts, 1, depth), ".").alias("p"),
            F.size(parts) > depth)


def find(lake: SeriesLake, query: str) -> list[dict]:
    """Expand a glob one level: entries for every matching prefix of depth
    len(query.split('.')), flagged leaf/branch (find_handlers.go:41-174)."""
    rows, prefix, deeper = _name_prefixes(lake, query)
    rows = (rows
            .select(prefix, deeper.alias("deeper"))
            .where(F.col("p").rlike(glob_to_java_regex(query)))
            .groupBy("p")
            .agg(F.max(F.col("deeper").cast("int")).alias("has_children"),
                 F.max((~F.col("deeper")).cast("int")).alias("is_leaf"))
            .orderBy("p")
            .collect())
    return [{"text": r["p"].rsplit(".", 1)[-1],
             "id": r["p"],
             "allowChildren": int(r["has_children"]),
             "expandable": int(r["has_children"]),
             "leaf": int(r["is_leaf"])} for r in rows]


def find_completer(entries: list[dict]) -> dict:
    metrics = []
    for e in entries:
        metrics.append({"path": e["id"] + ("." if e["expandable"] and not e["leaf"] else ""),
                        "name": e["text"],
                        "is_leaf": str(e["leaf"])})
    return {"metrics": metrics}


def expand(lake: SeriesLake, query: str) -> list[str]:
    """Flat glob expansion to full depth of the pattern (expand_handler.go)."""
    rows, prefix, _ = _name_prefixes(lake, query)
    rows = (rows.select(prefix)
            .where(F.col("p").rlike(glob_to_java_regex(query)))
            .distinct().orderBy("p").collect())
    return [r["p"] for r in rows]


def tag_names(lake: SeriesLake, prefix: str = "", limit: int = 100,
              exprs: list[str] | None = None) -> list[str]:
    """Tag keys of the series matching every seriesByTag-style term in
    *exprs* (the graphite-web autocomplete ``expr=`` params; the reference
    proxies them verbatim to the backend's /tags endpoints,
    zipper/types/interface.go:29-30). Tags are parsed once per distinct
    name, not per row."""
    tags = F.expr(tags_sql())
    df = (by_name(lake.df, exprs or [])
          .select(F.explode(F.map_keys(tags)).alias("k")).distinct())
    if prefix:
        df = df.where(F.col("k").startswith(prefix))
    return [r["k"] for r in df.orderBy("k").limit(limit).collect()]


def tag_values(lake: SeriesLake, tag: str, value_prefix: str = "",
               limit: int = 100, exprs: list[str] | None = None) -> list[str]:
    """Values of *tag* over the series matching *exprs* (see tag_names)."""
    tags = F.expr(tags_sql())
    df = (by_name(lake.df, exprs or [])
          .select(tags.getItem(tag).alias("v"))
          .where(F.col("v").isNotNull()).distinct())
    if value_prefix:
        df = df.where(F.col("v").startswith(value_prefix))
    return [r["v"] for r in df.orderBy("v").limit(limit).collect()]


def info(lake: SeriesLake, target: str) -> dict:
    """Per-metric retention metadata (/info, cmd/carbonapi/http/
    info_handlers.go; payload shape = carbonapi_v3_pb MetricsInfoResponse).

    The reference proxies this to whisper-style backends; our lake's analog:
    each matching series reports its step (per-series when the lake is
    multi-resolution) and the lake's time span as a single retention archive.
    """
    pred, terms = lake._name_filter(target)
    has_step = lake.per_series_step
    aggs = [F.min("ts").alias("lo"), F.max("ts").alias("hi")]
    if has_step:
        aggs.append(F.max("step").alias("step"))
    rows = by_name(lake.df.where(pred), terms, *aggs).orderBy(NAME).collect()
    out = {}
    for r in rows:
        step = int(r["step"]) if has_step else lake.step
        retention = int(r["hi"]) - int(r["lo"]) + step
        out[r[NAME]] = {
            "name": r[NAME],
            "consolidationFunc": "average",
            "xFilesFactor": 0.0,
            "maxRetention": retention,
            "retentions": [{"secondsPerPoint": step,
                            "numberOfPoints": retention // step}],
        }
    return out
