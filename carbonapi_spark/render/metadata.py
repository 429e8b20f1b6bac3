"""Metadata endpoints over the lake: /metrics/find, /metrics/expand,
/tags/autoComplete/{tags,values} (reference cmd/carbonapi/http/
find_handlers.go:176, expand_handler.go, tags_handler.go:22).

The reference proxies these to its storage backends' name indexes; we own
storage, so they become DISTINCT queries over the lake's ``name`` column —
Catalyst prunes to the name column only (column pruning means the parquet
scan reads a single column's pages).
"""

from __future__ import annotations

from carbonapi_spark.functions.helper import nodes_sql
from carbonapi_spark.model.series import NAME
from carbonapi_spark.parser.globs import glob_to_java_regex
from carbonapi_spark.sources.lake import (SeriesLake, by_name, glob_prefix,
                                          tags_sql)
from carbonapi_spark.sqltext import expr_cached, selectx, sql_lit


def _name_prefixes(lake: SeriesLake, query: str):
    """(rows, ``p``, ``deeper``) for a one-level glob expansion: ``p`` is
    the SQL text of each name's first len(query.split('.')) components,
    ``deeper`` of whether the name has more.  ``p`` matching the glob implies the name starts
    with the glob's literal prefix, so that prefix guards the scan: the
    same ``startswith`` a fetch uses, which Parquet receives as a
    pushed ``StringStartsWith`` filter (``rlike`` is evaluated only
    after the scan)."""
    depth = len(query.split("."))
    rows = lake.df
    literal = glob_prefix(query)
    if literal:
        rows = rows.where(f"startswith({NAME}, {sql_lit(literal)})")
    return (rows, f"array_join(slice({nodes_sql()}, 1, {depth}), '.') AS p",
            f"size({nodes_sql()}) > {depth}")


def find(lake: SeriesLake, query: str) -> list[dict]:
    """Expand a glob one level: entries for every matching prefix of depth
    len(query.split('.')), flagged leaf/branch (find_handlers.go:41-174)."""
    rows, prefix, deeper = _name_prefixes(lake, query)
    rows = (rows
            .selectExpr(prefix, f"{deeper} AS deeper")
            .where(f"p RLIKE {sql_lit(glob_to_java_regex(query))}")
            .groupBy("p")
            .agg(expr_cached("max(CAST(deeper AS INT)) AS has_children"),
                 expr_cached("max(CAST(NOT deeper AS INT)) AS is_leaf"))
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
    rows = (rows.selectExpr(prefix)
            .where(f"p RLIKE {sql_lit(glob_to_java_regex(query))}")
            .distinct().orderBy("p").collect())
    return [r["p"] for r in rows]


def tag_names(lake: SeriesLake, prefix: str = "", limit: int = 100,
              exprs: list[str] | None = None) -> list[str]:
    """Tag keys of the series matching every seriesByTag-style term in
    *exprs* (the graphite-web autocomplete ``expr=`` params; the reference
    proxies them verbatim to the backend's /tags endpoints,
    zipper/types/interface.go:29-30). Tags are parsed once per distinct
    name, not per row."""
    df = selectx(by_name(lake.df, exprs or []),
                 f"explode(map_keys({tags_sql()})) AS k").distinct()
    if prefix:
        df = df.where(f"startswith(k, {sql_lit(prefix)})")
    return [r["k"] for r in df.orderBy("k").limit(limit).collect()]


def tag_values(lake: SeriesLake, tag: str, value_prefix: str = "",
               limit: int = 100, exprs: list[str] | None = None) -> list[str]:
    """Values of *tag* over the series matching *exprs* (see tag_names)."""
    df = (by_name(lake.df, exprs or [])
          .selectExpr(f"{tags_sql()}[{sql_lit(tag)}] AS v")
          .where("v IS NOT NULL").distinct())
    if value_prefix:
        df = df.where(f"startswith(v, {sql_lit(value_prefix)})")
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
    aggs = ["min(ts) AS lo", "max(ts) AS hi"] + (["max(step) AS step"] if has_step else [])
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
