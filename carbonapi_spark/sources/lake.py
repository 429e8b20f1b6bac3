"""The series lake: Parquet-backed storage for the engine.

Replaces the reference's remote-backend "zipper" fan-out
(``zipper/protocols/*``): instead of N storage daemons answering glob
fetches, we own a long Parquet table

    name STRING, ts BIGINT, value DOUBLE

(ideally written partitioned by a time bucket and sorted/bucketed by
``name``). A fetch is then a *declarative scan*:

- glob pattern  -> pushed-down predicate on ``name`` (equality / IN for
  brace-only patterns, RLIKE otherwise — equality and IN reach the Parquet
  row-group filters; RLIKE at minimum prunes via a pushed-down prefix
  ``StartsWith`` we derive from the pattern),
- [from, until) -> range predicate on ``ts`` (partition pruning when the
  lake is laid out by time),
- tag queries (``seriesByTag``) -> resolved once per distinct series
  name, like the reference's lookup in a backend name index
  (``expr/functions/seriesByTag/function.go:40``): a name-only job over the
  request window evaluates the tag terms on the distinct names
  (:func:`by_name`), and the data scan reads ``name IN (<those names>)``.
  A ``name=`` term is plain string ops on both sides, with a pushed-down
  ``StartsWith`` guard.

Every predicate and projection of a fetch is SQL text with quoted
literals (:func:`~carbonapi_spark.sqltext.sql_lit`): the name predicate and
the window are ONE ``where`` and the projection ONE ``selectExpr``, so a
fetch costs about ten py4j round trips, where assembling the same plan from
Columns cost hundreds. The conjunctions nest to the left
(:func:`~carbonapi_spark.sqltext.sql_all`), the predicate tree the
Parquet filter pushdown is pinned on.

A fetch returns the sparse scan (``dense=False``): a point the lake does
not hold is a missing row, which means a gap just as a NULL row does.
Operators that must tell the two apart call ``SeriesFrame.densify()``.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, functions as F

from carbonapi_spark.model.consolidation import agg_column
from carbonapi_spark.model.series import NAME, ORD, TS, VALUE, SeriesFrame
from carbonapi_spark.parser.globs import (
    expand_braces, glob_to_java_regex, has_wildcard,
)
from carbonapi_spark.sqltext import expr_cached, sql_all, sql_lit


def tags_sql() -> str:
    """SQL text of the MAP<STRING,STRING> of graphite tags of
    ``base;k=v;k2=v2`` names.

    The ``name`` tag always exists and holds the base (tags/helper.go:160).
    A tag splits at its first ``=``: the value of ``k=a=b`` is ``a=b``.
    """
    parts = f"split({NAME}, ';', -1)"
    kvs = (f"filter(slice({parts}, 2, greatest(size({parts}) - 1, 0)), "
           f"s -> contains(s, '='))")
    entries = (f"transform(transform({kvs}, s -> split(s, '=', 2)), "
               f"kv -> struct(kv[0] AS key, kv[1] AS value))")
    base = f"array(struct('name' AS key, element_at({parts}, 1) AS value))"
    return f"map_from_entries(concat({base}, {entries}))"


_TAG_TERM = re.compile(r"^\s*'([^']+)'\s*$|^\s*\"([^\"]+)\"\s*$")
_TAG_EXPR = re.compile(r"^([^=!~]+)\s*(=~|!=~|!=|=)\s*(.*)$")


def tag_predicate(spec: str) -> str:
    """One seriesByTag term -> SQL boolean text over :func:`tags_sql`.

    Grammar per ``expr/functions/seriesByTag/function.go:40``:
    ``tag=value`` exact (empty value matches missing tag), ``tag!=value``,
    ``tag=~regex`` (unanchored at end, anchored at start), ``tag!=~regex``.
    """
    m = _TAG_EXPR.match(spec)
    if not m:
        raise ValueError(f"bad seriesByTag term {spec!r}")
    key, op, val = m.group(1).strip(), m.group(2), m.group(3).strip()
    tag = f"{tags_sql()}[{sql_lit(key)}]"
    if op == "=":
        if val == "":
            return f"{tag} IS NULL OR {tag} = ''"
        return f"{tag} = {sql_lit(val)}"
    if op == "!=":
        return f"{tag} IS NULL OR {tag} != {sql_lit(val)}"
    rx = sql_lit(val if val.startswith("^") else "^" + val)
    if op == "=~":
        return f"{tag} IS NOT NULL AND {tag} RLIKE {rx}"
    return f"{tag} IS NULL OR NOT {tag} RLIKE {rx}"


def by_name(df: DataFrame, terms: list[str], *aggs: str) -> DataFrame:
    """One row per distinct ``name`` of *df* matching every seriesByTag
    term in *terms*, with the aggregates *aggs* (SQL text) computed per
    name.

    The terms read the tag map once per distinct name instead of once
    per scanned row. They filter the name as the aggregate's result,
    ``first(name)``: Catalyst pushes a filter on a grouping key below the
    aggregate, back onto every row."""
    out = (df.groupBy(expr_cached(f"{NAME} AS __key"))
           .agg(expr_cached(f"first({NAME}, false) AS {NAME}"),
                *map(expr_cached, aggs)).drop("__key"))
    if terms:
        out = out.where(sql_all(tag_predicate(t) for t in terms))
    return out


def glob_prefix(pattern: str) -> str:
    """Literal prefix before the first wildcard (for pushed-down StartsWith)."""
    for i, c in enumerate(pattern):
        if c in "*?[{":
            return pattern[:i]
    return pattern


class SeriesLake:
    """Fetch interface over a long (name, ts, value) DataFrame.

    When the lake is written ``partitionBy(time_partition_col)`` (a coarse
    time bucket like the day, ``ts - ts % 86400``), pass the column name and
    bucket width: fetch() then adds an explicit predicate on it so Catalyst
    prunes whole partition directories — the difference between scanning a
    day and scanning 100 TB.
    """

    def __init__(self, df: DataFrame, step: int = 60,
                 time_partition_col: str | None = None,
                 time_partition_seconds: int = 86400):
        self.df = df
        self.step = step
        # multi-resolution lake: an optional per-row ``step`` column (series
        # written at different retentions/resolutions, like whisper archives
        # or mixed backend steps). fetch() then rescales every matched series
        # to the LCM step, mirroring the reference zipper's
        # ScaleToCommonStep (expr/helper/align.go:76-189).
        self.per_series_step = "step" in df.columns
        self.time_partition_col = (
            time_partition_col if time_partition_col and
            time_partition_col in df.columns else None)
        self.time_partition_seconds = time_partition_seconds

    def _name_filter(self, pattern: str) -> tuple[str, list[str]]:
        """(SQL row predicate, seriesByTag terms left for :func:`by_name`).

        A glob has no terms. Of a seriesByTag query only the ``name=``
        terms become row predicates: the name tag IS the pre-';' base, so
        plain string ops with a prefix guard that pushes down to Parquet
        as StringStartsWith (the tag map never would)."""
        if pattern.startswith("seriesByTag(") and pattern.endswith(")"):
            args = _split_quoted_args(pattern[len("seriesByTag("):-1])
            if not args:
                raise ValueError("seriesByTag needs at least one term")
            preds, terms = [], []
            for raw in args:
                m = _TAG_TERM.match(raw)
                term = (m.group(1) or m.group(2)) if m else raw.strip()
                tm = _TAG_EXPR.match(term)
                if (tm and tm.group(1).strip() == "name"
                        and tm.group(2) == "=" and tm.group(3).strip()):
                    val = sql_lit(tm.group(3).strip())
                    preds += [f"startswith({NAME}, {val})",
                              f"split_part({NAME}, ';', 1) = {val}"]
                else:
                    terms.append(term)
            return sql_all(preds), terms
        if not has_wildcard(pattern):
            return f"{NAME} = {sql_lit(pattern)}", []
        exact = expand_braces(pattern)
        if exact is not None:
            # brace-only alternation -> IN, which (unlike rlike) reaches the
            # Parquet row-group filters as an In pushed filter
            return f"{NAME} IN ({', '.join(map(sql_lit, exact))})", []
        pred = f"{NAME} RLIKE {sql_lit(glob_to_java_regex(pattern))}"
        prefix = glob_prefix(pattern)
        if prefix:
            # startswith IS pushed to Parquet (StringStartsWith filter);
            # rlike is evaluated post-scan, so this prunes row groups.
            pred = f"startswith({NAME}, {sql_lit(prefix)}) AND {pred}"
        return pred, []

    def _name_predicate(self, pattern: str, window: str) -> str:
        """Row predicate selecting the series of *pattern*. Tag terms are
        resolved first: one job collects the distinct names inside
        *window* that match them, and the predicate reads ``name IN``
        those names (pushed to Parquet as an In filter)."""
        pred, terms = self._name_filter(pattern)
        if not terms:
            return pred
        names = [r[0] for r in by_name(self.df.where(f"({pred}) AND ({window})"),
                                       terms).collect() if r[0] is not None]
        listed = (f"{NAME} IN ({', '.join(map(sql_lit, names))})"
                  if names else "false")
        return f"({pred}) AND {listed}"

    def fetch(self, spark, pattern: str, from_ts: int, until_ts: int) -> SeriesFrame:
        """Series matching *pattern* with buckets covering [from, until):
        the rows the lake holds on those buckets, undensified.

        The scan's filter and projection are SQL text, one Dataset step
        each: the whole fetch is a few py4j round trips."""
        step = self.step
        if self.per_series_step:
            step = self._common_step(pattern, until_ts)
        start = from_ts - from_ts % step
        stop = until_ts + (-until_ts) % step
        if stop <= start:
            stop = start + step
        window = [f"{TS} >= {start}", f"{TS} < {stop}"]
        if self.time_partition_col:
            w, col = self.time_partition_seconds, self.time_partition_col
            window += [f"{col} >= {start - start % w}", f"{col} <= {stop - 1}"]
        window = sql_all(window)
        df = self.df.where(f"({self._name_predicate(pattern, window)}) AND ({window})")
        if self.per_series_step:
            # rescale every series to the LCM step: bucket each raw point
            # and fold with the default consolidation (average, NULL-skipped
            # — ScaleToCommonStep semantics, align.go:176-189)
            df = (df.groupBy(expr_cached(NAME), expr_cached(f"{NAME} AS {ORD}"),
                             F.expr(f"CAST({TS} - {TS} % {step} AS BIGINT) AS {TS}"))
                  .agg(agg_column("average", alias=VALUE)))
        else:
            # a point off the bucket grid is no bucket's value (densify
            # never picks it); its row keeps the series in the frame
            ts = f"CAST({TS} AS BIGINT)"
            df = df.selectExpr(NAME, f"{NAME} AS {ORD}", f"{ts} AS {TS}",
                               f"CASE WHEN ({ts} - {start}) % {step} = 0 THEN "
                               f"CAST({VALUE} AS DOUBLE) END AS {VALUE}")
        return SeriesFrame(df, step, start, stop)

    def fetch_step(self, pattern: str, from_ts: int, until_ts: int) -> int:
        """The step :meth:`fetch` gives *pattern* over [from, until)."""
        if self.per_series_step:
            return self._common_step(pattern, until_ts)
        return self.step

    def _common_step(self, pattern: str, until_ts: int) -> int:
        """LCM of the steps of the series matching *pattern*.

        One tiny pushed-down aggregate over the ``step`` column, per
        distinct name (:func:`by_name` evaluates tag terms there). A
        production lake would keep (name, step) in a small series_meta
        table instead of re-deriving it from the data scan; the plan shape
        (scan → per-name aggregate → distinct steps) is the same either way.
        """
        pred, terms = self._name_filter(pattern)
        rows = (by_name(self.df.where(f"({pred}) AND {TS} < {until_ts}"), terms,
                        "collect_set(step) AS steps")
                .selectExpr("explode(steps)").distinct().collect())
        step = 1
        for r in rows:
            step = step * int(r[0]) // math.gcd(step, int(r[0]))
        return step if rows else self.step


def _split_quoted_args(s: str) -> list[str]:
    """Split `'a','b'` arg text at top-level commas, respecting quotes."""
    out, cur, q = [], [], ""
    for ch in s:
        if q:
            if ch == q:
                q = ""
            cur.append(ch)
        elif ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch == ",":
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def write_rollups(df: DataFrame, path: str, steps: list[int],
                  methods: list[tuple[str, str]] | None = None,
                  default_method: str = "average",
                  time_partition_seconds: int = 86400) -> None:
    """Materialize coarser archives from a raw (name, ts, value) lake —
    the storage-aggregation step of a whisper-style retention scheme
    ("1m for 1d, 5m for 7d, 1h for 5y"): each ``steps`` entry becomes
    ``{path}/step={s}/`` partitioned by the day bucket, so a year-long
    query scans ~365 coarse rows per series instead of half a million
    raw points.

    ``methods`` mirrors graphite's ``storage-aggregation.conf``: ordered
    (pattern, func) pairs, first match wins, ``default_method``
    otherwise.  Patterns are graphite GLOBS (the engine's pattern
    language — ``*`` does not cross dots, so match a full path like
    ``*.*.count``), not carbon's raw regexes (e.g. counters roll up with 'sum', gauges with 'average',
    '.max' series with 'max').  All candidate consolidations are
    computed in ONE aggregation pass and the per-name method picked with
    a CASE over the (broadcast-literal) patterns — no per-method
    re-scan."""
    funcs = sorted({f for _p, f in (methods or [])} | {default_method})
    value = f"__{default_method}"
    for pat, f in reversed(methods or []):
        value = (f"CASE WHEN {NAME} RLIKE {sql_lit(glob_to_java_regex(pat))} "
                 f"THEN __{f} ELSE {value} END")
    for s in steps:
        (df.groupBy(expr_cached(NAME), F.expr(f"CAST({TS} - {TS} % {s} AS BIGINT) AS {TS}"))
         .agg(*[agg_column(f, alias=f"__{f}") for f in funcs])
         .selectExpr(NAME, TS, f"{value} AS {VALUE}",
                     f"CAST({TS} - {TS} % {time_partition_seconds} AS BIGINT) AS day")
         .write.mode("overwrite").partitionBy("day")
         .parquet(f"{path}/step={s}"))


def expire_tier(spark, path: str, retention_s: int,
                now: int | None = None,
                time_partition_col: str = "day") -> list[int]:
    """Whisper-style data AGING for one archive tier: drop every
    ``{time_partition_col}=N`` partition directory whose bucket lies
    entirely before ``now - retention_s``.  Deletion is per-PARTITION
    through the Hadoop FileSystem API (works on HDFS/S3/local alike),
    so expiry is a metadata operation — no rows are read, rewritten, or
    shuffled, which is the only affordable shape when the tier holds
    years of data.  Completes the rollup lifecycle: ingest ->
    write_rollups -> TieredLake.select_tier -> expire_tier.

    Returns the dropped bucket values (sorted).  Buckets that merely
    OVERLAP the cutoff are kept (expiry is conservative; the next run
    catches them once fully aged)."""
    import time as _time
    anchor = int(_time.time()) if now is None else int(now)
    cutoff = anchor - retention_s
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    dropped = []
    prefix = time_partition_col + "="
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        try:
            bucket = int(name[len(prefix):])
        except ValueError:
            continue
        # the bucket covers [bucket, bucket + bucket_width); without
        # reading data we know width <= the next bucket's distance, so
        # use the conservative test "bucket + observed max width <=
        # cutoff" via the partition value itself: a day bucket is
        # entirely aged once bucket + 86400 <= cutoff.  Callers with
        # non-day layouts pass retention already padded by one bucket.
        if bucket + 86400 <= cutoff:
            fs.delete(st.getPath(), True)
            dropped.append(bucket)
    return sorted(dropped)


class TieredLake:
    """Whisper-style multi-archive fetch: ``tiers`` is a list of
    (step_seconds, retention_seconds, SeriesLake) ordered finest first.
    A query picks the FINEST tier whose retention covers the requested
    start (``from_ts >= now - retention``) — exactly whisper's archive
    selection — and delegates the fetch to that tier's lake, so query
    cost scales with the RENDERED range, not the raw retention: a
    year-long dashboard panel reads the 1h archive's ~9k points per
    series while the raw tier keeps serving zoomed-in views.

    ``now`` anchors retention windows (defaults to the wall clock;
    injectable for deterministic tests/replays)."""

    def __init__(self, tiers: list[tuple[int, int, SeriesLake]],
                 now: int | None = None):
        if not tiers:
            raise ValueError("TieredLake needs at least one tier")
        self.tiers = sorted(tiers, key=lambda t: t[0])
        self.now = now

    def select_tier(self, from_ts: int, now: int | None = None) -> int:
        """Index of the finest tier whose retention covers ``from_ts``;
        the coarsest tier serves anything older than every retention."""
        import time as _time
        anchor = now if now is not None else (
            self.now if self.now is not None else int(_time.time()))
        for i, (_step, retention, _lake) in enumerate(self.tiers):
            if from_ts >= anchor - retention:
                return i
        return len(self.tiers) - 1

    def fetch(self, spark, pattern: str, from_ts: int, until_ts: int,
              *, now: int | None = None):
        _step, _ret, lake = self.tiers[self.select_tier(from_ts, now)]
        return lake.fetch(spark, pattern, from_ts, until_ts)

    def fetch_step(self, pattern: str, from_ts: int, until_ts: int) -> int:
        _step, _ret, lake = self.tiers[self.select_tier(from_ts)]
        return lake.fetch_step(pattern, from_ts, until_ts)
