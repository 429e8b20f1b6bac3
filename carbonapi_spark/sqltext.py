"""Plan construction from SQL text: the helpers the render path and the
datapipe operators share.

Every PySpark ``Column`` operation is a py4j round trip (``F.col`` alone
costs several), so a predicate or projection assembled from Columns costs
tens of round trips where the same SQL text handed to ``where(str)`` /
``selectExpr`` costs one parse. Text that is the same for every call goes
through :func:`expr_cached`; text that carries per-request literals is
parsed where it is used, so it cannot churn that cache. Literals are
written by :func:`sql_lit` (and :func:`sql_dlit` for a forced DOUBLE).
"""

from __future__ import annotations

import math
import threading

from pyspark.sql import DataFrame, functions as F


def sql_dlit(v: float) -> str:
    """Exact Spark-SQL DOUBLE literal for ``v``: repr round-trips the
    IEEE value and the 'D' suffix stops the parser reading a bare
    decimal as DECIMAL.  Lets hot driver loops build constant-heavy
    expressions as ONE ``F.expr`` parse instead of a py4j round-trip
    per ``F.lit`` (measured r14: ~0.4 s per viterbi_expr build, ~2.4 s
    of cumulative k_center distance-expression builds)."""
    v = float(v)
    if math.isnan(v):
        return "cast('NaN' as double)"
    if math.isinf(v):
        return f"cast('{'-' if v < 0 else ''}Infinity' as double)"
    return repr(v) + "D"


def sql_lit(v) -> str:
    """Spark-SQL literal with the type ``F.lit(v)`` gives ``v``.

    A str is quoted with every backslash and ``'`` escaped, so any name
    or regex reaches the plan unchanged (a pattern such as ``a') OR
    (1=1`` stays one string). A Python int is an INT literal when it fits
    32 bits and a BIGINT otherwise, exactly as SQL reads a bare integer;
    a float is a DOUBLE (:func:`sql_dlit`); None is NULL."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return sql_dlit(v)
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def sql_all(preds) -> str:
    """Conjunction of the SQL predicates *preds*, nested to the left as
    ``functools.reduce(Column.__and__, ...)`` nests it. (The SQL parser
    balances a bare ``a AND b AND c AND d`` into ``(a AND b) AND (c AND
    d)``, a different plan.)"""
    parts = [f"({p})" for p in preds]
    out = parts[0] if parts else "true"
    for p in parts[1:]:
        out = f"({out} AND {p})"
    return out


def local_df(spark, data, schema) -> DataFrame:
    """Driver-local rows -> DataFrame via an ARROW local relation.

    The classic list-of-tuples ``createDataFrame`` builds a Python-RDD-
    backed relation with ``defaultParallelism`` partitions: EVERY action
    on it round-trips each partition through a Python worker, and a
    ``coalesce(1)`` (the natural shape for tiny metadata writes) chains
    those round-trips SERIALLY — measured ~5.5 s of fixed cost per
    8-row parquet write at r14, ~30x the actual work.  Routing the same
    rows through a ``pyarrow.Table`` instead yields a JVM-local relation
    (no Python workers at action time, one partition): identical values,
    schema, and xxhash64 stream (pinned by tests), ~0.2 s for the same
    write.  Falls back to the classic path for anything the Arrow
    converter rejects (exotic nested types, tz-bearing datetimes), so
    call sites can adopt it unconditionally."""
    from pyspark.sql.types import StructType
    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        pa_schema = to_arrow_schema(st)
        rows = [tuple(r) for r in data]
        cols = list(zip(*rows)) if rows else [() for _ in pa_schema]
        arrays = [pa.array(list(c), type=f.type, from_pandas=False)
                  for c, f in zip(cols, pa_schema)]
        tbl = pa.Table.from_arrays(arrays, schema=pa_schema)
        return spark.createDataFrame(tbl, schema=st)
    except Exception:
        return spark.createDataFrame(data, st)


_EXPR_CACHE: dict = {}
_EXPR_CACHE_MAX = 256
_EXPR_CACHE_LOCK = threading.Lock()


def expr_cached(s: str):
    """``F.expr(s)`` with the PARSED expression memoized per py4j
    gateway (VERDICT r14 #1, the 'prepared-plan registry': construction
    caching only — never data).  The constant-heavy probe expressions
    (centroid matrices, PQ codebooks, viterbi folds) are deterministic
    functions of frozen index parameters, so the same SQL text is
    re-parsed on every probe call: ~0.2-0.4 s per ANN probe at bench
    scale (measured r15,
    ``git show 34ba022:tools/opt_probe_profile.py``).  An unresolved
    parsed expression carries no data, no plan state and no column
    bindings — reusing the Column object across DataFrames is exactly
    what a repeated ``selectExpr`` produces, so plans are byte-identical.
    Keyed on the live gateway (a restarted JVM invalidates cached
    JavaObjects); FIFO-capped so pathological literal churn (per-step
    k_center distances over unbounded inputs) cannot grow it without
    bound.  The eviction runs under a lock: request threads share the
    cache, and two threads at the cap would otherwise pop the same oldest
    key."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    gw = getattr(sc, "_gateway", None) if sc is not None else None
    if gw is None:
        return F.expr(s)
    key = (id(gw), s)
    col = _EXPR_CACHE.get(key)
    if col is None:
        col = F.expr(s)
        with _EXPR_CACHE_LOCK:
            if key not in _EXPR_CACHE and len(_EXPR_CACHE) >= _EXPR_CACHE_MAX:
                _EXPR_CACHE.pop(next(iter(_EXPR_CACHE)))
            col = _EXPR_CACHE.setdefault(key, col)
    return col


def selectx(df: DataFrame, *exprs: str) -> DataFrame:
    """``df.selectExpr(*exprs)`` through :func:`expr_cached` — the
    drop-in for hot constant-heavy projection sites.  ``selectExpr``
    is definitionally ``select(expr(e) for e)``, aliases included, so
    the unresolved plan is identical; only the redundant re-parse of
    an already-seen expression string is skipped."""
    return df.select(*[expr_cached(e) for e in exprs])
