"""Expression evaluation: AST -> lazy DataFrame transformations.

The reference's pipeline (``expr/expr.go:234`` FetchAndEvalExp) is
fetch-everything-then-interpret because its backends are remote daemons.
On Spark the economics invert: scans are lazy, so "prefetch analysis"
(``pkg/parser/parser.go:155-330`` Metrics() with per-function range
extensions) collapses into *recursive lazy evaluation with a memoized fetch
cache* — identical semantics (functions that need extended history fetch
with adjusted [from, until)), but the whole render stays one Spark job DAG
and Catalyst dedups/reuses the underlying scans. The series data is not
collected until serialization, but building a frame may run small jobs: a
seriesByTag fetch resolves its series names and a multi-resolution lake its
common step (``SeriesLake.fetch``), and a few functions (some filters and
extras) run a driver action.

A function that must know its argument's step before building it (a
point-count window sizes its history fetch by it) asks
:func:`static_step`, a pass over the AST that reads each fetch's step from
the lake and never builds a plan.

Dispatch parity: name -> fetch (expr.go:163-166); function -> registry
(expr.go:187-211); series-list args flatten like helper.GetSeriesArgs
(expr/helper/helper.go:39-55).
"""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass, field
from zoneinfo import ZoneInfo

from pyspark.sql import SparkSession

from carbonapi_spark.model.series import SeriesFrame
from carbonapi_spark.parser import Expr, parse
from carbonapi_spark.parser.dates import UTC, date_param_to_epoch


class EvalError(ValueError):
    pass


class UnsupportedFunction(EvalError):
    def __init__(self, name: str):
        super().__init__(f"unsupported function: {name}")
        self.name = name


@dataclass
class EvalContext:
    spark: SparkSession
    lake: object  # SeriesLake
    from_ts: int
    until_ts: int
    tz: ZoneInfo = UTC
    now: _dt.datetime | None = None
    # fetch memo: (pattern, from, until) -> SeriesFrame  (expr.go:72-92 dedup)
    values: dict = field(default_factory=dict)
    # injectable clients for the reference's config-gated external-service
    # functions (aliasByRedis / aliasByPostgres / graphiteWeb). The engine
    # never owns those connections — exactly like the reference, where they
    # are disabled unless configured. Keys = function name; see
    # functions/extras.py for each client's callable signature.
    external_clients: dict = field(default_factory=dict)
    # step memo: (pattern, from, until) -> the step the fetch gives
    steps: dict = field(default_factory=dict)

    def fetch(self, pattern: str, from_ts: int | None = None,
              until_ts: int | None = None) -> SeriesFrame:
        f = self.from_ts if from_ts is None else from_ts
        u = self.until_ts if until_ts is None else until_ts
        key = (pattern, f, u)
        if key not in self.values:
            self.values[key] = self.lake.fetch(self.spark, pattern, f, u)
        return self.values[key]

    def fetch_step(self, pattern: str, from_ts: int | None = None,
                   until_ts: int | None = None) -> int:
        """The step of :meth:`fetch` over the same range, without building
        the fetch (one small job on a multi-resolution lake)."""
        f = self.from_ts if from_ts is None else from_ts
        u = self.until_ts if until_ts is None else until_ts
        key = (pattern, f, u)
        if key in self.values:
            return self.values[key].step
        if key not in self.steps:
            self.steps[key] = self.lake.fetch_step(pattern, f, u)
        return self.steps[key]


def static_step(ctx: EvalContext, exp: Expr, from_ts: int | None = None,
                until_ts: int | None = None) -> int:
    """The step ``eval_expr(ctx, exp, from_ts, until_ts)`` gives, read off
    the AST: a fetch's step comes from the lake, a function registered
    with a ``step`` rule applies it (the re-bucketing and synthetic
    sources), and any other function gives the LCM of its series
    arguments' steps, as the alignment of its frames does. The range is
    handed to every argument unchanged: a fetch's step depends on it only
    through a tiered lake's archive choice and a multi-resolution lake's
    series set."""
    from carbonapi_spark.functions import STEP_RULES  # late: filled on import

    f = ctx.from_ts if from_ts is None else from_ts
    u = ctx.until_ts if until_ts is None else until_ts
    if exp.is_name():
        return ctx.fetch_step(exp.target, f, u)
    if not exp.is_func():
        raise EvalError(f"cannot evaluate {exp.etype.value} as a series")
    rule = STEP_RULES.get(exp.target)
    if rule is not None:
        return rule(ctx, exp, f, u)
    step = 1
    for a in exp.args:
        # a bare None is asPercent's "no total", not a fetch
        if a.is_func() or (a.is_name() and a.target.lower() != "none"):
            s = static_step(ctx, a, f, u)
            step = step * s // math.gcd(step, s)
    return step


def eval_expr(ctx: EvalContext, exp: Expr, from_ts: int | None = None,
              until_ts: int | None = None) -> SeriesFrame:
    """Evaluate a parsed expression to a SeriesFrame (lazy)."""
    from carbonapi_spark.functions import REGISTRY  # late: registry filled on import

    if exp.is_name():
        return ctx.fetch(exp.target, from_ts, until_ts)
    if exp.is_func():
        fn = REGISTRY.get(exp.target)
        if fn is None:
            raise UnsupportedFunction(exp.target)
        try:
            return fn(ctx, exp,
                      ctx.from_ts if from_ts is None else from_ts,
                      ctx.until_ts if until_ts is None else until_ts)
        except EvalError:
            raise
        except ValueError as exc:
            # plain ValueError inside a registry function is argument
            # validation (bad fold name, list-length mismatch, bad interval
            # string, ...) — promote to EvalError here so the HTTP layer can
            # map exactly the evaluation domain to 400 while ValueErrors
            # from serialization/rendering stay server errors.
            raise EvalError(f"{exp.target}: {exc}") from exc
    raise EvalError(f"cannot evaluate {exp.etype.value} as a series")


def eval_target(ctx: EvalContext, target: str) -> SeriesFrame:
    return eval_expr(ctx, parse(target))


def render_context(spark: SparkSession, lake, from_param: str = "-24h",
                   until_param: str = "now", tz: ZoneInfo = UTC,
                   now: _dt.datetime | None = None) -> EvalContext:
    """Build a context from Graphite from/until params (render_handler.go:157)."""
    now = now or _dt.datetime.now(tz=UTC)
    now_ts = int(now.timestamp())
    f = date_param_to_epoch(from_param, now_ts - 86400, tz, now)
    u = date_param_to_epoch(until_param, now_ts, tz, now)
    return EvalContext(spark, lake, f, u, tz=tz, now=now)
