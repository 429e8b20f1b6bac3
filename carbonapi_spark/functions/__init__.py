"""Render-function registry.

The reference registers ~190 functions name->object at init
(``expr/metadata/metadata.go:58-118``, glue at ``expr/functions/glue.go``);
we do the same with a module-level dict filled by the ``@register``
decorator. Each implementation has signature

    fn(ctx: EvalContext, exp: Expr, from_ts: int, until_ts: int) -> SeriesFrame

and composes lazy DataFrame transformations only.

A function whose output step is not the LCM of its series arguments'
steps registers a ``step`` rule, ``rule(ctx, exp, from_ts, until_ts) ->
int``, which :func:`carbonapi_spark.evaluator.static_step` reads instead.
"""

from __future__ import annotations

from collections.abc import Callable

REGISTRY: dict[str, Callable] = {}
STEP_RULES: dict[str, Callable] = {}


def register(*names: str, step: Callable | None = None):
    def deco(fn):
        for n in names:
            REGISTRY[n] = fn
            if step is not None:
                STEP_RULES[n] = step
        return fn
    return deco


def interval_step(ctx, exp, f, u) -> int:
    """Step rule: the interval argument is the output step."""
    return exp.get_interval(1)


def built_step(ctx, exp, f, u) -> int:
    """Step rule of a function whose step depends on data (a fallback, a
    per-series rewrite, an external source): known only by building it."""
    from carbonapi_spark.evaluator import eval_expr
    return eval_expr(ctx, exp, f, u).step


def first_arg_step(ctx, exp, f, u) -> int:
    """Step rule: the first argument's step (the others are not aligned)."""
    from carbonapi_spark.evaluator import static_step
    return static_step(ctx, exp.args[0], f, u)


def load_all() -> None:
    """Import every function family (the glue.go analog)."""
    from carbonapi_spark.functions import (  # noqa: F401
        aggregate,
        alias,
        extras,
        filters,
        joins,
        misc,
        sortlimit,
        stats,
        synth,
        timeshift,
        transform,
        windowed,
    )


load_all()
