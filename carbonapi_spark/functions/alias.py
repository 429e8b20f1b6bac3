"""Renaming / metadata operators (SURVEY §2.4) — pure name-column rewrites."""

from __future__ import annotations

from pyspark.sql import functions as F

from carbonapi_spark.evaluator import eval_expr
from carbonapi_spark.functions import register
from carbonapi_spark.functions.helper import agg_key_expr

import re


@register("alias")
def alias(ctx, exp, f, u):
    """rename every series — alias/function.go:28."""
    new = exp.get_string(1)
    return eval_expr(ctx, exp.args[0], f, u).map_name(lambda n: F.lit(new))


@register("aliasByMetric")
def alias_by_metric(ctx, exp, f, u):
    """last dot-node (tags stripped) — aliasByMetric/function.go:29."""
    def fn(n):
        base = F.split_part(n, F.lit(";"), F.lit(1))
        return F.element_at(F.split(base, "\\."), -1)
    return eval_expr(ctx, exp.args[0], f, u).map_name(fn)


@register("aliasByNode", "aliasByTags")
def alias_by_node(ctx, exp, f, u):
    """join selected nodes/tags (mixed int/str args) — aliasByNode/function.go:27."""
    keys = exp.get_node_or_tag_args(1)
    return eval_expr(ctx, exp.args[0], f, u).map_name(lambda n: agg_key_expr(n, keys))


@register("aliasSub")
def alias_sub(ctx, exp, f, u):
    """regex sub with backrefs — aliasSub/function.go:28 (Go \\1 -> Java $1)."""
    search = exp.get_string(1)
    replace = exp.get_string(2)
    # Graphite uses python/Go-style \1 backrefs; Spark regexp_replace wants $1
    replace_j = re.sub(r"\\(\d+)", r"$\1", replace)
    return eval_expr(ctx, exp.args[0], f, u).map_name(
        lambda n: F.regexp_replace(n, search, replace_j))


@register("aliasByBase64")
def alias_by_base64(ctx, exp, f, u):
    """base64-decode the name (carbonapi ext) — aliasByBase64/function.go:30."""
    return eval_expr(ctx, exp.args[0], f, u).map_name(
        lambda n: F.unbase64(n).cast("string"))
