"""Renaming / metadata operators (SURVEY §2.4) — pure name-column rewrites."""

from __future__ import annotations

from carbonapi_spark.evaluator import eval_expr
from carbonapi_spark.functions import register
from carbonapi_spark.functions.helper import agg_key_sql, node_sql
from carbonapi_spark.sqltext import sql_lit

import re


@register("alias")
def alias(ctx, exp, f, u):
    """rename every series — alias/function.go:28."""
    new = exp.get_string(1)
    return eval_expr(ctx, exp.args[0], f, u).map_name(sql_lit(new))


@register("aliasByMetric")
def alias_by_metric(ctx, exp, f, u):
    """last dot-node (tags stripped) — aliasByMetric/function.go:29."""
    return eval_expr(ctx, exp.args[0], f, u).map_name(node_sql(-1))


@register("aliasByNode", "aliasByTags")
def alias_by_node(ctx, exp, f, u):
    """join selected nodes/tags (mixed int/str args) — aliasByNode/function.go:27."""
    keys = exp.get_node_or_tag_args(1)
    return eval_expr(ctx, exp.args[0], f, u).map_name(agg_key_sql(keys))


@register("aliasSub")
def alias_sub(ctx, exp, f, u):
    """regex sub with backrefs — aliasSub/function.go:28 (Go \\1 -> Java $1)."""
    search = exp.get_string(1)
    replace = exp.get_string(2)
    # Graphite uses python/Go-style \1 backrefs; Spark regexp_replace wants $1
    replace_j = re.sub(r"\\(\d+)", r"$\1", replace)
    return eval_expr(ctx, exp.args[0], f, u).map_name(
        f"regexp_replace(name, {sql_lit(search)}, {sql_lit(replace_j)})")


@register("aliasByBase64")
def alias_by_base64(ctx, exp, f, u):
    """base64-decode the name (carbonapi ext) — aliasByBase64/function.go:30."""
    return eval_expr(ctx, exp.args[0], f, u).map_name(
        "CAST(unbase64(name) AS STRING)")
