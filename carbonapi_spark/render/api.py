"""Graphite-compatible HTTP API over the Spark engine.

Routes (reference cmd/carbonapi/http/init.go:13-41):
  /render                      target=&from=&until=&format=&maxDataPoints=
  /metrics/find                query=&format=treejson|completer|json
  /metrics/expand              query=
  /tags/autoComplete/tags      tagPrefix=
  /tags/autoComplete/values    tag=&valuePrefix=
  /functions                   registered-function introspection
  /version

Implementation: stdlib ThreadingHTTPServer (no external web framework in
the container); one shared SparkSession; per-request EvalContext; response
cache keyed by the canonicalized form (render_handler.go:231-246).
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from zoneinfo import ZoneInfo, ZoneInfoNotFoundError

from carbonapi_spark.parser.dates import UTC

from carbonapi_spark.evaluator import (
    EvalContext, EvalError, eval_target, render_context,
)
from carbonapi_spark.parser import ParseError
from carbonapi_spark.functions import REGISTRY
from carbonapi_spark.render import metadata as meta
from carbonapi_spark.render.cache import ExpireCache
from carbonapi_spark.render.serialize import (
    collect_series, render_csv, render_json, render_pickle,
    render_protobuf_v2, render_protobuf_v3, render_raw,
)


class GraphiteAPI:
    def __init__(self, spark, lake, cache_ttl: int = 60, cache=None):
        """``cache`` selects the response-cache backend (anything with
        get/put/ttl_for — e.g. ``MemcachedResponseCache`` around an
        injected memcached client, cache/cache.go:60-111); default is
        the in-process ``ExpireCache``."""
        self.spark = spark
        self.lake = lake
        self.cache = cache if cache is not None \
            else ExpireCache(default_ttl=cache_ttl)

    # ------------------------------------------------------------ render
    def render(self, params: dict) -> tuple[int, str, bytes]:
        targets = params.get("target", [])
        if not targets:
            return 400, "text/plain", b"no target specified"
        from_p = params.get("from", ["-24h"])[0]
        until_p = params.get("until", ["now"])[0]
        fmt = params.get("format", ["json"])[0]
        try:
            mdp = int(params.get("maxDataPoints", ["0"])[0] or 0)
        except ValueError:
            return 400, "text/plain", b"maxDataPoints must be an integer"
        no_null = params.get("noNullPoints", [""])[0] in ("1", "true", "True")
        # render_handler.go:111-160 parameter surface
        tz_name = params.get("tz", [""])[0]
        tz = UTC
        if tz_name:
            try:
                tz = ZoneInfo(tz_name)
            except (KeyError, ZoneInfoNotFoundError, ValueError):
                return 400, "text/plain", f"unknown timezone {tz_name}".encode()
        ts_fmt = (params.get("timestampFormat", ["s"])[0] or "s").lower()
        ts_mult = {"s": 1, "ms": 1000, "millisecond": 1000,
                   "milliseconds": 1000, "us": 10**6, "microsecond": 10**6,
                   "microseconds": 10**6, "ns": 10**9, "nanosecond": 10**9,
                   "nanoseconds": 10**9}.get(ts_fmt)
        if ts_mult is None:  # render_handler.go:144-147
            return (400, "text/plain",
                    b"unsupported timestamp format, supported: "
                    b"'s', 'ms', 'us', 'ns'")
        jsonp = params.get("jsonp", [""])[0] if fmt == "json" else ""
        use_cache = params.get("noCache", [""])[0] not in ("1", "true", "True")
        # validated up front so a bad value 400s BEFORE any Spark work, like
        # the reference's render_handler parameter block
        try:
            cache_timeout = int(params.get("cacheTimeout", [""])[0] or -1)
        except ValueError:
            return 400, "text/plain", b"cacheTimeout must be an integer"

        graph_keys = ()
        if fmt in ("png", "svg"):
            # allowlist = exactly what GraphParams consumes (one shared
            # tuple — r10 bug: locally-added params like minorY were
            # missing here, so the cache served rasters rendered under
            # DIFFERENT graph settings)
            from carbonapi_spark.render.graph import GRAPH_PARAM_KEYS
            graph_keys = tuple(sorted(
                (k, v) for k, v in params.items()
                if k in GRAPH_PARAM_KEYS))
        # key on the targets in request order: every format's body depends on
        # it (series order in json/csv, color/stack/legend order in png/svg),
        # so a sorted key could serve a permuted request the wrong body
        cache_key = json.dumps([list(targets), from_p, until_p, fmt, mdp,
                                no_null, graph_keys, tz_name, ts_mult, jsonp])
        ctx = render_context(self.spark, self.lake, from_p, until_p, tz=tz)
        cached = self.cache.get(cache_key) if use_cache else None
        if cached is not None:
            # cache-hit marker (render_handler.go:241): the TTL the
            # entry was stored under
            code, ctype, body = cached[:3]
            ttl = (cache_timeout if cache_timeout >= 0
                   else self.cache.ttl_for(ctx.until_ts))
            return code, ctype, body, \
                {"X-Carbonapi-Request-Cached": str(ttl)}

        series = []
        opts_list = []  # per-series graph options (format=png/svg only)
        frames = []
        for target in targets:
            frames.append(eval_target(ctx, target))
        for frame in frames:
            got = collect_series(frame, mdp)
            series.extend(got)
            opts_list.extend([frame.graph_options or {}] * len(got))

        if fmt == "json":
            body = render_json(series, timestamp_multiplier=ts_mult,
                               no_null_points=no_null).encode()
            if jsonp:  # writeResponse, render_handler.go:169-177
                body = jsonp.encode() + b"(" + body + b")"
                ctype = "text/javascript; charset=utf-8"
            else:
                ctype = "application/json"
        elif fmt == "csv":
            body, ctype = render_csv(series).encode(), "text/csv"
        elif fmt == "raw":
            body, ctype = render_raw(series).encode(), "text/plain"
        elif fmt == "pickle":
            body, ctype = render_pickle(series), "application/pickle"
        elif fmt in ("protobuf", "protobuf3", "carbonapi_v3_pb"):
            body, ctype = render_protobuf_v3(series), "application/x-protobuf"
        elif fmt in ("protobuf2", "carbonapi_v2_pb"):
            body, ctype = render_protobuf_v2(series), "application/x-protobuf"
        elif fmt == "png":
            from carbonapi_spark.render.graph import render_png
            body, ctype = render_png(series, opts_list, params), "image/png"
        elif fmt == "svg":
            from carbonapi_spark.render.graph import render_svg
            body, ctype = (render_svg(series, opts_list, params).encode(),
                           "image/svg+xml")
        else:
            return 400, "text/plain", f"unsupported format {fmt}".encode()

        resp = (200, ctype, body)
        ttl = (cache_timeout if cache_timeout >= 0
               else self.cache.ttl_for(ctx.until_ts))
        if use_cache and ttl > 0:
            self.cache.put(cache_key, resp, ttl)
        return resp

    # ------------------------------------------------------------ find
    def metrics_find(self, params: dict) -> tuple[int, str, bytes]:
        query = params.get("query", [""])[0]
        if not query:
            return 400, "text/plain", b"missing query"
        fmt = params.get("format", ["treejson"])[0]
        entries = meta.find(self.lake, query)
        if fmt == "completer":
            payload = meta.find_completer(entries)
        elif fmt == "raw":
            # findList (find_handlers.go:153-173): one path per line,
            # non-leaves suffixed with a dot
            lines = [e["id"] + ("" if e["leaf"] else ".") for e in entries]
            return 200, "text/plain", ("\n".join(lines) + "\n").encode() \
                if lines else b""
        else:
            payload = entries
        return 200, "application/json", json.dumps(payload).encode()

    def metrics_expand(self, params: dict) -> tuple[int, str, bytes]:
        query = params.get("query", [""])[0]
        if not query:
            return 400, "text/plain", b"missing query"
        return 200, "application/json", json.dumps(
            {"results": meta.expand(self.lake, query)}).encode()

    def tags_autocomplete(self, params: dict, values: bool) -> tuple[int, str, bytes]:
        try:
            limit = int(params.get("limit", ["100"])[0])
        except ValueError:
            return 400, "text/plain", b"limit must be an integer"
        if limit < 0:
            return 400, "text/plain", b"limit must not be negative"
        exprs = params.get("expr", [])
        if values:
            tag = params.get("tag", [""])[0]
            if not tag:
                return 400, "text/plain", b"missing tag"
            out = meta.tag_values(self.lake, tag,
                                  params.get("valuePrefix", [""])[0], limit,
                                  exprs=exprs)
        else:
            out = meta.tag_names(self.lake, params.get("tagPrefix", [""])[0],
                                 limit, exprs=exprs)
        return 200, "application/json", json.dumps(out).encode()

    def info(self, params: dict) -> tuple[int, str, bytes]:
        targets = params.get("target", [])
        if not targets:
            return 400, "text/plain", b"no target specified"
        payload = {}
        for t in targets:
            payload.update(meta.info(self.lake, t))
        return 200, "application/json", json.dumps(payload).encode()

    def functions(self, params: dict) -> tuple[int, str, bytes]:
        payload = {name: {"name": name, "function": name + "(seriesList)",
                          "module": "carbonapi_spark.functions"}
                   for name in sorted(REGISTRY)}
        return 200, "application/json", json.dumps(payload).encode()

    # ------------------------------------------------------------ server
    def handler_class(self):
        api = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                self._handle(urllib.parse.parse_qs(
                    urllib.parse.urlparse(self.path).query))

            def do_POST(self):  # noqa: N802
                # form-encoded POST bodies merge with query params, like
                # net/http's Request.Form (render_handler.go parses r.Form)
                parsed = urllib.parse.urlparse(self.path)
                params = urllib.parse.parse_qs(parsed.query)
                n = int(self.headers.get("Content-Length") or 0)
                ctype = self.headers.get("Content-Type", "")
                if n and "application/x-www-form-urlencoded" in ctype:
                    for k, v in urllib.parse.parse_qs(
                            self.rfile.read(n).decode()).items():
                        params.setdefault(k, []).extend(v)
                elif n:
                    self.rfile.read(n)
                self._handle(params)

            def _handle(self, params):
                parsed = urllib.parse.urlparse(self.path)
                # the reference registers every route with and without a
                # trailing slash (init.go:15-36)
                path = parsed.path.rstrip("/") or "/"
                extra_headers = {}
                try:
                    if path == "/render":
                        resp = api.render(params)
                        code, ctype, body = resp[:3]
                        extra_headers = resp[3] if len(resp) > 3 else {}
                    elif path == "/metrics/find":
                        code, ctype, body = api.metrics_find(params)
                    elif path == "/metrics/expand":
                        code, ctype, body = api.metrics_expand(params)
                    elif path == "/tags/autoComplete/tags":
                        code, ctype, body = api.tags_autocomplete(params, False)
                    elif path == "/tags/autoComplete/values":
                        code, ctype, body = api.tags_autocomplete(params, True)
                    elif path == "/functions":
                        code, ctype, body = api.functions(params)
                    elif path == "/info":
                        code, ctype, body = api.info(params)
                    elif path == "/lb_check":
                        code, ctype, body = 200, "text/plain", b"Ok\n"
                    elif path == "/version":
                        code, ctype, body = 200, "text/plain", b"carbonapi_spark 0.1"
                    elif path == "/":
                        # usage_handler.go:7-21
                        code, ctype, body = 200, "text/plain", (
                            b"supported requests:\n"
                            b"    /functions/\n"
                            b"    /info/?target=\n"
                            b"    /lb_check/\n"
                            b"    /metrics/find/?query=\n"
                            b"    /metrics/expand/?query=\n"
                            b"    /render/?target=\n"
                            b"    /tags/autoComplete/tags/\n"
                            b"    /tags/autoComplete/values/\n"
                            b"    /version/\n")
                    else:
                        code, ctype, body = 404, "text/plain", b"not found"

                except (ParseError, EvalError) as exc:
                    # bad target / unknown function / bad function argument
                    # -> client error, like the reference's render_handler
                    # (mockbackend bad_requests asserts 400 for e.g.
                    # groupByNode(m, 0, '4')). eval_expr promotes registry
                    # ValueErrors to EvalError; a plain ValueError escaping
                    # from serialization/rendering is a genuine server bug
                    # and stays on the 500 path.
                    code, ctype, body = 400, "text/plain", str(exc).encode()
                except Exception as exc:  # noqa: BLE001
                    code, ctype, body = 500, "text/plain", str(exc).encode()
                finally:
                    # request boundary: free any scratch caches operators
                    # persisted while serving (see carbonapi_spark.scratch)
                    from carbonapi_spark import scratch
                    scratch.release()
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                for k, v in extra_headers.items():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):  # silence
                pass

        return Handler

    def serve(self, host: str = "127.0.0.1", port: int = 8080):
        server = ThreadingHTTPServer((host, port), self.handler_class())
        thread = threading.Thread(target=server.serve_forever, daemon=True)
        thread.start()
        return server
