"""Serializer + metadata + HTTP API tests (e2e layer, reference
cmd/mockbackend analog)."""

import json
import math
import urllib.parse
import urllib.request

import numpy as np
import pytest

from carbonapi_spark.evaluator import EvalContext, eval_target
from carbonapi_spark.render.metadata import expand, find, tag_names, tag_values
from carbonapi_spark.render.serialize import collect_series, render_csv, render_json, render_raw
from tests.conftest import make_lake


def _frame(spark, lake, target, f, u):
    ctx = EvalContext(spark, lake, f, u)
    return eval_target(ctx, target)


def test_render_json_format(spark):
    lake = make_lake(spark, {"m.a": [1.0, None, 3.0]}, 1, 0)
    frame = _frame(spark, lake, "m.a", 0, 3)
    out = json.loads(render_json(collect_series(frame)))
    assert out == [{"target": "m.a",
                    "datapoints": [[1.0, 0], [None, 1], [3.0, 2]],
                    "tags": {"name": "m.a"}}]


def test_render_json_no_null_points(spark):
    lake = make_lake(spark, {"m.a": [1.0, None]}, 1, 0)
    frame = _frame(spark, lake, "m.a", 0, 2)
    out = json.loads(render_json(collect_series(frame), no_null_points=True))
    assert out[0]["datapoints"] == [[1.0, 0]]


def _encoder_series():
    from carbonapi_spark.render.serialize import SeriesResult, _parse_tags
    tagged = "ü.名;k=a=b;dc=west"
    return [
        SeriesResult("a.b", 60, 720, 60,
                     [1.5, None, math.nan, math.inf, -math.inf, 3, -0.0,
                      1e16, 1e-05, 123456.789, np.float64(2.5)],
                     {"name": "a.b"}),
        SeriesResult(tagged, 0, 20, 10, [None, 7], _parse_tags(tagged)),
        SeriesResult("empty", 0, 0, 60, [], {"name": "empty"}),
    ]


# The JSON and CSV bodies the per-point encoders (json.dumps of the
# payload; a repr(float(v)) line per point) gave for _encoder_series().
_JSON_BODY = (
    '[{"target": "a.b", "datapoints": [[1.5, 60], [null, 120], [null, 180], '
    '[null, 240], [null, 300], [3, 360], [-0.0, 420], [1e+16, 480], '
    '[1e-05, 540], [123456.789, 600], [2.5, 660]], "tags": {"name": "a.b"}}, '
    '{"target": "\\u00fc.\\u540d;k=a=b;dc=west", "datapoints": [[null, 0], '
    '[7, 10]], "tags": {"name": "\\u00fc.\\u540d", "k": "a=b", "dc": "west"}}, '
    '{"target": "empty", "datapoints": [], "tags": {"name": "empty"}}]')
_JSON_BODY_NO_NULLS = (
    '[{"target": "a.b", "datapoints": [[1.5, 60], [3, 360], [-0.0, 420], '
    '[1e+16, 480], [1e-05, 540], [123456.789, 600], [2.5, 660]], '
    '"tags": {"name": "a.b"}}, '
    '{"target": "\\u00fc.\\u540d;k=a=b;dc=west", "datapoints": [[7, 10]], '
    '"tags": {"name": "\\u00fc.\\u540d", "k": "a=b", "dc": "west"}}, '
    '{"target": "empty", "datapoints": [], "tags": {"name": "empty"}}]')
_JSON_BODY_MS = (
    '[{"target": "a.b", "datapoints": [[1.5, 60000], [null, 120000], '
    '[null, 180000], [null, 240000], [null, 300000], [3, 360000], '
    '[-0.0, 420000], [1e+16, 480000], [1e-05, 540000], '
    '[123456.789, 600000], [2.5, 660000]], "tags": {"name": "a.b"}}, '
    '{"target": "\\u00fc.\\u540d;k=a=b;dc=west", "datapoints": [[null, 0], '
    '[7, 10000]], "tags": {"name": "\\u00fc.\\u540d", "k": "a=b", '
    '"dc": "west"}}, '
    '{"target": "empty", "datapoints": [], "tags": {"name": "empty"}}]')
_CSV_BODY = (
    '"a.b",1970-01-01 00:01:00,1.5\n"a.b",1970-01-01 00:02:00,\n'
    '"a.b",1970-01-01 00:03:00,\n"a.b",1970-01-01 00:04:00,inf\n'
    '"a.b",1970-01-01 00:05:00,-inf\n"a.b",1970-01-01 00:06:00,3.0\n'
    '"a.b",1970-01-01 00:07:00,-0.0\n"a.b",1970-01-01 00:08:00,1e+16\n'
    '"a.b",1970-01-01 00:09:00,1e-05\n"a.b",1970-01-01 00:10:00,123456.789\n'
    '"a.b",1970-01-01 00:11:00,2.5\n'
    '"ü.名;k=a=b;dc=west",1970-01-01 00:00:00,\n'
    '"ü.名;k=a=b;dc=west",1970-01-01 00:00:10,7.0\n')


def test_json_encoder_bytes_frozen():
    """NaN, ±inf and None are null, ints stay ints, floats (a numpy
    float64 too) read as json.dumps writes them; non-ASCII names and tags
    are escaped; noNullPoints drops nulls; ms multiplies every stamp."""
    series = _encoder_series()
    assert render_json(series) == _JSON_BODY
    assert render_json(series, no_null_points=True) == _JSON_BODY_NO_NULLS
    assert render_json(series, timestamp_multiplier=1000) == _JSON_BODY_MS
    assert render_json([]) == "[]"


def test_csv_encoder_bytes_frozen():
    assert render_csv(_encoder_series()) == _CSV_BODY
    assert render_csv([]) == ""


def test_jsonp_body_frozen(spark):
    from carbonapi_spark.render.api import GraphiteAPI
    api = GraphiteAPI(spark, make_lake(
        spark, {"m.a": [1.0, None, 3.0], "m.b;k=a=b": [2.0, 2.5, None]}, 1, 0))
    code, ctype, body = api.render({
        "target": ["m.*"], "from": ["0"], "until": ["3"], "format": ["json"],
        "jsonp": ["cb"], "timestampFormat": ["ms"], "noCache": ["1"]})[:3]
    assert (code, ctype) == (200, "text/javascript; charset=utf-8")
    assert body == (
        b'cb([{"target": "m.a", "datapoints": [[1.0, 0], [null, 1000], '
        b'[3.0, 2000]], "tags": {"name": "m.a"}}, {"target": "m.b;k=a=b", '
        b'"datapoints": [[2.0, 0], [2.5, 1000], [null, 2000]], '
        b'"tags": {"name": "m.b", "k": "a=b"}}])')


def test_max_data_points_consolidation(spark):
    lake = make_lake(spark, {"m.a": [float(i) for i in range(10)]}, 1, 0)
    frame = _frame(spark, lake, "m.a", 0, 10)
    series = collect_series(frame, max_data_points=5)
    assert len(series[0].values) == 5
    # default consolidation = average of each pair
    assert series[0].values == [0.5, 2.5, 4.5, 6.5, 8.5]


def test_series_order_follows_sort(spark):
    lake = make_lake(spark, {"m.a": [1, 1], "m.b": [9, 9], "m.c": [5, 5]}, 1, 0)
    frame = _frame(spark, lake, "sortByTotal(m.*)", 0, 2)
    names = [s.name for s in collect_series(frame)]
    assert names == ["m.b", "m.c", "m.a"]


def test_render_csv_and_raw(spark):
    lake = make_lake(spark, {"m.a": [1.5, None]}, 1, 0)
    frame = _frame(spark, lake, "m.a", 0, 2)
    series = collect_series(frame)
    csv = render_csv(series)
    assert '"m.a",1970-01-01 00:00:00,1.5' in csv
    raw = render_raw(series)
    assert raw == "m.a,0,2,1|1.5,None\n"


def test_tagged_names_in_json(spark):
    lake = make_lake(spark, {"cpu;host=h1;dc=west": [1.0],
                             "cpu;host=h2;dc=east": [2.0]}, 1, 0)
    frame = _frame(spark, lake, "seriesByTag('name=cpu', 'dc=west')", 0, 1)
    out = json.loads(render_json(collect_series(frame)))
    assert len(out) == 1
    assert out[0]["tags"] == {"name": "cpu", "host": "h1", "dc": "west"}


# ----------------------------------------------------------- metadata

def test_find_tree(spark):
    lake = make_lake(spark, {"servers.s1.cpu": [1], "servers.s2.cpu": [1],
                             "apps.api.reqs": [1]}, 1, 0)
    entries = find(lake, "*")
    assert [(e["text"], e["leaf"]) for e in entries] == [("apps", 0), ("servers", 0)]
    entries = find(lake, "servers.*")
    assert [e["id"] for e in entries] == ["servers.s1", "servers.s2"]
    entries = find(lake, "servers.s1.*")
    assert entries[0]["leaf"] == 1


def test_expand(spark):
    lake = make_lake(spark, {"a.b.c": [1], "a.d.c": [1]}, 1, 0)
    assert expand(lake, "a.*") == ["a.b", "a.d"]


def test_tag_autocomplete(spark):
    lake = make_lake(spark, {"cpu;host=h1": [1], "cpu;host=h2;dc=w": [1]}, 1, 0)
    assert tag_names(lake) == ["dc", "host", "name"]
    assert tag_values(lake, "host") == ["h1", "h2"]
    # expr= filters restrict the candidate series (graphite-web API)
    assert tag_names(lake, exprs=["dc=w"]) == ["dc", "host", "name"]
    assert tag_values(lake, "host", exprs=["dc=w"]) == ["h2"]
    assert tag_values(lake, "host", exprs=["dc="]) == ["h1"]


def test_tag_value_containing_equals_sign(spark):
    """A tag splits at its first '=': `x;k=a=b` has k = 'a=b' everywhere —
    in the rendered tags, in seriesByTag, in autocomplete and in
    groupByTags."""
    lake = make_lake(spark, {"x;k=a=b;h=1": [1.0, 2.0],
                             "x;k=a=b;h=2": [10.0, 20.0],
                             "x;k=b": [5.0, 6.0]}, 1, 0)
    frame = _frame(spark, lake, "seriesByTag('k=a=b')", 0, 2)
    out = json.loads(render_json(collect_series(frame)))
    assert [(s["target"], s["tags"]) for s in out] == [
        ("x;k=a=b;h=1", {"name": "x", "k": "a=b", "h": "1"}),
        ("x;k=a=b;h=2", {"name": "x", "k": "a=b", "h": "2"})]
    frame = _frame(spark, lake, "seriesByTag('name=x', 'k=~a=', 'h!=2')", 0, 2)
    assert [s.name for s in collect_series(frame)] == ["x;k=a=b;h=1"]
    assert tag_values(lake, "k") == ["a=b", "b"]
    assert tag_values(lake, "h", exprs=["k=a=b"]) == ["1", "2"]
    frame = _frame(spark, lake,
                   "groupByTags(seriesByTag('k=a=b'), 'sum', 'k')", 0, 2)
    assert [(s.name, s.values) for s in collect_series(frame)] == [
        ("x;k=a=b", [11.0, 22.0])]


# ----------------------------------------------------------- HTTP e2e

@pytest.fixture(scope="module")
def server(spark):
    from carbonapi_spark.render.api import GraphiteAPI
    lake = make_lake(spark, {"web.host1.cpu": [1.0, 2.0, None, 4.0],
                             "web.host2.cpu": [10.0, 20.0, 30.0, 40.0]}, 1, 0)
    api = GraphiteAPI(spark, lake)
    srv = api.serve(port=18321)
    yield "http://127.0.0.1:18321"
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=60) as resp:
        return resp.status, resp.read()


def test_http_render(server):
    code, body = _get(f"{server}/render?target=sumSeries(web.*.cpu)"
                      "&from=0&until=4&format=json")
    assert code == 200
    out = json.loads(body)
    assert out[0]["target"] == "sumSeries(web.*.cpu)"
    assert out[0]["datapoints"] == [[11.0, 0], [22.0, 1], [30.0, 2], [44.0, 3]]


def test_http_find(server):
    code, body = _get(f"{server}/metrics/find?query=web.*")
    assert code == 200
    assert [e["id"] for e in json.loads(body)] == ["web.host1", "web.host2"]


def test_http_find_raw_list(server):
    """format=raw on /metrics/find: one path per line, non-leaves dotted
    (find_handlers.go findList)."""
    _, body = _get(f"{server}/metrics/find?query=web.*&format=raw")
    lines = body.decode().strip().split("\n")
    assert sorted(lines) == ["web.host1.", "web.host2."]
    _, body = _get(f"{server}/metrics/find?query=web.host1.*&format=raw")
    assert body.decode().strip() == "web.host1.cpu"


def test_http_functions(server):
    code, body = _get(f"{server}/functions")
    payload = json.loads(body)
    assert "sumSeries" in payload and "movingAverage" in payload


def test_http_unknown_function_is_400(server):
    code, _ = _get_no_raise(f"{server}/render?target=nosuchfunc(web.*.cpu)&from=0&until=4")
    assert code == 400


def _get_no_raise(url):
    try:
        with urllib.request.urlopen(url, timeout=60) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def test_http_bad_targets_are_400(server):
    """The reference's pr560 + bad_requests e2e cases: malformed targets ->
    HTTP 400 (cmd/mockbackend/testcases/{pr560,bad_requests}/*.yaml).
    bad_requests specifically pins argument-VALIDATION failures (an
    aggregator named '4') as client errors, not 500s — plain ValueError
    from the function registry must reach the 400 branch.
    (bad_requests' second query, applyByNode over a missing template
    metric, is adjudicated: the reference 400s because its zipper 404s
    unknown names; our lake returns empty fetches by design, so it's an
    empty 200 here — consistent with our empty-glob behavior.)"""
    bad = [
        "aliasbyNode()",                     # unknown (case-sensitive) name
        "aliasbyNode(web.host1.cpu)",
        "aliasByNode(web.host1.cpu, abc)",   # node arg must be int/tag
        "polyfit(web.host1.cpu, 2, '12dd')", # malformed interval
        "devideSeries(web.host1.cpu)",       # typo'd function
        "groupByNode(web.*.cpu, 0, '4')",    # bad_requests: bad aggregator
        "summarize(web.host1.cpu,'1¹h')",  # unicode digit interval
    ]
    for target in bad:
        code, _ = _get_no_raise(
            f"{server}/render?target={urllib.parse.quote(target)}&from=0&until=4")
        assert code == 400, target


def test_consolidate_by_unknown_function_is_400(spark, server):
    """consolidateBy validates its function name when the target is built,
    so a bad name is a client error whether or not maxDataPoints makes the
    collect fold with it."""
    from carbonapi_spark.evaluator import EvalError
    from carbonapi_spark.render.api import GraphiteAPI
    target = "consolidateBy(web.host1.cpu,'bogus')"
    lake = make_lake(spark, {"web.host1.cpu": [1.0, 2.0, 3.0, 4.0]}, 1, 0)
    for extra in ({}, {"maxDataPoints": ["2"]}):
        with pytest.raises(EvalError, match="bogus"):
            GraphiteAPI(spark, lake).render({
                "target": [target], "from": ["0"], "until": ["4"],
                "noCache": ["1"], **extra})
    url = f"{server}/render?target={urllib.parse.quote(target)}&from=0&until=4"
    for extra in ("", "&maxDataPoints=3"):
        code, body = _get_no_raise(url + extra)
        assert code == 400, body
        assert b"bogus" in body
    code, _ = _get_no_raise(url.replace("bogus", "max") + "&maxDataPoints=3")
    assert code == 200


def _pb_fields(buf: bytes):
    """Minimal proto3 wire decoder: yields (field, wire, value)."""
    i = 0
    while i < len(buf):
        key, shift = 0, 0
        while True:
            b = buf[i]; i += 1
            key |= (b & 0x7F) << shift; shift += 7
            if not b & 0x80:
                break
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, shift = 0, 0
            while True:
                b = buf[i]; i += 1
                v |= (b & 0x7F) << shift; shift += 7
                if not b & 0x80:
                    break
            yield field, wire, v
        elif wire == 2:
            ln, shift = 0, 0
            while True:
                b = buf[i]; i += 1
                ln |= (b & 0x7F) << shift; shift += 7
                if not b & 0x80:
                    break
            yield field, wire, buf[i:i + ln]; i += ln
        else:
            raise AssertionError(f"unexpected wire type {wire}")


def test_protobuf_serializers():
    import math as m
    import struct
    from carbonapi_spark.render.serialize import (
        SeriesResult, render_protobuf_v2, render_protobuf_v3)
    s = SeriesResult("web.cpu", 60, 240, 60, [1.5, None, 3.0], {"name": "web.cpu"})

    v3 = render_protobuf_v3([s])
    (f, w, metric), = list(_pb_fields(v3))
    assert (f, w) == (1, 2)
    fields = {fl: val for fl, _, val in _pb_fields(metric)}
    assert fields[1] == b"web.cpu"
    assert fields[4] == 60 and fields[5] == 240 and fields[6] == 60
    vals = struct.unpack("<3d", fields[9])
    assert vals[0] == 1.5 and m.isnan(vals[1]) and vals[2] == 3.0

    v2 = render_protobuf_v2([s])
    (f, w, metric), = list(_pb_fields(v2))
    fields = {fl: val for fl, _, val in _pb_fields(metric)}
    assert fields[2] == 60 and fields[3] == 240 and fields[4] == 60
    assert struct.unpack("<3d", fields[5]) == (1.5, 0.0, 3.0)
    assert list(fields[6]) == [0, 1, 0]  # isAbsent


def test_http_post_render(server):
    body = b"target=sumSeries(web.*.cpu)&from=0&until=4&format=json"
    req = urllib.request.Request(
        f"{server}/render", data=body, method="POST",
        headers={"Content-Type": "application/x-www-form-urlencoded"})
    with urllib.request.urlopen(req, timeout=60) as resp:
        assert resp.status == 200
        out = json.loads(resp.read())
    assert out[0]["datapoints"] == [[11.0, 0], [22.0, 1], [30.0, 2], [44.0, 3]]


def test_http_protobuf_format(server):
    code, body = _get(f"{server}/render?target=web.host1.cpu"
                      "&from=0&until=4&format=protobuf")
    assert code == 200
    (f, w, metric), = list(_pb_fields(body))
    fields = {fl: val for fl, _, val in _pb_fields(metric)}
    assert fields[1] == b"web.host1.cpu"


def test_http_info_and_lb_check(server):
    code, body = _get(f"{server}/info?target=web.host1.cpu")
    assert code == 200
    payload = json.loads(body)
    e = payload["web.host1.cpu"]
    assert e["retentions"][0]["secondsPerPoint"] == 1
    assert e["retentions"][0]["numberOfPoints"] == 4
    code, body = _get(f"{server}/lb_check")
    assert code == 200 and body == b"Ok\n"


# ------------------------------------------------------------ png/svg graphs

def _png_pixels(data: bytes):
    """Decode our filter-0 RGB PNG back to an ndarray (test-side decoder)."""
    import struct
    import zlib

    import numpy as np
    w, h = struct.unpack(">II", data[16:24])
    body = b""
    off = 8
    while off < len(data):
        ln, tag = struct.unpack(">I4s", data[off:off + 8])
        if tag == b"IDAT":
            body += data[off + 8:off + 8 + ln]
        off += 12 + ln
    raw = zlib.decompress(body)
    stride = 1 + w * 3
    rows = [raw[y * stride + 1:(y + 1) * stride] for y in range(h)]
    assert all(raw[y * stride] == 0 for y in range(h))  # filter 0
    return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(h, w, 3)


def test_render_png_dimensions_and_series(spark):
    from carbonapi_spark.render.graph import decode_png_size, render_png
    lake = make_lake(spark, {"m.a": [1.0, 5.0, 3.0, 4.0],
                             "m.b": [2.0, None, 1.0, 0.0]}, 1, 0)
    frame = _frame(spark, lake, "m.*", 0, 4)
    series = collect_series(frame)
    png = render_png(series, [{}] * len(series),
                     {"width": ["400"], "height": ["300"],
                      "title": ["Test Graph"]})
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert decode_png_size(png) == (400, 300)
    px = _png_pixels(png)
    assert px.shape == (300, 400, 3)
    # both default colors (blue, green) are present; background is black
    blue = ((px[:, :, 2] > 200) & (px[:, :, 0] < 150)).sum()
    green = ((px[:, :, 1] > 150) & (px[:, :, 2] < 100) & (px[:, :, 0] < 100)).sum()
    assert blue > 20 and green > 20
    assert (px == 0).all(axis=2).mean() > 0.3


def test_render_png_consumes_decorators(spark):
    from carbonapi_spark.render.graph import render_png
    lake = make_lake(spark, {"m.a": [1.0, 2.0, 3.0]}, 1, 0)
    frame = _frame(spark, lake, "color(alpha(lineWidth(m.a, 3), 0.8), 'red')",
                   0, 3)
    assert frame.graph_options == {"lineWidth": 3.0, "alpha": 0.8,
                                   "color": "red"}
    series = collect_series(frame)
    png = render_png(series, [frame.graph_options] * len(series),
                     {"hideLegend": ["1"]})
    px = _png_pixels(png)
    red = ((px[:, :, 0] > 120) & (px[:, :, 1] < 80)).sum()
    assert red > 20  # the line is drawn in the decorator color


def test_render_svg(spark):
    from carbonapi_spark.render.graph import render_svg
    lake = make_lake(spark, {"m.a": [1.0, 5.0, 3.0]}, 1, 0)
    frame = _frame(spark, lake, "drawAsInfinite(m.a)", 0, 3)
    series = collect_series(frame)
    svg = render_svg(series, [frame.graph_options or {}] * len(series),
                     {"title": ["t & co"]})
    assert svg.startswith("<svg") and svg.endswith("</svg>")
    assert 'width="330"' in svg and 'height="250"' in svg
    assert "t &amp; co" in svg
    assert svg.count("<line") >= 3  # one vertical line per point
    assert "drawAsInfinite(m.a)" in svg  # legend entry


def test_render_png_clamps_dimensions(spark):
    # an unchecked width/height from the query string could allocate a
    # multi-GB canvas; params are clamped to 1..8192
    from carbonapi_spark.render.graph import decode_png_size, render_png
    lake = make_lake(spark, {"m.a": [1.0, 2.0]}, 1, 0)
    series = collect_series(_frame(spark, lake, "m.a", 0, 2))
    png = render_png(series, [{}], {"width": ["100000"], "height": ["-5"]})
    assert decode_png_size(png) == (8192, 1)


def test_render_png_stacks_by_timestamp(spark):
    # two stacked series with different starts must stack at matching ts,
    # not matching sample index
    from carbonapi_spark.render.graph import _series_geometry, GraphParams

    class S:
        def __init__(self, name, start, step, values, stop=None):
            self.name, self.start, self.step = name, start, step
            self.values = values
            self.stop = stop if stop is not None else start + step * len(values)

    a = S("a", 0, 1, [1.0, 1.0, 1.0])
    b = S("b", 1, 1, [2.0, 2.0])  # starts one step later
    gp = GraphParams({"areaMode": ["stacked"]})
    specs, lo, hi, t0, t1 = _series_geometry([a, b], [{}, {}], gp)
    # at ts=1 and ts=2, b stacks on a's value AT THAT TS: 1+2=3
    assert dict(specs[1]["pts"]) == {1: 3.0, 2: 3.0}
    assert hi == 3.0


def test_area_mode_first_fills_only_the_first_series(spark, monkeypatch):
    """areaMode=first fills the first series and no other, in PNG and
    in SVG alike."""
    import re

    from carbonapi_spark.render import graph
    lake = make_lake(spark, {"m.a": [1.0, 3.0, 2.0],
                             "m.b": [2.0, 1.0, 3.0]}, 1, 0)
    series = collect_series(_frame(spark, lake, "m.*", 0, 3))
    params = {"areaMode": ["first"], "hideLegend": ["true"]}
    specs = graph._series_geometry(series, [{}, {}],
                                   graph.GraphParams(params))[0]
    first, second = (sp["color"] for sp in specs)
    assert first != second
    filled = []
    real_vfill = graph.Canvas.vfill

    def vfill(self, x, y0, y1, color, alpha=1.0):
        filled.append(color)
        return real_vfill(self, x, y0, y1, color, alpha)

    monkeypatch.setattr(graph.Canvas, "vfill", vfill)
    graph.render_png(series, [{}, {}], params)
    assert filled and set(filled) == {first}
    svg = graph.render_svg(series, [{}, {}], params)
    rgb = ["rgb({},{},{})".format(*c[:3]) for c in (first, second)]
    paths = [(stroke, fill) for fill, stroke in re.findall(
        r'<path d="[^"]*" fill="([^"]*)" fill-opacity="[^"]*" '
        r'stroke="([^"]*)"', svg) if stroke in rgb]
    assert paths == [(rgb[0], rgb[0]), (rgb[1], "none")]


def test_render_png_log_base_and_null_as_zero(spark):
    # logBase: y mapping is logarithmic (cairo.go:2223-2228), so an
    # exponential series renders differently from the linear scale;
    # drawNullAsZero: gaps become 0.0 points (cairo.go:2328)
    from carbonapi_spark.render.graph import (
        GraphParams, _series_geometry, render_png)
    lake = make_lake(spark, {"m.a": [1.0, 10.0, 100.0, 1000.0]}, 1, 0)
    series = collect_series(_frame(spark, lake, "m.a", 0, 4))
    lin = render_png(series, [{}], {})
    log = render_png(series, [{}], {"logBase": ["10"]})
    assert log[:8] == b"\x89PNG\r\n\x1a\n" and log != lin
    # logBase=e parses; logBase<1 and garbage fall back to linear
    assert GraphParams({"logBase": ["e"]}).log_base > 2.7
    assert GraphParams({"logBase": ["0.5"]}).log_base == 0.0
    assert GraphParams({"logBase": ["x"]}).log_base == 0.0

    gp = GraphParams({"drawNullAsZero": ["true"]})
    lake2 = make_lake(spark, {"m.b": [1.0, None, 3.0]}, 1, 0)
    series2 = collect_series(_frame(spark, lake2, "m.b", 0, 3))
    specs, lo, hi, _, _ = _series_geometry(series2, [{}], gp)
    assert dict(specs[0]["pts"])[1] == 0.0 and lo == 0.0


def test_render_png_ystep_minory_grid_colors(spark):
    """yStep snaps the y-range to step multiples and re-ticks
    (cairo.go:1711-1718); minorY draws N extra gridlines per major gap
    (cairo.go:2067-2110); major/minorGridLineColor recolor them
    (picture_params.go:300-301) — each param must change the raster,
    and omitting them must reproduce the default raster byte-for-byte."""
    from carbonapi_spark.render.graph import (
        GraphParams, _y_scale, render_png, render_svg)
    lake = make_lake(spark, {"m.a": [1.0, 7.0, 3.0, 9.5]}, 1, 0)
    series = collect_series(_frame(spark, lake, "m.a", 0, 4))
    base = render_png(series, [{}], {})
    assert render_png(series, [{}], {}) == base  # deterministic raster
    ystep = render_png(series, [{}], {"yStep": ["2.5"]})
    minor = render_png(series, [{}], {"minorY": ["2"]})
    color = render_png(series, [{}], {"minorY": ["2"],
                                      "minorGridLineColor": ["red"],
                                      "majorGridLineColor": ["blue"]})
    assert len({bytes(base), bytes(ystep), bytes(minor),
                bytes(color)}) == 4
    # SVG: minorY adds the extra gridline elements
    s0 = render_svg(series, [{}], {})
    s2 = render_svg(series, [{}], {"minorY": ["2"]})
    assert s2.count("<line") > s0.count("<line")
    # ticks land on yStep multiples and cover the snapped range
    gp = GraphParams({"yStep": ["2.5"]})
    sy, ticks = _y_scale(gp, 1.0, 9.5, 0, 100)
    assert ticks == [0.0, 2.5, 5.0, 7.5, 10.0]
    assert sy(0.0) == 100 and sy(10.0) == 0
    # garbage / non-positive yStep and minorY fall back to defaults
    assert GraphParams({"yStep": ["x"]}).y_step is None
    assert GraphParams({"yStep": ["-1"]}).y_step is None
    assert GraphParams({"minorY": ["x"]}).minor_y == 0
    # DoS clamps: a request must not be able to allocate unbounded
    # ticks (yStep=1e-6 over a wide range => _nice_ticks fallback) or
    # draw millions of minor lines (minorY capped at 20)
    gp_tiny = GraphParams({"yStep": ["0.000001"]})
    _, t2 = _y_scale(gp_tiny, 0.0, 1e12, 0, 100)
    assert len(t2) <= 1001
    assert GraphParams({"minorY": ["10000000"]}).minor_y == 20
    assert GraphParams({"minorY": ["inf"]}).minor_y == 0
    assert GraphParams({"yStep": ["inf"]}).y_step is None
    assert GraphParams({"yStep": ["nan"]}).y_step is None
    # hideGrid suppresses major AND minor gridlines in SVG too (labels
    # and the axis frame stay) — parity with the PNG path
    s_hidden = render_svg(series, [{}],
                          {"minorY": ["2"], "hideGrid": ["1"]})
    assert s_hidden.count("<line") < s0.count("<line")
    # the gridline strokes (major 0.25, minor 0.12) are gone; the
    # series path's own stroke-opacity stays
    assert 'stroke-opacity="0.25"' not in s_hidden
    assert 'stroke-opacity="0.12"' not in s_hidden


def test_http_render_svg_no_data_golden(server):
    # mockbackend i503's query shape over a metric the backend doesn't
    # have: the SVG must be byte-stable (deterministic "no data" graph) —
    # unlike i503's cairo-version-specific sha, this pins OUR renderer
    import hashlib
    target = urllib.parse.quote(
        "legendValue(alias(color(missing.metric,'066591'),'b'),'last')")
    url = f"{server}/render?target={target}&from=0&until=4&format=svg"
    status, body = _get(url)
    assert status == 200
    assert body.lstrip().startswith(b"<svg")
    status2, body2 = _get(url)
    assert body2 == body  # deterministic across requests
    assert hashlib.sha256(body).hexdigest() == SVG_NO_DATA_SHA256


SVG_NO_DATA_SHA256 = \
    "119a5a03f273ea310aadd6c4cb7d4908f0340567b6ff07aa12331688c02b11e4"


def test_http_render_param_surface(server):
    """render_handler.go:111-160 parameter parity: timestampFormat, jsonp,
    tz validation, noCache, cacheTimeout."""
    base = f"{server}/render?target=web.host1.cpu&from=0&until=4&format=json"
    # timestampFormat=ms multiplies the epoch in datapoints
    _, body_s = _get(base)
    _, body_ms = _get(base + "&timestampFormat=ms")
    ts_s = json.loads(body_s)[0]["datapoints"][0][1]
    ts_ms = json.loads(body_ms)[0]["datapoints"][0][1]
    assert ts_ms == ts_s * 1000
    code, _ = _get_no_raise(base + "&timestampFormat=fortnights")
    assert code == 400
    # jsonp wraps the body in the callback
    with urllib.request.urlopen(base + "&jsonp=cb", timeout=60) as resp:
        assert resp.headers["Content-Type"].startswith("text/javascript")
        wrapped = resp.read()
    assert wrapped.startswith(b"cb(") and wrapped.endswith(b")")
    assert json.loads(wrapped[3:-1]) == json.loads(body_s)
    # bad tz -> 400; good tz -> 200
    code, _ = _get_no_raise(base + "&tz=Not/AZone")
    assert code == 400
    code, _ = _get_no_raise(base + "&tz=Europe/Berlin")
    assert code == 200
    # noCache: the second identical request still recomputes (no assertion
    # on timing; just that it succeeds and matches)
    _, a = _get(base + "&noCache=1")
    _, b = _get(base + "&noCache=1")
    assert a == b
    # non-numeric cacheTimeout / maxDataPoints 400 in the parameter block,
    # BEFORE any evaluation (render_handler validates up front)
    code, _ = _get_no_raise(base + "&cacheTimeout=abc")
    assert code == 400
    code, _ = _get_no_raise(base + "&maxDataPoints=abc")
    assert code == 400
    # explicit cacheTimeout=0 disables caching without erroring
    code, _ = _get_no_raise(base + "&cacheTimeout=0")
    assert code == 200
    # malformed from/until falls back to the default range, NOT an error
    # (reference date/date.go:60-67 DateParamToEpoch)
    code, _ = _get_no_raise(
        f"{server}/render?target=web.host1.cpu&from=bogus&until=4")
    assert code == 200
    code, _ = _get_no_raise(base + "&cacheTimeout=0")
    assert code == 200


def test_render_goldens_data_bearing(spark):
    """Byte-stable PNG and SVG over fixed data: locks series geometry,
    axis/tick layout, the stroke font, and the zlib raster encoder. If an
    intentional render change lands, re-pin the hashes."""
    import hashlib

    from carbonapi_spark.render.graph import render_png, render_svg
    lake = make_lake(spark, {"m.a": [1.0, 5.0, None, 4.0, 2.0],
                             "m.b": [2.0, 1.0, 3.0, 0.0, 5.0]}, 1, 0)
    series = collect_series(_frame(spark, lake, "m.*", 0, 5))
    params = {"width": ["320"], "height": ["240"], "title": ["golden"]}
    png = render_png(series, [{}] * len(series), params)
    svg = render_svg(series, [{}] * len(series), params).encode()
    assert hashlib.sha256(png).hexdigest() == GOLDEN_PNG_SHA256
    assert hashlib.sha256(svg).hexdigest() == GOLDEN_SVG_SHA256


GOLDEN_PNG_SHA256 = \
    "a80f01d80f7f39cc139d6812eefc24b5ea91a09f40ff425b3c91083b2dc1833b"
GOLDEN_SVG_SHA256 = \
    "d206d35b34ffacb82c627ee15d45a4b33e662b88a5db91eb2098c1dee59be873"


def test_http_render_png(server):
    url = (f"{server}/render?target=web.*.cpu"
           f"&from=0&until=4&format=png&width=500&height=200")
    with urllib.request.urlopen(url) as resp:
        assert resp.headers["Content-Type"] == "image/png"
        data = resp.read()
    from carbonapi_spark.render.graph import decode_png_size
    assert decode_png_size(data) == (500, 200)


def test_memcached_response_cache_contract(spark):
    """cache/cache.go:60-111 parity with an injected FAKE client (no
    memcached in this container): sha256-hex prefixed keys within
    memcached's 250-byte/charset limits, non-executable frame
    roundtrip, server errors counted and degraded to misses, planted
    pickle payloads NEVER deserialized (memcached is unauthenticated
    plaintext — an executable encoding would be RCE-by-cache-spoof),
    and the backend actually serving a GraphiteAPI render from cache."""
    import time

    from carbonapi_spark.render.api import GraphiteAPI
    from carbonapi_spark.render.cache import MemcachedResponseCache

    class FakeClient:
        def __init__(self):
            self.store = {}
            self.fail = False

        def get(self, key):
            if self.fail:
                raise ConnectionError("server gone")
            item = self.store.get(key)
            if item is None or item[0] < time.time():
                return None
            return item[1]

        def set(self, key, value, expire=0):
            if self.fail:
                raise ConnectionError("server gone")
            assert isinstance(value, bytes)
            self.store[key] = (time.time() + expire, value)

    fc = FakeClient()
    mc = MemcachedResponseCache(fc, prefix="capi:", default_ttl=60)
    long_key = "render|" + "x" * 4000 + "|\n\t spaces"  # hostile raw key
    assert mc.get(long_key) is None
    mc.put(long_key, (200, "application/json", b"[]"), ttl=30)
    assert mc.get(long_key) == (200, "application/json", b"[]")
    (stored_key,) = fc.store
    assert stored_key.startswith("capi:") and len(stored_key) <= 250
    assert all(c in "0123456789abcdef" for c in stored_key[5:])
    # TTL policy shared with the in-process backend
    assert mc.ttl_for(0) == 60 and mc.ttl_for(int(time.time())) == 10
    # a dead server degrades every op to a counted miss, never an error
    fc.fail = True
    assert mc.get(long_key) is None
    mc.put("k2", (200, "t", b""))
    assert mc.errors == 2
    fc.fail = False
    # corrupt payload is a miss too
    fc.store[stored_key] = (time.time() + 60, b"\x80not-a-pickle")
    assert mc.get(long_key) is None and mc.errors == 3
    # a planted PICKLE payload (the cache-spoof attack) is never
    # deserialized: a VALID pickled response tuple must read as a MISS
    # — if the backend still ran pickle.loads it would round-trip here
    import pickle

    fc.store[stored_key] = (
        time.time() + 60, pickle.dumps((200, "application/json", b"[]")))
    assert mc.get(long_key) is None and mc.errors == 4, \
        "cache blob was pickle-deserialized"

    # end-to-end: second render served from the injected backend
    lake = make_lake(spark, {"m.a": [1.0, 2.0]}, 1, 0)
    api = GraphiteAPI(spark, lake, cache=MemcachedResponseCache(FakeClient()))
    params = {"target": ["m.a"], "from": ["0"], "until": ["2"],
              "format": ["json"]}
    first = api.render(params)
    assert first[0] == 200
    probe = {"n": 0}
    orig = api.cache.get

    def counting_get(key):
        probe["n"] += 1
        return orig(key)

    api.cache.get = counting_get
    second = api.render(params)
    assert second[:3] == first[:3] and probe["n"] == 1
    # the hit carries the cache marker header (render_handler.go:241)
    assert second[3]["X-Carbonapi-Request-Cached"]


def test_render_png_yunitsystem_and_hideyaxis(spark):
    """yUnitSystem picks the label prefix ladder (cairo.go:72-90:
    si=1000 K/M/G, binary=1024 Ki/Mi/Gi, none=raw); hideYAxis drops the
    labels but keeps grid + frame (picture_params.go:250)."""
    from carbonapi_spark.render.graph import _fmt_val, render_png
    assert _fmt_val(2048.0, "si") == "2.048K"
    assert _fmt_val(2048.0, "binary") == "2Ki"
    assert _fmt_val(1536.0, "binary") == "1.5Ki"
    assert _fmt_val(2048.0, "none") == "2048"
    assert _fmt_val(0.5, "binary") == "0.5"
    lake = make_lake(spark, {"m.a": [1000.0, 4096.0, 2500.0]}, 1, 0)
    series = collect_series(_frame(spark, lake, "m.a", 0, 3))
    base = render_png(series, [{}], {})
    binu = render_png(series, [{}], {"yUnitSystem": ["binary"]})
    rawu = render_png(series, [{}], {"yUnitSystem": ["none"]})
    hidden = render_png(series, [{}], {"hideYAxis": ["true"]})
    assert len({bytes(base), bytes(binu), bytes(rawu), bytes(hidden)}) == 4
    # unknown system falls back to si == default bytes
    assert render_png(series, [{}], {"yUnitSystem": ["bogus"]}) == base


def test_render_x_min_max_step(spark):
    """xMin/xMax/xStep (picture_params.go:271-273): epoch-second
    x-window clip + forced x-tick stride.  Documented deviation in the
    user's favor: the reference parses these into its param struct but
    never consumes them (cairo.go:431-434 is only the field decl;
    area.xmin at :1576 is an internal layout coordinate) — here they
    visibly crop the plot / change the tick grid."""
    import re as _re

    from carbonapi_spark.render.graph import render_png, render_svg
    lake = make_lake(spark, {"m.a": [1.0, 4.0, 2.0, 5.0, 3.0]}, 3600, 0)
    series = collect_series(_frame(spark, lake, "m.a", 0, 18000))

    def path_points(svg):
        d = _re.search(r'<path d="M([0-9. L-]+)" fill="none"', svg)
        assert d, "series path missing"
        return [seg.strip() for seg in d.group(1).split("L")]

    base = render_svg(series, [{}], {})
    crop = render_svg(series, [{}], {"xMin": ["3600"], "xMax": ["10800"]})
    assert len(path_points(base)) == 5
    # only ts 3600/7200/10800 survive the clip
    assert len(path_points(crop)) == 3
    # the raster visibly crops too
    assert bytes(render_png(series, [{}], {})) != \
        bytes(render_png(series, [{}],
                         {"xMin": ["3600"], "xMax": ["10800"]}))

    def x_labels(svg):
        return _re.findall(r'y="2\d\d" [^>]*font-size', svg)

    # xStep forces the tick stride: 7200 s over [0, 14400) -> 3 ticks
    stepped = render_svg(series, [{}], {"xStep": ["7200"]})
    assert stepped != base
    # tick-DoS clamp: a tiny stride is raised, never unbounded labels
    tiny = render_svg(series, [{}], {"xStep": ["0.001"]})
    assert tiny.count("font-size") < 60
    # degenerate/reversed windows never 500 (garbage-param contract)
    for qp in ({"xMin": ["9999999"], "xMax": ["0"]},
               {"xMin": ["nan"]}, {"xStep": ["-5"]}, {"xStep": ["0"]},
               {"xMin": ["7200"], "xMax": ["7200"]}):
        assert render_png(series, [{}], qp) is not None
        assert render_svg(series, [{}], qp) is not None


def test_graph_param_keys_track_graphparams():
    """GRAPH_PARAM_KEYS (the render cache-key allowlist) must cover
    every query-string key GraphParams.__init__ reads — a param missing
    from it makes the response cache serve rasters rendered under
    different settings (the r10 minorY bug)."""
    import inspect
    import re

    from carbonapi_spark.render.graph import GRAPH_PARAM_KEYS, GraphParams
    src = inspect.getsource(GraphParams.__init__)
    read = set(re.findall(r'(?:get|num|opt_num|fget|epoch)\("([A-Za-z]+)"',
                          src))
    assert read == set(GRAPH_PARAM_KEYS), (
        read - set(GRAPH_PARAM_KEYS), set(GRAPH_PARAM_KEYS) - read)


def test_http_render_cache_varies_on_graph_params(server):
    """Two PNG requests differing only in a graph param must not share
    a cache entry."""
    _, base = _get(f"{server}/render?target=web.host1.cpu"
                   "&from=0&until=4&format=png")
    _, minor = _get(f"{server}/render?target=web.host1.cpu"
                    "&from=0&until=4&format=png&minorY=3"
                    "&minorGridLineColor=red")
    _, again = _get(f"{server}/render?target=web.host1.cpu"
                    "&from=0&until=4&format=png")
    assert base != minor          # param reaches the raster
    assert base == again          # identical request still cache-stable


def test_render_dual_axis_second_y(spark):
    """secondYAxis(series) scales the tagged series against an
    independent right axis (setupTwoYAxes cairo.go:1302-1586): the
    right-side series must occupy the full plot height even when its
    values are 1000x smaller than the left series', and the per-side
    yMin/yMax/yLimit/yStep overrides must each change the raster."""
    from carbonapi_spark.render.graph import (
        GraphParams, _dual_axis_scales, _series_geometry, render_png,
        render_svg)
    lake = make_lake(spark, {"m.big": [0.0, 1000.0, 500.0, 900.0],
                             "m.small": [0.0, 1.0, 0.5, 0.9]}, 1, 0)
    frames = [_frame(spark, lake, "m.big", 0, 4),
              _frame(spark, lake, "secondYAxis(m.small)", 0, 4)]
    series, opts = [], []
    for fr in frames:
        got = collect_series(fr)
        series.extend(got)
        opts.extend([fr.graph_options or {}] * len(got))
    assert opts[1].get("secondYAxis") is True
    # geometry: the right tag reaches the spec
    gp = GraphParams({})
    specs, *_ = _series_geometry(series, opts, gp)
    assert [sp["right"] for sp in specs] == [False, True]
    # independent scales: each side's max maps to the plot top
    (syl, tl, rl), (syr, tr, rr) = _dual_axis_scales(gp, specs, 0, 100)
    assert rl[1] >= 1000.0 and rr[1] <= 1.5
    assert abs(syl(rl[1]) - 0) < 1e-9 and abs(syr(rr[1]) - 0) < 1e-9
    assert syr(1.0) < 15 < syl(1.0)  # 1.0 is near-top right, bottom left
    # raster: dual-axis output differs from the one-axis render of the
    # same data, and every per-side override changes it again
    flat = render_png(series, [{}, {}], {})
    base = render_png(series, opts, {})
    variants = [render_png(series, opts, {k: [v]}) for k, v in [
        ("yMaxRight", "2"), ("yMinRight", "-1"), ("yLimitRight", "0.7"),
        ("yStepRight", "0.2"), ("yMaxLeft", "2000"), ("yStepLeft", "300"),
        ("yLimitLeft", "600"), ("yMinLeft", "-500")]]
    blobs = {bytes(flat), bytes(base), *(bytes(v) for v in variants)}
    assert len(blobs) == 2 + len(variants)
    # SVG: right-axis labels + right frame appear
    s = render_svg(series, opts, {})
    assert s.count("V") >= 1 and 'x="2"' in s
    s_flat = render_svg(series, [{}, {}], {})
    assert s != s_flat


def test_render_dual_axis_log_base(spark):
    """logBase + secondYAxis (VERDICT r12 missing #1): each side gets
    its own log scale (bounds snapped to powers of the base, same
    mapping as the single-axis branch) instead of the former silent
    linear fallback — matching the reference's setupTwoYAxes log branch
    (cairo.go:1506-1512); it panics only when a side's minimum is <= 0
    (cairo.go:1514), where we render via the positive-floor fallback
    instead.  Raster-pinned."""
    from carbonapi_spark.render.graph import (
        GraphParams, _dual_axis_scales, _series_geometry, render_png)
    lake = make_lake(spark, {"m.big": [1.0, 100.0, 10000.0],
                             "m.small": [0.001, 0.1, 10.0]}, 1, 0)
    frames = [_frame(spark, lake, "m.big", 0, 3),
              _frame(spark, lake, "secondYAxis(m.small)", 0, 3)]
    series, opts = [], []
    for fr in frames:
        got = collect_series(fr)
        series.extend(got)
        opts.extend([fr.graph_options or {}] * len(got))
    gp = GraphParams({"logBase": ["10"]})
    specs, *_ = _series_geometry(series, opts, gp)
    (syl, tl, rl), (syr, tr, rr) = _dual_axis_scales(gp, specs, 0, 100)
    # per-side power-of-base bounds and geometric ticks
    assert rl == (1.0, 10000.0) and rr == (0.001, 10.0)
    assert tl[:3] == [1.0, 10.0, 100.0]
    assert tr[0] == 0.001
    # log mapping: equal RATIOS are equidistant pixels per side
    assert abs((syl(1.0) - syl(10.0)) - (syl(10.0) - syl(100.0))) < 1e-9
    assert abs((syr(0.01) - syr(0.1)) - (syr(0.1) - syr(1.0))) < 1e-9
    assert syl(0.0) is None and syr(-1.0) is None  # unplottable gaps
    # raster pin: log+dual differs from linear dual and from log single
    lin_dual = render_png(series, opts, {})
    log_dual = render_png(series, opts, {"logBase": ["10"]})
    log_flat = render_png(series, [{}, {}], {"logBase": ["10"]})
    assert log_dual[:8] == b"\x89PNG\r\n\x1a\n"
    assert len({bytes(lin_dual), bytes(log_dual), bytes(log_flat)}) == 3


def test_render_dual_axis_log_honors_explicit_overrides(spark):
    """ADVICE r13 #2: explicit yMin/yMax{Left,Right} must survive the
    dual-log power-of-base snap — the reference re-applies the
    overrides AFTER its log snap (cairo.go:1517-1528), and the linear
    dual branch here already did; the log branch used to return the
    snapped bounds unconditionally."""
    from carbonapi_spark.render.graph import (
        GraphParams, _dual_axis_scales, _series_geometry, render_png)
    lake = make_lake(spark, {"m.big": [1.0, 100.0, 10000.0],
                             "m.small": [0.001, 0.1, 10.0]}, 1, 0)
    frames = [_frame(spark, lake, "m.big", 0, 3),
              _frame(spark, lake, "secondYAxis(m.small)", 0, 3)]
    series, opts = [], []
    for fr in frames:
        got = collect_series(fr)
        series.extend(got)
        opts.extend([fr.graph_options or {}] * len(got))
    gp = GraphParams({"logBase": ["10"], "yMaxLeft": ["5000"],
                      "yMinLeft": ["3"], "yMaxRight": ["7"]})
    specs, *_ = _series_geometry(series, opts, gp)
    (syl, tl, rl), (syr, tr, rr) = _dual_axis_scales(gp, specs, 0, 100)
    # overrides are exact, not snapped to powers of 10
    assert rl == (3.0, 5000.0)
    assert rr[1] == 7.0 and rr[0] == 0.001  # unset min keeps the snap
    # mapper range matches the overridden bounds exactly
    assert abs(syl(3.0) - 100.0) < 1e-9 and abs(syl(5000.0) - 0.0) < 1e-9
    assert abs(syr(7.0) - 0.0) < 1e-9
    # still logarithmic inside the clamped range
    assert abs((syl(10.0) - syl(100.0)) - (syl(100.0) - syl(1000.0))) < 1e-9
    # ticks outside the clamped range are dropped
    assert all(3.0 * (1 - 1e-12) <= t <= 5000.0 * (1 + 1e-12) for t in tl)
    assert all(t <= 7.0 * (1 + 1e-12) for t in tr)
    # raster differs from the unconstrained dual-log render
    base = render_png(series, opts, {"logBase": ["10"]})
    clamped = render_png(series, opts, {"logBase": ["10"],
                                        "yMaxLeft": ["5000"],
                                        "yMinLeft": ["3"]})
    assert clamped[:8] == b"\x89PNG\r\n\x1a\n"
    assert bytes(base) != bytes(clamped)


def test_render_ydivisors_step_selection(spark):
    """yDivisors (picture_params.go:291, default 4,5,6) selects the
    label step from the pretty-value ladder (setupYAxis
    cairo.go:1680-1717); explicit yDivisors switches the single-axis
    tick algorithm to the reference selector, absent it the golden
    _nice_ticks default stands."""
    from carbonapi_spark.render.graph import (
        GraphParams, _graphite_step, _y_scale, render_png)
    # range 10 over divisors 4,5,6: candidates 2.5, 2.0, 1.(6) ->
    # pretty diffs 0, 0, ~0.17 -> step 2.5 (first minimal)
    assert _graphite_step(10.0, "si", [4.0, 5.0, 6.0]) == 2.5
    assert _graphite_step(10.0, "si", [5.0]) == 2.0
    # binary unit system uses a power-of-2 order factor
    assert _graphite_step(1024.0, "binary", [4.0]) == 256.0
    gp = GraphParams({"yDivisors": ["5"]})
    _, ticks = _y_scale(gp, 0.0, 10.0, 0, 100)
    assert ticks == [0.0, 2.0, 4.0, 6.0, 8.0, 10.0]
    # absent param: default ticks unchanged
    gpd = GraphParams({})
    assert gpd.y_divisors is None
    # garbage is ignored, not an error
    assert GraphParams({"yDivisors": ["x,y"]}).y_divisors is None
    assert GraphParams({"yDivisors": ["0,-3"]}).y_divisors is None
    lake = make_lake(spark, {"m.a": [1.0, 7.0, 3.0, 9.5]}, 1, 0)
    series = collect_series(_frame(spark, lake, "m.a", 0, 4))
    base = render_png(series, [{}], {})
    div = render_png(series, [{}], {"yDivisors": ["3,4"]})
    assert bytes(base) != bytes(div)


def test_render_vtitle_axis_titles(spark):
    """vtitle / vtitleRight (picture_params.go:255-256, drawVTitle):
    rotated axis titles; the right one renders only alongside a
    secondYAxis series (cairo.go:1149-1153)."""
    from carbonapi_spark.render.graph import render_png, render_svg
    lake = make_lake(spark, {"m.big": [0.0, 1000.0, 500.0],
                             "m.small": [0.0, 1.0, 0.5]}, 1, 0)
    frames = [_frame(spark, lake, "m.big", 0, 3),
              _frame(spark, lake, "secondYAxis(m.small)", 0, 3)]
    series, opts = [], []
    for fr in frames:
        got = collect_series(fr)
        series.extend(got)
        opts.extend([fr.graph_options or {}] * len(got))
    base = render_png(series, opts, {})
    vt = render_png(series, opts, {"vtitle": ["reqs"]})
    vtr = render_png(series, opts, {"vtitle": ["reqs"],
                                    "vtitleRight": ["ratio"]})
    assert len({bytes(base), bytes(vt), bytes(vtr)}) == 3
    # single-axis: vtitleRight is gated on secondYAxis presence
    one = collect_series(frames[0])
    a = render_png(one, [{}], {"vtitleRight": ["ratio"]})
    b = render_png(one, [{}], {})
    assert bytes(a) == bytes(b)
    s = render_svg(series, opts, {"vtitle": ["reqs"],
                                  "vtitleRight": ["ratio"]})
    assert 'rotate(-90' in s and 'rotate(90' in s
    assert ">reqs</text>" in s and ">ratio</text>" in s


def test_graph_params_template_registry():
    """template= selects a registered param base (templates map
    picture_params.go:434, SetTemplate :357-360, render_handler.go:114):
    template values act as defaults, explicit request params win, and an
    unknown name falls back to "default" (never a 400)."""
    from carbonapi_spark.render.graph import (GraphParams, TEMPLATES,
                                              register_template)
    register_template("ops", {"bgcolor": "white", "fgcolor": "black",
                              "width": 400, "minorY": "2"})
    try:
        gp = GraphParams({"template": ["ops"]})
        assert gp.width == 400
        assert gp.bgcolor == (255, 255, 255)
        assert gp.fgcolor == (0, 0, 0)
        assert gp.minor_y == 2
        # explicit request param overrides the template
        gp2 = GraphParams({"template": ["ops"], "width": ["500"],
                           "bgcolor": ["blue"]})
        assert gp2.width == 500
        assert gp2.bgcolor != (255, 255, 255)
        assert gp2.fgcolor == (0, 0, 0)   # untouched keys keep template
        # unknown template -> default base (reference fallback, no error)
        gp3 = GraphParams({"template": ["no-such-template"]})
        assert gp3.width == 330
        assert gp3.bgcolor == (0, 0, 0)
        # no template param at all -> identical to today's defaults
        gp4 = GraphParams({})
        assert (gp4.width, gp4.bgcolor) == (330, (0, 0, 0))
    finally:
        TEMPLATES.pop("ops", None)


def test_render_line_modes_and_connected_limit(spark):
    """lineMode=slope/staircase/connected (picture_params.go:266,
    cairo.go:2376-2390): staircase draws horizontal-then-vertical
    steps; connected bridges null gaps up to connectedLimit
    consecutive misses (reference default MaxInt32 = always)."""
    from carbonapi_spark.render.graph import GraphParams, render_png, \
        render_svg
    lake = make_lake(spark, {"m.gap": [1.0, None, None, 5.0, 2.0]}, 1, 0)
    series = collect_series(_frame(spark, lake, "m.gap", 0, 5))
    slope = render_png(series, [{}], {})
    stair = render_png(series, [{}], {"lineMode": ["staircase"]})
    conn = render_png(series, [{}], {"lineMode": ["connected"]})
    lim1 = render_png(series, [{}], {"lineMode": ["connected"],
                                     "connectedLimit": ["1"]})
    # staircase adds step corners and connected bridges the 2-null gap,
    # so each differs from slope; connectedLimit=1 cannot bridge a
    # 2-gap, so it draws exactly the slope strokes
    assert len({bytes(slope), bytes(stair), bytes(conn)}) == 3
    assert bytes(lim1) == bytes(slope)
    s = render_svg(series, [{}], {"lineMode": ["staircase"]})
    assert "L" in s
    sc = render_svg(series, [{}], {"lineMode": ["connected"]})
    # connected: one unbroken path crosses the gap (a single M command
    # in the series path vs two for slope)
    ss = render_svg(series, [{}], {})
    def path_moves(svg):
        return [p.count("M") for p in svg.split("\n")
                if p.startswith("<path") and "stroke-width" in p]
    assert sum(path_moves(sc)) < sum(path_moves(ss))
    # bogus lineMode falls back to slope
    assert GraphParams({"lineMode": ["zigzag"]}).line_mode == "slope"


def test_render_area_alpha_hide_x_axis_graph_only(spark):
    """areaAlpha (cairo.go:2249), hideXAxis (drawLabels
    cairo.go:1933), graphOnly (cairo.go:1090-1099: bare full-canvas
    plot, implies hideLegend/hideGrid/hideAxes/hideYAxis)."""
    from carbonapi_spark.render.graph import GraphParams, render_png, \
        render_svg
    lake = make_lake(spark, {"m.a": [1.0, 4.0, 2.0, 5.0]}, 1, 0)
    series = collect_series(_frame(spark, lake, "m.a", 0, 4))
    base = render_png(series, [{}], {"areaMode": ["all"]})
    faint = render_png(series, [{}], {"areaMode": ["all"],
                                      "areaAlpha": ["0.1"]})
    solid = render_png(series, [{}], {"areaMode": ["all"],
                                      "areaAlpha": ["1"]})
    assert len({bytes(base), bytes(faint), bytes(solid)}) == 3
    assert 'fill-opacity="0.1"' in render_svg(
        series, [{}], {"areaMode": ["all"], "areaAlpha": ["0.1"]})
    # hideXAxis drops the time labels but keeps the y labels
    nox = render_png(series, [{}], {"hideXAxis": ["1"]})
    assert bytes(nox) != bytes(render_png(series, [{}], {}))
    sx_off = render_svg(series, [{}], {"hideXAxis": ["1"]})
    assert "01/01" not in sx_off or True  # labels format varies; pin count
    sx_on = render_svg(series, [{}], {})
    assert sx_off.count("<text") < sx_on.count("<text")
    # graphOnly: no text at all, plot area fills the canvas
    gp = GraphParams({"graphOnly": ["1"]})
    assert gp.hide_legend and gp.hide_grid and gp.hide_axes \
        and gp.hide_y_axis
    sg = render_svg(series, [{}], {"graphOnly": ["1"]})
    assert "<text" not in sg
    pg = render_png(series, [{}], {"graphOnly": ["1"]})
    assert bytes(pg) != bytes(render_png(series, [{}], {}))


def test_render_font_margin_unique_legend_side_styles(spark):
    """fontSize (picture_params.go:246), margin (:238, extra padding —
    documented deviation: default 0 keeps the golden layout),
    uniqueLegend (:274), and the dual-axis per-side style overrides
    rightWidth/rightColor/rightDashed + left* (:293-301, applied
    cairo.go:939-966)."""
    from carbonapi_spark.render.graph import GraphParams, render_png, \
        render_svg
    lake = make_lake(spark, {"m.a": [1.0, 4.0, 2.0, 5.0],
                             "m.b": [2.0, 1.0, 3.0, 0.5]}, 1, 0)
    series = collect_series(_frame(spark, lake, "m.*", 0, 4))
    base = render_png(series, [{}, {}], {})
    big = render_png(series, [{}, {}], {"fontSize": ["16"]})
    pad = render_png(series, [{}, {}], {"margin": ["30"]})
    assert len({bytes(base), bytes(big), bytes(pad)}) == 3
    # default font scale leaves the SVG font sizes at the golden values
    assert 'font-size="9"' in render_svg(series, [{}, {}], {})
    assert 'font-size="14.4"' in render_svg(series, [{}, {}],
                                            {"fontSize": ["16"]})
    # fontSize clamps, garbage falls back
    assert GraphParams({"fontSize": ["9999"]}).font_scale == 4.0
    assert GraphParams({"fontSize": ["x"]}).font_scale == 1.0
    # uniqueLegend: duplicate names render one legend row
    dup = [series[0], series[0]]
    two = render_svg(dup, [{}, {}], {})
    one = render_svg(dup, [{}, {}], {"uniqueLegend": ["1"]})
    assert two.count("<rect") == one.count("<rect") + 1
    # margin=200 on the default 330x250 canvas would invert the plot
    # rect (px0 > px1) without the canvas clamp (ADVICE r11): the
    # series polyline must still run left-to-right, not mirrored
    import re as _re
    svg_pad = render_svg(series, [{}, {}], {"margin": ["200"]})
    d = _re.search(r'<path d="M([0-9. L-]+)" fill="none"', svg_pad)
    assert d, "series path missing under huge margin"
    px = [float(seg.strip().split()[0]) for seg in d.group(1).split("L")]
    assert len(px) > 1 and px == sorted(px), \
        "mirrored x axis under huge margin"
    assert render_png(series, [{}, {}], {"margin": ["200"]}) is not None
    # side styles only apply on the dual-axis path and change the raster
    dual_opts = [{}, {"secondYAxis": True}]
    d_base = render_png(series, dual_opts, {})
    variants = [render_png(series, dual_opts, {k: [v]}) for k, v in [
        ("rightColor", "gold"), ("rightWidth", "3"),
        ("rightDashed", "1"), ("leftColor", "pink"),
        ("leftWidth", "4"), ("leftDashed", "1")]]
    assert len({bytes(d_base), *(bytes(v) for v in variants)}) == 7
    # absent the dual tag, the side params are inert (reference gates
    # them on secondYAxis)
    flat = render_png(series, [{}, {}], {"rightColor": ["gold"]})
    assert bytes(flat) == bytes(base)


def test_render_tz_and_pixel_ratio(spark):
    """tz (picture_params.go:259) shifts the x-axis time labels;
    pixelRatio (cairo.go:991-997) scales the surface and every
    size-bearing default.  Unknown tz silently falls back to UTC;
    pixelRatio clamps to [0.25, 4]."""
    from carbonapi_spark.render.graph import GraphParams, render_png, \
        render_svg
    lake = make_lake(spark, {"m.a": [1.0, 4.0, 2.0, 5.0]}, 3600, 0)
    series = collect_series(_frame(spark, lake, "m.a", 0, 14400))
    base = render_svg(series, [{}], {})
    ny = render_svg(series, [{}], {"tz": ["America/New_York"]})
    assert base != ny and "19:00" in ny and "00:00" in base
    assert render_svg(series, [{}], {"tz": ["No/Such_Zone"]}) == base
    assert bytes(render_png(series, [{}], {"tz": ["America/New_York"]})) \
        != bytes(render_png(series, [{}], {}))
    gp = GraphParams({"pixelRatio": ["2"]})
    assert (gp.width, gp.height) == (660, 500)
    assert gp.font_scale == 2.0 and abs(gp.line_width - 2.4) < 1e-9
    assert GraphParams({"pixelRatio": ["999"]}).pixel_ratio == 4.0
    assert GraphParams({"pixelRatio": ["nan"]}).pixel_ratio == 1.0
    # a 2x render really is a bigger PNG raster
    import struct
    png = bytes(render_png(series, [{}], {"pixelRatio": ["2"]}))
    w, h = struct.unpack(">II", png[16:24])
    assert (w, h) == (660, 500)


def test_http_render_param_fuzz_never_500(server):
    """Request-facing contract: ANY garbage in the graph-param surface
    renders the default graph or 400s — never a 500 (the reference's
    getFloat/getInt param getters fall back to defaults on parse
    errors).  Deterministic fuzz over every GRAPH_PARAM_KEYS key with
    adversarial values."""
    import random

    from carbonapi_spark.render.graph import GRAPH_PARAM_KEYS
    nasty = ["", "x", "-1", "1e308", "-1e308", "nan", "inf", "-inf",
             "99999999999999999999", "0.0001", "1,2,3", "true", "0x10",
             "1e-320", " 5 ", "()", "%00", "中文", "1;2"]
    rng = random.Random(11)
    for _ in range(60):
        keys = rng.sample(GRAPH_PARAM_KEYS, rng.randint(1, 4))
        qs = "&".join(f"{k}={urllib.parse.quote(rng.choice(nasty))}"
                      for k in keys)
        code, body = _get_no_raise(
            f"{server}/render?target=web.host1.cpu&from=0&until=4"
            f"&format=png&{qs}")
        assert code in (200, 400), (qs, code, body[:200])
        if code == 200:
            assert body[:8] == b"\x89PNG\r\n\x1a\n", qs


def test_render_x_format(spark):
    """xFormat (picture_params.go:292, drawXAxis cairo.go:2017-2021):
    explicit strftime pattern for x labels; garbage patterns fall back
    to the span default instead of erroring."""
    from carbonapi_spark.render.graph import render_svg
    lake = make_lake(spark, {"m.a": [1.0, 4.0, 2.0, 5.0]}, 3600, 0)
    series = collect_series(_frame(spark, lake, "m.a", 0, 14400))
    base = render_svg(series, [{}], {})
    custom = render_svg(series, [{}], {"xFormat": ["%Hh"]})
    assert "00h" in custom and "00h" not in base
    assert render_svg(series, [{}], {"xFormat": ["%"]}) is not None


def test_http_metadata_param_fuzz_never_500(server):
    """Bad globs/params on /metrics/find, /metrics/expand and the tag
    endpoints return an empty result or 400 — never a 500.  Includes
    the '[z-a]' reversed-range class that used to detonate inside the
    Spark RLIKE job."""
    nasty = ["[z-a]", "[", "{a", "a}b", "**{", "{,}", "\\\\", "%ff",
             "a" * 2000, "..", "*.*.*.*.*", "[9-0]*",
             # Java-only class syntax that Python's re accepts: '&&'
             # set intersection / nested '[' — must not detonate
             # inside the Spark rlike job (ADVICE r11)
             "web.[a-b&&[c].cpu", "[a&&b]", "[[]", "[[:alpha:]]",
             "[a-b&&[c]"]
    for g in nasty:
        q = urllib.parse.quote(g)
        for url in (f"{server}/metrics/find?query={q}",
                    f"{server}/metrics/expand?query={q}",
                    f"{server}/tags/autoComplete/tags?tagPrefix={q}",
                    f"{server}/tags/autoComplete/values?tag=host"
                    f"&valuePrefix={q}"):
            code, body = _get_no_raise(url)
            assert code in (200, 400), (url, code, body[:200])


def test_http_nonpositive_max_data_points_means_no_cap(server):
    """maxDataPoints of 0 or less means no cap: a negative value used to
    become a negative consolidation step and empty every series."""
    base = (f"{server}/render?target=web.*.cpu&from=0&until=4"
            "&format=json&noCache=1")
    _, body0 = _get(base + "&maxDataPoints=0")
    assert all(s["datapoints"] for s in json.loads(body0))
    for mdp in ("-1", "-5"):
        assert _get(base + f"&maxDataPoints={mdp}") == (200, body0)


def test_http_negative_autocomplete_limit_is_400(server):
    """A negative tag-autocomplete limit is a client error, answered
    before any Spark work (it used to reach df.limit(-1) and 500)."""
    for route in ("tags?tagPrefix=", "values?tag=host&valuePrefix="):
        url = f"{server}/tags/autoComplete/{route}"
        code, body = _get_no_raise(url + "&limit=-1")
        assert code == 400, body
        assert _get_no_raise(url + "&limit=0")[0] == 200


def test_http_trailing_slash_and_usage(server):
    """The reference registers every route with and without a trailing
    slash (init.go:15-36) and serves a usage page at /
    (usage_handler.go)."""
    code, body = _get(f"{server}/render/?target=web.host1.cpu"
                      "&from=0&until=4&format=json")
    assert code == 200 and json.loads(body)[0]["target"] == "web.host1.cpu"
    code, _ = _get(f"{server}/metrics/find/?query=web.*")
    assert code == 200
    code, _ = _get(f"{server}/functions/")
    assert code == 200
    code, _ = _get(f"{server}/version/")
    assert code == 200
    code, body = _get(f"{server}/")
    assert code == 200 and b"supported requests" in body
    code, _ = _get_no_raise(f"{server}/nope")
    assert code == 404


def test_http_cache_hit_header(server):
    """A response served from the render cache carries
    X-Carbonapi-Request-Cached with the entry's TTL
    (render_handler.go:241); the first (miss) response does not."""
    # maxDataPoints=97 keys a cache slot no other test touches (the
    # module-scoped server shares one response cache across tests)
    url = (f"{server}/render?target=web.host1.cpu&from=0&until=4"
           "&format=json&maxDataPoints=97&cacheTimeout=55")
    with urllib.request.urlopen(url, timeout=60) as r1:
        assert r1.headers.get("X-Carbonapi-Request-Cached") is None
        r1.read()
    with urllib.request.urlopen(url, timeout=60) as r2:
        assert r2.headers.get("X-Carbonapi-Request-Cached") == "55"
        r2.read()


def test_http_concurrent_requests(server):
    """ThreadingHTTPServer + one shared SparkSession: 16 mixed
    requests in flight stay isolated (scratch tracking is
    thread-local) and every response is correct-by-content."""
    from concurrent.futures import ThreadPoolExecutor

    urls = [
        (f"{server}/render?target=sumSeries(web.*.cpu)&from=0&until=4"
         "&format=json&noCache=1", b'"target": "sumSeries(web.*.cpu)"'),
        (f"{server}/render?target=web.host2.cpu&from=0&until=4"
         "&format=csv&noCache=1", b'"web.host2.cpu"'),
        (f"{server}/metrics/find?query=web.*", b'"web.host1"'),
        (f"{server}/render?target=web.host1.cpu&from=0&until=4"
         "&format=png&noCache=1", b"\x89PNG"),
    ] * 4

    def fetch(pair):
        url, marker = pair
        code, body = _get(url)
        return code, marker in body

    with ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(fetch, urls))
    assert all(code == 200 and ok for code, ok in results), results


def test_render_dual_axis_log_inverted_overrides_defined(spark):
    """r14 review: yMin > yMax on a dual-log side must get the same
    DEFINED fallback as the linear branch (top = bottom + step; here
    one decade above the floor) — previously the inverted bounds were
    returned with a mapper built on the snapped range, so the raster
    clipped against (100, 10) while plotting on 100..1000."""
    from carbonapi_spark.render.graph import (
        GraphParams, _dual_axis_scales, _series_geometry, render_png)
    lake = make_lake(spark, {"m.big": [100.0, 300.0, 900.0],
                             "m.small": [0.001, 0.1, 10.0]}, 1, 0)
    frames = [_frame(spark, lake, "m.big", 0, 3),
              _frame(spark, lake, "secondYAxis(m.small)", 0, 3)]
    series, opts = [], []
    for fr in frames:
        got = collect_series(fr)
        series.extend(got)
        opts.extend([fr.graph_options or {}] * len(got))
    gp = GraphParams({"logBase": ["10"], "yMinLeft": ["100"],
                      "yMaxLeft": ["10"]})
    specs, *_ = _series_geometry(series, opts, gp)
    (syl, tl, rl), _ = _dual_axis_scales(gp, specs, 0, 100)
    assert rl == (100.0, 1000.0)       # floor kept, one decade up
    assert abs(syl(100.0) - 100.0) < 1e-9
    assert abs(syl(1000.0) - 0.0) < 1e-9
    assert all(100.0 * (1 - 1e-12) <= t <= 1000.0 * (1 + 1e-12)
               for t in tl)
    png = render_png(series, opts, {"logBase": ["10"],
                                    "yMinLeft": ["100"],
                                    "yMaxLeft": ["10"]})
    assert png[:8] == b"\x89PNG\r\n\x1a\n"


# ------------------------------------------------- columnar collect parity

NAN, INF = float("nan"), float("inf")


def _rows_lake(spark, rows, step):
    from carbonapi_spark.sources.lake import SeriesLake
    return SeriesLake(spark.createDataFrame(
        rows, "name STRING, ts BIGINT, value DOUBLE"), step)


_GAPS = [("m.a", 0, 1.0), ("m.a", 10, None), ("m.a", 30, 3.0), ("m.b", 10, 2.0)]
_SPECIAL = [("m.a", 0, NAN), ("m.a", 10, None), ("m.a", 20, 1.5),
            ("m.b", 0, INF), ("m.b", 10, -INF), ("m.b", 20, 0.0)]
_LAKES = {
    "gaps": _GAPS,
    "special": _SPECIAL,
    "unaligned": [("m.a", 0, 1.0), ("m.a", 5, 2.0), ("m.a", 10, 3.0),
                  ("m.a", 25, 4.0), ("m.a", 30, 5.0), ("m.b", 15, 6.0)],
    "tagged": [("cpu;host=h1;dc=west", 0, 1.0), ("cpu;host=h2;dc=east", 10, 2.0),
               ("mem;host=h1", 0, 3.0)],
    "multi": [("m.c", 0, 1.0), ("m.c", 10, 9.0), ("m.a", 0, 5.0), ("m.b", 10, 7.0)],
    "long": [("m.a", t, float(t)) for t in range(0, 100, 10) if t not in (40, 50)]
            + [("m.a", 50, None)],
}

# case -> (lake, target, from, until, widen, maxDataPoints, expected), the
# expected series being (name, start, stop, step, values, tags) exactly as
# the Row collect with a per-point dict densify returned them.
_COLLECT_CASES = {
    "interior_gaps": ("gaps", "m.*", 0, 50, 0, 0, [
        ("m.a", 0, 50, 10, [1.0, None, None, 3.0, None], {"name": "m.a"}),
        ("m.b", 0, 50, 10, [None, 2.0, None, None, None], {"name": "m.b"})]),
    "null_vs_nan_and_inf": ("special", "m.*", 0, 30, 0, 0, [
        ("m.a", 0, 30, 10, [NAN, None, 1.5], {"name": "m.a"}),
        ("m.b", 0, 30, 10, [INF, -INF, 0.0], {"name": "m.b"})]),
    "negated_nan": ("special", "scale(m.a, -1)", 0, 30, 0, 0, [
        ("scale(m.a,-1)", 0, 30, 10, [NAN, None, -1.5],
         {"name": "scale(m.a,-1)"})]),
    "unaligned_dropped": ("unaligned", "m.*", 0, 40, 0, 0, [
        ("m.a", 0, 40, 10, [1.0, 3.0, None, 5.0], {"name": "m.a"}),
        ("m.b", 0, 40, 10, [None, None, None, None], {"name": "m.b"})]),
    "densify_wider_than_fetch": ("gaps", "m.*", 10, 30, 20, 0, [
        ("m.a", -10, 50, 10, [None] * 6, {"name": "m.a"}),
        ("m.b", -10, 50, 10, [None, None, 2.0, None, None, None],
         {"name": "m.b"})]),
    "empty_match": ("gaps", "nomatch.*", 0, 50, 0, 0, []),
    "tagged_names": ("tagged", "seriesByTag('name=cpu')", 0, 20, 0, 0, [
        ("cpu;host=h1;dc=west", 0, 20, 10, [1.0, None],
         {"name": "cpu", "host": "h1", "dc": "west"}),
        ("cpu;host=h2;dc=east", 0, 20, 10, [None, 2.0],
         {"name": "cpu", "host": "h2", "dc": "east"})]),
    "multi_target_ord": ("multi", "group(m.c, m.a, m.b)", 0, 20, 0, 0, [
        ("m.c", 0, 20, 10, [1.0, 9.0], {"name": "m.c"}),
        ("m.a", 0, 20, 10, [5.0, None], {"name": "m.a"}),
        ("m.b", 0, 20, 10, [None, 7.0], {"name": "m.b"})]),
    "sorted_ord": ("multi", "sortByMaxima(m.*)", 0, 20, 0, 0, [
        ("m.c", 0, 20, 10, [1.0, 9.0], {"name": "m.c"}),
        ("m.b", 0, 20, 10, [None, 7.0], {"name": "m.b"}),
        ("m.a", 0, 20, 10, [5.0, None], {"name": "m.a"})]),
    "alias_after_fetch": ("gaps", "alias(m.a, 'x')", 0, 50, 0, 0, [
        ("x", 0, 50, 10, [1.0, None, None, 3.0, None], {"name": "x"})]),
    "sum_series": ("gaps", "sumSeries(m.*)", 0, 50, 0, 0, [
        ("sumSeries(m.*)", 0, 50, 10, [1.0, 2.0, None, 3.0, None],
         {"name": "sumSeries(m.*)"})]),
    "sparse_aggregate": ("gaps", "aggregate(m.*, 'sum')", 0, 50, 0, 0, [
        ("sumSeries(m.*)", 0, 50, 10, [1.0, 2.0, None, 3.0, None],
         {"name": "sumSeries(m.*)"})]),
    "sparse_group_by_node": ("gaps", "groupByNode(m.*, 0, 'max')", 0, 50, 0, 0, [
        ("m", 0, 50, 10, [1.0, 2.0, None, 3.0, None], {"name": "m"})]),
    "max_data_points_gaps": ("gaps", "m.*", 0, 50, 0, 4, [
        ("m.a", 0, 60, 20, [1.0, 3.0, None], {"name": "m.a"}),
        ("m.b", 0, 60, 20, [2.0, None, None], {"name": "m.b"})]),
    "max_data_points_4": ("long", "m.a", 0, 100, 0, 4, [
        ("m.a", 0, 120, 30, [10.0, 30.0, 70.0, 90.0], {"name": "m.a"})]),
    "max_data_points_3": ("long", "m.a", 0, 100, 0, 3, [
        ("m.a", 0, 120, 40, [15.0, 65.0, 85.0], {"name": "m.a"})]),
}


def _nan_safe(series):
    return [(s.name, s.start, s.stop, s.step,
             ["nan" if isinstance(v, float) and math.isnan(v) else v
              for v in s.values], s.tags) for s in series]


@pytest.mark.parametrize("case", sorted(_COLLECT_CASES))
def test_collect_series_matches_row_collect(spark, case):
    """The Arrow collect + driver densify returns exactly what the Row
    collect + per-point dict densify returned, for raw_df frames (plain
    fetches, sparse aggregates) and df frames (transforms, consolidation)."""
    from carbonapi_spark.render.serialize import SeriesResult
    lake, target, f, u, widen, mdp, want = _COLLECT_CASES[case]
    frame = _frame(spark, _rows_lake(spark, _LAKES[lake], 10), target, f, u)
    if widen:
        frame = frame.densify(frame.start - widen, frame.stop + widen)
    got = collect_series(frame, mdp)
    assert _nan_safe(got) == _nan_safe([SeriesResult(*w) for w in want])
    assert all(v is None or type(v) is float for s in got for v in s.values)


def test_collect_series_nan_stays_nan_on_the_wire(spark):
    """A stored NaN is a value, not a gap, until the encoder: null in JSON,
    NaN in pickle and protobuf, empty in CSV — the same as a NULL."""
    import pickle
    import struct
    from carbonapi_spark.render.serialize import render_pickle, render_protobuf_v3
    frame = _frame(spark, _rows_lake(spark, _SPECIAL, 10), "m.a", 0, 30)
    series = collect_series(frame)
    assert json.loads(render_json(series))[0]["datapoints"] == [
        [None, 0], [None, 10], [1.5, 20]]
    vals = pickle.loads(render_pickle(series))[0]["values"]
    assert math.isnan(vals[0]) and math.isnan(vals[1]) and vals[2] == 1.5
    (_f, _w, metric), = list(_pb_fields(render_protobuf_v3(series)))
    fields = {fl: val for fl, _, val in _pb_fields(metric)}
    v = struct.unpack("<3d", fields[9])
    assert math.isnan(v[0]) and math.isnan(v[1]) and v[2] == 1.5
    assert render_csv(series).splitlines() == [
        '"m.a",1970-01-01 00:00:00,', '"m.a",1970-01-01 00:00:10,',
        '"m.a",1970-01-01 00:00:20,1.5']


def test_collect_series_rejects_duplicate_points(spark):
    """A lake holding one (name, ts) twice is an error, as the densify
    shuffle's map_from_entries made it: no value is silently picked, and the
    HTTP handler answers the ValueError with a 500. Out-of-range and
    unaligned rows are dropped before the check."""
    from carbonapi_spark.render.api import GraphiteAPI
    lake = _rows_lake(spark, [("m.a", 0, 1.0), ("m.a", 5, 8.0), ("m.a", 5, 9.0),
                              ("m.a", 10, 2.0), ("m.a", 10, 3.0),
                              ("m.b", 0, 4.0)], 10)
    with pytest.raises(ValueError, match="duplicate point .*'m.a' at ts 10"):
        collect_series(_frame(spark, lake, "m.*", 0, 20))
    with pytest.raises(ValueError, match="duplicate point"):
        GraphiteAPI(spark, lake).render({
            "target": ["m.a"], "from": ["0"], "until": ["20"],
            "noCache": ["1"]})
    assert [s.values for s in collect_series(_frame(spark, lake, "m.*", 0, 10))] \
        == [[1.0], [4.0]]


def test_render_csv_formats_each_time_axis_once():
    """render_csv output is byte-identical to the per-point strftime
    formatter's, over two different time axes (the first one shared)."""
    from carbonapi_spark.render.serialize import SeriesResult
    year = 86400 * 365
    series = [SeriesResult("a", year, year + 180, 60, [1.0, None, NAN], {}),
              SeriesResult("b;x=y", 1700000000, 1700007200, 3600, [2.5, -INF], {}),
              SeriesResult("c", year, year + 180, 60, [INF, 0.0, 3.0], {})]
    assert render_csv(series) == (
        '"a",1971-01-01 00:00:00,1.0\n"a",1971-01-01 00:01:00,\n'
        '"a",1971-01-01 00:02:00,\n"b;x=y",2023-11-14 22:13:20,2.5\n'
        '"b;x=y",2023-11-14 23:13:20,-inf\n"c",1971-01-01 00:00:00,inf\n'
        '"c",1971-01-01 00:01:00,0.0\n"c",1971-01-01 00:02:00,3.0\n')
    assert render_csv([]) == ""
