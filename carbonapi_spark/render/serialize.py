"""Serializers: SeriesFrame -> graphite wire formats.

This is the single place a render pipeline runs its plan: everything
upstream is lazy DataFrame algebra, and maxDataPoints consolidation happens
*inside* the plan (a window aggregation appended before the collect), so the
data crossing the driver boundary is already capped at
``maxDataPoints * n_series`` points.

``collect_series`` fetches the frame's plan as Arrow batches with
``DataFrame.toArrow()`` and builds the dense per-series vectors on the
driver with numpy: a missing row and a NULL row both become a gap. A
sparse frame (a fetch, a pointwise transform, sort or filter of one) thus
reaches the wire without the densify shuffle; a plain fetch runs one scan
job.

Formats (reference ``expr/types/types.go``):
- JSON  (types.go:120-199): ``[{"target","datapoints":[[v,ts]...],"tags"}]``
- CSV   (types.go:48-86):   ``"name",YYYY-MM-DD HH:MM:SS,value``
- raw   (types.go:282-317): ``name,start,stop,step|v1,v2,...``
- pickle(types.go:200-234): list of dicts
"""

from __future__ import annotations

import datetime as _dt
import itertools
import json
import math
import pickle
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from carbonapi_spark.model.series import NAME, ORD, TS, VALUE, SeriesFrame
from carbonapi_spark.sqltext import selectx


@dataclass
class SeriesResult:
    name: str
    start: int
    stop: int
    step: int
    values: list  # None = missing
    tags: dict

    @property
    def path_expression(self) -> str:
        return self.name


def _parse_tags(name: str) -> dict:
    """tags from ';k=v' name suffix; 'name' tag always set
    (expr/tags/helper.go:160)."""
    parts = name.split(";")
    tags = {"name": parts[0]}
    for kv in parts[1:]:
        if "=" in kv:
            k, v = kv.split("=", 1)
            tags[k] = v
    return tags


def consolidate_for_points(frame: SeriesFrame, max_data_points: int) -> SeriesFrame:
    """maxDataPoints consolidation in-plan (ConsolidateJSON, types.go:87-117):
    if the frame would yield more than maxDataPoints per series, re-bucket by
    ceil(n/mdp)*step using the frame's consolidation function.  A cap of
    0 or less means no cap."""
    if max_data_points <= 0:
        return frame
    n = frame.n_points()
    if n <= max_data_points:
        return frame
    vpp = math.ceil(n / max_data_points)
    return frame.consolidate_to(frame.step * vpp)


def _dense_vectors(table: pa.Table, start: int, stop: int,
                   step: int) -> list[SeriesResult]:
    """Group a (name, ord, ts, value) Arrow table by ``(ord, name)`` and lay
    each group out over ``range(start, stop, step)``: a missing, NULL or
    unaligned point is None, NaN stays NaN. The groups come back sorted by
    ``(ord, name)``, the stable series order. Two rows for one in-range
    bucket of one series are an error, like the ``map_from_entries``
    duplicate-key failure of ``SeriesFrame.densify``: no value is picked."""
    if not table.num_rows:
        return []
    ords = table.column(ORD).combine_chunks().dictionary_encode()
    names = table.column(NAME).combine_chunks().dictionary_encode()
    width = len(names.dictionary)
    pair = (ords.indices.to_numpy(zero_copy_only=False).astype(np.int64) * width
            + names.indices.to_numpy(zero_copy_only=False))
    pairs, group = np.unique(pair, return_inverse=True)
    keys = [(ords.dictionary[int(p) // width].as_py(),
             names.dictionary[int(p) % width].as_py()) for p in pairs]
    order = sorted(range(len(keys)), key=keys.__getitem__)
    keys = [keys[k] for k in order]
    rank = np.empty(len(keys), np.int64)
    rank[order] = np.arange(len(keys))

    n = len(range(start, stop, step))
    # a NULL ts reads as NaN and fails every comparison: the point is dropped
    off = table.column(TS).to_numpy() - start
    keep = (off >= 0) & (off < n * step) & (off % step == 0)
    cell = rank[group[keep]] * n + (off[keep] // step).astype(np.int64)
    hits = np.bincount(cell, minlength=len(keys) * n)
    if len(cell) and hits.max() > 1:
        g, i = divmod(int(np.argmax(hits > 1)), n)
        raise ValueError(f"duplicate point for series {keys[g][1]!r} "
                         f"at ts {start + i * step}")
    values = np.full(len(keys) * n, np.nan)
    values[cell] = table.column(VALUE).to_numpy()[keep]
    present = np.zeros(len(keys) * n, bool)
    present[cell] = table.column(VALUE).is_valid().to_numpy()[keep]
    dense = values.astype(object)  # Python floats, as a Row collect gives
    dense[~present] = None
    return [SeriesResult(name, start, stop, step, vals, _parse_tags(name))
            for (_ord, name), vals in zip(keys, dense.reshape(len(keys), n).tolist())]


def collect_series(frame: SeriesFrame, max_data_points: int = 0) -> list[SeriesResult]:
    """Execute the plan once; return dense per-series vectors ordered by the
    stable series order (``ord``).

    Reads ``frame.df``, dense or not, and fills the gaps on the driver
    (:func:`_dense_vectors`)."""
    frame = consolidate_for_points(frame, max_data_points)
    table = selectx(frame.df, NAME, ORD, TS, VALUE).toArrow()
    return _dense_vectors(table, frame.start, frame.stop, frame.step)


def render_json(series: list[SeriesResult], timestamp_multiplier: int = 1,
                no_null_points: bool = False) -> str:
    """The ``json.dumps`` text of ``[{"target", "datapoints", "tags"}]``,
    each series' datapoints written by comprehensions. NaN and ±inf
    values are ``null``: ``v - v`` is NaN, which is true, for those only.
    A float is formatted with ``float.__repr__``, as ``json`` does; a
    numpy float64's own ``repr`` reads ``np.float64(…)``."""
    out = []
    for s in series:
        stamps = itertools.count(s.start * timestamp_multiplier,
                                 s.step * timestamp_multiplier)
        text = ["null" if v is None or v - v else
                int.__repr__(v) if v.__class__ is int else float.__repr__(v)
                for v in s.values]
        points = ", ".join([f"[{v}, {t}]" for v, t in zip(text, stamps)
                            if not (no_null_points and v == "null")])
        out.append(f'{{"target": {json.dumps(s.name)}, '
                   f'"datapoints": [{points}], "tags": {json.dumps(s.tags)}}}')
    return "[" + ", ".join(out) + "]"


def render_csv(series: list[SeriesResult], tz: str = "UTC") -> str:
    lines = []
    stamps: dict[tuple, list[str]] = {}  # one formatted axis per (start, step, len)
    for s in series:
        axis = (s.start, s.step, len(s.values))
        if axis not in stamps:
            stamps[axis] = [
                _dt.datetime.fromtimestamp(s.start + i * s.step, _dt.timezone.utc)
                .strftime("%Y-%m-%d %H:%M:%S") for i in range(len(s.values))]
        # float(v) first: a numpy float64's own repr reads np.float64(…)
        lines += [f'"{s.name}",{stamp},'
                  f'{"" if v is None or v != v else repr(float(v))}'
                  for stamp, v in zip(stamps[axis], s.values)]
    return "\n".join(lines) + ("\n" if lines else "")


def render_raw(series: list[SeriesResult]) -> str:
    lines = []
    for s in series:
        vals = ",".join("None" if v is None else repr(float(v)) for v in s.values)
        lines.append(f"{s.name},{s.start},{s.stop},{s.step}|{vals}")
    return "\n".join(lines) + ("\n" if lines else "")


def render_pickle(series: list[SeriesResult]) -> bytes:
    payload = [{
        "name": s.name,
        "pathExpression": s.path_expression,
        "values": [math.nan if v is None else v for v in s.values],
        "start": s.start,
        "end": s.stop,
        "step": s.step,
    } for s in series]
    return pickle.dumps(payload, protocol=2)


# ----------------------------------------------------------------------
# protobuf (carbonapi_v2_pb / carbonapi_v3_pb wire formats)
# ----------------------------------------------------------------------
# Hand-rolled proto3 encoding — the messages are simple enough (varints,
# fixed64 packed, length-delimited) that a protobuf dependency isn't
# warranted. Schemas:
#   v3 MultiFetchResponse{ metrics=1 rep FetchResponse{ name=1,
#     pathExpression=2, consolidationFunc=3, startTime=4, stopTime=5,
#     stepTime=6, xFilesFactor=7 fixed32, highPrecisionTimestamps=8,
#     values=9 packed fixed64, appliedFunctions=10 rep,
#     requestStartTime=11, requestStopTime=12 } }
#     (vendor/github.com/go-graphite/protocol/carbonapi_v3_pb)
#   v2 FetchResponse{ name=1, startTime=2, stopTime=3, stepTime=4,
#     values=5 packed fixed64, isAbsent=6 packed bool } — NaN encoded as
#     (0.0, isAbsent=true), per MarshalProtobufV2 (types.go:235-266).

import struct as _struct


def _varint(n: int) -> bytes:
    out = bytearray()
    n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint(field << 3 | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _str(field: int, s: str) -> bytes:
    return _len_delim(field, s.encode("utf-8")) if s else b""


def _vint(field: int, n: int) -> bytes:
    return _tag(field, 0) + _varint(n) if n else b""


def _packed_f64(field: int, vals: list[float]) -> bytes:
    if not vals:
        return b""
    return _len_delim(field, _struct.pack(f"<{len(vals)}d", *vals))


def render_protobuf_v3(series: list[SeriesResult]) -> bytes:
    """carbonapi_v3_pb MultiFetchResponse (MarshalProtobufV3, types.go:268)."""
    out = bytearray()
    for s in series:
        m = bytearray()
        m += _str(1, s.name)
        m += _str(2, s.path_expression)
        m += _str(3, "average")
        m += _vint(4, s.start)
        m += _vint(5, s.stop)
        m += _vint(6, s.step)
        m += _packed_f64(9, [math.nan if v is None else float(v)
                             for v in s.values])
        m += _vint(11, s.start)
        m += _vint(12, s.stop)
        out += _len_delim(1, bytes(m))
    return bytes(out)


def render_protobuf_v2(series: list[SeriesResult]) -> bytes:
    """carbonapi_v2_pb MultiFetchResponse (MarshalProtobufV2, types.go:235):
    NaN/None becomes value 0.0 with isAbsent[i]=true."""
    out = bytearray()
    for s in series:
        m = bytearray()
        m += _str(1, s.name)
        m += _vint(2, s.start)
        m += _vint(3, s.stop)
        m += _vint(4, s.step)
        absent = [v is None or (isinstance(v, float) and math.isnan(v))
                  for v in s.values]
        m += _packed_f64(5, [0.0 if a else float(v)
                             for a, v in zip(absent, s.values)])
        if s.values:
            m += _len_delim(6, bytes(bytearray(1 if a else 0 for a in absent)))
        out += _len_delim(1, bytes(m))
    return bytes(out)
