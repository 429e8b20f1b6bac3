"""Program side of the benchmark: one process that owns the SparkSession.

Started by ``run.py`` as

    python3 renderbench/harness.py --workload W --seed N --trace 0|1 \
        --data DIR --cpus K --work WORK_DIR --out RUN_DIR

It opens the workload's inputs, renders every distinct request once,
serially and in process (the reference pass and the answer key), then
again in ``workloads.WARM_PASSES`` - 1 more warm-up passes, starts
``GraphiteAPI.serve`` on an ephemeral port and prints one ``ready`` JSON
line.  It then answers JSON commands, one per stdin line, with one JSON
line each:

``{"cmd": "api", "id": i}``
    time ``GraphiteAPI`` in process on request ``i``.
``{"cmd": "trace", "id": i}``
    run request ``i`` through the public entry points of each layer,
    with a span around every call, plus an untraced no-cache render.
``{"cmd": "datapipe"}``
    run every ``workloads.DATAPIPE_ENTRIES`` catalog entry once, traced
    (``datapipe`` has no HTTP surface; the ``dashboard`` traced run
    measures its layers this way).
``{"cmd": "quit"}``
    write the spans, stop the server and the session, exit.

Spans (name, start, end, parent, op id) stay in memory and are written
to ``RUN_DIR/spans.json`` at ``quit``.  Every layer is timed from
outside, around calls to its public functions; no engine module is
changed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import sys
import time
import urllib.parse
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import workloads  # noqa: E402


# --------------------------------------------------------------- results
def sha(body: bytes) -> str:
    return hashlib.sha256(body).hexdigest()


def _norm(v):
    if isinstance(v, float):
        return format(v, ".6g")
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _norm(x) for k, x in sorted(v.items())}
    return v


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows; doubles compared to
    six significant digits."""
    lines = sorted(json.dumps(_norm(list(r)), default=str) for r in rows)
    return sha("\n".join(lines).encode())


def _pb_points(body: bytes) -> int:
    """Values in a carbonapi_v3_pb MultiFetchResponse (packed field 9)."""
    def varint(buf, i):
        shift = n = 0
        while True:
            b = buf[i]
            i += 1
            n |= (b & 0x7F) << shift
            shift += 7
            if not b & 0x80:
                return n, i

    points, i = 0, 0
    while i < len(body):
        _key, i = varint(body, i)
        size, i = varint(body, i)
        msg, i = body[i:i + size], i + size
        j = 0
        while j < len(msg):
            key, j = varint(msg, j)
            wire = key & 7
            if wire == 0:
                _v, j = varint(msg, j)
            elif wire == 2:
                n, j = varint(msg, j)
                if key >> 3 == 9:
                    points += n // 8
                j += n
            elif wire == 5:
                j += 4
            else:
                j += 8
    return points


def body_points(path: str, params: dict, body: bytes) -> int:
    """Datapoints a render response delivers (0 for metadata calls)."""
    if path != "/render":
        return 0
    fmt = params.get("format", ["json"])[0]
    if fmt == "json":
        return sum(len(s["datapoints"]) for s in json.loads(body))
    if fmt == "csv":
        return body.count(b"\n")
    if fmt == "pickle":
        # bytes this process's own serializer just produced
        return sum(len(s["values"]) for s in pickle.loads(body))
    if fmt == "protobuf":
        return _pb_points(body)
    raise ValueError(f"no point counter for format {fmt!r}")


# ----------------------------------------------------------------- spans
class Tracer:
    """In-memory spans: [name, start, end, parent index, op id]."""

    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def self_times(self, first: int) -> dict[str, float]:
        """Seconds of self time per span name for spans[first:]: each
        span's duration minus the part its children cover."""
        children: dict[int, list[int]] = {}
        for i in range(first, len(self.spans)):
            p = self.spans[i][3]
            if p is not None:
                children.setdefault(p, []).append(i)
        out: dict[str, float] = {}
        for i in range(first, len(self.spans)):
            name, start, end = self.spans[i][:3]
            covered, cursor = 0.0, start
            for c in sorted(children.get(i, []), key=lambda c: self.spans[c][1]):
                lo, hi = max(self.spans[c][1], cursor), min(self.spans[c][2], end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[name] = out.get(name, 0.0) + (end - start) - covered
        return out


class JobCounter:
    """Spark jobs, stages and tasks an op ran, from ``setJobGroup(op)`` and
    the status tracker.  Jobs submitted from helper threads carry no
    group, so jobs without a group that appeared during the op are
    counted too; the traced run is serial, so nothing else submits."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    @contextmanager
    def group(self, op: str, out: dict):
        before = set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(op, op)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            jobs = set(self.tracker.getJobIdsForGroup(op))
            jobs |= set(self.tracker.getJobIdsForGroup(None)) - before
            stages = set()
            for j in jobs:
                info = self.tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                info = self.tracker.getStageInfo(s)
                if info is not None:
                    tasks += info.numTasks
            out.update(jobs=len(jobs), stages=len(stages), tasks=tasks)


# --------------------------------------------------------------- session
def start_session(cpus: int, work: str):
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (SparkSession.builder
             .master(f"local[{cpus}]")
             .appName("renderbench")
             .config("spark.sql.shuffle.partitions", str(cpus))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.driver.memory", "1g")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     # a fixed-size heap: peak RSS then follows the work
                     # done, not when G1 chose to grow the heap
                     f"-Xms1g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Harness:
    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.data = args.data
        self.out = args.out
        self.spark = start_session(args.cpus, args.work)
        self.tracer = Tracer()
        self.jobs = JobCounter(self.spark.sparkContext)
        self.requests = []
        self.refs: list[dict] = []
        self.api = self.server = None

    # ------------------------------------------------------------ render
    def open_render(self):
        from carbonapi_spark.render.api import GraphiteAPI
        from carbonapi_spark.sources.lake import SeriesLake
        if self.workload == "dashboard":
            path, step = os.path.join(self.data, "events_lake"), 3600
        else:
            path, step = os.path.join(self.data, "lake"), 60
        lake = SeriesLake(self.spark.read.parquet(path), step,
                          time_partition_col="day")
        self.api = GraphiteAPI(self.spark, lake)
        self.requests = [(p, urllib.parse.parse_qs(q)) for p, q in
                         workloads.requests_for(self.workload, self.seed, self.trace)]

    def call_api(self, path: str, params: dict):
        """The HTTP handler's routing, in process: (status, body, headers)."""
        from carbonapi_spark import scratch
        api = self.api
        try:
            if path == "/render":
                resp = api.render(params)
                return resp[0], resp[2], (resp[3] if len(resp) > 3 else {})
            if path == "/metrics/find":
                resp = api.metrics_find(params)
            elif path == "/metrics/expand":
                resp = api.metrics_expand(params)
            elif path == "/tags/autoComplete/tags":
                resp = api.tags_autocomplete(params, False)
            elif path == "/tags/autoComplete/values":
                resp = api.tags_autocomplete(params, True)
            else:
                raise ValueError(f"unrouted path {path}")
            return resp[0], resp[2], {}
        finally:
            scratch.release()

    def answer_key(self):
        """Warm-up: every distinct request once, serially (the reference
        pass), then ``workloads.WARM_PASSES - 1`` more passes whose
        bodies must match it."""
        for path, params in self.requests:
            t0 = time.perf_counter()
            status, body, _h = self.call_api(path, params)
            ms = (time.perf_counter() - t0) * 1e3
            self.refs.append({"sha256": sha(body), "status": status,
                              "bytes": len(body), "warm_ms": [ms],
                              "points": body_points(path, params, body)
                              if status == 200 else 0})
        for _ in range(workloads.WARM_PASSES[self.workload] - 1):
            for (path, params), ref in zip(self.requests, self.refs):
                t0 = time.perf_counter()
                status, body, _h = self.call_api(path, params)
                ref["warm_ms"].append((time.perf_counter() - t0) * 1e3)
                if status != ref["status"] or sha(body) != ref["sha256"]:
                    ref["status"] = -1  # an unstable reference fails every op

    def cmd_api(self, i: int) -> dict:
        path, params = self.requests[i]
        t0 = time.perf_counter()
        status, body, _h = self.call_api(path, params)
        return {"ms": (time.perf_counter() - t0) * 1e3,
                "ok": status == 200 and sha(body) == self.refs[i]["sha256"]}

    def traced_render(self, op: str, params: dict) -> tuple[bytes, dict]:
        """The render path as public calls, one span per layer:
        parse -> build -> plan -> execute+collect -> encode.

        ``collect_series`` builds and plans its own frame, so the
        ``spark.plan`` span plans an identical frame as a probe: it gives
        the planning time, ``render.collect`` still contains the real
        planning, and the probe is subtracted from the op's time."""
        from carbonapi_spark import scratch
        from carbonapi_spark.evaluator import eval_expr, render_context
        from carbonapi_spark.model.series import NAME, ORD, TS, VALUE
        from carbonapi_spark.parser import parse
        from carbonapi_spark.render import serialize as ser
        fmt = params.get("format", ["json"])[0]
        mdp = int(params.get("maxDataPoints", ["0"])[0] or 0)
        t, stats = self.tracer, {}
        ctx = render_context(self.spark, self.api.lake, params["from"][0],
                             params["until"][0])
        frames = []
        for target in params["target"]:
            with t.span("parser.parse", op):
                exp = parse(target)
            with t.span("evaluator.build", op):
                frames.append(eval_expr(ctx, exp))
        stats["fetches"] = len(ctx.values)
        series = []
        for frame in frames:
            with t.span("spark.plan", op):
                (ser.consolidate_for_points(frame, mdp).df
                 .select(NAME, ORD, TS, VALUE)._jdf.queryExecution().executedPlan())
            with t.span("render.collect", op):
                series.extend(ser.collect_series(frame, mdp))
        stats["points"] = sum(len(s.values) for s in series)
        with t.span("render.encode", op):
            if fmt == "json":
                body = ser.render_json(series).encode()
            elif fmt == "csv":
                body = ser.render_csv(series).encode()
            elif fmt == "pickle":
                body = ser.render_pickle(series)
            else:
                body = ser.render_protobuf_v3(series)
        with t.span("scratch.release", op):
            stats["released"] = scratch.release()
        return body, stats

    def traced_metadata(self, op: str, path: str, params: dict) -> tuple[bytes, dict]:
        from carbonapi_spark import scratch
        from carbonapi_spark.render import metadata as meta
        lake = self.api.lake
        with self.tracer.span("render.metadata", op):
            if path == "/metrics/find":
                out = meta.find(lake, params["query"][0])
            elif path == "/metrics/expand":
                out = {"results": meta.expand(lake, params["query"][0])}
            elif path == "/tags/autoComplete/tags":
                out = meta.tag_names(lake, params.get("tagPrefix", [""])[0], 100)
            else:
                out = meta.tag_values(lake, params["tag"][0],
                                      params.get("valuePrefix", [""])[0], 100)
        with self.tracer.span("scratch.release", op):
            released = scratch.release()
        return json.dumps(out).encode(), {"released": released}

    def op_times(self, first: int) -> dict:
        """Times of the op whose ``op`` span is spans[first]: ``self_ms``
        per span name, ``plan_probe_ms`` (the ``traced_render`` plan probe,
        which the op would not run untraced) and ``op_ms`` without it."""
        self_ms = {k: v * 1e3 for k, v in self.tracer.self_times(first).items()}
        start, end = self.tracer.spans[first][1:3]
        # a datapipe op collects the frame it planned: no probe there
        probe = 0.0 if self.tracer.spans[first][4].startswith("datapipe-") \
            else self_ms.get("spark.plan", 0.0)
        return {"self_ms": self_ms, "plan_probe_ms": probe,
                "op_ms": (end - start) * 1e3 - probe}

    def cmd_trace(self, i: int) -> dict:
        """Request ``i`` traced, and untraced through ``GraphiteAPI`` with
        the response cache off; the order alternates with ``i`` so drift
        does not favour either side."""
        path, params = self.requests[i]
        nocache = dict(params, noCache=["1"])

        def untraced():
            t0 = time.perf_counter()
            self.call_api(path, nocache)
            return (time.perf_counter() - t0) * 1e3

        def traced():
            op = f"{self.workload}-{i}-{len(self.tracer.spans)}"
            first = len(self.tracer.spans)
            counts: dict = {}
            with self.jobs.group(op, counts), self.tracer.span("op", op):
                if path == "/render":
                    body, stats = self.traced_render(op, params)
                else:
                    body, stats = self.traced_metadata(op, path, params)
            return {**self.op_times(first), "ok": sha(body) == self.refs[i]["sha256"],
                    "bytes": len(body), **counts, **stats}

        if i % 2:
            base = untraced()
            out = traced()
        else:
            out = traced()
            base = untraced()
        out["untraced_ms"] = base
        return out

    # ---------------------------------------------------------- datapipe
    def run_entry(self, name: str, family: str) -> dict:
        """One datapipe catalog entry, traced: build its frame, plan it,
        collect and digest its rows.  ``collect`` runs the plan the
        ``spark.plan`` span forced, so planning is counted once."""
        from carbonapi_spark import scratch
        from carbonapi_spark.entry_queries import QUERIES
        t = self.tracer
        op = f"datapipe-{name}-{len(t.spans)}"
        first = len(t.spans)
        counts: dict = {}
        with self.jobs.group(op, counts), t.span("op", op):
            with t.span(f"datapipe.{family}", op):
                frame = QUERIES[name](self.spark, os.path.join(self.data, "tables"))
            with t.span("spark.plan", op):
                frame._jdf.queryExecution().executedPlan()
            with t.span(f"datapipe.{family}", op):
                rows = frame.collect()
                digest = rows_digest(rows)
            with t.span("scratch.release", op):
                released = scratch.release()
        return {"name": name, "digest": digest, "released": released,
                "values": len(rows) * (len(rows[0]) if rows else 0),
                **counts, **self.op_times(first)}

    def cmd_datapipe(self) -> dict:
        """Every datapipe entry once, in the seeded order.  Each is its
        first run in the session, as a batch job runs once per session."""
        return {"ops": [self.run_entry(*workloads.DATAPIPE_ENTRIES[k])
                        for k in workloads.datapipe_order(self.seed)]}

    # ------------------------------------------------------------- loop
    def serve(self):
        self.open_render()
        self.answer_key()
        self.server = self.api.serve(port=0)
        emit({"ready": True, "port": self.server.server_address[1], "refs": self.refs})
        for line in sys.stdin:
            msg = json.loads(line)
            cmd = msg["cmd"]
            if cmd == "api":
                emit(self.cmd_api(msg["id"]))
            elif cmd == "trace":
                emit(self.cmd_trace(msg["id"]))
            elif cmd == "datapipe":
                emit(self.cmd_datapipe())
            elif cmd == "quit":
                break
            else:
                raise ValueError(f"unknown command {cmd!r}")
        self.close()

    def close(self):
        with open(os.path.join(self.out, "spans.json"), "w") as f:
            json.dump({"fields": ["name", "start", "end", "parent", "op"],
                       "spans": self.tracer.spans}, f)
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
        self.spark.stop()
        emit({"bye": True})


def emit(obj) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.CLIENTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    Harness(ap.parse_args()).serve()


if __name__ == "__main__":
    main()
