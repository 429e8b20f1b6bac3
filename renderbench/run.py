"""Graphite render-path benchmark: one workload, one seed, one run.

    python3 renderbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  This process is the load generator:
it generates the inputs (once per checkout, outside the measured
set-up), starts ``harness.py`` (the server process, which owns the
SparkSession) and drives it with closed-loop HTTP clients, one thread
and one connection each, at the workload's fixed client count (never
more than the host's cores).  Every response body is compared with the
serial in-process reference by sha256.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run that follows an
identical untraced window; the ``dashboard`` traced run also runs the
datapipe catalog entries once each (they have no HTTP surface).  An earlier ``{"detail": ...}`` line carries
sample counts, lake sizes, the failure fraction and the per-layer times
of layers that only some workloads use.  Nothing here imports
``carbonapi_spark``.
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

WORK = os.path.join(ROOT, ".renderbench")
DEFAULT_SEED = workloads.DEFAULT_SEED
READY_TIMEOUT_S = 150


# ------------------------------------------------------------- /proc
def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants (Python + JVM + workers)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of the kernel's peak-RSS marks (VmHWM) over the process tree."""
    total_kb = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def tree_cpu_s(root_pid: int) -> float:
    ticks = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except OSError:
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def host_cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``host_cpu_ticks`` readings; wall-clock metrics of a run with a high
    share read slow for reasons outside the program."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


# ------------------------------------------------------------ server
class Server:
    """The harness process and its JSON line protocol."""

    def __init__(self, workload: str, seed: int, trace: int, data: str, run_dir: str):
        os.makedirs(run_dir, exist_ok=True)
        env = dict(os.environ, TMPDIR=os.path.join(WORK, "tmp"),
                   PYTHONPATH=ROOT, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
        os.makedirs(env["TMPDIR"], exist_ok=True)
        self.log = open(os.path.join(run_dir, "harness.log"), "w")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "harness.py"),
             "--workload", workload, "--seed", str(seed), "--trace", str(trace),
             "--data", data,
             "--cpus", str(cpus()), "--work", WORK, "--out", run_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, cwd=ROOT, env=env, start_new_session=True)

    def read(self, timeout: float = READY_TIMEOUT_S) -> dict:
        result: list = []
        reader = threading.Thread(target=lambda: result.append(self.proc.stdout.readline()),
                                  daemon=True)
        reader.start()
        reader.join(timeout)
        if not result or not result[0]:
            raise RuntimeError(f"harness gave no reply (see {self.log.name})")
        return json.loads(result[0])

    def ask(self, timeout: float = READY_TIMEOUT_S, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.read(timeout)

    def close(self):
        """Stop the harness and every process it started, and wait."""
        try:
            if self.proc.poll() is None:
                self.ask(timeout=60, cmd="quit")
                self.proc.wait(timeout=60)
        except (OSError, RuntimeError, subprocess.TimeoutExpired, ValueError):
            pass
        finally:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            self.proc.wait()
            self.log.close()


def cpus() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------- HTTP
def fetch(port: int, path: str, query: str) -> tuple[int, bytes, bool, float, float]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        t0 = time.perf_counter()
        conn.request("GET", f"{path}?{query}")
        resp = conn.getresponse()
        body = resp.read()
        t1 = time.perf_counter()
        return (resp.status, body,
                resp.getheader("X-Carbonapi-Request-Cached") is not None, t0, t1)
    finally:
        conn.close()


def closed_loop(workload: str, seed: int, port: int, reqs, refs, seconds: float):
    """Each client sends its next request only after the previous reply
    arrived, until ``seconds`` have passed; in-flight requests finish.
    The clients share one sequence of whole passes over the timed
    requests and stop only at a pass boundary, so every run serves each
    request equally often."""
    n_clients = min(workloads.CLIENTS[workload], cpus())
    n_timed = workloads.timed_count(workload)
    ops: list[list[dict]] = [[] for _ in range(n_clients)]
    stream = workloads.schedule(workload, seed, n_timed)
    lock = threading.Lock()
    issued = 0
    start = time.perf_counter()
    deadline = start + seconds

    def client(c: int):
        nonlocal issued
        while True:
            with lock:
                if time.perf_counter() >= deadline and not issued % n_timed:
                    break
                i = next(stream)
                issued += 1
            path, query = reqs[i]
            try:
                status, body, _cached, t0, t1 = fetch(port, path, query)
                ok = status == 200 and hashlib.sha256(body).hexdigest() == refs[i]["sha256"]
            except OSError:
                ok, t0, t1 = False, time.perf_counter(), time.perf_counter()
            ops[c].append({"id": i, "t0": t0, "t1": t1, "ok": ok,
                           "points": refs[i]["points"]})

    threads = [threading.Thread(target=client, args=(c,)) for c in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return start, [op for per in ops for op in per]


# ----------------------------------------------------------- metrics
def tail(lat: list[float]) -> dict | None:
    """The highest of p99, p95, p90 and p75 with at least ten samples
    beyond it (interpolated between order statistics), or None when even
    p75 has fewer."""
    if len(lat) < 2:
        return None
    cuts = statistics.quantiles(lat, n=100, method="inclusive")
    for pct in (99, 95, 90, 75):
        ms = cuts[pct - 1]
        beyond = sum(1 for x in lat if x > ms)
        if beyond >= 10:
            return {"percentile": pct, "ms": ms, "samples": len(lat), "beyond": beyond}
    return None


def summarize(ops: list[dict], start: float) -> dict:
    lat = [(o["t1"] - o["t0"]) * 1e3 for o in ops]
    elapsed = max(o["t1"] for o in ops) - start
    points = sum(o["points"] for o in ops if o["ok"])
    return {"op_p50_ms": statistics.median(lat), "ops_per_s": len(ops) / elapsed,
            "points_per_s": points / elapsed, "elapsed_s": elapsed,
            "samples": len(lat), "tail": tail(lat)}


def load_answer_key() -> dict:
    with open(os.path.join(HERE, "answer_key.json")) as f:
        return json.load(f)


def record_answer_key(workload: str, seed: int, digests: list[str]) -> None:
    if seed != DEFAULT_SEED:
        raise SystemExit("the answer key is recorded for the default seed only")
    key = load_answer_key()
    key[workload] = digests
    with open(os.path.join(HERE, "answer_key.json"), "w") as f:
        json.dump(key, f, indent=1, sort_keys=True)
        f.write("\n")


def check_answer_key(workload: str, seed: int, refs: list[dict]) -> list[bool]:
    """Per distinct request: does the serial reference match the committed
    digest?  Only the default seed's requests have committed digests."""
    if seed != DEFAULT_SEED:
        return [r["status"] == 200 for r in refs]
    key = load_answer_key().get(workload, [])
    return [r["status"] == 200 and i < len(key) and key[i] == r["sha256"]
            for i, r in enumerate(refs)]


# ------------------------------------------------------------ traced
# The per-layer metrics of the traced run's last line (BENCHMARK.json
# ``per_layer``): the counts, and the times of the layers every workload
# passes through.  A time that only some workloads have (parse, build,
# collect, encode, the HTTP handler, cache hits, metadata, the datapipe
# families) goes to the detail line's ``layers``, where it appears
# exactly on the workloads that do that work, never as a constant 0.
PER_LAYER_UNITS = {
    "spark.plan_ms": "ms", "server.cpu_ms_per_op": "ms",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "evaluator.fetches_per_op": "count",
    "render.points_per_op": "count", "render.bytes_per_op": "bytes",
    "scratch.released_per_op": "count",
    "trace.layer_share": "ratio", "trace.overhead_frac": "ratio",
}
SPAN_METRIC = {
    "parser.parse": "parser.parse_ms", "evaluator.build": "evaluator.build_ms",
    "spark.plan": "spark.plan_ms", "render.collect": "render.collect_ms",
    "render.encode": "render.encode_ms", "render.metadata": "render.metadata_ms",
    "datapipe.dedup": "datapipe.dedup_ms", "datapipe.ann": "datapipe.ann_ms",
    "datapipe.index": "datapipe.index_ms", "datapipe.graph": "datapipe.graph_ms",
    "datapipe.replay": "streaming.replay_ms",
}


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(traced: list[dict]) -> tuple[dict, dict]:
    """(per-layer counts and shared-layer times, per-layer times of the
    layers only some workloads use).  Times are medians over ops of the
    layer's self time in an op that uses the layer.  A traced op's
    ``op_ms`` excludes its ``plan_probe_ms`` (see ``Harness.traced_render``)."""
    times: dict[str, list[float]] = {}
    for t in traced:
        for span, ms in t["self_ms"].items():
            if span in SPAN_METRIC:
                times.setdefault(SPAN_METRIC[span], []).append(ms)
    layer_ms = {k: _med(v) for k, v in times.items()}
    layer_ms["trace.op_ms"] = _med([t["op_ms"] for t in traced])
    per_layer = {
        "spark.plan_ms": layer_ms.pop("spark.plan_ms"),
        "spark.jobs_per_op": _med([t["jobs"] for t in traced]),
        "spark.stages_per_op": _med([t["stages"] for t in traced]),
        "spark.tasks_per_op": _med([t["tasks"] for t in traced]),
        "evaluator.fetches_per_op": _med([t.get("fetches", 0) for t in traced]),
        "render.points_per_op": _med([t.get("points", 0) for t in traced]),
        "render.bytes_per_op": _med([t.get("bytes", 0) for t in traced]),
        "scratch.released_per_op": statistics.fmean([t["released"] for t in traced]),
        # share of the traced op the layer spans' self times account for;
        # the rest is the op span's own self time (harness glue)
        "trace.layer_share": _med([
            (sum(t["self_ms"].values()) - t["self_ms"]["op"] - t["plan_probe_ms"]) / t["op_ms"]
            for t in traced]),
        "trace.overhead_frac":
            layer_ms["trace.op_ms"] / _med([t["untraced_ms"] for t in traced]) - 1,
    }
    return per_layer, layer_ms


def traced_render(server: Server, port: int, reqs, refs, key_ok):
    """Per distinct request, probes included: one HTTP request and one
    in-process ``GraphiteAPI`` call back to back (for a render that is
    not a cache hit, their difference is the HTTP overhead), then the
    traced layered call and an untraced no-cache call.  Returns (traced
    ops, api ms, overhead ms, cache-hit ms, failures)."""
    traced, api_ms, overhead, hit_ms, failed = [], [], [], [], 0
    for i, (path, query) in enumerate(reqs):
        status, body, cached, t0, t1 = fetch(port, path, query)
        api = server.ask(cmd="api", id=i)
        if cached:
            hit_ms.append((t1 - t0) * 1e3)
        elif path == "/render":
            api_ms.append(api["ms"])
            overhead.append((t1 - t0) * 1e3 - api["ms"])
        t = server.ask(cmd="trace", id=i)
        failed += (not t["ok"]) + (not api["ok"]) + (not key_ok[i]) + (
            hashlib.sha256(body).hexdigest() != refs[i]["sha256"] or status != 200)
        traced.append(t)
    return traced, api_ms, overhead, hit_ms, failed


# -------------------------------------------------------------- main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.CLIENTS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-answer-key", action="store_true",
                    help="store this run's serial reference digests as the "
                         "committed answer key (default seed only)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "carbonapi_spark")):
        print(f"renderbench: no carbonapi_spark package next to {HERE}", file=sys.stderr)
        return 2

    import inputs
    data, sizes = inputs.ensure(workloads.DATASET[args.workload], DEFAULT_SEED,
                                os.path.join(WORK, "data"))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    server = Server(args.workload, args.seed, args.trace, data, run_dir)
    try:
        ready = server.read()
        setup_s = time.perf_counter() - server.t_spawn
        refs = ready["refs"]
        if args.record_answer_key:
            record_answer_key(args.workload, args.seed, [r["sha256"] for r in refs])
        key_ok = check_answer_key(args.workload, args.seed, refs)
        reqs = workloads.requests_for(args.workload, args.seed, bool(args.trace))
        cpu0, host0 = tree_cpu_s(server.proc.pid), host_cpu_ticks()
        start, ops = closed_loop(args.workload, args.seed, ready["port"], reqs,
                                 refs, args.seconds)
        for o in ops:
            o["ok"] = o["ok"] and key_ok[o["id"]]
        cpu_ms_per_op = (tree_cpu_s(server.proc.pid) - cpu0) * 1e3 / len(ops)
        steal = steal_frac(host0, host_cpu_ticks())
        peak_rss_mb = tree_peak_rss_mb(server.proc.pid)
        e2e = summarize(ops, start)
        failed = sum(1 for o in ops if not o["ok"])
        attempted = len(ops)
        detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "clients": min(workloads.CLIENTS[args.workload], cpus()), "cpus": cpus(),
                  "inputs": sizes, "distinct_requests": len(refs),
                  "answer_key_ok": all(key_ok), "failed_frac": failed / attempted,
                  "samples": e2e["samples"], "tail": e2e["tail"],
                  "elapsed_s": e2e["elapsed_s"], "steal_frac": steal,
                  "warm_ms": [[round(ms, 1) for ms in r["warm_ms"]] for r in refs]}
        if args.trace:
            traced, api_ms, overhead, hit_ms, bad = traced_render(
                server, ready["port"], reqs, refs, key_ok)
            failed += bad
            attempted += len(traced)
            per_layer, layer_ms = layer_metrics(traced)
            per_layer["server.cpu_ms_per_op"] = cpu_ms_per_op
            if overhead:
                layer_ms["render.http_overhead_ms"] = _med(overhead)
                layer_ms["render.api_ms"] = _med(api_ms)
            if hit_ms:
                layer_ms["render.cache_hit_ms"] = _med(hit_ms)
                detail["cache_hits"] = len(hit_ms)
            if args.workload == "dashboard":
                n = len(workloads.DASHBOARD_PANELS)
                detail["composite_jobs"] = {
                    " & ".join(targets): {k: t[k] for k in ("jobs", "stages", "tasks")}
                    for (targets, _w, _m), t in zip(workloads.COMPOSITES,
                                                    traced[n - len(workloads.COMPOSITES):n])}
                dp = server.ask(timeout=170, cmd="datapipe")["ops"]
                names = [name for name, _f in workloads.DATAPIPE_ENTRIES]
                if args.record_answer_key:
                    by_name = {t["name"]: t["digest"] for t in dp}
                    record_answer_key("datapipe", args.seed, [by_name[name] for name in names])
                key = load_answer_key()["datapipe"]
                failed += sum(1 for t in dp if t["digest"] != key[names.index(t["name"])])
                attempted += len(dp)
                for t in dp:
                    for span, ms in t["self_ms"].items():
                        if span.startswith("datapipe."):
                            layer_ms[SPAN_METRIC[span]] = ms
                detail["datapipe"] = {t["name"]: {
                    "op_ms": t["op_ms"], "values": t["values"], "released": t["released"],
                    **{k: t[k] for k in ("jobs", "stages", "tasks")}} for t in dp}
                # scratch.release() frees what an op tracked; only the
                # datapipe entries track anything
                per_layer["scratch.released_per_op"] = statistics.fmean(
                    [t["released"] for t in traced + dp])
            metrics = {k: {"value": per_layer[k], "unit": unit}
                       for k, unit in PER_LAYER_UNITS.items()}
            detail["layers"] = {k: {"value": v, "unit": "ms"}
                                for k, v in sorted(layer_ms.items())}
            detail["traced_ops"] = len(traced)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_ms": {"value": e2e["op_p50_ms"], "unit": "ms"},
                "ops_per_s": {"value": e2e["ops_per_s"], "unit": "1/s"},
                "points_per_s": {"value": e2e["points_per_s"], "unit": "1/s"},
                "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            }
        with open(os.path.join(run_dir, "ops.json"), "w") as f:
            json.dump({"start": start, "ops": [{k: o[k] for k in ("id", "t0", "t1", "ok")}
                                               for o in ops]}, f)
    finally:
        server.close()
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
