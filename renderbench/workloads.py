"""The benchmark's frozen request lists and the seeded schedules built
from them.

Shared by the load generator (``run.py``) and the program-side harness
(``harness.py``); it imports nothing from ``carbonapi_spark``.  The
target lists are copies, not imports of ``entry_queries.py``, so a
catalog edit cannot silently change a workload.

A request is ``(path, query)`` where ``query`` is the URL-encoded query
string; both processes decode the same string, so the in-process answer
key and the HTTP request see identical parameters.
"""

from __future__ import annotations

import random
import urllib.parse

from inputs import DCS, EVENTS_DAYS, EVENTS_FROM, EVENT_TYPES, SUBSYS, WIDE_DAYS, WIDE_FROM

# Dashboard panels: (targets, window, maxDataPoints).  Six catalog
# targets (entry_queries.py ``_g`` entries), one per kind of work --
# fetch, cross-series aggregate, group, window, sort/filter, join --
# plus three composite shapes whose Spark job counts the traced run
# pins.  Each distinct request costs a serial render in the warm-up
# pass, which every run pays: the whole catalog takes ~45 s on 4 cores.
# Windows and maxDataPoints are fixed per panel so every run delivers
# the same number of points; the seed picks the start days.
DAY, WEEK, MONTH = 86400, 7 * 86400, 28 * 86400
DASHBOARD_PANELS = (
    (("events.u*.click",), DAY, 0),
    (("sumSeries(events.u*.click)",), WEEK, 0),
    (("groupByNode(events.u*.*, 2, 'sum')",), MONTH, 200),
    (("movingAverage(events.click, 6)",), MONTH, 0),
    (("highestAverage(events.u*.click, 3)",), WEEK, 0),
    (("divideSeries(events.purchase, events.click)",), DAY, 0),
    (("sortByMaxima(events.*.click)|limit(3)",), WEEK, 0),
    (("movingAverage(sumSeries(events.u*.click),'6h')",), MONTH, 200),
    (("events.u*.click", "sumSeries(events.u*.view)"), DAY, 0),
)
COMPOSITES = DASHBOARD_PANELS[-3:]
# The dashboard's cache probe outlives any run.
PROBE_CACHE_TIMEOUT = 3600

# (format, maxDataPoints, shape) of the wide_export requests.  Shapes:
# 0 = one glob over a subsystem of a data center, 1 = two host-range
# globs, 2 = the tagged series plus a glob; 72 series each.  Fixed per
# format so every run renders the same mix.  The four cost about the
# same (the tagged fetch is dearer; its consolidation to 500 points
# makes up for it), so a run's median op lies inside one cluster of
# samples.  With two cheap and two dear requests the median of a run's
# 8 ops fell in the gap between two clusters, where it jumped with
# every small change of speed.
WIDE_EXPORTS = (("json", 0, 0), ("pickle", 0, 1), ("protobuf", 500, 2),
                ("csv", 0, 0))

# One catalog entry per datapipe family, run once each by the dashboard
# traced run.  Cheap members of each family keep that run well inside
# its time limit: pq_ivf_topk runs the ivfpq_encode path and
# text_compact_probe a scratch.memo() site, both ROADMAP deletion
# candidates; stream_rollup_replay (7 s warm) and minhash_dedup (9 s on
# a first run) would add ~15 s.
DATAPIPE_ENTRIES = (
    # (catalog entry, family)
    ("simhash", "dedup"),
    ("pq_ivf_topk", "ann"),
    ("text_compact_probe", "index"),
    ("label_prop", "graph"),
    ("stream_per_second_replay", "replay"),
)

CLIENTS = {"dashboard": 4, "wide_export": 1}
# Serial in-process passes over every request before timing.  A wide
# export's second render is 25-70 % faster than its first and its third
# up to 30 % faster than its second (JVM code paths warming), so
# wide_export renders each request twice before the timed window; a
# third pass would add ~8 s to every run.
WARM_PASSES = {"dashboard": 1, "wide_export": 2}
DATASET = {"dashboard": "sf", "wide_export": "wide"}
# Every workload reads the datasets generated from this seed; a run's
# seed picks its requests and their order.  The datasets are then made
# once per checkout, and the datapipe entries, which take no
# parameters, are checked against the committed answer key every time.
DEFAULT_SEED = 1


def _render(targets, start, until, extra=()) -> tuple[str, str]:
    params = [("target", t) for t in targets]
    params += [("from", str(start)), ("until", str(until))]
    params += list(extra)
    return "/render", urllib.parse.urlencode(params)


def dashboard_requests(seed: int) -> list[tuple[str, str]]:
    """Every dashboard panel once; the seed picks each panel's start day."""
    rng = random.Random(f"dashboard:{seed}")
    out = []
    for targets, window, mdp in DASHBOARD_PANELS:
        start = EVENTS_FROM + DAY * rng.randrange(EVENTS_DAYS - window // DAY + 1)
        extra = [("format", "json"), ("noCache", "1")]
        if mdp:
            extra.append(("maxDataPoints", str(mdp)))
        out.append(_render(targets, start, start + window, extra))
    return out


def wide_requests(seed: int) -> list[tuple[str, str]]:
    """One full-day export per ``WIDE_EXPORTS`` row, 1.04 * 10^5 points
    before consolidation; the seed picks the data center, subsystems
    and day."""
    rng = random.Random(f"wide_export:{seed}")
    out = []
    for fmt, mdp, shape in WIDE_EXPORTS:
        dc = rng.randrange(DCS)
        if shape == 0:
            targets = [f"dc{dc}.*.{rng.choice(SUBSYS)}.*"]
        elif shape == 1:
            a, b = rng.sample(SUBSYS, 2)
            targets = [f"dc{dc}.host0*.{a}.*", f"dc{dc}.host1*.{b}.*"]
        else:
            targets = [f"seriesByTag('name=app.requests','dc=dc{dc}')",
                       f"dc{dc}.host0*.{rng.choice(SUBSYS)}.*"]
        day = WIDE_FROM + 86400 * rng.randrange(WIDE_DAYS)
        extra = [("format", fmt), ("noCache", "1")]
        if mdp:
            extra.append(("maxDataPoints", str(mdp)))
        out.append(_render(targets, day, day + 86400, extra))
    return out


def dashboard_probes(seed: int) -> list[tuple[str, str]]:
    """Requests only the traced run sends.  The first panel with the
    response cache on: the warm-up pass stores it, so the traced run's
    HTTP request for it is a cache hit.  And one call per metadata
    endpoint, name-only scans of the lake (the events lake is small
    enough that they stay interactive)."""
    path, query = dashboard_requests(seed)[0]
    rng = random.Random(f"dashboard-metadata:{seed}")
    event = rng.choice(EVENT_TYPES)
    return [
        (path, query.replace("noCache=1", f"cacheTimeout={PROBE_CACHE_TIMEOUT}")),
        ("/metrics/find", urllib.parse.urlencode({"query": "events.*"})),
        ("/metrics/expand", urllib.parse.urlencode({"query": f"events.u*.{event}"})),
        ("/tags/autoComplete/tags", urllib.parse.urlencode({"tagPrefix": ""})),
        ("/tags/autoComplete/values", urllib.parse.urlencode({"tag": "name"})),
    ]


def requests_for(workload: str, seed: int, probes: bool) -> list[tuple[str, str]]:
    """The timed requests, then (``probes``) the requests only the traced
    run sends.  Every one is in the warm-up pass and the answer key."""
    if workload == "dashboard":
        return dashboard_requests(seed) + (dashboard_probes(seed) if probes else [])
    return wide_requests(seed)


def timed_count(workload: str) -> int:
    return {"dashboard": len(DASHBOARD_PANELS), "wide_export": len(WIDE_EXPORTS)}[workload]


def schedule(workload: str, seed: int, n_requests: int):
    """Endless sequence of timed-request indices: whole passes over every
    request, each pass in a seeded order.  All clients of a run share it
    (a browser loading a dashboard's panels over several connections),
    so every run serves the same mix."""
    rng = random.Random(f"{workload}:{seed}")
    order = list(range(n_requests))
    while True:
        rng.shuffle(order)
        yield from order


def datapipe_order(seed: int) -> list[int]:
    order = list(range(len(DATAPIPE_ENTRIES)))
    random.Random(f"datapipe:{seed}").shuffle(order)
    return order
