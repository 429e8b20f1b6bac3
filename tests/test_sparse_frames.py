"""A missing row means a gap, exactly as a NULL row does.

Fetches return the sparse scan; ``SeriesFrame.densify()`` is called by
``combine()`` and by the operators whose result would differ. These
tests render targets with ``collect_series`` over two copies of one
lake — one leaves points out, the other stores them as NULL rows — and
require the same series.
"""

import math
import random

import pytest

from carbonapi_spark.entry_queries import QUERIES
from carbonapi_spark.evaluator import EvalContext, eval_target
from carbonapi_spark.render.serialize import collect_series
from carbonapi_spark.sources.lake import SeriesLake
from carbonapi_spark.sources.testdata import EVENTS_FROM, EVENTS_STEP

CATALOG = list(dict.fromkeys(
    q.__name__[len("graphite["):-1] for q in QUERIES.values()
    if q.__name__.startswith("graphite[")))

# the dashboard workload's panels (targets, maxDataPoints); the 200 points
# of a 28-day hourly panel scale to 14 of this lake's 48, the same
# four-to-one consolidation
PANELS = [
    (("events.u*.click",), 0),
    (("sumSeries(events.u*.click)",), 0),
    (("groupByNode(events.u*.*, 2, 'sum')",), 14),
    (("movingAverage(events.click, 6)",), 0),
    (("highestAverage(events.u*.click, 3)",), 0),
    (("divideSeries(events.purchase, events.click)",), 0),
    (("sortByMaxima(events.*.click)|limit(3)",), 0),
    (("movingAverage(sumSeries(events.u*.click),'6h')",), 14),
    (("events.u*.click", "sumSeries(events.u*.view)"), 0),
]

# targets whose per-series fold counts rows (SeriesFrame.per_series reads
# the densified frame for them) or that concatenate series lists; no
# catalog target or panel reaches these folds
FOLDS = [
    "sortBy(events.u*.click,'last')",
    "highest(events.u*.view,2,'multiply')",
    "filterSeries(events.u*.purchase,'first','>',0)",
    "legendValue(events.u*.click,'avg','last')",
    "tukeyBelow(events.u*.click,'diff',0)",
    "cactiStyle(events.u*.error)",
    "sortByMinima(events.u*.view)",
    "timeStack(events.click,'1h',0,2)",
    "join(events.u0.click,events.u1.click,'OR')",
]

TYPES = ("click", "view", "purchase", "signup", "error")
HOURS = 48
UNTIL = EVENTS_FROM + HOURS * EVENTS_STEP
SCHEMA = "name STRING, ts BIGINT, value DOUBLE"


def _events_points():
    """(name, ts, value, left_out) of 6 users x 5 event types plus the
    per-type series, hourly: ~15% of the points are left out of the
    sparse lake, ~3% are NULL in both. User k's values run up to 30(k+1),
    so the value filters and outlier tests keep some series."""
    rng = random.Random(5)
    series = [(f"events.{t}", 60) for t in TYPES]
    series += [(f"events.u{u}.{t}", 30 * (u + 1)) for u in range(6) for t in TYPES]
    out = []
    for name, top in series:
        for h in range(HOURS):
            r = rng.random()
            value = None if 0.15 <= r < 0.18 else float(rng.randint(0, top))
            out.append((name, EVENTS_FROM + h * EVENTS_STEP, value, r < 0.15))
    return out


def _lakes(spark, points, step):
    """(sparse lake, lake with the left-out points as NULL rows)."""
    sparse = [(n, t, v) for n, t, v, out in points if not out]
    nulls = [(n, t, None if out else v) for n, t, v, out in points]
    return tuple(SeriesLake(spark.createDataFrame(rows, SCHEMA), step)
                 for rows in (sparse, nulls))


@pytest.fixture(scope="module")
def events_lakes(spark):
    return _lakes(spark, _events_points(), EVENTS_STEP)


def _render(spark, lake, targets, f, u, mdp):
    ctx = EvalContext(spark, lake, f, u)
    return [(s.name, s.start, s.stop, s.step, s.values)
            for t in targets
            for s in collect_series(eval_target(ctx, t), mdp)]


def _same_value(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def _assert_same_series(got, want):
    assert [s[:4] for s in got] == [s[:4] for s in want]
    for (name, *_r, a), (*_w, b) in zip(got, want):
        assert len(a) == len(b), name
        bad = [i for i, (x, y) in enumerate(zip(a, b)) if not _same_value(x, y)]
        assert not bad, f"{name} @ {bad[:5]}: {[a[i] for i in bad[:5]]} " \
                        f"vs {[b[i] for i in bad[:5]]}"


@pytest.mark.parametrize(
    "targets, mdp",
    [((t,), 0) for t in CATALOG + FOLDS] + PANELS,
    ids=[f"catalog:{t}" for t in CATALOG] + [f"fold:{t}" for t in FOLDS]
    + [f"panel:{'&'.join(t)}|mdp={m}" for t, m in PANELS])
def test_missing_row_renders_like_null_row(spark, events_lakes, targets, mdp):
    sparse, nulls = events_lakes
    got = _render(spark, sparse, targets, EVENTS_FROM, UNTIL, mdp)
    want = _render(spark, nulls, targets, EVENTS_FROM, UNTIL, mdp)
    assert want, "the target renders no series"
    _assert_same_series(got, want)


# 12 points at step 10: maxDataPoints=3 folds them 4 to a bucket, with 1,
# 3 and 3 points present
_GAPPY = [1.0, None, None, None, 2.0, 3.0, None, 4.0, None, 5.0, 6.0, 7.0]


@pytest.mark.parametrize("target", [
    "setXFilesFactor(m.a, 0.5)", "consolidateBy(m.a, 'multiply')",
    "consolidateBy(m.a, 'first')", "consolidateBy(m.a, 'last')",
    "consolidateBy(m.a, 'avg_zero')", "consolidateBy(m.a, 'diff')",
    "consolidateBy(m.a, 'sum')"])
def test_max_data_points_consolidation_missing_like_null(spark, target):
    """SeriesFrame.consolidate_to densifies before a fold that counts the
    bucket's rows, so a sparse fetch consolidates like the dense one."""
    points = [("m.a", 10 * i, v, v is None) for i, v in enumerate(_GAPPY)]
    sparse, nulls = _lakes(spark, points, 10)
    got = _render(spark, sparse, [target], 0, 120, 3)
    _assert_same_series(got, _render(spark, nulls, [target], 0, 120, 3))
    if target.startswith("setXFilesFactor"):
        # the first bucket holds 1 point of 4, below the factor
        assert got == [("m.a", 0, 120, 40, [None, 3.0, 6.0])]
