import math

import pytest
from pyspark.sql import SparkSession

from carbonapi_spark.evaluator import EvalContext, eval_target
from carbonapi_spark.model.series import NAME, ORD, TS, VALUE
from carbonapi_spark.sources.lake import SeriesLake


@pytest.fixture(scope="session")
def spark():
    s = (SparkSession.builder
         .master("local[4]")
         .appName("carbonapi-spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.adaptive.enabled", "true")
         .getOrCreate())
    yield s
    s.stop()


def make_lake(spark, series: dict[str, list], step: int = 1, start: int = 0) -> SeriesLake:
    """MakeMetricData analog (types.go:802): dense values, NaN/None = gap.

    Gaps are stored as NULL rows, so every series has a row at every
    bucket; tests/test_sparse_frames.py renders lakes that leave the
    gaps out."""
    rows = []
    for name, values in series.items():
        for i, v in enumerate(values):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                v = None  # stored as a NULL row: the series exists in the lake
            else:
                v = float(v)
            rows.append((name, start + i * step, v))
    df = spark.createDataFrame(rows, "name STRING, ts BIGINT, value DOUBLE")
    return SeriesLake(df, step)


def run(spark, lake: SeriesLake, target: str, from_ts: int, until_ts: int):
    """Evaluate a target; return {name: [(ts, value), ...]} sorted by ts."""
    ctx = EvalContext(spark, lake, from_ts, until_ts)
    frame = eval_target(ctx, target)
    out: dict[str, list] = {}
    for row in frame.df.collect():
        out.setdefault(row[NAME], []).append((row[TS], row[VALUE]))
    for k in out:
        out[k].sort()
    return out


def build_round_trips(spark, lake, target: str, from_ts: int = 0,
                      until_ts: int = 2 * 86400) -> int:
    """py4j round trips one build of *target* over [from_ts, until_ts)
    makes on the calling thread, counted at
    ``ClientServerConnection.send_command``; the build runs once
    beforehand, so cached expressions are warm, and the garbage collector
    is held so no finalizer's delete command lands in the count."""
    import gc
    import threading

    import py4j.clientserver as cs
    assert isinstance(spark.sparkContext._gateway, cs.ClientServer)
    me, count = threading.get_ident(), [0]
    real = cs.ClientServerConnection.send_command

    def send_command(self, command):
        if threading.get_ident() == me:
            count[0] += 1
        return real(self, command)

    eval_target(EvalContext(spark, lake, from_ts, until_ts), target)
    gc.collect()
    gc.disable()
    cs.ClientServerConnection.send_command = send_command
    try:
        eval_target(EvalContext(spark, lake, from_ts, until_ts), target)
    finally:
        cs.ClientServerConnection.send_command = real
        gc.enable()
    return count[0]


def values_of(result: dict, name: str) -> list:
    return [v for _, v in result[name]]


def approx_list(got: list, want: list, tol: float = 1e-9):
    assert len(got) == len(want), f"length {len(got)} != {len(want)}: {got} vs {want}"
    for i, (g, w) in enumerate(zip(got, want)):
        if w is None:
            assert g is None, f"idx {i}: expected None, got {g}"
        else:
            assert g is not None, f"idx {i}: expected {w}, got None"
            assert g == pytest.approx(w, abs=tol), f"idx {i}: {g} != {w}"
