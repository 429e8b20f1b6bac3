"""Table-driven function tests, modeled on the reference's per-function
unit tests (expr/functions/*/function_test.go via tests/helper.go)."""

import math

import pytest

from tests.conftest import approx_list, make_lake, run, values_of

NAN = float("nan")


# ----------------------------------------------------------- fetch basics

def test_plain_fetch_densifies(spark):
    lake = make_lake(spark, {"a.b": [1, 2, None, 4]}, step=1, start=0)
    res = run(spark, lake, "a.b", 0, 4)
    assert values_of(res, "a.b") == [1.0, 2.0, None, 4.0]


def test_glob_fetch(spark):
    lake = make_lake(spark, {"a.b1.c": [1], "a.b2.c": [2], "a.x.d": [3]}, 1, 0)
    res = run(spark, lake, "a.b*.c", 0, 1)
    assert set(res) == {"a.b1.c", "a.b2.c"}


# ----------------------------------------------------------- aggregation

def test_sum_series(spark):
    lake = make_lake(spark, {"m.a": [1, 2, 3], "m.b": [10, None, 30]}, 1, 0)
    res = run(spark, lake, "sumSeries(m.*)", 0, 3)
    approx_list(values_of(res, "sumSeries(m.*)"), [11, 2, 33])


def test_sum_all_nan_is_null(spark):
    lake = make_lake(spark, {"m.a": [1, None], "m.b": [2, None]}, 1, 0)
    res = run(spark, lake, "sumSeries(m.*)", 0, 2)
    approx_list(values_of(res, "sumSeries(m.*)"), [3, None])


def test_average_series(spark):
    lake = make_lake(spark, {"m.a": [1, 2], "m.b": [3, None]}, 1, 0)
    res = run(spark, lake, "averageSeries(m.*)", 0, 2)
    approx_list(values_of(res, "averageSeries(m.*)"), [2, 2])


def test_aggregate_named(spark):
    lake = make_lake(spark, {"m.a": [1, 2], "m.b": [3, 6]}, 1, 0)
    res = run(spark, lake, "aggregate(m.*, 'max')", 0, 2)
    approx_list(values_of(res, "maxSeries(m.*)"), [3, 6])


def test_aggregate_diff(spark):
    # diff = first - sum(rest non-null)  (consolidations.go:233-239)
    lake = make_lake(spark, {"m.a": [10, 10, None], "m.b": [3, None, 1]}, 1, 0)
    res = run(spark, lake, "diffSeries(m.a, m.b)", 0, 3)
    approx_list(values_of(res, "diffSeries(m.a, m.b)"), [7, None, None])


def test_aggregate_multiply_nan_propagates(spark):
    lake = make_lake(spark, {"m.a": [2, 2], "m.b": [3, None]}, 1, 0)
    res = run(spark, lake, "multiplySeries(m.a, m.b)", 0, 2)
    approx_list(values_of(res, "multiplySeries(m.a, m.b)"), [6, None])


def test_count_series(spark):
    lake = make_lake(spark, {"m.a": [1, None], "m.b": [1, None]}, 1, 0)
    res = run(spark, lake, "countSeries(m.*)", 0, 2)
    approx_list(values_of(res, "countSeries(m.*)"), [2, None])


def test_avg_zero(spark):
    lake = make_lake(spark, {"m.a": [1, None], "m.b": [3, None]}, 1, 0)
    res = run(spark, lake, "aggregate(m.*, 'avg_zero')", 0, 2)
    approx_list(values_of(res, "avg_zeroSeries(m.*)"), [2, None])


def test_group_by_node(spark):
    lake = make_lake(spark, {
        "servers.s1.cpu": [1, 2],
        "servers.s2.cpu": [10, 20],
        "servers.s1.mem": [5, 5],
    }, 1, 0)
    res = run(spark, lake, "groupByNode(servers.*.*, 2, 'sum')", 0, 2)
    assert set(res) == {"cpu", "mem"}
    approx_list(values_of(res, "cpu"), [11, 22])
    approx_list(values_of(res, "mem"), [5, 5])


def test_percentile_of_series(spark):
    lake = make_lake(spark, {f"m.{i}": [float(i)] for i in range(1, 11)}, 1, 0)
    res = run(spark, lake, "percentileOfSeries(m.*, 50)", 0, 1)
    # non-interpolated: element at ceil((n-1)*p/100) of sorted
    approx_list(values_of(res, "percentileOfSeries(m.*, 50)"), [6.0])


# ----------------------------------------------------------- transforms

def test_scale_and_name(spark):
    lake = make_lake(spark, {"m.a": [1, 2, None]}, 1, 0)
    res = run(spark, lake, "scale(m.a, 2.5)", 0, 3)
    approx_list(values_of(res, "scale(m.a,2.5)"), [2.5, 5.0, None])


def test_derivative(spark):
    lake = make_lake(spark, {"m.a": [2, 4, 6, 1, 4, None, 8]}, 1, 0)
    res = run(spark, lake, "derivative(m.a)", 0, 7)
    approx_list(values_of(res, "derivative(m.a)"),
                [None, 2, 2, -5, 3, None, None])


def test_non_negative_derivative(spark):
    lake = make_lake(spark, {"m.a": [2, 4, 0, 1, 3]}, 1, 0)
    res = run(spark, lake, "nonNegativeDerivative(m.a)", 0, 5)
    approx_list(values_of(res, "nonNegativeDerivative(m.a)"),
                [None, 2, None, 1, 2])


def test_non_negative_derivative_wrap(spark):
    lake = make_lake(spark, {"m.a": [95, 5]}, 1, 0)
    res = run(spark, lake, "nonNegativeDerivative(m.a, 100)", 0, 2)
    # (max - prev) + (v - min) + 1 = (100-95)+(5-0)+1 = 11
    approx_list(values_of(res, "nonNegativeDerivative(m.a,100)"), [None, 11])


def test_integral(spark):
    lake = make_lake(spark, {"m.a": [1, 2, None, 4]}, 1, 0)
    res = run(spark, lake, "integral(m.a)", 0, 4)
    approx_list(values_of(res, "integral(m.a)"), [1, 3, None, 7])


def test_keep_last_value_limited(spark):
    lake = make_lake(spark, {"m.a": [1, None, None, None, 5, None]}, 1, 0)
    res = run(spark, lake, "keepLastValue(m.a, 2)", 0, 6)
    # carbonapi fills the first `limit` points of longer gaps
    approx_list(values_of(res, "keepLastValue(m.a,2)"),
                [1, 1, 1, None, 5, 5])


def test_invert_guards_zero(spark):
    lake = make_lake(spark, {"m.a": [2, 0, None]}, 1, 0)
    res = run(spark, lake, "invert(m.a)", 0, 3)
    approx_list(values_of(res, "invert(m.a)"), [0.5, None, None])


def test_transform_null(spark):
    lake = make_lake(spark, {"m.a": [1, None, 3]}, 1, 0)
    res = run(spark, lake, "transformNull(m.a, -1)", 0, 3)
    approx_list(values_of(res, "transformNull(m.a,-1)"), [1, -1, 3])


def test_offset_to_zero(spark):
    lake = make_lake(spark, {"m.a": [3, 5, 9]}, 1, 0)
    res = run(spark, lake, "offsetToZero(m.a)", 0, 3)
    approx_list(values_of(res, "offsetToZero(m.a)"), [0, 2, 6])


def test_interpolate(spark):
    lake = make_lake(spark, {"m.a": [0, None, None, 3, None]}, 1, 0)
    res = run(spark, lake, "interpolate(m.a)", 0, 5)
    approx_list(values_of(res, "interpolate(m.a)"), [0, 1, 2, 3, None])


# ----------------------------------------------------------- alias family

def test_alias(spark):
    lake = make_lake(spark, {"m.a": [1]}, 1, 0)
    res = run(spark, lake, "alias(m.a, 'renamed')", 0, 1)
    assert list(res) == ["renamed"]


def test_alias_by_node(spark):
    lake = make_lake(spark, {"servers.s1.cpu.load": [1]}, 1, 0)
    res = run(spark, lake, "aliasByNode(servers.s1.cpu.load, 1, -1)", 0, 1)
    assert list(res) == ["s1.load"]


def test_alias_sub(spark):
    lake = make_lake(spark, {"ip-10-0-0-1.cpu": [1]}, 1, 0)
    res = run(spark, lake, r"aliasSub(ip-*.cpu, 'ip-(\d+)-', 'h\1.')", 0, 1)
    assert list(res) == ["h10.0-0-1.cpu"]


# ----------------------------------------------------------- summarize

def test_summarize_reference_case(spark):
    # reference summarize/function_test.go:33-50
    vals = ([1.0] * 5 + [2.0] * 5 + [3.0] * 5 + [4.0] * 5 + [5.0] * 5
            + [NAN, 2.0, 3.0, 4.0, 5.0] + [NAN] * 5)
    lake = make_lake(spark, {"metric1": vals}, 1, 0)
    res = run(spark, lake, "summarize(metric1, '5s')", 0, 35)
    approx_list(values_of(res, "summarize(metric1,'5s')"),
                [5, 10, 15, 20, 25, 14, None, None])


def test_summarize_align_to_from(spark):
    vals = [1.0] * 10
    lake = make_lake(spark, {"metric1": vals}, 1, 3)
    res = run(spark, lake, "summarize(metric1, '5s', 'sum', true)", 3, 13)
    approx_list(values_of(res, "summarize(metric1,'5s','sum',true)"), [5, 5])


def test_summarize_max(spark):
    lake = make_lake(spark, {"m": [1, 2, 3, 4, 5, 6]}, 1, 0)
    res = run(spark, lake, "summarize(m, '3s', 'max')", 0, 6)
    approx_list(values_of(res, "summarize(m,'3s','max')"), [3, 6, None])


# ----------------------------------------------------------- moving

def test_moving_average(spark):
    lake = make_lake(spark, {"m": [1, 2, 3, 4, 5]}, 1, 0)
    res = run(spark, lake, "movingAverage(m, 2)", 2, 5)
    # window = current + previous point over extended fetch [0, 5)
    approx_list(values_of(res, "movingAverage(m,2)"), [2.5, 3.5, 4.5])


def test_moving_sum_interval(spark):
    lake = make_lake(spark, {"m": [1, 1, 1, 1, 1, 1]}, 1, 0)
    res = run(spark, lake, "movingSum(m, '3s')", 3, 6)
    approx_list(values_of(res, "movingSum(m,'3s')"), [3, 3, 3])


def test_moving_median_odd_window(spark):
    lake = make_lake(spark, {"m": [5, 1, 4, 2, 3, 9]}, 1, 0)
    res = run(spark, lake, "movingMedian(m, 3)", 3, 6)
    # windows: [1,4,2]->2, [4,2,3]->3, [2,3,9]->3
    approx_list(values_of(res, "movingMedian(m,3)"), [2, 3, 3])


def test_moving_median_even_window_interpolates(spark):
    lake = make_lake(spark, {"m": [1, 3, 5, 7]}, 1, 0)
    res = run(spark, lake, "movingMedian(m, 2)", 2, 4)
    # even window -> mean of the two middle values (linear interpolation)
    approx_list(values_of(res, "movingMedian(m,2)"), [4, 6])


def test_moving_median_skips_nulls(spark):
    lake = make_lake(spark, {"m": [1, None, 9, None, None, None]}, 1, 0)
    res = run(spark, lake, "movingMedian(m, 3)", 3, 6)
    # [None,9,None]->9, [9,None,None]->9, all-None->None
    approx_list(values_of(res, "movingMedian(m,3)"), [9, 9, None])


def test_moving_median_xff(spark):
    lake = make_lake(spark, {"m": [1, None, 9, 5, 7, 3]}, 1, 0)
    res = run(spark, lake, "movingMedian(m, 3, 0.7)", 3, 6)
    # first window has 2/3 non-null < 0.7 -> gated to None
    approx_list(values_of(res, "movingMedian(m,3)"), [None, 7, 5])


def test_moving_window_compound_folds(spark):
    """A fold made of several aggregate calls (an xFilesFactor gate, count,
    range) is a window function too: each of its aggregates takes the
    trailing frame."""
    lake = make_lake(spark, {"m": [1, None, 9, 5, 7, 3]}, 1, 0)
    res = run(spark, lake, "movingAverage(m, 3, 0.7)", 3, 6)
    approx_list(values_of(res, "movingAverage(m,3)"), [None, 7, 5])
    res = run(spark, lake, "movingWindow(m, 3, 'range')", 3, 6)
    approx_list(values_of(res, "movingWindow(m,3)"), [4, 4, 4])
    res = run(spark, lake, "movingWindow(m, 3, 'count')", 3, 6)
    approx_list(values_of(res, "movingWindow(m,3)"), [2, 3, 3])


def test_moving_median_wide_window_pandas_path(spark):
    # wp > _LAG_WINDOW_MAX exercises the applyInPandas rolling kernel;
    # must agree with the lag-array path's semantics
    from carbonapi_spark.functions import windowed

    vals = [float((7 * i) % 23) for i in range(300)]
    vals[13] = None
    lake = make_lake(spark, {"m": vals}, 1, 0)
    res_wide = run(spark, lake, "movingMedian(m, 150)", 150, 300)
    got = values_of(res_wide, "movingMedian(m,150)")
    import numpy as np
    expect = []
    for t in range(150, 300):
        window = [v for v in vals[t - 149:t + 1] if v is not None]
        expect.append(float(np.percentile(window, 50)))
    assert windowed._LAG_WINDOW_MAX < 150
    approx_list(got, expect)


def test_moving_window_p75(spark):
    lake = make_lake(spark, {"m": [1, 2, 3, 4, 5, 6]}, 1, 0)
    res = run(spark, lake, "movingWindow(m, 4, 'p75')", 4, 6)
    # windows [2,3,4,5],[3,4,5,6]; p75 linear-interpolated at rank 2.25
    approx_list(values_of(res, "movingWindow(m,4)"), [4.25, 5.25])


# ----------------------------------------------------------- sort/filter

def test_highest_average(spark):
    lake = make_lake(spark, {"m.a": [1, 1], "m.b": [9, 9], "m.c": [5, 5]}, 1, 0)
    res = run(spark, lake, "highestAverage(m.*, 2)", 0, 2)
    assert set(res) == {"m.b", "m.c"}


def test_maximum_above(spark):
    lake = make_lake(spark, {"m.a": [1, 2], "m.b": [1, 99]}, 1, 0)
    res = run(spark, lake, "maximumAbove(m.*, 50)", 0, 2)
    assert set(res) == {"m.b"}


def test_exclude(spark):
    lake = make_lake(spark, {"m.keep": [1], "m.drop": [1]}, 1, 0)
    res = run(spark, lake, "exclude(m.*, 'drop')", 0, 1)
    assert set(res) == {"m.keep"}


def test_remove_above_value(spark):
    lake = make_lake(spark, {"m.a": [1, 100, 2]}, 1, 0)
    res = run(spark, lake, "removeAboveValue(m.a, 50)", 0, 3)
    approx_list(values_of(res, "removeAboveValue(m.a,50)"), [1, None, 2])


def test_remove_empty_series(spark):
    lake = make_lake(spark, {"m.a": [1, None], "m.b": [None, None]}, 1, 0)
    res = run(spark, lake, "removeEmptySeries(m.*)", 0, 2)
    assert set(res) == {"m.a"}


def test_limit(spark):
    lake = make_lake(spark, {"m.a": [1], "m.b": [2], "m.c": [3]}, 1, 0)
    res = run(spark, lake, "limit(m.*, 2)", 0, 1)
    assert set(res) == {"m.a", "m.b"}


# ----------------------------------------------------------- joins

def test_divide_series(spark):
    lake = make_lake(spark, {"m.num": [10, 20, 5], "m.den": [2, 0, None]}, 1, 0)
    res = run(spark, lake, "divideSeries(m.num, m.den)", 0, 3)
    approx_list(values_of(res, "divideSeries(m.num,m.den)"), [5, None, None])


def test_as_percent_self_total(spark):
    lake = make_lake(spark, {"m.a": [1, 1], "m.b": [3, None]}, 1, 0)
    res = run(spark, lake, "asPercent(m.*)", 0, 2)
    approx_list(values_of(res, "asPercent(m.a,sumSeries(m.*))"), [25, 100])
    approx_list(values_of(res, "asPercent(m.b,sumSeries(m.*))"), [75, None])


def test_as_percent_const(spark):
    lake = make_lake(spark, {"m.a": [1, 2]}, 1, 0)
    res = run(spark, lake, "asPercent(m.a, 4)", 0, 2)
    approx_list(values_of(res, "asPercent(m.a,4)"), [25, 50])


def test_sum_series_lists(spark):
    lake = make_lake(spark, {"a.x": [1, 2], "a.y": [3, 4],
                             "b.x": [10, 10], "b.y": [20, 20]}, 1, 0)
    res = run(spark, lake, "sumSeriesLists(a.*, b.*)", 0, 2)
    approx_list(values_of(res, "sumSeries(a.x,b.x)"), [11, 12])
    approx_list(values_of(res, "sumSeries(a.y,b.y)"), [23, 24])


# ----------------------------------------------------------- timeshift

def test_time_shift(spark):
    lake = make_lake(spark, {"m.a": [1, 2, 3, 4, 5, 6]}, 1, 0)
    res = run(spark, lake, "timeShift(m.a, '-2s')", 2, 4)
    # shifted fetch [0,2) relabeled to [2,4)
    assert res["timeShift(m.a,'-2s')"] == [(2, 1.0), (3, 2.0)]


# ----------------------------------------------------------- synthetic

def test_time_function(spark):
    lake = make_lake(spark, {}, 1, 0)
    res = run(spark, lake, "time('t', 30)", 0, 90)
    assert res["t"] == [(0, 0.0), (30, 30.0), (60, 60.0)]


def test_constant_line(spark):
    lake = make_lake(spark, {}, 1, 0)
    res = run(spark, lake, "constantLine(42.5)", 0, 100)
    assert [v for _, v in res["42.5"]] == [42.5, 42.5, 42.5]


# ------------------------------------------------- alignment edge cases

def test_summarize_coarse_step_to_finer_bucket(spark):
    # reference summarize/function_test.go:52-66: step-10 series re-bucketed
    # to 5s: values land in their own buckets, gaps are NaN
    lake = make_lake(spark, {"metric1": [1, 2, 3, 4, 5]}, step=10, start=0)
    res = run(spark, lake, "summarize(metric1, '5s')", 0, 50)
    approx_list(values_of(res, "summarize(metric1,'5s')"),
                [1, None, 2, None, 3, None, 4, None, 5, None, None])


def test_mixed_step_lcm_alignment(spark):
    # combining step-2 (summarize output) with step-1 series: LCM
    # re-consolidation with 'average' (ScaleToCommonStep, align.go:76)
    lake = make_lake(spark, {"m": [1, 2, 3, 4], "m2": [10, 20, 30, 40]}, 1, 0)
    res = run(spark, lake, "sumSeries(summarize(m, '2s', 'avg'), m2)", 0, 4)
    name = "sumSeries(summarize(m, '2s', 'avg'), m2)"
    approx_list(values_of(res, name), [16.5, 38.5, None])


def test_as_percent_nodes_missing_pad(spark):
    # asPercent(sl, total, nodes): unmatched groups pad with MISSING
    # (asPercent/function.go:400-430)
    lake = make_lake(spark, {
        "a.s1.used": [50.0], "a.s2.used": [30.0],
        "t.s1.total": [100.0], "t.s3.total": [10.0],
    }, 1, 0)
    res = run(spark, lake, "asPercent(a.*.used, t.*.total, 1)", 0, 1)
    assert "asPercent(a.s1.used,t.s1.total)" in res
    approx_list(values_of(res, "asPercent(a.s1.used,t.s1.total)"), [50.0])
    assert "asPercent(a.s2.used,MISSING)" in res
    approx_list(values_of(res, "asPercent(a.s2.used,MISSING)"), [None])
    assert "asPercent(MISSING,t.s3.total)" in res


def test_as_percent_nodes_missing_literal_name(spark):
    # a genuine series whose NAME contains the substring "MISSING" must keep
    # its values when its total matched — padding is driven by join-side
    # nullness, not by pattern-matching the rebuilt display name
    # (asPercent/function.go:400-430)
    lake = make_lake(spark, {
        "a.MISSING_data.used": [50.0], "t.MISSING_data.total": [200.0],
    }, 1, 0)
    res = run(spark, lake, "asPercent(a.*.used, t.*.total, 1)", 0, 1)
    name = "asPercent(a.MISSING_data.used,t.MISSING_data.total)"
    assert name in res
    approx_list(values_of(res, name), [25.0])


def test_divide_series_lists_length_mismatch(spark):
    import pytest as _pytest
    lake = make_lake(spark, {"a.x": [1], "a.y": [2], "b.x": [3]}, 1, 0)
    with _pytest.raises(Exception, match="same length"):
        run(spark, lake, "divideSeriesLists(a.*, b.*)", 0, 1)


def test_weighted_average(spark):
    lake = make_lake(spark, {
        "avg.s1": [10.0, 20.0], "avg.s2": [30.0, 40.0],
        "wgt.s1": [1.0, 1.0], "wgt.s2": [3.0, 1.0],
    }, 1, 0)
    res = run(spark, lake, "weightedAverage(avg.*, wgt.*, 1)", 0, 2)
    name = "weightedAverage(avg.*,wgt.*,1)"
    # ts0: (10*1 + 30*3)/(1+3) = 25; ts1: (20+40)/2 = 30
    approx_list(values_of(res, name), [25.0, 30.0])
