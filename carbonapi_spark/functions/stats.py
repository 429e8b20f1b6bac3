"""Statistical kernels (SURVEY §2.7 tail + §2.5 correlation).

Genuinely recursive/spectral computations (EMA, Holt-Winters, polyfit, FFT)
run as Arrow-batched ``applyInPandas`` kernels *grouped by series*: each
group is one series' dense vector (bounded by the request window), so the
Python boundary is crossed once per series, not per point — the only
sanctioned use of Python in this engine. Correlation (pearson*) stays
JVM-side via ``corr`` window/grouping aggregates.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from carbonapi_spark.evaluator import eval_expr, static_step
from carbonapi_spark.functions import register
from carbonapi_spark.sqltext import expr_cached, selectx, sql_lit
from carbonapi_spark.functions.helper import wrap_name
from carbonapi_spark.model.series import (
    NAME, ORD, TS, VALUE, SERIES_SCHEMA, SeriesFrame, align, ranked, trailing,
)



def _kernel(frame: SeriesFrame, fn, out_start: int | None = None,
            out_stop: int | None = None) -> SeriesFrame:
    """Run fn(ts: np.ndarray, vals: np.ndarray) -> (out_ts, out_vals) per
    series over the dense frame."""
    frame = frame.densify()
    step = frame.step

    def apply(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(TS)
        ts = pdf[TS].to_numpy()
        vals = pdf[VALUE].to_numpy(dtype=float)
        out_ts, out_vals = fn(ts, vals)
        n = len(out_ts)
        return pd.DataFrame({
            NAME: np.repeat(pdf[NAME].iloc[0], n),
            ORD: np.repeat(pdf[ORD].iloc[0], n),
            TS: out_ts,
            VALUE: out_vals,
        })

    df = frame.df.groupBy(ORD).applyInPandas(apply, SERIES_SCHEMA)
    return SeriesFrame(df, step,
                       frame.start if out_start is None else out_start,
                       frame.stop if out_stop is None else out_stop,
                       frame.consolidation, frame.xff, dense=True)


# ------------------------------------------------------------------ EMA

@register("exponentialMovingAverage")
def exponential_moving_average(ctx, exp, f, u):
    """EMA with c=2/(n+1), seeded by the mean of the first window; output
    half-even rounded to 6 — exponentialMovingAverage/function.go:32-141."""
    arg1 = exp.args[1]
    if arg1.is_const():
        wp = abs(exp.get_int(1))
        argstr = arg1.val_str
        # the argument's step from the static step pass; an interval
        # window needs no step
        preview = wp * static_step(ctx, exp.args[0], f, u)
        constant = 2.0 / (wp + 1)
    else:
        preview = abs(exp.get_interval(1))
        argstr = f'"{arg1.val_str or arg1.target}"'
        constant = 2.0 / (preview + 1)
    frame = eval_expr(ctx, exp.args[0], f - preview, u)
    wp_eff = preview // frame.step

    def ema_fn(ts, vals):
        from carbonapi_spark.kernels import ema_series
        return ema_series(vals, wp_eff, constant, preview, ts)

    out = _kernel(frame, ema_fn, frame.start + preview, frame.stop)
    return wrap_name("exponentialMovingAverage", out, argstr)


@register("ewma", "exponentialWeightedMovingAverage")
def ewma(ctx, exp, f, u):
    """EMA with explicit alpha; NaN passes through without updating state
    — ewma/function.go:31-71."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    alpha = exp.get_float(1)
    alpha_str = exp.args[1].val_str

    def ewma_fn(ts, vals):
        out = np.full(len(vals), np.nan)
        mean = None
        for i, v in enumerate(vals):
            if math.isnan(v):
                continue
            mean = v if mean is None else alpha * v + (1 - alpha) * mean
            out[i] = mean
        return ts, out

    return wrap_name("ewma", _kernel(frame, ewma_fn), alpha_str)


# --------------------------------------------------------- Holt-Winters

def _hw_args(ctx, exp, f, u):
    bootstrap = exp.get_interval(1, 1, 604800, names=("bootstrapInterval",))
    seasonality = exp.get_interval(2, 1, 86400, names=("seasonality",))
    frame = eval_expr(ctx, exp.args[0], f - bootstrap, u)
    return frame, bootstrap, seasonality


@register("holtWintersForecast")
def holt_winters_forecast(ctx, exp, f, u):
    """forecast, bootstrap window discarded — holtWintersForecast/function.go:30."""
    frame, bootstrap, seasonality = _hw_args(ctx, exp, f, u)
    step = frame.step
    wp = bootstrap // step

    def fn(ts, vals):
        from carbonapi_spark.kernels import hw_analysis
        pred, _ = hw_analysis(vals, step, seasonality)
        if len(pred) >= wp:
            return ts[wp:], pred[wp:]
        return ts, pred

    out = _kernel(frame, fn, frame.start + bootstrap, frame.stop)
    return out.map_name("format_string('holtWintersForecast(%s)', name)")


def _hw_bands(frame, bootstrap, seasonality, delta):
    step = frame.step
    wp = bootstrap // step

    def fn(ts, vals):
        from carbonapi_spark.kernels import hw_analysis
        pred, dev = hw_analysis(vals, step, seasonality)
        if len(pred) >= wp:
            ts, pred, dev = ts[wp:], pred[wp:], dev[wp:]
        bad = np.isnan(pred) | np.isnan(dev)
        lower = np.where(bad, np.nan, pred - delta * dev)
        upper = np.where(bad, np.nan, pred + delta * dev)
        return ts, lower, upper

    return fn, wp


@register("holtWintersConfidenceBands", "holtWintersConfidenceArea")
def holt_winters_confidence_bands(ctx, exp, f, u):
    """forecast ± delta*deviation — holtWintersConfidenceBands/function.go:30."""
    delta = exp.get_float(1, 3.0, names=("delta",))
    bootstrap = exp.get_interval(2, 1, 604800, names=("bootstrapInterval",))
    seasonality = exp.get_interval(3, 1, 86400, names=("seasonality",))
    frame = eval_expr(ctx, exp.args[0], f - bootstrap, u).densify()
    fn, wp = _hw_bands(frame, bootstrap, seasonality, delta)

    def apply(key, pdf):
        pdf = pdf.sort_values(TS)
        ts = pdf[TS].to_numpy()
        vals = pdf[VALUE].to_numpy(dtype=float)
        ts2, lower, upper = fn(ts, vals)
        base = pdf[NAME].iloc[0]
        o = pdf[ORD].iloc[0]
        return pd.DataFrame({
            NAME: ([f"holtWintersConfidenceLower({base})"] * len(ts2)
                   + [f"holtWintersConfidenceUpper({base})"] * len(ts2)),
            ORD: ([f"{o}|lower"] * len(ts2) + [f"{o}|upper"] * len(ts2)),
            TS: np.concatenate([ts2, ts2]),
            VALUE: np.concatenate([lower, upper]),
        })

    df = frame.df.groupBy(ORD).applyInPandas(apply, SERIES_SCHEMA)
    return SeriesFrame(df, frame.step, frame.start + bootstrap, frame.stop,
                       frame.consolidation, frame.xff, dense=True)


@register("holtWintersAberration")
def holt_winters_aberration(ctx, exp, f, u):
    """actual minus nearest band, else 0 — holtWintersAberration/function.go:31."""
    delta = exp.get_float(1, 3.0, names=("delta",))
    bootstrap = exp.get_interval(2, 1, 604800, names=("bootstrapInterval",))
    seasonality = exp.get_interval(3, 1, 86400, names=("seasonality",))
    frame = eval_expr(ctx, exp.args[0], f - bootstrap, u).densify()
    step = frame.step
    wp = bootstrap // step

    def fn(ts, vals):
        from carbonapi_spark.kernels import hw_analysis
        pred, dev = hw_analysis(vals, step, seasonality)
        actual = vals
        if len(pred) >= wp:
            ts2, pred, dev, actual = ts[wp:], pred[wp:], dev[wp:], vals[wp:]
        else:
            ts2 = ts
        lower = pred - delta * dev
        upper = pred + delta * dev
        out = np.zeros(len(ts2))
        for i in range(len(ts2)):
            a = actual[i]
            if math.isnan(a):
                out[i] = 0.0
            elif not math.isnan(upper[i]) and a > upper[i]:
                out[i] = a - upper[i]
            elif not math.isnan(lower[i]) and a < lower[i]:
                out[i] = a - lower[i]
            else:
                out[i] = 0.0
        return ts2, out

    out = _kernel(frame, fn, frame.start + bootstrap, frame.stop)
    return out.map_name("format_string('holtWintersAberration(%s)', name)")


# ------------------------------------------------------------- polyfit

@register("polyfit")
def polyfit(ctx, exp, f, u):
    """degree-k least-squares polynomial fit + optional forecast offset
    — polyfit/function.go:34 (gonum Vandermonde == numpy.polyfit)."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    degree = exp.get_int(1, 1, names=("degree",))
    offset = exp.get_interval(2, 1, 0, names=("offset",)) if len(exp.args) > 2 else 0
    step = frame.step
    extra = offset // step if offset else 0

    def fn(ts, vals):
        ok = ~np.isnan(vals)
        out_ts = np.concatenate([ts, ts[-1] + step * np.arange(1, extra + 1)]) \
            if extra else ts
        x_out = np.arange(len(out_ts), dtype=float)
        if ok.sum() < degree + 1:
            return out_ts, np.full(len(out_ts), np.nan)
        x = np.arange(len(ts), dtype=float)[ok]
        coeffs = np.polyfit(x, vals[ok], degree)
        return out_ts, np.polyval(coeffs, x_out)

    out = _kernel(frame, fn, frame.start, frame.stop + (extra * step))
    suffix = [exp.raw_arg(i) for i in range(1, len(exp.args))]
    return wrap_name("polyfit", out, *suffix)


# ------------------------------------------------------------- FFT family

@register("lowPass", "lpf")
def low_pass(ctx, exp, f, u):
    """FFT low-pass filter keeping cutPercent% of low frequencies
    — lowPass/function.go:31."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    cut = exp.get_float(1)

    def fn(ts, vals):
        filled = np.nan_to_num(vals)
        spec = np.fft.fft(filled)
        n = len(spec)
        keep = int(n * cut / 100 / 2)
        mask = np.zeros(n, dtype=bool)
        mask[: keep + 1] = True
        if keep > 0:
            mask[-keep:] = True
        spec[~mask] = 0
        out = np.real(np.fft.ifft(spec))
        out[np.isnan(vals)] = np.nan
        return ts, out

    return wrap_name("lowPass", _kernel(frame, fn), exp.raw_arg(1))


@register("fft")
def fft_(ctx, exp, f, u):
    """forward FFT magnitude (or phase) — fft/function.go:41."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    mode = exp.get_string(1, "abs") if len(exp.args) > 1 else "abs"

    def fn(ts, vals):
        spec = np.fft.fft(np.nan_to_num(vals))
        out = np.angle(spec) if mode == "phase" else np.abs(spec)
        return ts, out

    suffix = [f"'{mode}'"] if len(exp.args) > 1 else []
    return wrap_name("fft", _kernel(frame, fn), *suffix)


@register("ifft")
def ifft_(ctx, exp, f, u):
    """inverse FFT of a magnitude spectrum — ifft/function.go:32."""
    frame = eval_expr(ctx, exp.args[0], f, u)

    def fn(ts, vals):
        out = np.real(np.fft.ifft(np.nan_to_num(vals)))
        return ts, out

    return wrap_name("ifft", _kernel(frame, fn))


# ---------------------------------------------------------- correlation

@register("pearson")
def pearson(ctx, exp, f, u):
    """rolling Pearson correlation of two series — pearson/function.go:31.
    JVM-side: join on ts + corr window aggregate."""
    s1 = eval_expr(ctx, exp.args[0], f, u)
    s2 = eval_expr(ctx, exp.args[1], f, u)
    n = exp.get_int(2)
    # the window counts rows: both sides dense
    s1, s2 = (s.densify() for s in align([s1, s2]))
    b = selectx(s2.df, f"{TS} AS __ts2", f"{VALUE} AS __v2")
    joined = s1.df.join(b.hint("broadcast"), expr_cached(f"{TS} = __ts2"), "left")
    df = (joined.withColumn(VALUE, F.expr(f"corr({VALUE}, __v2) {trailing(n)}"))
          .drop("__ts2", "__v2"))
    out = s1.with_df(df)
    return out.map_name(f"format_string('pearson(%s,%s,{n})', name, "
                        f"{sql_lit(exp.args[1].to_string())})")


@register("pearsonClosest")
def pearson_closest(ctx, exp, f, u):
    """top-n series most correlated with the reference
    — pearsonClosest/function.go:33."""
    frame = eval_expr(ctx, exp.args[0], f, u)
    ref = eval_expr(ctx, exp.args[1], f, u)
    n = exp.get_int(2)
    direction = exp.get_string(3, "abs", names=("direction",))
    frame, ref = align([frame, ref])
    # a dense reference gives every series its (maybe NULL) correlation
    b = selectx(ref.densify().df, f"{TS} AS __ts2", f"{VALUE} AS __v2")
    joined = frame.df.join(b.hint("broadcast"), expr_cached(f"{TS} = __ts2"))
    per = frame.with_df(joined).per_series(__c=f"corr({VALUE}, __v2)")
    metric = {"pos": "__c", "neg": "-__c"}.get(direction, "abs(__c)")
    return frame.keep(ranked(per, f"{metric} DESC NULLS LAST", n=n))
