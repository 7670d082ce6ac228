"""Per-series detrending pipeline: the engine's array-level core.

Re-creates the reference ``flatten`` lifecycle (wotan/flatten.py:24-336) on
one (time, flux[, mask]) series:

    validate -> resolve defaults -> invert mask -> NaN-compress ->
    gap-segment -> per-segment trend estimate -> reassemble ->
    transplant into NaN-shaped output -> trend==0 -> NaN -> flux/trend

This function runs inside Arrow-batched pandas UDFs on executors (one call
per series) and is also the NumPy oracle used by the test-suite.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from wotan_spark import constants
from wotan_spark.kernels import filters, lowess as lowess_mod, regress, splines, trig
from wotan_spark.kernels.series import segment_boundaries
from wotan_spark.kernels.windows import (default_cval, running_slider,
                                         running_slider_iterative)


def window_defaults(window_length: float | None,
                    break_tolerance: float | None) -> tuple[float, float]:
    """``detrend_series``' resolved ``(window_length, break_tolerance)``:
    None -> 2 and None -> window_length / 2.  A ``break_tolerance`` of 0 is
    returned as 0; the kernel then reads it as "never split" (inf), while
    the chunk overlap keeps the finite value."""
    if window_length is None:
        window_length = 2  # so break_tolerance defaults to 1 for supersmoother
    if break_tolerance is None:
        break_tolerance = window_length / 2
    return window_length, break_tolerance


@dataclass
class DetrendResult:
    flatten_lc: np.ndarray
    trend_lc: np.ndarray
    nsplines: np.ndarray


def detrend_series(
    time,
    flux,
    window_length: float | None = None,
    edge_cutoff: float = 0,
    break_tolerance: float | None = None,
    cval=None,
    method: str = "biweight",
    kernel: str | None = None,
    kernel_size: float | None = None,
    kernel_period: float | None = None,
    proportiontocut: float = constants.PROPORTIONTOCUT,
    robust: bool = False,
    max_splines: int = constants.SPLINE_MAX_SPLINES,
    stdev_cut: int = constants.SPLINE_STDEV_CUT,
    mask=None,
) -> DetrendResult:
    if method not in constants.METHODS:
        raise ValueError(f"Unknown detrending method {method!r}")
    if not isinstance(proportiontocut, float) or not (0.0 < proportiontocut < 0.5):
        raise ValueError("proportiontocut must be >0 and <0.5")

    if cval is None:
        cval = default_cval(method, proportiontocut)
    supersmoother_alpha = None
    if method == "supersmoother" and cval is not None and 0 < cval < 10:
        supersmoother_alpha = cval

    window_length, break_tolerance = window_defaults(window_length,
                                                     break_tolerance)
    if break_tolerance == 0:
        break_tolerance = np.inf

    time = np.asarray(time, dtype=np.float64)
    flux = np.asarray(flux, dtype=np.float64)
    if mask is None:
        mask = np.ones(len(time))
    else:
        # invert on entry: caller marks True = exclude (TLS convention, Q14)
        mask = np.asarray(~np.asarray(mask, dtype=bool), dtype=np.float64)

    nan_positions = np.isnan(time * flux)
    keep = ~nan_positions
    t_c = time[keep]
    f_c = flux[keep]
    m_c = mask[keep]

    bounds = segment_boundaries(t_c, break_tolerance)
    trend_parts: list[np.ndarray] = []
    nsplines_parts: list[float] = []

    for i in range(len(bounds) - 1):
        tv = t_c[bounds[i]:bounds[i + 1]]
        fv = f_c[bounds[i]:bounds[i + 1]]
        mv = m_c[bounds[i]:bounds[i + 1]]
        if len(tv) == 0:
            continue
        if method in constants.SLIDER_METHODS:
            seg = running_slider(tv, fv, mv.copy(), window_length,
                                 edge_cutoff, cval, method)
        elif method in constants.SLOW_SLIDER_METHODS:
            seg = running_slider_iterative(tv, fv, mv.copy(), window_length,
                                           edge_cutoff, cval, method)
        elif method == "lowess":
            seg = lowess_mod.lowess(tv, fv, mv, window_length)
        elif method == "hspline":
            seg = splines.hspline(tv, fv, mv, knot_distance=window_length)
        elif method == "rspline":
            seg = splines.rspline(tv, fv, mv, window_length)
        elif method == "pspline":
            seg, nspl = splines.pspline(tv, fv, edge_cutoff, max_splines,
                                        stdev_cut)
            nsplines_parts.append(nspl)
        elif method == "cofiam":
            seg = trig.detrend_cofiam(tv, fv, window_length)
        elif method == "cosine":
            seg = trig.detrend_cosine(tv, fv, window_length, robust, mv)
        elif method == "savgol":
            wl = int(window_length)
            if wl % 2 == 0:
                wl += 1
            seg = filters.savgol_filter(fv, wl, polyorder=int(cval))
        elif method == "medfilt":
            seg = filters.medfilt(fv, int(window_length))
        elif method == "supersmoother":
            from wotan_spark.kernels.smoother import supersmoother_trend
            # Q7: the span is normalized by the *full input* time range
            win = window_length / (np.nanmax(time) - np.nanmin(time))
            seg = supersmoother_trend(tv, fv, win, alpha=supersmoother_alpha)
        elif method == "gp":
            from wotan_spark.kernels.gp import gp_trend
            seg = gp_trend(tv, fv, mv, kernel, kernel_size, kernel_period,
                           robust)
        elif method in ("ridge", "lasso", "elasticnet"):
            seg = regress.regression_trend(tv, fv, method, window_length, cval)
        else:  # pragma: no cover
            raise ValueError(method)
        trend_parts.append(np.asarray(seg, dtype=np.float64))

    trend_compressed = (np.concatenate(trend_parts) if trend_parts
                        else np.zeros(0))
    trend_lc = np.full(len(time), np.nan)
    trend_lc[np.where(keep)[0]] = trend_compressed
    trend_lc[trend_lc == 0.0] = np.nan  # avoid division by zero (Q10)
    with np.errstate(invalid="ignore", divide="ignore"):
        flatten_lc = flux / trend_lc
    return DetrendResult(flatten_lc, trend_lc,
                         np.asarray(nsplines_parts, dtype=np.float64))
