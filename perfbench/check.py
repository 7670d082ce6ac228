"""Output check for every rep.

A job's tier outputs are reduced to a digest: row counts over all docs,
plus sums of ``n``, ``flat_sum``, ``y_sum`` and bucket-weighted
``flat_sum`` over a fixed, seeded sample of docs.  The expected digest is
computed in-process during set-up from the kernels (``slide_clip``,
``detrend_series``) and ``rollup._tier_arrays``; Spark computes the
observed one with ``DataFrame.observe`` on the frame the timed action
writes, so checking adds no second scan."""

from __future__ import annotations

import math

import numpy as np

from wotan_spark.kernels.clipper import slide_clip
from wotan_spark.kernels.detrend import detrend_series
from wotan_spark.spark.rollup import _tier_arrays
from wotan_spark.spark.synth import decode_tokens, encode_samples

# The repo's goldens compare tier values to the kernels at rtol=1e-12 per
# bucket; a digest sums up to ~1e5 buckets in another order, which can
# move the last digits, so sums get 1e-9.  Counts must match exactly.
RTOL = 1e-9
EXACT_KEYS = ("rows", "sample_rows", "n")
FLOAT_KEYS = ("flat_sum", "y_sum", "flat_wsum")


def digest_exprs(sample_ids):
    """Aggregates for ``DataFrame.observe`` over a TIER_SCHEMA frame."""
    import pyspark.sql.functions as F
    s = F.col("doc_id").isin(sorted(sample_ids))
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(s, 1).otherwise(0)).alias("sample_rows"),
        F.sum(F.when(s, F.col("n"))).alias("n"),
        F.sum(F.when(s, F.col("flat_sum"))).alias("flat_sum"),
        F.sum(F.when(s, F.col("y_sum"))).alias("y_sum"),
        F.sum(F.when(s, (F.col("bucket") + 1) * F.col("flat_sum")))
        .alias("flat_wsum"),
    ]


def reference_tier10(tokens, window_length: float, clip_window=None,
                     factor: int = 10) -> tuple[np.ndarray, ...]:
    """(bucket, n, y_sum, flat_sum) of one doc's tier-10 rows, from the
    kernels: optional slide clip, biweight detrend, bucket stats."""
    toks = np.asarray(tokens, dtype=np.int32)
    t = np.arange(len(toks), dtype=np.float64)
    if clip_window is not None:
        toks = encode_samples(slide_clip(t, decode_tokens(toks),
                                         clip_window, 3, 3))
    y = decode_tokens(toks)
    res = detrend_series(t, y, method="biweight",
                         window_length=window_length)
    cols = _tier_arrays(y, res.flatten_lc, res.trend_lc, factor)
    return cols[0], cols[1], cols[2], cols[11]


def _sums(bucket, n, y_sum, flat_sum) -> dict:
    return {"sample_rows": int(len(bucket)), "n": int(np.sum(n)),
            "flat_sum": float(np.nansum(flat_sum)),
            "y_sum": float(np.nansum(y_sum)),
            "flat_wsum": float(np.nansum((bucket + 1) * flat_sum))}


def expected_digests(ref: dict, rows10: int, rows100: int,
                     cutoff10: int | None = None,
                     step: int = 10) -> tuple[dict, dict]:
    """Expected tier-10 and tier-100 digests from per-doc reference rows
    ``ref[doc_id] = (bucket, n, y_sum, flat_sum)``; ``cutoff10`` drops
    tier-10 buckets below it (retention)."""
    d10 = dict.fromkeys(EXACT_KEYS + FLOAT_KEYS, 0)
    d100 = dict(d10)
    for bucket, n, y_sum, flat_sum in ref.values():
        keep = bucket >= (cutoff10 if cutoff10 is not None else 0)
        for k, v in _sums(bucket[keep], n[keep], y_sum[keep],
                          flat_sum[keep]).items():
            d10[k] += v
        b100 = bucket // step
        width = int(b100[-1]) + 1 if len(b100) else 0
        ids = np.arange(width, dtype=np.int64)
        agg = [np.bincount(b100, weights=np.nan_to_num(v), minlength=width)
               for v in (n, y_sum, flat_sum)]
        for k, v in _sums(ids, agg[0].astype(np.int64), agg[1],
                          agg[2]).items():
            d100[k] += v
    d10["rows"], d100["rows"] = rows10, rows100
    return d10, d100


def compare(expected: dict, got: dict | None, rtol: float = RTOL) -> list:
    """Mismatches between two digests (empty list: they agree).  Spark's
    sum over no rows is NULL, read here as 0."""
    if not got:
        return ["no digest observed"]
    bad = []
    for k in EXACT_KEYS + FLOAT_KEYS:
        g = got.get(k)
        g = 0 if g is None else g
        e = expected[k]
        ok = (g == e if k in EXACT_KEYS
              else math.isclose(g, e, rel_tol=rtol, abs_tol=1e-9))
        if not ok:
            bad.append(f"{k}: expected {e!r}, got {g!r}")
    return bad
