"""Distributed detrend over packed token arrays.

The input table is one-series-per-row, so detrending is embarrassingly
parallel: a single ``mapInPandas`` pass decodes each row's tokens, runs the
per-series pipeline kernel (``wotan_spark.kernels.detrend.detrend_series``)
and emits packed ``flat``/``trend`` arrays — **zero shuffle**, unlike an
explode -> groupBy plan which would multiply 10^12 rows by sequence length.

One row driver, ``_detrend_rows``, is the only place a packed row meets the
kernel: it decodes the tokens, picks the row's mask, runs the kernel and
slices the chunk core.  A whole row is one chunk (lead 0, core n, t0 0), so
the packed pass, the chunked pass here and the fused tier pass in
``rollup`` all go through it.

Skew handling for heavy-tailed sequence lengths (the ``n_tok`` lognormal
tail): ``split_chunks`` (a Catalyst projection, no Python) splits long rows
into overlapping chunk rows, ``_spread_chunks`` salts them across tasks so
one 50k-token doc doesn't pin a task, each chunk is detrended, and
``detrend_sequences_chunked`` reassembles trimmed chunks with one shuffle
on doc_id.  Overlap >= window + break_tolerance makes interior points exact
(window estimators are local; verified by test against the unchunked path).
One router, ``_route_chunks``, sends rows to the packed or chunked pass for
both ``detrend_sequences_auto`` and ``rollup.detrend_rollup_fused_auto``.
"""

from __future__ import annotations

import math
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from wotan_spark.kernels.detrend import detrend_series, window_defaults
from wotan_spark.kernels.series import transit_mask
from wotan_spark.spark.synth import decode_tokens

_ROW_KEYS = [
    StructField("doc_id", StringType(), False),
    StructField("n_tok", IntegerType(), False),
    StructField("source", StringType(), True),
]
_CHUNK_KEYS = _ROW_KEYS[:1] + [StructField("chunk_id", IntegerType(), False)] \
    + _ROW_KEYS[1:]
_ARRAY_TYPES = {"flat": DoubleType(), "trend": DoubleType(),
                "tokens": IntegerType()}
_NP_TYPES = {"flat": np.float64, "trend": np.float64, "tokens": np.int32}


def _array_names(outputs: tuple[str, ...], keep_tokens: bool) -> list[str]:
    return ([k for k in ("flat", "trend") if k in outputs]
            + (["tokens"] if keep_tokens else []))


def _array_schema(keys: list[StructField], outputs: tuple[str, ...],
                  keep_tokens: bool) -> StructType:
    """Key columns plus the requested ``flat``/``trend``/``tokens`` arrays."""
    return StructType(keys + [
        StructField(k, ArrayType(_ARRAY_TYPES[k], True), k != "tokens")
        for k in _array_names(outputs, keep_tokens)])


def _row_masks(pdf: pd.DataFrame, mask_col: str | None,
               mask_transit: tuple[float, float, float] | None):
    """Per-row known-signal masks of a batch (True = excluded), or None."""
    if mask_col is not None:
        return [np.asarray(m, dtype=bool) for m in pdf[mask_col]]
    if mask_transit is not None:
        period, duration, t0 = mask_transit
        return [transit_mask(np.arange(len(toks), dtype=np.float64),
                             period, duration, t0) for toks in pdf["tokens"]]
    return None


def _detrend_rows(pdf: pd.DataFrame, params: dict, chunked: bool = False,
                  mask_col: str | None = None,
                  mask_transit: tuple[float, float, float] | None = None):
    """The per-row kernel driver: yields ``(t0, tokens, y, flat, trend)``
    core slices for every row of a batch.  A ``split_chunks`` row
    (``chunked``) carries its own t0/lead/core; any other row is one whole
    chunk (lead 0, core n, t0 0)."""
    masks = _row_masks(pdf, mask_col, mask_transit)
    spans = (zip(pdf["t0"], pdf["lead"], pdf["core"]) if chunked
             else ((0, 0, len(toks)) for toks in pdf["tokens"]))
    for i, (toks, (t0, lead, core)) in enumerate(zip(pdf["tokens"], spans)):
        toks = np.asarray(toks, dtype=np.int32)
        y = decode_tokens(toks)
        p = params if masks is None else dict(params, mask=masks[i])
        res = detrend_series(np.arange(len(y), dtype=np.float64), y, **p)
        sl = slice(int(lead), int(lead) + int(core))
        yield int(t0), toks[sl], y[sl], res.flatten_lc[sl], res.trend_lc[sl]


def _array_pass(df: DataFrame, params: dict, outputs: tuple[str, ...],
                keep_tokens: bool, chunked: bool = False,
                mask_col: str | None = None,
                mask_transit: tuple[float, float, float] | None = None
                ) -> DataFrame:
    """One ``mapInPandas`` emitting the requested arrays per row (whole
    rows) or per chunk core (``split_chunks`` rows)."""
    keys = _CHUNK_KEYS if chunked else _ROW_KEYS
    names = _array_names(outputs, keep_tokens)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            got: dict[str, list] = {k: [] for k in names}
            for _, toks, _, flat, trend in _detrend_rows(
                    pdf, params, chunked, mask_col, mask_transit):
                for k, v in (("flat", flat), ("trend", trend),
                             ("tokens", toks)):
                    if k in got:
                        got[k].append(v)
            out = pd.DataFrame({f.name: pdf[f.name] for f in keys})
            for f in keys:
                if isinstance(f.dataType, IntegerType):
                    out[f.name] = out[f.name].astype("int32")
            for k in names:
                out[k] = got[k]
            yield out

    return df.mapInPandas(run, schema=_array_schema(keys, outputs,
                                                    keep_tokens))


def _chunk_overlap(params: dict) -> int:
    """Overlap (in tokens) that makes a chunk's core slice detrend exactly
    as the full series would: window_length + break_tolerance, ceiled, +1,
    from the kernel's own defaults (``window_defaults``).  A
    break_tolerance of 0 gives window_length + 1."""
    wl, bt = window_defaults(params.get("window_length"),
                             params.get("break_tolerance"))
    return int(math.ceil(wl + bt)) + 1


def detrend_sequences(df: DataFrame, method: str = "biweight",
                      keep_tokens: bool = False,
                      mask_col: str | None = None,
                      mask_transit: tuple[float, float, float] | None = None,
                      outputs: tuple[str, ...] = ("flat", "trend"),
                      **params) -> DataFrame:
    """sequences(doc_id, tokens, n_tok, source) ->
    (doc_id, n_tok, source[, flat][, trend][, tokens]) with packed arrays.

    Known-signal exclusion (reference ``flatten(..., mask=)``,
    wotan/flatten.py:194-197 — True = in-transit point excluded from the
    fit): pass ``mask_col`` naming an array<boolean> column aligned with
    ``tokens``, or ``mask_transit=(period, duration, T0)`` to derive the
    periodic mask from the token index inside the same packed pass.

    ``outputs`` selects which result arrays cross back into the JVM:
    Catalyst cannot prune columns INSIDE a pandas UDF, so a caller that
    only consumes ``flat`` should pass ``outputs=("flat",)`` and skip the
    trend array's Arrow egress entirely (~40% of the UDF output bytes)."""
    return _array_pass(df, dict(params, method=method), outputs, keep_tokens,
                       mask_col=mask_col, mask_transit=mask_transit)


def detrend_points(points: DataFrame, method: str = "biweight",
                   mask_transit: tuple[float, float, float] | None = None,
                   **params) -> DataFrame:
    """Long-form entry point: (doc_id, t, y[, ...]) -> adds trend/flat.

    For callers whose data is already exploded.  One ``applyInPandas`` per
    doc_id (shuffle on doc_id — unavoidable in long form; the packed
    ``detrend_sequences`` is the shuffle-free fast path and produces
    identical values, tested).  ``mask_transit=(period, duration, T0)``
    derives the known-signal exclusion mask from ``t``, as in the packed
    op."""
    params = dict(params, method=method)
    schema = StructType([
        StructField("doc_id", StringType(), False),
        StructField("t", LongType(), False),
        StructField("y", DoubleType(), True),
        StructField("trend", DoubleType(), True),
        StructField("flat", DoubleType(), True),
    ])

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t")
        t = pdf["t"].to_numpy(dtype=np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        p = params
        if mask_transit is not None:
            period, duration, t0 = mask_transit
            p = dict(params, mask=transit_mask(t, period, duration, t0))
        res = detrend_series(t, y, **p)
        return pd.DataFrame({
            "doc_id": np.repeat(key[0], len(t)),
            "t": t.astype(np.int64),
            "y": y,
            "trend": res.trend_lc,
            "flat": res.flatten_lc,
        })

    return points.groupBy("doc_id").applyInPandas(run, schema=schema)


# routing threshold: a doc only benefits from chunking when its solo kernel
# time rivals a whole task's mean wall (the vectorized sliders run
# ~300k pts/s/core, so 64k tokens ~ 0.2s — below that, chunking's extra
# shuffle + reassembly stages cost more than the straggler they remove)
AUTO_CHUNK_THRESHOLD = 65536

# methods whose trend estimate is local (window/kernel-bounded), so
# overlap-chunking reproduces the unchunked output exactly (tested);
# global fits (splines, gp, cofiam, regressions, ...) are not chunkable
_CHUNKABLE_METHODS = frozenset(
    ["biweight", "andrewsinewave", "welsch", "hodges", "median", "mean",
     "trim_mean", "winsorize", "huber_psi", "hampelfilt", "tau",  # sliders
     "huber", "hampel", "ramsay",                    # iterative sliders
     "medfilt", "savgol", "lowess"])                 # local filters


def _route_chunks(df: DataFrame, method: str, params: dict,
                 chunk_threshold: int | None, chunk_size: int | None,
                 num_partitions: int | None,
                 whole: Callable[[DataFrame], DataFrame],
                 pieces: Callable[[DataFrame], DataFrame],
                 align: int = 1) -> DataFrame:
    """The skew router (north_rule: salted repartitioning for skewed long
    sequences), shared by ``detrend_sequences_auto`` and
    ``rollup.detrend_rollup_fused_auto``.  Rows with
    ``n_tok <= chunk_threshold`` go to ``whole`` (the zero-shuffle packed
    pass); longer rows are overlap-chunked into ``chunk_size`` cores
    (rounded down to a multiple of ``align``), salted across tasks and
    handed to ``pieces`` — so one 500k-token doc no longer pins a single
    task for the whole stage.  Non-chunkable (global-fit) methods and
    masked runs (``mask_col`` / ``mask_transit`` in ``params``: a mask's
    irregular NaN pattern breaks the chunk-core exactness argument) send
    every row to ``whole``.

    Plan shape: two branches of one union, each filtering on ``n_tok``.
    When ``df`` is a parquet scan, the predicate is pushed to the scan: at
    100 TB the long-branch scan skips every row group whose n_tok max is
    under the threshold (the lognormal tail is rare), so the second scan
    costs proportional to the skewed tail, not the corpus.  When ``df`` is
    a Python UDF's output (e.g. a slide clip in front), the filter stops
    above that UDF, and each branch evaluates it over every row.
    """
    if (method not in _CHUNKABLE_METHODS or "mask_col" in params
            or "mask_transit" in params):
        return whole(df)
    if chunk_threshold is None:
        chunk_threshold = AUTO_CHUNK_THRESHOLD
    if chunk_size is None:
        chunk_size = chunk_threshold
    chunk_size = max(align, (chunk_size // align) * align)
    long_ = df.filter(F.col("n_tok") > chunk_threshold)
    chunks = _spread_chunks(long_, chunk_size,
                            _chunk_overlap(params), num_partitions)
    return whole(df.filter(F.col("n_tok") <= chunk_threshold)) \
        .unionByName(pieces(chunks))


def detrend_sequences_auto(df: DataFrame, method: str = "biweight",
                           chunk_threshold: int = AUTO_CHUNK_THRESHOLD,
                           chunk_size: int | None = None,
                           keep_tokens: bool = False,
                           outputs: tuple[str, ...] = ("flat", "trend"),
                           **params) -> DataFrame:
    """Single routing entry point for skewed sequence lengths
    (``_route_chunks``): short rows take ``detrend_sequences``, long rows
    the chunked, salted and reassembled path of
    ``detrend_sequences_chunked``.  ``outputs`` prunes the arrays INSIDE
    each UDF, so an unwanted array never crosses Arrow and the union's
    schemas agree by construction."""
    run_params = dict(params, method=method)
    return _route_chunks(
        df, method, params, chunk_threshold, chunk_size, None,
        lambda d: detrend_sequences(d, method, keep_tokens=keep_tokens,
                                    outputs=outputs, **params),
        lambda chunks: _detrend_chunks(chunks, run_params, outputs,
                                       keep_tokens))


def split_chunks(df: DataFrame, chunk_size: int, overlap: int) -> DataFrame:
    """Explode long sequences into overlapping chunk rows, in Catalyst.

    Each chunk row carries ``t0`` (index of its first core token),
    ``lead`` (number of overlap tokens prepended) and ``core`` (number of
    tokens this chunk owns); short rows pass through as a single chunk,
    and an empty ``tokens`` array as one chunk with core 0.  The per-row
    token-array invariant is preserved: trimming ``lead:lead+core`` and
    concatenating by chunk_id rebuilds ``tokens`` exactly (tested).
    """
    n = F.size("tokens")
    lo = F.col("chunk_id") * chunk_size
    hi = F.least(lo + chunk_size, n)
    lead = F.least(F.lit(overlap), lo)
    tail = F.least(F.lit(overlap), n - hi)
    n_chunks = F.greatest(F.lit(1), F.ceil(n / chunk_size).cast("int"))
    return (df.withColumn("chunk_id",
                          F.explode(F.sequence(F.lit(0), n_chunks - 1)))
            .select("doc_id", "chunk_id", lo.cast("long").alias("t0"),
                    lead.alias("lead"), (hi - lo).alias("core"), "n_tok",
                    "source",
                    F.slice("tokens", lo - lead + 1, hi + tail - lo + lead)
                    .alias("tokens")))


def _spread_chunks(df: DataFrame, chunk_size: int, overlap: int,
                   num_partitions: int | None) -> DataFrame:
    """``split_chunks``, salted: one doc's chunks spread across tasks by
    (doc_id, chunk_id) hash.  The partition count MUST be explicit — a
    bare column repartition is AQE-coalescible, and chunk rows are few
    BYTES but heavy CPU, so AQE's byte-targeted coalescing would fold them
    back into one task and recreate the straggler chunking removes."""
    if num_partitions is None:
        num_partitions = max(
            df.sparkSession.sparkContext.defaultParallelism, 8)
    return split_chunks(df, chunk_size, overlap).repartition(
        num_partitions, F.col("doc_id"), F.col("chunk_id"))


def _detrend_chunks(chunks: DataFrame, params: dict,
                    outputs: tuple[str, ...], keep_tokens: bool) -> DataFrame:
    """Detrend ``split_chunks`` rows and reassemble their core arrays into
    one row per doc (one shuffle on doc_id)."""
    pieces = _array_pass(chunks, params, outputs, keep_tokens, chunked=True)
    names = _array_names(outputs, keep_tokens)

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("chunk_id")
        out = pd.DataFrame({
            "doc_id": [key[0]],
            "n_tok": [np.int32(pdf["n_tok"].iloc[0])],
            "source": [pdf["source"].iloc[0]],
        })
        for k in names:
            out[k] = [np.concatenate([np.asarray(a, dtype=_NP_TYPES[k])
                                      for a in pdf[k]])]
        return out

    return pieces.groupBy("doc_id").applyInPandas(
        run, schema=_array_schema(_ROW_KEYS, outputs, keep_tokens))


def detrend_sequences_chunked(df: DataFrame, method: str = "biweight",
                              chunk_size: int = 8192,
                              overlap: int | None = None,
                              num_partitions: int | None = None,
                              keep_tokens: bool = False,
                              outputs: tuple[str, ...] = ("flat", "trend"),
                              **params) -> DataFrame:
    """Skew-safe detrend: chunk, spread, detrend, reassemble.

    Exact for the local (slider/filter) methods when
    ``overlap >= window_length + break_tolerance``.  ``keep_tokens``
    carries the core token slices through the pieces and reassembles the
    original arrays bit-exactly (the per-row invariant).  ``outputs``
    prunes result arrays at the UDF boundary like ``detrend_sequences``:
    an unwanted array is dropped before it crosses Arrow — and here it
    crosses TWICE (pieces, then reassembly), so the saving doubles.
    """
    params = dict(params, method=method)
    if overlap is None:
        overlap = _chunk_overlap(params)
    return _detrend_chunks(
        _spread_chunks(df, chunk_size, overlap, num_partitions), params,
        outputs, keep_tokens)
