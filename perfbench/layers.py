"""Per-layer probes for the traced run.

Each probe times a call into one engine module from outside, under a
span.  Layers and the modules they cover:

* L0 ``scan``: ``sources.read_sequences`` of the corpus to the noop sink.
* L1 ``arrow``: an identity ``mapInArrow`` over the same frame, minus scan.
* L2 ``kernels``: ``kernels.detrend.detrend_series`` in-process on a fixed
  seeded sample, per series and as one concatenated series.
* ``clip``, ``detrend_rollup``, ``cascade`` (L3): ``ops``, ``rollup`` and
  ``detrend_op`` staged through persisted frames.
* ``job.fixed``: the noop job over only the sample docs, the cost a rep
  pays whatever the corpus; ``job.fixed_share`` sets it against the
  untraced ``wall_s``.
* ``blocks``, ``lakehouse``, ``pipeline``, ``retention``: the pipeline run
  stage by stage on a resumable root, plus the Gorilla block encoder and
  one snapshot commit and read.
* ``plan``: Exchange and Python-UDF nodes in each timed action's final
  physical plan, read from Spark's SQL status store."""

from __future__ import annotations

import os
import re

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Observation

from wotan_spark.kernels.detrend import detrend_series
from wotan_spark.spark.blocks import encode_blocks
from wotan_spark.spark.lakehouse import SnapshotTable
from wotan_spark.spark.pipeline import Pipeline
from wotan_spark.spark.retention import RetentionPolicy
from wotan_spark.spark.rollup import TIER_SCHEMA
from wotan_spark.spark.sources import read_sequences
from wotan_spark.spark.synth import decode_tokens, make_tokens

from perfbench import check, workloads as wl

KERNEL_SAMPLE_POINTS = 60_000

_NODE = re.compile(r"^[\s:+\-*]*([A-Za-z]\w*) \(\d+\)", re.M)
_PYTHON_NODE = re.compile(r"Pandas|Python|InArrow")


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def plan_counts(spark, since: int) -> dict:
    """Exchange and Python-UDF node counts summed over the final physical
    plans of the SQL executions after execution id ``since``."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    exchanges = python = 0
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() <= since:
            continue
        text = e.physicalPlanDescription()
        if "== Final Plan ==" in text:
            text = text.split("== Final Plan ==", 1)[1]
            text = text.split("== Initial Plan ==", 1)[0]
        else:
            text = text.split("\n\n", 1)[0]
        for name in _NODE.findall(text):
            exchanges += name in ("Exchange", "BroadcastExchange")
            python += bool(_PYTHON_NODE.search(name))
    return {"plan.exchanges": exchanges, "plan.python_udfs": python}


def scan_and_arrow(spark, corpus, tracer) -> dict:
    df = read_sequences(spark, corpus.path)
    with tracer.span("scan"):
        wl.write_noop(df)
    scan_s = tracer.duration("scan")
    batches = spark.sparkContext.accumulator(0)
    nbytes = spark.sparkContext.accumulator(0)

    def identity(it):
        for b in it:
            batches.add(1)
            nbytes.add(b.nbytes)
            yield b

    with tracer.span("arrow"):
        wl.write_noop(df.mapInArrow(identity, df.schema))
    return {"scan.s": scan_s, "scan.rows": corpus.docs,
            "scan.points": corpus.points,
            "arrow.roundtrip_s": tracer.duration("arrow") - scan_s,
            "arrow.batches": batches.value, "arrow.bytes_in": nbytes.value,
            # computed: tier-10 rows leaving the fused UDF, fixed-width
            # columns plus doc_id bytes and offsets
            "arrow.bytes_out": sum(
                -(-n // wl.FACTOR) * (8 * (len(TIER_SCHEMA) - 1)
                                      + len(d) + 4)
                for d, n in corpus.lengths.items())}


def kernels(spec, seed: int, tracer) -> dict:
    """Serial detrend of a fixed seeded sample, per series and as one
    concatenated series with the same points."""
    series, total, i = [], 0, 0
    while total < KERNEL_SAMPLE_POINTS:
        y = decode_tokens(make_tokens(i, seed=seed, median_len=spec.median_len,
                                      max_len=spec.max_len))
        series.append(y)
        total += len(y)
        i += 1
    with tracer.span("kernels.per_series"):
        for y in series:
            detrend_series(np.arange(len(y), dtype=np.float64), y,
                           method="biweight", window_length=wl.WINDOW)
    whole = np.concatenate(series)
    with tracer.span("kernels.concatenated"):
        detrend_series(np.arange(len(whole), dtype=np.float64), whole,
                       method="biweight", window_length=wl.WINDOW)
    serial = tracer.duration("kernels.per_series")
    return {"kernels.serial_s": serial,
            "kernels.us_per_point": serial / total * 1e6,
            "kernels.calls": len(series),
            "kernels.call_overhead_ratio":
                serial / tracer.duration("kernels.concatenated")}


def staged_noop_job(spark, corpus, ref, tracer) -> tuple[dict, list]:
    """The noop job split at its layer boundaries through persisted
    frames.  The digest is checked on the staged outputs too."""
    exp10, exp100 = wl.digests(corpus, corpus.lengths, ref=ref)
    df = read_sequences(spark, corpus.path)
    o10, o100 = Observation(), Observation()
    with tracer.span("job.staged.noop"):
        with tracer.span("clip"):
            clipped = wl.slide_clip_sequences(
                df, window_length=wl.CLIP_WINDOW).persist()
            wl.write_noop(clipped)
        with tracer.span("detrend_rollup"):
            t10 = wl.detrend_rollup_fused_auto(
                clipped, "biweight", factor=wl.FACTOR,
                window_length=wl.WINDOW).persist()
            wl.write_noop(t10.observe(o10, *check.digest_exprs(
                corpus.sample)))
        with tracer.span("cascade"):
            wl.write_noop(wl.cascade_tier(t10, step=wl.FACTOR).observe(
                o100, *check.digest_exprs(corpus.sample)))
    t10.unpersist()
    clipped.unpersist()
    bad = (wl.mismatches("staged tier10", exp10, o10.get)
           + wl.mismatches("staged tier100", exp100, o100.get))
    return {"clip.s": tracer.duration("clip") - tracer.duration("scan"),
            "detrend_rollup.s": tracer.duration("detrend_rollup"),
            "detrend_rollup.chunked_docs": corpus.chunked_docs(),
            "detrend_rollup.tier10_rows": o10.get["rows"],
            "cascade.s": tracer.duration("cascade"),
            "cascade.rows_out": o100.get["rows"]}, bad


def fixed_cost(spark, corpus, ref, tracer,
               reps: int = 3) -> tuple[dict, list]:
    """The noop job over the few sample docs of the main corpus, ``reps``
    times; the median is the job's fixed cost per rep.  Tail docs are left
    out: they alone would give the chunk path real work."""
    docs = {d: n for d, n in corpus.lengths.items()
            if d in corpus.sample and d.startswith("doc_")}
    exp10, exp100 = wl.digests(corpus, docs, ref=ref)
    times, bad = [], []
    for _ in range(reps):
        df = read_sequences(spark, corpus.path).filter(
            F.col("doc_id").isin(sorted(docs)))
        with tracer.span("job.fixed") as span:
            frame, o10, o100 = wl.clip_detrend_tiers(df, corpus.sample)
            wl.write_noop(frame)
        times.append(span["end"] - span["start"])
        bad += (wl.mismatches("fixed tier10", exp10, o10.get)
                + wl.mismatches("fixed tier100", exp100, o100.get))
    return {"job.fixed_s": float(np.median(times))}, bad


def staged_pipeline(spark, job, tracer) -> tuple[dict, list, str]:
    """``PipelineJob``'s rep with every stage under its own span:
    ``Pipeline.ingest``, then ``run(stop_after=...)`` stage by stage on
    the resumable root.  Returns (metrics, mismatches, root)."""
    c = job.corpus
    root = job.new_root()
    pp = Pipeline(spark, root)
    base = read_sequences(spark, c.path)
    late = read_sequences(spark, c.late_path)
    with tracer.span("job.staged.pipeline"):
        with tracer.span("pipeline.ingest"):
            pp.ingest(base, run_id="bench-run")
        for stage in ("detrended", "tier10", "tier100"):
            with tracer.span(f"pipeline.{stage}"):
                pp.run(run_id="bench-run", stop_after=stage)
        with tracer.span("pipeline.blocks"):
            pp.run(run_id="bench-run")
        with tracer.span("pipeline.incremental"):
            pp.update_incremental(late, run_id="bench-late")
        with tracer.span("retention"):
            report = pp.enforce_retention(
                RetentionPolicy({"tier10": job.keep10}),
                run_id="bench-retention")
        with tracer.span("pipeline.readback"):
            d10 = wl.readback(spark, pp.tables["tier10"], c.sample)
            d100 = wl.readback(spark, pp.tables["tier100"], c.sample)
    bad = (wl.mismatches("staged tier10", job.expected[0], d10)
           + wl.mismatches("staged tier100", job.expected[1], d100))
    m = {f"pipeline.{s}_s": tracer.duration(f"pipeline.{s}")
         for s in ("ingest", "detrended", "tier10", "tier100", "blocks",
                   "incremental")}
    m["pipeline.stored_bytes_per_point"] = wl.dir_bytes(root) / (
        c.points + c.late_points)
    m["retention.s"] = tracer.duration("retention")
    m["retention.rows_dropped"] = sum(r["dropped"] for r in report.values())
    return m, bad, root


def blocks_and_lakehouse(spark, root: str, points: int, workdir: str,
                         tracer) -> dict:
    """Gorilla encode of the committed detrended ``flat`` arrays, and one
    snapshot commit + read of the committed tier10 frame."""
    det = SnapshotTable(os.path.join(root, "detrended")).read(spark)
    blocks = encode_blocks(det.select("doc_id", "flat"), column="flat",
                           codec="gorilla", tier=0)
    with tracer.span("blocks.encode"):
        wl.write_noop(blocks)
    payload = blocks.agg(F.sum(F.length("payload"))).collect()[0][0]
    t10 = SnapshotTable(os.path.join(root, "tier10")).read(spark).persist()
    wl.write_noop(t10)
    table = SnapshotTable(os.path.join(workdir, "lakehouse-probe"))
    with tracer.span("lakehouse.commit"):
        table.overwrite(t10, run_id="bench-probe")
    t10.unpersist()
    with tracer.span("lakehouse.read"):
        wl.write_noop(table.read(spark))
    files = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
    return {"blocks.encode_s": tracer.duration("blocks.encode"),
            "blocks.payload_bytes_per_point": payload / points,
            "lakehouse.commit_s": tracer.duration("lakehouse.commit"),
            "lakehouse.files": sum(f.endswith(".parquet") for f in files),
            "lakehouse.bytes": sum(os.path.getsize(f) for f in files),
            "lakehouse.read_s": tracer.duration("lakehouse.read")}


def traced(spark, spec, seed, corpus, job, workdir, tracer,
           untraced_wall: float) -> tuple[dict, list]:
    """Every per-layer metric for one workload; returns (metrics,
    mismatches).  The staged run of the workload's own job sets
    ``trace.overhead_s`` against the untraced wall time."""
    m, bad = {}, []
    m.update(scan_and_arrow(spark, corpus, tracer))
    m.update(kernels(spec, seed, tracer))
    clipped_ref = wl.reference_rows(corpus, clipped=True)
    noop_m, b = staged_noop_job(spark, corpus, clipped_ref, tracer)
    m.update(noop_m)
    bad += b
    fixed_m, b = fixed_cost(spark, corpus, clipped_ref, tracer)
    if spec.kind == "noop":
        fixed_m["job.fixed_share"] = fixed_m["job.fixed_s"] / untraced_wall
    m.update(fixed_m)
    bad += b
    if spec.kind != "pipeline":
        # the pipeline detrends unclipped tokens
        job = wl.PipelineJob(spark, corpus, workdir,
                             ref=wl.reference_rows(corpus, clipped=False))
    pipe_m, b, root = staged_pipeline(spark, job, tracer)
    m.update(pipe_m)
    bad += b
    points = corpus.points + corpus.late_points
    m.update(blocks_and_lakehouse(spark, root, points, workdir, tracer))
    staged = tracer.duration(f"job.staged.{spec.kind}")
    m["trace.staged_wall_s"] = staged
    m["trace.overhead_s"] = staged - untraced_wall
    return m, bad
