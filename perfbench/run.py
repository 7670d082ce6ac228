#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload short_series --seed 1 \\
        --seconds 16 --trace 0

Run from the root of a checkout.  Set-up starts Spark at ``local[nproc]``,
ships the engine, writes the seeded corpus, computes the reference digest
and warms the job up (``WARMUP_REPS`` reps).  The run then repeats the job
for ``--seconds`` seconds and at least ``MIN_REPS`` times.  Every rep's
output is checked.  ``--trace 1`` instead takes one rep, then makes the
per-layer probes (see ``layers.py``) and writes the spans.

Human-readable lines go to stdout first; the last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  Work files go
to ``.perfbench/work`` and results to ``.perfbench/out`` under the
checkout."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("short_series", "long_series", "pipeline_commit")
UNITS = {"setup_s": "s", "wall_s": "s", "seq_per_s": "1/s",
         "points_per_s": "1/s", "peak_rss_mb": "MB", "incremental_s": "s",
         "stored_bytes_per_point": "B/point"}
# warm-up reps, counted in setup_s.  A fixed count keeps setup_s steady;
# on 4 vCPUs the first rep of a session runs ~30% slow and the second is
# already within the spread of the measured reps.
WARMUP_REPS = 2
# measured reps: at least this many, and for at least --seconds
MIN_REPS = 3
# The 1-min load lags a previous run by a minute, so the gate also accepts
# CPUs that are idle now (host.wait_for_quiet); this bounds the wait.
LOAD_WAIT_S = 5.0


def layer_unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes_per_point"):
        return "B/point"
    if name.endswith("bytes") or name.endswith("bytes_in") \
            or name.endswith("bytes_out"):
        return "B"
    if name.endswith("us_per_point"):
        return "us/point"
    if name.endswith("ratio") or name.endswith("share"):
        return "ratio"
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] cores (default: nproc)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import wotan_spark.spark.pipeline  # noqa: F401  the program
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    from perfbench import host
    cores = args.cores or host.nproc()
    base = os.path.join(ROOT, ".perfbench")
    out_dir = os.path.join(base, "out")
    workdir = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    # keep every temporary file inside the checkout
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]

    gate = host.wait_for_quiet(cores, LOAD_WAIT_S)
    sampler = host.RssSampler().start()
    try:
        result = run(args, cores, workdir, out_dir, sampler, gate)
    finally:
        sampler.stop()
        host.stop_spark()
        shutil.rmtree(workdir, ignore_errors=True)
    if result is None:
        return 1
    result["load_end"] = host.load_stamp()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"result-{tag}.json"), "w") as f:
        json.dump(result, f, indent=1)
    report(result)
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0


def run(args, cores: int, workdir: str, out_dir: str, sampler, gate):
    from perfbench import host
    from perfbench.tracer import Tracer

    # spans time the set-up in every run; a traced run adds the layers
    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    clock = time.perf_counter
    with tracer.span("setup"):
        with tracer.span("session.start"):
            from wotan_spark.spark.session import get_spark
            spark = get_spark(
                app_name=f"perfbench-{args.workload}", cores=cores,
                shuffle_partitions=cores,
                extra_conf={
                    "spark.driver.memory": "2g",
                    "spark.local.dir": os.path.join(workdir, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(workdir,
                                                            "warehouse"),
                    # no hsperfdata file: it would land in /tmp.  The
                    # heap is touched in full at start: otherwise the
                    # JVM's RSS grows with every rep as G1 touches more
                    # regions, and peak_rss_mb would follow the rep count
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                        "-XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch",
                    "spark.ui.showConsoleProgress": "false"})
            spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("shipping.zip"):
            from wotan_spark.spark.shipping import (build_pyfiles_zip,
                                                    ensure_shipped)
            build_pyfiles_zip()
            ensure_shipped(spark)
        from perfbench import layers, workloads as wl
        spec = wl.SPECS[args.workload]
        with tracer.span("corpus.build"):
            corpus = wl.build_corpus(spark, spec, args.seed, workdir)
        job = wl.make_job(spark, spec, corpus, workdir)
        with tracer.span("warmup"):
            warm = [timed_rep(job, clock) for _ in range(WARMUP_REPS)]
    setup_s = tracer.duration("setup")
    since = layers.last_execution_id(spark)

    # measured reps: the end-to-end metrics.  A traced run takes one, as
    # the untraced baseline of its staged job.
    reps = []
    cpu0 = host.cpu_times()
    t_start = clock()
    while not reps or (not args.trace and (
            len(reps) < MIN_REPS or clock() - t_start < args.seconds)):
        sampler.reset()
        reps.append(timed_rep(job, clock))
        reps[-1]["peak_mb"] = sampler.peak()
    steal = host.steal_share(cpu0, host.cpu_times())
    # warm-up reps are checked too
    attempted = len(warm) + len(reps)
    problems = [r["bad"] for r in warm + reps if r["bad"]]
    failed = len(problems)
    plans = layers.plan_counts(spark, since)
    reps = [r for r in reps if "wall_s" in r]
    if not reps:
        print("perfbench: every rep raised", file=sys.stderr)
        return None
    walls = sorted(r["wall_s"] for r in reps)
    wall = statistics.median(walls)
    if spec.kind == "pipeline":
        docs = corpus.docs + len(corpus.late_lengths)
        points = corpus.points + corpus.late_points
    else:
        docs, points = corpus.docs, corpus.points
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": spark.sparkContext.master, "cores": cores,
        "host": host.host_facts(), "load_gate": gate,
        "steal_share": steal,
        "docs": docs, "points": points, "sample_docs": corpus.sample,
        "setup_span_s": {k: tracer.duration(k) for k in
                         ("session.start", "shipping.zip", "corpus.build")},
        "warmup_s": [w["rep_s"] for w in warm],
        "rep_wall_s": [r["wall_s"] for r in reps],
        "rep_peak_rss_mb": [r["peak_mb"] for r in reps],
        "wall_max_s": walls[-1], "reps": len(reps),
        "error_rate": failed / attempted, "problems": problems,
        "attempted": attempted, "failed": failed,
    }
    metrics = {
        "setup_s": setup_s, "wall_s": wall,
        "seq_per_s": docs / wall, "points_per_s": points / wall,
        "peak_rss_mb": statistics.median(r["peak_mb"] for r in reps),
    }
    if spec.kind == "pipeline":
        metrics["incremental_s"] = statistics.median(
            r["incremental_s"] for r in reps)
        metrics["stored_bytes_per_point"] = statistics.median(
            r["stored_bytes"] for r in reps) / points
    if args.trace:
        result["untraced_metrics"] = metrics
        metrics = {"session.start_s": tracer.duration("session.start"),
                   "shipping.zip_s": tracer.duration("shipping.zip"),
                   **plans}
        try:
            layer_m, bad = layers.traced(spark, spec, args.seed, corpus, job,
                                         workdir, tracer, wall)
        except Exception:
            print(traceback.format_exc(), file=sys.stderr)
            return None
        attempted += 1
        if bad:
            failed += 1
            problems.append("; ".join(bad))
            print("perfbench: staged output mismatch: " + problems[-1],
                  file=sys.stderr)
        metrics.update(layer_m)
        result.update(attempted=attempted, failed=failed,
                      error_rate=failed / attempted)
        tracer.dump(os.path.join(
            out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
        units = {k: layer_unit(k) for k in metrics}
    else:
        units = UNITS
    result["correct"] = failed == 0
    result["metrics"] = {k: {"value": float(v), "unit": units[k]}
                         for k, v in metrics.items()}
    return result


def timed_rep(job, clock) -> dict:
    """One rep of the workload's job: its timings, ``rep_s`` and the
    output mismatches in ``bad`` (a raised exception is one too)."""
    t0 = clock()
    try:
        timings, bad = job.run(clock)
    except Exception:
        timings, bad = {}, [traceback.format_exc(limit=4)]
    if bad:
        print("perfbench: rep failed: " + "; ".join(bad), file=sys.stderr)
    return {**timings, "rep_s": clock() - t0, "bad": "; ".join(bad)}


def report(result: dict) -> None:
    g = result["load_gate"]
    print(f"perfbench {result['workload']} seed={result['seed']} "
          f"trace={result['trace']} master={result['master']} "
          f"docs={result['docs']} points={result['points']}")
    print(f"  load1 before={g['before']['load1']} after-gate="
          f"{g['after']['load1']} (waited {g['waited_s']} s, quiet="
          f"{g['quiet']}) end={result['load_end']['load1']}")
    for k, m in result["metrics"].items():
        print(f"  {k}: {m['value']:.6g} {m['unit']}")
    print(f"  wall_s max: {result['wall_max_s']:.6g} s over "
          f"{result['reps']} reps (too few for a tail percentile with ten "
          f"reps beyond it)")
    print(f"  error_rate: {result['error_rate']:.6g} "
          f"({result['failed']} of {result['attempted']})")


if __name__ == "__main__":
    sys.exit(main())
