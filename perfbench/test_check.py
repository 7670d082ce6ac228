"""The benchmark's own tests: a corrupted result must be rejected.

    python3 -m pytest perfbench/test_check.py -q -p no:cacheprovider

Run from the root of a checkout.  The first tests need only NumPy; the
last runs the noop job on a tiny corpus at local[1] and corrupts one
tier-10 value between the job and its observed digest."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import check  # noqa: E402
from wotan_spark.spark.synth import make_tokens  # noqa: E402


def _ref(docs=3):
    return {f"doc_{i:08d}": check.reference_tier10(
        make_tokens(i, seed=5, median_len=300, max_len=2000), 17.0, 50.0)
        for i in range(docs)}


def _observed(ref, rows10, rows100):
    """What Spark would observe for these rows, summed the way Spark's
    aggregates see them (NaN sums are NULL and skipped)."""
    return check.expected_digests(ref, rows10, rows100)


def test_reference_digest_accepts_itself():
    ref = _ref()
    exp10, exp100 = check.expected_digests(ref, 100, 10)
    got10, got100 = _observed(ref, 100, 10)
    assert check.compare(exp10, got10) == []
    assert check.compare(exp100, got100) == []


@pytest.mark.parametrize("column, delta", [(1, 1), (2, 1e-4), (3, 1e-4)])
def test_one_corrupted_bucket_is_rejected(column, delta):
    ref = _ref()
    exp10, exp100 = check.expected_digests(ref, 100, 10)
    doc = sorted(ref)[1]
    cols = [np.array(c, copy=True) for c in ref[doc]]
    j = int(np.flatnonzero(~np.isnan(cols[column].astype(float)))[3])
    cols[column][j] += delta
    bad = dict(ref, **{doc: tuple(cols)})
    got10, got100 = _observed(bad, 100, 10)
    assert check.compare(exp10, got10)
    assert check.compare(exp100, got100)


def test_moved_bucket_and_lost_rows_are_rejected():
    ref = _ref()
    exp10, _ = check.expected_digests(ref, 100, 10)
    doc = sorted(ref)[0]
    bucket, n, y_sum, flat_sum = ref[doc]
    moved = dict(ref, **{doc: (bucket + 1, n, y_sum, flat_sum)})
    assert check.compare(exp10, _observed(moved, 100, 10)[0])
    assert check.compare(exp10, _observed(ref, 99, 10)[0])
    assert check.compare(exp10, None) == ["no digest observed"]


def test_spark_job_digest_rejects_a_corrupted_value(tmp_path):
    pytest.importorskip("pyspark")
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from perfbench import host, workloads as wl
    from wotan_spark.spark.session import get_spark
    from wotan_spark.spark.shipping import ensure_shipped

    spark = get_spark(app_name="perfbench-test", cores=1,
                      shuffle_partitions=1, extra_conf={
                          "spark.driver.memory": "1g",
                          "spark.local.dir": str(tmp_path / "local"),
                          "spark.ui.showConsoleProgress": "false"})
    try:
        ensure_shipped(spark)
        spec = wl.Spec("tiny", "noop", docs=10, points=3_000,
                       median_len=300, max_len=2_000, late_docs=2,
                       late_points=600, sample_docs=3)
        corpus = wl.build_corpus(spark, spec, 3, str(tmp_path))
        exp10, exp100 = wl.digests(corpus, corpus.lengths)
        df = wl.read_sequences(spark, corpus.path)

        # the corpus holds synth_sequences' own rows for the picked docs
        from wotan_spark.spark.synth import synth_sequences
        synth = synth_sequences(spark, wl.POOL * spec.docs, seed=3,
                                median_len=300, max_len=2_000)
        picked = synth.filter(F.col("doc_id").isin(list(corpus.lengths)))
        assert sorted(map(tuple, picked.collect())) == sorted(
            (r.doc_id, list(r.tokens), r.n_tok, r.source)
            for r in df.collect())

        frame, o10, o100 = wl.clip_detrend_tiers(df, corpus.sample)
        wl.write_noop(frame)
        assert check.compare(exp10, o10.get) == []
        assert check.compare(exp100, o100.get) == []

        # the same job with one sample doc's bucket-3 flat_sum scaled
        victim = corpus.sample[0]
        o10, o100 = Observation(), Observation()
        clipped = wl.slide_clip_sequences(df, window_length=wl.CLIP_WINDOW)
        t10 = wl.detrend_rollup_fused_auto(clipped, "biweight",
                                           window_length=wl.WINDOW)
        hit = (F.col("doc_id") == victim) & (F.col("bucket") == 3)
        t10 = t10.withColumn("flat_sum", F.when(
            hit, F.col("flat_sum") * 1.0001).otherwise(F.col("flat_sum")))
        t10 = t10.observe(o10, *check.digest_exprs(corpus.sample))
        wl.write_noop(wl.cascade_tier(t10).observe(
            o100, *check.digest_exprs(corpus.sample)))
        assert any(m.startswith("flat_sum")
                   for m in check.compare(exp10, o10.get))
        assert any(m.startswith("flat_sum")
                   for m in check.compare(exp100, o100.get))
    finally:
        host.stop_spark()


def test_benchmark_json_names_what_run_reports():
    import json

    from perfbench import run
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    for m in bench["end_to_end"]:
        assert run.UNITS[m["name"]] == m["unit"]
    for m in bench["per_layer"]:
        assert run.layer_unit(m["name"]) == m["unit"]
