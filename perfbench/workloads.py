"""The benchmark's workloads: seeded corpora and the jobs each rep runs.

* ``short_series`` and ``long_series`` run one job, slide clip -> fused
  biweight detrend + tier-10 rollup -> tier-100 cascade, and write the
  tier-100 frame to Spark's ``noop`` sink.  They differ only in series
  length: many short series (per-series overhead dominates) against few
  long ones (kernel arithmetic dominates; a tail doc past
  ``AUTO_CHUNK_THRESHOLD`` takes the salted chunk path and its shuffle).
* ``pipeline_commit`` runs ``Pipeline.run`` into a fresh table root, then
  ``update_incremental`` with a late batch, ``enforce_retention`` on
  tier10, and reads the tier tables back.

Every corpus also has a late batch of new docs.  ``pipeline_commit`` merges
it in every rep (its latency is ``incremental_s``); the noop workloads use
it only in the traced run's pipeline probes."""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType

from wotan_spark.spark.detrend_op import AUTO_CHUNK_THRESHOLD
from wotan_spark.spark.ops import slide_clip_sequences
from wotan_spark.spark.pipeline import Pipeline
from wotan_spark.spark.retention import RetentionPolicy
from wotan_spark.spark.rollup import cascade_tier, detrend_rollup_fused_auto
from wotan_spark.spark.sources import read_sequences, write_sequences
from wotan_spark.spark.synth import SEQUENCES_SCHEMA, SOURCES, make_tokens

from perfbench import check
from perfbench.host import nproc

WINDOW = 17.0          # biweight window, as in the pipeline's default
CLIP_WINDOW = 50.0     # as in the contract's slide-clip queries
FACTOR = 10
# one per core, at least four; fixed for the host, so local[1] and
# local[nproc] read the same layout
PARTITIONS = max(4, nproc())


@dataclass(frozen=True)
class Spec:
    name: str
    kind: str              # "noop" or "pipeline"
    docs: int              # main corpus: docs and input points, the same
    points: int            #   for every seed (see ``select``)
    median_len: int
    max_len: int
    late_docs: int         # late batch: docs and points
    late_points: int
    tail_docs: int = 0     # extra docs of exactly ``tail_len`` tokens
    tail_len: int = 0
    sample_docs: int = 6


SPECS = {
    # sized so the per-series work outweighs the job's fixed cost (about
    # 2 s of every rep on 4 vCPUs, whatever the corpus)
    "short_series": Spec("short_series", "noop", docs=1_600,
                         points=172_000, median_len=80, max_len=1_000,
                         late_docs=160, late_points=17_000),
    # one tail doc past AUTO_CHUNK_THRESHOLD takes the salted chunk path
    "long_series": Spec("long_series", "noop", docs=200, points=1_900_000,
                        median_len=8_000, max_len=60_000, late_docs=10,
                        late_points=95_000, tail_docs=1, tail_len=98_304,
                        sample_docs=4),
    # not in BENCHMARK.json: one run takes about twice as long as one of
    # the others; its layers are measured by every traced run
    "pipeline_commit": Spec("pipeline_commit", "pipeline", docs=30,
                            points=60_000, median_len=2_000,
                            max_len=20_000, late_docs=6, late_points=14_000,
                            tail_docs=1, tail_len=98_304, sample_docs=4),
}
POOL = 4               # candidate docs generated per selected doc


@dataclass
class Corpus:
    path: str
    late_path: str
    lengths: dict          # doc_id -> n_tok, main corpus
    late_lengths: dict     # doc_id -> n_tok, late batch
    sample: list           # doc ids checked on every rep
    tokens: dict           # doc_id -> tokens of the sample docs
    ref: dict              # doc_id -> reference tier-10 arrays of the job

    @property
    def docs(self) -> int:
        return len(self.lengths)

    @property
    def points(self) -> int:
        return sum(self.lengths.values())

    @property
    def late_points(self) -> int:
        return sum(self.late_lengths.values())

    def chunked_docs(self) -> int:
        return sum(n > AUTO_CHUNK_THRESHOLD for n in self.lengths.values())


def select(lengths, count: int, target: int, rounds: int = 64) -> list:
    """Indices of ``count`` docs whose lengths sum to ``target`` (or as
    near as swaps get): start from evenly spaced length ranks, then swap
    one doc at a time for the candidate that best closes the gap.  With
    the doc count and point total fixed, a new seed changes the content
    of the corpus, not the amount of work."""
    lengths = np.asarray(lengths)
    order = np.argsort(lengths, kind="stable")
    picks = [int(order[int((j + 0.5) * len(lengths) / count)])
             for j in range(count)]
    for _ in range(rounds):
        gap = target - int(lengths[picks].sum())
        rest = np.setdiff1d(np.arange(len(lengths)), picks)
        if gap == 0 or not len(rest):
            break
        best = (abs(gap), None, None)
        for slot, p in enumerate(picks):
            change = lengths[rest] - lengths[p]
            j = int(np.argmin(np.abs(gap - change)))
            if abs(gap - change[j]) < best[0]:
                best = (abs(gap - change[j]), slot, int(rest[j]))
        if best[1] is None:
            break
        picks[best[1]] = best[2]
        picks.sort()
    return picks


def _synth(seed: int, count: int, points: int, median_len: int,
           max_len: int, prefix: str = "", pool_factor: int = POOL) -> dict:
    """{doc_id: (doc index, tokens)} of ``count`` docs selected from the
    first ``pool_factor * count`` docs that ``synth_sequences`` would make
    with these arguments (it seeds each doc by its index alone)."""
    pool = [make_tokens(i, seed=seed, median_len=median_len,
                        max_len=max_len)
            for i in range(pool_factor * count)]
    picks = select([len(t) for t in pool], count, points)
    return {f"{prefix}doc_{i:08d}": (i, pool[i]) for i in picks}


def _frame(spark: SparkSession, docs: dict, partitions: int) -> DataFrame:
    """The rows ``synth_sequences`` makes for these docs, in its schema,
    in ``partitions`` partitions of equal doc count and near-equal points:
    docs are dealt by length rank in snake order.  Hash partitioning on
    doc_id left one partition up to a fifth heavier than another, and
    which one changed with the seed."""
    # a label per partition that Spark's hash partitioner sends there
    bucket = F.expr(f"pmod(hash(cast(id as int)), {partitions})")
    label = {}
    for i, b in spark.range(16 * partitions).select("id", bucket).collect():
        label.setdefault(b, i)
    ranked = sorted(docs, key=lambda d: -len(docs[d][1]))
    cycle = list(range(partitions)) + list(range(partitions - 1, -1, -1))
    part = {d: label[cycle[k % len(cycle)]] for k, d in enumerate(ranked)}
    pdf = pd.DataFrame({
        "doc_id": list(docs),
        "tokens": [t for _, t in docs.values()],
        "n_tok": np.array([len(t) for _, t in docs.values()], np.int32),
        "source": [SOURCES[i % len(SOURCES)] for i, _ in docs.values()],
        "part": np.array([part[d] for d in docs], np.int32)})
    schema = StructType(SEQUENCES_SCHEMA.fields
                        + [StructField("part", IntegerType(), False)])
    return (spark.createDataFrame(pdf, schema=schema)
            .repartition(partitions, "part").drop("part"))


def build_corpus(spark: SparkSession, spec: Spec, seed: int,
                 workdir: str) -> "Corpus":
    """Write the seeded corpus and late batch as parquet, and compute the
    reference rows of a seeded sample.  The docs are synth's own, built
    in-process, so no Python worker is needed to write them."""
    main = _synth(seed, spec.docs, spec.points, spec.median_len,
                  spec.max_len)
    if spec.tail_docs:
        # a median far above max_len pins every tail doc at max_len
        main.update(_synth(seed + 1, spec.tail_docs,
                           spec.tail_docs * spec.tail_len,
                           spec.tail_len * 100, spec.tail_len, "tail_",
                           pool_factor=1))
    late = _synth(seed + 2, spec.late_docs, spec.late_points,
                  spec.median_len, spec.max_len, "late_")
    path = os.path.join(workdir, "corpus")
    write_sequences(_frame(spark, main, PARTITIONS), path)
    late_path = os.path.join(workdir, "late")
    write_sequences(_frame(spark, late, 1), late_path)
    rng = np.random.default_rng([seed, 17])
    plain = sorted(d for d in main if d.startswith("doc_"))
    sample = [plain[i] for i in sorted(rng.choice(
        len(plain), size=min(spec.sample_docs, len(plain)), replace=False))]
    sample += sorted(d for d in main if d.startswith("tail_"))
    late_ids = sorted(late)
    sample += [late_ids[i] for i in sorted(rng.choice(
        len(late_ids), size=min(2, len(late_ids)), replace=False))]
    every = {**main, **late}
    result = Corpus(path, late_path,
                    {d: len(t) for d, (_, t) in main.items()},
                    {d: len(t) for d, (_, t) in late.items()},
                    sample, {d: every[d][1] for d in sample}, {})
    result.ref = reference_rows(result, clipped=spec.kind == "noop")
    return result


def reference_rows(corpus: "Corpus", clipped: bool) -> dict:
    """Reference tier-10 rows of the sample docs, with or without the
    slide clip in front of the detrend."""
    clip = CLIP_WINDOW if clipped else None
    return {d: check.reference_tier10(t, WINDOW, clip, FACTOR)
            for d, t in corpus.tokens.items()}


def _rows(lengths, factor: int, cutoff: int = 0) -> int:
    return sum(max(0, math.ceil(n / factor) - cutoff)
               for n in lengths.values())


def digests(corpus: Corpus, docs: dict, cutoff10: int | None = None,
             ref: dict | None = None):
    ref = corpus.ref if ref is None else ref
    ref = {d: ref[d] for d in corpus.sample if d in docs}
    return check.expected_digests(
        ref, _rows(docs, FACTOR, cutoff10 or 0), _rows(docs, FACTOR ** 2),
        cutoff10=cutoff10, step=FACTOR)


# ---------------------------------------------------------------- noop jobs
def clip_detrend_tiers(df: DataFrame, sample) -> tuple:
    """The noop workloads' job, observed; returns (frame, obs10, obs100).
    Writing the frame runs it."""
    o10, o100 = Observation(), Observation()
    clipped = slide_clip_sequences(df, window_length=CLIP_WINDOW)
    t10 = detrend_rollup_fused_auto(clipped, "biweight", factor=FACTOR,
                                    window_length=WINDOW)
    t10 = t10.observe(o10, *check.digest_exprs(sample))
    t100 = cascade_tier(t10, step=FACTOR).observe(
        o100, *check.digest_exprs(sample))
    return t100, o10, o100


def write_noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class NoopJob:
    """One rep: the job over the corpus."""

    def __init__(self, spark: SparkSession, corpus: Corpus):
        self.spark = spark
        self.corpus = corpus
        self.expected = digests(corpus, corpus.lengths)

    def run(self, clock) -> tuple[dict, list]:
        """Returns (timings, mismatches)."""
        c = self.corpus
        t0 = clock()
        frame, o10, o100 = clip_detrend_tiers(
            read_sequences(self.spark, c.path), c.sample)
        write_noop(frame)
        t1 = clock()
        return {"wall_s": t1 - t0}, (
            mismatches("tier10", self.expected[0], o10.get)
            + mismatches("tier100", self.expected[1], o100.get))


def mismatches(label: str, expected: dict, got) -> list:
    return [f"{label} {m}" for m in check.compare(expected, got)]


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


# ------------------------------------------------------------- pipeline job
def readback(spark: SparkSession, table, sample) -> dict:
    o = Observation()
    write_noop(table.read(spark).observe(o, *check.digest_exprs(sample)))
    return o.get


class PipelineJob:
    """One rep: ``Pipeline.run`` into a fresh root, a late batch through
    ``update_incremental``, tier-10 retention, then both tiers read
    back and checked."""

    def __init__(self, spark: SparkSession, corpus: Corpus, workdir: str,
                 ref: dict | None = None):
        self.spark = spark
        self.corpus = corpus
        self.workdir = workdir
        self.reps = 0
        every = {**corpus.lengths, **corpus.late_lengths}
        nb10 = sorted(math.ceil(n / FACTOR) for n in every.values())
        # keep the buckets above the median doc's last bucket, so about
        # half the docs keep some tier-10 rows; retention keeps
        # bucket >= max bucket - keep + 1
        self.keep10 = max(1, nb10[-1] - nb10[len(nb10) // 2])
        self.cutoff10 = nb10[-1] - self.keep10
        self.expected = digests(corpus, every, self.cutoff10, ref)

    def new_root(self) -> str:
        self.reps += 1
        root = os.path.join(self.workdir, f"tables-{self.reps}")
        shutil.rmtree(root, ignore_errors=True)
        return root

    def run(self, clock) -> tuple[dict, list]:
        c = self.corpus
        root = self.new_root()
        pp = Pipeline(self.spark, root)
        base = read_sequences(self.spark, c.path)
        late = read_sequences(self.spark, c.late_path)
        t0 = clock()
        pp.run(base, run_id="bench-run")
        t1 = clock()
        pp.update_incremental(late, run_id="bench-late")
        t2 = clock()
        pp.enforce_retention(RetentionPolicy({"tier10": self.keep10}),
                             run_id="bench-retention")
        d10 = readback(self.spark, pp.tables["tier10"], c.sample)
        d100 = readback(self.spark, pp.tables["tier100"], c.sample)
        t3 = clock()
        bad = (mismatches("tier10", self.expected[0], d10)
               + mismatches("tier100", self.expected[1], d100))
        stored = dir_bytes(root)
        shutil.rmtree(root, ignore_errors=True)
        return {"wall_s": t3 - t0, "incremental_s": t2 - t1,
                "stored_bytes": stored}, bad


def make_job(spark: SparkSession, spec: Spec, corpus: Corpus, workdir: str):
    if spec.kind == "noop":
        return NoopJob(spark, corpus)
    return PipelineJob(spark, corpus, workdir)
