#!/usr/bin/env python
"""Warm-path evidence for the incrementally maintained near-dup index.

Measures, on the sf documents table (env SPARK_GRAFT_SF_DIR, default
sf0.1), with an ingest batch of FRAC of the corpus:

* ``full_recompute_s`` — one-shot ``minhash_lsh_pairs`` over the whole
  corpus (what a per-call rebuild costs every time a batch lands);
* ``cold_build_s``     — ``NearDupIndex.build`` over the base (paid once);
* ``warm_update_s``    — ``update_incremental`` of the batch (the steady-
  state per-ingest cost: O(delta) signatures + one index-only probe).

Prints one JSON line.  Parity of the maintained index with the one-shot
operator is pinned by tests/test_neardup_index.py; this script is timing
only.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FRAC = float(os.environ.get("WOTAN_NDX_FRAC", "0.1"))
# "minhash" (documents table), "embedding" (embeddings table), or "ann"
# (the maintained IVF-PQ AnnIndex vs per-call cosine_topk_pq retraining)
KIND = os.environ.get("WOTAN_NDX_KIND", "minhash")


def _main_ann() -> None:
    """AnnIndex warm path: per-call cosine_topk_pq retrains quantizers +
    re-encodes the corpus; the maintained index pays encode O(delta) per
    ingest and searches against stored codes."""
    import shutil
    import tempfile

    from wotan_spark.spark.ann_index import AnnIndex
    from wotan_spark.spark.datapipe import cosine_topk_pq
    from wotan_spark.spark.session import get_spark

    load0 = os.getloadavg()
    spark = get_spark(app_name="bench-ann-index")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_vecs = emb.count()
    qids = [0, 1, 2, 3, 4]
    mod = max(2, int(round(1.0 / FRAC)))
    base = emb.filter(f"vec_id % {mod} != 0")
    delta = emb.filter(f"vec_id % {mod} = 0")

    t0 = time.perf_counter()
    cosine_topk_pq(emb, qids, k=5).count()          # retrain-per-call path
    full_s = time.perf_counter() - t0

    root = tempfile.mkdtemp(prefix="ann-bench-")
    try:
        idx = AnnIndex(root)
        t0 = time.perf_counter()
        idx.build(spark, base)
        cold_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        r = idx.update_incremental(spark, delta, run_id="bench-delta")
        warm_update_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        idx.search(spark, emb, qids, k=5).count()
        warm_search_s = time.perf_counter() - t0
    finally:
        shutil.rmtree(root, ignore_errors=True)

    print(json.dumps({
        "metric": "ann index warm-path cost vs per-call retrain+encode",
        "kind": "ann", "sf_dir": SF_DIR, "n_vecs": n_vecs,
        "n_delta": r["new_rows"],
        "one_shot_topk_pq_s": round(full_s, 3),
        "cold_build_s": round(cold_s, 3),
        "warm_update_s": round(warm_update_s, 3),
        "warm_search_s": round(warm_search_s, 3),
        "speedup_warm_search_vs_one_shot": round(full_s / warm_search_s,
                                                 2),
        "load_avg_pre": list(load0),
    }))


def main() -> None:
    if KIND == "ann":
        return _main_ann()
    import shutil
    import tempfile

    from wotan_spark.spark.datapipe import (embedding_near_dup_pairs,
                                            minhash_lsh_pairs)
    from wotan_spark.spark.neardup_index import (EmbeddingNearDupIndex,
                                                 NearDupIndex)
    from wotan_spark.spark.session import get_spark

    load0 = os.getloadavg()
    spark = get_spark(app_name="bench-neardup-index")
    spark.sparkContext.setLogLevel("ERROR")
    if KIND == "embedding":
        docs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        id_col = "vec_id"
    else:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        id_col = "doc_id"
    n_docs = docs.count()
    mod = max(2, int(round(1.0 / FRAC)))
    base = docs.filter(f"{id_col} % {mod} != 0")
    delta = docs.filter(f"{id_col} % {mod} = 0")
    n_delta = delta.count()

    t0 = time.perf_counter()
    if KIND == "embedding":
        n_pairs_full = embedding_near_dup_pairs(docs, method="lsh").count()
    else:
        n_pairs_full = minhash_lsh_pairs(docs).count()
    full_s = time.perf_counter() - t0

    root = tempfile.mkdtemp(prefix="ndx-bench-")
    try:
        idx = (EmbeddingNearDupIndex(root) if KIND == "embedding"
               else NearDupIndex(root))
        t0 = time.perf_counter()
        idx.build(spark, base)
        cold_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        r = idx.update_incremental(spark, delta, run_id="bench-delta")
        warm_s = time.perf_counter() - t0
        # like-for-like with the one-shot operator: embedding mode scores
        # (exact rerank) the maintained candidates
        n_pairs_idx = (idx.scored_pairs(spark, docs).count()
                       if KIND == "embedding"
                       else idx.candidate_pairs(spark).count())
    finally:
        shutil.rmtree(root, ignore_errors=True)

    print(json.dumps({
        "metric": "neardup index warm-path cost vs full recompute",
        "kind": KIND,
        "sf_dir": SF_DIR, "n_docs": n_docs, "n_delta": n_delta,
        "full_recompute_s": round(full_s, 3),
        "cold_build_s": round(cold_s, 3),
        "warm_update_s": round(warm_s, 3),
        "speedup_warm_vs_full": round(full_s / warm_s, 2),
        "pairs_full": n_pairs_full, "pairs_index": n_pairs_idx,
        "new_pair_rows": r["new_pair_rows"],
        "load_avg_pre": list(load0),
    }))


if __name__ == "__main__":
    main()
