"""spark-submit entry point: batched top-k search over a segment index.

Usage:
    spark-submit --py-files dist/lucene_solr_spark.zip jobs/search_job.py \\
        --index /data/index --queries queries.txt [--k 10] \\
        [--mode float32] [--output results_parquet]

``queries.txt``: one classic-syntax query per line (term / +a +b / a OR b /
"phrase" / prefix* / fuzzy~1); '#' comments. The WHOLE file runs as ONE
Spark job (broadcast plans, per-segment kernel, driver merge) — per-query
jobs are latency-dominated at benchmark scale.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--mode", default="float32", choices=["float32", "double"])
    ap.add_argument("--output", default=None, help="write results parquet here")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from lucene_solr_spark.operators.segments import SegmentIndex
    from lucene_solr_spark.operators.topk import SegmentSearcher
    from lucene_solr_spark.plans.parser import parse_query_file_line

    spark = SparkSession.getActiveSession()
    if spark is None:
        from lucene_solr_spark.session import get_spark

        spark = get_spark("search_job")

    qset = {}
    with open(args.queries) as f:
        for i, line in enumerate(f):
            q = parse_query_file_line(line)
            if q is not None:
                qset[f"q{i:05d}"] = q

    searcher = SegmentSearcher(spark, SegmentIndex.open(args.index), mode=args.mode)
    t0 = time.perf_counter()
    res = searcher.topk_batch(qset, k=args.k)
    if args.output:
        res.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    else:
        n = res.count()
    dt = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "n_queries": len(qset),
                "rows": int(n),
                "sec": round(dt, 3),
                "qps": round(len(qset) / dt, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
