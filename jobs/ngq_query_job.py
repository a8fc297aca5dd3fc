"""spark-submit entry point: large-Q NGQ batch over a stored index.

    cd /root/repo && python tools/package_pyfiles.py && \\
    spark-submit --master 'local[8]' \\
        --py-files dist/mbrngq_spark.zip \\
        jobs/ngq_query_job.py \\
        --index /tmp/idx_out --n-queries 50000 --k 10 --out /tmp/ngq_out

Queries are a DISTRIBUTED DataFrame: planning runs inside mapInPandas with
the cell-stats broadcast (mbrngq_spark/operators/knn.plan_in_executors)
— driver time is flat in query count, the query batch never lands on the
driver. ``--index`` accepts either a plain parquet index directory (the
build_index_job output) or a SnapshotTable root (``--snapshot-id`` then
selects a historical snapshot — time travel)."""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--n-queries", type=int, default=10_000)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--L", type=int, default=32)
    ap.add_argument("--out", required=True)
    ap.add_argument("--snapshot-id", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("mbrngq-ngq-query").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from mbrngq_spark.operators.ngq import nearest_group
    from mbrngq_spark.plans.snapshots import SnapshotTable
    from mbrngq_spark.sources.synth import query_points

    if os.path.isdir(os.path.join(args.index, "snapshots")):
        docs = SnapshotTable(spark, args.index).read(args.snapshot_id)
    else:
        docs = spark.read.parquet(args.index)
    docs_geo = docs.select("doc_id", "x", "y", "category")

    queries = query_points(spark, args.n_queries)      # distributed frame
    t0 = time.time()
    out = nearest_group(spark, docs_geo, queries, k=args.k, L=args.L)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"n_queries": args.n_queries, "rows": n,
                      "wall_sec": round(time.time() - t0, 2),
                      "queries_per_sec":
                          round(args.n_queries / (time.time() - t0), 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
