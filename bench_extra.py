"""Extra benchmarks — per-stage isolation of the headline queries.

bench.py is FROZEN (driver contract); this file holds the guide-§1
instrumentation: each headline query broken into sub-stages, timed with a
noop sink (``df.write.format("noop")``) so the computation is measured, not
the sink, and labeled via ``setJobDescription``. Optionally captures
``.explain("formatted")`` for every leg into plans/r07/.

Usage:
    python bench_extra.py [--explain-dir plans/r07] [--suffix before]
                          [--queries ngq,simhash,...]

Prints one JSON line per stage: {"stage": ..., "sec": ...}.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

from mbrngq_spark.config import default_cores

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cores()
N_DOCS = {"sf0.001": 6_000, "sf0.01": 60_000, "sf0.1": 600_000}
N_QUERIES = 200


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/")) or "sf0.1"


def _arg(flag: str, default: str | None = None) -> str | None:
    if flag in sys.argv:
        return sys.argv[sys.argv.index(flag) + 1]
    return default


def main() -> None:
    from pyspark.sql import functions as F

    from mbrngq_spark.config import DEFAULT as DEFAULT_CFG
    from mbrngq_spark.config import session
    from mbrngq_spark.index import IndexLayout, build_index
    from mbrngq_spark.operators import dedup, similarity, text, tiles
    from mbrngq_spark.operators.knn import knn_candidates, knn_join, \
        planner_stats
    from mbrngq_spark.operators.ngq import candidate_topL, nearest_group
    from mbrngq_spark.sources.synth import documents_spans, query_points, \
        with_geometry_spans

    explain_dir = _arg("--explain-dir")
    suffix = _arg("--suffix", "before")
    only = _arg("--queries")
    only = set(only.split(",")) if only else None
    if explain_dir:
        os.makedirs(explain_dir, exist_ok=True)

    spark = session(app="bench-extra", cores=CPUS,
                    shuffle_partitions=max(2 * CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def want(q: str) -> bool:
        return only is None or q in only

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def stage(name: str, fn):
        sc.setJobDescription(name)
        t0 = time.time()
        fn()
        dt = time.time() - t0
        sc.setJobDescription(None)
        print(json.dumps({"stage": name, "sec": round(dt, 3)}), flush=True)
        return dt

    def save_explain(name: str, df):
        if not explain_dir:
            return
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(f"{explain_dir}/{name}_{suffix}.txt", "w") as f:
            f.write(buf.getvalue())

    n_docs = N_DOCS.get(_sf_tag(SF_DIR), 600_000)
    docs = (with_geometry_spans(documents_spans(spark, n_docs))
            .withColumn("doc_uid", F.col("doc_id"))
            .withColumn("doc_id", F.substring("doc_id", 5, 8).cast("long"))
            .select("doc_id", "doc_uid", "x", "y", "category", "spans"))
    docs.cache().count()
    qpts = query_points(spark, N_QUERIES).toPandas()
    geo = docs.drop("spans", "doc_uid")

    if want("index_build"):
        idx = build_index(docs, IndexLayout())[0]
        save_explain("index_build", idx)
        stage("index_build:full", lambda: noop(idx))

    if want("knn"):
        stage("knn:planner_stats", lambda: planner_stats(geo, None, 10))
        cands = knn_candidates(spark, geo, qpts, k=10)
        stage("knn:candidates_noop", lambda: noop(cands))
        out = knn_join(spark, geo, qpts, k=10)
        save_explain("knn", out)
        stage("knn:full", lambda: out.count())

    if want("ngq"):
        from mbrngq_spark.operators.ngq import _nearest_group_once
        stage("ngq:planner_stats", lambda: planner_stats(geo, None, 32))
        stats, res = planner_stats(geo, None, 32)
        c = candidate_topL(spark, geo, qpts, 32, res, stats=stats)
        stage("ngq:candidates_noop", lambda: noop(c))
        # nearest_group is eager (the pandas-path loop collects per
        # round), so the meaningful plan is the per-round DAG
        save_explain("ngq", _nearest_group_once(spark, geo, qpts, 10, 32,
                                                res, DEFAULT_CFG, stats))
        out = nearest_group(spark, geo, qpts, k=10, L=32)
        stage("ngq:full", lambda: out.count())

    if want("tile_rollup"):
        out = tiles.tile_rollup(geo)
        save_explain("tile_rollup", out)
        stage("tile_rollup:full", lambda: out.count())

    if want("ngq_skew"):
        geo_skew = (with_geometry_spans(documents_spans(spark, n_docs),
                                        distribution="gaussian_island")
                    .withColumn("doc_id",
                                F.substring("doc_id", 5, 8).cast("long"))
                    .select("doc_id", "x", "y", "category"))
        geo_skew.cache().count()
        stage("ngq_skew:planner_stats", lambda: planner_stats(geo_skew, None, 32))
        stats, res = planner_stats(geo_skew, None, 32)
        c = candidate_topL(spark, geo_skew, qpts, 32, res, stats=stats)
        stage("ngq_skew:cand_L32_noop", lambda: noop(c))
        c161 = candidate_topL(spark, geo_skew, qpts, 161, res, stats=stats)
        stage("ngq_skew:cand_L161_noop", lambda: noop(c161))
        from mbrngq_spark.operators.ngq import _nearest_group_once
        save_explain("ngq_skew", _nearest_group_once(
            spark, geo_skew, qpts, 10, 161, res, DEFAULT_CFG, stats))
        out = nearest_group(spark, geo_skew, qpts, k=10, L=32)
        stage("ngq_skew:full", lambda: out.count())
        geo_skew.unpersist()

    tdocs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tdocs.count()

    if want("dedup_minhash"):
        n_part = sc.defaultParallelism
        d = tdocs.repartition(n_part)
        sigs = dedup.minhash_signatures(d, 16)
        stage("dedup:signatures_noop", lambda: noop(sigs))
        sigs_p = sigs.persist()
        sigs_p.count()
        cands = dedup.lsh_candidate_pairs(sigs_p, 16, 4)
        stage("dedup:lsh_candidates", lambda: cands.count())
        cands_p = cands.persist()
        cands_p.count()
        verify = dedup.jaccard_pairs(d, cands_p).filter(F.col("jaccard") >= 0.7)
        stage("dedup:jaccard_verify", lambda: verify.count())
        # near_duplicates_minhash is eager; the meaningful plan is the
        # full verify DAG before the pinning checkpoint
        save_explain("dedup_minhash",
                     dedup.jaccard_pairs(d, cands_p).filter(
                         F.col("jaccard") >= 0.7))
        sigs_p.unpersist()
        cands_p.unpersist()
        out = dedup.near_duplicates_minhash(tdocs, threshold=0.7)
        stage("dedup_minhash:full", lambda: out.count())

    if want("simhash"):
        sk = tdocs.select(F.col("doc_id").alias("id"),
                          dedup.simhash_col(F.col("text")).alias("sh"))
        stage("simhash:sketch_noop", lambda: noop(sk))
        # _simhash_pairs is eager; capture its lazy candidate join, built
        # from the engine's own chunk keys
        pairs_plan = dedup.band_pairs(dedup.simhash_chunk_keys(sk, 3), 1000,
                                      "sh")
        save_explain("simhash", pairs_plan)
        out = dedup.simhash_near_dups(tdocs, max_hamming=3)
        stage("simhash:full", lambda: out.count())

    if want("text_features"):
        out = text.with_text_features(tdocs)
        save_explain("text_features", out)
        stage("text_features:full",
              lambda: out.select(F.sum("fingerprint")).collect())

    if want("ann_topk"):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        emb.count()
        queries = emb.limit(16).select(F.col("vec_id").alias("q_id"),
                                       "embedding")
        out = similarity.cosine_topk_bruteforce(emb, queries, k=10)
        save_explain("ann_topk", out)
        stage("ann_topk:full", lambda: out.count())

    spark.stop()


if __name__ == "__main__":
    main()
