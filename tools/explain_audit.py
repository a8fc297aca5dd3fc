"""Physical-plan audit: assert the plans we claim are the plans we get.

Checks, for each core operator at sf0.01:
- kNN / NGQ / range candidate joins are BroadcastHashJoin (doc side never
  shuffled before the rank window);
- the only Exchange hashing a big side is keyed by query_id(/category);
- parquet scans carry PushedFilters / pruned ReadSchema where expected;
- hot-path arithmetic sits inside WholeStageCodegen spans;
- the partitioned index write prunes partitions under a cell_coarse filter.

Writes docs/PLANS.md with the captured plan excerpts, their ids
normalised (``stable``) so unchanged plans leave the file unchanged.
Exit 1 on any failed assertion — run it like a test when touching
operator plumbing.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"
checks: list[tuple[str, bool, str]] = []


def check(name: str, ok: bool, detail: str = "") -> None:
    checks.append((name, ok, detail))
    print(("PASS " if ok else "FAIL ") + name + ("" if ok else f" — {detail}"))


def broadcast_only(p: str) -> bool:
    """Every join in the plan is a broadcast hash join: the doc side is
    never shuffled into a sort-merge, shuffled-hash or nested-loop join."""
    return "BroadcastHashJoin" in p and not any(
        j in p for j in ("SortMergeJoin", "ShuffledHashJoin",
                         "BroadcastNestedLoopJoin", "CartesianProduct"))


def stable(plan: str) -> str:
    """A plan with its run-dependent tokens normalised: expression ids
    (``#123L`` → ``#NL``), exchange plan ids, AQE query-stage ids
    (``ShuffleQueryStage 3`` → ``ShuffleQueryStage N``), whole-stage
    codegen ids (``*(4)`` → ``*(N)``) and temporary directories. Only
    the excerpts written to docs/PLANS.md go through it (the checks read
    the raw plan), so a rerun on unchanged code rewrites no line."""
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"QueryStage \d+", "QueryStage N", plan)
    plan = re.sub(r"\*\(\d+\)", "*(N)", plan)
    return re.sub(r"/tmp/[^/\s,\]]+", "/tmp/<tmp>", plan)


def plan_of(df, execute: bool = False) -> str:
    if execute:
        # AQE only finalizes (and annotates codegen: "*(n)") the plan of the
        # EXACT frame that ran — count() would execute a different plan
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    from pyspark.sql import functions as F

    from mbrngq_spark import harness as H
    from mbrngq_spark.config import session
    from mbrngq_spark.index import IndexLayout, build_index, write_index
    from mbrngq_spark.operators.knn import knn_join
    from mbrngq_spark.operators.ngq import nearest_group

    spark = session(app="plan-audit", cores=8, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    docs_geo = H.load_docs_geo(spark, SF)
    qpts = H.queries_pdf()
    sections: list[tuple[str, str]] = []

    # --- kNN ---------------------------------------------------------------
    knn = knn_join(spark, docs_geo, qpts, k=10)
    p = plan_of(knn, execute=True)
    sections.append(("kNN join", p))
    check("knn: candidate join is broadcast", "BroadcastHashJoin" in p)
    check("knn: no SortMergeJoin on the doc side", "SortMergeJoin" not in p)
    # the single keyed exchange feeds the rank window on query_id
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", p)
    big_exchanges = [e for e in exchanges if "query_id" in e]
    check("knn: rank shuffle keyed by query_id", len(big_exchanges) >= 1,
          f"exchanges={exchanges}")
    check("knn: codegen on the distance math", "*(" in p)
    check("knn: map-side partial top-k before the shuffle",
          p.count("WindowGroupLimit") >= 2)
    # shuffle-volume bounds, not just plan shapes: the ONLY row shuffle is
    # the query_id rank exchange (doc side reaches the candidate join via
    # BroadcastExchange, never a hash repartition), and the rows entering
    # it are radius-pre-filtered to O(k·Q) regardless of corpus size
    check("knn: every row shuffle is the query_id rank exchange (doc side "
          "never hash-repartitioned)",
          len(exchanges) >= 1 and all("query_id" in e for e in exchanges),
          f"exchanges={exchanges}")
    from mbrngq_spark.operators.knn import knn_candidates
    n_cand = knn_candidates(spark, docs_geo, qpts, k=10).count()
    kq = 10 * len(qpts)
    check(f"knn: rank-shuffle input ≤ 64·k·Q (measured {n_cand} rows "
          f"= {n_cand / kq:.1f}·k·Q)", n_cand <= 64 * kq)
    sections.append(("kNN shuffle volume",
                     f"candidate rows into rank shuffle: {n_cand} "
                     f"(k·Q = {kq}, factor {n_cand / kq:.2f}; map-side "
                     f"WindowGroupLimit then cuts per-partition input to "
                     f"≤ k rows/query before the wire)"))

    # --- parquet pushdown ----------------------------------------------------
    filtered = (spark.read.parquet(f"{SF}/documents.parquet")
                .filter(F.col("doc_id") < 100).select("doc_id"))
    p = plan_of(filtered)
    sections.append(("scan pushdown", p))
    check("scan: filter pushed to parquet", "PushedFilters: [" in p
          and "LessThan(doc_id,100)" in p, p[-400:])
    check("scan: column pruned", "ReadSchema: struct<doc_id:bigint>" in p)

    # --- NGQ -----------------------------------------------------------------
    # audit the single-round frame: nearest_group's adaptive loop returns a
    # localCheckpoint'd result whose lineage (a cached-RDD scan) hides the
    # join/refine plan from inspection
    from mbrngq_spark.operators.knn import planner_stats
    from mbrngq_spark.operators.ngq import _nearest_group_once
    stats, ngq_res = planner_stats(docs_geo, None, 32, H.CFG)
    ngq = _nearest_group_once(spark, docs_geo, qpts, 10, 32, ngq_res,
                              H.CFG, stats)
    p = plan_of(ngq)
    sections.append(("NGQ", p))
    check("ngq: candidate join is broadcast", "BroadcastHashJoin" in p)
    check("ngq: refine runs in Arrow (FlatMapGroupsInArrow)",
          "FlatMapGroupsInArrow" in p)
    check("ngq: no doc-side sort-merge", "SortMergeJoin" not in p)
    ngq_exchanges = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", p)
    check("ngq: every row shuffle is keyed by query_id (doc side never "
          "hash-repartitioned)",
          len(ngq_exchanges) >= 1
          and all("query_id" in e for e in ngq_exchanges),
          f"exchanges={ngq_exchanges}")
    # the cap-depth round of a batch proven to escalate: one candidate
    # set at the cap, refined at both depths in the same Arrow groups
    ngq2 = _nearest_group_once(spark, docs_geo, qpts, 10, 161, ngq_res,
                               H.CFG, stats, prefix_L=32)
    p = plan_of(ngq2)
    sections.append(("NGQ two-depth round", p))
    ngq2_exchanges = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", p)
    check("ngq two-depth round: broadcast candidate join, Arrow refine, "
          "every exchange keyed by query_id",
          "BroadcastHashJoin" in p and "FlatMapGroupsInArrow" in p
          and len(ngq2_exchanges) >= 1
          and all("query_id" in e for e in ngq2_exchanges),
          f"exchanges={ngq2_exchanges}")

    # --- kNN, large-Q distributed mode ---------------------------------------
    # queries as a Spark DataFrame: the planner itself must be distributed
    # (MapInPandas over Arrow query batches), with no driver-side loop
    from mbrngq_spark.sources.synth import query_points
    knn_big = knn_join(spark, docs_geo, query_points(spark, 1000), k=10)
    p = plan_of(knn_big)
    sections.append(("kNN large-Q (distributed planner)", p))
    check("knn large-Q: planner runs distributed (MapInPandas)",
          "MapInPandas" in p)
    check("knn large-Q: no doc-side cartesian", "CartesianProduct" not in p)

    # --- ε-distance join ------------------------------------------------------
    from mbrngq_spark.operators.distance_join import distance_join
    dj = distance_join(docs_geo, docs_geo, eps=2.0, self_join=True)
    p = plan_of(dj, execute=True)
    sections.append(("distance join", p))
    check("distance-join: no cartesian product", "CartesianProduct" not in p)
    check("distance-join: single cell-key equi-join",
          p.count("Join") >= 1 and "BroadcastNestedLoopJoin" not in p)
    check("distance-join: codegen on the distance predicate", "*(" in p)

    # --- as-of join -----------------------------------------------------------
    # the union+window shape's whole point: NO join operator at all, ONE
    # row shuffle keyed by the as-of key — shuffle volume |l| + |r|
    from mbrngq_spark.operators.asof import asof_join
    ev = spark.read.parquet(f"{SF}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select(F.col("event_id").alias("cid"), "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", F.col("event_id").alias("vid"))
    aj = asof_join(clicks, views, on="user_id", tiebreak="vid")
    p = plan_of(aj, execute=True)
    sections.append(("as-of join", p))
    check("asof: no join operator anywhere (union + window)",
          "Join" not in p)
    # (the AQE plan string repeats the tree as Final + Initial plan, so
    # count per occurrence is 2× — assert every exchange is the key one)
    asof_ex = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", p)
    check("asof: the only row shuffle is keyed by the as-of key",
          len(asof_ex) >= 1 and all("__k" in e for e in asof_ex),
          f"exchanges={asof_ex}")

    # --- dedup sketch path ----------------------------------------------------
    from mbrngq_spark.operators.dedup import minhash_signatures
    docs_t = spark.read.parquet(f"{SF}/documents.parquet")
    sig = minhash_signatures(docs_t)
    p = plan_of(sig)
    sections.append(("minhash signatures", p))
    check("minhash: family mixing is Arrow-vectorized (ArrowEvalPython)",
          "ArrowEvalPython" in p)
    check("minhash: map-only (no Exchange before the sketch)",
          "Exchange" not in p)

    # --- BM25 query path ------------------------------------------------------
    # index build legitimately shuffles the corpus once; the QUERY path
    # must reach the postings through BROADCAST joins of the query-term
    # set (partition pruning against a bucketed index at scale) and the
    # only aggregation exchanges are term-/id-/(q_id,doc)-keyed
    from mbrngq_spark.operators.search import bm25_topk
    q_bm = docs_t.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 5), " ")
        .alias("q_text"))
    bm = bm25_topk(docs_t, q_bm, k=10)
    p = plan_of(bm, execute=True)
    sections.append(("BM25 top-k", p))
    check("bm25: query-term set reaches postings via broadcast",
          p.count("BroadcastHashJoin") >= 2)
    bm_ex = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", p)
    check("bm25: every row shuffle is term-/doc-/score-keyed",
          len(bm_ex) >= 1 and all(
              ("term" in e) or ("doc_id" in e) or ("q_id" in e)
              for e in bm_ex),
          f"exchanges={bm_ex}")

    # --- chunking / packing prefix sum ---------------------------------------
    # the two-pass prefix sum must NOT plan a single-partition global
    # window: no Exchange SinglePartition on the row path
    from mbrngq_spark.operators.chunking import chunk_documents, \
        pack_sequences, staged_partial_sums
    chunked = chunk_documents(docs_t, 64, 8)
    packed = pack_sequences(chunked, budget=256)
    p = plan_of(packed, execute=True)
    sections.append(("sequence packing", p))
    # unconditional: a single-partition window anywhere on the row path is
    # the 100 TB non-starter this operator exists to avoid (the former
    # `or rangepartitioning` escape made this check unfalsifiable)
    check("packing: no single-partition global window",
          "Exchange SinglePartition" not in p)
    # the range partitioning lives on the pre-checkpoint lineage
    # (pack_sequences materializes it so both its actions share one layout)
    p_pre = plan_of(staged_partial_sums(chunked), execute=True)
    sections.append(("sequence packing pass 1", p_pre))
    check("packing: prefix sum is range-partitioned",
          "rangepartitioning" in p_pre)
    check("packing pass 1: no single-partition global window",
          "Exchange SinglePartition" not in p_pre)

    # --- geodetic kNN ---------------------------------------------------------
    # doc side must reach the rank stage via BROADCAST candidate/query
    # joins (never hash-repartitioned); the only row shuffle is the
    # query_id-keyed rank window
    import pandas as pd

    from mbrngq_spark.operators.geodetic import geodetic_knn
    docs_ll = docs_geo.select(
        "doc_id", (F.col("y") * 1.8 - 90.0).alias("lat"),
        (F.col("x") * 3.6 - 180.0).alias("lon"))
    qgeo = pd.DataFrame({"query_id": [0, 1],
                         "qlat": [10.0, 60.0], "qlon": [30.0, -120.0]})
    gk = geodetic_knn(spark, docs_ll, qgeo, k=5, res=5)
    p = plan_of(gk, execute=True)
    sections.append(("geodetic kNN", p))
    check("geo: candidates and queries join docs via broadcast",
          broadcast_only(p))
    geo_ex = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", p)
    check("geo: the only row shuffle is the query_id rank window",
          len(geo_ex) >= 1 and all("query_id" in e for e in geo_ex),
          f"exchanges={geo_ex}")
    geo_mode = re.findall(r"Exchange hashpartitioning\([^)]+\), (\w+)", p)
    check("geo: rank exchange has an explicit partition count",
          len(geo_mode) >= 1
          and all(mo == "REPARTITION_BY_NUM" for mo in geo_mode),
          f"modes={geo_mode}")

    # --- geodetic range (DataFrame queries) / ε-join -------------------------
    # large-Q forms: planning must run on executors (ArrowEvalPython /
    # MapInPandas stage), and every row shuffle stays keyed by the
    # candidate keys (cell / query_id for range; ca / cb for the ε-join)
    from mbrngq_spark.operators.geodetic import geodetic_pairs, \
        geodetic_range
    qdf_geo = spark.createDataFrame(pd.DataFrame({
        "query_id": list(range(40)),
        "qlat": [(i * 7) % 160 - 80.0 for i in range(40)],
        "qlon": [(i * 37) % 360 - 180.0 for i in range(40)]}))
    gr = geodetic_range(spark, docs_ll, qdf_geo, 500_000.0, res=5)
    p = plan_of(gr, execute=True)
    sections.append(("geodetic range (DataFrame queries)", p))
    check("geo range dist: planner runs on executors (mapInPandas)",
          "MapInPandas" in p)
    gr_ex = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", p)
    check("geo range dist: every row shuffle keyed by cell/query_id",
          all(("cell" in e) or ("query_id" in e) for e in gr_ex),
          f"exchanges={gr_ex}")
    gp = geodetic_pairs(spark, docs_ll.limit(400), 600_000.0, res=4)
    p = plan_of(gp, execute=True)
    sections.append(("geodetic pairs", p))
    check("geo pairs dist: cell-pair planning on executors (mapInPandas)",
          "MapInPandas" in p)
    gp_ex = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", p)
    check("geo pairs dist: every row shuffle keyed by ca/cb",
          all(("ca" in e) or ("cb" in e) for e in gp_ex),
          f"exchanges={gp_ex}")

    # --- BPE training round: partial agg + top-1, never a global sort -----
    from mbrngq_spark.operators.text import pair_counts
    vocab_t = (docs_t
               .select(F.explode(F.filter(F.split(F.col("text"), " "),
                                          lambda t: t != F.lit("")))
                       .alias("w"))
               .groupBy("w").agg(F.count("*").alias("cnt"))
               .withColumn("tokens", F.split("w", "")))
    bp = pair_counts(vocab_t).orderBy(F.desc("n"), F.asc("a"), F.asc("b")) \
        .limit(1)
    p = plan_of(bp, execute=True)
    sections.append(("bpe training round", p))
    check("bpe train: pair count has map-side partial aggregation",
          p.count("HashAggregate") >= 2 or "partial_sum" in p)
    check("bpe train: argmax is TakeOrderedAndProject, not a global sort",
          "TakeOrderedAndProject" in p and "Sort " not in p)

    # --- HTML extraction: pure projection --------------------------------
    from mbrngq_spark.operators.extract import extract_html
    he = extract_html(docs_t.select(
        "doc_id", F.concat(F.lit("<p>"), F.col("text"),
                           F.lit("</p>")).alias("html")))
    p = plan_of(he, execute=True)
    sections.append(("html extraction", p))
    check("html extract: map-only (no Exchange anywhere)",
          "Exchange" not in p)

    # --- range query: JVM box cover broadcast to the docs -----------------
    from mbrngq_spark.operators.range_query import range_query
    rq = range_query(spark, docs_geo, H.rects_pdf())
    p = plan_of(rq, execute=True)
    sections.append(("range query", p))
    check("range: cover join is broadcast (doc side never shuffled)",
          "BroadcastHashJoin" in p and "SortMergeJoin" not in p)
    check("range: pure Column (no Python eval)", "EvalPython" not in p)

    # --- PIP: JVM cover + Column PNPOLY, zero Python ---------------------
    import pandas as pd
    from mbrngq_spark.operators.pip import point_in_polygon_join
    polys = pd.DataFrame({"poly_id": [0], "vx": [[10.0, 50.0, 30.0]],
                          "vy": [[10.0, 12.0, 50.0]]})
    pp = point_in_polygon_join(spark, docs_geo, polys)
    p = plan_of(pp, execute=True)
    sections.append(("point-in-polygon (pandas polygons)", p))
    check("pip dist: cover + PNPOLY refine are pure Column math "
          "(no Python eval anywhere)", "EvalPython" not in p)
    check("pip dist: candidate join is broadcast (doc side never shuffled)",
          "BroadcastHashJoin" in p and "Exchange hashpartitioning" not in p)

    # --- spherical polygon rasterization: pure Column, no shuffle ----------
    from mbrngq_spark.operators.geodetic import geodetic_polygon_cover
    gpolys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0],
                      "vlat": [[-20.0, -20.0, 25.0, 25.0]],
                      "vlon": [[170.0, -170.0, -165.0, 172.0]]}),
        "poly_id long, vlat array<double>, vlon array<double>")
    gp = geodetic_polygon_cover(gpolys, res=5)
    p = plan_of(gp, execute=True)
    sections.append(("spherical polygon rasterization", p))
    check("geo poly cover: map-only pure Column (no Exchange, no Python)",
          "Exchange" not in p and "EvalPython" not in p)

    # --- cover compaction: window-count promotion, no joins ---------------
    from mbrngq_spark import grid as _grid
    from mbrngq_spark.operators.tiles import compact_cover, polygon_cover
    pc = polygon_cover(spark, pd.DataFrame(
        {"poly_id": [0], "vx": [[5.0, 90.0, 50.0]],
         "vy": [[5.0, 10.0, 90.0]]}), res=6).select(
        "poly_id", _grid.cell_from_indices(
            F.col("ix"), F.col("iy")).alias("cell"))
    cc = compact_cover(pc, res=6, key_cols=["poly_id"])
    p = plan_of(cc, execute=True)
    sections.append(("cover compaction", p))
    check("polygon cover: refine is pure Column (no Python eval)",
          "EvalPython" not in p)
    check("compact cover: promotion is window-count only — no join "
          "anywhere in the 6-round plan", "Join" not in p)
    check("compact cover: every Exchange is keyed by (poly_id, parent)",
          all("poly_id" in ln and "parent" in ln
              for ln in p.splitlines() if "Exchange hashpartitioning" in ln)
          and "Exchange hashpartitioning" in p)

    # --- polygon overlay join: celled cover, min-cell dedup, Column refine --
    from mbrngq_spark.operators.overlay import polygon_intersects_join
    from mbrngq_spark.operators.pip import polygons_df
    sq_s = F.lit(1.5)
    squares = docs_geo.select(
        F.col("doc_id").alias("b_id"),
        F.array(F.col("x") - sq_s, F.col("x") + sq_s, F.col("x") + sq_s,
                F.col("x") - sq_s).alias("vx"),
        F.array(F.col("y") - sq_s, F.col("y") - sq_s, F.col("y") + sq_s,
                F.col("y") + sq_s).alias("vy"))
    ov = polygon_intersects_join(polygons_df(spark, polys).withColumnRenamed(
        "poly_id", "a_id"), squares)
    p = plan_of(ov, execute=True)
    sections.append(("polygon overlay join", p))
    check("overlay: edge tests + containment are pure Column (no Python); "
          "pair dedup is arithmetic, not a distinct (no row shuffle at "
          "all)", "EvalPython" not in p
          and "Exchange hashpartitioning" not in p)
    check("overlay: small polygon side broadcast",
          "BroadcastHashJoin" in p)

    # --- geodetic corridor join: celled candidates, Column refine ----------
    from mbrngq_spark.operators.geodetic import geodetic_polyline_join
    gl = spark.createDataFrame(
        pd.DataFrame({"line_id": [0], "vlat": [[-10.0, 0.0, 15.0]],
                      "vlon": [[100.0, 130.0, 160.0]]}),
        "line_id long, vlat array<double>, vlon array<double>")
    docs_ll_a = docs_geo.select(
        "doc_id", (F.col("y") * 1.8 - 90.0).alias("lat"),
        (F.col("x") * 3.6 - 180.0).alias("lon"))
    gj = geodetic_polyline_join(docs_ll_a, gl, 900_000.0)
    p = plan_of(gj, execute=True)
    sections.append(("geodetic corridor join", p))
    check("geo corridor: cover broadcast, refine pure Column (no Python; "
          "doc side never shuffled before the min)",
          "EvalPython" not in p and "BroadcastHashJoin" in p)
    check("geo corridor: per-(line,doc) min has map-side partial "
          "aggregation", "partial_min" in p)

    # --- trajectory: one user-keyed shuffle end to end ----------------------
    from mbrngq_spark.operators.trajectory import (stay_points,
                                                   with_event_geometry)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    sp = stay_points(with_event_geometry(ev), 40.0, 600)
    p = plan_of(sp, execute=True)
    sections.append(("trajectory stay points", p))
    check("trajectory: every Exchange is keyed by user_id (windows and "
          "the island agg reuse one partitioning)",
          all("user_id" in ln for ln in p.splitlines()
              if "Exchange hashpartitioning" in ln)
          and "EvalPython" not in p)

    # --- co-location join: one (cell, bucket)-keyed equi-join ---------------
    from mbrngq_spark.operators.trajectory import (colocation_contacts,
                                                   with_event_geometry)
    ev4 = spark.read.parquet(f"{SF}/events.parquet") \
        .filter(F.col("event_id") < 4000)
    cc_df = colocation_contacts(with_event_geometry(ev4), 16.0, 900)
    p = plan_of(cc_df, execute=True)
    sections.append(("co-location contacts", p))
    check("colocation: the candidate stage is ONE equi-join keyed by "
          "(cell, tb) — no nested loop, no Python",
          "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
          and "EvalPython" not in p
          and all(("cell" in ln and "tb" in ln) or "ua" in ln or "knownfloatingpointnormalized" in ln
                  for ln in p.splitlines()
                  if "Exchange hashpartitioning" in ln))

    # --- marching squares: splat + pivot + broadcast case table ------------
    from mbrngq_spark.operators.tiles import contour_segments
    cs = contour_segments(docs_geo, 10.0, 4, 5_000_000_000)
    p = plan_of(cs, execute=True)
    sections.append(("contour extraction", p))
    check("contour: raster→vector is pure Column (no Python); the only "
          "join is the broadcast case table",
          "EvalPython" not in p and "BroadcastHashJoin" in p
          and "SortMergeJoin" not in p)
    check("contour: corner pivot + kde sums are map-side partial",
          "partial_sum" in p or "partial_max" in p)

    # --- skyline + partitioner + DP simplification ---------------------------
    from mbrngq_spark.operators.hull import skyline
    sk = skyline(docs_geo)
    p = plan_of(sk, execute=True)
    sections.append(("skyline", p))
    check("skyline: both staircase stages are Arrow map-only (no join)",
          "MapInPandas" in p and "Join" not in p)
    from mbrngq_spark.index import balanced_cell_partitions
    bp = balanced_cell_partitions(docs_geo, 4, 8)
    p = plan_of(bp, execute=True)
    sections.append(("equi-depth partitioner", p))
    check("partitioner: corpus collapses map-side (partial agg); the "
          "global window runs over the cell table, the plan join is "
          "broadcast",
          "partial_count" in p and "BroadcastNestedLoopJoin" in p)
    from mbrngq_spark.operators.lines import simplify_polylines
    import pandas as pd_sp
    from mbrngq_spark.functions import derive as _dv
    sv = F.sequence(F.lit(0), F.lit(7))
    spl = (spark.read.parquet(f"{SF}/documents.parquet")
           .filter(F.col("doc_id") < 200)
           .select(F.col("doc_id").alias("line_id"))
           .select("line_id",
                   F.transform(sv, lambda i: _dv.x_col(
                       F.col("line_id") * 31 + i * 7 + 1)).alias("vx"),
                   F.transform(sv, lambda i: _dv.y_col(
                       F.col("line_id") * 31 + i * 7 + 1)).alias("vy")))
    dp = simplify_polylines(spl, 6.0, 6)
    p = plan_of(dp, execute=True)
    sections.append(("DP simplification (final kept-join)", p))
    check("simplify: pure Column end to end (rounds are checkpointed "
          "JVM frames; no Python anywhere in the final plan)",
          "EvalPython" not in p)

    # --- rollup store: dirty-partition-pruned incremental merge -------------
    import tempfile
    from mbrngq_spark.plans.rollup_store import RollupStore
    with tempfile.TemporaryDirectory() as td:
        rs = RollupStore(spark, td + "/pyr")
        rs.create(docs_geo.filter(F.col("doc_id") < 400))
        dd = docs_geo.filter(F.col("doc_id") >= 400).select(
            "doc_id", (F.col("x") * 0.05).alias("x"),
            (F.col("y") * 0.05).alias("y"), "category")
        _delta, merged = rs.dirty_merge(dd)
        p = plan_of(merged, execute=True)
        sections.append(("rollup store incremental merge", p))
        check("rollup store: the dirty read is partition-pruned on "
              "(res, bucket) — append cost scales with the delta",
              "PartitionFilters" in p
              and "res" in p.split("PartitionFilters")[1][:400])
        check("rollup store: merge aggregation has a map-side partial",
              "partial_sum" in p or "partial_count" in p)

    # --- map matching: broadcast emissions, one user-keyed DP kernel --------
    import pandas as pd_mm
    from mbrngq_spark.operators.trajectory import map_match
    mm_lines = spark.createDataFrame(
        pd_mm.DataFrame({"line_id": [l[0] for l in H.POLYLINES],
                         "vx": [l[1] for l in H.POLYLINES],
                         "vy": [l[2] for l in H.POLYLINES]}),
        "line_id long, vx array<double>, vy array<double>")
    mm_df = map_match(with_event_geometry(ev4), mm_lines, 8.0)
    p = plan_of(mm_df, execute=True)
    sections.append(("map matching", p))
    check("map match: route side broadcast (emissions never shuffle "
          "the corpus per route)", "BroadcastNestedLoopJoin" in p
          or "BroadcastHashJoin" in p)
    check("map match: Viterbi runs in Arrow (FlatMapGroupsInPandas), "
          "every row exchange keyed by user_id",
          "FlatMapGroupsInPandas" in p
          and all("user_id" in ln for ln in p.splitlines()
                  if "Exchange hashpartitioning" in ln))

    # --- trajectory similarity: quantized matrix + one kernel group --------
    from mbrngq_spark.operators.trajectory import frechet_join, \
        hausdorff_join
    fr_tracks = spark.createDataFrame(
        pd_mm.DataFrame({"line_id": [l[0] for l in H.POLYLINES],
                         "vx": [l[1] for l in H.POLYLINES],
                         "vy": [l[2] for l in H.POLYLINES]}),
        "line_id long, vx array<double>, vy array<double>")
    p = plan_of(frechet_join(fr_tracks, fr_tracks), execute=True)
    sections.append(("frechet join", p))
    check("frechet: matrix quantization is JVM Column (broadcast pair "
          "join, bounded explode); the DP is ONE (a,b)-keyed Arrow group",
          "FlatMapGroupsInPandas" in p and "SortMergeJoin" not in p
          and all(("a_id" in ln and "b_id" in ln)
                  for ln in p.splitlines()
                  if "Exchange hashpartitioning" in ln))
    p = plan_of(hausdorff_join(fr_tracks, fr_tracks), execute=True)
    sections.append(("hausdorff join", p))
    check("hausdorff: NO Python anywhere — pure Column aggregation "
          "chain over the quantized matrix",
          "EvalPython" not in p and "FlatMapGroupsInPandas" not in p)

    # --- interval-overlap join: bucket-keyed, dedup by arithmetic ----------
    from mbrngq_spark.operators.intervals import interval_overlap_join
    iv_a = spark.range(200).select(
        F.col("id"), (F.col("id") * 977).alias("t0"),
        (F.col("id") * 977 + 5000).alias("t1"))
    ov = interval_overlap_join(iv_a, iv_a, width=4000)
    p = plan_of(ov, execute=True)
    sections.append(("interval overlap join", p))
    check("interval join: one bucket-keyed equi-join, dedup is "
          "first-shared-bucket arithmetic — no distinct, no nested loop",
          "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
          and "HashAggregate" not in p and "EvalPython" not in p)

    # --- KDE heatmap: map-only splat + one keyed sum ------------------------
    from mbrngq_spark.operators.tiles import tile_heatmap
    hm = tile_heatmap(docs_geo, 10.0, 4)
    p = plan_of(hm, execute=True)
    sections.append(("kde heatmap", p))
    check("kde heatmap: splat + kernel are pure Column (no Python, "
          "no join)", "EvalPython" not in p and "Join" not in p)
    check("kde heatmap: the single sum is map-side partial",
          "partial_sum" in p or "partial_count" in p)

    # --- focal / hotspot / IDW: splats, not joins ---------------------------
    from mbrngq_spark.operators.tiles import (focal_stats, hotspot_gi,
                                              idw_interpolate)
    fo = focal_stats(docs_geo, 4)
    p = plan_of(fo, execute=True)
    sections.append(("focal map algebra", p))
    check("focal stats: neighborhood aggregation is a splat — no join, "
          "no Python", "Join" not in p and "EvalPython" not in p)
    check("focal stats: both aggregations have map-side partials",
          p.count("partial_sum") + p.count("partial_count") >= 2)
    gi = hotspot_gi(docs_geo, 4)
    p = plan_of(gi, execute=True)
    sections.append(("Gi* hotspot", p))
    check("hotspot Gi*: the only join is the broadcast of the 1-row "
          "global stats",
          "BroadcastNestedLoopJoin" in p
          and "SortMergeJoin" not in p and "ShuffledHashJoin" not in p)
    check("hotspot Gi*: score is pure Column over exact ints (no Python)",
          "EvalPython" not in p)
    from mbrngq_spark.operators.tiles import moran_i
    mo = moran_i(docs_geo, 4)
    p = plan_of(mo, execute=True)
    sections.append(("Moran's I", p))
    check("moran: corpus collapses to the raster map-side (partial "
          "aggregation) and the score dag is pure Column",
          "partial_count" in p and "EvalPython" not in p)
    iw = idw_interpolate(
        docs_geo.withColumn("v", (F.col("doc_id") % 97).cast("double")),
        "v", 10.0, 4)
    p = plan_of(iw, execute=True)
    sections.append(("IDW interpolation", p))
    check("IDW: splat + weights are pure Column (no Python, no join)",
          "EvalPython" not in p and "Join" not in p)
    check("IDW: the quantized sums are map-side partial",
          "partial_sum" in p)

    # --- convex hull: two-stage reduction -----------------------------------
    from mbrngq_spark.operators.hull import convex_hull
    hu = convex_hull(docs_geo)
    p = plan_of(hu, execute=True)
    sections.append(("convex hull", p))
    check("hull: per-partition and final chains are Arrow map-only "
          "(no join)", "MapInPandas" in p and "Join" not in p)
    check("hull: every hash exchange is the quantized-point dedup "
          "(keyed by qx); candidates collapse via one SinglePartition "
          "exchange",
          all("qx" in ln for ln in p.splitlines()
              if "Exchange hashpartitioning" in ln)
          and "Exchange SinglePartition" in p)

    # --- polyline corridor join: celled candidates, Column refine ----------
    from mbrngq_spark import harness as _H
    from mbrngq_spark.operators.lines import polyline_distance_join
    lines_df = spark.createDataFrame(
        pd.DataFrame({"line_id": [l[0] for l in _H.POLYLINES],
                      "vx": [l[1] for l in _H.POLYLINES],
                      "vy": [l[2] for l in _H.POLYLINES]}),
        "line_id long, vx array<double>, vy array<double>")
    lj = polyline_distance_join(docs_geo, lines_df, _H.LINE_RADIUS)
    p = plan_of(lj, execute=True)
    sections.append(("polyline corridor join", p))
    check("polyline join: segment explode + refine are pure Column "
          "(no Python eval)", "EvalPython" not in p)
    check("polyline join: per-(line,doc) min has map-side partial "
          "aggregation", "partial_min" in p)

    # --- DBSCAN: ε-join + degree + star CC, all JVM-side -------------------
    from mbrngq_spark.operators.clustering import dbscan
    tiny = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(12)),
                      "x": [1.0, 2.0, 3.0, 2.5, 50.0, 51.0, 52.0, 51.5,
                            90.0, 10.0, 11.0, 12.0],
                      "y": [1.0, 2.0, 1.5, 2.5, 50.0, 51.0, 50.5, 51.5,
                            90.0, 80.0, 81.0, 80.5]}))
    db = dbscan(tiny, eps=3.0, min_pts=3)
    p = plan_of(db, execute=True)
    sections.append(("dbscan", p))
    check("dbscan: no Python evaluation anywhere (ε-join, degree, CC, "
          "border label are all JVM-side)", "EvalPython" not in p)
    check("dbscan: degree/label aggregations are map-side partial",
          "partial_count" in p or "partial_min" in p)

    # --- unigram-LM perplexity: broadcast LM, one doc-keyed re-agg ---------
    from mbrngq_spark.operators.text import (train_unigram_lm,
                                             with_perplexity)
    lm, oov = train_unigram_lm(docs_t)
    px = with_perplexity(docs_t, lm, oov)
    p = plan_of(px, execute=True)
    sections.append(("unigram-LM perplexity scoring", p))
    check("perplexity: LM join is broadcast (corpus never shuffled on "
          "tokens)", "BroadcastHashJoin" in p)
    check("perplexity: doc re-agg has map-side partial aggregation",
          "partial_sum" in p or "partial" in p.lower())

    # --- geodetic NGQ: doc side broadcast, one rank + one refine shuffle ----
    from mbrngq_spark.operators.geodetic import geodetic_nearest_group
    docs_ll_cat = docs_ll.join(
        docs_geo.select("doc_id", "category"), "doc_id")
    gn = geodetic_nearest_group(spark, docs_ll_cat, qgeo, m=3, k=3, L=4,
                                res=4)
    p = plan_of(gn, execute=True)
    sections.append(("geodetic NGQ", p))
    check("geo ngq: candidates and queries join docs via broadcast",
          broadcast_only(p))
    gn_ex = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", p)
    check("geo ngq: every row shuffle is query_id-keyed",
          len(gn_ex) >= 1 and all("query_id" in e for e in gn_ex),
          f"exchanges={gn_ex}")
    # the executed AQE plan also prints its Initial Plan: count the
    # exchanges that ran, so a second same-key exchange cannot hide
    final = p.split("== Initial Plan ==")[0]
    gn_final = re.findall(r"Exchange hashpartitioning\(query_id", final)
    check("geo ngq: one query_id exchange feeds the top-L window and the "
          "refine", len(gn_final) == 1, f"exchanges={gn_ex}")

    # --- persisted IVF artifact: probe = partition pruning -------------------
    import shutil
    import tempfile

    from mbrngq_spark.operators.similarity import build_ivf_index, \
        probe_ivf_index
    emb_t = spark.read.parquet(f"{SF}/embeddings.parquet")
    q_emb = emb_t.filter(F.col("vec_id") < 3) \
        .select(F.col("vec_id").alias("q_id"), "embedding")
    ivf_tmp = tempfile.mkdtemp(prefix="plan_audit_ivf_")
    try:
        build_ivf_index(emb_t, ivf_tmp, nlist=16)
        pr = probe_ivf_index(spark, ivf_tmp, q_emb, k=5, nprobe=4)
        p = plan_of(pr, execute=True)
        sections.append(("persisted IVF probe", p))
        check("ivf artifact: probe scan is partition-pruned on pivot",
              "PartitionFilters" in p and "pivot" in
              p.split("PartitionFilters", 1)[1][:300])
        check("ivf artifact: query side broadcast, rank keyed by q_id",
              "BroadcastHashJoin" in p and all(
                  "q_id" in e for e in re.findall(
                      r"Exchange hashpartitioning\(([^)]+)\)", p)))
    finally:
        shutil.rmtree(ivf_tmp, ignore_errors=True)

    # --- ANN top-k: one query side, one broadcast join, one q_id rank -------
    from mbrngq_spark.operators.similarity import build_lsh_index, \
        cosine_topk_ivf, cosine_topk_lsh, probe_lsh_index
    dim = len(emb_t.select("embedding").first()[0])
    lsh_tmp = tempfile.mkdtemp(prefix="plan_audit_lsh_")
    try:
        build_lsh_index(emb_t, lsh_tmp, dim=dim)
        ann = {"lsh": cosine_topk_lsh(emb_t, q_emb, k=5, dim=dim),
               "ivf": cosine_topk_ivf(emb_t, q_emb, k=5, nprobe=4),
               "persisted lsh": probe_lsh_index(spark, lsh_tmp, q_emb, k=5)}
        bad = []
        for tag, df in ann.items():
            p = plan_of(df, execute=True)
            sections.append((f"ANN top-k ({tag})", p))
            ex = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", p)
            if not (broadcast_only(p) and ex
                    and all("q_id" in e for e in ex)):
                bad.append(f"{tag}: exchanges={ex}")
        check("ann top-k (lsh, ivf, persisted lsh): query side broadcast, "
              "every exchange keyed by q_id", not bad, "; ".join(bad))
    finally:
        shutil.rmtree(lsh_tmp, ignore_errors=True)

    # --- HLL cardinality sketch: one register-keyed partial-agg shuffle ------
    from mbrngq_spark.operators.sketch import hll_sketch
    ev = spark.read.parquet(f"{SF}/events.parquet")
    p = plan_of(hll_sketch(ev, ["event_type"], "user_id"))
    sections.append(("HLL sketch build", p))
    check("sketch: register max has map-side partial aggregation",
          "partial_max" in p)
    sk_exchanges = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", p)
    check("sketch: every exchange keyed by (key, register) — the shuffle "
          "moves register partials, never items",
          len(sk_exchanges) >= 1
          and all("register" in e for e in sk_exchanges),
          f"exchanges={sk_exchanges}")

    # --- KMV sketch: group-limited rank, distinct partial-agg ----------------
    from mbrngq_spark.operators.sketch import kmv_sketch
    p = plan_of(kmv_sketch(ev, ["event_type"], "user_id"))
    sections.append(("KMV sketch build", p))
    check("kmv: bottom-k rank is WindowGroupLimit (each map task forwards "
          "≤ K rows/key into the exchange)", "WindowGroupLimit" in p)
    check("kmv: the (key, hash) distinct is map-side partially aggregated",
          "partial" in p.lower())

    # --- IVF-PQ artifact: pruned code scan, map-only ADC ---------------------
    from mbrngq_spark.operators.similarity import (build_ivfpq_index,
                                                   probe_ivfpq_index)
    pq_tmp = tempfile.mkdtemp(prefix="plan_audit_ivfpq_")
    try:
        build_ivfpq_index(emb_t, pq_tmp, nlist=16)
        pr = probe_ivfpq_index(spark, pq_tmp, q_emb, k=5, nprobe=4)
        p = plan_of(pr, execute=True)
        sections.append(("persisted IVF-PQ probe", p))
        check("ivf-pq: probe scan is partition-pruned on pivot (over the "
              "code-only lists)",
              "PartitionFilters" in p and "pivot" in
              p.split("PartitionFilters", 1)[1][:300])
        check("ivf-pq: ADC is map-only Arrow; the only row exchange is the "
              "q_id rank",
              "MapInPandas" in p and all(
                  "q_id" in e for e in re.findall(
                      r"Exchange hashpartitioning\(([^)]+)\)", p)))
        check("ivf-pq: rank is WindowGroupLimit-capped",
              "WindowGroupLimit" in p)
    finally:
        shutil.rmtree(pq_tmp, ignore_errors=True)

    # --- index write partition pruning --------------------------------------
    indexed, _ = build_index(docs_geo, IndexLayout())
    path = "/tmp/plan_audit_idx"
    write_index(indexed, path)
    back = spark.read.parquet(path).filter(F.col("cell_coarse") == 9)
    p = plan_of(back)
    sections.append(("index partition pruning", p))
    check("index: coarse-cell filter is a partition filter",
          "PartitionFilters" in p and "cell_coarse" in
          p.split("PartitionFilters", 1)[1][:200])

    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write("# Physical-plan audit (tools/explain_audit.py)\n\n")
        f.write("Assertions:\n\n")
        for name, ok, detail in checks:
            f.write(f"- {'✅' if ok else '❌'} {name}\n")
        f.write("\n")
        for title, plan in sections:
            f.write(f"## {title}\n\n```\n{stable(plan)[:4000]}\n```\n\n")
    spark.stop()
    return 0 if all(ok for _, ok, _ in checks) else 1


if __name__ == "__main__":
    sys.exit(main())
