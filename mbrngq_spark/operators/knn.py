"""kNN / nearest-neighbor join over the cell-grid index, and the spatial
query core every planner-driven query shares.

Re-expresses the reference's ``RTree.Nearest`` (mbR-NGQ/Data/RTree.cs:454-474
public, :2428-2456 recursive descent — SURVEY.md Q3) and its generalization to
top-k, Spark-first:

  phase 0  cell stats    — tiny per-(cell, category) aggregate table, bounded
                           by 4^res rows regardless of data size (at 100 TB it
                           is still ≤ 4^res·m rows → always broadcastable);
                           collected once per persisted corpus
                           (cell_counts' memo), like the reference's
                           build-time node counts.
  phase 1  plan          — per query, a *provably sufficient* search radius
                           from the stats: sort cells by MINDIST(cell, q),
                           take cells until ≥ k docs are covered, radius =
                           max MAXDIST over taken cells. Any doc outside
                           that radius cannot be a top-k answer — this is
                           the distributed analog of the R-tree's
                           best-first MINDIST pruning (RTree.cs:2448-2452).
                           One window stage plans every query at once in
                           NumPy, no driver loop per row: each (query,
                           window row) is one searchsorted run over the
                           row-major occupied cells, and the sort-and-take
                           is segment operations over the flat (query,
                           cell) entries.
  phase 2  candidates    — explode (query_id, cell) pairs for cells with
                           MINDIST ≤ radius, broadcast-hash-join to docs on
                           cell id (no shuffle of the big side).
  phase 3  exact refine  — euclidean distance (Point.cs:67-75) + window
                           rank per query. One shuffle, keyed by query_id;
                           AQE skew-join splits hot queries.

Phases 0-3 are metric-free apart from a small ``Metric``: coordinate
column names, the cell Column, the stats step, the one-category planner,
the distance Column, the NumPy member-distance matrices and a rounding
slack. ``PLANAR`` is defined here and ``geodetic.GEO`` next to the
great-circle kernel; ONE candidate builder (_join_candidates), ONE kNN
rank (_rank), ngq's one top-L window and one refine serve both metrics.
The two planners stay separate algorithms (axis-aligned window search
with per-cell tightening vs a wrap- and pole-safe (Q, C) bounds matrix)
behind one contract: their cells hold every doc that can be an answer,
and every such doc lies within its plan row's ``radius``.

Tie-breaking: deterministic (dist, doc_id) order (SURVEY.md §7.4 — the
reference's insertion-order heap ties, HeapPriorityQueue.cs:193-197, are not
reproducible; the oracle compares sets at equal distance).
"""

from __future__ import annotations

import itertools
import threading
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mbrngq_spark import geom, grid
from mbrngq_spark.config import DEFAULT, EngineConfig, bounded_shuffle, \
    refine_partitions


def rollup_stats(stats: pd.DataFrame, from_res: int, to_res: int) -> pd.DataFrame:
    """Coarsen a (cell, [category,] n) stats table by Morton-parent
    truncation (cell >> 2Δ) — the planner consumes stats at any res ≤ the
    base res without re-scanning the corpus."""
    if to_res == from_res:
        return stats
    assert to_res < from_res, "stats can only be rolled UP (coarser)"
    out = stats.assign(cell=stats["cell"].to_numpy() >> (2 * (from_res - to_res)))
    keys = [c for c in ("cell", "category") if c in out.columns]
    return out.groupby(keys, as_index=False)["n"].sum()


# (query, occupied cell) entries one chunk of the window stage expands at
# most: a query's window spans ≤ 2^res rows and ≤ every occupied cell
_PLAN_ENTRIES = 1 << 17


def summed_area(iy: np.ndarray, ix: np.ndarray, counts: np.ndarray,
                n: int) -> np.ndarray:
    """The summed-area table of the n×n count grid of the cells at grid
    rows ``iy`` and columns ``ix`` (unique cells), for O(1) box counts
    (box_count). Both planners and certifying_L build theirs here; the
    cell-id layout (Morton or row-major) is decoded by the caller."""
    g = np.zeros((n, n), dtype=np.int64)
    g[iy, ix] = counts
    sat = np.zeros((n + 1, n + 1), dtype=np.int64)
    sat[1:, 1:] = g.cumsum(0).cumsum(1)
    return sat


def morton_summed_area(stats: pd.DataFrame, n: int) -> np.ndarray:
    """summed_area of a (Morton cell, n) table of unique cells."""
    cells = stats["cell"].to_numpy(np.int64)
    return summed_area(grid.np_compact_bits(cells >> 1),
                       grid.np_compact_bits(cells),
                       stats["n"].to_numpy(np.int64), n)


def box_count(sat: np.ndarray, x0, y0, x1, y1):
    """Docs in the inclusive cell box [x0, x1] × [y0, y1] by the
    summed-area table ``sat`` (scalars or index arrays)."""
    return (sat[y1 + 1, x1 + 1] - sat[y0, x1 + 1]
            - sat[y1 + 1, x0] + sat[y0, x0])


def covering_box(sat: np.ndarray, cx: np.ndarray, cy: np.ndarray, n: int,
                 k: int) -> tuple[np.ndarray, ...]:
    """Per query, the smallest square cell box around its cell (cx, cy),
    clipped to the n×n grid, holding ≥ k docs by the summed-area table
    ``sat`` → its (x0, y0, x1, y1) cell bounds. One lock-step binary
    search over all queries: log2(n) iterations of O(Q) fancy-indexed box
    counts, instead of Q interpreted per-query loops. Counts are
    metric-free, so the planar and geodetic planners share it."""
    lo = np.zeros(len(cx), dtype=np.int64)
    hi = np.full(len(cx), n, dtype=np.int64)
    while True:
        act = lo < hi
        if not act.any():
            break
        mid = (lo + hi) // 2
        x0 = np.maximum(cx - mid, 0)
        y0 = np.maximum(cy - mid, 0)
        x1 = np.minimum(cx + mid, n - 1)
        y1 = np.minimum(cy + mid, n - 1)
        ok = box_count(sat, x0, y0, x1, y1) >= k
        hi = np.where(act & ok, mid, hi)
        lo = np.where(act & ~ok, mid + 1, lo)
    return (np.maximum(cx - lo, 0), np.maximum(cy - lo, 0),
            np.minimum(cx + lo, n - 1), np.minimum(cy + lo, n - 1))


def query_cells(qx: np.ndarray, qy: np.ndarray, n: int,
                cfg: EngineConfig) -> tuple[np.ndarray, np.ndarray]:
    """Each planar query point's (column, row) on the n×n grid, clipped
    into it: an out-of-domain query plans from a border cell."""
    return (np.clip(((qx - cfg.min_x) / (cfg.width / n)).astype(np.int64),
                    0, n - 1),
            np.clip(((qy - cfg.min_y) / (cfg.height / n)).astype(np.int64),
                    0, n - 1))


def covering_radius(sat: np.ndarray, qx: np.ndarray, qy: np.ndarray,
                    k: int, cfg: EngineConfig) -> np.ndarray:
    """Per planar query, an upper bound on its k-th nearest doc distance
    by the summed-area table ``sat``: the MAXDIST from q to the
    k-covering box around q's cell (covering_box), which holds ≥ k
    docs."""
    n = len(sat) - 1
    wx, wy = cfg.width / n, cfg.height / n
    bx0, by0, bx1, by1 = covering_box(sat, *query_cells(qx, qy, n, cfg),
                                      n, k)
    return geom.np_maxdist_point_rect(
        qx, qy, cfg.min_x + bx0 * wx, cfg.min_y + by0 * wy,
        cfg.min_x + (bx1 + 1) * wx, cfg.min_y + (by1 + 1) * wy)


def _runs(lo: np.ndarray, size: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Runs [lo, lo + size) expanded to flat (run index, value) arrays."""
    run = np.repeat(np.arange(len(size)), size)
    return run, (np.arange(len(run)) + np.repeat(lo - np.cumsum(size) + size,
                                                 size))


def plan_candidate_cells(stats: pd.DataFrame, queries: pd.DataFrame,
                         k: int, res: int, cfg: EngineConfig = DEFAULT,
                         max_dist: float | None = None) -> pd.DataFrame:
    """The planar one-category planner: per query, every occupied cell
    that can hold one of its k nearest docs.

    ``stats``: (cell, [category,] n) — the tiny phase-0 table.
    ``queries``: (query_id, qx, qy).
    Returns (query_id, cell, radius) rows covering every doc that could
    be a top-k answer; ``radius`` is the per-query distance bound (any doc
    farther than it is provably outside the top-k), used to pre-filter
    rows BEFORE the rank shuffle. ``max_dist`` caps the radius (the
    reference's furthestDistance parameter, RTree.cs:454-474): with a cap
    the planner prunes whole cells beyond it even when fewer than k docs
    are reachable.

    The radius starts at covering_radius (infinite below k docs, which
    makes the window the whole grid). One window stage serves every
    query: with the occupied cells sorted row-major once, each (query,
    window row) of the radius-reach window is one searchsorted run; the
    runs expand to flat (query, cell) entries, kept where MINDIST ≤
    radius. Then PER-CELL tightening, as segment operations: in
    (MINDIST, row-major) order, the smallest prefix whose counts cover
    ≥ k docs bounds the radius by its max per-cell MAXDIST, since ≥ k
    docs provably lie within it. The box bound alone is brutally loose
    on concentrated data (a far query's box engulfs a whole dense island
    — measured 120M joined rows per NGQ batch on gaussian-island).
    Queries run in chunks of at most _PLAN_ENTRIES entries in the worst
    case, so a large Arrow batch in plan_in_executors stays
    memory-bounded. Per-category plans come from the candidate builder's
    one loop (_per_category).
    """
    n = 1 << res
    wx, wy = cfg.width / n, cfg.height / n
    qids = queries["query_id"].to_numpy()
    qxs = queries["qx"].to_numpy(dtype=np.float64)
    qys = queries["qy"].to_numpy(dtype=np.float64)
    # stats may be per-(cell, category): collapse to one row per cell so
    # the emitted (query_id, cell) pairs are unique
    sub = stats.groupby("cell", as_index=False)["n"].sum()
    sat = morton_summed_area(sub, n)
    radii = (covering_radius(sat, qxs, qys, k, cfg)
             if sat[-1, -1] >= k    # the stats hold ≥ k docs
             else np.full(len(qids), np.inf))
    # radius cap (Nearest's furthestDistance): answers beyond it are
    # excluded by contract, so cells beyond it need not be shipped
    if max_dist is not None:
        radii = np.minimum(radii, float(max_dist))

    cells = sub["cell"].to_numpy(np.int64)
    ix, iy = grid.np_compact_bits(cells), grid.np_compact_bits(cells >> 1)
    key = iy * n + ix                     # row-major cell order
    order = np.argsort(key)
    cells, counts, ix, iy, key = (
        a[order] for a in (cells, sub["n"].to_numpy(np.int64), ix, iy, key))
    x0, y0 = cfg.min_x + ix * wx, cfg.min_y + iy * wy
    box = (x0, y0, x0 + wx, y0 + wy)      # per occupied cell
    # window reach floor(r / w) + 1 cells around q's cell; a radius past
    # the grid (an infinite one too) reaches all of it
    cxs, cys = query_cells(qxs, qys, n, cfg)
    rx = np.floor_divide(np.clip(radii, -wx, n * wx), wx).astype(np.int64) + 1
    ry = np.floor_divide(np.clip(radii, -wy, n * wy), wy).astype(np.int64) + 1
    sx0, sx1 = np.maximum(cxs - rx, 0), np.minimum(cxs + rx, n - 1)
    sy0, sy1 = np.maximum(cys - ry, 0), np.minimum(cys + ry, n - 1)

    out = {"query_id": [], "cell": [], "radius": []}
    step = max(1, _PLAN_ENTRIES // max(len(cells), n))
    for c in (slice(s, s + step) for s in range(0, len(qids), step)):
        # (query, window row) runs → flat (query, occupied cell) entries
        wq, row = _runs(sy0[c], sy1[c] - sy0[c] + 1)
        lo = np.searchsorted(key, row * n + sx0[c][wq])
        hi = np.searchsorted(key, row * n + sx1[c][wq], "right")
        run, e = _runs(lo, hi - lo)
        q, qx, qy, rad = wq[run], qxs[c], qys[c], radii[c]
        md = geom.np_mindist_point_rect(qx[q], qy[q], *(b[e] for b in box))
        keep = md <= rad[q]
        q, e, md = q[keep], e[keep], md[keep]
        # per-cell tightening as segment operations: the prefix is every
        # entry whose query's docs before it, in (MINDIST, row-major)
        # order, number < k
        o = np.lexsort((md, q))
        before = np.cumsum(counts[e[o]]) - counts[e[o]]
        p = o[before - before[np.searchsorted(q[o], q[o])] < k]
        far = np.full(len(rad), -np.inf)
        np.maximum.at(far, q[p], geom.np_maxdist_point_rect(
            qx[q[p]], qy[q[p]], *(b[e[p]] for b in box)))
        rad = np.where(np.bincount(q, counts[e], len(rad)) >= k,
                       np.minimum(far, rad), rad)
        keep = md <= rad[q]
        out["query_id"].append(qids[c][q[keep]])
        out["cell"].append(cells[e[keep]])
        out["radius"].append(rad[q[keep]])
    # one column at a time, each column's chunks freed as it is joined
    for col, dtype in zip(out, (np.int64, np.int64, np.float64)):
        out[col] = (np.concatenate(out[col]) if out[col]
                    else np.array([], dtype=dtype))
    return pd.DataFrame(out, copy=False)


def _per_category(plan, stats: pd.DataFrame) -> pd.DataFrame:
    """The one per-category planning loop of both metrics: the
    one-category planner ``plan(stats slice)`` once per category in
    ``stats``, its rows tagged with that category."""
    parts = [plan(stats[stats["category"] == c]).assign(category=c)
             for c in sorted(stats["category"].unique())]
    return pd.concat(parts or [plan(stats).assign(category=0)],
                     ignore_index=True)


def with_cell(docs_geo: DataFrame, res: int, cfg: EngineConfig = DEFAULT) -> DataFrame:
    return docs_geo.withColumn("cell", grid.cell_encode_named(res, cfg))


def plan_in_executors(spark: SparkSession, stats: pd.DataFrame,
                      queries_df: DataFrame, plan, schema: str) -> DataFrame:
    """Run ``plan(stats, batch)`` per Arrow batch of ``queries_df`` inside
    mapInPandas — the one place any planner (planar or geodetic) ships
    its bounded (≤ 4^res·m rows) stats table to executors.

    The broadcast carries only ``stats``'s columns, as raw numpy arrays,
    and each task rebuilds the frame ONCE: broadcasts are unpickled per
    task, and a full pandas pickle (MBR columns included) showed up as a
    fixed, core-count-independent term in scaling runs. Empty batches
    and empty plans emit nothing."""
    bc = spark.sparkContext.broadcast(
        {c: stats[c].to_numpy() for c in stats.columns})

    def run(batches):
        st = pd.DataFrame(dict(bc.value))
        for pdf in batches:
            out = plan(st, pdf) if len(pdf) else ()
            if len(out):
                yield out

    return queries_df.mapInPandas(run, schema=schema)


# persisted corpora whose planner stats stay memoized per SparkContext
_STATS_MEMO_ENTRIES = 8


def _cache_builder(docs: DataFrame):
    """The CacheManager's cached-buffer builder serving ``docs`` (a
    persisted frame, or one whose plan matches a persisted one), else
    None."""
    cd = docs.sparkSession._jsparkSession.sharedState().cacheManager() \
        .lookupCachedData(docs._jdf)
    return cd.get().cachedRepresentation().cacheBuilder() \
        if cd.isDefined() else None


def _buffers_id(builder) -> int | None:
    """Id of a cache entry's materialized buffer RDD (None while it is
    unmaterialized; asking earlier would run the cached plan). RDD ids
    are never reused within a SparkContext, and every unpersist,
    re-persist or source refresh of a frame makes a new entry, so the
    id names one immutable snapshot of the corpus."""
    if builder is None or not builder.isCachedColumnBuffersLoaded():
        return None
    return builder.cachedColumnBuffers().id()


def cell_counts(docs: DataFrame, cell: Column, *keys: str) -> pd.DataFrame:
    """The one bounded stats collect of both metrics: per-(cell, *keys)
    doc counts ``n`` of ``docs`` with its ``cell`` column set to
    ``cell``, to the driver. Counts only: the planners never read the
    MBR columns, and a slim frame keeps the driver collect + executor
    broadcast proportional to what is actually consumed. The output is
    bounded (≤ 4^res·m rows), so the exchange runs with a small constant
    reduce-partition count (config.bounded_shuffle).

    Memoized per PERSISTED corpus, the way the reference computes node
    counts once at build time (CalculateBitArray, RTree.cs:209-247): the
    key is the corpus's cached-buffer RDD (``_buffers_id``), the cell
    expression (its string spells res and cfg as literals) and ``keys``.
    Planner radii are provable only when the counts cover exactly the
    docs the candidate join reads, so a frame without a materialized
    cache entry (a stored index read from parquet) is rescanned on every
    call, and a scan is memoized only when the entry serving ``docs``
    is the same before and after it. The memo lives on the SparkContext
    object (it dies with the context), holds ``_STATS_MEMO_ENTRIES``
    corpora, and hands out copies: callers may mutate what they get.
    Two threads may both scan a missing entry; both store equal
    counts."""
    sc = docs.sparkSession.sparkContext
    lock, memo = sc.__dict__.setdefault("_mbrngq_statscache",
                                        (threading.Lock(), {}))
    builder = _cache_builder(docs)
    key = (str(cell), keys)
    rdd = _buffers_id(builder)
    if rdd is not None:
        with lock:
            hit = memo.get((rdd, key))
        if hit is not None:
            return hit.copy()
    df = docs.withColumn("cell", cell).groupBy("cell", *keys) \
        .agg(F.count("*").alias("n"))
    with bounded_shuffle(docs.sparkSession):
        out = df.toPandas()
    # the entry captured before the scan served it iff it is still the
    # CacheManager's entry for docs, now materialized (by this scan at
    # the latest)
    rdd = _buffers_id(builder)
    if rdd is not None and rdd == _buffers_id(_cache_builder(docs)):
        with lock:
            while len(memo) >= _STATS_MEMO_ENTRIES:
                del memo[next(iter(memo))]
            memo[(rdd, key)] = out.copy()
    return out


def planner_stats(docs_geo: DataFrame, res: int | None, k_per_group: int,
                  cfg: EngineConfig = DEFAULT) -> tuple[pd.DataFrame, int]:
    """ONE corpus scan feeding everything the planner needs: stats are
    aggregated at cfg.planner_base_res, the corpus size is read off the
    aggregate (no separate count() scan), the planner res is chosen from
    it, and the stats are rolled up to that res. Explicit res > base falls
    back to a direct aggregate at that res."""
    def counts(at_res: int) -> pd.DataFrame:
        return cell_counts(docs_geo, grid.cell_encode_named(at_res, cfg),
                           "category")

    base = cfg.planner_base_res
    if res is not None and res > base:
        return counts(res), res
    stats = counts(base)
    if res is None:
        # OCCUPANCY-aware resolution: the finest res (≤ base) at which an
        # occupied (cell, category) bucket still holds ≥ k docs on average.
        # A global n/k heuristic mis-sizes skewed data — gaussian-island
        # corpora concentrate in few cells, and coarse cells there ship
        # whole islands through the candidate join (measured 18× NGQ cost
        # at sf0.1); occupancy sizing adapts to where the docs actually are.
        n = int(stats["n"].sum())
        res, rolled = 3, rollup_stats(stats, base, 3)
        for r in range(base, 2, -1):
            cand = stats if r == base else rollup_stats(stats, base, r)
            if n / max(len(cand), 1) >= k_per_group:
                res, rolled = r, cand
                break
        return rolled, res
    return rollup_stats(stats, base, res), res


def certifying_L(stats: pd.DataFrame, bad: pd.DataFrame, res: int,
                 cfg: EngineConfig = DEFAULT) -> int:
    """Smallest per-category candidate depth at which NGQ's L-truncation
    bound COULD certify the queries in ``bad`` (columns query_id, qx, qy,
    kth): the bound needs d_L ≥ kth, i.e. L > #docs with dq < kth — upper-
    bounded per (query, category) by the axis-aligned box count from the
    stats grid. Lets the adaptive loop jump straight to a useful L instead
    of blind doubling (each blind round is a full candidate join)."""
    n = 1 << res
    qx = bad["qx"].to_numpy(np.float64)
    qy = bad["qy"].to_numpy(np.float64)
    r = bad["kth"].to_numpy(np.float64)
    x0, y0 = query_cells(qx - r, qy - r, n, cfg)
    x1, y1 = query_cells(qx + r, qy + r, n, cfg)
    best = 1
    for cat in stats["category"].unique():
        sat = morton_summed_area(stats[stats["category"] == cat], n)
        best = max(best, int(box_count(sat, x0, y0, x1, y1).max()) + 1)
    return best


def certifying_L_distributed(spark: SparkSession, stats: pd.DataFrame,
                             bad_q: DataFrame, res: int,
                             cfg: EngineConfig = DEFAULT) -> int:
    """certifying_L over a DISTRIBUTED bad-query set: the per-query box
    counts run in mapInPandas with the (bounded) stats broadcast — the same
    shape as DataFrame-query planning — and the driver receives ONE scalar
    via F.max. This keeps the large-Q escalation path free of
    ``.toPandas()``: an adversarial clustered corpus can leave a huge
    fraction of a 100k-query batch inexact after round 1, and pulling that
    frame to the driver was a memory cliff inside the 'no driver loop'
    mode. ``bad_q``: (query_id, qx, qy, kth)."""
    out = plan_in_executors(
        spark, stats, bad_q.select("query_id", "qx", "qy", "kth"),
        lambda st, q: pd.DataFrame({"L": [certifying_L(st, q, res, cfg)]}),
        "L long")
    top = out.agg(F.max("L")).first()[0]
    return int(top) if top is not None else 1


def knn_join(spark: SparkSession, docs_geo: DataFrame,
             queries: pd.DataFrame | DataFrame,
             k: int, res: int | None = None, cfg: EngineConfig = DEFAULT,
             keep_ties: bool = False, id_col: str = "doc_id",
             max_dist: float | None = None) -> DataFrame:
    """Top-k nearest docs per query point.

    ``queries``: (query_id, qx, qy) — EITHER a small pandas frame (planned
    on the driver, broadcast-joined) OR a Spark DataFrame for large query
    batches: the planner then runs per Arrow batch inside mapInPandas with
    the stats broadcast (plan_in_executors) and join strategies are left
    to AQE — driver time is flat in Q. Returns (query_id, doc_id, dist,
    rank) with rank 1..k ordered by (dist, doc_id).

    ``keep_ties=True`` reproduces the reference's Nearest contract of keeping
    all co-minimal answers (RTree.cs:2440-2443): RANK over dist alone, so
    every doc tied with the k-th distance gets rank ≤ k.

    ``max_dist`` is the reference's radius-capped Nearest parameter
    (``RTree.Nearest(p, furthestDistance)``, RTree.cs:454-474): only
    answers with dist ≤ max_dist are returned (a query may get fewer than
    k rows), and the planner prunes whole cells beyond the cap.

    With ``res=None`` the planner resolution adapts to the corpus size
    (≈ k docs per cell, read off the ONE stats aggregate — no extra count
    scan), and every row entering the rank shuffle is pre-filtered by the
    per-query radius bound — the shuffle carries O(k·Q) rows regardless of
    corpus size (tools/explain_audit.py measures the constant).
    """
    return _rank(knn_candidates(spark, docs_geo, queries, k, res, cfg,
                                max_dist), k, id_col, keep_ties)


def _rank(joined: DataFrame, k: int, id_col: str,
          keep_ties: bool = False) -> DataFrame:
    """The one kNN rank of both metrics: per query, the top-k candidate
    rows by (dist, id) → (query_id, id, dist, rank); ``keep_ties`` ranks
    by dist alone with RANK instead of ROW_NUMBER.

    Explicit-count repartition: the rank exchange is byte-light, so the
    AQE-coalesced ENSURE_REQUIREMENTS shuffle ran the sort+rank on ~1
    task and added a re-optimization stage (interleaved A/B: full knn
    1.46 s → 1.00 s); REPARTITION_BY_NUM keeps it parallel."""
    order = [F.col("dist").asc()] + ([] if keep_ties
                                     else [F.col(id_col).asc()])
    w = Window.partitionBy("query_id").orderBy(*order)
    rank_fn = F.rank() if keep_ties else F.row_number()
    return (joined
            .repartition(refine_partitions(joined.sparkSession), "query_id")
            .withColumn("rank", rank_fn.over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "dist", "rank"))


def knn_candidates(spark: SparkSession, docs_geo: DataFrame,
                   queries: pd.DataFrame | DataFrame,
                   k: int, res: int | None = None,
                   cfg: EngineConfig = DEFAULT,
                   max_dist: float | None = None) -> DataFrame:
    """The radius-filtered candidate frame knn_join ranks — exactly the
    rows entering the query_id rank shuffle. Exposed so the plan audit can
    MEASURE shuffle volume (assert ≤ O(k·Q)) instead of only reading plan
    shapes."""
    return _candidates(spark, docs_geo, queries, k, res, cfg, max_dist,
                       PLANAR)


def _pair_dists(xs: list[np.ndarray], ys: list[np.ndarray]
                ) -> dict[tuple[int, int], np.ndarray]:
    """Planar member-to-member distance matrix of every category pair i<j
    (rows = category i) — the innerDist terms (RTree.cs:946-956)."""
    out = {}
    for i, j in itertools.combinations(range(len(xs)), 2):
        dx = xs[i][:, None] - xs[j][None, :]
        dy = ys[i][:, None] - ys[j][None, :]
        out[(i, j)] = np.sqrt(dx * dx + dy * dy)
    return out


@dataclass(frozen=True)
class Metric:
    """What differs between the planar and the great-circle query
    pipeline; every stage after the planner is written once over it."""
    doc_xy: tuple[str, str]                      # doc coordinate columns
    query_xy: tuple[str, str]                    # query coordinate columns
    cell: Callable[[int, EngineConfig], Column]  # doc cell id at res
    # (docs, res, k, cfg) → (per-cell stats with count n, res)
    stats: Callable
    # one-category planner (stats, queries, k, res, cfg, max_dist) →
    # (query_id, cell, radius); k=None plans the max_dist range alone
    plan: Callable
    dist: Callable[[], Column]     # doc↔query distance over named columns
    # per-category coordinate arrays → {(i, j): member distance matrix}
    pairs: Callable
    # how far rounding can break NGQ's triangle bound score ≥ dq
    slack: float


PLANAR = Metric(
    doc_xy=("x", "y"), query_xy=("qx", "qy"),
    cell=grid.cell_encode_named, stats=planner_stats,
    plan=lambda st, q, k, res, cfg, cap: plan_candidate_cells(
        st, q, k, res, cfg, max_dist=cap),
    dist=lambda: geom.dist_point(F.col("x"), F.col("y"),
                                 F.col("qx"), F.col("qy")),
    pairs=_pair_dists, slack=0.0)


def _candidates(spark: SparkSession, docs: DataFrame,
                queries: pd.DataFrame | DataFrame, k: int | None,
                res: int | None, cfg: EngineConfig,
                max_dist: float | None, metric: Metric) -> DataFrame:
    """kNN (k given) or range (k None, max_dist the radius) candidates:
    the metric's stats step, then the one candidate builder."""
    stats, res = metric.stats(docs, res, k, cfg)
    return _join_candidates(spark, docs, queries, stats, k, res, cfg,
                            max_dist=max_dist, metric=metric)


def _join_candidates(spark: SparkSession, docs_geo: DataFrame,
                     queries: pd.DataFrame | DataFrame, stats: pd.DataFrame,
                     k: int | None, res: int, cfg: EngineConfig,
                     per_category: bool = False,
                     max_dist: float | None = None,
                     dist: str = "dist", metric: Metric = PLANAR) -> DataFrame:
    """The one candidate builder of kNN, range and NGQ's top-L, for both
    metrics: plan cells per query with ``metric.plan`` (once per category
    of ``stats`` when ``per_category``), attach each query's coordinates
    to its plan rows, join the docs on the cell keys, and keep only rows
    within their plan row's provable ``radius`` — before any shuffle.

    Pandas queries are planned on the driver and the plan is broadcast
    with an explicit schema (an empty-corpus plan yields an empty frame,
    where pandas schema inference would fail): ONE broadcast join, the
    doc side never shuffled. A DataFrame is planned per Arrow batch
    (plan_in_executors) and AQE picks the join."""
    qx, qy = metric.query_xy
    keys = ["cell", "category"] if per_category else ["cell"]
    schema = ("query_id long, cell long, radius double"
              + (", category int" if per_category else "")
              + f", {qx} double, {qy} double")

    def plan(st: pd.DataFrame, q: pd.DataFrame) -> pd.DataFrame:
        def one(s: pd.DataFrame) -> pd.DataFrame:
            return metric.plan(s, q, k, res, cfg, max_dist)
        cells = _per_category(one, st) if per_category else one(st)
        return cells.merge(q[["query_id", qx, qy]], on="query_id")

    if isinstance(queries, DataFrame):
        cand = plan_in_executors(spark, stats,
                                 queries.select("query_id", qx, qy), plan,
                                 schema)
    else:
        cand = F.broadcast(spark.createDataFrame(plan(stats, queries),
                                                 schema))
    return (docs_geo.withColumn("cell", metric.cell(res, cfg))
            .join(cand, keys)
            .withColumn(dist, metric.dist())
            .filter(F.col(dist) <= F.col("radius")))
