"""NGQ — nearest group query, the reference's flagship operator.

Reference: ``RTree.NearestGroup`` (mbR-NGQ/Data/RTree.cs:1040-1335 + helpers,
SURVEY.md Q4): find the top-k groups, one member per category 0..m-1,
minimizing

    minDist(G, q) = innerDist(G) + interDist(G, q)
                  = max pairwise dist among members + min dist from q to any
                    member                      (RTree.cs:938-966)

The reference runs a single-threaded best-first branch-and-bound with
per-category inverted R-trees and a theta threshold pool. The distributed
re-expression (SURVEY.md §3.1) is two-phase:

  phase 1  candidate retrieval — per (query, category), the top-L nearest
           docs via the same cell-grid planner as kNN (knn.py). L-truncation
           is EXACT when the refined k-th best score ≤ the L-th candidate
           distance of every truncated category, because any group touching
           a doc beyond rank L has score ≥ that doc's distance to q
           (triangle inequality:  score = innerDist + interDist
            ≥ (d_i − d_min) + d_min = d_i ).  This bound plays the role of
           the reference's theta pruning (RTree.cs:1391-1469,1961-1970);
           the refine step verifies it and flags each query row `exact`.

  phase 2  exact refine — one shuffle keyed by query_id, then
           groupBy(query_id).applyInArrow: an Arrow table per query in and
           out (no pandas), exact cross-category enumeration in NumPy —
           semantically the reference's ORACLE (CheckNearGroup
           enumeration, RTree.cs:1505-1556), which its own search must
           equal, so it is the unambiguous ground truth (SURVEY.md §7.4).
           The kernel builds one pairwise distance matrix per category
           pair, prunes with the theta machinery (greedy-anchor upper
           bound T + per-candidate innerDist lower bounds — see
           _theta_bounds), bounds total work by ``refine_budget`` cells,
           flagging budget-capped queries in a ``capped`` column, and
           enumerates in cache-sized blocks against a running k-th-score
           threshold (group_topk) instead of materializing the product.

Adaptivity (nearest_group): queries whose L-truncation bound fails are
re-run ONCE per round at the CERTIFYING depth computed from the stats grid
(knn.certifying_L) — not blind doubling — and budget-capped queries are
terminal (deeper L provably cannot certify them). This keeps clustered
corpora (each category its own dense blob — the GaussianIsland regime,
where the bound is geometrically uncertifiable under any practical L)
within a small constant of the uniform-data cost, with honesty flags.
On such corpora the loop's path is often decided before it starts: the
occupancy stats bound every group's score from below (the category gap
between occupied cells plus q's distance to the nearest occupied cell —
GetGroupMinDist over MBRs, RTree.cs:938-966), and when that bound proves
round 1 fails and the certifying depth reaches the refine budget's
per-category cap, the pandas-query loop fetches the cap depth in round 1
and refines each query at both depths from that one candidate set
(_reaches_cap). Rows stay those of the two-round path: the escalation
bookkeeping reads the depth-L answers as before, and a cap round, always
the last, takes its answers from the cap-depth rows already fetched. This
saves the second candidate join, exchange and collect.

Both metrics run this pipeline: the planar one (knn.PLANAR) and the
great-circle one (geodetic.GEO) share the top-L window (_topL), the
refine kernel and _nearest_group_once through knn.Metric. The metric
supplies the member-distance matrices and a slack for the triangle bound:
geodetic distances are rounded to 2 dp, which can break score ≥ dq_i by up
to three half-grains, so theta pruning keeps every member with dq ≤ T +
slack, and a query is certified exact only when its k-th score ≤ dq_L −
slack.
The adaptive loops below stay planar (certifying_L reads the planar grid);
geodetic NGQ keeps its fixed-L contract.

Tie-break: (score, member-id tuple) — deterministic total order replacing
the reference's heap-insertion-order ties (HeapPriorityQueue.cs:193-197).
Skew: dense queries are bounded by construction (≤ m·L rows per query group);
the shuffle is by query_id so AQE's skew handling is irrelevant here — the
heavy side stays in phase 1's broadcast join.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from mbrngq_spark import grid
from mbrngq_spark.config import DEFAULT, EngineConfig, refine_partitions
from mbrngq_spark.operators.knn import PLANAR, Metric, _join_candidates, \
    certifying_L, certifying_L_distributed, covering_box, covering_radius, \
    morton_summed_area, planner_stats, query_cells


def candidate_topL(spark: SparkSession, docs_geo: DataFrame,
                   queries: pd.DataFrame | DataFrame, L: int, res: int,
                   cfg: EngineConfig = DEFAULT,
                   id_col: str = "doc_id", *,
                   stats: pd.DataFrame) -> DataFrame:
    """Phase 1: top-L nearest docs per (query, category).

    Returns (query_id, category, doc_id, x, y, dq, rn) with rn ≤ L ordered
    by (dq, doc_id). ``stats`` is planner_stats' table at ``res``. With
    pandas ``queries`` the doc side is only broadcast-joined on cell id —
    never shuffled; with a Spark-DataFrame ``queries`` (large batches)
    the planner runs distributed per Arrow batch (knn.plan_in_executors)
    and AQE picks the join strategy. Every row is pruned by its
    provably-sufficient per-(query, category) radius BEFORE the rank
    shuffle (≡ theta prune, RTree.cs:1391-1469)."""
    return _topL(spark, docs_geo, queries, L, res, cfg, id_col, stats,
                 PLANAR)


def _topL(spark: SparkSession, docs: DataFrame,
          queries: pd.DataFrame | DataFrame, L: int, res: int,
          cfg: EngineConfig, id_col: str, stats: pd.DataFrame,
          metric: Metric) -> DataFrame:
    """candidate_topL for either metric: the one top-L window, rows
    carrying the metric's doc coordinate columns."""
    joined = _join_candidates(spark, docs, queries, stats, L, res, cfg,
                              per_category=True, dist="dq", metric=metric)
    # ONE exchange serves both the rank window and the downstream refine
    # groupBy: hashpartitioning(query_id) satisfies the window's clustered
    # distribution on (query_id, category) AND the refine's on (query_id),
    # so neither inserts its own shuffle. The explicit partition count
    # keeps AQE from coalescing the CPU-heavy refine to ~1 task. It also
    # leaves no map-side partial WindowGroupLimit below the exchange, so
    # the volume guard is the planners' per-(query, category) radius
    # filter in _join_candidates (per-cell tightened for both metrics).
    w = Window.partitionBy("query_id", "category") \
              .orderBy(F.col("dq").asc(), F.col(id_col).asc())
    return (joined
            .repartition(refine_partitions(spark), "query_id")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= L)
            .select("query_id", "category", id_col, *metric.doc_xy, "dq",
                    "rn"))


def _refine_schema(m: int, id_type: T.DataType | None = None,
                   depth: bool = False) -> T.StructType:
    """Output schema; member-id columns inherit the input id type (the
    input_hint table carries STRING doc ids — int ids are just the common
    case for the testdata tables). ``depth`` adds the internal column
    tagging each row of a two-depth refine with the L it answers at."""
    id_type = id_type or T.LongType()
    fields = [T.StructField("query_id", T.LongType()),
              T.StructField("group_rank", T.IntegerType())]
    fields += [T.StructField(f"c{i}_id", id_type) for i in range(m)]
    fields += [T.StructField("min_dist", T.DoubleType()),
               T.StructField("exact", T.BooleanType()),
               T.StructField("capped", T.BooleanType())]
    if depth:
        fields.append(T.StructField("depth", T.IntegerType()))
    return T.StructType(fields)


# cells per step of the blocked enumeration sweep: each step's few
# float64 work arrays (256 KiB apiece) stay cache-resident
_BLOCK_CELLS = 1 << 15


def _by_category(tbl: pa.Table, m: int) -> list[np.ndarray] | None:
    """Row indices of each category 0..m-1 in one Arrow group, each in rn
    order (one lexsort + searchsorted, no per-category filter). None
    when a category is empty: no group exists then."""
    cat = tbl.column("category").to_numpy()
    rows = np.lexsort((tbl.column("rn").to_numpy(), cat))
    cuts = np.searchsorted(cat[rows], np.arange(m + 1))
    if (np.diff(cuts) == 0).any():
        return None
    return [rows[cuts[c]:cuts[c + 1]] for c in range(m)]


def group_topk(D: dict[tuple[int, int], np.ndarray], dqs: list[np.ndarray],
               ids: list[np.ndarray], k: int
               ) -> tuple[list[np.ndarray], np.ndarray]:
    """Exact top-k groups (one member per category) under the (score,
    id-tuple) total order, score = max over pairs i<j of D[i, j][a_i, a_j]
    + min over c of dqs[c][a_c] — GetGroupMinDist (RTree.cs:938-966) over
    the whole cross-category product, i.e. the reference oracle's
    CheckNearGroup enumeration (RTree.cs:1505-1556). Metric-agnostic: the
    caller supplies the pairwise matrices.

    Blocked sweep, never the full product cube: the inner/inter parts of
    the "rest" cells — one per member combination of categories 1..m-1 —
    are built once; category-0 members are swept in blocks of
    ~_BLOCK_CELLS cells, each block adding its category-0 terms and
    keeping only cells ≤ a running threshold (the k-th best score seen so
    far, re-tightened by np.partition as survivors accumulate — it never
    drops below the true k-th, so every score tie survives). Each
    re-tightening also drops the rest cells whose lower bound over every
    category-0 member (the same max/min terms, category 0 at its nearest)
    exceeds the threshold. Each cell's score is the max of the same
    values, the min of the same dq and one add, and survivors stay in
    row-major product order, so the final lexsort over survivors returns
    exactly the rows of a dense enumeration."""
    m = len(dqs)
    sizes = tuple(len(d) for d in dqs)
    rest = sizes[1:]

    def expand(a: np.ndarray, *axes: int) -> np.ndarray:
        shape = [1] * len(rest)
        for ax, n in zip(axes, a.shape):
            shape[ax - 1] = n
        return a.reshape(shape)

    rest_inner = np.zeros(rest)
    for (i, j), Dij in D.items():
        if i > 0:
            np.maximum(rest_inner, expand(Dij, i, j), out=rest_inner)
    rest_inter = np.full(rest, np.inf)
    for c in range(1, m):
        np.minimum(rest_inter, expand(dqs[c], c), out=rest_inter)
    # lower bound of each rest cell's score over all category-0 members:
    # max/min are exact and the add is monotone, so a cell whose bound is
    # > thr holds no score ≤ thr
    rest_lb = rest_inner.copy()
    for j in range(1, m):
        np.maximum(rest_lb, expand(D[(0, j)].min(axis=0), j), out=rest_lb)
    rest_lb += np.minimum(rest_inter, dqs[0].min())
    rest_inner, rest_inter, rest_lb = (a.ravel() for a in
                                       (rest_inner, rest_inter, rest_lb))
    n_rest = rest_inner.size

    live = np.arange(n_rest)           # rest cells that can still beat thr
    thr, step = np.inf, 1              # one row per block until thr exists
    kept_s: list[np.ndarray] = []      # surviving scores ...
    kept_i: list[np.ndarray] = []      # ... and their flat product index
    n_kept = n_head = 0
    s, narrowed = 0, True
    while s < sizes[0]:
        if narrowed:
            inner, inter = rest_inner[live], rest_inter[live]
            cols = np.unravel_index(live, rest) if rest else ()
        e = min(s + step, sizes[0])
        blk = np.repeat(inner[None, :], e - s, axis=0)
        for j in range(1, m):
            np.maximum(blk, D[(0, j)][s:e, cols[j - 1]], out=blk)
        blk += np.minimum(inter, dqs[0][s:e, None])
        flat = blk.ravel()
        sel = np.flatnonzero(flat <= thr)
        kept_s.append(flat[sel])
        kept_i.append((s + sel // live.size) * n_rest + live[sel % live.size])
        n_kept += sel.size
        s = e
        narrowed = n_kept > max(k, n_head)
        if narrowed:   # re-tighten on the survivors, then drop dead cells
            sc, ix = np.concatenate(kept_s), np.concatenate(kept_i)
            thr = np.partition(sc, k - 1)[k - 1]
            head = sc <= thr
            kept_s, kept_i = [sc[head]], [ix[head]]
            n_kept = n_head = int(head.sum())
            live = live[rest_lb[live] <= thr]
            step = max(1, _BLOCK_CELLS // live.size)

    score = np.concatenate(kept_s)
    idx = np.unravel_index(np.concatenate(kept_i), sizes)
    head_ids = [ids[c][idx[c]] for c in range(m)]
    order = np.lexsort(tuple(head_ids[::-1]) + (score,))[:k]
    return [h[order] for h in head_ids], score[order]


def _theta_bounds(D: dict[tuple[int, int], np.ndarray], dqs: list[np.ndarray],
                  k: int) -> tuple[float, list[np.ndarray]]:
    """(T, LBs): T = a kth-best-score upper bound from k distinct greedy
    anchor groups (anchor in the largest category; other members = its
    nearest candidate per category — ≡ the reference seeding a theta pool
    with feasible groups, RTree.cs:1961-1970); LBs[c][i] = max over other
    categories of the min distance from candidate i to that category's
    candidate set — a lower bound on innerDist of ANY enumerable group
    containing i. Prune i when dq_i > T or LB_i > T: score ≥ dq_i
    (triangle) and score ≥ LB_i, both strict → safe even under (score,
    id) tie-breaking."""
    m = len(dqs)
    sizes = [len(d) for d in dqs]
    LBs = [np.zeros(s) for s in sizes]
    for (i, j), Dij in D.items():
        np.maximum(LBs[i], Dij.min(axis=1), out=LBs[i])
        np.maximum(LBs[j], Dij.min(axis=0), out=LBs[j])
    a = int(np.argmax(sizes))
    if sizes[a] < k:
        return np.inf, LBs
    # greedy groups anchored at every candidate of category a
    sel = [np.arange(sizes[a]) if c == a else
           np.argmin(D[(a, c)] if a < c else D[(c, a)].T, axis=1)
           for c in range(m)]
    inner = np.zeros(sizes[a])
    for (i, j), Dij in D.items():
        np.maximum(inner, Dij[sel[i], sel[j]], out=inner)
    greedy = inner + np.min(np.stack([dqs[c][sel[c]] for c in range(m)]),
                            axis=0)
    return float(np.partition(greedy, k - 1)[k - 1]), LBs


def _make_refine(m: int, k: int, L: int, cat_totals: dict[int, int],
                 budget: int, schema: pa.Schema, metric: Metric = PLANAR,
                 id_col: str = "doc_id", prefix_L: int | None = None):
    """Build the per-query exact refine kernel: one Arrow table (a
    query's top-L candidates per category) in, its top-k groups as one
    Arrow table of ``schema`` out — no pandas anywhere.

    Per group: one pairwise distance matrix per category pair
    (``metric.pairs``), shared by the theta bounds and the enumeration;
    theta pruning (≡ RTree.cs:1961-1970) and the ``budget`` cap select
    each category's surviving members; group_topk enumerates their
    product exactly.

    With ``prefix_L`` the kernel answers every query twice from its one
    candidate table: at depth ``prefix_L`` from each category's
    rn ≤ prefix_L prefix — exactly the candidates a depth-prefix_L round
    retrieves, since both windows hold every doc up to their radius and
    rank by (dq, doc_id) — and at depth L from the full lists. Each row
    carries its depth in ``schema``'s ``depth`` column."""
    id_types = [schema.field(f"c{c}_id").type for c in range(m)]
    names = (*metric.doc_xy, "dq", id_col)

    def solve(col: dict[str, np.ndarray], per_cat: list[np.ndarray],
              L: int) -> list[pa.Array]:
        """The top-k groups of one query at depth L as the output
        columns after query_id: group_rank, member ids, min_dist, exact,
        capped."""
        # rn order = (dq, doc_id) order; no id cast: int64 for long ids,
        # object for string ids — np.lexsort only needs orderable keys
        xs, ys, dqs, ids = ([col[n][r] for r in per_cat] for n in names)
        sizes = [len(d) for d in dqs]
        D = metric.pairs(xs, ys)

        # theta tightening: prune candidates that provably cannot appear in
        # any top-k group — see _theta_bounds. Handles clustered data where
        # dq alone prunes nothing (each category in its own distant blob →
        # every score shares a large inter-blob innerDist; LB cuts the
        # blob's far side). The dq test allows the metric's rounding
        # slack: score ≥ dq_i only holds up to it.
        take = [np.arange(s) for s in sizes]
        if int(np.prod(sizes)) > 4096:
            T, LBs = _theta_bounds(D, dqs, k)
            if np.isfinite(T):
                take = [np.flatnonzero((dq <= T + metric.slack) & (lb <= T))
                        for dq, lb in zip(dqs, LBs)]

        # enumeration budget: the product is the exact kernel's cost; past
        # the budget, truncate each list by dq order and SAY SO — `capped`
        # marks results whose exactness cannot be certified by escalating
        # L (the adaptive loop stops retrying those queries)
        capped = int(np.prod([len(t) for t in take])) > budget
        if capped:
            per_cap = max(int(budget ** (1.0 / m)), k)
            take = [t[:per_cap] for t in take]

        top_ids, top_scores = group_topk(
            {p: Dij[np.ix_(take[p[0]], take[p[1]])] for p, Dij in D.items()},
            [d[t] for d, t in zip(dqs, take)],
            [i[t] for i, t in zip(ids, take)], k)

        # exactness: kth best truncated score must not exceed the L-th
        # candidate distance of any truncated category (see module doc),
        # less the metric's slack: an unretrieved member's group can score
        # down to dq_L − slack. Uses the ORIGINAL per-category lists' last
        # dq (pruning only removed candidates that cannot affect kth)
        kth = top_scores[-1] if len(top_scores) else np.inf
        exact = not capped   # a budget-truncated enumeration can't certify
        for c in range(m):
            truncated = sizes[c] >= L and cat_totals.get(c, 0) > sizes[c]
            if truncated and kth > dqs[c][-1] - metric.slack:
                exact = False

        n_out = len(top_scores)
        return ([pa.array(np.arange(1, n_out + 1, dtype=np.int32))]
                + [pa.array(t, type=ty) for t, ty in zip(top_ids, id_types)]
                + [pa.array(top_scores), pa.array(np.full(n_out, exact)),
                   pa.array(np.full(n_out, capped))])

    def refine(tbl):
        per_cat = _by_category(tbl, m)
        if per_cat is None:
            return schema.empty_table()  # a category is empty → no groups
        col = {n: tbl.column(n).to_numpy() for n in names}
        qid = tbl.column("query_id")[0].as_py()
        out = []
        for depth in ([L] if prefix_L is None else [prefix_L, L]):
            # each list holds ≤ L rows (rn ≤ L), so [:L] keeps it whole
            cols = solve(col, [r[:depth] for r in per_cat], depth)
            n_out = len(cols[0])
            tag = [] if prefix_L is None else \
                [pa.array(np.full(n_out, depth, dtype=np.int32))]
            out.append(pa.Table.from_arrays(
                [pa.array(np.full(n_out, qid, dtype=np.int64))] + cols + tag,
                schema=schema))
        return pa.concat_tables(out)

    return refine


def _nearest_group_once(spark: SparkSession, docs_geo: DataFrame,
                        queries: pd.DataFrame | DataFrame, k: int, L: int,
                        res: int, cfg: EngineConfig, stats: pd.DataFrame,
                        refine_budget: int = 1 << 22,
                        metric: Metric = PLANAR, m: int | None = None,
                        id_col: str = "doc_id",
                        prefix_L: int | None = None) -> DataFrame:
    """One NGQ round at depth L for either metric: the top-L window, then
    the refine per query → _refine_schema rows (m categories, default
    cfg.m). ``prefix_L`` also answers every query at that smaller depth
    from the same candidates (_make_refine), rows tagged by ``depth``."""
    m = m or cfg.m
    cat_totals = {int(c): int(v) for c, v in
                  stats.groupby("category")["n"].sum().items()}
    cands = _topL(spark, docs_geo, queries, L, res, cfg, id_col, stats,
                  metric)
    schema = _refine_schema(m, docs_geo.schema[id_col].dataType,
                            depth=prefix_L is not None)
    refine = _make_refine(m, k, L, cat_totals, refine_budget,
                          to_arrow_schema(schema), metric, id_col, prefix_L)
    # no repartition here: cands is already hash(query_id)-partitioned
    # with an explicit (non-coalescible) count — see candidate_topL
    return cands.groupBy("query_id").applyInArrow(refine, schema=schema)


def _next_L(L: int, cert: int, per_cap: int) -> int | None:
    """The escalation step both NGQ loops share: jump to the certifying
    depth (at least doubling), clamped at the refine budget's
    per-category cap — past it the kernel truncates anyway, so deeper
    retrieval cannot certify. None when no deeper L fits: the remaining
    answers are as good as the budget allows and are final."""
    nxt = min(max(cert, 2 * L), per_cap)
    return nxt if nxt > L else None


# category cell pairs _category_gap compares at most per category pair;
# past it the gap is read off coarser cells (smaller, still a lower bound)
_GAP_PAIRS = 1 << 20


def _category_gap(stats: pd.DataFrame, res: int, cfg: EngineConfig) -> float:
    """A lower bound on every group's innerDist, query-independent: the
    largest, over category pairs, minimum rect-to-rect gap between the
    occupied cells of the two categories. The per-(cell, category) stats
    play the reference's per-node category bitmap here, and the cells its
    node MBRs (GetGroupMinDist, RTree.cs:938-966; SURVEY Q4a)."""
    gap = 0.0
    cats = sorted(stats["category"].unique())
    for i, j in itertools.combinations(cats, 2):
        a, b, r = (stats.loc[stats["category"] == i, "cell"].to_numpy(),
                   stats.loc[stats["category"] == j, "cell"].to_numpy(), res)
        while len(a) * len(b) > _GAP_PAIRS:
            a, b, r = np.unique(a >> 2), np.unique(b >> 2), r - 1
        w = (cfg.width / (1 << r), cfg.height / (1 << r))
        sq = 0.0
        for axis in (0, 1):      # Morton: x on even bits, y on odd
            d = np.abs(grid.np_compact_bits(a >> axis)[:, None]
                       - grid.np_compact_bits(b >> axis)[None, :])
            sq = sq + (np.maximum(d - 1, 0) * w[axis]) ** 2
        gap = max(gap, float(np.sqrt(sq.min())))
    return gap


def _provably_bad(stats: pd.DataFrame, queries: pd.DataFrame, L: int,
                  res: int, cfg: EngineConfig
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Per query q, from the planner stats alone: ``lb``, a lower bound
    on every group's score, and ``bad``, whether round 1 at depth L
    provably fails q's L-truncation bound.

    lb = _category_gap (innerDist) + the MINDIST from q to its nearest
    occupied cell (interDist) — GetGroupMinDist over MBRs (Q4a). q is
    bad when a category holding > L docs has an L-covering-box radius,
    which bounds its L-th candidate distance d_L from above, below lb:
    round 1's k-th score is then ≥ lb > d_L."""
    n = 1 << res
    wx, wy = cfg.width / n, cfg.height / n
    qx = queries["qx"].to_numpy(np.float64)
    qy = queries["qy"].to_numpy(np.float64)
    cx, cy = query_cells(qx, qy, n, cfg)

    # the smallest square around q's cell holding a doc (half-width h):
    # the one of half-width h-1 inside it is empty, so every occupied
    # cell lies at least q's distance to that empty square's border away
    x0, y0, x1, y1 = covering_box(morton_summed_area(
        stats.groupby("cell", as_index=False)["n"].sum(), n), cx, cy, n, 1)
    h = np.maximum.reduce([cx - x0, x1 - cx, cy - y0, y1 - cy])
    near = np.maximum(np.minimum.reduce([
        qx - (cfg.min_x + (cx - h + 1) * wx),
        cfg.min_x + (cx + h) * wx - qx,
        qy - (cfg.min_y + (cy - h + 1) * wy),
        cfg.min_y + (cy + h) * wy - qy]), 0.0)
    lb = _category_gap(stats, res, cfg) + near

    bad = np.zeros(len(queries), dtype=bool)
    for _, st in stats.groupby("category"):
        if int(st["n"].sum()) <= L:
            continue   # never truncated at L
        bad |= covering_radius(morton_summed_area(st, n), qx, qy, L,
                               cfg) < lb
    return lb, bad


def _reaches_cap(stats: pd.DataFrame, queries: pd.DataFrame, L: int,
                 res: int, per_cap: int, cfg: EngineConfig) -> bool:
    """Plan-time proof, from the planner stats alone (NumPy on the driver,
    no Spark job), that the pandas-query loop escalates a batch from
    round 1 at depth L straight to a round at ``per_cap``.

    A provably-bad query (_provably_bad) fails round 1, and L < per_cap
    keeps its L^m enumeration within the budget (per_cap^m ≤ budget
    unless per_cap was raised to k), so it is bad, not capped. The
    loop's certifying depth is a max over its bad set and
    grows with the k-th score, which is ≥ lb, so one provably-bad query
    with certifying_L(kth=lb) ≥ per_cap makes _next_L return per_cap.
    Rows never depend on this answer; it only decides where the cap
    depth is fetched."""
    lb, bad = _provably_bad(stats, queries, L, res, cfg)
    return bool(bad.any()) and certifying_L(
        stats, queries[bad].assign(kth=lb[bad]), res, cfg) >= per_cap


def nearest_group(spark: SparkSession, docs_geo: DataFrame,
                  queries: pd.DataFrame | DataFrame, k: int | None = None,
                  L: int | None = None, res: int | None = None,
                  cfg: EngineConfig = DEFAULT,
                  max_rounds: int = 4,
                  refine_budget: int = 1 << 22) -> DataFrame:
    """Top-k nearest groups per query point (SURVEY.md Q4).

    ``queries`` may be a small pandas frame (driver-planned, broadcast) or
    a Spark DataFrame for large query batches — planning, escalation
    bookkeeping and re-queries then all stay distributed (no driver loop,
    no collect of query ids).

    Returns (query_id, group_rank, c0_id..c{m-1}_id, min_dist, exact,
    capped), group_rank 1..k ordered by (min_dist, id tuple); ``capped``
    marks queries whose refine hit ``refine_budget`` (their answer is
    the best within the budget, exact=false).

    ADAPTIVE: queries whose L-truncation bound fails (dense-cluster inputs —
    the GaussianIsland regime, DataGenerators.cs:30-83) are retried, up to
    ``max_rounds`` times, at the CERTIFYING depth — the stats grid bounds
    how many docs lie within each failed query's kth score, which is
    exactly the L the bound needs (knn.certifying_L) — instead of blind
    doubling; ``refine_budget`` caps the exact enumeration, and queries
    whose refine was budget-capped are terminal (their answers carry
    exact=false, capped=true — deeper L cannot change them). This is the
    distributed analog of the reference widening its search until theta
    certifies the answer.

    With pandas queries, when the occupancy stats prove that round 1 at L
    fails and the loop then jumps straight to the refine budget's
    per-category cap (_reaches_cap — the clustered-corpus case), round 1
    retrieves the cap depth once and refines every query at both depths
    from that one candidate set. The loop still decides everything from
    the depth-L answers, and its cap round reads the cap-depth answers
    already fetched, so the rows are those of the two-round path: a
    query's top-L prefix of a deeper window is exactly its top-L window,
    and no query's answer depends on the rest of the batch.

    Raises ValueError when ``max_rounds`` < 1."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    k = k or cfg.k
    L = L or cfg.ngq_candidates
    m = cfg.m
    per_cap = max(int(refine_budget ** (1.0 / m)), k)
    # ONE corpus scan feeds the res choice, the planner, the per-category
    # totals (exactness flag), and every escalation round
    # occupancy buckets in planner_stats are (cell, category), so the
    # L target is already per-group — no separate group knob
    stats, res = planner_stats(docs_geo, res, L, cfg)
    distributed = isinstance(queries, DataFrame)
    if not distributed:
        return _nearest_group_pandas(spark, docs_geo, queries, k, L, res,
                                     cfg, max_rounds, refine_budget,
                                     stats, per_cap)

    remaining = queries
    done: DataFrame | None = None
    for rnd in range(max_rounds):
        out = _nearest_group_once(spark, docs_geo, remaining, k, L, res,
                                  cfg, stats, refine_budget) \
            .localCheckpoint(eager=True)
        # escalate only queries the L-bound failed AND whose refine wasn't
        # budget-capped: for capped queries a deeper L hits the same cap,
        # so retrying burns rounds without changing the (flagged-inexact)
        # answer — clustered-corpus queries land here by geometry.
        # exact/capped are per-query constants, so one filter splits the
        # round into whole query groups: the answer is a union of filters
        # over the round checkpoints, never a join against a per-round
        # key table that the returned frame would keep pinned. ONE
        # aggregate over the (checkpointed) bad rows yields both the
        # bad-query set and each query's kth score.
        is_bad = ~F.col("exact") & ~F.col("capped")
        bad = out.filter(is_bad)
        bad_kth = bad.groupBy("query_id").agg(
            F.max("min_dist").alias("kth"))
        if bad_kth.isEmpty():
            return out if done is None else done.unionByName(out)
        good = out.filter(~is_bad)
        done = good if done is None else done.unionByName(good)
        remaining = remaining.join(bad_kth.select("query_id"), "query_id",
                                   "left_semi")
        # bookkeeping stays distributed: per-batch certifying_L in
        # mapInPandas (stats broadcast), driver receives ONE scalar —
        # no .toPandas() of the (possibly huge) bad-query set
        nxt = rnd + 1 < max_rounds and _next_L(L, certifying_L_distributed(
            spark, stats, bad_kth.join(
                remaining.select("query_id", "qx", "qy"), "query_id"),
            res, cfg), per_cap)
        if not nxt:
            # rounds or budget exhausted: the rest is returned with
            # exact=False visible
            return done.unionByName(bad)
        L = nxt


def _nearest_group_pandas(spark: SparkSession, docs_geo: DataFrame,
                          queries: pd.DataFrame, k: int, L: int, res: int,
                          cfg: EngineConfig, max_rounds: int,
                          refine_budget: int, stats: pd.DataFrame,
                          per_cap: int) -> DataFrame:
    """The small-Q (pandas queries) adaptive loop: each round's result is
    k·Q rows — inherently driver-sized, since the queries themselves were
    handed over as a pandas frame — so the round executes as ONE Spark
    action (an Arrow collect) and all escalation bookkeeping (bad set,
    kth bound, certifying depth) runs in pandas. The localCheckpoint +
    per-round aggregate jobs of the distributed loop would cost 2-3 extra
    job rounds here for data that fits in one collect."""
    schema = _refine_schema(cfg.m, docs_geo.schema["doc_id"].dataType)
    remaining = queries
    parts: list[pd.DataFrame] = []
    at_cap: pd.DataFrame | None = None   # per_cap answers fetched early
    for rnd in range(max_rounds):
        if at_cap is not None and L == per_cap:
            out = at_cap[at_cap["query_id"].isin(remaining["query_id"])]
        elif rnd == 0 and max_rounds > 1 and L < per_cap \
                and _reaches_cap(stats, queries, L, res, per_cap, cfg):
            # one round fetches the cap depth and answers at both depths
            both = _nearest_group_once(
                spark, docs_geo, remaining, k, per_cap, res, cfg, stats,
                refine_budget, prefix_L=L).toPandas()
            at_L = both.pop("depth").to_numpy() == L
            out, at_cap = both[at_L], both[~at_L]
        else:
            out = _nearest_group_once(spark, docs_geo, remaining, k, L, res,
                                      cfg, stats, refine_budget).toPandas()
        bad = ~out["exact"] & ~out["capped"]
        parts.append(out[~bad])
        if not bad.any():
            break
        bad_rows = out[bad]
        remaining = remaining[remaining["query_id"]
                              .isin(bad_rows["query_id"].unique())]
        kth = (bad_rows.groupby("query_id", as_index=False)["min_dist"]
               .max().rename(columns={"min_dist": "kth"}))
        nxt = rnd + 1 < max_rounds and _next_L(L, certifying_L(
            stats, kth.merge(remaining[["query_id", "qx", "qy"]],
                             on="query_id"), res, cfg), per_cap)
        if not nxt:
            parts.append(bad_rows)
            break
        L = nxt
    final = pd.concat(parts, ignore_index=True)   # max_rounds ≥ 1
    return spark.createDataFrame(final if len(final) else [], schema)
