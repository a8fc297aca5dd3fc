"""Trajectory analytics over the events stream — per-user movement
derived from time-ordered event positions.

The reference has no temporal tier at all (RTree.cs is spatial-only);
trajectories are the natural composition of the engine's two existing
disciplines: the sessionize window stack (lag + running sum over
(user, time)) and the geometry kernel. Everything is window + groupBy —
one shuffle keyed by user_id end to end, no Python, no iteration.

Cross-engine determinism contracts (same as the rest of the repo):
- legs are sqrt of identical IEEE arithmetic → raw-double comparable;
- SUMS of doubles are order-dependent, so every summed quantity is
  quantized to int64 micro-units FIRST (round(v·1e6), HALF_UP in both
  engines) — the aggregate is then exactly associative;
- MAX of doubles is order-independent → quantized after the max.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mbrngq_spark import geom
from mbrngq_spark.config import DEFAULT, EngineConfig
from mbrngq_spark.functions import derive

_Q = 1e6  # micro-unit quantization for summed distances/coordinates


def with_event_geometry(events: DataFrame,
                        cfg: EngineConfig = DEFAULT) -> DataFrame:
    """(user_id, event_id, te, x, y): positions derived from event_id by
    the same md5 mapping the documents table uses (functions/derive.py)
    — bit-exact in both engines, no external data."""
    return events.select(
        "user_id", "event_id",
        F.unix_timestamp("ts").alias("te"),
        derive.x_col(F.col("event_id"), cfg).alias("x"),
        derive.y_col(F.col("event_id"), cfg).alias("y"))


def _legs(events_geo: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("te", "event_id")
    leg = geom.dist_point(F.col("x"), F.col("y"),
                          F.lag("x").over(w), F.lag("y").over(w))
    return events_geo.withColumn("leg", leg)


def travel_stats(events_geo: DataFrame) -> DataFrame:
    """Per user: (n_points, dist_q, max_leg_q, disp_q) — total path
    length (per-leg micro-quantized then summed), longest leg, and net
    first→last displacement, all int64 micro-units."""
    w = Window.partitionBy("user_id").orderBy("te", "event_id")
    wd = Window.partitionBy("user_id").orderBy(F.col("te").desc(),
                                               F.col("event_id").desc())
    df = (_legs(events_geo)
          .withColumn("legq", F.round(F.col("leg") * F.lit(_Q)).cast("long"))
          .withColumn("rn_a", F.row_number().over(w))
          .withColumn("rn_d", F.row_number().over(wd)))
    one = F.lit(1)
    fx = F.max(F.when(F.col("rn_a") == one, F.col("x")))
    fy = F.max(F.when(F.col("rn_a") == one, F.col("y")))
    lx = F.max(F.when(F.col("rn_d") == one, F.col("x")))
    ly = F.max(F.when(F.col("rn_d") == one, F.col("y")))
    return (df.groupBy("user_id")
            .agg(F.count(one).alias("n_points"),
                 F.coalesce(F.sum("legq"), F.lit(0)).alias("dist_q"),
                 F.coalesce(F.round(F.max("leg") * F.lit(_Q)).cast("long"),
                            F.lit(0)).alias("max_leg_q"),
                 F.round(geom.dist_point(fx, fy, lx, ly)
                         * F.lit(_Q)).cast("long").alias("disp_q")))


def stay_points(events_geo: DataFrame, eps: float,
                min_dur: int, min_events: int = 2) -> DataFrame:
    """Gaps-and-islands stay detection: a new island starts whenever the
    leg from the previous event exceeds ``eps`` (or at the user's first
    event); islands lasting ≥ ``min_dur`` seconds with ≥ ``min_events``
    events are stays. Returns (user_id, stay_idx, n_events, start_epoch,
    end_epoch, cx_q, cy_q) — centroid numerators as summed micro-unit
    int64 (divide by 1e6·n_events for the mean)."""
    w = Window.partitionBy("user_id").orderBy("te", "event_id")
    new_i = F.when(F.col("leg").isNull()
                   | (F.col("leg") > F.lit(float(eps))), 1).otherwise(0)
    df = (_legs(events_geo)
          .withColumn("new_i", new_i)
          .withColumn("island", F.sum("new_i").over(
              w.rowsBetween(Window.unboundedPreceding, 0))))
    return (df.groupBy("user_id", F.col("island").alias("stay_idx"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("te").alias("start_epoch"),
                 F.max("te").alias("end_epoch"),
                 F.sum(F.round(F.col("x") * F.lit(_Q)).cast("long"))
                 .alias("cx_q"),
                 F.sum(F.round(F.col("y") * F.lit(_Q)).cast("long"))
                 .alias("cy_q"))
            .filter((F.col("end_epoch") - F.col("start_epoch")
                     >= F.lit(int(min_dur)))
                    & (F.col("n_events") >= F.lit(int(min_events)))))


def colocation_pairs(events_geo: DataFrame, eps: float, tau: int,
                     cfg: EngineConfig = DEFAULT,
                     res: int | None = None) -> DataFrame:
    """Space-time co-location join (contact tracing): every pair of
    events from DIFFERENT users within ``eps`` distance AND ``tau``
    seconds — (a_user, b_user, a_event, b_event, a_te, b_te, dist, dt).

    The ε-join's celled-candidate discipline extended with a TIME axis:
    each event carries its (cell, te div tau) key; side A additionally
    emits its 3×3 spatial neighborhood × 3 time buckets (bounded JVM
    explode, ≤27 rows), side B emits only its own key, so a qualifying
    pair meets EXACTLY once (cell edge ≥ eps ⟹ |Δcell| ≤ 1 per axis;
    bucket width = tau ⟹ |Δbucket| ≤ 1) and the equi-join is provably
    lossless. Pair dedup by a_event < b_event (each unordered pair would
    otherwise appear once per role assignment). Refine = exact sqrt
    distance + integer Δt — no Python, one shuffle keyed by
    (cell, bucket); AQE skew-splits dense cells at scale."""
    from mbrngq_spark import grid
    from mbrngq_spark.operators.distance_join import eps_join_res

    res = res or eps_join_res(eps, cfg)
    base = (events_geo
            .select("user_id", "event_id", "te", "x", "y")
            .withColumn("__ix", grid.quantize(F.col("x"), cfg.min_x,
                                              cfg.width, res))
            .withColumn("__iy", grid.quantize(F.col("y"), cfg.min_y,
                                              cfg.height, res))
            .withColumn("__tb", F.expr(f"te div {int(tau)}")))
    ix, iy = F.col("__ix"), F.col("__iy")
    a = (grid.box_cover(base, ix - 1, iy - 1, ix + 1, iy + 1, res)
         .withColumn("ctb", F.explode(F.sequence(F.col("__tb") - 1,
                                                 F.col("__tb") + 1)))
         .select(F.col("user_id").alias("a_user"),
                 F.col("event_id").alias("a_event"),
                 F.col("te").alias("a_te"),
                 F.col("x").alias("ax"), F.col("y").alias("ay"),
                 "cell", F.col("ctb").alias("tb")))
    b = base.select(F.col("user_id").alias("b_user"),
                    F.col("event_id").alias("b_event"),
                    F.col("te").alias("b_te"),
                    F.col("x").alias("bx"), F.col("y").alias("by"),
                    grid.cell_from_indices(F.col("__ix"),
                                           F.col("__iy")).alias("cell"),
                    F.col("__tb").alias("tb"))
    d = geom.dist_point(F.col("ax"), F.col("ay"),
                        F.col("bx"), F.col("by"))
    return (a.join(b, ["cell", "tb"])
            .filter((F.col("a_event") < F.col("b_event"))
                    & (F.col("a_user") != F.col("b_user")))
            .withColumn("dist", d)
            .withColumn("dt", F.abs(F.col("a_te") - F.col("b_te")))
            .filter((F.col("dist") <= F.lit(float(eps)))
                    & (F.col("dt") <= F.lit(int(tau))))
            .select("a_user", "b_user", "a_event", "b_event",
                    "a_te", "b_te", "dist", "dt"))


def colocation_contacts(events_geo: DataFrame, eps: float, tau: int,
                        cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Per unordered user pair: contact count, first/last contact epoch,
    and closest approach (micro-quantized min distance — min of int64 is
    order-free). One keyed aggregation over colocation_pairs."""
    pairs = colocation_pairs(events_geo, eps, tau, cfg)
    ua = F.least("a_user", "b_user")
    ub = F.greatest("a_user", "b_user")
    return (pairs
            .withColumn("ua", ua).withColumn("ub", ub)
            .groupBy("ua", "ub")
            .agg(F.count(F.lit(1)).alias("n_contacts"),
                 F.min(F.least("a_te", "b_te")).alias("first_te"),
                 F.max(F.greatest("a_te", "b_te")).alias("last_te"),
                 F.min(F.round(F.col("dist") * F.lit(1e6)).cast("long"))
                 .alias("min_dist_q")))


def od_matrix(events_geo: DataFrame, res: int,
              cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Origin-destination flow matrix: per (cell_from, cell_to) Morton
    cell pair, the number of consecutive-event transitions and distinct
    users making them — the classic trajectory aggregate (flow maps,
    transition matrices). One lag window keyed by user_id + one keyed
    aggregation; all int64."""
    from mbrngq_spark import grid
    w = Window.partitionBy("user_id").orderBy("te", "event_id")
    cell = grid.cell_encode(F.col("x"), F.col("y"), res, cfg)
    df = (events_geo.withColumn("cell", cell)
          .withColumn("prev", F.lag("cell").over(w)))
    return (df.filter(F.col("prev").isNotNull())
            .groupBy(F.col("prev").alias("cell_from"),
                     F.col("cell").alias("cell_to"))
            .agg(F.count(F.lit(1)).alias("n_trips"),
                 F.countDistinct("user_id").alias("n_users")))


def route_emissions(events_geo: DataFrame, lines: DataFrame,
                    quant: float = 1e6) -> DataFrame:
    """Per (event, route) emission table for map matching:
    (user_id, event_id, step, line_id, eq) with step the 0-based
    position in the user's time-ordered trajectory and eq the
    micro-quantized exact point→polyline distance.

    The distance is the same fold the corridor join proved bit-exact
    (min over segment_distance Columns — pure +,-,*,/ and sqrt), and
    the quantization is JVM-side F.round (HALF_UP — DuckDB's half-away
    agrees on nonnegative values), so the DP downstream never touches a
    float: everything after this table is exact int64 min-plus."""
    from mbrngq_spark.operators.lines import segment_distance

    def segd(i):
        return segment_distance(
            F.col("x"), F.col("y"),
            F.element_at(F.col("vx"), i), F.element_at(F.col("vy"), i),
            F.element_at(F.col("vx"), i + F.lit(1)),
            F.element_at(F.col("vy"), i + F.lit(1)))

    d = F.array_min(F.transform(
        F.sequence(F.lit(1), F.size("vx") - 1), lambda i: segd(i)))
    w = Window.partitionBy("user_id").orderBy("te", "event_id")
    st = events_geo.withColumn("step", F.row_number().over(w) - F.lit(1))
    return (st.crossJoin(F.broadcast(lines))
            .withColumn("eq", F.round(d * F.lit(quant)).cast("long"))
            .select("user_id", "event_id", "step", "line_id", "eq"))


def map_match(events_geo: DataFrame, lines: DataFrame,
              switch_penalty: float, quant: float = 1e6) -> DataFrame:
    """HMM-style map matching (Viterbi): per user trajectory, the
    route assignment per point minimizing Σ emission (point→route
    distance) + Σ switch penalties (route changes between consecutive
    points). Returns the full DP cost table with the matched path:
    (user_id, step, event_id, route_id, costq, matched) — costq the
    exact int64 min cost of any path ending at (step, route_id),
    matched marking the backtraced optimum (ties: smallest route_id at
    the final step and at every backward argmin).

    Shape at scale: emissions are a broadcast join + window (corpus
    shuffled ONCE by user); the DP is an Arrow-batched per-user kernel
    (applyInPandas — the NGQ refine discipline) doing integer min-plus
    over R routes × T points, O(R²T) per user. Every quantity after the
    JVM-side quantization is int64 — the kernel is float-free, so
    Spark, the Python twin, and the DuckDB recursive-CTE oracle agree
    bit for bit."""
    import numpy as np
    import pandas as pd

    swq = int(round(switch_penalty * quant))
    em = route_emissions(events_geo, lines, quant)

    def viterbi(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["step", "line_id"])
        routes = np.sort(pdf["line_id"].unique())
        steps = int(pdf["step"].max()) + 1
        rix = {r: i for i, r in enumerate(routes)}
        e = np.full((steps, len(routes)), np.iinfo(np.int64).max // 4,
                    dtype=np.int64)
        eid = np.zeros(steps, dtype=np.int64)
        for r in pdf.itertuples():
            e[r.step, rix[r.line_id]] = r.eq
            eid[r.step] = r.event_id
        dp = np.zeros_like(e)
        dp[0] = e[0]
        for t in range(1, steps):
            prev = dp[t - 1]
            base = np.minimum(prev, prev.min() + swq)
            # exact per-route: min(prev[r], min over r'!=r of prev[r']+swq)
            # == min(prev[r], global_min + swq) (adding swq to prev[r]
            # itself never beats prev[r])
            dp[t] = base + e[t]
        # backtrace, smallest route id on ties
        path = np.zeros(steps, dtype=np.int64)
        path[-1] = int(np.argmin(dp[-1]))
        for t in range(steps - 1, 0, -1):
            r = path[t]
            cand = dp[t - 1] + swq
            cand[r] = dp[t - 1, r]
            path[t - 1] = int(np.argmin(cand))
        rows = []
        uid = int(pdf["user_id"].iloc[0])
        for t in range(steps):
            for r, rid in enumerate(routes):
                rows.append((uid, t, int(eid[t]), int(rid),
                             int(dp[t, r]), bool(path[t] == r)))
        return pd.DataFrame(rows, columns=["user_id", "step", "event_id",
                                           "route_id", "costq", "matched"])

    return em.groupBy("user_id").applyInPandas(
        viterbi, "user_id long, step long, event_id long, route_id long, "
                 "costq long, matched boolean")


def colocation_pairs_geodetic(spark, events_ll: DataFrame, eps_m: float,
                              tau: int, res: int = 4) -> DataFrame:
    """Spherical co-location: cross-user event pairs within ``eps_m``
    great-circle meters AND ``tau`` seconds — the geodetic twin of
    colocation_pairs. ``events_ll`` carries (user_id, event_id, te,
    lat, lon).

    Composition: the pole/wrap-safe geodetic ε-pair join (cell-PAIR
    bounds table — the planar 3×3 neighborhood is wrong on a lat/lon
    grid) produces the spatial candidates; two id-keyed joins attach
    (user, te); the |Δt| filter finishes. Exact — a time-blind spatial
    superset filtered down. At scale, fuse the time bucket into the
    pair-join key exactly as the planar colocation_pairs does; the
    composition here keeps the geodetic planner untouched.

    Returns (a_user, b_user, a_event, b_event, a_te, b_te, dist_m, dt)
    with a_event < b_event (from the ε-join's unordered-pair contract)."""
    from mbrngq_spark.operators.geodetic import geodetic_pairs

    pts = events_ll.select(F.col("event_id").alias("doc_id"),
                           "lat", "lon")
    pairs = geodetic_pairs(spark, pts, eps_m, res=res)
    meta = events_ll.select("event_id", "user_id", "te")
    am = meta.select(F.col("event_id").alias("a_id"),
                     F.col("user_id").alias("a_user"),
                     F.col("te").alias("a_te"))
    bm = meta.select(F.col("event_id").alias("b_id"),
                     F.col("user_id").alias("b_user"),
                     F.col("te").alias("b_te"))
    return (pairs.join(am, "a_id").join(bm, "b_id")
            .filter((F.abs(F.col("a_te") - F.col("b_te"))
                     <= F.lit(int(tau)))
                    & (F.col("a_user") != F.col("b_user")))
            .select(F.col("a_user"), F.col("b_user"),
                    F.col("a_id").alias("a_event"),
                    F.col("b_id").alias("b_event"),
                    "a_te", "b_te", "dist_m",
                    F.abs(F.col("a_te") - F.col("b_te")).alias("dt")))


def frechet_join(lines_a: DataFrame, lines_b: DataFrame,
                 quant: float = 1e6, geodetic: bool = False,
                 self_join: bool = False) -> DataFrame:
    """Discrete Fréchet distance between every (a, b) polyline pair —
    THE trajectory-similarity measure (minimal leash for two walkers
    who may pause but not back up):

        dp[i][j] = max(d(aᵢ, bⱼ), min(dp[i−1][j], dp[i][j−1],
                                      dp[i−1][j−1]))

    Exactness discipline (the map_match shape): the pairwise point
    distances are computed AND micro-quantized JVM-SIDE
    (round(d·quant) — HALF_UP) by a bounded sequence/explode over the
    vertex index product, so the DP itself is pure int64 min/max in an
    Arrow per-pair kernel — Spark, Python, and the row-unrolled SQL
    oracle agree bit for bit.

    ``lines_a``/``lines_b``: (line_id, vx, vy). Returns
    (a_id, b_id, dfq, frechet) with dfq the exact int64 quantized
    distance. Shape at scale: the cross join is the caller's candidate
    policy (broadcast the smaller side, or cell-prefilter first); the
    matrix explode is |Va|·|Vb| per pair, one groupBy(a,b) into the
    kernel."""
    mat = _pair_dist_matrix(lines_a, lines_b, quant, geodetic,
                            self_join)
    return _warp_dp(mat, max, "dfq", "frechet", quant)


def _warp_dp(mat: DataFrame, step, q_col: str, name: str,
             quant: float) -> DataFrame:
    """The Fréchet/DTW dynamic programme over the quantized matrix:
    dp[i][j] = step(d(i, j), min(dp[i−1][j], dp[i][j−1], dp[i−1][j−1]))
    with ``step`` = max (Fréchet) or + (DTW), the borders folding one
    neighbour. One int64 Arrow kernel per (a, b) pair; returns
    (a_id, b_id, q_col, name) with name = q_col / quant."""
    import numpy as np
    import pandas as pd

    def dp_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for (aid, bid), g in pdf.groupby(["a_id", "b_id"]):
            n = int(g["i"].max()) + 1
            m = int(g["j"].max()) + 1
            dmat = np.zeros((n, m), dtype=np.int64)
            dmat[g["i"].to_numpy(), g["j"].to_numpy()] = g["dq"].to_numpy()
            dp = np.zeros((n, m), dtype=np.int64)
            dp[0, 0] = dmat[0, 0]
            for j in range(1, m):
                dp[0, j] = step(dmat[0, j], dp[0, j - 1])
            for i in range(1, n):
                dp[i, 0] = step(dmat[i, 0], dp[i - 1, 0])
                for j in range(1, m):
                    dp[i, j] = step(dmat[i, j],
                                    min(dp[i - 1, j], dp[i, j - 1],
                                        dp[i - 1, j - 1]))
            out.append((int(aid), int(bid), int(dp[n - 1, m - 1])))
        return pd.DataFrame(out, columns=["a_id", "b_id", q_col])

    res = mat.groupBy("a_id", "b_id").applyInPandas(
        dp_kernel, f"a_id long, b_id long, {q_col} long")
    return res.withColumn(name,
                          F.col(q_col).cast("double") / F.lit(quant))


def _pair_dist_matrix(lines_a: DataFrame, lines_b: DataFrame,
                      quant: float, geodetic: bool = False,
                      self_join: bool = False) -> DataFrame:
    """(a_id, b_id, i, j, dq): the JVM-quantized pairwise vertex
    distance matrix shared by the similarity measures. ``geodetic``
    switches to (line_id, vlat, vlon) inputs and great-circle meters
    (quant then means sub-meter units, e.g. 100 → centimeters — the
    geodetic 2-dp discipline)."""
    from mbrngq_spark.operators.geodetic import haversine_col

    ca, cb = ("vlat", "vlon") if geodetic else ("vx", "vy")
    a = lines_a.select(F.col("line_id").alias("a_id"),
                       F.col(ca).alias("ava"), F.col(cb).alias("avb"))
    b = lines_b.select(F.col("line_id").alias("b_id"),
                       F.col(ca).alias("bva"), F.col(cb).alias("bvb"))
    a1 = F.element_at("ava", F.col("i") + F.lit(1))
    a2 = F.element_at("avb", F.col("i") + F.lit(1))
    b1 = F.element_at("bva", F.col("j") + F.lit(1))
    b2 = F.element_at("bvb", F.col("j") + F.lit(1))
    if geodetic:
        d = haversine_col(a1, a2, b1, b2)
    else:
        d = F.sqrt((a1 - b1) * (a1 - b1) + (a2 - b2) * (a2 - b2))
    pairs = a.crossJoin(F.broadcast(b))
    if self_join:
        # unordered self-similarity: prune BEFORE the vertex-product
        # explode (a post-kernel a_id < b_id filter cannot push through
        # applyInPandas — it would halve nothing)
        pairs = pairs.filter(F.col("a_id") < F.col("b_id"))
    return (pairs
            .withColumn("i", F.explode(F.sequence(
                F.lit(0), F.size("ava") - 1)))
            .withColumn("j", F.explode(F.sequence(
                F.lit(0), F.size("bva") - 1)))
            .select("a_id", "b_id", "i", "j",
                    F.round(d * F.lit(quant)).cast("long").alias("dq")))


def hausdorff_join(lines_a: DataFrame, lines_b: DataFrame,
                   quant: float = 1e6, geodetic: bool = False,
                   self_join: bool = False) -> DataFrame:
    """Symmetric (discrete) Hausdorff distance per polyline pair —
    max over each side's vertices of the min distance to the other
    side: greatest(maxᵢ minⱼ, maxⱼ minᵢ) over the shared quantized
    matrix. NO kernel at all: two keyed min aggregations (per vertex i,
    per vertex j), one union and one (a, b)-keyed max — pure Column,
    exact int64 end to end. The max over both sides' mins is the
    greatest of the two directed distances, so no join (and no AQE
    build-side choice between two equal-sized sides) is needed."""
    mat = _pair_dist_matrix(lines_a, lines_b, quant, geodetic,
                            self_join)
    mins = [mat.groupBy("a_id", "b_id", v).agg(F.min("dq").alias("mn"))
            .select("a_id", "b_id", "mn") for v in ("i", "j")]
    return (mins[0].unionByName(mins[1])
            .groupBy("a_id", "b_id").agg(F.max("mn").alias("dhq"))
            .withColumn("hausdorff",
                        F.col("dhq").cast("double") / F.lit(quant)))


def dtw_join(lines_a: DataFrame, lines_b: DataFrame,
             quant: float = 1e6, geodetic: bool = False,
             self_join: bool = False) -> DataFrame:
    """Dynamic-time-warping distance per polyline pair —
    dp[i][j] = d(i,j) + min(dp[i−1][j], dp[i][j−1], dp[i−1][j−1]);
    the SUM variant of the Fréchet DP, same JVM-quantized matrix, same
    int64 Arrow kernel (sums of int64 stay exact — ≤ V²·max_dq per
    pair, far under 2^63)."""
    mat = _pair_dist_matrix(lines_a, lines_b, quant, geodetic,
                            self_join)
    return _warp_dp(mat, operator.add, "dtwq", "dtw", quant)
