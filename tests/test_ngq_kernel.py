"""The NGQ refine kernel without Spark: the blocked, Arrow-native refine
(ngq._make_refine) and its enumeration core (ngq.group_topk) against the
dense cross-category enumeration of oracle.ngq_bruteforce. Apart from the
uniform case, which theta pruning cuts to one block, the candidate sets
are large enough that the sweep runs many blocks and re-tightens its
running threshold; exact float equality is required, because every cell
is scored with the same operations as the dense product."""

import itertools

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from mbrngq_spark import grid
from mbrngq_spark.config import DEFAULT
from mbrngq_spark.operators import ngq
from mbrngq_spark.oracle import ngq_bruteforce

QX, QY = 50.0, 50.0


def _cands(rng, sizes, *, blobs=False, ring=False, grid=None,
           str_ids=False):
    """One query's candidate table (query_id, category, doc_id, x, y, dq,
    rn), rn in (dq, doc_id) order as candidate_topL emits it, rows
    shuffled. ``blobs`` puts each category in its own cluster and
    ``ring`` every doc on one circle around the query; theta pruning
    removes little from either. ``grid`` snaps coordinates so that many
    scores tie."""
    parts = []
    for c, n in enumerate(sizes):
        if blobs:
            cx, cy = rng.uniform(20, 80, 2)
            x, y = rng.normal(cx, 3.0, n), rng.normal(cy, 3.0, n)
        elif ring:
            a = rng.uniform(0, 2 * np.pi, n)
            x, y = QX + 30 * np.cos(a), QY + 30 * np.sin(a)
        else:
            x, y = rng.uniform(0, 100, n), rng.uniform(0, 100, n)
        if grid:
            x, y = np.round(x / grid) * grid, np.round(y / grid) * grid
        ids = rng.choice(10 ** 6, n, replace=False) + c * 10 ** 6
        p = pd.DataFrame({"category": c, "doc_id": ids, "x": x, "y": y,
                          "dq": np.sqrt((x - QX) ** 2 + (y - QY) ** 2)})
        p = p.sort_values(["dq", "doc_id"]).reset_index(drop=True)
        p["rn"] = np.arange(1, n + 1, dtype=np.int32)
        parts.append(p)
    df = pd.concat(parts, ignore_index=True).sample(frac=1, random_state=0)
    df.insert(0, "query_id", 7)
    if str_ids:
        df["doc_id"] = [f"d{v:08d}" for v in df["doc_id"]]
    return df


def _refine(df, m, k, L, budget=1 << 22, str_ids=False):
    schema = to_arrow_schema(ngq._refine_schema(
        m, T.StringType() if str_ids else T.LongType()))
    f = ngq._make_refine(m, k, L, {c: 10 ** 9 for c in range(m)}, budget,
                         schema)
    out = f(pa.Table.from_pandas(df, preserve_index=False))
    assert out.schema == schema
    return out.to_pandas()


def _assert_same_groups(got, exp, m):
    assert len(got) == len(exp)
    for c in range(m):
        assert got[f"c{c}_id"].tolist() == exp[f"c{c}_id"].tolist()
    assert np.array_equal(got["min_dist"].to_numpy(),
                          exp["min_dist"].to_numpy())


@pytest.mark.parametrize("m,n,k,kw", [
    (2, 700, 10, {}),
    (2, 600, 10, {"ring": True}),
    (3, 90, 10, {"blobs": True}),
    (3, 90, 10, {"blobs": True, "grid": 1.0}),
    (3, 80, 25, {"ring": True, "grid": 2.0, "str_ids": True}),
    (4, 28, 10, {"blobs": True, "grid": 0.5}),
])
def test_refine_equals_dense_bruteforce(m, n, k, kw):
    rng = np.random.default_rng(m * 1000 + n + k)
    df = _cands(rng, [n] * m, **kw)
    got = _refine(df, m, k, L=n, str_ids=kw.get("str_ids", False))
    exp = ngq_bruteforce(df, QX, QY, m, k)
    _assert_same_groups(got, exp, m)
    assert (got["group_rank"] == np.arange(1, k + 1)).all()
    assert not got["capped"].any()
    # exact iff the kth score is within every (truncated) list's L-th dq
    last_dq = df.groupby("category")["dq"].max()
    assert got["exact"].all() == bool((got["min_dist"].max()
                                       <= last_dq).all())


@pytest.mark.parametrize("m,sizes", [(2, (900, 700)), (3, (80, 70, 60)),
                                     (4, (24, 30, 20, 26))])
def test_group_topk_spans_blocks_with_ties(m, sizes):
    """The enumeration core alone, with integer-valued pairwise matrices
    (metric-agnostic; every score is tied with many others), over a
    product of several _BLOCK_CELLS blocks."""
    assert np.prod(sizes) > 4 * ngq._BLOCK_CELLS
    rng = np.random.default_rng(sum(sizes))
    D = {(i, j): rng.integers(0, 6, (sizes[i], sizes[j])).astype(float)
         for i, j in itertools.combinations(range(m), 2)}
    # unsorted dq (the geodetic refine passes arrival order); category 0
    # nearest the query, so most inter terms come from the swept axis
    dqs = [rng.integers(0 if c == 0 else 3, 6 if c == 0 else 9,
                        s).astype(float) for c, s in enumerate(sizes)]
    ids = [rng.choice(10 ** 6, s, replace=False) for s in sizes]
    top_ids, top = ngq.group_topk(D, dqs, ids, 12)

    def ax(a, *axes):
        shape = [1] * m
        for x, s in zip(axes, a.shape):
            shape[x] = s
        return a.reshape(shape)

    inner = np.zeros(sizes)
    for (i, j), Dij in D.items():
        inner = np.maximum(inner, ax(Dij, i, j))
    inter = np.full(sizes, np.inf)
    for c in range(m):
        inter = np.minimum(inter, ax(dqs[c], c))
    score = (inner + inter).ravel()
    idx = np.unravel_index(np.arange(score.size), sizes)
    member = [ids[c][idx[c]] for c in range(m)]
    order = np.lexsort(tuple(member[::-1]) + (score,))[:12]
    assert np.array_equal(top, score[order])
    for c in range(m):
        assert top_ids[c].tolist() == member[c][order].tolist()


def test_refine_empty_category_gives_no_groups():
    df = _cands(np.random.default_rng(1), [40, 0, 30])
    got = _refine(df, 3, 10, L=40)
    assert len(got) == 0


def test_refine_budget_cap_flags_capped_and_inexact():
    """Past the budget each list is cut to its first budget^(1/m) members
    by dq (the product stays under the theta threshold, so nothing else
    prunes) and the answer is flagged capped and inexact."""
    m, k, budget = 3, 5, 512
    df = _cands(np.random.default_rng(2), [15, 15, 15])
    got = _refine(df, m, k, L=15, budget=budget)
    assert got["capped"].all() and not got["exact"].any()
    per_cap = max(int(budget ** (1.0 / m)), k)
    exp = ngq_bruteforce(df[df["rn"] <= per_cap], QX, QY, m, k)
    _assert_same_groups(got, exp, m)


def test_geo_refine_slack_keeps_group_past_rounded_triangle_bound():
    """Geodetic distances are rounded to 2 dp, so a member's dq can
    exceed its group's score (the triangle bound score ≥ dq_i) by up to
    three half-grains. Here B's dq is 0.01 m past the score of the best
    group (A, B), and 65² candidate groups put theta pruning in play: the
    GEO refine keeps B within its slack, a zero-slack refine prunes B
    and loses the group."""
    from dataclasses import replace

    from mbrngq_spark.operators.geodetic import GEO, np_haversine

    n = 65                      # 65 * 65 > the 4096-group theta threshold
    far = np.arange(1, n)
    lat = np.r_[0.0, 10.0 + 0.5 * far, 0.0, -10.0 - 0.5 * far]
    lon = np.r_[0.0, np.zeros(n - 1), 0.001, np.zeros(n - 1)]
    dq = np.round(np_haversine(lat, lon, 0.0, 0.0), 2)   # query at A
    d_ab = np.round(np_haversine(0.0, 0.0, 0.0, 0.001), 2)
    dq[n] = d_ab + 0.01                                   # B
    df = pd.DataFrame({"query_id": 7, "category": np.repeat([0, 1], n),
                       "doc_id": np.arange(2 * n), "lat": lat, "lon": lon,
                       "dq": dq})
    df["rn"] = (df.groupby("category")["dq"].rank(method="first")
                .astype(np.int32))
    schema = to_arrow_schema(ngq._refine_schema(2))

    def best(metric):
        f = ngq._make_refine(2, 1, n, {0: n, 1: n}, 1 << 22, schema,
                             metric, "doc_id")
        out = f(pa.Table.from_pandas(df, preserve_index=False)).to_pandas()
        return [tuple(r) for r in out[["c0_id", "c1_id", "min_dist"]]
                .itertuples(index=False)]

    assert best(GEO) == [(0, n, d_ab)]
    assert best(replace(GEO, slack=0.0)) != [(0, n, d_ab)]


def test_refine_two_depths_equal_two_refines():
    """With prefix_L the kernel answers at both depths from one table:
    the prefix_L rows equal a depth-prefix_L refine of the rn ≤ prefix_L
    rows, the full-depth rows a plain refine, each tagged by depth."""
    m, k, L, short = 3, 10, 60, 20
    df = _cands(np.random.default_rng(5), [L] * m, blobs=True)
    schema = to_arrow_schema(ngq._refine_schema(m, depth=True))
    totals = {c: 10 ** 9 for c in range(m)}
    both = ngq._make_refine(m, k, L, totals, 1 << 22, schema,
                            prefix_L=short)(
        pa.Table.from_pandas(df, preserve_index=False)).to_pandas()
    assert set(both["depth"]) == {short, L}
    for depth, rows in ((short, df[df["rn"] <= short]), (L, df)):
        got = both[both["depth"] == depth].drop(columns="depth")
        exp = _refine(rows, m, k, depth)
        pd.testing.assert_frame_equal(got.reset_index(drop=True), exp)


def _stats_of(docs, res):
    cell = grid.np_cell_encode(docs["x"].to_numpy(), docs["y"].to_numpy(),
                               res)
    return (docs.assign(cell=cell).groupby(["cell", "category"])
            .size().rename("n").reset_index())


@pytest.mark.parametrize("clustered", [False, True])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_group_bound_is_sound(clustered, seed):
    """The plan-time NGQ bound (ngq._provably_bad) over stats built in
    pandas: no group of any query scores below its lb, and every query
    it flags bad at L gets exact=False from the refine on its
    brute-force top-L candidates, as round 1 would."""
    rng = np.random.default_rng(seed)
    m, k, L, res, per_cat = 3, 5, 8, 4, 40
    parts = []
    for c in range(m):
        if clustered:
            cx, cy = rng.uniform(15, 85, 2)
            x, y = rng.normal(cx, 4.0, per_cat), rng.normal(cy, 4.0, per_cat)
        else:
            x, y = rng.uniform(0, 100, per_cat), rng.uniform(0, 100, per_cat)
        parts.append(pd.DataFrame({"x": np.clip(x, 0, 100),
                                   "y": np.clip(y, 0, 100), "category": c}))
    docs = pd.concat(parts, ignore_index=True)
    docs["doc_id"] = np.arange(len(docs))
    queries = pd.DataFrame({"query_id": np.arange(12),
                            "qx": rng.uniform(0, 100, 12),
                            "qy": rng.uniform(0, 100, 12)})
    lb, bad = ngq._provably_bad(_stats_of(docs, res), queries, L, res,
                                DEFAULT)
    if clustered:
        assert bad.any(), "the bound should fire on separated clusters"
    schema = to_arrow_schema(ngq._refine_schema(m))
    refine = ngq._make_refine(m, k, L, {c: per_cat for c in range(m)},
                              1 << 22, schema)
    for q, q_lb, q_bad in zip(queries.itertuples(), lb, bad):
        best = ngq_bruteforce(docs, q.qx, q.qy, m, 1)["min_dist"].iloc[0]
        assert q_lb <= best + 1e-9
        if q_bad:
            dq = np.hypot(docs["x"] - q.qx, docs["y"] - q.qy)
            top = (docs.assign(dq=dq, query_id=q.query_id)
                   .sort_values(["category", "dq", "doc_id"])
                   .groupby("category").head(L))
            top["rn"] = top.groupby("category").cumcount() + 1
            out = refine(pa.Table.from_pandas(top, preserve_index=False))
            assert not any(out.column("exact").to_pylist())


def test_group_bound_is_tight_at_facing_cell_edges():
    """Two one-doc categories just inside facing edges of cells two
    columns apart (their gap is one cell), queried at the first doc and
    just inside the cell three rows above it: lb equals the best score up
    to the 1e-6 offsets from the cell edges, so neither the gap nor the
    nearest-cell term gives up more than the grid forces."""
    res, w, eps = 4, DEFAULT.width / 16, 1e-6
    top = 9 * w - eps                      # just below row 8's top edge
    docs = pd.DataFrame({"x": [2 * w - eps, 3 * w + eps], "y": [top, top],
                         "category": [0, 1], "doc_id": [0, 1]})
    queries = pd.DataFrame({"query_id": [0, 1], "qx": [2 * w - eps] * 2,
                            "qy": [top, 11 * w + eps]})
    lb, _ = ngq._provably_bad(_stats_of(docs, res), queries, 8, res, DEFAULT)
    best = [ngq_bruteforce(docs, q.qx, q.qy, 2, 1)["min_dist"].iloc[0]
            for q in queries.itertuples()]
    np.testing.assert_allclose(lb, best, rtol=0, atol=1e-5)
    assert (lb <= best).all()
