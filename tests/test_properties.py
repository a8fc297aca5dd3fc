"""Property-based invariants (hypothesis) over the NumPy twins of the grid
and geometry kernels — no Spark session, so hundreds of random cases are
cheap. These are the checkConsistency-style structural guarantees
(RTree.cs:2667-2689) the distributed operators rely on."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mbrngq_spark import grid
from mbrngq_spark.config import DEFAULT
from mbrngq_spark.operators.dedup import _family_params

RES = st.integers(min_value=1, max_value=12)


@settings(max_examples=200, deadline=None)
@given(res=RES, data=st.data())
def test_morton_roundtrip(res, data):
    n = 1 << res
    ix = data.draw(st.integers(0, n - 1))
    iy = data.draw(st.integers(0, n - 1))
    cell = grid.np_spread_bits(np.array([ix])) | \
        (grid.np_spread_bits(np.array([iy])) << 1)
    assert int(grid.np_compact_bits(cell)[0]) == ix
    assert int(grid.np_compact_bits(cell >> 1)[0]) == iy
    assert 0 <= int(cell[0]) < 4 ** res


@settings(max_examples=200, deadline=None)
@given(res=st.integers(2, 12), data=st.data())
def test_morton_parent_contains_child(res, data):
    """cell >> 2 is the parent: the child's box lies inside the parent's."""
    x = data.draw(st.floats(0.0, 100.0, allow_nan=False))
    y = data.draw(st.floats(0.0, 100.0, allow_nan=False))
    child = grid.np_cell_encode(np.array([x]), np.array([y]), res)
    parent = grid.np_cell_encode(np.array([x]), np.array([y]), res - 1)
    assert int(child[0]) >> 2 == int(parent[0])
    cxmin, cymin, cxmax, cymax = grid.np_cell_box(child, res)
    pxmin, pymin, pxmax, pymax = grid.np_cell_box(parent, res - 1)
    assert pxmin <= cxmin and pymin <= cymin
    assert cxmax <= pxmax and cymax <= pymax


@settings(max_examples=100, deadline=None)
@given(h=st.lists(st.integers(-2**63, 2**63 - 1), min_size=1, max_size=50,
                  unique=True))
def test_minhash_families_are_bijective(h):
    """Odd-multiplier affine maps mod 2^64 are bijections: distinct inputs
    stay distinct in every family (collision-free mixing)."""
    a, b = _family_params(16)
    x = np.array(h, dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        for i in range(16):
            mixed = a[i] * x + b[i]
            assert len(np.unique(mixed)) == len(x)


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_quantize_clamps_to_grid(data):
    res = data.draw(RES)
    x = data.draw(st.floats(-1e6, 1e6, allow_nan=False))
    ix = int(grid.np_quantize(np.array([x]), 0.0, 100.0, res)[0])
    assert 0 <= ix < (1 << res)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.sampled_from(["a", "b", "ab", "c"]), min_size=0,
                max_size=12),
       st.sampled_from([("a", "b"), ("a", "a"), ("b", "a"), ("ab", "c")]))
def test_merge_pair_fold_matches_python(spark, toks, pair):
    """The JVM fold in text._merge_pair_col is exactly the leftmost-
    non-overlapping single-pair merge, for ANY token sequence including
    overlap chains (aaa) and merged-token collisions (ab + c)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mbrngq_spark.operators.text import _merge_pair_col

    a, b = pair
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    df = spark.createDataFrame(pd.DataFrame({"toks": [toks]}),
                               "toks array<string>")
    got = list(df.select(_merge_pair_col(F.col("toks"), a, b)
                         .alias("m")).first()["m"])
    assert got == out


@given(data=st.data())
@settings(max_examples=60, deadline=None)
def test_monotone_chain_hull_properties(data):
    """Hull invariants on random int point sets: containment (no point
    strictly right of any CCW edge), idempotence (hull of hull == hull),
    and vertex minimality (every hull vertex is a strict corner)."""
    from mbrngq_spark.operators.hull import np_monotone_chain

    n = data.draw(st.integers(3, 60))
    pts = data.draw(st.lists(
        st.tuples(st.integers(-1000, 1000), st.integers(-1000, 1000)),
        min_size=n, max_size=n, unique=True))
    ids = np.arange(len(pts), dtype=np.int64)
    qx = np.array([p[0] for p in pts], dtype=np.int64)
    qy = np.array([p[1] for p in pts], dtype=np.int64)
    idx = np_monotone_chain(ids, qx, qy)
    hx, hy = qx[idx], qy[idx]
    m = len(idx)
    if m >= 3:
        for i in range(m):
            ax, ay = hx[i], hy[i]
            bx, by = hx[(i + 1) % m], hy[(i + 1) % m]
            cross = (bx - ax) * (qy - ay) - (by - ay) * (qx - ax)
            assert (cross >= 0).all()          # containment
            cx, cy = hx[(i + 2) % m], hy[(i + 2) % m]
            assert (bx - ax) * (cy - ay) - (by - ay) * (cx - ax) > 0
        idx2 = np_monotone_chain(ids[idx], hx, hy)
        assert sorted(ids[idx][idx2].tolist()) == sorted(ids[idx].tolist())
    else:
        # all points collinear (or <3 points): hull degenerates
        assert m >= 1


@given(data=st.data())
@settings(max_examples=60, deadline=None)
def test_skyline_properties(data):
    """Skyline invariants on random int point sets: no member dominated,
    every non-member dominated by some member, idempotence."""
    from mbrngq_spark.operators.hull import np_skyline

    n = data.draw(st.integers(1, 60))
    pts = data.draw(st.lists(
        st.tuples(st.integers(-500, 500), st.integers(-500, 500)),
        min_size=n, max_size=n, unique=True))
    ids = np.arange(len(pts), dtype=np.int64)
    qx = np.array([p[0] for p in pts], dtype=np.int64)
    qy = np.array([p[1] for p in pts], dtype=np.int64)
    idx = np_skyline(ids, qx, qy)
    sky = set(idx.tolist())

    def dominated(i, j):
        return (qx[j] <= qx[i] and qy[j] <= qy[i]
                and (qx[j] < qx[i] or qy[j] < qy[i]))

    for i in range(len(pts)):
        if i in sky:
            assert not any(dominated(i, j) for j in range(len(pts))
                           if j != i)
        else:
            assert any(dominated(i, j) for j in sky)
    idx2 = np_skyline(ids[idx], qx[idx], qy[idx])
    assert sorted(ids[idx][idx2].tolist()) == sorted(sky)
