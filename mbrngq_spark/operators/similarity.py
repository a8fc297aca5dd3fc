"""Similarity search over embedding columns (array<float>).

Every top-k here is the same prune-then-exact-rank pipeline, and the
entry points differ only in where their candidate lists come from:

    keys → list source → one broadcast join → one rank

- **Query side** (``_query_side``): the query id, its vector ``q_vec``
  and its norm, computed ONCE per query on the broadcast side, plus the
  query's probe keys exploded one row per key — the ``nprobe`` nearest
  IVF ``pivot`` ids (``_ivf_queries``) or the multiprobe LSH ``bucket``
  set (``_lsh_queries``). The exact baseline has no keys: its list
  source is the whole corpus, cross-joined.
- **List source**: the corpus keyed in session (``_assign_pivot`` /
  ``_bucket_col``), or a persisted artifact read through one partition-
  pruned reader (``_pruned_lists``: the probed keys are collected once —
  metadata scale regardless of |Q| — and pushed as a STATIC ``key IN``
  filter, i.e. partition pruning on parquet, manifest-stat file skipping
  on a SnapshotTable).
- **Score + rank**: ``_cosine_topk`` (exact cosine rounded to 6 dp
  BEFORE a (cos desc, id) row_number, so the order is reproducible
  across engines) or, over PQ codes, ``_adc_topk`` (a map-only Arrow LUT
  gather+sum, then an (adist, id) row_number). Both ranks plan as a
  WindowGroupLimit, so the q_id exchange carries ≤ k rows per map task
  per query.

Entry points: ``cosine_topk_bruteforce`` (exact, the recall oracle),
``cosine_topk_lsh`` / ``build_lsh_index`` + ``probe_lsh_index``
(random-hyperplane buckets), ``cosine_topk_ivf`` / ``build_ivf_index`` +
``probe_ivf_index`` / ``build_ivf_snapshot`` + ``probe_ivf_snapshot``
(pivot inverted lists; ``ivf_train_kmeans`` trains centroids),
``pq_adc_topk`` and ``build_ivfpq_index`` + ``probe_ivfpq_index`` +
``append_ivfpq_index`` (product quantization, integer-exact), and
``embedding_near_dups`` (banded hyperplane-LSH near-duplicate pairs).
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mbrngq_spark.operators.dedup import band_pairs
from mbrngq_spark.plans.snapshots import SnapshotTable


def _dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in array order (deterministic fold, double precision)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


# --- the shared stages ---------------------------------------------------------

def _query_side(queries: DataFrame, q_id_col: str, vec_col: str,
                key: str | None = None,
                probes: Column | None = None) -> DataFrame:
    """(q_id, q_vec, __q_norm[, key]) — the broadcast side of every
    cosine top-k. The norm is the same fold as the corpus side's, taken
    once per query (not per candidate row), so it is the same double.
    ``probes`` is an array of probe keys over ``queries``' columns,
    exploded to one row per (query, key)."""
    cols = [F.col(q_id_col), F.col(vec_col).alias("q_vec"),
            _norm(F.col(vec_col)).alias("__q_norm")]
    if key is not None:
        cols.append(F.explode(probes).alias(key))
    return queries.select(*cols)


def _cosine_topk(lists: DataFrame, q: DataFrame, k: int, key: str | None,
                 id_col: str, vec_col: str, q_id_col: str) -> DataFrame:
    """The one score+rank stage: ``lists`` ⋈ broadcast(``q``) on the
    probe key (a cross join without one), exact cosine rounded to 6 dp
    BEFORE ranking, row_number over (cos desc, id) per query. Returns
    (q_id, id, cos, rnk)."""
    bq = F.broadcast(q)
    cand = lists.crossJoin(bq) if key is None else lists.join(bq, key)
    cos = _dot(F.col(vec_col), F.col("q_vec")) / \
        (_norm(F.col(vec_col)) * F.col("__q_norm"))
    w = Window.partitionBy(q_id_col).orderBy(F.col("cos").desc(),
                                             F.col(id_col).asc())
    return (cand.withColumn("cos", F.round(cos, 6))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(q_id_col, id_col, "cos", "rnk"))


def _pruned_lists(spark: SparkSession, path: str, q: DataFrame,
                  key: str) -> DataFrame:
    """The persisted lists a probe reads: ONLY the partitions of the keys
    ``q`` probes. The probed-key set (≤ nlist pivots or ≤ 2^n_planes
    buckets — metadata scale regardless of |Q|) becomes a STATIC ``key
    IN`` partition filter, so the scan touches the probed lists by
    construction (plan-audit asserted)."""
    return (spark.read.parquet(path)
            .filter(F.col(key).isin(_probed_keys(q, key)))
            .withColumn(key, F.col(key).cast("long")))


def _probed_keys(q: DataFrame, key: str) -> list[int]:
    return sorted({int(r[0]) for r in q.select(key).distinct().collect()})


def cosine_topk_bruteforce(corpus: DataFrame, queries: DataFrame, k: int,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           q_id_col: str = "q_id") -> DataFrame:
    """Exact top-k by cosine per query vector.

    ``queries``: (q_id, embedding) — the broadcast side. Returns
    (q_id, vec_id, cos, rnk); cos rounded to 6 dp BEFORE ranking so the
    ordering is reproducible across engines (ties broken by vec_id).

    Dot products are JVM-side folds (zip_with/aggregate — no Python, no
    shuffle of the corpus). A single-split corpus scan is spread to the
    session parallelism (the scoring folds are interpreted
    ArrayAggregate expressions — per-core time dominates)."""
    from mbrngq_spark.config import spread_small_input

    return _cosine_topk(spread_small_input(corpus),
                        _query_side(queries, q_id_col, vec_col), k, None,
                        id_col, vec_col, q_id_col)


# --- hyperplane LSH ------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _bucket_col(vec: Column, planes: np.ndarray) -> Column:
    """Random-hyperplane sign bucket, computed JVM-side: bit b set iff
    Σ vec_i·plane[b,i] > 0 (plane rows inlined as literal arrays).

    Capped at 16 planes: each plane adds a nested fold expression, and
    big nested HOF trees hit a multi-minute one-time codegen/JIT cliff
    (see CLAUDE.md). Wider sketches belong in the banded NumPy pandas-UDF
    kernel (embedding_near_duplicates / _band_signs), which computes all
    planes in one matmul."""
    if planes.shape[0] > 16:
        raise ValueError(
            f"n_planes={planes.shape[0]} > 16 would build a codegen-cliff "
            "expression tree; use the banded NumPy kernel "
            "(embedding_near_duplicates) for wide sketches")
    out = F.lit(0).cast("long")
    for b in range(planes.shape[0]):
        lits = F.array(*[F.lit(float(v)) for v in planes[b]])
        d = F.aggregate(F.zip_with(vec, lits,
                                   lambda x, p: x.cast("double") * p),
                        F.lit(0.0), lambda acc, v: acc + v)
        bit = F.when(d > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        out = out.bitwiseOR(F.shiftleft(bit, b))
    return out


def _lsh_queries(queries: DataFrame, planes: np.ndarray, probe_radius: int,
                 q_id_col: str, vec_col: str) -> DataFrame:
    """LSH query side: one row per bucket within hamming ``probe_radius``
    of the query's own (multiprobe — every XOR mask of ≤ radius bits).
    The sign bucket is its own column, so the fold tree is evaluated once
    per query, not once per mask."""
    masks = [sum(1 << b for b in bits)
             for r in range(probe_radius + 1)
             for bits in itertools.combinations(range(planes.shape[0]), r)]
    qb = queries.withColumn("__q_bucket",
                            _bucket_col(F.col(vec_col), planes))
    return _query_side(qb, q_id_col, vec_col, "bucket", F.array(
        *[F.col("__q_bucket").bitwiseXOR(F.lit(m)) for m in masks]))


def cosine_topk_lsh(corpus: DataFrame, queries: DataFrame, k: int,
                    dim: int, n_planes: int = 8, probe_radius: int = 2,
                    seed: int = 42,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    q_id_col: str = "q_id") -> DataFrame:
    """Approximate top-k: candidates = corpus rows whose hyperplane bucket is
    within hamming ``probe_radius`` of the query's bucket (multiprobe),
    exact-scored. Recall/cost dial: for neighbors at angle θ each plane
    splits the pair w.p. θ/π, so bucket hamming ~ Binomial(n_planes, θ/π) —
    radius 2 at 8 planes covers ~90% of cos≈0.9 neighbors while probing
    37/256 buckets.

    At 100 TB the corpus is written bucketed/partitioned by this key, so a
    probe is partition pruning, not a scan (build_lsh_index)."""
    planes = _hyperplanes(dim, n_planes, seed)
    c = corpus.withColumn("bucket", _bucket_col(F.col(vec_col), planes))
    return _cosine_topk(c, _lsh_queries(queries, planes, probe_radius,
                                        q_id_col, vec_col),
                        k, "bucket", id_col, vec_col, q_id_col)


def build_lsh_index(corpus: DataFrame, path: str, dim: int,
                    n_planes: int = 8, seed: int = 42,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Persist the hyperplane-LSH structure (the bucket half of the
    verdict's 'IVF lists / LSH buckets' artifact pair): the corpus with
    its sign bucket, written partitionBy('bucket') (≤ 2^n_planes
    directories), plus a 1-row meta table carrying (dim, n_planes,
    seed) so the probe derives the IDENTICAL hyperplanes. A probe's
    multiprobe mask set becomes a static ``bucket IN`` partition
    filter."""
    spark = corpus.sparkSession
    planes = _hyperplanes(dim, n_planes, seed)
    (corpus.withColumn("bucket", _bucket_col(F.col(vec_col), planes))
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(f"{path}/buckets"))
    (spark.createDataFrame([(dim, n_planes, seed)],
                           "dim int, n_planes int, seed int")
     .write.mode("overwrite").parquet(f"{path}/meta"))


def probe_lsh_index(spark: SparkSession, path: str, queries: DataFrame,
                    k: int, probe_radius: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    q_id_col: str = "q_id") -> DataFrame:
    """Query the persisted LSH artifact: rebuild the hyperplanes from
    the meta row, bucket the queries, explode the multiprobe masks, and
    read ONLY the probed bucket partitions (static ``bucket IN`` filter
    — ≤ |masks|·|Q| distinct ids, collapsed to ≤ 2^n_planes). Exact
    scoring + rank; result contract identical to cosine_topk_lsh
    (pytest asserts equality)."""
    meta = spark.read.parquet(f"{path}/meta").first()
    planes = _hyperplanes(int(meta.dim), int(meta.n_planes),
                          int(meta.seed))
    q = _lsh_queries(queries, planes, probe_radius, q_id_col, vec_col)
    return _cosine_topk(_pruned_lists(spark, f"{path}/buckets", q, "bucket"),
                        q, k, "bucket", id_col, vec_col, q_id_col)


# --- pivot IVF -----------------------------------------------------------------

def _neg_cos_rounded(vec: Column, lit_vec: Column) -> Column:
    """round(-cos(vec, lit), 6) — the IVF assignment measure. Rounded BEFORE
    the argmin so pivot assignment is reproducible across engines (6-dp
    cosine via ordered fold matches DuckDB list_dot_product — the proven
    ann_cosine_topk pattern); ties then break on pivot id."""
    return F.round(-(_dot(vec, lit_vec) / (_norm(vec) * _norm(lit_vec))), 6)


def _pivot_structs(vec: Column, pivots: list[tuple[int, list[float]]]) -> Column:
    return F.array(*[
        F.struct(_neg_cos_rounded(vec, F.array(*[F.lit(float(x)) for x in pv]))
                 .alias("negc"),
                 F.lit(int(pid)).cast("long").alias("pid"))
        for pid, pv in pivots])


def _pivots(corpus: DataFrame, nlist: int,
            given: list[tuple[int, list[float]]] | None,
            id_col: str, vec_col: str) -> list[tuple[int, list[float]]]:
    """``given`` (trained centroids), else the ``nlist`` lowest-id corpus
    vectors — deterministic and data-resident, so the oracle replays the
    assignment."""
    return given or [(r[0], list(r[1])) for r in
                     corpus.select(id_col, vec_col).orderBy(id_col)
                     .limit(nlist).collect()]


def _assign_pivot(df: DataFrame, pivots: list[tuple[int, list[float]]],
                  vec_col: str) -> DataFrame:
    """Each vector joins the inverted list of its max-cosine pivot."""
    return df.withColumn(
        "pivot", F.array_min(_pivot_structs(F.col(vec_col), pivots))["pid"])


def _ivf_queries(queries: DataFrame, pivots: list[tuple[int, list[float]]],
                 nprobe: int, q_id_col: str, vec_col: str) -> DataFrame:
    """IVF query side: one row per query and each of its ``nprobe``
    nearest lists (lowest (rounded -cos, pid) first)."""
    nearest = F.transform(
        F.slice(F.array_sort(_pivot_structs(F.col(vec_col), pivots)),
                1, nprobe),
        lambda s: s["pid"])
    return _query_side(queries, q_id_col, vec_col, "pivot", nearest)


def _write_pivots(spark: SparkSession, pivots: list[tuple[int, list[float]]],
                  path: str) -> None:
    (spark.createDataFrame(
        pd.DataFrame({"pid": [p for p, _ in pivots],
                      "pvec": [v for _, v in pivots]}),
        "pid long, pvec array<double>")
     .write.mode("overwrite").parquet(f"{path}/pivots"))


def _read_pivots(spark: SparkSession,
                 path: str) -> list[tuple[int, list[float]]]:
    return [(int(r.pid), list(r.pvec)) for r in
            spark.read.parquet(f"{path}/pivots").collect()]


def ivf_train_kmeans(corpus: DataFrame, nlist: int = 16, iters: int = 8,
                     sample: int = 20_000, seed: int = 42,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Spherical k-means centroids for IVF list balance (the optional
    refinement over raw pivot-IVF): a bounded deterministic hash-sample is
    pulled to the driver (ORDER BY xxhash64(id) LIMIT sample — at any
    corpus size the driver sees ≤ sample rows) and Lloyd-iterated in NumPy
    on L2-normalized vectors. Returns (centroid_id, vector) pairs in the
    shape cosine_topk_ivf expects. Centroids are DERIVED data — the gate
    oracle keeps using data-resident pivots; k-means quality is
    pytest-tracked (recall + list balance)."""
    rows = (corpus.select(vec_col)
            .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
            .limit(sample).collect())
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(nlist, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)            # spherical E-step
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                v = members.sum(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return [(c, cent[c].tolist()) for c in range(len(cent))]


def cosine_topk_ivf(corpus: DataFrame, queries: DataFrame, k: int,
                    nlist: int = 16, nprobe: int = 4,
                    centroids: list[tuple[int, list[float]]] | None = None,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    q_id_col: str = "q_id") -> DataFrame:
    """IVF (inverted-file) ANN: the third tier next to the exact baseline
    and hyperplane LSH.

    - pivots   = the ``nlist`` lowest-id corpus vectors (deterministic,
                 data-resident — a k-means refinement would improve list
                 balance but makes the assignment untestable cross-engine;
                 pivot IVF keeps the exact inverted-list structure).
    - assign   = each corpus vector joins the inverted list of its max-cosine
                 pivot (spherical-IVF measure; 6-dp rounding + pivot-id ties
                 make the argmin deterministic in both engines).
    - probe    = each query scans only its ``nprobe`` nearest lists;
                 candidates get exact cosine + window top-k.

    At 100 TB the corpus is written partitioned by ``pivot`` (the inverted
    lists), so a probe is partition pruning — same scale story as the LSH
    bucket table, but with data-adaptive regions instead of fixed
    hyperplanes. Pass ``centroids`` (e.g. from ivf_train_kmeans) to swap
    the default data-resident pivots for trained list centers."""
    pivots = _pivots(corpus, nlist, centroids, id_col, vec_col)
    return _cosine_topk(_assign_pivot(corpus, pivots, vec_col),
                        _ivf_queries(queries, pivots, nprobe, q_id_col,
                                     vec_col),
                        k, "pivot", id_col, vec_col, q_id_col)


def build_ivf_index(corpus: DataFrame, path: str, nlist: int = 16,
                    centroids: list[tuple[int, list[float]]] | None = None,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Persist the IVF structure as an on-disk artifact (r4 verdict item
    6 — the bucketed-BM25-postings discipline extended to ANN):

    - ``{path}/lists``  — the corpus WITH its pivot assignment, written
      ``partitionBy("pivot")``: each inverted list is a physical
      partition directory, so a probe job's pivot filter is PARTITION
      PRUNING at the scan (PartitionFilters in the plan), not a corpus
      scan + filter.
    - ``{path}/pivots`` — the (pid, vector) table the probe side needs
      to rank lists (nlist rows — metadata scale).

    Build cost: one corpus-wide map (assignment) + one partitioned
    write; no shuffle beyond the writer's own file distribution."""
    pivots = _pivots(corpus, nlist, centroids, id_col, vec_col)
    (_assign_pivot(corpus, pivots, vec_col)
     .write.mode("overwrite").partitionBy("pivot")
     .parquet(f"{path}/lists"))
    _write_pivots(corpus.sparkSession, pivots, path)


def probe_ivf_index(spark: SparkSession, path: str, queries: DataFrame,
                    k: int, nprobe: int = 4, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    q_id_col: str = "q_id") -> DataFrame:
    """Query the persisted IVF artifact: rank the (nlist-row) pivots
    table per query, take ``nprobe`` lists, and read ONLY those
    partitions of ``{path}/lists`` (``_pruned_lists``: a static ``pivot
    IN`` partition filter, so the scan touches nprobe/nlist of the data
    by construction). Exact scoring + window top-k finish; result
    contract identical to cosine_topk_ivf over the same pivots (pytest
    asserts equality)."""
    q = _ivf_queries(queries, _read_pivots(spark, path), nprobe, q_id_col,
                     vec_col)
    return _cosine_topk(_pruned_lists(spark, f"{path}/lists", q, "pivot"),
                        q, k, "pivot", id_col, vec_col, q_id_col)


def build_ivf_snapshot(corpus: DataFrame, path: str, nlist: int = 16,
                       centroids: list[tuple[int, list[float]]]
                       | None = None,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding"):
    """The IVF artifact on the engine's own TABLE layer: inverted lists
    written as a SnapshotTable clustered by ``pivot`` (range+sort write →
    tight per-file min/max bounds), pivots in a sibling table. The probe
    reads with ``where=("pivot", "in", probed)`` so manifest-stat file
    skipping plays the partition-pruning role — and the artifact gains
    the whole snapshot feature set for free: atomic commits, time travel,
    CoW delete of vectors, compaction. Returns (lists_table,
    pivots_used)."""
    spark = corpus.sparkSession
    pivots = _pivots(corpus, nlist, centroids, id_col, vec_col)
    t = SnapshotTable(spark, f"{path}/lists_t")
    t.create(_assign_pivot(corpus, pivots, vec_col),
             cluster_by="pivot", target_files=max(8, len(pivots)))
    _write_pivots(spark, pivots, path)
    return t, pivots


def probe_ivf_snapshot(spark: SparkSession, path: str, queries: DataFrame,
                       k: int, nprobe: int = 4, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       q_id_col: str = "q_id"
                       ) -> tuple[DataFrame, SnapshotTable]:
    """Probe the snapshot-backed IVF artifact: manifest-stat file
    skipping via the pushed ``pivot IN`` predicate, then the same
    broadcast-join + rank as probe_ivf_index.

    Returns ``(top-k rows, lists table)``. The second element is the
    probed ``SnapshotTable``, returned so a caller can read its
    ``last_scan`` ({files, skipped}: how many list files the predicate
    skipped)."""
    q = _ivf_queries(queries, _read_pivots(spark, path), nprobe, q_id_col,
                     vec_col)
    t = SnapshotTable(spark, f"{path}/lists_t")
    lists = t.read(where=("pivot", "in", _probed_keys(q, "pivot")))
    return _cosine_topk(lists, q, k, "pivot", id_col, vec_col, q_id_col), t


# --- embedding near-duplicates -------------------------------------------------

def _band_buckets_udf(planes: np.ndarray, bands: int):
    """Vectorized Arrow UDF: embedding → array<long> of per-band hyperplane
    sign buckets (band b uses plane rows [b·P, (b+1)·P)). One NumPy matmul
    per Arrow batch — NOT per-plane JVM fold expressions: at 64 planes a
    nested zip_with/aggregate tree would hit the codegen/JIT cliff the
    MinHash rewrite documented (dedup.minhash_mix_udf)."""
    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2

    P = planes.shape[0] // bands
    weights = (1 << np.arange(P, dtype=np.uint64))

    @F2.pandas_udf(T2.ArrayType(T2.LongType()))
    def bb(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        x = np.stack([np.asarray(e, dtype=np.float64) for e in v])
        signs = (x @ planes.T) > 0                      # (n, bands·P)
        b = (signs.reshape(len(x), bands, P).astype(np.uint64)
             * weights).sum(axis=2).astype(np.int64)    # (n, bands)
        return pd.Series(list(b))

    return bb


def embedding_near_dups(corpus: DataFrame, threshold: float, dim: int,
                        bands: int = 4, planes_per_band: int = 16,
                        seed: int = 42, max_bucket: int = 1000,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: BANDED hyperplane LSH (B
    independent plane sets) + degenerate-bucket cap + exact cosine verify
    ≥ threshold. Returns (id_a, id_b, cos).

    Why banded: one flat set of p planes has only 2^p buckets — at corpus
    scale every bucket holds n/2^p rows and the self-join goes quadratic
    inside each. More planes per band shrink buckets exponentially
    (collision p = (1-θ/π)^P per band) while B bands recover recall
    (1-(1-(1-θ/π)^P)^B ≈ 0.93 at cos 0.99 for B=4, P=16 — and exactly 1
    for identical vectors, the near-dup regime). ``max_bucket`` then drops
    the buckets data skew still degenerates (e.g. a constant embedding from
    an empty-document encoder): the candidates come from the same capped
    ``dedup.band_pairs`` join as MinHash and SimHash, so capped families
    are exact-dedup territory here too."""
    planes = _hyperplanes(dim, bands * planes_per_band, seed)
    c = (corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
         .withColumn("bb", _band_buckets_udf(planes, bands)(F.col("v"))))
    pairs = band_pairs(
        c.select("id", "v", F.posexplode("bb").alias("band", "bucket")),
        max_bucket, "v")
    cos = _dot(F.col("v_a"), F.col("v_b")) / \
        (_norm(F.col("v_a")) * _norm(F.col("v_b")))
    return (pairs
            .withColumn("cos", F.round(cos, 6))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos"))


# --- product quantization (PQ): integer-exact compressed ANN ------------------
#
# IVF prunes which LISTS a probe reads; PQ shrinks what a scan RESIDES
# in: each vector becomes M one-byte codes (64 floats → 8 codes here,
# 32× smaller), and query-time distance is an M-term table lookup over
# the codes — the corpus's raw vectors never leave disk (Jegou et al.,
# "Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
# FAISS IVF-PQ scan shape). At 100 TB the ADC scan touches only the
# code table; combined with the persisted IVF artifact the probe reads
# a few pruned partitions OF CODES.
#
# Cross-engine exactness trick: all PQ arithmetic runs on MICRO-UNIT
# int64 embeddings — each float component is quantized ONCE, in-engine,
# as CAST(round(x * 1e6) AS BIGINT) (HALF_UP in both Spark and DuckDB;
# the float→double widening of the parquet value is exact in both).
# Every distance is then a sum of integer squares bounded by
# dim · (1.1e6)² ≈ 7e13 < 2^53, so NumPy int64, Spark longs and DuckDB
# DOUBLEs all produce the IDENTICAL number — ranking needs no rounding
# discipline at all, only the (adist, vec_id) tiebreak.
#
# The codebook is PIVOT-PQ (the `ann_ivf_topk` oracle discipline): the
# C lowest-id rows' subvectors are the codewords, so DuckDB can replay
# training relationally. A k-means codebook would drop reconstruction
# error but puts float iteration inside the oracle; the pivot variant
# keeps the whole chain value-checkable.

PQ_SCALE = 1_000_000
PQ_M = 8                        # subspaces (dim 64 → dsub 8)
PQ_C = 16                       # codewords per subspace


def quantized_vec(vec: Column) -> Column:
    """array<float> → micro-unit array<long> (the ONE quantization)."""
    return F.transform(vec.cast("array<double>"),
                       lambda x: F.round(x * PQ_SCALE).cast("long"))


def pq_codebook_pivots(corpus: DataFrame, m: int = PQ_M,
                       n_codes: int = PQ_C, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> np.ndarray:
    """(m, n_codes, dsub) int64 codebook from the ``n_codes`` lowest-id
    rows (quantized IN Spark so the HALF_UP rounding happens exactly
    once, engine-side)."""
    rows = (corpus.select(F.col(id_col).alias("pid"),
                          quantized_vec(F.col(vec_col)).alias("qv"))
            .orderBy("pid").limit(n_codes).collect())
    mat = np.array([r["qv"] for r in rows], dtype=np.int64)
    dim = mat.shape[1]
    assert dim % m == 0, (dim, m)
    return mat.reshape(n_codes, m, dim // m).transpose(1, 0, 2).copy()


def pq_encode(corpus: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes array<long>) — one map-only Arrow pass, no shuffle:
    per subspace, the argmin-distance codeword (ties → lowest code id,
    which is NumPy argmin's first-occurrence rule)."""
    return _pq_codes(corpus, codebooks, id_col, vec_col)


def _pq_codes(df: DataFrame, cb: np.ndarray, id_col: str, vec_col: str,
              carry: tuple[str, ...] = ()) -> DataFrame:
    """pq_encode, passing the long columns ``carry`` through unchanged
    (the IVF-PQ lists keep each row's pivot without a join back)."""
    m, _, dsub = cb.shape
    qdf = df.select(F.col(id_col).alias("id"),
                    quantized_vec(F.col(vec_col)).alias("qv"), *carry)

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["qv"].tolist(),
                         dtype=np.int64).reshape(len(pdf), m, dsub)
            d = ((X[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(-1)
            yield pdf.drop(columns="qv").assign(
                codes=list(d.argmin(-1).astype(np.int64)))

    schema = ", ".join(["id long", "codes array<long>"]
                       + [f"{c} long" for c in carry])
    return qdf.mapInPandas(enc, schema=schema)


def _pq_luts(queries: DataFrame, cb: np.ndarray, q_id_col: str,
             vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    """(sorted query ids, (Q, m, n_codes) int64 ADC lookup tables), built
    driver-side from the quantized queries (queries are few). Q = 0
    gives a (0, m, n_codes) table."""
    m, _, dsub = cb.shape
    qv = dict(queries.select(F.col(q_id_col),
                             quantized_vec(F.col(vec_col))).collect())
    qids = np.array(sorted(qv), dtype=np.int64)
    x = np.array([qv[q] for q in qids],
                 dtype=np.int64).reshape(len(qids), m, 1, dsub)
    return qids, ((x - cb[None]) ** 2).sum(-1)


def _adc_topk(cand: DataFrame, qids: np.ndarray, luts: np.ndarray,
              k: int, q_col: str | None = None) -> DataFrame:
    """The one ADC score+rank stage: a map-only Arrow LUT gather+sum over
    (id, codes) rows (a slim ndarray closure, never a pandas pickle),
    then row_number over (adist, vec_id) per query — planned as a
    WindowGroupLimit, the only shuffle. Rows carrying their query id in
    ``q_col`` are scored against that query; without it every row is
    scored against every query. Returns (q_id, vec_id, adist, rnk)."""
    jdx = np.arange(luts.shape[1])[None, :]
    qidx = {q: i for i, q in enumerate(qids.tolist())}

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cd = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (B, m)
            if q_col is None:
                ad = luts[:, jdx, cd].sum(-1).reshape(-1)         # (Q·B,)
                qs = np.repeat(qids, len(pdf))
                ids = np.tile(pdf["id"].to_numpy(), len(qids))
            else:
                qi = pdf[q_col].map(qidx).to_numpy()
                ad = luts[qi[:, None], jdx, cd].sum(-1)           # (B,)
                qs, ids = pdf[q_col], pdf["id"]
            yield pd.DataFrame({"q_id": qs, "vec_id": ids, "adist": ad})

    w = Window.partitionBy("q_id").orderBy(F.col("adist").asc(),
                                           F.col("vec_id").asc())
    return (cand.mapInPandas(scan, schema="q_id long, vec_id long, "
                                          "adist long")
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def pq_adc_topk(codes: DataFrame, queries: DataFrame,
                codebooks: np.ndarray, k: int,
                q_id_col: str = "q_id",
                vec_col: str = "embedding") -> DataFrame:
    """(q_id, vec_id, adist, rnk) — asymmetric-distance top-k over the
    CODE table. Per query, an (m × n_codes) int64 lookup table is built
    driver-side from the quantized query; the scan is one map-only Arrow
    gather+sum over codes, followed by the WindowGroupLimit-capped
    rank — the only shuffle, carrying ≤ k rows per map task per query."""
    qids, luts = _pq_luts(queries, codebooks, q_id_col, vec_col)
    return _adc_topk(codes, qids, luts, k)


def pq_adc_sql(table: str = "embeddings", n_queries: int = 4,
               k: int = 10, m: int = PQ_M, n_codes: int = PQ_C,
               dim: int = 64) -> str:
    """DuckDB replay of quantize → pivot codebook → encode → ADC rank.
    Integer-exact end to end: list_zip/list_transform squares stay
    integers; the DOUBLE results of any implicit widening are below 2^53
    so they equal the engine's int64s bit-for-bit."""
    dsub = dim // m
    sq = ("list_sum(list_transform(list_zip({a}, {b}), "
          "p -> (p[1] - p[2]) * (p[1] - p[2])))")
    return f"""
        WITH qe AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                                  x -> CAST(round(x * {PQ_SCALE}.0)
                                            AS BIGINT)) AS qv
            FROM {table}
        ), cb AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv
            FROM (SELECT vec_id, qv FROM qe ORDER BY vec_id
                  LIMIT {n_codes}) t
        ), js AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
        subs AS (
            SELECT vec_id, j,
                   qv[(j * {dsub} + 1):(j * {dsub} + {dsub})] AS sv
            FROM qe, js
        ), csub AS (
            SELECT cid, j,
                   qv[(j * {dsub} + 1):(j * {dsub} + {dsub})] AS cv
            FROM cb, js
        ), dist AS (
            SELECT s.vec_id, s.j, c.cid,
                   CAST({sq.format(a='s.sv', b='c.cv')} AS BIGINT) AS d
            FROM subs s JOIN csub c ON c.j = s.j
        ), codes AS (
            SELECT vec_id, j, cid FROM (
                SELECT vec_id, j, cid,
                       row_number() OVER (PARTITION BY vec_id, j
                                          ORDER BY d, cid) AS rn
                FROM dist) WHERE rn = 1
        ), ldist AS (
            SELECT s.vec_id AS q_id, s.j, c.cid,
                   CAST({sq.format(a='s.sv', b='c.cv')} AS BIGINT) AS d
            FROM subs s JOIN csub c ON c.j = s.j
            WHERE s.vec_id < {n_queries}
        ), adist AS (
            SELECT l.q_id, c.vec_id, CAST(sum(l.d) AS BIGINT) AS adist
            FROM codes c JOIN ldist l ON l.j = c.j AND l.cid = c.cid
            GROUP BY 1, 2
        )
        SELECT q_id, vec_id, adist, rnk FROM (
            SELECT q_id, vec_id, adist,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY adist, vec_id) AS rnk
            FROM adist) WHERE rnk <= {k}
    """


def pq_codebook_kmeans(corpus: DataFrame, m: int = PQ_M,
                       n_codes: int = PQ_C, iters: int = 10,
                       sample: int = 20_000, seed: int = 42,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> np.ndarray:
    """Per-subspace Lloyd k-means codebook (the quality refinement over
    raw pivot-PQ — FAISS's default training): a bounded deterministic
    hash-sample comes to the driver ALREADY QUANTIZED to micro-units
    (so rounding stays engine-side), k-means runs per subspace in
    NumPy, and the learned centroids are re-quantized to int64 so every
    downstream distance keeps the < 2^53 exactness property. Codebooks
    are DERIVED data — the gate oracle keeps using data-resident pivots;
    k-means quality (recall uplift over pivots) is pytest-tracked."""
    rows = (corpus.select(quantized_vec(F.col(vec_col)).alias("qv"))
            .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
            .limit(sample).collect())
    x = np.array([r["qv"] for r in rows], dtype=np.float64)
    dim = x.shape[1]
    assert dim % m == 0, (dim, m)
    dsub = dim // m
    xs = x.reshape(len(x), m, dsub)
    rng = np.random.default_rng(seed)
    out = np.empty((m, n_codes, dsub), dtype=np.int64)
    for j in range(m):
        pts = xs[:, j, :]
        cent = pts[rng.choice(len(pts), size=min(n_codes, len(pts)),
                              replace=False)].copy()
        for _ in range(iters):
            d = ((pts[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d.argmin(1)
            for c in range(len(cent)):
                members = pts[assign == c]
                if len(members):
                    cent[c] = members.mean(0)
        out[j] = np.rint(cent).astype(np.int64)
    return out


# --- IVF-PQ: partition-pruned ADC over a code-only artifact -------------------

def _ivfpq_lists(df: DataFrame, pivots: list[tuple[int, list[float]]],
                 cb: np.ndarray, id_col: str, vec_col: str) -> DataFrame:
    """(id, codes, pivot): the IVF-PQ inverted-list rows of ``df``."""
    return _pq_codes(_assign_pivot(df, pivots, vec_col), cb, id_col,
                     vec_col, carry=("pivot",))


def _read_codebook(spark: SparkSession, path: str) -> np.ndarray:
    cbr = spark.read.parquet(f"{path}/codebook").collect()
    m = 1 + max(r["j"] for r in cbr)
    n_codes = 1 + max(r["cid"] for r in cbr)
    cb = np.zeros((m, n_codes, len(cbr[0]["cvec"])), dtype=np.int64)
    for r in cbr:
        cb[r["j"], r["cid"]] = r["cvec"]
    return cb


def build_ivfpq_index(corpus: DataFrame, path: str, nlist: int = 16,
                      codebooks: np.ndarray | None = None,
                      pivots: list[tuple[int, list[float]]] | None = None,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> None:
    """The FAISS IVF-PQ shape, persisted (the 100 TB ANN artifact): the
    inverted lists store ONLY (id, codes) — 8 bytes of PQ payload per
    vector instead of the raw embedding — partitioned by pivot, so a
    probe is partition pruning over a table 32× smaller than the
    ``build_ivf_index`` one. Raw vectors never enter the artifact; the
    probe never touches the corpus.

    - ``{path}/lists``    — (id, codes) partitionBy("pivot")
    - ``{path}/pivots``   — (pid, pvec) list-ranking table (nlist rows)
    - ``{path}/codebook`` — (j, cid, cvec) int64 codewords (m·n_codes
      rows — metadata scale), so a probe job reconstructs the exact
      LUTs with no retraining."""
    spark = corpus.sparkSession
    cb = codebooks if codebooks is not None else pq_codebook_pivots(
        corpus, id_col=id_col, vec_col=vec_col)
    m, n_codes, dsub = cb.shape
    pivots = _pivots(corpus, nlist, pivots, id_col, vec_col)
    _ivfpq_lists(corpus, pivots, cb, id_col, vec_col) \
        .write.mode("overwrite").partitionBy("pivot") \
        .parquet(f"{path}/lists")
    _write_pivots(spark, pivots, path)
    (spark.createDataFrame(
        pd.DataFrame([(j, c, cb[j][c].tolist())
                      for j in range(m) for c in range(n_codes)],
                     columns=["j", "cid", "cvec"]),
        "j long, cid long, cvec array<long>")
     .write.mode("overwrite").parquet(f"{path}/codebook"))


def probe_ivfpq_index(spark: SparkSession, path: str, queries: DataFrame,
                      k: int, nprobe: int = 4, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      q_id_col: str = "q_id") -> DataFrame:
    """Probe the IVF-PQ artifact: rank pivots per query (nlist rows),
    STATIC ``pivot IN`` partition pruning over the code lists, then one
    map-only Arrow ADC pass per (query, candidate) — integer-exact, so
    the result equals a driver-side NumPy replay bit-for-bit (pytest).
    The scan reads nprobe/nlist of a code table 32× smaller than the
    raw corpus; the only shuffle is the WindowGroupLimit-capped rank."""
    qids, luts = _pq_luts(queries, _read_codebook(spark, path), q_id_col,
                          vec_col)
    q = _ivf_queries(queries, _read_pivots(spark, path), nprobe, q_id_col,
                     vec_col)
    cand = _pruned_lists(spark, f"{path}/lists", q, "pivot").join(
        F.broadcast(q.select(F.col(q_id_col).alias("qid"), "pivot")),
        "pivot")
    return (_adc_topk(cand.select("qid", "id", "codes"), qids, luts, k,
                      q_col="qid")
            .select(F.col("q_id").alias(q_id_col),
                    F.col("vec_id").alias(id_col), "adist", "rnk"))


def append_ivfpq_index(delta: DataFrame, path: str,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> None:
    """Incremental maintenance of the IVF-PQ artifact (the I1-append
    analog for the similarity tier): new vectors are assigned and
    encoded with the artifact's PERSISTED pivots and codebook — never
    retrained, so probes over (base build + appends) equal a from-
    scratch build over the union (pytest) — and appended into the
    pivot-partitioned lists. One map-only pass over the delta; existing
    list files are untouched (parquet append into partition dirs)."""
    spark = delta.sparkSession
    _ivfpq_lists(delta, _read_pivots(spark, path),
                 _read_codebook(spark, path), id_col, vec_col) \
        .write.mode("append").partitionBy("pivot") \
        .parquet(f"{path}/lists")
