"""Deduplication operators for the training-data pipeline.

Four tiers, all shuffle-disciplined:

- exact          — hash-groupBy on the normalized text (one shuffle on a
                   64/128-bit digest, never on the raw text bytes).
- MinHash + LSH  — word-shingle → H minhashes → B bands → bucket equi-join.
                   Shingles are hashed once JVM-side (xxhash64), the H
                   families are one NumPy affine pass in an Arrow UDF
                   (map-only); the only shuffles are the band-bucket
                   self-join and the final verify.
- SimHash        — 64-bit sign-of-sum sketch over token hashes (NumPy
                   Arrow UDF); near-dups = small hamming distance,
                   candidates via h+1 sketch chunks (pigeonhole).
- n-gram Jaccard — exact similarity used to VERIFY candidate pairs (explode
                   shingles → count intersection / union). Only runs on LSH
                   survivors, so the quadratic blowup never touches the full
                   corpus.

Scale: the corpus is only ever shuffled by digest/bucket keys; candidate
pairs are a tiny fraction of n². Banding parameters (H, B) trade recall vs
candidate volume the standard MinHash-LSH way. Every LSH detector — MinHash,
SimHash, their md5 twins and the embedding LSH in similarity.py — differs
only in its sketch: the capped (band, bucket) self-join after it is
``band_pairs``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SHINGLE_N = 3  # word-shingle width

_M64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mixer (public splitmix64 constants) — seeds the
    per-family affine parameters without any runtime randomness."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def _family_params(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) uint64 arrays: family i maps h ↦ a[i]*h + b[i] (mod 2^64),
    a[i] odd so the map is a bijection on Z_2^64."""
    a = np.array([_splitmix64(2 * i + 1) | 1 for i in range(num_hashes)],
                 dtype=np.uint64)
    b = np.array([_splitmix64(2 * i + 2) for i in range(num_hashes)],
                 dtype=np.uint64)
    return a, b


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per distinct text, keeper = min id.

    Returns (text_md5, keeper_id, dup_count)."""
    return (docs
            .withColumn("text_md5", F.md5(F.col(text_col)))
            .groupBy("text_md5")
            .agg(F.min(id_col).alias("keeper_id"),
                 F.count("*").alias("dup_count")))


def shingles_col(text: Column, n: int = SHINGLE_N) -> Column:
    """Distinct word n-gram shingles, built JVM-side.

    NOTE (round 7): binding the token array to a lambda variable before
    the per-shingle loop avoids re-evaluating the split per ELEMENT and
    measured 2.7× faster on a 50 k-doc verify corpus — but the deeper
    HOF nesting inside a pandas-UDF argument intermittently broke
    Spark's Python-UDF extraction ([INTERNAL_ERROR] Cannot evaluate
    PythonUDF in an interpreted projection) in multi-gate sessions, so
    the flat form is kept; see OPTIMIZATION_r07.md "Not yet
    optimized"."""
    toks = F.split(text, " ")
    k = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    sh = F.transform(F.sequence(F.lit(1), k),
                     lambda j: F.concat_ws(" ", F.slice(toks, j, n)))
    return F.array_distinct(sh)


def shingle_hashes_col(text: Column, n: int = SHINGLE_N) -> Column:
    """Each distinct shingle hashed ONCE to int64 JVM-side (xxhash64).
    Downstream per-family work then touches only longs, never strings."""
    return F.transform(shingles_col(text, n), lambda s: F.xxhash64(s))


def _ragged(h: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A non-empty batch of array<long> cells flattened for ``reduceat``:
    (flat uint64 values, row offsets, raw row lengths). An empty row
    contributes one 0 so no reduceat segment is empty; its raw length
    stays 0."""
    arrs = [np.asarray(x, dtype=np.int64).view(np.uint64) for x in h]
    lengths = np.fromiter((len(x) for x in arrs), dtype=np.int64,
                          count=len(arrs))
    if (lengths == 0).any():
        arrs = [x if len(x) else np.zeros(1, dtype=np.uint64) for x in arrs]
    offsets = np.zeros(len(arrs), dtype=np.int64)
    np.cumsum(np.maximum(lengths, 1)[:-1], out=offsets[1:])
    return np.concatenate(arrs), offsets, lengths


def minhash_mix_udf(num_hashes: int = 16):
    """Vectorized Arrow UDF: array<long> shingle hashes → array<long>[H]
    MinHash signature, sig[i] = min over shingles of a[i]*h+b[i] (mod 2^64).

    Why not pure Column expressions: the r1 formulation (H nested
    array_min∘transform HOFs) JIT-compiled for ~250 s per fresh JVM and
    re-hashed every shingle STRING H times (Catalyst CollapseProject inlines
    the shingle build into each family lambda). Here strings are hashed once
    JVM-side (shingle_hashes_col) and the H families are one flat NumPy
    affine pass over the Arrow batch — map-only, no shuffle, no codegen
    cliff. Affine-over-xxhash64 is the standard multiply-shift MinHash
    family; collisions only affect candidate recall, and survivors are
    exact-Jaccard verified anyway."""
    a, b = _family_params(num_hashes)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def mix(h: pd.Series) -> pd.Series:
        if len(h) == 0:
            return pd.Series([], dtype=object)
        # shingles_col guarantees ≥1 shingle/row; _ragged guards regardless
        flat, offsets, _ = _ragged(h)
        sigs = np.empty((len(h), num_hashes), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for i in range(num_hashes):
                sigs[:, i] = np.minimum.reduceat(a[i] * flat + b[i], offsets)
        out = sigs.view(np.int64)
        return pd.Series(list(out))

    return mix


def minhash_signatures(docs: DataFrame, num_hashes: int = 16,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, sig: array<long>[H]). Two map-only stages: JVM xxhash64 per
    distinct shingle (once), then NumPy affine family mixing over Arrow
    batches — see minhash_mix_udf for why this shape."""
    return docs.select(
        id_col,
        minhash_mix_udf(num_hashes)(
            shingle_hashes_col(F.col(text_col))).alias("sig"))


def lsh_candidate_pairs(sigs: DataFrame, num_hashes: int = 16, bands: int = 4,
                        id_col: str = "doc_id",
                        max_bucket: int = 1000) -> DataFrame:
    """Band the signature array and join on the band buckets
    (``band_pairs``): distinct (id_a, id_b) pairs, id_a < id_b, sharing a
    bucket of at most ``max_bucket`` rows. Caller should persist ``sigs``
    (the bucket count and both join sides re-read it)."""
    rows = num_hashes // bands
    band_hashes = F.array(*[
        F.xxhash64(F.slice(F.col("sig"), b * rows + 1, rows), F.lit(b))
        for b in range(bands)])
    # ONE pass over the signatures: explode bands → (band, bucket) keys →
    # one capped self-join (instead of a per-band loop of join pipelines —
    # bands× fewer shuffles and jobs)
    return band_pairs(
        sigs.select(F.col(id_col).alias("id"),
                    F.posexplode(band_hashes).alias("band", "bucket")),
        max_bucket)


def band_pairs(keyed: DataFrame, max_bucket: int, *payload: str) -> DataFrame:
    """The candidate stage of every LSH near-duplicate detector, lazy:
    ``keyed`` rows (id, band, bucket, *payload) → distinct pairs
    (id_a, id_b, <p>_a…, <p>_b…) with id_a < id_b that share a
    (band, bucket) key.

    A bucket with more than ``max_bucket`` rows is dropped (boilerplate
    or empty-text clusters whose quadratic pair blowup would dominate at
    corpus scale — the standard production-dedup guard; dropped buckets
    are near-identical families better handled by exact dedup first).
    The filter broadcasts the OVERFULL keys (≤ rows/max_bucket of them —
    kB-scale at any corpus size) and anti-joins them, instead of
    broadcasting the kept keys, whose count grows with the corpus and
    would breach the broadcast cap at scale. ``keyed`` is read three
    times (the bucket count and both join sides): a caller whose keys are
    expensive persists it."""
    overfull = (keyed.groupBy("band", "bucket").count()
                .filter(F.col("count") > max_bucket)
                .select("band", "bucket"))
    kept = keyed.join(F.broadcast(overfull), ["band", "bucket"], "left_anti")
    other = kept.select(F.col("id").alias("id_b"),
                        *[F.col(p).alias(f"{p}_b") for p in payload],
                        "band", "bucket")
    return (kept.join(other, ["band", "bucket"])
            .filter(F.col("id") < F.col("id_b"))
            .select(F.col("id").alias("id_a"), "id_b",
                    *[F.col(p).alias(f"{p}_a") for p in payload],
                    *[f"{p}_b" for p in payload])
            .distinct())


def lsh_candidates_md5(docs: DataFrame, num_hashes: int = 16, bands: int = 4,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Cross-engine-checkable MinHash-LSH candidate pairs.

    Hash family i of shingle s = substr(md5(i || chr(1) || s), 1, 15): md5
    hex is identical in Spark and DuckDB and fixed-width lowercase, so the
    lexicographic MIN is the family minimum in both engines; the band bucket
    is the '|'-join of the band's family minima in family order. Candidates
    are therefore bit-reproducible in ANSI SQL — this is the DuckDB twin of
    the production xxhash64 path (same banding, the same ``band_pairs``
    join with the production bucket cap of 1000, hash family swapped),
    giving the LSH candidate STAGE itself an oracle (the production entry
    oracles only the verified output).

    Shape: explode shingles → flat 16-way md5 projection (plain codegen'd
    expressions — no nested HOF tree, see minhash_mix_udf) → two keyed aggs
    → ``band_pairs``. The two aggregations shuffle by (id) — acceptable for
    a verification-tier operator; the production path is map-only."""
    rows = num_hashes // bands
    sh = docs.select(F.col(id_col).alias("id"),
                     F.explode(shingles_col(F.col(text_col))).alias("s"))
    fams = F.array(*[
        F.substring(F.md5(F.concat(F.lit(f"{i}\x01"), F.col("s"))), 1, 15)
        for i in range(num_hashes)])
    sig = (sh.select("id", F.posexplode(fams).alias("fam", "v"))
           .groupBy("id", "fam").agg(F.min("v").alias("mv")))
    band = (sig.withColumn("band", F.expr(f"fam div {rows}").cast("int"))
            .groupBy("id", "band")
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("fam", "mv"))),
                            lambda st: st["mv"]), "|").alias("bucket")))
    return band_pairs(band, 1000)


def jaccard_pairs(docs: DataFrame, pairs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  shingle_side: str = "pairs") -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification stage).
    Returns (id_a, id_b, jaccard).

    ``shingle_side`` picks where the (expensive) shingle construction runs:
    - 'pairs' (default): texts join to the pair list FIRST and shingles are
      built per surviving pair row — O(pairs) shingle builds. Right when
      candidates are a sliver of n (the LSH production case; Catalyst will
      not hoist an expensive projection below a join by itself).
    - 'docs': shingles are built once per doc BEFORE the join — O(docs)
      builds, reused across pairs. Right for dense pair sets (all-pairs
      verification), where pairs ≫ docs."""
    def jaccard_expr(sh_a: Column, sh_b: Column,
                     n_a: Column | None = None,
                     n_b: Column | None = None) -> Column:
        # ONE nested higher-order expression: the shingle arrays and the
        # intersection size are bound to lambda variables so each is
        # evaluated exactly once per row — written as separate derived
        # columns, Catalyst's CollapseProject duplicated array_intersect
        # (2×) and the shingle split chain (4×) per pair row, the
        # dominant cost of a dup-heavy verify stage (see CLAUDE.md)
        pair = F.array(F.struct(sh_a.alias("a"), sh_b.alias("b")))

        def with_pair(s):
            na = F.size(s["a"]) if n_a is None else n_a
            nb = F.size(s["b"]) if n_b is None else n_b
            return F.transform(
                F.array(F.size(F.array_intersect(s["a"], s["b"]))),
                lambda i: i.cast("double") / (na + nb - i).cast("double"))[0]

        return F.transform(pair, with_pair)[0]

    if shingle_side == "docs":
        sh = docs.select(F.col(id_col).alias("id"),
                         shingles_col(F.col(text_col)).alias("sh")) \
                 .withColumn("n_sh", F.size(F.col("sh")))
        joined = (pairs
                  .join(sh.select(F.col("id").alias("id_a"),
                                  F.col("sh").alias("sh_a"),
                                  F.col("n_sh").alias("n_a")), "id_a")
                  .join(sh.select(F.col("id").alias("id_b"),
                                  F.col("sh").alias("sh_b"),
                                  F.col("n_sh").alias("n_b")), "id_b"))
        jac = jaccard_expr(F.col("sh_a"), F.col("sh_b"),
                           F.col("n_a"), F.col("n_b"))
    else:
        texts = docs.select(F.col(id_col).alias("id"),
                            F.col(text_col).alias("t"))
        joined = (pairs
                  .join(texts.select(F.col("id").alias("id_a"),
                                     F.col("t").alias("t_a")), "id_a")
                  .join(texts.select(F.col("id").alias("id_b"),
                                     F.col("t").alias("t_b")), "id_b"))
        jac = jaccard_expr(shingles_col(F.col("t_a")),
                           shingles_col(F.col("t_b")))
    return (joined
            .withColumn("jaccard", jac)
            .select("id_a", "id_b", "jaccard"))


def near_duplicates_minhash(docs: DataFrame, threshold: float = 0.7,
                            num_hashes: int = 16, bands: int = 4,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: sketch → band join →
    exact-Jaccard verify ≥ threshold. Returns (id_a, id_b, jaccard).

    Signatures are persisted across their three consumers (the
    degenerate-bucket count and both self-join sides); the bucket count
    is BROADCAST, so its build job populates the signature cache before
    the join stages scan it — no separate materialization action is
    needed. The candidate-pair set is consumed exactly once by the
    verify join, so it is not persisted (pinning it cost a full extra
    materialization of the band-join chain per run). A single-file-split
    input is spread across the full parallelism first — sketching is the
    CPU-heavy stage."""
    from mbrngq_spark.config import spread_small_input

    d = spread_small_input(docs)
    sigs = minhash_signatures(d, num_hashes, text_col, id_col).persist()
    try:
        cands = lsh_candidate_pairs(sigs, num_hashes, bands, id_col)
        out = jaccard_pairs(d, cands, text_col, id_col) \
            .filter(F.col("jaccard") >= threshold)
        # pin results before releasing upstream storage
        out = out.localCheckpoint(eager=True)
    finally:
        sigs.unpersist()
    return out


def dedup_pipeline(docs: DataFrame, threshold: float = 0.6,
                   num_hashes: int = 16, bands: int = 4,
                   text_col: str = "text",
                   id_col: str = "doc_id",
                   clustering: str = "greedy") -> DataFrame:
    """The composed production dedup a training pipeline runs: EXACT stage
    first (md5 group, keeper = min id — this is also what makes the LSH
    bucket caps safe: identical-text families collapse to one row before
    any candidate join), then MinHash-LSH near-dup on the exact survivors.
    Returns the KEEP-list (one ``id_col`` row per surviving document).

    Near-dup drop rule (``clustering``):

    - ``"greedy"``: a survivor is dropped iff it is the LARGER id of any
      verified pair — deterministic, one anti-join, zero iterations. On
      template-shaped families whose pairset links every member to the
      family minimum this equals full clustering, but a member that is
      smaller than all ITS neighbors yet not the component minimum
      survives (two keepers in one family).
    - ``"cc"``: TRANSITIVE closure — connected components over the
      verified pair graph (operators/graph.py, alternating star, O(log²)
      rounds), keeper = component-minimum id. One keeper per family, the
      production family-level semantics.
    """
    if clustering not in ("greedy", "cc"):
        raise ValueError(f"unknown clustering: {clustering!r}")
    keepers = exact_duplicates(docs, text_col, id_col) \
        .select(F.col("keeper_id").alias(id_col))
    survivors = docs.join(keepers, id_col, "left_semi")
    pairs = near_duplicates_minhash(survivors, threshold, num_hashes,
                                    bands, text_col, id_col)
    if clustering == "cc":
        from mbrngq_spark.operators.graph import connected_components

        comp = connected_components(pairs, "id_a", "id_b")
        dropped = comp.filter(F.col("id") != F.col("component")) \
            .select(F.col("id").alias(id_col))
    else:
        dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return survivors.select(id_col).join(dropped, id_col, "left_anti")


def simhash_sketch_udf():
    """Vectorized Arrow UDF: array<long> token hashes → 64-bit SimHash.
    Bit b of the sketch is 1 iff more than half the token hashes have bit b
    set (sign of the ±1 contribution sum; tie → 0) — numerically identical
    to the r1 Column formulation, which built 64 separate
    aggregate∘transform folds (O(64·tokens) interpreted lambda evals + a
    giant codegen tree). Here: unpackbits over the flattened batch → one
    add.reduceat per batch → packbits. Map-only."""

    @F.pandas_udf(T.LongType())
    def sketch(h: pd.Series) -> pd.Series:
        if len(h) == 0:
            return pd.Series([], dtype="int64")
        # an empty token list has raw length 0 → all-zero sketch (sum of
        # nothing is 0 → bit 0)
        flat, offsets, lengths = _ragged(h)
        # (flat_len, 64) bit matrix, column b == bit b of the uint64
        bits = np.unpackbits(flat.view(np.uint8).reshape(-1, 8),
                             axis=1, bitorder="little").reshape(-1, 64)
        ones = np.add.reduceat(bits.astype(np.int64), offsets, axis=0)
        keep = (2 * ones) > lengths[:, None]          # sign(2*ones-len) > 0
        packed = np.packbits(keep, axis=1, bitorder="little") \
            .copy().view(np.uint64).ravel().view(np.int64)
        return pd.Series(packed)

    return sketch


def simhash_col(text: Column) -> Column:
    """64-bit SimHash column: JVM-side per-token xxhash64 (once), NumPy
    sign-of-sum sketch over Arrow batches."""
    hashes = F.transform(F.split(text, " "), lambda t: F.xxhash64(t))
    return simhash_sketch_udf()(hashes)


def simhash_chunk_bounds(max_hamming: int) -> list[int]:
    """Bit boundaries of the ``max_hamming + 1`` candidate chunks: a pair
    at hamming ≤ h differs in ≤ h of h+1 disjoint chunks, so it MATCHES on
    at least one (pigeonhole) — the chunk count must scale with the
    threshold or recall silently drops (4 fixed chunks only cover h ≤ 3).
    Shared with the SQL oracle so both engines band identically."""
    n = min(max_hamming + 1, 64)           # ≤ 64 one-bit chunks
    return [round(64 * i / n) for i in range(n + 1)]


def simhash_chunk_keys(sk: DataFrame, max_hamming: int) -> DataFrame:
    """Sketch table (id, sh) → ``band_pairs`` input (id, sh, band,
    bucket): one row per chunk, band = chunk index, bucket = the chunk's
    bits, cut at simhash_chunk_bounds."""
    bounds = simhash_chunk_bounds(max_hamming)

    def chunk(c: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("sh"), bounds[c])
        width = bounds[c + 1] - bounds[c]
        if width >= 64:                    # single whole-sketch chunk
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    chunks = F.array(*[chunk(c) for c in range(len(bounds) - 1)])
    return sk.select("id", "sh",
                     F.posexplode(chunks).alias("band", "bucket"))


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_bucket: int = 1000) -> DataFrame:
    """SimHash near-dup pairs: candidates share one of ``max_hamming + 1``
    sketch chunks (pigeonhole — guaranteed recall at ANY threshold, see
    simhash_chunk_bounds), then exact hamming verify. Returns
    (id_a, id_b, hamming).

    Shape mirrors lsh_candidate_pairs: ONE posexplode pass over the
    sketches (h+1 chunk keys/row, simhash_chunk_keys) into
    ``band_pairs``. ``max_bucket`` is the skew guard: a boilerplate
    cluster — or the all-zero sketch every empty/short text produces —
    lands thousands of rows on one (band, bucket) key, and an unguarded
    self-join goes quadratic on exactly that key at corpus scale (one
    straggler/OOM task). Dropped buckets are near-identical families
    better handled by exact dedup first — same contract as the MinHash
    guard."""
    from mbrngq_spark.config import spread_small_input

    sk = spread_small_input(docs).select(
        F.col(id_col).alias("id"), simhash_col(F.col(text_col)).alias("sh"))
    return _simhash_pairs(sk, max_hamming, max_bucket)


def _simhash_pairs(sk: DataFrame, max_hamming: int,
                   max_bucket: int) -> DataFrame:
    """Chunk-banded candidate join + exact hamming verify over a sketch
    table (id, sh) — shared by the xxhash64 production family and the
    md5 oracle family.

    The keyed sketch table is PERSISTED across its three consumers in
    ``band_pairs`` (the degenerate-bucket count and both sides of the
    self-join) — the sketch UDF + token hashing otherwise re-execute once
    per consumer (measured 3× the sketch cost per run); the small
    verified-pair output is pinned before the persist is released."""
    keyed = simhash_chunk_keys(sk, max_hamming).persist()
    try:
        ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        out = (band_pairs(keyed, max_bucket, "sh")
               .withColumn("hamming", ham)
               .filter(F.col("hamming") <= max_hamming)
               .select("id_a", "id_b", "hamming"))
        # pin results before releasing the persisted sketch
        out = out.localCheckpoint(eager=True)
    finally:
        keyed.unpersist()
    return out


def simhash_md5_col(text: Column) -> Column:
    """Cross-engine-checkable SimHash twin: the per-token hash family is
    the low 60 bits of md5 (15 hex chars via conv-base-16) instead of
    xxhash64, everything else identical — md5 hex is bit-identical in
    Spark and DuckDB, and the oracle can rebuild each sketch bit from the
    hex nibbles (sign of Σ±1 per bit). This is the SimHash sibling of
    lsh_candidates_md5: it gives the sketch+candidate stage itself a
    value-checked oracle at NONZERO hamming, where the production gate's
    identical-text multiset oracle can only see hamming 0. Bits 60..63
    are zero on every token hash, so the sign-of-sum there is the
    deterministic tie→0 on both sides."""
    hashes = F.transform(
        F.split(text, " "),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"))
    return simhash_sketch_udf()(hashes)


def simhash_near_dups_md5(docs: DataFrame, max_hamming: int = 3,
                          text_col: str = "text", id_col: str = "doc_id",
                          max_bucket: int = 1000) -> DataFrame:
    """simhash_near_dups with the md5 oracle family (see simhash_md5_col):
    same banding, caps, and verify — hash family swapped."""
    sk = docs.select(F.col(id_col).alias("id"),
                     simhash_md5_col(F.col(text_col)).alias("sh"))
    return _simhash_pairs(sk, max_hamming, max_bucket)


def contamination_check(docs: DataFrame, eval_docs: DataFrame,
                        n: int = SHINGLE_N * 2,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        bloom_prefilter: bool = False) -> DataFrame:
    """Eval-set decontamination: per training document, how many of its
    distinct word ``n``-grams appear in ANY eval-set document (``n``
    defaults to 6 — wide shingles, the benchmark-leak heuristic) plus
    the ids of up to 3 matched eval docs for audit.

    Scale shape: the eval set (benchmarks — thousands of rows) explodes
    to a distinct (shingle → eval ids) table that is BROADCAST; the
    corpus side is a map-only explode + broadcast join + doc-keyed
    reaggregation — the 100 TB corpus is never shuffled on raw text,
    only the (doc_id, hits) pairs move. Returns (doc_id, n_hits,
    eval_ids) for CONTAMINATED docs only (n_hits > 0); ``eval_ids`` is
    the comma-joined sorted list of up to 3 matched eval-doc ids
    (string, so the cross-engine value hash is format-stable)."""
    ev = (eval_docs
          .select(F.col(id_col).alias("eval_id"),
                  F.explode(shingles_col(F.col(text_col), n)).alias("sh"))
          .groupBy("sh")
          .agg(F.collect_set("eval_id").alias("ev_ids")))
    tr = docs.select(F.col(id_col),
                     F.explode(shingles_col(F.col(text_col), n)).alias("sh"))
    if bloom_prefilter:
        # degrade-gracefully path for when the eval shingle table outgrows
        # a broadcast HASH map: a Bloom bitmap is ~kB regardless of eval
        # size, and its no-false-negative guarantee makes the prefilter
        # lossless — the exact join below removes the false positives, so
        # the result is IDENTICAL (equality pytest). Here it just thins
        # the corpus-side explode before the join.
        from mbrngq_spark.operators.sketch import bf_build, bf_prune_col
        state = (bf_build(ev.withColumn("__k", F.lit("e")), ["__k"], "sh")
                 .collect())
        tr = tr.filter(bf_prune_col(state, F.col("sh")))
    matched_ids = F.slice(
        F.sort_array(F.array_distinct(F.flatten(F.collect_list("ev_ids")))),
        1, 3)
    return (tr.join(F.broadcast(ev), "sh")
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_hits"),
                 F.array_join(F.transform(
                     matched_ids, lambda x: x.cast("string")), ",")
                 .alias("eval_ids")))


# --- substring-level exact dedup (shared verbatim passages) ------------------
#
# The document-level tiers above drop WHOLE near-identical documents; a
# production pipeline also scrubs long VERBATIM passages repeated across
# otherwise-distinct documents (licenses, boilerplate, templated spans) —
# the within-document analog of contamination_check, reusing its shingle
# discipline: positional word n-grams hashed ONCE to int64 JVM-side
# (xxhash64), so everything corpus-sized that moves is (id, pos, long).


def positional_shingles(docs: DataFrame, n: int,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(id, pos, h): xxhash64 of the word n-gram starting at 0-based token
    offset ``pos`` — one row per FULL n-gram (docs shorter than ``n``
    tokens emit nothing; no padded partial shingles, unlike shingles_col,
    because a span must map back to exact token offsets). Map-only,
    JVM-side."""
    toks = F.split(F.col(text_col), " ")
    sh = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda j: F.xxhash64(F.concat_ws(" ", F.slice(toks, j, n))))
    return (docs
            .filter(F.size(toks) >= n)
            .select(F.col(id_col).alias("id"),
                    F.posexplode(sh).alias("pos", "h")))


def shared_substring_spans(docs: DataFrame, n: int = 2 * SHINGLE_N,
                           min_run: int = 2, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Flag maximal verbatim passages shared ACROSS documents: runs of
    ``min_run``+ consecutive positional ``n``-gram shingles each appearing
    in >= 2 DISTINCT docs, merged per doc into maximal token spans.
    Returns (id_col, span_start, span_len) — 0-based token offsets; a run
    of shingle positions [p0..p1] covers tokens [p0, p1 + n - 1].

    Scale shape: a shingle is "shared" via ONE hash-keyed aggregation
    (countDistinct ids per int64 hash — never a self-join, so a
    degenerate boilerplate shingle in a million docs is one aggregate
    row, not 10^12 pairs), then ONE hash-keyed join back flags positions;
    the island merge shuffles (id, pos, g) rows once by doc. Every
    corpus-sized exchange is keyed by an int64 hash or the doc id."""
    from pyspark.sql import Window

    pos = positional_shingles(docs, n, text_col, id_col)
    shared = (pos.groupBy("h")
              .agg(F.count_distinct("id").alias("nd"))
              .filter(F.col("nd") >= 2)
              .select("h"))
    flagged = pos.join(shared, "h").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    runs = (flagged
            .withColumn("g", F.col("pos") - F.row_number().over(w))
            .groupBy("id", "g")
            .agg(F.min("pos").alias("p0"), F.max("pos").alias("p1"),
                 F.count("*").alias("run_len"))
            .filter(F.col("run_len") >= min_run))
    return runs.select(F.col("id").alias(id_col),
                       F.col("p0").cast("long").alias("span_start"),
                       (F.col("p1") - F.col("p0") + n).cast("long")
                       .alias("span_len"))


def scrub_substring_spans(docs: DataFrame, spans: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Remove the flagged token ranges from each document's text, keeping
    every surviving token in original order (the span-sequence
    invariant — pytest-asserted). Docs with no flagged spans pass through
    byte-identical. Returns ``docs`` with ``text_col`` rewritten plus
    ``n_tokens_kept``.

    The per-doc span list is bounded by len(doc)/n, so the collect_list
    is row-local metadata, not a corpus-sized state; the token filter is
    one JVM-side higher-order expression (no Python)."""
    sp = (spans.groupBy(id_col)
          .agg(F.collect_list(F.struct("span_start", "span_len"))
               .alias("__spans")))
    empty = F.array().cast(
        "array<struct<span_start:bigint,span_len:bigint>>")
    joined = (docs.join(sp, id_col, "left")
              .withColumn("__spans", F.coalesce(F.col("__spans"), empty)))
    toks = F.split(F.col(text_col), " ")
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("__spans"),
            lambda s: (i >= s["span_start"])
            & (i < s["span_start"] + s["span_len"])))
    return (joined
            .withColumn("__kept", kept)
            .withColumn(text_col, F.concat_ws(" ", F.col("__kept")))
            .withColumn("n_tokens_kept", F.size("__kept").cast("long"))
            .drop("__spans", "__kept"))
