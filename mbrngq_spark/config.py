"""Engine configuration.

Mirrors the reference's global query/space parameters
(``mbR-NGQ/Config.cs:11-19``: m=3 categories, k=10 result groups, space
[0,100]x[0,100]) as an explicit config object instead of C# statics.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class EngineConfig:
    # coordinate space (reference Config.cs:16-19)
    min_x: float = 0.0
    min_y: float = 0.0
    max_x: float = 100.0
    max_y: float = 100.0
    # number of categories m (Config.cs:11)
    m: int = 3
    # result groups k (Config.cs:14)
    k: int = 10
    # default grid resolution for the doc index (2^res bins per axis)
    index_res: int = 6
    # resolution used for raster tiles (FIXTURES.md §5)
    tile_res: int = 6
    # per-(query, category) candidate cap for the NGQ refine step
    ngq_candidates: int = 32
    # finest planner resolution: cell_stats is aggregated ONCE at this res
    # (≤ 4^res·m rows — the hard bound that keeps index metadata
    # driver/broadcast-sized at any corpus size) and rolled up to whatever
    # coarser res the query batch wants
    planner_base_res: int = 8

    @property
    def width(self) -> float:
        return self.max_x - self.min_x

    @property
    def height(self) -> float:
        return self.max_y - self.min_y

    @property
    def diagonal(self) -> float:
        """Space diagonal — the reference's globalMaxDist seed (RTree.cs:1056)."""
        return (self.width ** 2 + self.height ** 2) ** 0.5

    # NOTE deliberately NO full_catmask/isDictator helper (Node.cs:199-206):
    # the reference's catmask-based node skipping is subsumed here by the
    # per-(cell, category) stats table — the per-category planner only ever
    # sees cells that CONTAIN that category, so "skip cells lacking a needed
    # category" happens by construction, one level earlier.


DEFAULT = EngineConfig()


def refine_partitions(spark: SparkSession) -> int:
    """Explicit partition count for exchanges feeding per-group Python
    kernels (NGQ/geo refine). These exchanges carry FEW BYTES but much
    CPU per row, so AQE's byte-based coalescing collapses them to ~1
    task and serializes the kernel (measured: 3 post-AQE partitions for
    a 200-query refine on local[32]). ``repartition(n, key)`` with an
    explicit n is REPARTITION_BY_NUM, which AQE may not coalesce —
    parallelism is preserved. One partition per core: each Arrow-grouped
    Python task carries ~8 ms of fixed stream-setup overhead, so extra
    waves cost more than they balance (measured 1.30 s at 32 partitions
    vs 2.05 s at 64 for a 200-group refine on local[32]). Scale-adaptive:
    defaultParallelism is the cluster's total core count in production."""
    return spark.sparkContext.defaultParallelism


# reduce partitions for a bounded aggregate (see bounded_shuffle)
BOUNDED_SHUFFLE_PARTITIONS = 8


@contextmanager
def bounded_shuffle(spark: SparkSession):
    """Temporarily lower the shuffle partition count around an EAGER
    aggregate whose output is bounded by design (the planner stats table
    is ≤ 4^res·m rows regardless of corpus size). With the cluster-sized
    default, a small local job writes map_tasks × partitions tiny shuffle
    blocks and pays per-block and per-task overhead that dominates the
    aggregate (measured 0.85 s → 0.37 s at 64 → 8 partitions on the 600k
    bench corpus); reduce parallelism for a bounded table does not need
    to scale with the corpus, so a small constant is correct at every
    scale. Map-side parallelism (input splits) is unaffected. Only valid
    around eager actions — the conf is read at planning time.

    The swap is SESSION-GLOBAL: it assumes one driver thread plans at a
    time, since a query planned concurrently on another thread would see
    the lowered conf. ROADMAP direction 5 (plan-scoped bounded aggregates)
    replaces it."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        target = min(int(old), BOUNDED_SHUFFLE_PARTITIONS)
    except ValueError:
        target = BOUNDED_SHUFFLE_PARTITIONS
    spark.conf.set("spark.sql.shuffle.partitions", str(target))
    # AQE has nothing to adapt on an 8-partition bounded aggregate; its
    # stage-level re-optimization pass costs ~0.1 s per collect here
    # (interleaved A/B: 0.42 s → 0.30 s)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def spread_small_input(df):
    """Round-robin-repartition ``df`` ONLY when its scan parallelism is
    below the session's core count (a tiny table often arrives as one
    file split, serializing every map-side kernel downstream). The gate
    is the split count alone, not the size: inputs that scan with enough
    splits (the usual 100 TB case) are returned untouched, but a large
    input arriving in few splits (e.g. unsplittable files) pays a
    corpus-sized shuffle."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


# driver heap ceiling as a share of the host's physical memory when
# SPARK_DRIVER_MEM is unset; only a ceiling — the heap grows with use
DRIVER_MEM_FRACTION = 0.5


def default_cores() -> int:
    """Session cores: SPARK_GRAFT_CPUS when set, else every host CPU."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def default_driver_mem() -> str:
    """Driver heap: SPARK_DRIVER_MEM when set, else DRIVER_MEM_FRACTION
    of the host's physical memory (MemTotal), at least 1 GiB."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    total_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                >> 20)
    return f"{max(1024, int(total_mb * DRIVER_MEM_FRACTION))}m"


def session(app: str = "mbrngq_spark", cores: int | None = None,
            shuffle_partitions: int | None = None) -> SparkSession:
    """Build the engine SparkSession.

    local[N] here, sized from the host (default_cores, default_driver_mem);
    on a real cluster the same code runs under spark-submit --py-files
    with these configs in spark-defaults. AQE stays on so skewed cell
    joins get runtime-split (SURVEY.md §4).
    """
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(2 * cores, 32)
    return (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
