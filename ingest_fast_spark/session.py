"""SparkSession factory with scale-oriented defaults.

The reference runs 8 OS processes, each holding a >1 GB in-heap hash map
(reference lib/ingest.js:3,58,68-69). Here a single SparkSession owns all
parallelism; the settings below are the 100 TB-minded defaults (AQE for
runtime re-planning and skew joins, spillable aggregation is built in,
UTC session time so results are timezone-stable across clusters).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

# Spark 4's PySpark wraps EVERY DataFrame/Column API call with a call-site
# capture for richer error messages: one conf lookup + PySparkCurrentOrigin
# .set()/.clear() — i.e. ~3 extra py4j round-trips per API call, plus a
# Python stack walk. Measured on this engine's query builders that wrapper
# is ~60% of ALL py4j traffic (quality_train_logreg 10006 → 3583 trips,
# dedup_weighted_minhash 6166 → 2340, quality_gopher_rules 1274 → 588), at
# ~0.15-0.3 ms per trip of pure driver latency per plan build (guide §4:
# the Python boundary is also a DRIVER-side cost). The flag below is the
# documented switch; pyspark caches its value process-wide at first use, so
# set the cache too — a driver-created session may issue wrapped calls
# before our confs land, which would freeze the cache at the default.
try:  # best-effort: private attr may move across pyspark versions
    import pyspark.errors.utils as _pyspark_errors_utils

    _pyspark_errors_utils._enable_debugging_cache = False
except Exception:  # pragma: no cover
    pass

# Configs that are safe (and wanted) on any session that runs this engine,
# including sessions created by an external driver. Everything here is a
# runtime SQLConf — no JVM restart needed.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries INT64 TIMESTAMP(NANOS); Spark only reads it
    # as long with this legacy flag (we convert to timestamp_ntz in the
    # loader, truncating to micros exactly like DuckDB does).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Timezone-stable timestamps: everything is computed in UTC.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic broadcast conversion. Essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE tiny-shuffle coalescing floor. r8 pinned this to "1b" to keep
    # small-but-expression-heavy post-shuffle stages (interpreted HOF
    # lambdas, pandas batches) wide; measured this round, the cost of
    # that choice is per-round fixed overhead on every iterative
    # operator's tiny shuffles (graph_pagerank 2.23→1.04 s, graph_hits
    # 3.49→1.47 s, bfs 2.43→1.54 s, kcore 2.03→1.45 s at sf0.1 with the
    # 64 KB floor) — far outweighing the HOF-stage effect, which the
    # bench showed within noise (expression-heavy stages are almost all
    # map-side here, pinned by the full-bench A/B in OPTIMIZATION_r09).
    # 64 KB (not the 1 MB default) still splits genuinely compute-heavy
    # small stages across a few tasks; at real scale bytes/parallelism
    # dominates either way and this floor is a no-op.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64kb",
    # Arrow for any pandas UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # No per-call Python call-site capture (see module header): the error
    # QueryContext loses Python line numbers, plan-build latency drops ~2x.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# Shuffles START at this many partitions per core of cluster parallelism and
# AQE coalesces down to ~bytes/parallelism at runtime. The static
# ``spark.sql.shuffle.partitions = cores`` default is right only when a
# post-shuffle partition fits in executor memory; measured at 50× bench
# scale the 32-partition sort/shuffle stages of the shingle-join family
# spill, and 8× headroom removes it (dedup_jaccard_prefix_filter 112→76 s,
# dedup_simhash 25→18 s, text_ngram_novelty 31→23 s) while the sf0.1 bench
# set is flat-to-better (AQE merges the extra partitions away when small).
INITIAL_PARTITION_FACTOR = 8

# Entries in Spark's JVM-wide LRU cache of compiled whole-stage and
# expression classes (``spark.sql.codegen.cache.maxEntries``, default 100).
# A pass over one 5-query mix generates ~200 distinct classes, so at 100
# every class is evicted before the next pass needs it and each warm pass
# recompiles them all (199-201 compiles a pass, against 0-4 at 8,192;
# pass wall ~9.2 -> ~7.6 s at 4 cores). One pass over all 313
# registered queries at sf0.01 generates 4,101 distinct classes (5,781
# compiles at 100 entries); holding them all raised off-heap metaspace
# from 209 to 237 MB, ~7 KB an entry. 8,192 is about twice that working
# set, so at most ~60 MB of metaspace when full.
# A STATIC conf: Spark reads it once per JVM, when CodeGenerator is first
# used, so only the builder below can set it — apply_runtime_confs cannot,
# and a session built outside get_spark (an external driver's) keeps 100.
CODEGEN_CACHE_ENTRIES = 8192


# Sessions already configured by apply_runtime_confs. The function is
# called defensively from every events/stream loader and every run_ingest
# — ~12 ms of py4j conf.set traffic per call that only needs to happen once
# per session (r10, guide §4 driver-side cost). Held weakly, by object
# rather than by id(): a new session at a dead one's address must still
# get the confs.
_CONFIGURED_SESSIONS: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def plan_cache(spark: SparkSession) -> dict:
    """This session's memo of immutable plan objects (DataFrames), created
    on first use.

    It lives on the session object, not in a module registry: every cached
    DataFrame references its session, so a registry keyed by the session —
    even a ``WeakKeyDictionary`` — would keep each session alive through its
    own entries, and one keyed by ``id(spark)`` would hand a new session at
    a dead one's address frames bound to the dead one. Here a session and
    its frames are collected together."""
    return vars(spark).setdefault("_ingest_fast_spark_plans", {})


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally created session
    (idempotent; no-op after the first call for a given session)."""
    if spark in _CONFIGURED_SESSIONS:
        return spark
    _CONFIGURED_SESSIONS.add(spark)
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf may be non-modifiable on some builds; the engine still
            # works, individual loaders guard the features they need.
            pass
    try:
        par = spark.sparkContext.defaultParallelism
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(INITIAL_PARTITION_FACTOR * max(par, 1)),
        )
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "ingest-fast-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    tests and bench runs share one code path; on a real cluster pass
    ``master=None`` with ``spark.master`` preconfigured, or an explicit URL.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(INITIAL_PARTITION_FACTOR * shuffle_partitions),
        )
        # Local testing only; a cluster submit overrides driver memory.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.ui.enabled", "false")
        # Single-JVM local mode: every task slot is process-local, so
        # delay scheduling only adds stalls (coalesced/cached partitions
        # otherwise wait out spark.locality.wait per stage).
        .config("spark.locality.wait", "0ms")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return apply_runtime_confs(spark)
