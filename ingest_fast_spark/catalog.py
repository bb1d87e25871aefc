"""Loaders for the synthetic tables in /root/testdata/sf*/.

Schemas are documented in FIXTURES.md §B. All loads are plain parquet scans
so Catalyst gets column pruning + predicate pushdown for free; the only
special case is ``events`` whose parquet carries INT64 TIMESTAMP(NANOS) —
Spark reads it as long (legacy flag) and we convert to ``timestamp_ntz``
truncated to microseconds, which is byte-identical to what DuckDB's
TIMESTAMP (micros) reader produces.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import apply_runtime_confs, plan_cache

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Parquet FOOTER SCHEMA cache: absolute path -> (stamp, schema). Schema
# inference costs a measured ~80-100 ms of driver time PER spark.read.parquet
# call (footer fetch + merge) — a pure fixed cost the bench pays once per
# table per query per repeat (~190 queries x ~2 tables). The schema is file
# METADATA pinned by the dataset contract (FIXTURES.md §B), not data: every
# query still scans the parquet bytes in full, and the stamp check rebuilds
# the entry the moment a file is rewritten. At cluster scale the same trick
# is what table catalogs (metastore/Iceberg manifests) do for you — guide §6.
_SCHEMA_CACHE: dict = {}


def _path_stamp(path: str):
    st = os.stat(path)
    if os.path.isdir(path):
        # Directory tables: a new part-file changes the dir mtime; a
        # rewritten part-file changes its own mtime — hash both layers.
        entries = tuple(
            (e.name, e.stat().st_mtime_ns) for e in sorted(os.scandir(path), key=lambda e: e.name)
        )
        return (st.st_mtime_ns, entries)
    return (st.st_mtime_ns, st.st_size)


def _stamped(cache: dict, key, path: str, build):
    """``cache[key]``'s value if it was built from ``path`` as it is now,
    else ``build()`` stored under ``key`` with the current stamp. One entry
    per key: a rewrite replaces the stale entry instead of adding one."""
    stamp = _path_stamp(path)
    hit = cache.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    value = build()
    cache[key] = (stamp, value)
    return value


def parquet_schema(spark: SparkSession, path: str):
    """The parquet footer schema as Spark would infer it (under the session's
    current confs), cached per path until the file changes."""
    path = os.path.abspath(path)
    return _stamped(_SCHEMA_CACHE, path, path, lambda: spark.read.parquet(path).schema)


# DataFrame PLAN cache (``session.plan_cache``), one entry per (kind, path)
# — r10's sibling of the schema cache one level up: a DataFrame is an
# immutable logical plan, so handing every caller the same scan object is
# semantically identical to re-building it (the bytes are still scanned at
# every action; the stamp check rebuilds on rewrite). What it saves is the
# ~12-38 ms of driver work per ``spark.read.schema(...).parquet(...)`` call
# — a fixed cost paid ~1.5x per query per bench repeat across 191
# headliners (guide §4: the Python boundary is also a driver-side cost).


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with schema + plan-object caching (same
    result; skips per-call schema inference and reader construction)."""
    path = os.path.abspath(path)
    return _stamped(
        plan_cache(spark),
        ("parquet", path),
        path,
        lambda: spark.read.schema(parquet_schema(spark, path)).parquet(path),
    )


def _normalized_events(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.sql.types import LongType

    apply_runtime_confs(spark)  # needs nanosAsLong on driver-made sessions
    df = read_parquet(spark, path)
    if isinstance(df.schema["ts"].dataType, LongType):
        # Driver-made file: INT64 TIMESTAMP(NANOS), read as long under
        # the legacy flag. nanos -> micros -> naive-UTC timestamp,
        # matching DuckDB. Integer DIV, not floor(a/b): double division
        # loses ULPs at 1e18 ns and shifts timestamps by ±1 µs.
        return df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz"),
        )
    # Re-materialized copy (engine-written parquet): ts is already
    # a micros timestamp; just normalize the zone flavor.
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; normalizes the events timestamp column."""
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        return _stamped(
            plan_cache(spark),
            ("events-normalized", path),
            path,
            lambda: _normalized_events(spark, path),
        )
    return read_parquet(spark, path)


# Bytes of ESTIMATED input per ensure_parallelism partition (r10, guide
# §2.2: partition count follows bytes, not cores). Sized for the
# expression-heavy consumers this guard feeds (shingle explodes, codec
# mapInPandas): a 16 KB slice is ~10-100 ms of that work — ≥10x the
# per-task fixed cost — while 32-way fan-out of a 100 KB input was pure
# overhead (one-JVM A/B at 32 cores, min-of-3: multimodal_png_roundtrip
# 0.96 s at 32 partitions vs 0.41 s at 8; resize_attest 1.37 → 0.54;
# frame_sample 1.15 → 0.43; pdf_text 1.24 → 1.02 at its stats-derived
# 16). Env-tunable for other hardware; at real scale the quantum is
# irrelevant — the scan-split guard below skips the repartition outright.
ENSURE_PAR_QUANTUM = int(os.environ.get("SPARK_GRAFT_PAR_QUANTUM", str(16 << 10)))

# A parquet scan packs ~this many bytes per split (spark.sql.files
# .maxPartitionBytes default); an input estimated at >= target x this is
# already at least target splits wide, so adding a shuffle would only
# hurt. Static because the engine never overrides maxPartitionBytes.
_SCAN_SPLIT_BYTES = 128 << 20


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimated size of the frame (column-pruned, filter-
    scaled) — ~3 ms of driver work vs ~60-80 ms for materializing
    ``df.rdd`` just to read its partition count (the pre-r10 probe)."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j maps java.math.BigInteger to a Python int; keep a str()
        # round-trip as the safety net for any boxed variant.
        return size if isinstance(size, int) else int(str(size))
    except Exception:  # pragma: no cover — py4j/private-API drift
        return None


def ensure_parallelism(df: DataFrame, work_amplification: int = 1) -> DataFrame:
    """Round-robin repartition a small input so expression-heavy work
    pipelined onto a one-split scan can use the cluster — with the
    partition count following the input's estimated BYTES (guide §2.2),
    not the core count.

    Why: a single-row-group parquet file scans as ONE task, serializing
    everything pipelined onto the scan (explodes, partial aggregates,
    mapInPandas codecs). One tiny shuffle of the base table unlocks the
    cores the input can actually feed: ceil(bytes / ENSURE_PAR_QUANTUM)
    partitions, capped at defaultParallelism — fanning a 100 KB input to
    32 Python workers was measured 2.3x SLOWER than 8 (VERDICT r9 item 3,
    the 32c>8c bench inversion). At real scale this whole guard is a
    NO-OP: an input estimated at >= parallelism x 128 MB already scans as
    at least that many splits, so no shuffle is added to production
    plans, and neither is one added when Catalyst gives no estimate.

    ``work_amplification``: bytes are a poor work proxy for operators
    that EXPLODE their input before any shuffle (the SymSpell deletion
    neighborhood multiplies each name ~20x); callers that know their
    fan-out pass it so the quantum sees effective bytes (measured:
    customer_entity_resolution 1.87 -> 2.21 s when its 167 KB input was
    sliced to 11 partitions by raw bytes; x20 restores full width).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    size = _plan_size_bytes(df)
    if size is None or size >= par * _SCAN_SPLIT_BYTES:
        return df  # no estimate, or already at least `par` scan splits wide
    target = min(par, -(-size * max(work_amplification, 1) // ENSURE_PAR_QUANTUM))
    if target <= 1:
        return df  # too small to be worth any shuffle
    return df.repartition(target)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
