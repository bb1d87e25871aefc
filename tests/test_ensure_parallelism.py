"""Focused tests for the r10 catalog levers: bytes-adaptive
ensure_parallelism (VERDICT r9 item 3) and the DataFrame plan cache
(item 1). Both are pure driver-side mechanics — these tests pin the
decision logic, not timings."""

import os

from pyspark.sql import functions as F

from ingest_fast_spark import catalog
from ingest_fast_spark.catalog import (
    ENSURE_PAR_QUANTUM,
    _plan_size_bytes,
    ensure_parallelism,
    load_table,
    read_parquet,
)
from ingest_fast_spark.session import plan_cache


def _parts(df):
    return df.rdd.getNumPartitions()


def test_small_input_partitions_follow_bytes(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    size = _plan_size_bytes(d)
    assert size is not None and size > 0
    par = spark.sparkContext.defaultParallelism
    expect = min(par, -(-size // ENSURE_PAR_QUANTUM))
    got = _parts(ensure_parallelism(d))
    if expect <= 1:
        # too small to shuffle: frame must come back unchanged
        assert got == _parts(d)
    else:
        assert got == expect


def test_work_amplification_widens(spark, sf_dir):
    d = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    base = ensure_parallelism(d)
    amped = ensure_parallelism(d, work_amplification=1000)
    assert _parts(amped) == spark.sparkContext.defaultParallelism
    assert _parts(base) <= _parts(amped)


def test_unknown_stats_frame_is_not_repartitioned(spark, sf_dir):
    # A localCheckpoint scan reports the conservative default size
    # (huge), which must take the skip branch — at 100 TB the guard adds
    # no shuffle to production plans.
    d = load_table(spark, sf_dir, "documents").localCheckpoint(eager=True)
    size = _plan_size_bytes(d)
    par = spark.sparkContext.defaultParallelism
    if size is not None and size >= par * catalog._SCAN_SPLIT_BYTES:
        assert ensure_parallelism(d) is d


def test_df_cache_reuses_plan_and_invalidates_on_rewrite(spark, sf_dir, tmp_path):
    p = os.path.join(sf_dir, "documents.parquet")
    assert read_parquet(spark, p) is read_parquet(spark, p)
    # rewriting a file (new mtime) must produce a fresh entry
    dst = str(tmp_path / "docs.parquet")
    load_table(spark, sf_dir, "documents").limit(3).write.mode("overwrite").parquet(dst)
    first = read_parquet(spark, dst)
    assert first is read_parquet(spark, dst)
    sizes = (len(catalog._SCHEMA_CACHE), len(plan_cache(spark)))
    load_table(spark, sf_dir, "documents").limit(5).write.mode("overwrite").parquet(dst)
    second = read_parquet(spark, dst)
    assert second is not first
    assert second.count() == 5
    # the rewrite replaced the path's stale entries instead of adding to them
    assert (len(catalog._SCHEMA_CACHE), len(plan_cache(spark))) == sizes


def test_events_cache_still_normalizes_ts(spark, sf_dir):
    from pyspark.sql.types import TimestampNTZType

    ev = load_table(spark, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampNTZType)
    assert ev is load_table(spark, sf_dir, "events")
