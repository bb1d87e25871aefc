"""Per-session state: the runtime-conf registry and the plan caches hold
sessions by object, so a dead session leaves them and a new session is
served its own even if it reuses a dead one's address; and the codegen
cache is sized to keep every generated class for the whole session."""

import functools
import gc
import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ingest_fast_spark import session as S
from ingest_fast_spark.catalog import load_table
from ingest_fast_spark.queries import fastq

KEY = "spark.sql.legacy.parquet.nanosAsLong"


def test_runtime_conf_registry_drops_dead_sessions(spark):
    old = spark.newSession()
    S.apply_runtime_confs(old)
    assert old in S._CONFIGURED_SESSIONS
    n = len(S._CONFIGURED_SESSIONS)
    # PySpark's RDD.toDF closes over the newest SparkSession; the fresh
    # session takes that reference over, so only the registry could keep
    # the old one alive.
    fresh = spark.newSession()
    del old
    gc.collect()
    assert len(S._CONFIGURED_SESSIONS) == n - 1

    fresh.conf.set(KEY, "false")
    S.apply_runtime_confs(fresh)
    assert fresh.conf.get(KEY) == S.RUNTIME_CONFS[KEY]


def test_codegen_cache_holds_the_engine_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        S.CODEGEN_CACHE_ENTRIES
    )


def test_repeated_distinct_plans_compile_nothing(spark):
    # 90 distinct projections, 30 union branches per job, each branch
    # with its own generated classes (two apiece): 180 classes, more than
    # Spark's default 100-entry LRU, which evicts each of them before its
    # second run.
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_all():
        for j in range(3):
            branches = [
                spark.range(1, numPartitions=1).select((F.col("id") * i + i).alias("x"))
                for i in range(30 * j, 30 * j + 30)
            ]
            functools.reduce(DataFrame.union, branches).collect()

    run_all()
    before = compiles.getCount()
    run_all()
    assert compiles.getCount() - before == 0


def test_plan_caches_belong_to_their_session(spark, sf_dir):
    def frames(session):
        return [
            load_table(session, sf_dir, "documents"),
            load_table(session, sf_dir, "events"),
            fastq._triples_by_type(session)["Topical"],
        ]

    old = spark.newSession()
    old_frames = frames(old)
    assert all(df.sparkSession is old for df in old_frames)
    dead = [weakref.ref(old)] + [weakref.ref(df) for df in old_frames]
    try:
        # createDataFrame (under the fixture triples) makes its session the
        # process's active one, which pins it: build the fresh session's
        # frames before gc so that it takes that reference over.
        fresh = spark.newSession()
        assert all(df.sparkSession is fresh for df in frames(fresh))
        del old, old_frames
        gc.collect()
        assert [r() for r in dead] == [None] * len(dead)
    finally:
        spark.createDataFrame([], "x int")  # hand "active" back to the fixture's session
