"""The runtime-conf registry holds sessions by object, weakly: a dead
session leaves it, and a new session is configured even if it reuses a
dead one's address."""

import gc

from ingest_fast_spark import session as S

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
