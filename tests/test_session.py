"""The engine session's generated-code cache holds the batch queries'
working set, so repeated queries reuse their compiled classes."""

from __future__ import annotations

import time

from conftest import SF_SMALL

#: The game queries, the LeaderBoard's batch forms and the near-dup corpus
#: queries: one sweep over them at sf0.001 compiles 111 classes, more than
#: Spark's default cache of 100 holds.
QUERIES = (
    "user_score",
    "hourly_team_score",
    "sliding_team_windows",
    "team_rank_per_window",
    "leaderboard_team_windows",
    "leaderboard_user_totals",
    "dedup_minhash_portable",
    "dedup_near_clusters",
    "dedup_cluster_assignment",
)


def _compiles(spark) -> int:
    """Whole-stage and expression classes compiled so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _sweep(spark) -> None:
    from demo_apache_beam_spark.queries import REGISTRY

    for name in QUERIES:
        REGISTRY[name].fn(spark, SF_SMALL).write.format("noop").mode(
            "overwrite"
        ).save()


def test_session_sets_codegen_cache_cap(spark):
    from demo_apache_beam_spark.session import ENGINE_SQL_CONF

    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == ENGINE_SQL_CONF[key]
    assert int(ENGINE_SQL_CONF[key]) > 100


def test_repeated_queries_reuse_compiled_classes(spark):
    """The first two sweeps compile what the cache lacks (and warm any
    stores the queries read); a third sweep over the same plans must find
    every class in the cache. Under Spark's default cap the set above
    evicts its own classes, so each sweep recompiles some."""
    _sweep(spark)
    _sweep(spark)
    warm = _compiles(spark)
    _sweep(spark)
    assert _compiles(spark) == warm
    # the counter is live: a literal new to this JVM is inlined into new code
    spark.range(1).selectExpr(f"id + {time.time_ns()} AS x").write.format(
        "noop"
    ).mode("overwrite").save()
    assert _compiles(spark) > warm
