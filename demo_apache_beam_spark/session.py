"""SparkSession factory tuned for the engine.

Local mode is the test bed (``local[$SPARK_GRAFT_CPUS]``); the same config
block is what we would ship to a multi-executor cluster, where
``spark.sql.shuffle.partitions`` scales with total cores and AQE re-plans
shuffles at runtime. Session timezone is pinned to UTC so timestamp semantics
match the DuckDB oracle (naive-UTC parquet timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> str:
    """``$SPARK_GRAFT_CPUS`` when set, else the number of CPUs this
    process may run on: the local master's thread count and the shuffle
    partition count."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


#: Config applied to every session the engine creates. Safe to apply on an
#: existing session for the SQL-conf subset (driver-provided sessions).
ENGINE_SQL_CONF: dict[str, str] = {
    "spark.sql.shuffle.partitions": default_cpus(),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE's coalescing floor is BYTE-based (default 1 MB): a post-shuffle
    # stage whose input is small in bytes but CPU-dense per byte (regex
    # scoring, window frames over exploded tokens, pair-join fan-out,
    # candidate refinement) gets merged to 1-3 tasks and serializes on a
    # wide executor. parallelismFirst (default true) targets cluster
    # parallelism but still respects this floor, so lowering the floor —
    # not the partition count — restores the configured parallelism for
    # compute-dense tiny shuffles. At production shuffle sizes partitions
    # are far above any floor, so this knob is inert at scale; it only
    # stops byte-count heuristics from starving CPU-bound stages on small
    # inputs. Measured at sf0.1 (median-of-3, same session, A/B/A/B):
    # dedup_spans 3.46->2.02 s, user_series_topk_lsh 4.57->2.29 s,
    # concurrent_sessions 1.56->1.26 s, no query slower.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
        "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "16k"
    ),
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # testdata timestamps are TIMESTAMP(MICROS, isAdjustedToUTC=false);
    # read them as plain instants (raw micros), not TIMESTAMP_NTZ
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: vectorized reader + pushdown are on by default; keep
    # files splittable at ~128MB so a 100 TB table yields ~800k tasks, not 8.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Generated classes are cached per JVM, least recently used out first,
    # at most 100 by default. The batch queries are short and run over and
    # over, and a cache smaller than their working set recompiles (Janino,
    # then class loading and JIT) on every run: one perfbench `batch` pass
    # needs 159 distinct classes, so at 100 each steady pass recompiled
    # 90 to 115. One sweep of every registry query needs 2,604 at sf0.001
    # and 2,618 at sf0.01; 4096 is the smallest power of two that holds
    # it. Static conf: only sessions get_spark builds get it.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def get_spark(app_name: str = "demo-apache-beam-spark", cpus: int | str | None = None) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's config."""
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in ENGINE_SQL_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable SQL conf to an externally created session
    (e.g. the driver's).

    Static conf takes effect only in a session :func:`get_spark` builds:
    the generated-code cache size (``spark.sql.codegen.cache.maxEntries``),
    the master and the driver memory are fixed once the JVM is up, so they
    are skipped here. A session its owner built keeps Spark's cache of 100
    classes unless its own builder sets the cap."""
    for k, v in ENGINE_SQL_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep existing value
    return spark
