"""SparkSession factory tuned for the csp_spark engine.

Defaults target local[N] testing but the config set is what we would
ship on a 1000-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow for the few pandas exchanges,
UTC session timezone (the reference normalizes all timestamps to naive
UTC — csp/impl/wiring/runtime.py:27-33).

Shuffle partition counts follow the session's cores, not a constant;
``get_spark`` states the rule.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

logger = logging.getLogger("csp_spark")

_DEFAULTS = {
    # The reference engine is strictly ordered in naive-UTC nanoseconds;
    # Spark timestamps are microsecond UTC — we standardize on UTC.
    "spark.sql.session.timeZone": "UTC",
    # csp semantics are non-ANSI: float ops yield NaN/Inf rather than
    # raising (e.g. corr/var over a 1-point window must gate to NaN, not
    # throw DIVIDE_BY_ZERO inside the window aggregate).
    "spark.sql.ansi.enabled": "false",
    # AQE: runtime shuffle-partition coalescing + skew-join handling are
    # load-bearing at 100 TB (skewed keys in groupBy/join).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for applyInPandas/pandas_udf paths (EMA family, gate).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Dim tables (region/nation/customer/supplier/part at our SFs) should
    # broadcast; on a real cluster this threshold is tuned per workload.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet vectorized reader + pushdown are defaults but we pin them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # PySpark's call-site capture (on by default) wraps every Column
    # function: each call walks the Python stack and makes about five
    # JVM round-trips. perfbench's six tick_replay queries make 370 such
    # calls per build, and turning capture off cut that build from 1.35
    # to 1.00 s (local[4], sf0.01). Off, an analysis error keeps its
    # message but loses PySpark's "was called from file:line" block.
    # PySpark reads the key once per process, at the first Column call;
    # pass "true" through get_spark(**extra) in a fresh process to turn
    # capture back on.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # local[N] runs executors inside the driver JVM, whose default heap
    # is 1g — far too small for 32 concurrent tasks with array-heavy
    # rows (shingle sets, signatures). On a real cluster this maps to
    # spark.executor.memory instead. Only effective at JVM launch.
    "spark.driver.memory": "32g",
    "spark.driver.maxResultSize": "4g",
}


_SHUFFLE = "spark.sql.shuffle.partitions"
_INITIAL = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def get_spark(
    app_name: str = "csp_spark",
    master: str | None = None,
    **extra: str,
) -> SparkSession:
    """Build (or fetch) the SparkSession used by the engine.

    ``SPARK_GRAFT_CPUS`` selects local parallelism (driver contract).
    Both partition counts come from the session's cores ``n =
    sparkContext.defaultParallelism`` (4 at ``local[4]``):
    ``spark.sql.shuffle.partitions = n``, which is every streaming
    stateful operator's state-partition count (streaming has no AQE),
    and ``spark.sql.adaptive.coalescePartitions.initialPartitionNum =
    8 * n``, where every batch exchange starts before AQE coalesces it.
    Either key passed in ``extra`` wins over its derived value. A
    streaming checkpoint keeps the count it was created with: Spark
    restores it from the offset log.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf.update(extra)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    n = spark.sparkContext.defaultParallelism
    for key, derived in ((_SHUFFLE, n), (_INITIAL, 8 * n)):
        if key not in extra:
            spark.conf.set(key, str(derived))
    return spark


def _materialize(df: DataFrame, reason: str) -> DataFrame:
    """The package's one materialization, a lazy ``localCheckpoint``
    logged with ``reason`` at DEBUG; no other module persists, caches
    or checkpoints. It truncates lineage, never enters Spark's
    CacheManager (no later query is served from it) and is freed when
    the frame is garbage-collected, so no caller manages a lifetime.
    Lazy, because every caller reads the frame soon after and the first
    read stores it: an eager ``count()`` would only add a job (under
    AQE, building it still runs the plan's shuffle stages). The trade:
    the stored blocks have no replicas, so losing an executor fails a
    job that reads a finished checkpoint instead of recomputing it."""
    logger.debug("materialize: %s", reason)
    return df.localCheckpoint(eager=False)
