"""SparkSession factory with scale-aware defaults.

The reference hard-codes its operating envelope (128 MiB splits, 100 MiB
sort buffer, 5 shuffle partitions — ``Callbacks.h:38-47``). Here those
knobs map onto Spark's equivalents and are parameterized instead of fixed:
``spark.sql.files.maxPartitionBytes`` plays the role of
``DEFAULT_READ_SPLIT_SIZE`` and ``spark.sql.shuffle.partitions`` the role of
``DEFAULT_PARTITION_NUM``, with AQE enabled so the runtime re-plans
partition counts / skew at real data sizes.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Reference envelope (Callbacks.h:40) kept as the split-size default; on a
# real cluster this is the per-task scan granularity and 128 MiB is still
# the right order of magnitude for parquet.
DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def get_spark(
    app_name: str = "tiny_mapreduce_rpc_server_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local mode for tests/bench; the same conf block is what we would ship
    to a 1000-executor cluster (AQE, skew-join handling, UTC session TZ,
    Arrow for the pandas_udf slow path).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan CACHED subtrees too (default false): a pinned
        # aggregate otherwise materializes at the static shuffle width —
        # spark.sql.shuffle.partitions tiny partitions that every
        # consumer then scans as separate tasks. With AQE allowed,
        # cached exchanges coalesce by BYTES exactly like uncached ones
        # (scale-adaptive, not a local-mode tweak). Measured r12 on
        # dedup_simhash_clusters' K-row signature pin: 3.46 s -> 2.72 s
        # median (order-balanced A/B); no cached-plan consumer in this
        # repo depends on cache output partitioning.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(DEFAULT_MAX_PARTITION_BYTES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # BROADCAST_PAIR_BOUND below is sized against this threshold
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# broadcast a candidate-pair set only below this many pairs: 2M rows of
# (long, long) is ~32 MB, the session's autoBroadcastJoinThreshold
BROADCAST_PAIR_BOUND = 2_000_000


def bounded_broadcast(cand: DataFrame) -> DataFrame:
    """Broadcast a small derived table (candidate pairs, duplicate-id
    lists) only when it is PROVABLY small.

    The consumers want these tables broadcast so the large corpus /
    shingle / embedding side is never shuffled — but an *unconditional*
    hint is a scale hazard: on a duplicate-heavy 100 TB crawl LSH bands
    can emit billions of candidate pairs and the duplicate list is a
    large fraction of the corpus, and a forced broadcast then kills the
    driver instead of degrading. So the table (a couple of longs per
    row — cheap to hold) is persisted, counted, and broadcast only
    under BROADCAST_PAIR_BOUND; above the bound the hint is dropped and
    the join degrades to a shuffle — slower, but alive. The count
    reuses the persisted rows, so the upstream computation still runs
    exactly once.

    CONTRACT NOTE (also in QuerySpec's docstring): building a query that
    goes through this gate runs a real Spark job (the count) at
    DataFrame-construction time — construction is NOT plan-only for the
    dedup/graph/sampling/text/ml queries that need the gate. The persisted
    blocks live until ``release_caches()`` or session teardown.
    """
    cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    n = cand.count()
    return F.broadcast(cand) if n <= BROADCAST_PAIR_BOUND else cand


def release_caches() -> None:
    """Drop every cached table of the active session (the operators'
    ``.cache()`` pins and ``bounded_broadcast`` persists). Call between
    queries in a long-lived session; a no-op when no session is active."""
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.catalog.clearCache()
