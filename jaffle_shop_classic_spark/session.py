"""SparkSession factory.

Tuned for the driver's harness (local[N], single JVM) while keeping every
setting cluster-portable: AQE handles runtime re-planning (partition
coalescing, skew joins) on a real cluster; UTC session timezone pins
timestamp semantics so results compare exactly against the DuckDB oracle
(DuckDB timestamps are UTC-naive).

``run_concurrently`` submits independent actions as concurrent Spark jobs.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")
R = TypeVar("R")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "jaffle_shop_classic_spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count: at local test
    scale (sf<=0.1) Spark's 200-partition default just adds scheduling
    overhead, while on a real cluster this is sized to ~2-3x total cores.
    AQE coalesces small post-shuffle partitions either way, so the value
    is a ceiling, not a hard choice.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_concurrently(spark: SparkSession, fn: Callable[[T], R], items: Iterable[T]) -> list[R]:
    """``[fn(x) for x in items]``, with each call in its own thread so the
    Spark jobs it launches run concurrently; results keep input order.

    Small jobs are bound by per-job latency (planning, scheduling, result
    fetch), not by the cores, so submitting independent ones together
    overlaps that latency. Each call runs under a copy of the caller's
    local properties and job tags (``inheritable_thread_target``), so its
    jobs land in the caller's job group. Every call finishes before this
    returns; the first failure in input order is raised.
    """
    items = list(items)
    if len(items) < 2:
        return [fn(x) for x in items]
    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        # wrapped per call: each thread gets its own copy of the local
        # properties, which Spark mutates per SQL execution
        futures = [pool.submit(inheritable_thread_target(spark)(fn), x) for x in items]
        return [f.result() for f in futures]
