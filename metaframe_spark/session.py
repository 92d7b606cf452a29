"""SparkSession factory tuned for the metaframe_spark engine.

Defaults encode the 100 TB posture (SURVEY.md §7.2 P3): AQE on (runtime
re-plan, skew-join splitting, partition coalescing), Arrow for any
Python-boundary transfer, UTC session time, and shuffle partitions sized to
the machine instead of Spark's legacy 200. On a real cluster the same
builder is used with ``master`` unset (taken from spark-submit) and
``shuffle_partitions`` sized to ~2-3× total executor cores.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator, Optional

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 8


def get_session(
    app_name: str = "metaframe_spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    max_partition_bytes: Optional[str] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.ui.enabled": "false",
    }
    if max_partition_bytes:
        # input-split sizing: smaller splits -> more parallelism on huge
        # scans, larger -> less scheduling overhead (default 128m)
        conf["spark.sql.files.maxPartitionBytes"] = max_partition_bytes
    # NOTE: spark.driver.memory is NOT set here — builder.config can't change
    # JVM heap once a JVM exists (and in-process launch reads it too late),
    # so a value set here would be silently ignored; pass it via
    # spark-submit / SPARK_SUBMIT_OPTS instead.
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def persist_scope(spark: SparkSession) -> Iterator[None]:
    """Release, on exit, every plan cached in ``spark``'s CacheManager
    inside the block.

    Operators ``persist()`` intermediates their plans read more than once
    and leave them cached, so the consuming action reads the cache. Wrap
    construction AND the consuming action::

        with persist_scope(spark):
            out = simhash_near_dup_pairs(docs, "doc_id", "text")
            rows = out.collect()

    Entries cached before the block are left alone. Each new entry is
    dropped with ``uncacheQuery(cascade=False, blocking=False)`` — the
    same non-blocking release ``DataFrame.unpersist()`` does — newest
    first, so a dependent cache goes before the cache it reads. The
    CacheManager is shared by every session of the application: a plan
    another thread caches while the block runs is released too.
    """
    jss = spark._jsparkSession
    manager = jss.sharedState().cacheManager()
    identity = spark._jvm.java.lang.System.identityHashCode

    def entries():
        data = manager.cachedData()
        return [data.apply(i) for i in range(data.size())]

    before = {identity(e) for e in entries()}
    try:
        yield
    finally:
        for e in entries():
            if identity(e) not in before:
                manager.uncacheQuery(jss, e.plan(), False, False)
