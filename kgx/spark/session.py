"""SparkSession factory with the scale-oriented defaults of SURVEY.md §4.

AQE on (coalesce + skew-join split), Arrow on for the pandas-UDF hot
path, UTC session timezone (fixture timestamps are tz-naive UTC micros),
and a codegen cache sized to the pipeline's working set. `extra`
overrides any default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Size of Spark's compiled-class cache (spark.sql.codegen.cache.maxEntries),
# so the pipeline's generated code stays compiled across passes and
# micro-batches. One Runner pass (~90 jobs) touches ~300 distinct
# generated classes; with Spark's default 100-entry LRU each class was
# evicted before its next use, so every pass recompiled them all.
# Measured on fixtures/t1 (local[4], 4 vCPU): a repeat pass in the same
# session compiled 314 classes in 2.2 s at 100 entries, and 4 classes in
# 0.05 s at 1024 (first pass: 321 vs 299); kept classes also stay JIT-
# compiled. 1024 leaves ~3x headroom over the working set. It is a
# STATIC conf: it only takes effect when the JVM's first session is
# created.
CODEGEN_CACHE_MAX_ENTRIES = 1024


def get_spark(
    app: str = "kgx",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("KGX_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_MAX_ENTRIES))
    )
    if extra:
        for k, v in extra.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
