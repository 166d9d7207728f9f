"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` (single JVM); the configuration is
nevertheless written for a multi-executor cluster: AQE on (runtime
coalescing, skew-join splitting), Arrow on (pandas-UDF hot path),
UTC session timezone (oracle comparability), shuffle partitions sized
to the parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ._malloctune import threshold_bytes

_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "trendr-spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    The conf below is the 100 TB posture scaled to local mode:

    - ``spark.sql.adaptive.enabled``: runtime re-planning — coalesce
      post-shuffle partitions, convert to broadcast when a side turns
      out small, split skewed partitions (replaces the reference's
      manual H3 saturation splitting as a generic mechanism).
    - ``spark.sql.shuffle.partitions``: ~cores locally; on a real
      cluster this is a floor — AQE coalesces down from it.
    - Arrow execution for every pandas UDF (the only Python hot paths
      are parity-critical text/geo functions).
    - UTC timezone so timestamp semantics match the DuckDB oracle.
    - ``spark.sql.codegen.cache.maxEntries`` (a static conf): one city
      cycle generates about 172 classes, more than the default cache
      of 100, so under the default every later cycle in the session
      compiled all of them again. With 2000 entries a later cycle
      reuses every class whose source is unchanged. Spark writes a
      timestamp literal into the generated source, so a cycle with a
      new ``as_of`` (new inputs or another city included) still
      compiles the 14 classes that read it and reuses the other 158.
      The conf pays only while a session runs more than one cycle.
    - ``spark.sql.codegen.useIdInClassName`` off: the cache is keyed
      by the generated source, and by default each class name carries
      its whole-stage codegen id. Under AQE the same stage can get
      another id from one run to the next, so an unchanged stage
      missed the cache at random and compiled again.
    """
    n = str(cpus or _DEF_CPUS)
    # allocator env for the JVM we are about to launch (and thus the
    # Python workers it spawns): same rationale/values as
    # _malloctune.tune_malloc (which covers processes already running);
    # glibc reads these at process start
    thresh = threshold_bytes()
    if thresh > 0:
        os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(thresh))
        os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(thresh))
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # naive parquet timestamps are UTC instants here (oracle parity),
        # not NTZ — Spark 4 flipped the inference default
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
