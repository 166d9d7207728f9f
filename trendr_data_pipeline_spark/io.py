"""Parquet IO layer.

The reference's storage edge is PostgREST with pushed-down predicates
(reference ``utils/database.py:60-66``); here the edge is columnar
parquet and Catalyst does the pushdown (column pruning + predicate
pushdown reach the scan automatically — verify with
``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).

At 100 TB the same API reads partitioned datasets: fact tables
(``lineitem``, ``events``, ``source_mention``) are expected to be
date-partitioned directories and dimensions are small single files —
``read_table`` is agnostic, partition pruning happens in Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def link_or_copy(src: str, dst: str) -> None:
    """Hard-link ``src`` to ``dst``, falling back to a byte copy on
    mounts that support rename but not links (NFS/FUSE/overlay).
    Used by the partitioned merge sink (``streaming/jobs``) to carry
    the files an update wave did not touch into the bucket's new
    version (zero data movement on POSIX, graceful degradation
    elsewhere)."""
    import shutil

    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Schema comes from parquet footers (exact);
    the declared StructType in ``schemas.py`` is the contract tests assert
    against, not an inference override.

    Timestamp normalization: fixture parquet has carried both
    nano-precision and naive-micro (no ``isAdjustedToUTC``) timestamp
    encodings across driver regenerations. Naive micros surface as
    ``TIMESTAMP_NTZ`` under Spark 4's default inference, which
    ``unix_micros`` / ``session_window`` / watermarks reject and which
    would diverge from the LTZ columns our expressions produce. With
    the session pinned to UTC, casting NTZ → ``timestamp`` is a pure
    re-tag (same wall-clock field values DuckDB sees when it reads the
    same naive values), so oracle comparisons agree."""
    # defensive: oracle comparability requires UTC timestamp semantics
    # even when the caller's session (e.g. the driver's) didn't pin it;
    # session timezone is runtime-settable
    _ensure_session_conf(spark)
    if name in _NANO_TS_TABLES:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        from pyspark.sql import functions as F

        for f in df.schema.fields:
            if f.name in _NANO_TS_COLS and f.dataType.simpleString() == "bigint":
                # integer division — going through double would lose
                # precision beyond 2^53 ns and shift timestamps by 1 µs
                df = df.withColumn(f.name, F.expr(f"timestamp_micros({f.name} div 1000)"))
        return _ntz_to_utc(df)
    return _ntz_to_utc(spark.read.parquet(table_path(sf_dir, name)))


#: tables whose timestamp columns are nanosecond-precision in parquet
_NANO_TS_TABLES = frozenset({"events"})
_NANO_TS_COLS = frozenset({"ts"})


def _ntz_to_utc(df: DataFrame) -> DataFrame:
    """Re-tag any TIMESTAMP_NTZ column as session-tz (UTC) TIMESTAMP."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if not ntz:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


def spread(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Repartition a DataFrame that arrived under-parallel (the test
    fixtures are single-row-group parquet files → one input partition,
    so every downstream stage would run on one core). Only shuffles
    when the current partition count is well below the target — on
    properly laid-out multi-file data this is a no-op. Use before
    CPU-heavy per-row work (UDF fan-out, explode joins)."""
    spark = df.sparkSession
    target = min_parallelism or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def _ensure_session_conf(spark: SparkSession) -> None:
    """Pin the runtime-settable confs correctness and performance
    depend on, for sessions we did not build (the external driver's):
    UTC timestamps (oracle comparability), right-sized shuffle
    partitions instead of the 200 default, AQE."""
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:  # noqa: BLE001 — unset: resolver validates defaults
        tz = None
    if tz != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        # naive parquet timestamps should read as UTC instants, not NTZ
        # (Spark 4 default infers NTZ; _ntz_to_utc covers sessions where
        # this conf cannot take effect anymore)
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:  # noqa: BLE001
        pass
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_CPUS", "32")
            )
    except Exception:  # noqa: BLE001
        pass
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Write the 100 TB layout: a parquet dataset directory partitioned
    by ``partition_cols`` (e.g. an event-date column). Readers that
    filter on a partition column scan only the matching directories —
    ``PartitionFilters`` in the plan, verified by
    ``tests/test_io_layout.py`` — which is what makes the fact-table
    scans here (`lineitem`, `events`, `source_mention`) day-prunable
    at scale. Pair with ``operators/skew.write_bucketed`` when the
    table is also join-heavy on a high-cardinality key."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)

