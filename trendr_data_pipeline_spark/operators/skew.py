"""Co-located join utility.

AQE's skew-join handling (``spark.sql.adaptive.skewJoin``) splits
oversized sort-merge partitions at runtime and is enabled by the
session defaults. :func:`write_bucketed` persists a table
hash-bucketed (and sorted) by its join key so repeated large-large
joins on that key run WITHOUT an exchange on either side: the scan's
bucketing is the join's required distribution. This is the
co-location story for fact-fact joins too big to broadcast: pay the
shuffle once at write time, never per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Persist ``df`` hash-bucketed by ``key`` into ``buckets`` files
    per partition (external table at ``path`` when given). A
    subsequent equi-join between two tables bucketed by the same key
    into the same bucket count needs NO exchange — Catalyst recognizes
    the scan's HashPartitioning as the join's required distribution
    (sorted buckets also drop the per-task sort)."""
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
