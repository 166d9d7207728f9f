"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the POI spatial association query
(``c55_spatial_association``, the pipeline's third stage) on sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with its DuckDB oracle (see
``trendr_data_pipeline_spark/plans/``).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from trendr_data_pipeline_spark.plans.registry import all_queries  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package to Python workers (``addPyFile`` zip) so UDFs
    unpickle even when the driver process was not launched from the
    repo root — cloudpickle serializes module-level functions by
    reference, and workers must be able to import the module."""
    if getattr(_ensure_shipped, "_done", None) is spark.sparkContext:
        return
    import os
    import tempfile
    import zipfile

    pkg = Path(_REPO) / "trendr_data_pipeline_spark"
    # content-addressed archive name: two drivers running DIFFERENT
    # checkouts must not race each other into shipping the wrong
    # version (a fixed shared name is atomic against torn reads, but
    # not against cross-version interleaving)
    import hashlib

    h = hashlib.sha256()
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode())
        h.update(p.read_bytes())
    zpath = os.path.join(
        tempfile.gettempdir(), f"trendr_data_pipeline_spark_pkg_{h.hexdigest()[:16]}.zip"
    )
    # write to a private temp name, then atomic-rename into place:
    # concurrent driver processes (bench + pytest) share the stable
    # path, and a reader must never see a half-written archive
    fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
    os.close(fd)
    with zipfile.ZipFile(tmp, "w") as zf:
        for p in sorted(pkg.rglob("*.py")):
            zf.write(p, arcname=str(p.relative_to(Path(_REPO))))
    os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    _ensure_shipped._done = spark.sparkContext


def entry(spark: SparkSession) -> DataFrame:
    """POI spatial association (c55) on /root/testdata/sf0.001; driver
    checks rows>0."""
    from trendr_data_pipeline_spark.plans.spatial_ops import c55_spatial_association

    _ensure_shipped(spark)
    return c55_spatial_association(spark, SMOKE_SF_DIR)


def _wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    run.__name__ = getattr(fn, "__name__", "query")
    run.__doc__ = fn.__doc__
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _wrap(q.fn) for name, q in sorted(all_queries().items())}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL for each oracle-expressible query."""
    return {name: q.oracle for name, q in sorted(all_queries().items()) if q.oracle is not None}
