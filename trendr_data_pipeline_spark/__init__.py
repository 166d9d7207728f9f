"""trendr_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, idiomatic-Spark re-expression of the query and
data-processing capabilities of the trendr.data-pipeline reference
(POI trend-discovery ETL), plus corpus/LLM-training-data operators
(dedup, embedding near-dup screening, text analysis) that no POI
path calls. The only published-directory swap is the refresh sink's
per-bucket swap (``streaming/jobs``).

Package map
-----------
- ``session``    : tuned SparkSession builder (AQE, Arrow, UTC).
- ``schemas``    : StructType registry for every table (SURVEY §1.4).
- ``io``         : parquet readers/writers for the fixture tables.
- ``functions/`` : column-expression library (text ST*, dates DT*,
                   math/geo M* from SURVEY §2.7).
- ``operators/`` : composed dataflow operators (joins, dedup,
                   similarity, classifier aggregates, spatial).
- ``plans/``     : end-to-end query definitions used by the driver
                   contract (``__spark_entry__.queries()``).
- ``streaming/`` : Structured Streaming surface (SS* from SURVEY §2.9).
"""

__version__ = "0.1.0"

# allocator tuning at import: covers the driver AND every PySpark
# worker (workers import the package when unpickling UDFs) — see
# _malloctune's measured rationale; no-op off glibc
from . import _malloctune as _mt

_mt.tune_malloc()
del _mt
