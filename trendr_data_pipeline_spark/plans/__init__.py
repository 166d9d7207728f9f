"""End-to-end query plans exposed through the driver contract.

Every module in this package registers queries with
:mod:`trendr_data_pipeline_spark.plans.registry`; importing the package
populates the registry. ``__spark_entry__`` (repo root) simply reads it.
The POI-stage queries are in ``spatial_ops``, ``grid_ops``,
``reference_ops`` and ``scalar_ops``, with the streaming gates in
``pipeline_ops``. ``events_ops`` (event analytics) and ``layout_ops``
(partition pruning and bucketed joins) are the last non-POI fixture
queries, and the rest is the corpus/LLM-data suite.
"""

from __future__ import annotations

from . import registry  # noqa: F401


def load_all() -> None:
    """Import every query module (idempotent)."""
    from . import text_ops  # noqa: F401
    from . import dedup_ops  # noqa: F401
    from . import reference_ops  # noqa: F401
    from . import events_ops  # noqa: F401
    from . import scalar_ops  # noqa: F401
    from . import pipeline_ops  # noqa: F401
    from . import decontam_ops  # noqa: F401
    from . import layout_ops  # noqa: F401
    from . import spatial_ops  # noqa: F401
    from . import grid_ops  # noqa: F401
