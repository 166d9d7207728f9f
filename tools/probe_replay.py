"""Component-level timing probe for the streaming replay-harness gates
(r13 optimization round, guide §1: measure first).

For each replay gate it reports, per run: total wall, per-phase wall
(wave staging / query start / each processAllAvailable), and the
micro-batch ledger from ``query.recentProgress`` (batch count,
per-batch durationMs, state rows) — so harness overhead (staging +
batch count x per-batch fixed cost) is attributed before anything is
changed. TMPDIR can be pointed at /dev/shm to A/B the scratch
filesystem.

Usage: TMPDIR=/dev/shm python tools/probe_replay.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

PROBE_QUERIES = [
    "c05_streaming_interval_join",
    "c18_streaming_momentum",
    "c58_stateful_dedup_replay",
    "c61_rescan_timeout_replay",
    "c62_cadence_replay",
    "zp02_streaming_sessions",
    "zp08_streaming_daily_stats",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = sys.argv[2:] or PROBE_QUERIES

    from pyspark.sql import SparkSession

    from trendr_data_pipeline_spark.plans.registry import all_queries
    from trendr_data_pipeline_spark.session import get_spark

    spark = get_spark("probe-replay")
    # same warmup as bench.py: JVM, parquet footers, Arrow worker pool
    import os

    from pyspark.sql import functions as F

    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    _probe = F.pandas_udf(lambda s: s, "long")
    spark.range(64).repartition(32).select(_probe(F.col("id"))).count()

    # monkey-patch StreamingQuery.processAllAvailable + .start to log timings
    from pyspark.sql import streaming

    ledger: list[dict] = []
    orig_paa = streaming.StreamingQuery.processAllAvailable
    orig_stop = streaming.StreamingQuery.stop

    def timed_paa(self):
        t0 = time.time()
        orig_paa(self)
        ledger.append({"phase": "processAllAvailable", "s": round(time.time() - t0, 3)})

    def timed_stop(self):
        try:
            for p in self.recentProgress:
                ledger.append(
                    {
                        "phase": "batch",
                        "batchId": p.get("batchId"),
                        "durationMs": p.get("durationMs"),
                        "numInputRows": p.get("numInputRows"),
                    }
                )
        except Exception:  # noqa: BLE001
            pass
        t0 = time.time()
        orig_stop(self)
        ledger.append({"phase": "stop", "s": round(time.time() - t0, 3)})

    streaming.StreamingQuery.processAllAvailable = timed_paa
    streaming.StreamingQuery.stop = timed_stop

    qs = all_queries()
    for name in only:
        for rep in range(2):
            ledger.clear()
            t0 = time.time()
            qs[name].fn(spark, sf_dir).collect()
            wall = round(time.time() - t0, 3)
            spark.catalog.clearCache()
            print(
                json.dumps(
                    {"query": name, "rep": rep, "wall_s": wall, "ledger": list(ledger)}
                )
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
