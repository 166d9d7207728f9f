"""Focused pins for the r13 optimization-round internals changes.

O1 — glibc allocator tuning (`_malloctune`): applied at package import,
opt-out honored. O2 — the replay harness pins
``spark.sql.streaming.noDataMicroBatches.enabled=false`` for the replay
query's lifetime; the session value must be RESTORED afterwards (a leak
would silently change watermark semantics for the other streaming
harnesses sharing the session).
"""

from __future__ import annotations

import subprocess
import sys


def test_malloctune_applied_at_package_import():
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import trendr_data_pipeline_spark as p;"
            "from trendr_data_pipeline_spark import _malloctune as m;"
            "print(m._applied)",
        ],
        capture_output=True,
        text=True,
        check=True,
    )
    # glibc on this box: the import hook must have applied the tunables
    assert out.stdout.strip() == "True"


def test_malloctune_opt_out_via_env():
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import os; os.environ['SPARK_GRAFT_MALLOC_THRESHOLD']='0';"
            "import trendr_data_pipeline_spark as p;"
            "from trendr_data_pipeline_spark import _malloctune as m;"
            "print(m._applied, m.tune_malloc())",
        ],
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "False False"


def test_replay_waves_restores_session_confs(spark):
    from trendr_data_pipeline_spark.plans.pipeline_ops import _replay_waves

    sp_before = spark.conf.get("spark.sql.shuffle.partitions")
    ndmb_before = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled"
    )

    waves = [
        spark.createDataFrame([(i, f"v{i}") for i in rng], "k int, v string")
        for rng in (range(3), range(3, 5))
    ]
    out = _replay_waves(
        spark,
        waves,
        lambda s: s.select("k", "v"),
        "r13opt_test_",
        "r13opt_restore_check",
        shuffle_partitions="4",
    )
    assert sorted(r.k for r in out.collect()) == [0, 1, 2, 3, 4]
    assert spark.conf.get("spark.sql.shuffle.partitions") == sp_before
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
        == ndmb_before
    )
