"""Benchmark self-tests.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark once per (workload, trace) pair at a small
input scale, about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(cwd: str, workload: str, trace: int, extra=()) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_emits_every_metric(workload, trace):
    p = _run(ROOT, workload, trace, ("--scale", "0.3"))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)
    if not trace:
        for m in SPEC["end_to_end"]:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_merge_check_catches_a_stale_row():
    import checks
    import refresh

    initial = refresh.initial_table(5, 200)
    waves = refresh.waves(5, initial, 3, 20)
    allrows = pd.concat([initial] + waves).sort_values(refresh.VERSION)
    good = allrows.groupby(refresh.KEY, as_index=False).tail(1)
    assert checks.check_merge_target(good, initial, waves, refresh.KEY, refresh.VERSION) == []
    stale = good.copy()
    hit = stale[refresh.KEY].isin(waves[-1][refresh.KEY]).to_numpy().nonzero()[0][0]
    stale.iloc[hit, stale.columns.get_loc("rating")] += 1.0
    assert checks.check_merge_target(stale, initial, waves, refresh.KEY, refresh.VERSION)


def test_generator_is_seeded_and_fills_every_template():
    import checks
    import gen

    a, b = gen.generate(11, 300, 900, n_cells=60), gen.generate(11, 300, 900, n_cells=60)
    pd.testing.assert_frame_equal(a.candidates, b.candidates)
    assert a.truth_area == b.truth_area
    for t in checks.TEMPLATES:
        assert checks.template_topk(a.poi, t)
    mega = a.candidates["poi_id"].value_counts()
    assert mega.iloc[0] >= gen.SHARE_MEGA * len(a.candidates)
