#!/usr/bin/env python3
"""POI-pipeline benchmark.

    python3 perfbench/run.py --workload {poi_cycle,incremental_refresh}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from
``--seed``, sets up (session start, staging, warm-up), measures for
``--seconds``, checks every output, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it stamps the run (nproc, seed, input sizes, setup
parts). Scratch data lives in ``.perfbench_work/`` and traces and
result stamps are kept in ``.perfbench_out/``, both under the root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shlex
import shutil
import subprocess
import sys
import time

import checks
import gen
from common import RssSampler, StealSampler, Tracer, descendants, median, pct, spark_counts

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "trendr_data_pipeline_spark"

#: input sizes per workload
#: 50 candidates per POI, the reference shape of the mention candidates
CYCLE_POIS, CYCLE_CANDIDATES = 200, 10000
#: a wave's batch takes about 1 s on 4 cores, so a 2 s interval lets a
#: batch slow down 2x before waves queue behind it (a queue turns a
#: slow spell of the host into a lag that grows wave by wave); the
#: first 10 waves warm the stream and the JIT up, untimed
REFRESH_POIS, REFRESH_WAVE_ROWS, REFRESH_INTERVAL_S, REFRESH_WARM_WAVES = 10000, 30, 2.0, 10
#: the refresh lag's end-to-end metrics count the waves during whose lag
#: the hypervisor gave other guests under STEAL_MAX of the CPU time (a
#: 7 % steal share made batches 40 % slower), and at least the MIN_KEPT
#: waves with the least steal
STEAL_MAX, MIN_KEPT = 0.02, 4
#: how often set-up staging is repeated (its median is reported)
STAGE_REPEATS = 3

END_TO_END_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms",
                    "items_per_s": "1/s", "peak_rss_mb": "MB"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point every scratch path of Spark, the JVM and Python at
    ``work`` and make the package importable in Python workers. Must
    run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    # the package's 8g default is sized for a dedicated host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # every JVM (the launcher's too) keeps its temp files in the work
    # dir and writes no perf-data file. A fixed young generation keeps
    # G1 from sizing it by measured pause times, which made the JVM's
    # resident memory vary by a fifth between runs of the same inputs.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn384m"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


def timed(fn, *a, **kw) -> tuple[float, object]:
    t = time.perf_counter()
    out = fn(*a, **kw)
    return time.perf_counter() - t, out


# ---------------------------------------------------------------------------
# workloads: each returns (setup parts, ops attempted, ops failed,
# end-to-end values, per-layer values, stamp). They import the modules
# that import the package under test (poi_cycle, nearby, refresh) only
# once main() has checked for it and put it on sys.path.
# ---------------------------------------------------------------------------


def wl_poi_cycle(spark, args, work: str, tracer, steal):
    import poi_cycle as pc

    times = []
    for k in range(STAGE_REPEATS):
        d = os.path.join(work, f"in{k}")
        t, inp = timed(gen.generate, args.seed, int(CYCLE_POIS * args.scale),
                       int(CYCLE_CANDIDATES * args.scale))
        times.append(t + timed(pc.stage, spark, inp, d)[0])
    stage_s, tb = median(times), pc.Tables.read(spark, d)
    out = os.path.join(work, "out")
    warm_s, _ = timed(pc.run_cycle, spark, tb, out)
    attempted = failed = 0
    problems: list[str] = []

    def check():
        nonlocal attempted, failed
        bad = checks.check_cycle(spark, inp, out, pc.LIMIT_PER_POI, pc.DUE_LIMIT)
        attempted += 1
        failed += bool(bad)
        problems.extend(bad)

    plain: list[float] = []
    layer: dict = {}
    t_timed = time.time()
    if not args.trace:
        # as many whole cycles as fit in the window, and at least one:
        # a cycle that would end past the window is not started
        while not plain or sum(plain) + median(plain) <= args.seconds:
            plain.append(timed(pc.run_cycle, spark, tb, out)[0])
            check()
    else:
        mt = tb.materialised()
        traced: list[float] = []
        counts: dict = {}
        jobs, tasks, written = [], [], []
        k = 0
        while sum(plain) + sum(traced) < args.seconds or not plain or not traced:
            counts = pc.run_cycle_traced(spark, mt, out, tracer, f"cycle{k}")
            root = next(sp for sp in reversed(tracer.spans) if sp.name == "cycle")
            traced.append(root.end - root.start)
            check()
            spark.sparkContext.setJobGroup(f"plain{k}", "untraced cycle")
            plain.append(timed(pc.run_cycle, spark, tb, out)[0])
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            j, t = spark_counts(spark.sparkContext, f"plain{k}")
            jobs.append(j)
            tasks.append(t)
            written.append(_bytes_under(out))
            check()
            k += 1
        selfs = _self_times_by_name(tracer)
        layer = _query_layers(spark, inp, out, tracer, args.seed)
        attempted += layer.pop("attempted")
        failed += layer.pop("failed")
        layer |= {
            "grid.due_cells_s": selfs["grid.due_cells"],
            "grid.update_scanned_s": selfs["grid.update_scanned"],
            "grid.split_saturated_s": selfs["grid.split_saturated"],
            "grid.cells_split": counts["cells_split"],
            "pipeline.ingest_places_s": selfs["pipeline.ingest_places"],
            "ingestion.kept_ratio": counts["places_kept"] / max(counts["places_scanned"], 1),
            "spatial.associate_s": selfs["spatial.associate"],
            "spatial.assigned_ratio": counts["assigned"] / max(counts["pois"], 1),
            "mentions.score_s": selfs["mentions.score"],
            "mentions.dedup_cap_s": selfs["mentions.dedup_cap"],
            "mentions.accept_ratio": counts["accepted"] / len(inp.candidates),
            "classifier.classify_s": selfs["classifier.classify"],
            "classifier.percentiles_s": selfs["classifier.percentiles"],
            "collections.build_s": selfs["collections.build"],
            "pipeline.write_s": selfs["pipeline.write"],
            "pipeline.spark_jobs": median(jobs),
            "pipeline.spark_tasks": median(tasks),
            "pipeline.bytes_written": median(written),
            "trace.overhead_ms": (median(traced) - median(plain)) * 1000.0,
        }
    e2e = {
        "op_p50_ms": median(plain) * 1000.0,
        "op_p90_ms": pct(plain, 90) * 1000.0,
        "items_per_s": len(inp.candidates) / median(plain),
    }
    stamp = {"sizes": inp.sizes(), "cycles_ms": [round(x * 1000.0) for x in plain],
             "steal": steal.share(t_timed, time.time()), "problems": problems[:5]}
    return {"stage": stage_s, "warmup": warm_s}, attempted, failed, e2e, layer, stamp


def _query_layers(spark, inp, out: str, tracer, seed: int, per_kind: int = 3) -> dict:
    """The app's read operations against a cycle's outputs, each run
    ``per_kind`` times in a span of its own: the query layers' latency
    and the Spark jobs and tasks one query launches."""
    import nearby

    q = nearby.Queries(spark, inp, out)
    rng = random.Random(seed)
    rows = []
    for kind, _ in nearby.MIX:
        for i in range(per_kind + 1):
            pick = q.pick_kind(rng, kind)
            lat, got, jobs, tasks = q.run_traced(tracer, *pick, f"{kind}{i}")
            if i:  # the first query of each kind warms its plan up
                rows.append((kind, lat, jobs, tasks, bool(q.check(*pick, got))))
    lat_ms = {k: median([r[1] for r in rows if r[0] == k]) * 1000.0 for k, _ in nearby.MIX}
    return {
        "spatial.radius_join_ms": lat_ms["radius"],
        "collections.topk_ms": lat_ms["topk"],
        "mentions.enrich_names_ms": lat_ms["name"],
        "io.spark_jobs_per_query": sum(r[2] for r in rows) / len(rows),
        "io.spark_tasks_per_query": sum(r[3] for r in rows) / len(rows),
        "attempted": len(rows),
        "failed": sum(r[4] for r in rows),
    }


def wl_incremental_refresh(spark, args, work: str, tracer, steal):
    import refresh

    n_timed = max(2, math.ceil(args.seconds / REFRESH_INTERVAL_S))
    times = []
    for k in range(STAGE_REPEATS):
        d = os.path.join(work, f"r{k}")
        t0 = time.perf_counter()
        r = refresh.Refresh(spark, d, args.seed, int(REFRESH_POIS * args.scale),
                            REFRESH_WARM_WAVES + n_timed, int(REFRESH_WAVE_ROWS * args.scale))
        r.stage(os.path.join(d, "stage"))
        times.append(time.perf_counter() - t0)
    stage_s = median(times)
    t0 = time.perf_counter()
    r.start()
    try:
        for i in range(REFRESH_WARM_WAVES):
            refresh.land(r.waves[i], r.schema, r.wave_dir, f"w{i:04d}")
            r.query.processAllAvailable()
        warm_s = time.perf_counter() - t0
        before = _parquet_inodes(r.target)
        log = r.open_loop(r.waves[REFRESH_WARM_WAVES:], REFRESH_INTERVAL_S, REFRESH_WARM_WAVES)
        batches = r.batches()
    finally:
        r.query.stop()
    after = _parquet_inodes(r.target)

    commit = {f: b["end"] for b in batches.values() for f in b["files"]}
    done = [w for w in log if w["name"] in commit]
    for w in done:
        w["lag"] = commit[w["name"]] - w["due"]
        w["steal"] = steal.share(w["due"], commit[w["name"]])
    missing = len(log) - len(done)
    problems = checks.check_merge_target(r.read_target(), r.initial, r.waves,
                                         refresh.KEY, refresh.VERSION)
    if missing:
        problems.append(f"{missing} waves never reached a committed batch")
    attempted = len(log)
    failed = attempted if problems else 0
    timed_batches = [b for b in batches.values()
                     if any(f in {w["name"] for w in log} for f in b["files"])]
    rows = sum(w["rows"] for w in log)
    kept = [w for i, w in enumerate(sorted(done, key=lambda w: w["steal"]))
            if w["steal"] < STEAL_MAX or i < MIN_KEPT]
    lags = [w["lag"] for w in kept]
    kept_batches = [b for b in timed_batches if {w["name"] for w in kept} & set(b["files"])]
    kept_files = {f for b in kept_batches for f in b["files"]}
    busy = sum(b["trigger_ms"] for b in kept_batches) / 1000.0
    layer = {}
    if args.trace:
        old_inodes = {ino for ino, _ in before.values()}
        new = {p: n for p, (ino, n) in after.items() if ino not in old_inodes}
        backlog = [
            sum(1 for w in log if w["due"] <= b["start"] and commit.get(w["name"], math.inf) > b["start"])
            for b in timed_batches
        ]
        # the stream's spans come from its own records, after the run
        for b in timed_batches:
            tracer.add("streaming.batch", b["start"], b["end"], "refresh",
                       rows=b["rows"], files=b["files"])
        for w in log:
            if w["name"] in commit:
                tracer.add("streaming.wave_lag", w["due"], commit[w["name"]], "refresh", wave=w["name"])
        layer = {
            "streaming.add_batch_ms": median([b["add_batch_ms"] for b in timed_batches]),
            "streaming.trigger_ms": median([b["trigger_ms"] for b in timed_batches]),
            "streaming.batches": len(timed_batches),
            "streaming.rows_per_batch": rows / max(len(timed_batches), 1),
            "streaming.files_rewritten": len(new),
            "streaming.files_linked": len(after) - len(new),
            "streaming.rewrite_amp": sum(new.values()) / rows,
            "streaming.backlog_waves": max(backlog, default=0),
            "streaming.generator_late_ms": max(w["landed"] - w["due"] for w in log) * 1000.0,
        }
    e2e = {
        "op_p50_ms": median(lags) * 1000.0 if lags else 0.0,
        "op_p90_ms": pct(lags, 90) * 1000.0 if lags else 0.0,
        "items_per_s": sum(w["rows"] for w in log if w["name"] in kept_files) / busy if busy else 0.0,
    }
    stamp = {"sizes": {"pois": len(r.initial), "wave_rows": len(r.waves[0]), "waves": n_timed,
                       "interval_s": REFRESH_INTERVAL_S},
             "batches": len(timed_batches), "kept": len(kept),
             "steal": steal.share(log[0]["due"], max(commit.values(), default=log[-1]["due"])),
             "wave_steal": [round(w["steal"], 4) for w in done],
             "lags_ms": [round(w["lag"] * 1000.0) for w in done],
             "batch_ms": [b["trigger_ms"] for b in timed_batches], "problems": problems[:5]}
    return {"stage": stage_s, "warmup": warm_s}, attempted, failed, e2e, layer, stamp


WORKLOADS = {
    "poi_cycle": wl_poi_cycle,
    "incremental_refresh": wl_incremental_refresh,
}

#: every per-layer metric with its unit; a workload reports 0 for the
#: layers it does not call
PER_LAYER_UNITS = {
    "grid.due_cells_s": "s", "grid.update_scanned_s": "s", "grid.split_saturated_s": "s",
    "grid.cells_split": "count", "pipeline.ingest_places_s": "s", "ingestion.kept_ratio": "ratio",
    "spatial.associate_s": "s", "spatial.assigned_ratio": "ratio", "mentions.score_s": "s",
    "mentions.dedup_cap_s": "s", "mentions.accept_ratio": "ratio", "classifier.classify_s": "s",
    "classifier.percentiles_s": "s", "collections.build_s": "s", "pipeline.write_s": "s",
    "pipeline.spark_jobs": "count", "pipeline.spark_tasks": "count", "pipeline.bytes_written": "bytes",
    "streaming.add_batch_ms": "ms", "streaming.trigger_ms": "ms", "streaming.batches": "count",
    "streaming.rows_per_batch": "count", "streaming.files_rewritten": "count",
    "streaming.files_linked": "count", "streaming.rewrite_amp": "ratio",
    "streaming.backlog_waves": "count", "streaming.generator_late_ms": "ms",
    "spatial.radius_join_ms": "ms", "collections.topk_ms": "ms", "mentions.enrich_names_ms": "ms",
    "io.spark_jobs_per_query": "count", "io.spark_tasks_per_query": "count",
    "trace.overhead_ms": "ms",
}


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _self_times_by_name(tracer) -> dict[str, float]:
    """Median self time per span name, in seconds."""
    selfs = tracer.self_times()
    by: dict[str, list[float]] = {}
    for s in tracer.spans:
        by.setdefault(s.name, []).append(selfs[s.span_id])
    return {k: median(v) for k, v in by.items()}


def _bytes_under(path: str) -> int:
    """Bytes of the parquet files under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


def _parquet_inodes(target: str) -> dict[str, tuple[int, int]]:
    """parquet file -> (inode, rows) under a merge target."""
    import pyarrow.parquet as pq

    out = {}
    for dirpath, _, files in os.walk(target):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = (os.stat(p).st_ino, pq.ParquetFile(p).metadata.num_rows)
    return out


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM it launched (and the Python
    workers the JVM forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (the benchmark runs at 1; self-tests shrink it)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    sys.path[:0] = [ROOT, HERE]

    from trendr_data_pipeline_spark.session import get_spark

    try:
        with RssSampler() as rss, StealSampler() as steal:
            session_s, spark = timed(get_spark, "perfbench", nproc())
            try:
                tracer = Tracer(spark, bool(args.trace))
                setup, attempted, failed, e2e, layer, stamp = WORKLOADS[args.workload](
                    spark, args, work, tracer, steal)
            finally:
                shutdown(spark)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if args.trace:
            tracer.dump(os.path.join(out_dir, f"spans-{tag}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))

    setup_s = session_s + setup["stage"] + setup["warmup"]
    if args.trace:
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        vals = {**e2e, "setup_s": setup_s, "peak_rss_mb": rss.peak_mb}
        metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in END_TO_END_UNITS.items()}
    stamp = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "nproc": nproc(), "session_s": session_s,
             "stage_s": setup["stage"], "warmup_s": setup["warmup"],
             "peak_rss_parts_mb": rss.parts_mb, **stamp}
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"result-{tag}.json"), "w") as fh:
        json.dump({"stamp": stamp, "metrics": metrics}, fh, indent=1)
    print("perfbench stamp: " + json.dumps(stamp))
    result = {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
              "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
