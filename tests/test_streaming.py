"""Streaming jobs replayed over the events fixture must agree with
their batch twins (SURVEY §5 test plan, item 5)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF
from trendr_data_pipeline_spark.io import read_table
from trendr_data_pipeline_spark.streaming import jobs


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """Stage a directory holding only events.parquet (file-stream source)."""
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(os.path.join(SMOKE_SF, "events.parquet"), d / "events.parquet")
    return str(d)


def test_daily_counters_match_batch(spark, events_dir):
    got = jobs.run_to_memory(
        spark, events_dir, jobs.daily_usage_counters, "t_daily", output_mode="complete"
    )
    ev = read_table(spark, SMOKE_SF, "events")
    want = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"),
        )
    )
    g = {(r["day"], r["event_type"]): (r["n_events"], r["total_value"]) for r in got.collect()}
    w = {(r["day"], r["event_type"]): (r["n_events"], r["total_value"]) for r in want.collect()}
    assert g == w


def test_session_windows_match_batch(spark, events_dir):
    got = jobs.run_to_memory(
        spark, events_dir, jobs.session_windows, "t_sessions", output_mode="complete"
    )
    # batch twin: e02 sessionization (gap 30 min)
    from trendr_data_pipeline_spark.plans.events_ops import e02_sessionization

    want = e02_sessionization(spark, SMOKE_SF)
    g = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in got.collect()
    }
    w = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in want.collect()
    }
    # session_window end = last_ts + gap; starts and counts must agree
    assert g == w


def test_sliding_momentum_runs(spark, events_dir):
    got = jobs.run_to_memory(
        spark, events_dir, jobs.sliding_value_momentum, "t_momentum", output_mode="complete"
    )
    rows = got.collect()
    assert rows
    # every (window, user) sum must equal the batch range sum
    ev = read_table(spark, SMOKE_SF, "events")
    sample = rows[:5]
    for r in sample:
        win_end = r["win_end"]
        want = (
            ev.filter(
                (F.col("ts") >= F.lit(win_end) - F.expr("INTERVAL 14 DAYS"))
                & (F.col("ts") < F.lit(win_end))
                & (F.col("user_id") == r["user_id"])
            )
            .agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double"))
            .first()[0]
        )
        assert r["value_14d"] == pytest.approx(want, abs=1e-9)


def test_stateful_topn_dedup(spark, events_dir):
    got = jobs.run_to_memory(
        spark, events_dir, lambda s: jobs.topn_dedup_stateful(s, max_per_key=2), "t_topn"
    )
    rows = got.collect()
    # ≤2 per (user, type), and they are the earliest two by (ts, event_id)
    ev = read_table(spark, SMOKE_SF, "events").collect()
    from collections import defaultdict

    first_two = defaultdict(list)
    for e in sorted(ev, key=lambda e: (e["ts"], e["event_id"])):
        k = (e["user_id"], e["event_type"])
        if len(first_two[k]) < 2:
            first_two[k].append(e["event_id"])
    got_by_key = defaultdict(set)
    for r in rows:
        got_by_key[(r["user_id"], r["event_type"])].add(r["event_id"])
    assert all(len(v) <= 2 for v in got_by_key.values())
    assert {k: set(v) for k, v in first_two.items()} == dict(got_by_key)


def test_cadence_gated_append(spark, events_dir):
    """SS5: ≥interval gap between emitted events per key."""
    from trendr_data_pipeline_spark.streaming.jobs import cadence_gated_append

    got = jobs.run_to_memory(
        spark, events_dir, lambda s: cadence_gated_append(s, interval_days=7.0), "t_cadence"
    )
    rows = got.collect()
    assert rows
    from collections import defaultdict

    by_key = defaultdict(list)
    for r in rows:
        by_key[(r["user_id"], r["event_type"])].append(r["ts"])
    for ts_list in by_key.values():
        ts_sorted = sorted(ts_list)
        for a, b in zip(ts_sorted, ts_sorted[1:]):
            assert (b - a).total_seconds() >= 7 * 86400
    # oracle: greedy first-fit over the sorted stream
    ev = sorted(read_table(spark, SMOKE_SF, "events").collect(),
                key=lambda e: (e["ts"], e["event_id"]))
    want = defaultdict(list)
    last = {}
    for e in ev:
        k = (e["user_id"], e["event_type"])
        if k not in last or (e["ts"] - last[k]).total_seconds() >= 7 * 86400:
            want[k].append(e["ts"])
            last[k] = e["ts"]
    assert {k: sorted(v) for k, v in by_key.items()} == {k: sorted(v) for k, v in want.items()}


def test_rescan_scheduler_ss7(spark, tmp_path):
    """SS7 streaming rescan timers (EventTimeTimeout) vs the batch
    update_scanned twin: scan rows update cell state exactly as the
    batch operator does; cells whose rescan deadline passes the
    watermark with no newer scan fire a 'due' row (the reference's
    next_due_at <= now poll, h3_scheduler.py:516-526, push-based)."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "scans"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    w2 = dt.datetime(2024, 1, 11)
    w3 = dt.datetime(2024, 1, 31)

    def write_wave(i, rows):
        pdf = pd.DataFrame(rows, columns=["h3", "results", "ts"])
        tbl = pa.table(
            {
                "h3": pa.array(pdf["h3"], pa.string()),
                "results": pa.array(pdf["results"], pa.int64()),
                "ts": pa.array(pdf["ts"], pa.timestamp("us")),
            }
        )
        pq.write_table(tbl, d / f"wave{i}.parquet")

    stream = spark.readStream.schema("h3 string, results long, ts timestamp").parquet(str(d))
    write_wave(1, [("A", 10, t0), ("B", 100, t0)])
    q = (
        jobs.rescan_scheduler(stream, rescan_days=7.0, scan_cap=60)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ss7_rescan")
        .start()
    )
    try:
        q.processAllAvailable()
        write_wave(2, [("B", 20, w2)])
        q.processAllAvailable()
        write_wave(3, [("C", 5, w3)])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("ss7_rescan").collect()

    got_scans = {
        (r["h3"], r["attempts"]): (r["status"], r["results_last"], r["next_due_at"])
        for r in rows
        if not r["due"]
    }
    week = dt.timedelta(days=7)
    # batch-twin expectations: update_scanned semantics per wave
    # (status scanned/saturated at cap 60, attempts cumulative,
    # next_due = scan time + 7d)
    assert got_scans == {
        ("A", 1): ("scanned", 10, t0 + week),
        ("B", 1): ("saturated", 100, t0 + week),
        ("B", 2): ("scanned", 20, w2 + week),
        ("C", 1): ("scanned", 5, w3 + week),
    }
    # due rows: A armed at t0+7d, never rescanned -> fires once the
    # watermark (w2 - 1h) passes; B re-armed at w2+7d -> fires after
    # w3; C's deadline (w3+7d) never passes the final watermark
    got_due = {(r["h3"], r["attempts"], r["next_due_at"]) for r in rows if r["due"]}
    assert got_due == {("A", 1, t0 + week), ("B", 2, w2 + week)}

    # cross-check against the batch twin operator on the full scan log
    from trendr_data_pipeline_spark.operators.grid import update_scanned

    state = spark.createDataFrame(
        [("A", "pending", False, None, None, None, 0), ("B", "pending", False, None, None, None, 0),
         ("C", "pending", False, None, None, None, 0)],
        "h3 string, status string, saturated boolean, last_scanned_at timestamp,"
        " next_due_at timestamp, results_last long, attempts long",
    )
    for when, scans in [
        (t0, [("A", 10), ("B", 100)]),
        (w2, [("B", 20)]),
        (w3, [("C", 5)]),
    ]:
        sdf = spark.createDataFrame(scans, "h3 string, results long")
        state = update_scanned(state, sdf, F.lit(when.isoformat()).cast("timestamp"))
    final = {r["h3"]: (r["status"], r["attempts"], r["results_last"], r["next_due_at"])
             for r in state.collect()}
    # the last streaming scan row per cell must equal the batch state
    last_stream = {}
    for r in sorted((r for r in rows if not r["due"]), key=lambda r: r["attempts"]):
        last_stream[r["h3"]] = (r["status"], r["attempts"], r["results_last"], r["next_due_at"])
    assert last_stream == final


def test_interval_join_stream_matches_batch(spark, events_dir):
    """SS11 stream-stream interval join == batch bucketed interval
    join (e08's operator) on the same replayed fixture."""
    from trendr_data_pipeline_spark.operators.temporal import bucketed_interval_join

    a_stream = jobs.events_stream(spark, events_dir)
    p_stream = jobs.events_stream(spark, events_dir)
    q = (
        jobs.interval_join_stream(a_stream, p_stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_interval_join")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["a_event_id"], r["p_event_id"])
        for r in spark.table("t_interval_join").collect()
    }

    ev = read_table(spark, SMOKE_SF, "events")
    anchors = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    want = {
        (r["event_id"], r["p_event_id"])
        for r in bucketed_interval_join(
            anchors,
            ev.select("event_id", "user_id", "ts", "event_type", "value"),
            on="user_id",
            window_seconds=6 * 3600,
            how="inner",
        ).collect()
    }
    assert got == want and len(got) > 0


def test_exact_dedup_stream_keeps_one_per_key(spark, events_dir):
    """SS12: replaying the whole fixture in one micro-batch, the
    surviving row set is exactly one (the earliest-read) row per key,
    and every key from the batch side is represented."""
    got = jobs.run_to_memory(
        spark, events_dir, jobs.exact_dedup_stream, "t_exact_dedup", output_mode="append"
    )
    ev = read_table(spark, SMOKE_SF, "events")
    got_keys = [(r["user_id"], r["event_type"]) for r in got.collect()]
    want_keys = {
        (r["user_id"], r["event_type"])
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert len(got_keys) == len(set(got_keys)) == len(want_keys)
    assert set(got_keys) == want_keys


# ---------------------------------------------------------------------------
# r5: checkpoint recovery — kill a query mid-replay, restart from the
# checkpoint dir, assert output equals the uninterrupted run
# (exactly-once through the crash-safe sink). The r4 verdict's item 4.
# ---------------------------------------------------------------------------


@pytest.fixture()
def split_events_dir(spark, tmp_path):
    """Events fixture split into 6 parquet files so maxFilesPerTrigger=1
    yields a 6-micro-batch replay the test can interrupt."""
    d = str(tmp_path / "events_split")
    (
        spark.read.parquet(os.path.join(SMOKE_SF, "events.parquet"))
        .repartition(6)
        .write.parquet(d)
    )
    return d


def _run_until_batches(q, min_batches, timeout_s=120):
    """Let a started streaming query process at least ``min_batches``
    micro-batches, then stop it (mid-stream — later files unread)."""
    import time

    deadline = time.time() + timeout_s
    while time.time() < deadline:
        done = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(done) >= min_batches:
            break
        time.sleep(0.2)
    else:
        raise AssertionError("stream never reached the target batch count")
    q.stop()
    q.awaitTermination(60)


def test_daily_counters_checkpoint_restart(spark, split_events_dir, tmp_path):
    """SS2 (p08's aggregation) restart: the windowed-aggregation STATE
    STORE must recover from the checkpoint — stop after ~2 of 6
    batches, restart, and the complete-mode output equals the batch
    aggregate with no double counting of replayed files."""
    from trendr_data_pipeline_spark.plans._numeric import dsum
    from trendr_data_pipeline_spark.streaming import jobs

    out_dir = str(tmp_path / "daily_out")
    ckpt = str(tmp_path / "ckpt_daily")

    def write_full(batch, epoch_id):
        batch.write.mode("overwrite").parquet(out_dir)

    def start():
        stream = jobs.events_stream(spark, split_events_dir, max_files_per_trigger=1)
        return (
            jobs.daily_usage_counters(stream)
            .writeStream.foreachBatch(write_full)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        _run_until_batches(q, 2)
    finally:
        if q.isActive:
            q.stop()

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    ev = read_table(spark, SMOKE_SF, "events")
    want = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )
    got = {
        (r["day"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in spark.read.parquet(out_dir).collect()
    }
    wnt = {
        (r["day"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in want.collect()
    }
    assert got == wnt


# ---------------------------------------------------------------------------
# r5: bucket-partitioned merge sink — the file-pruned upsert shape
# (per-batch cost O(affected buckets), not O(table))
# ---------------------------------------------------------------------------


def _wave_dir(tmp_path):
    d = tmp_path / "waves"
    d.mkdir()
    return str(d)


def _write_wave(spark, d, i, rows):
    """Stage a (k, ts, v) wave file into the watched dir ``d``
    atomically, as ``wave{i}.parquet`` (see ``stage_stream_file``)."""
    from tests.fixtures import stage_stream_file

    stage_stream_file(spark, d, f"wave{i}", rows, "k string, ts timestamp, v double")


def _kv_stream(spark, d):
    return spark.readStream.schema("k string, ts timestamp, v double").parquet(d)


def test_partitioned_merge_sink_file_pruning_within_bucket(spark, tmp_path):
    """r6 degeneracy fix: with many range-disjoint files in ONE
    bucket, a one-key update must rewrite only the file whose
    [min,max] key range contains it — every other file survives as
    the SAME inode (hard-linked, zero data movement), which is what
    makes a uniform-key batch O(hit files), not O(affected buckets'
    data)."""
    import datetime as dt

    from trendr_data_pipeline_spark.streaming.jobs import (
        partitioned_merge_sink,
        read_merge_target,
    )

    d = _wave_dir(tmp_path)
    target = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ck")
    t0 = dt.datetime(2025, 1, 1)
    # one bucket, 100 zero-padded keys, ≤10 rows per file → ~10
    # range-disjoint key-sorted files
    _write_wave(spark, d, 1, [(f"k{i:03d}", t0, float(i)) for i in range(100)])
    q = partitioned_merge_sink(
        _kv_stream(spark, d), target, key="k", version_col="ts",
        checkpoint_dir=ckpt, buckets=1, max_records_per_file=10,
    )
    try:
        q.processAllAvailable()
        bdir = os.path.join(target, "bucket=0")
        files_before = {
            f: os.stat(os.path.join(bdir, f)).st_ino
            for f in os.listdir(bdir)
            if f.endswith(".parquet")
        }
        assert len(files_before) >= 8, "expected ~10 range-disjoint files"
        _write_wave(spark, d, 2, [("k042", t0 + dt.timedelta(days=1), 4242.0)])
        q.processAllAvailable()
    finally:
        q.stop()
    files_after = {
        f: os.stat(os.path.join(bdir, f)).st_ino
        for f in os.listdir(bdir)
        if f.endswith(".parquet")
    }
    kept = [f for f in files_before if files_after.get(f) == files_before[f]]
    # exactly one file's range contained k042 → rewritten; the rest
    # hard-linked through the swap unchanged
    assert len(kept) == len(files_before) - 1, (len(kept), len(files_before))
    got = {(r["k"], r["v"]) for r in read_merge_target(spark, target).collect()}
    want = {(f"k{i:03d}", float(i)) for i in range(100) if i != 42} | {("k042", 4242.0)}
    assert got == want


def test_partitioned_merge_sink_upserts_and_prunes(spark, tmp_path):
    """Correctness: latest row per key wins across batches.
    Pruning: a batch touching ONE key must leave every other bucket
    directory byte-identical (only the touched bucket's files
    change)."""
    import datetime as dt

    from trendr_data_pipeline_spark.streaming.jobs import (
        partitioned_merge_sink,
        read_merge_target,
    )

    d = _wave_dir(tmp_path)
    target = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ck")
    t0 = dt.datetime(2025, 1, 1)

    def snap():
        out = {}
        for b in os.listdir(target):
            if not b.startswith("bucket="):
                continue
            p = os.path.join(target, b)
            out[b] = sorted(
                (f, os.path.getmtime(os.path.join(p, f)), os.path.getsize(os.path.join(p, f)))
                for f in os.listdir(p)
            )
        return out

    _write_wave(spark, d, 1, [(f"k{i}", t0, float(i)) for i in range(40)])
    q = partitioned_merge_sink(
        _kv_stream(spark, d), target, key="k", version_col="ts", checkpoint_dir=ckpt,
        buckets=8,
    )
    try:
        q.processAllAvailable()
        before = snap()
        assert len(before) >= 4, "expected multiple bucket dirs"
        # wave 2: update one key, newer version
        _write_wave(spark, d, 2, [("k7", t0 + dt.timedelta(days=1), 777.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    after = snap()
    from pyspark.sql import functions as F2

    touched = [b for b in before if before[b] != after[b]]
    assert len(touched) == 1, (touched, "one key must touch exactly one bucket")
    got = {(r["k"], r["v"]) for r in read_merge_target(spark, target).collect()}
    want = {(f"k{i}", float(i)) for i in range(40) if i != 7} | {("k7", 777.0)}
    assert got == want
    # the touched bucket is k7's hash bucket
    bk = spark.range(1).select(
        F2.pmod(F2.xxhash64(F2.lit("k7")), F2.lit(8)).alias("b")
    ).collect()[0]["b"]
    assert touched == [f"bucket={bk}"]


def test_partitioned_merge_sink_matches_batch_upsert(spark, split_events_dir, tmp_path):
    """Equivalence on the events fixture: replaying every event through
    the bucket-partitioned sink converges to the batch truth over the
    same events — the latest (k, ts, value) per key."""
    from trendr_data_pipeline_spark.streaming.jobs import (
        events_stream,
        partitioned_merge_sink,
        read_merge_target,
    )

    def keyed(stream):
        return stream.withColumn(
            "k", F.concat_ws("|", F.col("user_id"), F.col("event_type"))
        )

    target, ckpt = str(tmp_path / "part"), str(tmp_path / "ck")
    q = partitioned_merge_sink(keyed(events_stream(spark, split_events_dir)), target,
                               key="k", version_col="ts", checkpoint_dir=ckpt, buckets=16)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # plain-Python oracle: newest row per key; a tie on a key's newest
    # ts would make the expected value ambiguous, so rule it out first
    latest: dict = {}
    for r in keyed(read_table(spark, SMOKE_SF, "events")).select("k", "ts", "value").collect():
        cur = latest.get(r["k"])
        if cur is None or r["ts"] > cur[0]:
            latest[r["k"]] = (r["ts"], [r["value"]])
        elif r["ts"] == cur[0]:
            cur[1].append(r["value"])
    assert all(len(vals) == 1 for _, vals in latest.values())
    want = {(k, ts, vals[0]) for k, (ts, vals) in latest.items()}
    got = read_merge_target(spark, target).select("k", "ts", "value").collect()
    assert len(got) == len(want)
    assert {tuple(r) for r in got} == want


def test_partitioned_merge_sink_checkpoint_restart(spark, split_events_dir, tmp_path):
    """Stop mid-replay, wreck one bucket into a mid-swap crash state
    plus a torn epoch temp, restart: the writer heals the layout and
    converges to the exact batch upsert."""
    import glob as g

    from trendr_data_pipeline_spark.streaming.jobs import (
        events_stream,
        partitioned_merge_sink,
        read_merge_target,
    )

    target = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ck")

    def start():
        stream = events_stream(spark, split_events_dir, max_files_per_trigger=1)
        keyed = stream.withColumn(
            "k", F.concat_ws("|", F.col("user_id"), F.col("event_type"))
        )
        return partitioned_merge_sink(keyed, target, key="k", version_col="ts",
                                      checkpoint_dir=ckpt, buckets=8)

    q = start()
    try:
        _run_until_batches(q, 2)
    finally:
        if q.isActive:
            q.stop()

    buckets = sorted(b for b in os.listdir(target) if b.startswith("bucket="))
    assert buckets
    victim = os.path.join(target, buckets[0])
    backup = os.path.join(target, "._old_" + buckets[0])
    os.rename(victim, backup)
    os.makedirs(target + "._epoch42/bucket=0", exist_ok=True)

    # READER SAFETY through the crash window: the dot-prefixed backup
    # is invisible to Spark's listing, so a reader mid-crash sees a
    # consistent (pre-swap) table with no duplicate keys — the r5
    # review found the old `bucket=N.old` naming leaked both copies
    mid = spark.read.parquet(target)
    assert mid.count() == mid.select("k").distinct().count()

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    assert not os.path.exists(backup)
    assert not g.glob(target + "._epoch*")
    ev = read_table(spark, SMOKE_SF, "events")
    want = (
        ev.withColumn("k", F.concat_ws("|", F.col("user_id"), F.col("event_type")))
        .groupBy("k")
        .agg(F.max("ts").alias("ts"))
    )
    got = {(r["k"], r["ts"]) for r in read_merge_target(spark, target).select("k", "ts").collect()}
    assert got == {(r["k"], r["ts"]) for r in want.collect()}


def test_heal_bucket_layout_crash_states(spark, tmp_path):
    """The bucket swap's three crash states, each repaired by the
    writer's _heal_bucket_layout: only the hidden backup present →
    restored; visible bucket and backup both present → backup dropped;
    a torn ``._epoch*`` tree next to a clean layout → tree dropped and
    the layout left untouched (same files, same inodes). In every state
    a reader sees each key exactly once."""
    from trendr_data_pipeline_spark.streaming.jobs import (
        _heal_bucket_layout,
        read_merge_target,
    )

    target = str(tmp_path / "tbl")
    rows = [(f"k{i}", i % 2, float(i)) for i in range(6)]
    (
        spark.createDataFrame(rows, "k string, bucket int, v double")
        .write.partitionBy("bucket").parquet(target)
    )
    want = {(k, v) for k, _, v in rows}

    def reader_sees_each_key_once():
        got = [(r["k"], r["v"]) for r in read_merge_target(spark, target).collect()]
        assert len(got) == len(want)
        assert set(got) == want

    def layout():
        return {
            (root, f, os.stat(os.path.join(root, f)).st_ino)
            for root, _, files in os.walk(target)
            for f in files
        }

    visible = os.path.join(target, "bucket=0")
    backup = os.path.join(target, "._old_bucket=0")

    # died between backup-out and swap-in: only the backup exists
    os.rename(visible, backup)
    _heal_bucket_layout(target)
    assert os.path.isdir(visible) and not os.path.exists(backup)
    reader_sees_each_key_once()

    # swap finished, backup not dropped: the hidden backup never leaks
    # duplicate rows to a reader, and the heal drops it
    shutil.copytree(visible, backup)
    reader_sees_each_key_once()
    _heal_bucket_layout(target)
    assert os.path.isdir(visible) and not os.path.exists(backup)
    reader_sees_each_key_once()

    # torn epoch temp tree beside a clean layout
    clean = layout()
    torn = os.path.join(target + "._epoch7", "bucket=1")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as fh:
        fh.write(b"PAR1")
    _heal_bucket_layout(target)
    assert not os.path.exists(target + "._epoch7")
    assert layout() == clean
    reader_sees_each_key_once()


# ---------------------------------------------------------------------------
# r7: null keys, tie rule, and footer-stat truncation safety
# ---------------------------------------------------------------------------


def test_partitioned_merge_sink_null_keys(spark, tmp_path):
    """r6 ADVICE (medium): a NULL key must not kill the stream. Footer
    min/max stats never cover nulls, so the pruned sink force-rewrites
    the null bucket's files; null behaves like any other key: latest
    version wins."""
    import datetime as dt

    from trendr_data_pipeline_spark.streaming.jobs import (
        partitioned_merge_sink,
        read_merge_target,
    )

    t0 = dt.datetime(2025, 1, 1)
    d = _wave_dir(tmp_path)
    target = str(tmp_path / "tbl")
    _write_wave(spark, d, 1, [("a", t0, 1.0), (None, t0, 10.0), ("b", t0, 2.0)])
    q = partitioned_merge_sink(_kv_stream(spark, d), target, key="k", version_col="ts",
                               checkpoint_dir=str(tmp_path / "ck"), buckets=4,
                               max_records_per_file=2)
    try:
        q.processAllAvailable()
        _write_wave(spark, d, 2, [(None, t0 + dt.timedelta(days=1), 20.0),
                                  ("a", t0 + dt.timedelta(days=1), 11.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    got = [(r["k"], r["v"]) for r in read_merge_target(spark, target).collect()]
    assert len(got) == 3
    assert set(got) == {("a", 11.0), ("b", 2.0), (None, 20.0)}


def test_merge_tie_rule_legs_agree(spark):
    """The upsert tie rule, pinned literally on upsert_latest (the body
    of partitioned_merge_sink): an incoming row replaces the stored
    one iff its version is >= — equal versions go to the INCOMING row
    — and a NULL version never beats a real one. Unmatched rows of
    either side are kept."""
    from trendr_data_pipeline_spark.operators.ingestion import upsert_latest

    target = spark.createDataFrame(
        [("tie", 5, "stored"), ("older", 5, "stored"),
         ("newer", 5, "stored"), ("only_t", 1, "stored"),
         ("t_null", None, "stored"), ("s_null", 5, "stored"),
         ("both_null", None, "stored")],
        "k string, v int, src string",
    )
    source = spark.createDataFrame(
        [("tie", 5, "incoming"), ("older", 4, "incoming"),
         ("newer", 6, "incoming"), ("only_s", 1, "incoming"),
         ("t_null", 3, "incoming"), ("s_null", None, "incoming"),
         ("both_null", None, "incoming")],
        "k string, v int, src string",
    )

    got = upsert_latest(target, source, "k", "v").collect()
    assert len(got) == 8
    assert {tuple(r) for r in got} == {
        ("tie", 5, "incoming"),         # tie → incoming
        ("older", 5, "stored"),         # lower version loses
        ("newer", 6, "incoming"),
        ("only_t", 1, "stored"),        # unmatched stored row kept
        ("only_s", 1, "incoming"),      # unmatched incoming row inserted
        ("t_null", 3, "incoming"),      # a NULL stored version loses
        ("s_null", 5, "stored"),        # a NULL incoming version loses
        ("both_null", None, "incoming"),  # NULL vs NULL is a tie → incoming
    }


def test_partitioned_merge_sink_long_high_byte_keys(spark, tmp_path):
    """r6 verdict item 3 — make the footer-stat safety claim
    executable: >64-byte keys sharing a long prefix, with 0xFF-adjacent
    bytes, written under a forced 16-byte statistics truncation length.
    parquet-java either pads the truncated max upward (conservative:
    extra hits, never a wrong prune) or drops the stats entirely when
    padding is impossible (all-0xFF suffix → always-hit). Either way no
    upsert may be silently dropped: the final table must hold every
    key once with its latest value."""
    import datetime as dt

    from trendr_data_pipeline_spark.streaming.jobs import (
        partitioned_merge_sink,
        read_merge_target,
    )

    t0 = dt.datetime(2025, 1, 1)
    prefix = "p" * 70                      # shared prefix > any truncation
    keys = [f"{prefix}\xff{i:03d}" for i in range(40)]  # 0xFF mid-key
    keys += [prefix + "\xff" * 8 + f"{i}" for i in range(5)]  # 0xFF runs
    w1 = [(k, t0, float(i)) for i, k in enumerate(keys)]
    # update a slice that only differs AFTER the truncation point —
    # exactly where a non-conservative truncation would wrongly prune
    w2 = [(k, t0 + dt.timedelta(days=1), 1000.0 + i)
          for i, k in enumerate(keys) if i % 7 == 0]

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("parquet.statistics.truncate.length", "16")
    try:
        d = _wave_dir(tmp_path)
        target = str(tmp_path / "tbl")
        _write_wave(spark, d, 1, w1)
        q = partitioned_merge_sink(_kv_stream(spark, d), target, key="k",
                                   version_col="ts", checkpoint_dir=str(tmp_path / "ck"),
                                   buckets=2, max_records_per_file=4)
        try:
            q.processAllAvailable()
            _write_wave(spark, d, 2, w2)
            q.processAllAvailable()
        finally:
            q.stop()
        got = [(r["k"], r["v"]) for r in read_merge_target(spark, target).collect()]
    finally:
        hconf.unset("parquet.statistics.truncate.length")

    expect = {(k, float(i)) for i, k in enumerate(keys) if i % 7 != 0}
    expect |= {(k, 1000.0 + i) for i, k in enumerate(keys) if i % 7 == 0}
    assert len(got) == len(expect)
    assert set(got) == expect


def test_token_bucket_single_batch_matches_batch_twin(spark, events_dir):
    """SS1 (r7): replaying the whole fixture in one micro-batch, the
    admitted set must equal the batch twin's row_number form exactly
    (same key, same (ts, id) ordering)."""
    from trendr_data_pipeline_spark.streaming.jobs import (
        events_stream,
        token_bucket_admission,
        token_bucket_batch,
    )

    kw = dict(daily_tokens=5, reset_hour_utc=7)
    q = (
        token_bucket_admission(events_stream(spark, events_dir), **kw)
        .writeStream.format("memory")
        .queryName("tb_admitted")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        tuple(r)
        for r in spark.sql(
            "select event_type, budget_day, event_id from tb_admitted"
        ).collect()
    }
    want = {
        tuple(r)
        for r in token_bucket_batch(
            spark.read.parquet(f"{events_dir}/events.parquet"), **kw
        )
        .select("event_type", "budget_day", "event_id")
        .collect()
    }
    assert got == want and got


def test_token_bucket_reset_at_utc_hour(spark, tmp_path):
    """SS1 reset semantics pinned across micro-batches: a source that
    exhausts its budget stays blocked for the rest of the budget day
    (second wave, same day → nothing admitted), and the day rolls
    over at reset_hour_utc, NOT midnight (third wave, 06:59 next
    calendar day is the SAME budget day → still blocked; 07:01 →
    fresh budget)."""
    import datetime as dt

    from trendr_data_pipeline_spark.streaming.jobs import (
        token_bucket_admission,
    )

    d = _wave_dir(tmp_path)

    from tests.fixtures import stage_stream_file

    def write(i, rows):
        stage_stream_file(
            spark, d, f"w{i}", rows,
            "event_type string, event_id long, ts timestamp",
        )

    t = dt.datetime(2025, 3, 1, 12, 0)  # budget day starts 07:00 UTC
    stream = spark.readStream.schema(
        "event_type string, event_id long, ts timestamp"
    ).parquet(d)
    write(1, [("api", i, t + dt.timedelta(minutes=i)) for i in range(4)])
    q = (
        token_bucket_admission(
            stream, daily_tokens=3, reset_hour_utc=7,
            id_col="event_id", ts_col="ts",
        )
        .writeStream.format("memory")
        .queryName("tb_reset")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # same budget day: already exhausted
        write(2, [("api", 10, t + dt.timedelta(hours=1))])
        q.processAllAvailable()
        # next calendar day 06:59 — still the SAME budget day
        write(3, [("api", 20, dt.datetime(2025, 3, 2, 6, 59))])
        q.processAllAvailable()
        # 07:01 — new budget day, fresh tokens
        write(4, [("api", 30, dt.datetime(2025, 3, 2, 7, 1))])
        q.processAllAvailable()
        # far-future wave: advances the watermark (3d delay) past the
        # first days' ends, firing their EventTimeTimeout eviction —
        # the stream must keep admitting afterwards
        write(5, [("api", 40, dt.datetime(2025, 3, 10, 12, 0))])
        q.processAllAvailable()
        write(6, [("api", 41, dt.datetime(2025, 3, 10, 12, 1))])
        q.processAllAvailable()
        # numRowsRemoved is per-batch: the timeout fires in the batch
        # AFTER the watermark advances, so scan the whole history
        evicted = sum(
            so.get("numRowsRemoved", 0)
            for p in q.recentProgress
            for so in (p.get("stateOperators") or [])
        )
    finally:
        q.stop()
    got = sorted(
        r["event_id"] for r in spark.sql("select * from tb_reset").collect()
    )
    assert got == [0, 1, 2, 30, 40, 41], got
    # the finished budget days' counters were actually removed
    assert evicted >= 1, "EventTimeTimeout never evicted state"


def test_token_bucket_budget_day_is_session_timezone_proof(spark, events_dir):
    """_budget_day is epoch arithmetic: the admitted set must be
    byte-identical under any spark.sql.session.timeZone (a
    to_date(ts - INTERVAL) form would move the reset boundary with
    the session zone)."""
    from trendr_data_pipeline_spark.streaming.jobs import token_bucket_batch

    events = spark.read.parquet(f"{events_dir}/events.parquet")
    kw = dict(daily_tokens=5, reset_hour_utc=7)

    def run():
        return {
            tuple(r)
            for r in token_bucket_batch(events, **kw)
            .select("event_type", "budget_day", "event_id")
            .collect()
        }

    tz = spark.conf.get("spark.sql.session.timeZone")
    base = run()
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        shifted = run()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert base == shifted and base


def test_token_bucket_multibatch_matches_greedy_replay_oracle(spark, tmp_path):
    """SS1 multi-batch contract: under out-of-order arrival the
    operator is arrival-order greedy (the reference's
    processing-order bucket) — a pure-python replay over the same
    wave partition must predict the admitted set exactly, including
    the case where a late lower-ts event is blocked because an
    earlier batch already drained the budget (where the batch twin
    would have admitted it instead)."""
    import datetime as dt

    from trendr_data_pipeline_spark.streaming.jobs import (
        token_bucket_admission,
    )

    d = _wave_dir(tmp_path)

    from tests.fixtures import stage_stream_file

    def write(i, rows):
        stage_stream_file(
            spark, d, f"w{i}", rows,
            "event_type string, event_id long, ts timestamp",
        )

    t = dt.datetime(2025, 3, 1, 12, 0)
    waves = [
        # batch 1: two late-ts events drain a 2-token budget
        [("api", 2, t + dt.timedelta(minutes=20)),
         ("api", 3, t + dt.timedelta(minutes=30))],
        # batch 2: an EARLIER-ts event arrives late → blocked
        # (the batch twin would admit id=1 and block id=3)
        [("api", 1, t + dt.timedelta(minutes=10)),
         ("web", 10, t)],
    ]

    # pure-python greedy replay: per (source, budget day), admit in
    # (ts, id) order WITHIN each wave, first-come across waves
    used: dict = {}
    expect = set()
    for wave in waves:
        for src, eid, ts in sorted(wave, key=lambda r: (r[0], r[2], r[1])):
            day = (int(ts.replace(tzinfo=dt.timezone.utc).timestamp())
                   - 7 * 3600) // 86400
            k = (src, day)
            if used.get(k, 0) < 2:
                used[k] = used.get(k, 0) + 1
                expect.add(eid)

    write(1, waves[0])
    stream = spark.readStream.schema(
        "event_type string, event_id long, ts timestamp"
    ).parquet(d)
    q = (
        token_bucket_admission(stream, daily_tokens=2, reset_hour_utc=7)
        .writeStream.format("memory")
        .queryName("tb_replay")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        write(2, waves[1])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["event_id"] for r in spark.sql("select * from tb_replay").collect()}
    assert got == expect == {2, 3, 10}, (got, expect)


# ---------------------------------------------------------------------------
# SS8 — cadence orchestration (streaming/cadence.py)
# ---------------------------------------------------------------------------


def _cadence(name="j", **kw):
    from trendr_data_pipeline_spark.streaming.cadence import CadenceJob

    calls = []
    job = CadenceJob(name, lambda: calls.append(name), **kw)
    return job, calls


def test_cadence_daily_at_slot_and_idempotent_reticks(tmp_path):
    """The reference's daily-at jobs (monitoring_system.py:266-279):
    not due before the slot, due once at/after it, re-ticks within
    the same day are no-ops, due again the next day."""
    import datetime as dt

    from trendr_data_pipeline_spark.streaming.cadence import run_due_jobs

    job, calls = _cadence("full", daily_at="02:00")
    d = str(tmp_path)
    tz = dt.timezone.utc
    t0 = dt.datetime(2026, 8, 15, 1, 59, tzinfo=tz)
    # first tick EVER runs (startup behavior), even before the slot
    assert run_due_jobs([job], d, now=t0) == ["full"]
    # pre-slot and post-run re-ticks: no-ops
    for minute in (2, 30, 59):
        assert run_due_jobs(
            [job], d, now=dt.datetime(2026, 8, 15, 1, minute, tzinfo=tz)
        ) == []
    assert run_due_jobs(
        [job], d, now=dt.datetime(2026, 8, 15, 2, 0, tzinfo=tz)
    ) == ["full"]
    assert run_due_jobs(
        [job], d, now=dt.datetime(2026, 8, 15, 14, 0, tzinfo=tz)
    ) == []
    assert run_due_jobs(
        [job], d, now=dt.datetime(2026, 8, 16, 2, 1, tzinfo=tz)
    ) == ["full"]
    assert calls == ["full"] * 3


def test_cadence_catchup_after_downtime_runs_once(tmp_path):
    """A tick arriving hours after the slot (scheduler was down) runs
    the job ONCE, not once per missed slot and not zero times."""
    import datetime as dt

    from trendr_data_pipeline_spark.streaming.cadence import run_due_jobs

    job, calls = _cadence("full", daily_at="02:00")
    d = str(tmp_path)
    tz = dt.timezone.utc
    run_due_jobs([job], d, now=dt.datetime(2026, 8, 13, 2, 0, tzinfo=tz))
    # down over the 8-14 and 8-15 slots; tick resumes at 09:37
    assert run_due_jobs(
        [job], d, now=dt.datetime(2026, 8, 15, 9, 37, tzinfo=tz)
    ) == ["full"]
    assert run_due_jobs(
        [job], d, now=dt.datetime(2026, 8, 15, 9, 42, tzinfo=tz)
    ) == []
    assert calls == ["full"] * 2


def test_cadence_every_seconds_and_order_and_errors(tmp_path):
    """every-N jobs fire on elapsed time; same-tick jobs run in
    registration order (reference fires same-instant jobs that way);
    a failing job is recorded and does NOT stop later jobs, and its
    last_run still advances (a crashing daily job must not retry
    every minute)."""
    import datetime as dt

    import pytest

    from trendr_data_pipeline_spark.streaming.cadence import (
        CadenceJob,
        load_cadence_state,
        run_due_jobs,
    )

    d = str(tmp_path)
    tz = dt.timezone.utc
    calls = []

    def boom():
        calls.append("boom")
        raise RuntimeError("api quota exhausted")

    jobs = [
        CadenceJob("health", lambda: calls.append("health"), every_seconds=300),
        CadenceJob("flaky", boom, every_seconds=300),
        CadenceJob("tail", lambda: calls.append("tail"), every_seconds=300),
    ]
    t0 = dt.datetime(2026, 8, 15, 12, 0, tzinfo=tz)
    assert run_due_jobs(jobs, d, now=t0) == ["health", "flaky", "tail"]
    assert calls == ["health", "boom", "tail"]  # order kept, loop survived
    st = load_cadence_state(d)
    assert st["flaky"]["last_status"] == "error"
    assert "api quota exhausted" in st["flaky"]["last_error"]
    assert st["health"]["last_status"] == "ok"
    # 4 minutes later: nothing due (error job did NOT reset its clock)
    assert run_due_jobs(jobs, d, now=t0 + dt.timedelta(seconds=240)) == []
    # 5 minutes later: all due again; reraise surfaces the failure
    with pytest.raises(RuntimeError, match="quota"):
        run_due_jobs(jobs, d, now=t0 + dt.timedelta(seconds=600), reraise=True)
    assert calls == ["health", "boom", "tail"] * 2  # tail STILL ran first


def test_cadence_job_validation():
    import pytest

    from trendr_data_pipeline_spark.streaming.cadence import (
        CadenceJob,
        run_due_jobs,
    )

    with pytest.raises(ValueError, match="exactly one"):
        CadenceJob("j", lambda: None)
    with pytest.raises(ValueError, match="exactly one"):
        CadenceJob("j", lambda: None, daily_at="02:00", every_seconds=60)
    with pytest.raises(ValueError, match="bad daily_at"):
        CadenceJob("j", lambda: None, daily_at="25:00")
    with pytest.raises(ValueError, match="duplicate"):
        run_due_jobs(
            [
                CadenceJob("j", lambda: None, every_seconds=1),
                CadenceJob("j", lambda: None, every_seconds=1),
            ],
            "/tmp/unused",
            now=None,  # never reached
        )


def test_cadence_drives_available_now_stream(spark, tmp_path):
    """The composed SS8 shape: the job body runs a file-source stream
    one Trigger.AvailableNow cycle into a parquet sink. Tick 1
    processes wave 1; tick 2 (next due slot) processes ONLY wave 2 —
    the stream checkpoint carries exactly-once across scheduler
    ticks, which is the property that makes cron + AvailableNow
    equivalent to the reference's resident loop."""
    import datetime as dt

    from trendr_data_pipeline_spark.streaming.cadence import (
        CadenceJob,
        run_due_jobs,
    )

    src = _wave_dir(tmp_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "cadence")

    def ingest():
        q = (
            _kv_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    job = CadenceJob("ingest", ingest, daily_at="02:00")
    tz = dt.timezone.utc
    t0 = dt.datetime(2026, 8, 15, 0, 0, tzinfo=tz)
    _write_wave(spark, src, 1, [("a", t0, 1.0), ("b", t0, 2.0)])
    assert run_due_jobs([job], state, now=dt.datetime(2026, 8, 15, 2, 0, tzinfo=tz))
    assert {r["k"] for r in spark.read.parquet(out).collect()} == {"a", "b"}
    _write_wave(spark, src, 2, [("c", t0, 3.0)])
    # same-day re-tick: no stream cycle runs at all
    assert run_due_jobs([job], state, now=dt.datetime(2026, 8, 15, 3, 0, tzinfo=tz)) == []
    assert {r["k"] for r in spark.read.parquet(out).collect()} == {"a", "b"}
    assert run_due_jobs([job], state, now=dt.datetime(2026, 8, 16, 2, 0, tzinfo=tz))
    assert {r["k"] for r in spark.read.parquet(out).collect()} == {"a", "b", "c"}


def test_nightly_ops_recipe_two_days_with_missed_slot(spark, tmp_path):
    """r8 verdict item 7 — run_due_jobs wired to the REAL jobs as the
    documented nightly-ops recipe, on the reference's 02:00/14:00/
    18:00 cadence (monitoring_system.py:63-71) against a tmp-dir
    lake, through two simulated days including a missed slot:

    - 02:00 ``compact_minhash_index`` (text-index small-file upkeep);
    - 14:00 partitioned-merge maintenance (an AvailableNow drive of
      the bucketed MERGE sink over the staged wave dir, resuming the
      SAME checkpoint each night);
    - 18:00 quota rollup (A14's batch twin: per-day/event-type
      counts+sums, idempotent overwrite).

    Asserts: the first tick runs everything (startup rule), each slot
    fires exactly once (re-ticks are no-ops), the missed 18:00 slot
    catches up ONCE hours later, and after two days the lake is
    CORRECT — compacted index probes equal a fresh build, the merge
    target reflects the latest wave, the rollup equals the batch
    truth."""
    import datetime as dt

    from pyspark.sql import functions as F

    from trendr_data_pipeline_spark.io import read_table
    from trendr_data_pipeline_spark.operators.text_index import (
        compact_minhash_index,
        extend_minhash_index,
        minhash_probe,
        write_minhash_index,
    )
    from trendr_data_pipeline_spark.streaming.cadence import CadenceJob, run_due_jobs
    from trendr_data_pipeline_spark.streaming.jobs import (
        partitioned_merge_sink,
        read_merge_target,
    )

    docs = read_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    idx = str(tmp_path / "mh_idx")
    write_minhash_index(docs.filter(F.col("doc_id") % 3 == 0), idx)

    waves = _wave_dir(tmp_path)
    target = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ck")
    quota_out = str(tmp_path / "quota")
    state = str(tmp_path / "cadence")
    events = read_table(spark, SMOKE_SF, "events")
    t0 = dt.datetime(2025, 3, 1)
    _write_wave(spark, waves, 1, [(f"k{i}", t0, float(i)) for i in range(30)])

    runs = {"compact": 0, "merge": 0, "quota": 0}

    def compact_job():
        runs["compact"] += 1
        compact_minhash_index(idx, max_files_per_group=2)

    def merge_job():
        runs["merge"] += 1
        q = partitioned_merge_sink(
            _kv_stream(spark, waves), target, key="k", version_col="ts",
            checkpoint_dir=ckpt, buckets=4,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def quota_job():
        runs["quota"] += 1
        (
            events.groupBy(
                F.to_date("ts").alias("day"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(28,6)"))
                .cast("double")
                .alias("total_value"),
            )
            .write.mode("overwrite")
            .parquet(quota_out)
        )

    jobs = [
        CadenceJob("nightly_compact", compact_job, daily_at="02:00"),
        CadenceJob("merge_maintenance", merge_job, daily_at="14:00"),
        CadenceJob("quota_rollup", quota_job, daily_at="18:00"),
    ]
    day1 = dt.datetime(2026, 3, 1)

    def tick(hh, mm, day=day1):
        return run_due_jobs(jobs, state, now=day.replace(hour=hh, minute=mm))

    # first tick: never-ran startup → everything fires once
    assert tick(1, 0) == ["nightly_compact", "merge_maintenance", "quota_rollup"]
    # grow the index so the 02:00 compaction has real work
    for rem in (1, 2):
        extend_minhash_index(docs.filter(F.col("doc_id") % 3 == rem), idx)
    assert tick(2, 5) == ["nightly_compact"]
    assert tick(2, 6) == []  # re-tick inside the slot: no-op
    # stage tonight's upsert wave, then the 14:00 maintenance applies it
    _write_wave(spark, waves, 2, [("k7", t0 + dt.timedelta(days=1), 777.0)])
    assert tick(14, 3) == ["merge_maintenance"]
    got = {r["k"]: r["v"] for r in read_merge_target(spark, target).collect()}
    assert got["k7"] == 777.0 and got["k3"] == 3.0
    # the 18:00 slot is MISSED (scheduler down); a late tick catches
    # up exactly once
    assert tick(22, 47) == ["quota_rollup"]
    assert tick(23, 0) == []
    # ---- day 2 ----
    day2 = day1 + dt.timedelta(days=1)
    assert tick(2, 1, day2) == ["nightly_compact"]
    assert tick(2, 2, day2) == []
    assert runs == {"compact": 3, "merge": 2, "quota": 2}
    # lake correctness after the cycle: compacted index == fresh build
    fresh = str(tmp_path / "fresh")
    write_minhash_index(docs, fresh)
    probes = docs.filter(F.col("doc_id") % 10 == 0)
    got_p = sorted(tuple(r) for r in minhash_probe(probes, idx, threshold=0.8).collect())
    want_p = sorted(tuple(r) for r in minhash_probe(probes, fresh, threshold=0.8).collect())
    assert got_p == want_p and got_p
    # rollup equals the batch truth
    want_q = {
        (r["day"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in events.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"),
        )
        .collect()
    }
    got_q = {
        (r["day"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.read.parquet(quota_out).collect()
    }
    assert got_q == want_q
