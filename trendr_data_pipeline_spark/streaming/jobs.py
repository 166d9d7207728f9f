"""Streaming jobs over the ``events`` fixture.

Each builder takes a streaming DataFrame (``spark.readStream``) and
returns the transformed streaming DataFrame; ``run_to_memory`` drives
any of them to completion against the parquet fixture with an
available-now-style replay and returns the materialized rows.

Watermarks are generous (the fixture replays historical data); in a
live deployment they bound state by event-time lag, which is the
100 TB-critical property: state size is O(keys in window), not O(all
history).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# ---------------------------------------------------------------------------
# stream source
# ---------------------------------------------------------------------------


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The driver's events table as a file stream. The fixture has
    carried ``ts`` as both TIMESTAMP(NANOS) and naive micros across
    driver regenerations; probe the footer with a batch read (schema
    only, no scan) and pin the matching streaming schema so the stream
    applies the same conversion as the batch path in ``io.read_table``.

    ``max_files_per_trigger`` bounds each micro-batch to N source
    files — the checkpoint-recovery tests use it to force a
    multi-batch replay they can interrupt mid-stream."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = next(
        (f.dataType.simpleString() for f in spark.read.parquet(sf_dir).schema.fields
         if f.name == "ts"),
        "timestamp",
    )
    if ts_type == "bigint":  # legacy nano-precision encoding
        schema = (
            "event_id long, ts long, user_id long, event_type string, value double, props string"
        )
    else:
        schema = (
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(sf_dir)
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw


# ---------------------------------------------------------------------------
# SS2 — tumbling daily counters with watermark
# ---------------------------------------------------------------------------


def daily_usage_counters(stream: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Streaming twin of e04: per (day, event_type) counts/sums —
    reference api_usage daily upsert (utils/api_usage.py:14-46)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("day"), "event_type", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# SS6 — sliding momentum window
# ---------------------------------------------------------------------------


def sliding_value_momentum(stream: DataFrame, watermark: str = "30 days") -> DataFrame:
    """14-day sliding (1-day step) per-user value sums — the momentum
    window shape (intelligent_classifier.py:184-209) as a stream."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "14 days", "1 day").alias("win"), "user_id")
        .agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("value_14d"))
        .select(F.col("win.end").alias("win_end"), "user_id", "value_14d")
    )


# ---------------------------------------------------------------------------
# SS10 — session windows
# ---------------------------------------------------------------------------


def session_windows(stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 days") -> DataFrame:
    """Native session_window sessionization — streaming twin of e02."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# SS12 — streaming exact dedup within the watermark horizon
# ---------------------------------------------------------------------------


def exact_dedup_stream(
    stream: DataFrame, keys: list[str] | None = None, watermark: str = "2 days"
) -> DataFrame:
    """Streaming twin of d01's exact dedup: first occurrence per key
    wins, duplicates arriving within the watermark horizon are
    dropped. ``dropDuplicatesWithinWatermark`` bounds the dedup state
    by event time — state is O(keys inside the horizon), not O(all
    keys ever seen) (the unbounded ``dropDuplicates`` form is the
    wrong default at 100 TB)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["user_id", "event_type"]
    )


# ---------------------------------------------------------------------------
# SS11 — stream-stream interval join (streaming twin of e08)
# ---------------------------------------------------------------------------


def interval_join_stream(
    anchors: DataFrame,
    probes: DataFrame,
    window: str = "6 hours",
    watermark: str = "2 days",
) -> DataFrame:
    """Stream-stream inner join: each anchor (purchase) meets the same
    user's probe events inside ``(a.ts, a.ts + window]`` — the
    streaming twin of e08's batch bucketed interval join.

    Both sides carry watermarks and the join condition carries the
    time-range bound, so the state store evicts rows once the
    watermark passes their join window — state is O(events within
    watermark+window), not O(history). No explicit bucketing here:
    Spark's stream-stream join already co-partitions both sides by the
    equality keys and scopes the range scan with the event-time
    constraint."""
    a = (
        anchors.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("a_event_id"),
            F.col("user_id").alias("a_user_id"),
            F.col("ts").alias("a_ts"),
        )
        .withWatermark("a_ts", watermark)
    )
    p = probes.select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
        F.col("event_type").alias("p_event_type"),
        F.col("value").alias("p_value"),
    ).withWatermark("p_ts", watermark)
    return a.join(
        p,
        (F.col("a_user_id") == F.col("p_user_id"))
        & (F.col("p_ts") > F.col("a_ts"))
        & (F.col("p_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {window}")),
        "inner",
    ).select("a_event_id", "a_user_id", "a_ts", "p_event_id", "p_event_type", "p_value")


# ---------------------------------------------------------------------------
# SS3 — ≤N-per-key dedup within a window (stateful)
# ---------------------------------------------------------------------------


def topn_dedup_stateful(
    stream: DataFrame,
    max_per_key: int = 2,
    watermark: str = "30 days",
) -> DataFrame:
    """Keep at most N events per (user_id, event_type) — the stateful
    generalization of the reference's 21-day mention dedup
    (dedup.py:47-96, config max_per_window). State per key is a single
    counter; the watermark bounds how long keys live.

    Built on ``applyInPandasWithState`` (the documented custom-stateful
    path); emits rows in (ts, event_id) order per key, first N win —
    deterministic under replay because the per-batch group is sorted."""
    out_schema = "user_id long, event_type string, event_id long, ts timestamp"
    state_schema = "n long"

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (n,) = state.get if state.exists else (0,)
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        keep = batch.iloc[: max(0, max_per_key - n)]
        n = min(max_per_key, n + len(batch))
        state.update((n,))
        yield keep[["user_id", "event_type", "event_id", "ts"]]

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


# ---------------------------------------------------------------------------
# SS1 — daily token bucket with UTC reset hour
# ---------------------------------------------------------------------------

_EPOCH_ORDINAL = 719163  # datetime.date(1970, 1, 1).toordinal()


def _budget_day(ts_col: str, reset_hour_utc: int):
    """The budget day a timestamp belongs to: the 24h window starting
    at ``reset_hour_utc`` UTC. Computed in epoch arithmetic
    (``unix_timestamp`` on a timestamp is timezone-free;
    ``date_from_unix_date`` is a pure day-number decode), so the UTC
    semantics hold under ANY ``spark.sql.session.timeZone`` — a
    ``to_date(ts - INTERVAL h HOURS)`` form would truncate in the
    session zone and move the reset boundary (r7 review finding)."""
    days = F.floor(
        (F.unix_timestamp(F.col(ts_col)) - int(reset_hour_utc) * 3600)
        / 86400
    )
    return F.date_from_unix_date(days.cast("int")).alias("budget_day")


def token_bucket_admission(
    stream: DataFrame,
    daily_tokens: int = 100,
    reset_hour_utc: int = 7,
    watermark: str = "3 days",
    source_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """SS1 — the reference's daily API token bucket with UTC reset
    hour (google_places_ingester.py:44-74: ``daily_tokens`` calls per
    day, the day rolling over at ``reset_hour_utc``; calls beyond the
    budget are BLOCKED). Streaming form: per (source, budget day),
    the first ``daily_tokens`` requests — (ts, id)-ordered within
    each micro-batch — are admitted and emitted; the rest never
    leave the operator.

    Keying the state on the BUDGET DAY makes the daily reset
    structural rather than imperative: a new day is a new state key
    with a fresh counter (no reset-time bookkeeping to replay
    through a crash). Per-key state is a single counter, and finished
    days' state is REMOVED via ``EventTimeTimeout`` set to the budget
    day's end — once the watermark passes the last admissible
    timestamp of a day, no event can join it, so the counter is dead
    weight (same eviction pattern as SS7; without it the state store
    would grow one entry per source per day forever — r7 review
    finding). Deterministic under checkpoint replay because each
    batch group is sorted before consuming tokens.

    Batch twin / oracle: :func:`token_bucket_batch` (row_number over
    the same key, same ordering). The twins agree exactly whenever
    each budget day's events ARRIVE in (ts, id) order (single-batch
    replay, or event-time-ordered ingestion); under out-of-order
    multi-batch arrival the streaming operator is arrival-order
    greedy — the reference's processing-order bucket semantics
    (google_places_ingester.py:57-74) — while the batch twin is the
    event-time-canonical admission, and the two can admit different
    rows of an over-budget day. Both are pinned in
    tests/test_streaming.py (single-batch equality; multi-batch
    reset/blocking semantics)."""
    out_schema = (
        f"{source_col} string, budget_day date, {id_col} long,"
        f" {ts_col} timestamp"
    )
    state_schema = "used long"
    reset_s = int(reset_hour_utc) * 3600

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (used,) = state.get if state.exists else (0,)
        batch = pd.concat(list(pdfs)).sort_values([ts_col, id_col])
        keep = batch.iloc[: max(0, daily_tokens - used)]
        state.update((min(daily_tokens, used + len(batch)),))
        # last admissible instant of this budget day: day start
        # (epoch day + reset hour) + 24h — watermark past it ⇒ the
        # key is finished and its counter removable
        epoch_day = key[1].toordinal() - _EPOCH_ORDINAL
        day_end_ms = ((epoch_day + 1) * 86400 + reset_s) * 1000
        state.setTimeoutTimestamp(day_end_ms)
        yield keep[[source_col, "budget_day", id_col, ts_col]]

    return (
        stream.withWatermark(ts_col, watermark)
        .withColumn("budget_day", _budget_day(ts_col, reset_hour_utc))
        .groupBy(source_col, "budget_day")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def token_bucket_batch(
    events: DataFrame,
    daily_tokens: int = 100,
    reset_hour_utc: int = 7,
    source_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Batch twin of :func:`token_bucket_admission`: the admitted set
    is the first ``daily_tokens`` rows per (source, budget day) in
    (ts, id) order — one window row_number, no state."""
    from pyspark.sql import Window

    w = Window.partitionBy(source_col, "budget_day").orderBy(ts_col, id_col)
    return (
        events.withColumn("budget_day", _budget_day(ts_col, reset_hour_utc))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= daily_tokens)
        .select(source_col, "budget_day", id_col, ts_col)
    )


# ---------------------------------------------------------------------------
# SS7 — rescan scheduling with state timeouts
# ---------------------------------------------------------------------------


def rescan_scheduler(
    scans: DataFrame,
    rescan_days: float = 7.0,
    scan_cap: int = 60,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of :func:`operators.grid.update_scanned` +
    due-cell selection (reference h3_scheduler.py:495-543 and the
    next_due_at poll at :516-526): each scan result updates the cell's
    state (attempts+1, results_last, saturated at ``scan_cap``) and
    arms an EVENT-TIME state timeout at ``last_scanned + rescan_days``.
    When the watermark passes that deadline with no newer scan, the
    timeout fires and the cell is emitted as ``status='due'`` — the
    push-based equivalent of the reference's ``next_due_at <= now``
    polling query, with state removed so a future scan restarts the
    cycle.

    Input schema: (h3 string, results long, ts timestamp). Event-time
    timeouts (not processing-time) keep the job deterministic under
    replay — the same sequence of micro-batches yields the same due
    rows regardless of wall clock."""
    out_schema = (
        "h3 string, status string, attempts long, results_last long,"
        " next_due_at timestamp, due boolean"
    )
    state_schema = "attempts long, results_last long, next_due_ms long"
    interval_ms = int(rescan_days * 86400.0 * 1000)

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (h3,) = key
        if state.hasTimedOut:
            attempts, results_last, next_due_ms = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "h3": h3,
                        "status": "due",
                        "attempts": attempts,
                        "results_last": results_last,
                        "next_due_at": pd.Timestamp(next_due_ms, unit="ms"),
                        "due": True,
                    }
                ]
            )
            return
        attempts, _, _ = state.get if state.exists else (0, 0, 0)
        batch = pd.concat(list(pdfs)).sort_values("ts")
        attempts += len(batch)
        last = batch.iloc[-1]
        results_last = int(last["results"])
        saturated = results_last >= scan_cap
        next_due_ms = int(last["ts"].timestamp() * 1000) + interval_ms
        state.update((attempts, results_last, next_due_ms))
        state.setTimeoutTimestamp(next_due_ms)
        yield pd.DataFrame(
            [
                {
                    "h3": h3,
                    "status": "saturated" if saturated else "scanned",
                    "attempts": attempts,
                    "results_last": results_last,
                    "next_due_at": pd.Timestamp(next_due_ms, unit="ms"),
                    "due": False,
                }
            ]
        )

    return (
        scans.withWatermark("ts", watermark)
        .groupBy("h3")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------


def run_to_memory(
    spark: SparkSession,
    sf_dir_file: str,
    build: Callable[[DataFrame], DataFrame],
    name: str = "stream_out",
    output_mode: str = "append",
) -> DataFrame:
    """Replay the events fixture through a streaming job synchronously
    (memory sink + processAllAvailable) and return the result table.
    ``sf_dir_file`` is a directory containing only events parquet —
    callers stage a symlink/copy dir because readStream treats the path
    as a file-source directory."""
    stream = events_stream(spark, sf_dir_file)
    q = (
        build(stream)
        .writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# ---------------------------------------------------------------------------
# SS4 — upsert-on-conflict sink via foreachBatch
# ---------------------------------------------------------------------------


def _heal_bucket_layout(target_dir: str) -> None:
    """Writer-only recovery for the bucket-partitioned merge layout
    of :func:`partitioned_merge_sink`.

    Invariant kept by :func:`_swap_bucket_dirs`: for every bucket, a
    COMPLETE copy always exists as ``bucket=N`` or ``._old_bucket=N``.
    The backup name is dot-prefixed ON PURPOSE: Spark's file listing
    skips names starting with ``.``/``_``, so a reader racing a crash
    window never partition-discovers the stale backup next to the new
    dir (the r5 review found the earlier ``bucket=N.old`` naming
    leaked DUPLICATE rows to readers mid-crash). Reader semantics per
    crash state: after swap-in, new data only; between the two
    renames, that bucket is briefly ABSENT — for a keyed upsert
    table, temporary absence is the safe failure (duplicates corrupt
    downstream aggregates; a missing bucket just reads as pre-insert
    and heals on the next batch). Torn ``._epoch*`` temp trees
    (siblings of the table path) are incomplete writes and dropped.

    The three crash states it repairs: only ``._old_bucket=N`` present
    (died between backup-out and swap-in) → restored as ``bucket=N``;
    both present (swap finished, backup not dropped) → backup dropped;
    a torn ``._epoch*`` tree next to a clean layout → tree dropped,
    layout untouched. This is the package's only table swap protocol,
    so it must run only when no batch of the same sink is in flight:
    concurrent with an active writer it would delete the in-flight
    temp tree or resurrect a backup mid-swap."""
    import glob
    import os
    import shutil

    for leftover in glob.glob(glob.escape(target_dir) + "._epoch*"):
        shutil.rmtree(leftover)
    if not os.path.isdir(target_dir):
        return
    for entry in os.listdir(target_dir):
        if not entry.startswith("._old_bucket="):
            continue
        visible = os.path.join(target_dir, entry[len("._old_"):])
        backup = os.path.join(target_dir, entry)
        if os.path.exists(visible):
            shutil.rmtree(backup)  # swap finished; cleanup didn't
        else:
            os.rename(backup, visible)  # died between backup-out and swap-in


def _swap_bucket_dirs(target_dir: str, tmp: str, affected) -> None:
    """Two-phase-swap each affected ``bucket=N`` dir from the epoch
    temp tree into the target, then drop the temp. Per bucket: rename
    current → hidden backup, rename new in, drop backup — a complete
    copy exists at every intermediate state and the backup is never
    reader-visible (see :func:`_heal_bucket_layout`)."""
    import os
    import shutil

    for bk in affected:
        src = os.path.join(tmp, f"bucket={bk}")
        dst = os.path.join(target_dir, f"bucket={bk}")
        if not os.path.exists(src):
            # a bucket can lose all rows only if the upsert dropped
            # everything — not possible for append-or-update, but
            # guard the rename anyway
            continue
        old = os.path.join(target_dir, f"._old_bucket={bk}")
        if os.path.exists(dst):
            os.rename(dst, old)
        os.rename(src, dst)
        if os.path.exists(old):
            shutil.rmtree(old)
    shutil.rmtree(tmp)


def _file_key_ranges(paths: list[str], key: str) -> list[tuple[str, object, object]]:
    """Driver-side parquet-footer (min, max) of ``key`` per file: the
    stats already live in every footer, so file-level pruning costs
    one metadata read per file of the
    AFFECTED buckets only (never the whole table). Returns (path, lo,
    hi); (path, None, None) when stats are absent/unreadable (the
    caller must treat such a file as always-hit — parquet drops
    oversized string stats rather than truncating them unsafely, so
    missing stats are the only safe-degradation case)."""
    import pyarrow.parquet as pq

    out: list[tuple[str, object, object]] = []
    for p in paths:
        lo = hi = None
        try:
            md = pq.ParquetFile(p).metadata
            if md.num_row_groups:
                rg0 = md.row_group(0)
                # leaf-column index by path: positional arrow-field
                # indexing is wrong when a nested column (embedding
                # arrays) precedes the key in the schema
                idx = next(
                    (
                        j
                        for j in range(rg0.num_columns)
                        if rg0.column(j).path_in_schema == key
                    ),
                    None,
                )
                if idx is not None:
                    for rgi in range(md.num_row_groups):
                        st = md.row_group(rgi).column(idx).statistics
                        if st is None or not st.has_min_max:
                            lo = hi = None
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
        except Exception:  # noqa: BLE001 — unreadable footer ⇒ rewrite the file
            lo = hi = None
        out.append((p, lo, hi))
    return out


def _pruned_bucket_upsert(
    batch_part: DataFrame,
    target_dir: str,
    key: str,
    version_col: str,
    bucket_of,
    epoch_id: int,
    max_records_per_file: int,
) -> None:
    """The per-batch body of :func:`partitioned_merge_sink`: upsert
    ``batch_part`` into ``target_dir/bucket=N/`` with
    TWO levels of pruning —

    1. **bucket pruning** (r5): only the batch's affected buckets are
       read or swapped;
    2. **file pruning within buckets** (r6, the degeneracy fix): each
       bucket's files are kept KEY-SORTED and range-disjoint
       (``sortWithinPartitions(key)`` + ``maxRecordsPerFile``), so a
       batch only REWRITES the files whose footer [min,max] range
       contains one of its keys; every other file is HARD-LINKED
       unchanged into the new bucket dir (zero data movement). The r5
       verdict's finding was that ``bucket = pmod(xxhash64(key))``
       spreads any >~few-thousand-key uniform batch across ALL
       buckets, silently degrading O(affected-buckets) to O(table);
       with file pruning the rewrite volume is O(hit files), i.e.
       O(batch_keys · rows_per_file) — measured crossover in
       SCALING.md ("partitioned merge sink: uniform-key degeneracy").

    Invariant making the hit test exact: every key lives in at most
    ONE file per bucket. It holds inductively — a file containing a
    batch key always has that key inside its [min,max] range, so it
    is always a hit and gets rewritten through the window dedup;
    linked files provably contain no batch key.

    Driver residency: the batch's distinct (bucket, key) pairs are
    collected for the hit test — bounded by the micro-batch size
    (the same order as the checkpoint state the stream already
    carries), never by the table.
    """
    import bisect
    import os
    import shutil

    from ..operators.ingestion import upsert_latest

    spark = batch_part.sparkSession
    rows = batch_part.select(bucket_of.alias("_bk"), F.col(key)).distinct().collect()
    if not rows:
        return
    # NULL keys are legal (xxhash64(null) buckets them deterministically)
    # but footer min/max stats never cover nulls, so a null batch key can
    # never range-hit a file. Track null-bearing buckets separately and
    # force-rewrite ALL their files — the r5 bucket-only behavior — so a
    # null-key row can't TypeError the sort below or silently miss the
    # stored null row it must dedup against (r6 ADVICE, medium).
    keys_by_bucket: dict[int, list] = {}
    null_key_buckets: set[int] = set()
    for r in rows:
        bk = int(r["_bk"])
        if r[key] is None:
            null_key_buckets.add(bk)
            keys_by_bucket.setdefault(bk, [])
        else:
            keys_by_bucket.setdefault(bk, []).append(r[key])
    affected = sorted(keys_by_bucket)
    os.makedirs(target_dir, exist_ok=True)
    # writer-only recovery: heal EVERY bucket (the crashed bucket may
    # not be in the replayed batch's affected set) and drop torn
    # epoch temps — the shared protocol, one implementation
    _heal_bucket_layout(target_dir)
    hit: list[str] = []
    miss_by_bucket: dict[int, list[str]] = {}
    for bk in affected:
        bdir = os.path.join(target_dir, f"bucket={bk}")
        if not os.path.isdir(bdir):
            continue
        ks = sorted(keys_by_bucket[bk])
        misses: list[str] = []
        paths = sorted(
            os.path.join(bdir, f)
            for f in os.listdir(bdir)
            if f.endswith(".parquet")
        )
        if bk in null_key_buckets:
            # null batch key ⇒ every file of this bucket is a hit (the
            # stored null row is invisible to min/max stats)
            hit.extend(paths)
            miss_by_bucket[bk] = []
            continue
        for path, lo, hi in _file_key_ranges(paths, key):
            if lo is None:
                hit.append(path)  # no stats → must rewrite
                continue
            i = bisect.bisect_left(ks, lo)
            if i < len(ks) and ks[i] <= hi:
                hit.append(path)
            else:
                misses.append(path)
        miss_by_bucket[bk] = misses
    if hit:
        # schema pinned from the batch: bucket dirs are read as plain
        # parquet (the bucket value is in the path only)
        existing = spark.read.schema(batch_part.schema).parquet(*hit)
        merged = upsert_latest(existing, batch_part, key=key, version_col=version_col)
    else:
        merged = upsert_latest(
            batch_part.limit(0), batch_part, key=key, version_col=version_col
        )
    merged = merged.withColumn("bucket", bucket_of)
    tmp = target_dir + f"._epoch{epoch_id}"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    (
        merged.repartition(F.col("bucket"))
        .sortWithinPartitions("bucket", key)
        .write.partitionBy("bucket")
        .option("maxRecordsPerFile", max_records_per_file)
        .mode("overwrite")
        .parquet(tmp)
    )
    # hard-link every pruned (miss) file into the new bucket dir —
    # shares the inode, no data copy; names are write-UUIDs so new
    # files can never collide with linked ones. rmtree on the old
    # bucket dir later only drops the extra link.
    for bk, misses in miss_by_bucket.items():
        dst_dir = os.path.join(tmp, f"bucket={bk}")
        os.makedirs(dst_dir, exist_ok=True)
        from ..io import link_or_copy

        for p in misses:
            # link-or-copy: zero-copy on POSIX, byte copy on mounts
            # without hard links (r6 ADVICE, low; shared helper)
            link_or_copy(p, os.path.join(dst_dir, os.path.basename(p)))
    _swap_bucket_dirs(target_dir, tmp, affected)


def partitioned_merge_sink(
    stream: DataFrame,
    target_dir: str,
    key: str,
    version_col: str,
    checkpoint_dir: str,
    buckets: int = 64,
    max_records_per_file: int = 1 << 20,
):
    """The streaming MERGE: each micro-batch is window-dedup-upserted
    into a bucket-partitioned parquet target, so late or duplicate
    arrivals update their row in place instead of appending (latest
    ``version_col`` per ``key`` wins — the reference's keyed upsert
    and ``last_seen_at`` refresh, utils/database.py:812-938). A batch
    rewrites only the files whose key range holds one of its keys
    (every file of a bucket that receives a NULL key), so its cost
    follows the batch, not the table.

    Layout: ``target_dir/bucket=N/`` with ``bucket =
    pmod(xxhash64(key), buckets)``, files KEY-SORTED and
    range-disjoint within each bucket. Each micro-batch (body
    :func:`_pruned_bucket_upsert`):

    1. computes its AFFECTED bucket set (distinct over the batch —
       bounded by ``buckets``);
    2. within each affected bucket, footer-stat range tests select
       only the FILES whose [min,max] key range contains a batch key
       (r6 — closes the r5 verdict's uniform-key degeneracy, where
       any >~few-thousand-key batch touched all buckets and the sink
       silently rewrote the whole table);
    3. window-dedup-upserts the batch into the hit files' rows;
    4. writes the merged rows key-sorted (``maxRecordsPerFile`` keeps
       files range-disjoint), hard-links every pruned file unchanged,
       and swaps ONLY the affected bucket directories through the
       crash-safe two-phase rename of :func:`_swap_bucket_dirs`.

    Per-batch rewrite volume is O(hit files + batch) ≈
    O(batch_keys · rows_per_file), not O(table) and no longer
    O(affected buckets' data): the crossover table in SCALING.md
    ("partitioned merge sink: uniform-key degeneracy") measures both
    regimes. Crash semantics: each bucket dir is individually
    never-torn (a full copy exists at every intermediate state), and
    BATCH-level atomicity is deliberately not needed — the
    checkpoint replays the interrupted batch and the upsert is
    idempotent, so a crash that updated only some buckets converges
    on restart (pinned in tests/test_streaming.py).

    Returns the started StreamingQuery."""
    bucket_of = F.pmod(F.xxhash64(F.col(key)), F.lit(buckets))

    def do_merge(batch: DataFrame, epoch_id: int) -> None:
        _pruned_bucket_upsert(
            batch, target_dir, key, version_col, bucket_of, epoch_id,
            max_records_per_file,
        )

    return (
        stream.writeStream.foreachBatch(do_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def read_merge_target(spark: SparkSession, target_dir: str) -> DataFrame:
    """Read a :func:`partitioned_merge_sink` target (bucket partition
    column dropped — it is layout, not data)."""
    return spark.read.parquet(target_dir).drop("bucket")


# ---------------------------------------------------------------------------
# SS5 — cadence-gated snapshot append (stateful)
# ---------------------------------------------------------------------------


def cadence_gated_append(
    stream: DataFrame,
    interval_days: float = 7.0,
    watermark: str = "30 days",
) -> DataFrame:
    """Emit at most one event per key per trailing interval: the
    rating-snapshot cadence (≥7 d between snapshots per (poi, source),
    reference google_places_ingester.py:516-555) generalized to
    (user_id, event_type). State per key = last emitted timestamp."""
    out_schema = "user_id long, event_type string, event_id long, ts timestamp, value double"
    state_schema = "last_ts double"
    interval_s = interval_days * 86400.0

    def fn(key, pdfs, state: GroupState):
        # per-key cost is the replay gate's dominant Python work at
        # ~10k keys (guide §4.2): keep the greedy recurrence but do
        # the ordering/selection in numpy — lexsort + positional take
        # instead of sort_values + a DataFrame-from-itertuples
        # rebuild, and one vectorized ns→s conversion instead of a
        # per-row Timestamp.timestamp() (np.round(ns/1e9, 6) is that
        # method's exact formula, so emitted rows and stored state
        # are bit-identical). Measured 3.2× per key on the c62 shape.
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        (last_ts,) = state.get if state.exists else (float("-inf"),)
        frames = list(pdfs)
        batch = frames[0] if len(frames) == 1 else pd.concat(frames)
        # fail-loud on null timestamps (r13 ADVICE): the old per-row
        # Timestamp.timestamp() raised on NaT; astype('int64') would
        # map it to int64-min and silently emit/drop the row and
        # poison last_ts instead
        if batch["ts"].isna().any():
            raise ValueError(
                f"cadence_gated_append: null ts in batch for key {key}"
            )
        ts_ns = batch["ts"].to_numpy().astype("int64")
        order = np.lexsort((batch["event_id"].to_numpy(), ts_ns))
        ts = np.round(ts_ns[order] / 1e9, 6)
        keep_idx = []
        for i in range(len(ts)):
            if ts[i] - last_ts >= interval_s:
                keep_idx.append(order[i])
                last_ts = ts[i]
        state.update((last_ts,))
        if keep_idx:
            yield batch.take(keep_idx)[
                ["user_id", "event_type", "event_id", "ts", "value"]
            ]

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
