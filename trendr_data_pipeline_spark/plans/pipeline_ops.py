"""Pipeline-level queries: the streaming surface exposed through the
driver contract, plus the remaining small-operator coverage (F1/U3
allowlists, A12 keyword trends).

The mention stage has no query here: ``pipeline.run_auto_pipeline``
composes it once, and ``tests/test_mentions.py`` and
``tests/test_pipeline_e2e.py`` pin it. The streaming surface graduated
in stages: windowed/aggregating jobs replay against SQL twins
(c05/c18), and since r12/r13 the STATEFUL jobs are oracle-gated too,
via planted waves whose deterministic arithmetic makes the state
machine SQL-replayable — c58 (≤N-per-key dedup counters), c61
(event-time rescan timeouts), c62 (cadence last-emitted state); see
each gate's docstring for what its device makes load-bearing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from .registry import register

# ---------------------------------------------------------------------------
# shared synchronous-replay harness for the streaming gates
# ---------------------------------------------------------------------------


def _replay_events(
    spark: SparkSession,
    sf_dir: str,
    build,
    name: str,
    output_mode: str = "complete",
    shuffle_partitions: str = "8",
    n_streams: int = 1,
) -> DataFrame:
    """Replay the events fixture through a streaming job synchronously
    (staged file source → memory sink → processAllAvailable) and return
    the sink table. Shared by p02/p08/c05; ``build`` receives
    ``n_streams`` independent file-stream scans of the same staged
    fixture (stream-stream joins need two).

    The file-stream source needs a directory, so events.parquet is
    staged into a temp dir (removed afterwards — the memory sink holds
    the materialized rows). Stateful-stream sizing: Spark pins the
    state-store count to spark.sql.shuffle.partitions at the query's
    FIRST start; pin it to the replay's key cardinality instead of
    paying 32 near-empty state stores per micro-batch (a production
    deployment sizes this to peak keys × state row size / store size).
    """
    import os
    import shutil
    import tempfile

    from ..streaming import jobs

    stage = tempfile.mkdtemp(prefix="events_stream_")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndmb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    try:
        shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(stage, "events.parquet"))
        streams = [jobs.events_stream(spark, stage) for _ in range(n_streams)]
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
        # r14 (the _replay_waves O2 treatment, applied after measuring
        # batch counts per harness): the three COMPLETE-mode aggregates
        # (zp02/zp08/c18) already run exactly ONE micro-batch either way
        # (complete mode never emits on watermark advance, so Spark
        # schedules no bookkeeping batch — measured at sf0.01), but the
        # c05 stream-stream join ran a trailing no-data batch (2 → 1)
        # whose only effect is state EVICTION before stop. Invariance:
        # an INNER stream-stream join emits each match inside the data
        # batch that completes the pair — emission is never
        # watermark-gated (only outer-join null rows are, and c05's
        # join is inner; the left-completion happens in batch SQL
        # afterwards) — so dropping the eviction-only batch cannot
        # change the sink. Measured rows identical (1110 at sf0.01);
        # re-verified against the DuckDB oracle at 3 SFs.
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        q = (
            build(*streams)
            .writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb)
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(name)


# ---------------------------------------------------------------------------
# p02 — streaming sessionization under the driver (rows-only)
# ---------------------------------------------------------------------------


@register(
    # z-pushed r12 (RENAMES_R12): admits c55_spatial_association into
    # the driver window; driver-signed as p02 in r9-r11 windows
    "zp02_streaming_sessions",
    # same session assignment as e02's batch sessionizer; session_window
    # merges events exactly gap apart, so a new session starts only at
    # diff > gap, and the window end is last_ts + gap (half-open)
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTES
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTES AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    doc="""SS10 session_window job replayed synchronously over the
    events fixture (memory sink). Oracle = the batch sessionizer with
    session_window's half-open gap semantics (split at diff > gap —
    exactly-gap events merge — end = last_ts + gap); full equality with
    batch e02 is also pinned in tests/test_streaming.py.""",
)
def p02_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    return _replay_events(spark, sf_dir, jobs.session_windows, "p02_sessions")


# ---------------------------------------------------------------------------
# p03 — F1/U3 type allowlist via array overlap
# ---------------------------------------------------------------------------


@register(
    "zp03_type_allowlist",
    """
    WITH place AS (
        SELECT p_partkey,
               [CASE p_partkey % 5 WHEN 0 THEN 'restaurant' WHEN 1 THEN 'museum'
                     WHEN 2 THEN 'bar' WHEN 3 THEN 'hotel' ELSE 'cafe' END,
                CASE p_partkey % 3 WHEN 0 THEN 'bakery' ELSE 'shop' END] AS type_list
        FROM part
    )
    SELECT p_partkey, array_to_string(type_list, ',') AS types,
           list_has_any(type_list, ['restaurant', 'bar', 'cafe', 'bakery']) AS allowed
    FROM place
    """,
)
def p03_type_allowlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 type allowlist (arrays_overlap) + U3 set-intersection
    semantics on type arrays derived from part keys."""
    from ..operators.ingestion import type_allowlist

    p = read_table(spark, sf_dir, "part")
    t1 = (
        F.when(F.col("p_partkey") % 5 == 0, "restaurant")
        .when(F.col("p_partkey") % 5 == 1, "museum")
        .when(F.col("p_partkey") % 5 == 2, "bar")
        .when(F.col("p_partkey") % 5 == 3, "hotel")
        .otherwise("cafe")
    )
    t2 = F.when(F.col("p_partkey") % 3 == 0, "bakery").otherwise("shop")
    place = p.select("p_partkey", F.array(t1, t2).alias("types"))
    # the driver's hash canonicalizer sorts rows via pandas and cannot
    # hash list cells — project the array as a joined string (array
    # semantics stay covered by tests/test_ingestion.py)
    return place.select(
        "p_partkey",
        F.array_join(F.col("types"), ",").alias("types"),
        type_allowlist(F.col("types")).alias("allowed"),
    )


# ---------------------------------------------------------------------------
# p04 — A12 keyword trend counts
# ---------------------------------------------------------------------------

_KEYWORDS = ["spark", "join", "merge", "stream", "window"]


@register(
    "zp04_keyword_trends",
    f"""
    SELECT kw,
           COUNT(CASE WHEN regexp_matches(lower(text), '\\b' || kw || '\\b') THEN 1 END)
               AS n_docs,
           CAST(SUM(len(regexp_extract_all(lower(text), '\\b' || kw || '\\b'))) AS BIGINT)
               AS n_hits
    FROM documents
    CROSS JOIN (SELECT UNNEST(['{"','".join(_KEYWORDS)}']) AS kw)
    GROUP BY kw
    """,
)
def p04_keyword_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 trending-keyword counts (regexp hits per keyword across the
    corpus, reference ai/collection_generator.py:577-616): keyword dim
    crossed against documents, counted by containment and by total
    occurrences."""
    docs = read_table(spark, sf_dir, "documents")
    kws = spark.createDataFrame([(k,) for k in _KEYWORDS], "kw string")
    joined = docs.crossJoin(F.broadcast(kws))
    hits = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.concat(F.lit(r"\b"), F.col("kw"), F.lit(r"\b")), F.lit(0)
        )
    )
    return joined.groupBy("kw").agg(
        F.count(F.when(hits > 0, 1)).alias("n_docs"),
        F.sum(hits).cast("long").alias("n_hits"),
    )


# ---------------------------------------------------------------------------
# p08 — streaming daily counters under the driver gate (SS2, hash-gated)
# ---------------------------------------------------------------------------


@register(
    "zp08_streaming_daily_stats",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    """,
    doc="""SS2 streaming daily counters replayed synchronously over the
    events fixture (memory sink, complete mode so every window is
    emitted regardless of the final watermark) — the p02 pattern
    applied to the tumbling-window aggregate. Oracle = the batch daily
    rollup (e04 minus the countDistinct leg, which streaming
    aggregation cannot compute exactly); 1-day tumbling windows are
    epoch-aligned, so ``window('ts','1 day').start`` equals
    ``date_trunc('day', ts)``.""",
)
def p08_streaming_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    return _replay_events(spark, sf_dir, jobs.daily_usage_counters, "p08_daily")


# ---------------------------------------------------------------------------
# c05 — streaming interval join under the oracle (SS11, hash-gated
# via verify_local; rotated INTO the driver's 50-name window in r6).
# ---------------------------------------------------------------------------


@register(
    "c05_streaming_interval_join",
    # identical to e08's oracle: per purchase, the same user's events
    # in the following 6 hours
    """
    SELECT a.event_id, a.user_id,
           CAST(COUNT(b.event_id) AS BIGINT) AS n_follow,
           COALESCE(CAST(SUM(CAST(b.value AS DECIMAL(28,6))) AS DOUBLE), 0.0)
             AS sum_value,
           CAST(COUNT(CASE WHEN b.event_type = 'error' THEN 1 END) AS BIGINT)
             AS n_errors
    FROM events a LEFT JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
    WHERE a.event_type = 'purchase'
    GROUP BY a.event_id, a.user_id
    """,
    doc="""SS11 watermarked stream-stream interval join replayed
    synchronously (two file-stream scans of the same staged fixture,
    append-mode memory sink), then batch-aggregated to e08's anchor
    grain and left-completed with follower-less purchases. Oracle =
    e08's brute-force range-join SQL — the streaming join's state
    eviction must lose nothing on a bounded replay.""",
)
def c05_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs
    from ._numeric import dsum

    pairs = _replay_events(
        spark,
        sf_dir,
        jobs.interval_join_stream,
        "c05_pairs",
        output_mode="append",
        n_streams=2,
    )
    agg = pairs.groupBy(
        F.col("a_event_id").alias("event_id"), F.col("a_user_id").alias("user_id")
    ).agg(
        F.count("p_event_id").alias("n_follow"),
        F.coalesce(dsum(F.col("p_value")), F.lit(0.0)).alias("sum_value"),
        F.count(F.when(F.col("p_event_type") == "error", 1)).alias("n_errors"),
    )
    anchors = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id")
    )
    return anchors.join(agg, ["event_id", "user_id"], "left").select(
        "event_id",
        "user_id",
        F.coalesce("n_follow", F.lit(0).cast("long")).alias("n_follow"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        F.coalesce("n_errors", F.lit(0).cast("long")).alias("n_errors"),
    )


@register(
    "c18_streaming_momentum",
    """
    WITH w AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS TIMESTAMP)
                   - CAST(k AS INT) * INTERVAL 1 DAY AS win_start,
               value
        FROM events CROSS JOIN UNNEST(range(14)) AS t(k)
    )
    SELECT win_start + INTERVAL 14 DAY AS win_end, user_id,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value_14d
    FROM w GROUP BY win_start, user_id
    """,
    doc="""SS6's 14-day/1-day-step sliding momentum window replayed as
    a STREAM (complete-mode memory sink, the p02/p08/c05 harness) and
    hash-checked against a batch oracle that enumerates the exact
    window membership: an event belongs to the 14 epoch-aligned
    windows whose start lies in (ts−14d, ts], i.e. floor_day(ts)−k for
    k ∈ [0,14) — the same alignment Spark's window('ts','14 days',
    '1 day') computes. Decimal value sums keep the hash
    partitioning-proof. Fourth hash-gated streaming query; rotated
    INTO the driver's 50-name window in r6's final rotation; also
    checked by tools/verify_local.""",
)
def c18_streaming_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    return _replay_events(spark, sf_dir, jobs.sliding_value_momentum, "c18_momentum")


# ---------------------------------------------------------------------------
# c52 — SS1 token bucket, batch twin under the driver gate (r11)
# ---------------------------------------------------------------------------

_C52_TOKENS = 5
_C52_RESET_S = 7 * 3600


@register(
    "c52_token_bucket",
    f"""
    WITH e AS (
        SELECT event_type, event_id, ts,
               DATE '1970-01-01'
                   + CAST(FLOOR((epoch(ts) - {_C52_RESET_S}) / 86400.0) AS INTEGER)
                   AS budget_day
        FROM events
    ), r AS (
        SELECT event_type, budget_day, event_id, ts,
               ROW_NUMBER() OVER (PARTITION BY event_type, budget_day
                                  ORDER BY ts, event_id) AS rn
        FROM e
    )
    SELECT event_type, budget_day, event_id, ts
    FROM r WHERE rn <= {_C52_TOKENS}
    """,
    doc=f"""SS1 daily API token bucket — the BATCH twin
    (streaming/jobs.token_bucket_batch; reference
    google_places_ingester.py:44-74), the last reference-derived
    streaming twin with an SQL-expressible oracle that had never
    been driver-signed (r10 verdict item 5). Admits the first
    {_C52_TOKENS} events per (source, budget day) in (ts, id) order;
    the budget day rolls at the 07:00 UTC reset hour via pure epoch
    arithmetic (``date_from_unix_date(floor((epoch−7h)/86400))``) so
    the boundary is session-timezone-proof — the oracle replays the
    same arithmetic (a sub-second epoch fraction can never flip the
    86400-floor of an integer-second offset, so DuckDB's fractional
    ``epoch()`` agrees with Spark's truncating ``unix_timestamp``).
    At the fixture grain every (source, day) group is over budget
    (~66 rows/group at sf0.01, ~7 at sf0.001 vs {_C52_TOKENS}
    tokens), so admission AND blocking are both load-bearing in the
    hash. One keyed window — partitioned by (source, day), never
    global; the streaming form's multi-batch arrival-order semantics
    stay pinned by tests/test_streaming.py.""",
)
def c52_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import token_bucket_batch

    return token_bucket_batch(
        read_table(spark, sf_dir, "events"),
        daily_tokens=_C52_TOKENS,
        reset_hour_utc=7,
    )


# ---------------------------------------------------------------------------
# c58 — SS3 stateful ≤N-per-key windowed dedup, oracle-gated via a
# file-replay device
# ---------------------------------------------------------------------------

#: admission cap per (user_id, event_type) across the whole replay —
#: non-default on purpose (the operator's default is 2) so the gate
#: proves the parameter is plumbed through the state function
_C58_N = 3
#: epoch base for the synthetic event times
_C58_T0 = 1_700_000_000

_SQL_STATEFUL_DEDUP = f"""
    WITH m AS (
        SELECT user_id, event_type, event_id,
               {_C58_T0} + (event_id % 40) * 3600 AS ts_s
        FROM events
    ),
    r AS (
        SELECT user_id, event_type, event_id, ts_s,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts_s ASC, event_id ASC) AS rn
        FROM m
    )
    SELECT user_id, event_type, event_id, ts_s FROM r WHERE rn <= {_C58_N}
"""

_c58_counter = 0


@register(
    "c58_stateful_dedup_replay",
    _SQL_STATEFUL_DEDUP,
    doc="""SS3 ≤N-per-key windowed dedup, STATEFUL side driver-gated
    (r12 verdict item 1 — the reference's core 21-day mention dedup,
    scripts/mention_scanner/dedup.py:47-96, whose
    ``applyInPandasWithState`` implementation verified by pytest only
    through r12). The replay device: two deterministic waves
    planted from event-id arithmetic (ts = T0 + (event_id%40) h; wave
    1 = hours 0–19, wave 2 = hours 20–39) are replayed through the
    REAL ``topn_dedup_stateful`` streaming query in two separate
    micro-batches, so the per-key admission counter must SURVIVE the
    batch boundary: at sf0.01, 32 keys enter wave 2 with a partial
    count (fewer than N=3 admitted in wave 1) and 716 keys enter it
    saturated — a state reset emits up to 2N rows per key and breaks
    both the row count and the hash. Because every wave-1 timestamp
    precedes every wave-2 timestamp per key, the operator's
    arrival-order-greedy admission equals the event-time-canonical
    ROW_NUMBER oracle (the zr02/batch-twin window form) — the same
    twin-agreement condition token_bucket_admission documents.
    Replay harness query (staging + two synchronous micro-batches
    dominate wall time — tagged in bench ``harness`` via the c58
    prefix).""",
)
def c58_stateful_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import topn_dedup_stateful

    global _c58_counter
    _c58_counter += 1

    ev = read_table(spark, sf_dir, "events")
    hours = F.col("event_id") % 40
    planted = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.timestamp_seconds(F.lit(_C58_T0) + hours * 3600).alias("ts"),
    )
    out = _replay_waves(
        spark,
        [planted.filter(hours < 20), planted.filter(hours >= 20)],
        lambda s: topn_dedup_stateful(s, max_per_key=_C58_N),
        "c58_dedup_",
        f"c58_stateful_dedup_out_{_c58_counter}",
        # state stores sized to key cardinality (7.5k keys at sf0.1):
        # measured 28.7/9.4/6.1 s at 8/16/32 — parallelism wins here
        shuffle_partitions="32",
    )
    return out.select(
        "user_id",
        "event_type",
        "event_id",
        F.col("ts").cast("long").alias("ts_s"),
    )


# ---------------------------------------------------------------------------
# c61 — SS7 rescan-scheduler timeouts, driver-gated via the replay
# device; c62 — SS5 cadence gate, same device (r12 verdict item 1's
# "natural second leg", completing the stateful streaming trio)
# ---------------------------------------------------------------------------

_C61_T0 = 1_700_000_000
_C61_T1 = _C61_T0 + 30 * 86_400  # wave 2: +30 d (past every wave-1 deadline)
#: wave 3 sits ~28 h after wave 2's base — close enough that the final
#: watermark (max ts − 1 h) stays BELOW every wave-2/3 deadline (+7 d),
#: so no timeout beyond class A can ever fire, with or without
#: trailing no-data micro-batches
_C61_T3 = _C61_T1 + 100_000
_C61_WEEK = 7 * 86_400
_C61_M = 400  #: cell count cap (j = c_custkey % 400)

_SQL_RESCAN_TIMEOUT = f"""
    WITH cells AS (SELECT DISTINCT c_custkey % {_C61_M} AS j FROM customer),
    all_scans AS (
        SELECT j, 1 AS wave, {_C61_T0} + (j % 24) * 3600 AS ts_s,
               (j * 13) % 100 AS res
        FROM cells WHERE j % 4 IN (0, 1)
        UNION ALL
        SELECT j, 2, {_C61_T1} + (j % 24) * 3600, (j * 17) % 100
        FROM cells WHERE j % 4 IN (1, 2)
        UNION ALL
        SELECT j, 3, {_C61_T3} + (j % 24) * 3600, (j * 19) % 100
        FROM cells WHERE j % 4 = 3
    ),
    numbered AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY j ORDER BY wave) AS att
        FROM all_scans
    )
    SELECT 'cell_' || j AS h3,
           CASE WHEN res >= 60 THEN 'saturated' ELSE 'scanned' END AS status,
           CAST(att AS BIGINT) AS attempts,
           CAST(res AS BIGINT) AS results_last,
           ts_s + {_C61_WEEK} AS next_due_s,
           FALSE AS due
    FROM numbered
    UNION ALL
    SELECT 'cell_' || j, 'due', CAST(1 AS BIGINT),
           CAST((j * 13) % 100 AS BIGINT),
           {_C61_T0} + (j % 24) * 3600 + {_C61_WEEK}, TRUE
    FROM cells WHERE j % 4 = 0
"""


def _replay_waves(
    spark: SparkSession,
    waves: list[DataFrame],
    build,
    prefix: str,
    name: str,
    shuffle_partitions: str = "8",
):
    """The file-replay harness, shared by every stateful gate:
    stage each wave as one parquet file, drive the streaming query
    synchronously between writes (one micro-batch per wave + any
    no-data timeout batches), return the memory-sink table.

    ``shuffle_partitions`` is pinned around the query start (the
    ``_replay_events`` posture): Spark fixes the state-store count at
    the query's FIRST micro-batch, and 32 near-empty stores × several
    batches × Python worker round-trips dominated the replay wall
    time at fixture scale (c61 measured ~3× slower at 32)."""
    import glob
    import os
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix=prefix)
    waves_dir = os.path.join(root, "waves")
    ckpt = os.path.join(root, "ck")
    os.makedirs(waves_dir)

    def write_wave(i: int, df: DataFrame) -> None:
        tmp = os.path.join(root, f"_w{i}")
        df.coalesce(1).write.parquet(tmp)
        for f in glob.glob(os.path.join(tmp, "*.parquet")):
            shutil.move(f, os.path.join(waves_dir, f"wave{i}.parquet"))
        shutil.rmtree(tmp)

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in waves[0].schema.fields
    )
    stream = spark.readStream.schema(schema).parquet(waves_dir)
    write_wave(1, waves[0])
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndmb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
        # r13 optimization (guide §1/§2: fewer scheduled units): no-data
        # micro-batches exist to fire event-time timeouts between data
        # batches; every replay gate is designed WATERMARK-INVARIANT
        # (c61's due set is "exactly class A regardless of trailing
        # no-data micro-batches" — any timeout that must fire does so
        # inside the next DATA batch, and no deadline beyond the last
        # wave's watermark may ever fire). Disabling them halves c61's
        # batch count (6 → 3; each empty batch cost ~0.8 s of state-
        # store round trips at fixture scale) with byte-identical
        # output, re-verified against the DuckDB oracle at 3 SFs.
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        q = (
            build(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            for i, w in enumerate(waves[1:], start=2):
                write_wave(i, w)
                q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb)
    shutil.rmtree(root, ignore_errors=True)  # memory sink holds the rows
    return spark.table(name)


_c61_counter = 0


@register(
    "c61_rescan_timeout_replay",
    _SQL_RESCAN_TIMEOUT,
    doc="""SS7 rescan scheduler, STATEFUL side driver-gated —
    EVENT-TIME TIMEOUTS in the hash (reference h3_scheduler.py's
    ``next_due_at <= now`` poll, :516-526, push-based; the
    applyInPandasWithState timer verified by pytest only through
    r12). Three planted waves of scan results over cells from
    customer keys: class A (j%4=0) scanned only in wave 1 — its
    7-day deadline passes the watermark once wave 2 (+30 d) arrives,
    so the TIMEOUT must fire exactly once, emitting the 'due' row
    with the frozen wave-1 state and removing the key; class B
    (j%4=1) is rescanned in wave 2, so its attempts counter must
    carry across the batch boundary (emits attempts=2) AND its
    re-armed deadline must suppress the timeout; wave 3 sits 28 h
    after wave 2 so the final watermark can never reach any
    remaining deadline — the due set is exactly class A regardless
    of trailing no-data micro-batches. A state reset, a lost timer,
    a timer that fires despite re-arming, or a duplicate fire each
    break rows+hash. Replay harness query (bench-tagged via the c61
    prefix).""",
)
def c61_rescan_timeout_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import rescan_scheduler

    global _c61_counter
    _c61_counter += 1

    cells = (
        read_table(spark, sf_dir, "customer")
        .select((F.col("c_custkey") % _C61_M).alias("j"))
        .distinct()
    )
    j = F.col("j")

    def wave(base: int, mul: int, mods: list[int]) -> DataFrame:
        return cells.filter((j % 4).isin(mods)).select(
            F.concat(F.lit("cell_"), j.cast("string")).alias("h3"),
            ((j * mul) % 100).cast("long").alias("results"),
            F.timestamp_seconds(F.lit(base) + (j % 24) * 3600).alias("ts"),
        )

    out = _replay_waves(
        spark,
        [
            wave(_C61_T0, 13, [0, 1]),
            wave(_C61_T1, 17, [1, 2]),
            wave(_C61_T3, 19, [3]),
        ],
        lambda s: rescan_scheduler(s, rescan_days=7.0, scan_cap=60),
        "c61_rescan_",
        f"c61_rescan_out_{_c61_counter}",
        # ≤400 cells but 3 data + no-data timeout batches: store count
        # dominates (measured 6.4 s at 16 vs 9.7 at 32, 35 s unpinned)
        shuffle_partitions="16",
    )
    return out.select(
        "h3",
        "status",
        "attempts",
        "results_last",
        F.col("next_due_at").cast("long").alias("next_due_s"),
        "due",
    )


_C62_T0 = 1_700_000_000
_C62_STEP = 4 * 86_400  #: 4-day event spacing vs the 7-day cadence

_SQL_CADENCE_REPLAY = f"""
    WITH m AS (
        SELECT event_id, event_id // 10 AS k, event_id % 10 AS n
        FROM events
    )
    SELECT k AS user_id, 'cad' AS event_type, event_id,
           {_C62_T0} + (k % 1440) * 60 + n * {_C62_STEP} AS ts_s,
           (event_id % 97) / 10.0 AS value
    FROM m WHERE n % 2 = 0
"""

_c62_counter = 0


@register(
    "c62_cadence_replay",
    _SQL_CADENCE_REPLAY,
    doc="""SS5 cadence-gated append, STATEFUL side driver-gated (the
    reference's ≥7-day rating-snapshot cadence,
    google_places_ingester.py:516-555; applyInPandasWithState
    last-emitted-ts state verified by pytest only through r12). The
    planted corpus makes the sequential greedy chain ARITHMETIC: each
    key (event_id // 10) carries ten events at exact 4-day spacing,
    so the ≥7-day gate emits exactly the even sequence positions
    (0, 2, 4, 6, 8 — every second event, 8-day effective cadence).
    The two waves split each key's chain at n=5: wave 2 opens with an
    ODD position whose gap to the last wave-1 emission (n=4) is only
    4 days, so a state reset at the batch boundary admits it and
    breaks rows+hash — the cross-batch last-emitted timestamp is
    load-bearing for every key. Per-key minute offsets (k % 1440)
    keep all waves inside the 30-day watermark at every SF. Replay
    harness query (bench-tagged via the c62 prefix).""",
)
def c62_cadence_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import cadence_gated_append

    global _c62_counter
    _c62_counter += 1

    ev = read_table(spark, sf_dir, "events")
    k = (F.col("event_id") / 10).cast("long")
    n = F.col("event_id") % 10
    planted = ev.select(
        k.alias("user_id"),
        F.lit("cad").alias("event_type"),
        "event_id",
        F.timestamp_seconds(
            F.lit(_C62_T0) + (k % 1440) * 60 + n * _C62_STEP
        ).alias("ts"),
        ((F.col("event_id") % 97) / 10.0).alias("value"),
    )
    out = _replay_waves(
        spark,
        [planted.filter(n < 5), planted.filter(n >= 5)],
        lambda s: cadence_gated_append(s, interval_days=7.0),
        "c62_cadence_",
        f"c62_cadence_out_{_c62_counter}",
        # 10k keys at sf0.1 and a per-key Python loop in the state fn:
        # parallelism wins (measured 17.2/9.7/7.1 s at 8/16/32)
        shuffle_partitions="32",
    )
    return out.select(
        "user_id",
        "event_type",
        "event_id",
        F.col("ts").cast("long").alias("ts_s"),
        "value",
    )
