"""c53 — dynamic partition pruning over the 100 TB layout (r11).

``io.write_partitioned`` is the repo's day-partitioned fact layout
(the shape `lineitem`/`events`/`source_mention` would ship in at
100 TB), but until r11 no driver gate ever READ a partitioned
dataset through a dimension-driven partition filter — the layout
claim was pytest-narrated (tests/test_io_layout.py), not
plan-asserted under the driver (r10 verdict item 6). This gate
stages a day-partitioned copy of ``events`` once per process
(staging seconds published in the bench JSON under ``staging_s``),
then aggregates it through a join against a filtered calendar
dimension. Catalyst plans DYNAMIC partition
pruning: the dim's filter result is broadcast, and the fact scan's
``PartitionFilters`` carries a ``dynamicpruningexpression`` — only
the 4 matching day-directories of 30 are read at runtime.
``tools/plan_audit.py`` counts partitionFilters/dynamicpruning per
query so the claim is plan-asserted every round, and
tests/test_io_layout.py pins both the pruning expression and the
post-execution pruned-partition count.

At 1000-executor scale this is THE fact-table access pattern:
calendar/dimension-driven day selection must never scan the other
996 days. The oracle replays the same day predicate directly on the
unpartitioned events view — identical rows prove pruning lost
nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table, write_partitioned
from .registry import register

#: staged day-partitioned events copy: abs(sf_dir) -> dataset dir
_STAGED_EVENTS: dict[str, str] = {}
#: one-time staging wall seconds per abs(sf_dir) (bench staging_s)
STAGING_SECONDS: dict[str, float] = {}
_CLEANUP_REGISTERED = False

#: day-of-month selector for the calendar dim (4 of the fixture's 30
#: January days: 3, 10, 17, 24)
_C53_DOM_MOD, _C53_DOM_EQ = 7, 3


def _reap_staged() -> None:
    import shutil

    for d in _STAGED_EVENTS.values():
        shutil.rmtree(d, ignore_errors=True)


def staged_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per process per fixture dir) the day-partitioned
    events layout and return its path."""
    import atexit
    import os
    import tempfile
    import time

    global _CLEANUP_REGISTERED
    if not _CLEANUP_REGISTERED:
        atexit.register(_reap_staged)
        _CLEANUP_REGISTERED = True
    key = os.path.abspath(sf_dir)
    if key not in _STAGED_EVENTS:
        out = tempfile.mkdtemp(prefix="events_bydaystage_")
        t0 = time.time()
        ev = read_table(spark, sf_dir, "events").withColumn(
            "day", F.to_date(F.col("ts"))
        )
        write_partitioned(ev, out, ["day"])
        STAGING_SECONDS[key] = round(time.time() - t0, 3)
        _STAGED_EVENTS[key] = out
    return _STAGED_EVENTS[key]


def calendar_dim(spark: SparkSession) -> DataFrame:
    """30-row January-2024 calendar with an explicit day-of-month
    filter — the Filter node on the dim side is what makes Catalyst
    judge the DPP subquery worthwhile (``filteringHasBenefit``)."""
    return (
        spark.range(0, 30)
        .select(
            F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias(
                "day"
            )
        )
        .filter(F.dayofmonth(F.col("day")) % _C53_DOM_MOD == _C53_DOM_EQ)
    )


def pruned_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join the partitioned fact to the filtered calendar dim on the
    partition column and aggregate — the plan must show the fact scan
    with ``PartitionFilters: [... dynamicpruningexpression(...)]``."""
    fact = spark.read.parquet(staged_partitioned_events(spark, sf_dir))
    dim = calendar_dim(spark)
    return (
        fact.join(F.broadcast(dim), "day")
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


#: staged co-bucketed orders/customer tables:
#: abs(sf_dir) -> (orders_table, customer_table)
_STAGED_BUCKETED: dict[str, tuple[str, str]] = {}
_C54_BUCKETS = 8


def staged_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage (once per process per fixture dir) orders and customer
    CO-BUCKETED on the customer key — same key, same bucket count —
    via ``operators.skew.write_bucketed``. External tables under a
    per-process temp dir (no cross-process warehouse collisions);
    catalog names carry the pid + a per-dir ordinal for the same
    reason. Staging seconds publish under ``staging_s.c54``."""
    import atexit
    import os
    import shutil
    import tempfile
    import time

    from ..operators.skew import write_bucketed

    key = os.path.abspath(sf_dir)
    if key not in _STAGED_BUCKETED:
        base = tempfile.mkdtemp(prefix="bucketed_join_stage_")
        atexit.register(lambda d=base: shutil.rmtree(d, ignore_errors=True))
        tag = f"{os.getpid()}_{len(_STAGED_BUCKETED)}"
        t_orders, t_cust = f"c54_orders_{tag}", f"c54_customer_{tag}"
        t0 = time.time()
        write_bucketed(
            read_table(spark, sf_dir, "orders").withColumnRenamed(
                "o_custkey", "custkey"
            ),
            t_orders,
            "custkey",
            buckets=_C54_BUCKETS,
            path=os.path.join(base, "orders"),
        )
        write_bucketed(
            read_table(spark, sf_dir, "customer").withColumnRenamed(
                "c_custkey", "custkey"
            ),
            t_cust,
            "custkey",
            buckets=_C54_BUCKETS,
            path=os.path.join(base, "customer"),
        )
        STAGING_SECONDS[f"c54:{key}"] = round(time.time() - t0, 3)
        _STAGED_BUCKETED[key] = (t_orders, t_cust)
    return _STAGED_BUCKETED[key]


def bucketed_spend_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join the co-bucketed tables on the bucket key and aggregate on
    the same key — the plan must contain ZERO Exchange nodes: both
    scans report HashPartitioning(custkey, 8), the sort-merge join
    consumes the sorted buckets directly, and the aggregation's
    clustering requirement is satisfied by the same partitioning."""
    t_orders, t_cust = staged_bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders)
    c = spark.table(t_cust)
    from ._numeric import dsum

    # MERGE hint: at fixture scale the dim fits the broadcast
    # threshold and Catalyst would pick BHJ (+ a shuffle for the
    # aggregate); at the layout's target scale BOTH sides are large
    # and SMJ-over-buckets is the plan — the hint pins that plan so
    # the zero-exchange property is what the gate demonstrates
    return (
        o.join(c.hint("merge"), "custkey")
        .groupBy("custkey", "c_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice").alias("total_spend"),
        )
    )


@register(
    "c54_bucketed_join",
    """
    SELECT o_custkey AS custkey, c_name,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               AS total_spend
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_custkey, c_name
    """,
    doc="""Co-bucketed shuffle-free join (r11): the OTHER half of the
    100 TB layout story next to c53's partition pruning — fact and
    dimension persisted bucket-partitioned on the join key
    (``write_bucketed``, 8 sorted buckets each, staged once per
    process), joined and aggregated on that key with a plan carrying
    ZERO Exchange nodes (scans expose HashPartitioning, the SMJ and
    the per-customer aggregate both reuse it; pinned by
    tests/test_io_layout.py and visible as exchanges=0 in
    tools/plan_audit.py). At 1000 executors this is the difference
    between a nightly fact⋈dim costing a full network shuffle of the
    fact and costing zero network beyond the scans. Oracle = the
    plain unbucketed join — the layout must change the plan, never
    the rows.""",
)
def c54_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bucketed_spend_per_customer(spark, sf_dir)


@register(
    "c53_partition_pruned_stats",
    f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events
    WHERE EXTRACT(day FROM ts) % {_C53_DOM_MOD} = {_C53_DOM_EQ}
    GROUP BY 1, 2
    """,
    doc="""Dynamic-partition-pruning gate over the day-partitioned
    events layout (r11, verdict item 6): stage events partitioned by
    day once per process, aggregate through a broadcast join against
    a filtered 30-row calendar dim — Catalyst's DPP turns the dim's
    filter into a runtime ``dynamicpruningexpression`` partition
    filter on the fact scan (4 of 30 day-directories read;
    plan-audited + pinned by tests/test_io_layout.py). The oracle
    replays the day predicate on the unpartitioned view: identical
    rows prove pruning lost nothing. The fixture's 30 days all fall
    in January, so day-of-month %
    {_C53_DOM_MOD} == {_C53_DOM_EQ} selects exactly the dim's
    surviving days on both sides.""",
)
def c53_partition_pruned_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pruned_daily_stats(spark, sf_dir)
