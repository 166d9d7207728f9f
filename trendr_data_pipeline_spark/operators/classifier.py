"""Classification operators A1–A8 (SURVEY §2.4): per-POI Authority /
Review / Momentum / Gatto scores, badges, eligibility.

The reference issues O(POIs × 5) HTTP queries in a Python loop
(reference ``scripts/intelligent_classifier.py:499-528``); here the
whole city scores in ONE pass:

    poi ⟕ mention_aggregates ⟕ snapshot_aggregates → column math

Two shuffles total (one per fact aggregation, each keyed by poi_id),
then a broadcast-friendly join back to ``poi``. Every time-dependent
term takes an explicit ``as_of`` (SURVEY §4 determinism discipline —
the reference calls ``datetime.now()`` inline).

Formula citations (reference scripts/intelligent_classifier.py):
- weights/τ per source type :32-43; A1 authority :51-99;
- A2 review :101-131; A3 momentum :133-257; A4 gatto :259-262;
- A5 badges :264-355; A6 eligibility :357-369; A7 percentiles :530-535;
- A8 transitions :493,517-521.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.math_geo import clamp, clamp01, log1p_volume, tanh_soft_cap

WEIGHT_TYPE = {"guide": 1.0, "press": 0.8, "local": 0.5}
DECAY_TAU = {"guide": 180.0, "press": 75.0, "local": 30.0}


def _map_lit(d: dict[str, float]) -> Column:
    return F.create_map(*[F.lit(x) for kv in d.items() for x in kv])


def days_trunc(as_of: Column, ts: Column) -> Column:
    """Python ``(a - b).days`` semantics: whole elapsed days,
    truncated — NOT calendar datediff. The reference ages everything
    this way (``intelligent_classifier.py:83``, ``:170``). The extra
    timestamp cast normalizes TIMESTAMP_NTZ inputs (parquet columns
    with isAdjustedToUTC=false) — NTZ cannot cast to long directly."""
    return F.floor(
        (as_of.cast("timestamp").cast("long") - ts.cast("timestamp").cast("long")) / F.lit(86400)
    )


def within_days(ts: Column, as_of: Column, days: int) -> Column:
    """Reference window membership is a timestamp-cutoff comparison
    (``created_at >= now - timedelta(days=N)``), not date arithmetic."""
    return ts >= as_of - F.expr(f"INTERVAL {days} DAYS")


def mention_aggregates(
    mentions: DataFrame, as_of: Column, exact_sums: bool = False
) -> DataFrame:
    """All per-POI mention statistics the classifier needs, in one
    groupBy: A1 raw authority plus the badge/bonus counters.

    w_time resolution per mention (A1, :74-87): stored w_time, else
    exp(-Δdays/τ(source_type)) from created_at (τ default 30), else
    0.5. Badge counters use the *stored* w_time with 0.0 default
    (:304-355) — the reference treats those paths differently.
    """
    st = F.lower(F.coalesce(F.col("source_type"), F.lit("local")))
    weight_type = F.coalesce(F.element_at(_map_lit(WEIGHT_TYPE), st), F.lit(0.5))
    tau = F.coalesce(F.element_at(_map_lit(DECAY_TAU), st), F.lit(30.0))
    w_time_eff = F.coalesce(
        F.col("w_time"),
        F.when(
            F.col("created_at").isNotNull(),
            F.exp(-days_trunc(as_of, F.col("created_at")).cast("double") / tau),
        ),
        F.lit(0.5),
    )
    contribution = (
        weight_type
        * F.coalesce(F.col("authority_weight"), F.lit(1.0))
        * w_time_eff
        * F.coalesce(F.col("match_score"), F.lit(1.0))
    )
    if exact_sums:
        # decimal accumulation: summation order stops mattering, so the
        # result is reproducible across partitionings AND engines (the
        # driver's DuckDB oracle). Quantization at 1e-8 is far below
        # any score threshold.
        contribution = contribution.cast("decimal(28,8)")
    w_stored = F.coalesce(F.col("w_time"), F.lit(0.0))
    in_30d = within_days(F.col("created_at"), as_of, 30)
    in_60d = within_days(F.col("created_at"), as_of, 60)
    return mentions.groupBy("poi_id").agg(
        F.sum(contribution).cast("double").alias("raw_authority"),
        F.count(F.when(in_30d & (w_stored > 0.8), 1)).alias("n_recent_w08_30d"),
        F.count(F.when(in_60d & (w_stored > 0.6), 1)).alias("n_recent_w06_60d"),
        # badge counters filter on the RAW source_type (reference uses
        # SQL eq/in_ predicates, :304-355 — NULL rows never match),
        # unlike A1 where NULL defaults to 'local'
        F.max(F.when(F.lower(F.col("source_type")).isin("press", "local"), 1).otherwise(0)).alias(
            "has_press_or_local"
        ),
        F.count(F.when(F.lower(F.col("source_type")) == "local", 1)).alias("n_local"),
    )


def snapshot_aggregates(snapshots: DataFrame, as_of: Column) -> DataFrame:
    """Per-POI snapshot statistics: total count (the 'insufficient
    data' gate counts ALL snapshots, :245-257) and the newest/oldest
    reviews_count within the trailing 14 days (:184-209)."""
    in_window = within_days(F.col("captured_at"), as_of, 14)
    return snapshots.groupBy("poi_id").agg(
        F.count(F.lit(1)).alias("n_snapshots_total"),
        F.count(F.when(in_window, 1)).alias("n_snapshots_14d"),
        F.max_by(F.when(in_window, F.col("reviews_count")), F.when(in_window, F.col("captured_at"))).alias("newest_14d"),
        F.min_by(F.when(in_window, F.col("reviews_count")), F.when(in_window, F.col("captured_at"))).alias("oldest_14d"),
    )


def classify(
    poi: DataFrame,
    mentions: DataFrame,
    snapshots: DataFrame,
    as_of: Column,
    city_p95_reviews: float = 5.0,
    exact_sums: bool = False,
) -> DataFrame:
    """A1–A6 in one pass. Returns poi columns + authority_score,
    review_score, momentum_score, gatto_score, badges,
    eligibility_status."""
    m = mention_aggregates(mentions, as_of, exact_sums=exact_sums)
    s = snapshot_aggregates(snapshots, as_of)

    df = (
        poi.join(m, poi["id"] == m["poi_id"], "left")
        .drop("poi_id")
        .join(s, poi["id"] == s["poi_id"], "left")
        .drop("poi_id")
    )

    # A1 — authority
    authority = clamp(
        tanh_soft_cap(F.coalesce(F.col("raw_authority"), F.lit(0.0))), 0.0, 100.0
    )

    # A2 — review
    cat = F.lower(F.coalesce(F.col("category"), F.lit("")))
    score_rating = clamp01((F.col("rating") - 3.5) / 1.5) * 100.0
    score_volume = F.when(
        F.coalesce(F.col("reviews_count"), F.lit(0)) > 0,
        log1p_volume(F.col("reviews_count")) * 100.0,
    ).otherwise(0.0)
    review_raw = 0.70 * score_rating + 0.30 * score_volume
    review_adj = F.when(cat.isin("bar", "night_club"), review_raw * 0.85).otherwise(review_raw)
    review = F.when(F.col("rating").isNull(), 0.0).otherwise(clamp(review_adj, 0.0, 100.0))

    # A3 — momentum
    delta_14d = F.when(
        F.coalesce(F.col("n_snapshots_14d"), F.lit(0)) >= 2,
        F.greatest(F.col("newest_14d") - F.col("oldest_14d"), F.lit(0)),
    ).otherwise(0)
    base_momentum = F.when(
        delta_14d > 0, F.least(delta_14d / F.lit(city_p95_reviews), F.lit(1.0)) * 100.0
    ).otherwise(0.0)
    bonus = F.when(F.coalesce(F.col("n_recent_w08_30d"), F.lit(0)) >= 2, 15.0).otherwise(0.0)
    momentum_pre = base_momentum + bonus
    momentum_pre = F.when(cat == "bakery", momentum_pre * 1.15).otherwise(momentum_pre)
    insufficient = F.coalesce(F.col("n_snapshots_total"), F.lit(0)) < 2
    fallback = F.when(
        F.col("first_seen_at").isNotNull()
        & (days_trunc(as_of, F.col("first_seen_at")) < 30),
        50.0,
    ).otherwise(0.0)
    momentum = clamp(F.when(insufficient, fallback).otherwise(momentum_pre), 0.0, 100.0)

    df = (
        df.withColumn("authority_score", authority)
        .withColumn("review_score", review)
        .withColumn("momentum_score", momentum)
    )

    # A4 — gatto
    df = df.withColumn(
        "gatto_score",
        clamp(
            0.5 * F.col("authority_score")
            + 0.3 * F.col("review_score")
            + 0.2 * F.col("momentum_score"),
            0.0,
            100.0,
        ),
    )

    # A5 — badges (array_compact of conditional flags)
    new_badge = F.when(
        F.col("first_seen_at").isNotNull()
        & (days_trunc(as_of, F.col("first_seen_at")) <= 60)
        & (F.coalesce(F.col("n_recent_w06_60d"), F.lit(0)) >= 1),
        F.lit("new"),
    )
    trending_badge = F.when(
        (F.col("momentum_score") >= 65)
        | (F.coalesce(F.col("n_recent_w08_30d"), F.lit(0)) >= 2),
        F.lit("trending"),
    )
    hidden_gem_badge = F.when(
        (F.coalesce(F.col("rating"), F.lit(0.0)) >= 4.6)
        & (F.coalesce(F.col("reviews_count"), F.lit(0)) < 500)
        & (F.coalesce(F.col("has_press_or_local"), F.lit(0)) == 1),
        F.lit("hidden_gem"),
    )
    local_fav_badge = F.when(
        (F.coalesce(F.col("rating"), F.lit(0.0)) >= 4.4)
        & (F.coalesce(F.col("n_local"), F.lit(0)) >= 2),
        F.lit("local_favorite"),
    )
    df = df.withColumn(
        "badges",
        F.array_compact(F.array(new_badge, trending_badge, hidden_gem_badge, local_fav_badge)),
    )

    # A6 — eligibility
    df = df.withColumn(
        "eligibility_status",
        F.when(
            (F.col("gatto_score") >= 60)
            & ((F.col("authority_score") >= 40) | (F.col("review_score") >= 70)),
            "approved",
        )
        .when(F.col("gatto_score") >= 50, "eligible")
        .otherwise("hold"),
    )
    return df


def score_percentiles(scored: DataFrame) -> DataFrame:
    """A7 — the reference's nearest-rank-by-index percentiles
    (``scores[int(n*0.5)]`` over the ascending sort, :530-535), NOT
    linear interpolation.

    One aggregate: the sorted scores and the row count ``n``, then a
    0-based ``get`` at ``floor(n·p)``. A city's scored set is a few
    hundred to a few thousand rows, so one sorted array per cycle is
    small and the whole computation is a single job. ``n`` counts null
    scores while ``collect_list`` drops them, so nulls are counted and
    ordered last, as ``ORDER BY`` does. ``get`` returns NULL out of
    range (``element_at`` would raise on empty input under ANSI), so
    an empty set gives NULL percentiles. Pinned by test_classifier's
    Python sorted-list oracles."""
    agg = scored.agg(
        F.sort_array(F.collect_list("gatto_score")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        F.get("s", F.floor(F.col("n") * 0.5).cast("int")).alias("p50"),
        F.get("s", F.floor(F.col("n") * 0.95).cast("int")).alias("p95"),
    )


def status_transitions(old: DataFrame, new: DataFrame) -> DataFrame:
    """A8 — counts of 'old->new' eligibility transitions."""
    o = old.select(F.col("id"), F.col("eligibility_status").alias("old_status"))
    n = new.select(F.col("id"), F.col("eligibility_status").alias("new_status"))
    return (
        o.join(n, "id")
        .groupBy(F.concat_ws("->", "old_status", "new_status").alias("transition"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
