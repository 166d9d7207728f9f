"""POI-ingestion operators (SURVEY §2.2/§2.1): the filter/projection/
novelty stages of the Places ingester and H3 scheduler, as column
expressions.

Citations: reference ``scripts/google_places_ingester.py`` (F1-F4,
S10, S15) and ``scripts/h3_scheduler.py:619-670`` (A16 novelty).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# F1 — type allowlist (google_places_ingester.py:76-79)
ALLOWED_TYPES = ["restaurant", "bar", "cafe", "bakery"]


def type_allowlist(types: Column, allowed: list[str] | None = None) -> Column:
    return F.arrays_overlap(types, F.array(*[F.lit(t) for t in (allowed or ALLOWED_TYPES)]))


# F2 — quality gate (google_places_ingester.py:81-85; config.json:197-200)
def quality_gate(rating: Column, reviews: Column, min_rating: float = 4.3, min_reviews: int = 50) -> Column:
    return (rating >= min_rating) & (reviews >= min_reviews)


# F3 — category mapping (google_places_ingester.py:87-104): first
# allowed type wins, in allowlist order; remaining types → subcategories
def primary_category(types: Column, allowed: list[str] | None = None) -> Column:
    order = allowed or ALLOWED_TYPES
    out = F.lit(None).cast("string")
    for t in reversed(order):
        out = F.when(F.array_contains(types, t), F.lit(t)).otherwise(out)
    return out


# A16 — novelty score (h3_scheduler.py:619-659)
NAME_SIGNALS = ["new", "nouveau", "fresh", "recent", "opening", "2025"]
ADDRESS_SIGNALS = ["new", "recent", "opening"]


def novelty_score(
    rating: Column,
    reviews_count: Column,
    name: Column,
    types: Column,
    address: Column,
    exists_in_db: Column,
) -> Column:
    """Additive rule score, capped at 1.0. ``exists_in_db`` is a
    boolean column — at scale it comes from a left-anti/semi join
    against the poi table keyed by place_id, not a per-row lookup."""
    reviews_part = (
        F.when(rating.isNull() & reviews_count.isNull(), 0.4)
        .when(reviews_count.isNotNull() & (reviews_count < 5), 0.35)
        .when(
            reviews_count.isNotNull()
            & (reviews_count < 20)
            & rating.isNotNull()
            & (rating > 4.5),
            0.25,
        )
        .otherwise(0.0)
    )
    unseen_part = F.when(~exists_in_db, 0.3).otherwise(0.0)
    lname = F.lower(F.coalesce(name, F.lit("")))
    name_part = F.when(
        F.exists(F.array(*[F.lit(s) for s in NAME_SIGNALS]), lambda s: F.contains(lname, s)),
        0.15,
    ).otherwise(0.0)
    type_part = F.when(
        F.arrays_overlap(types, F.array(*[F.lit(t) for t in ALLOWED_TYPES])), 0.1
    ).otherwise(0.0)
    laddr = F.lower(F.coalesce(address, F.lit("")))
    addr_part = F.when(
        F.exists(F.array(*[F.lit(s) for s in ADDRESS_SIGNALS]), lambda s: F.contains(laddr, s)),
        0.05,
    ).otherwise(0.0)
    return F.least(reviews_part + unseen_part + name_part + type_part + addr_part, F.lit(1.0))


def classify_novelty(score: Column) -> Column:
    """h3_scheduler.py:661-670."""
    return (
        F.when(score >= 0.8, "highly_likely_new")
        .when(score >= 0.6, "likely_new")
        .when(score >= 0.4, "potentially_new")
        .otherwise("established")
    )


# S10 — batch upsert as window-dedup-latest
def upsert_latest(
    existing: DataFrame, incoming: DataFrame, key: str, version_col: str
) -> DataFrame:
    """MERGE-equivalent for append-only storage: union both sides, keep
    the newest row per key — the standard 'window-dedup-latest'
    rewrite of MERGE INTO (SURVEY §2.1 S10, reference
    google_places_ingester.py:445-514). It is the body of every upsert
    in the package, batch or streaming (``partitioned_merge_sink``).

    Tie rule, all in the one window below: version descending, which
    puts NULL versions LAST (a NULL version carries no recency claim
    and loses to any real one), then the is-incoming flag descending,
    so on equal versions the INCOMING row wins. The flag makes the
    winner deterministic on existing-vs-incoming ties (pinned in
    tests/test_streaming.py::test_merge_tie_rule_legs_agree)."""
    w = Window.partitionBy(key).orderBy(
        F.col(version_col).desc(), F.col("_is_incoming").desc()
    )
    return (
        existing.withColumn("_is_incoming", F.lit(0))
        .unionByName(
            incoming.withColumn("_is_incoming", F.lit(1)),
            allowMissingColumns=True,
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_is_incoming")
    )


# S15 — rating-snapshot cadence append (google_places_ingester.py:516-555)
def snapshot_if_due(
    existing_snapshots: DataFrame,
    incoming: DataFrame,
    as_of: Column,
    interval_days: int = 7,
) -> DataFrame:
    """Append an incoming (poi_id, source_id, …) snapshot only if the
    latest stored one is older than the interval — expressed as an
    aggregate + left join + filter (set-oriented, not per-row)."""
    latest = existing_snapshots.groupBy("poi_id", "source_id").agg(
        F.max("captured_at").alias("last_captured_at")
    )
    return (
        incoming.join(latest, ["poi_id", "source_id"], "left")
        .filter(
            F.col("last_captured_at").isNull()
            | (F.col("last_captured_at") <= F.date_sub(as_of, interval_days))
        )
        .drop("last_captured_at")
    )


# ---------------------------------------------------------------------------
# S3–S5 / F4 — Places payload → poi row (google_places_ingester.py:311-422)
# ---------------------------------------------------------------------------

#: google type → subcategory label (subset of config.json:218-240)
SUBCATEGORY_MAP = {
    "bakery": "bakery",
    "cafe": "cafe",
    "bar": "bar",
    "restaurant": "restaurant",
    "night_club": "nightlife",
    "meal_takeaway": "takeaway",
}


def places_payload_to_poi(
    payload: DataFrame, city_slug: str, as_of: Column
) -> DataFrame:
    """The nested Places-API search result remapped to a poi row:
    required-field validation (place_id, name, geometry.location,
    allowed types) → drop; truncating projections (name 200, address
    255, website 500, phone 50); category from the first allowed type;
    subcategories via the type map; country from the address tail.

    ``payload`` schema (a file fixture standing in for the API edge):
    place_id, name, types array<string>,
    geometry struct<location: struct<lat double, lng double>>,
    formatted_address, website, phone, price_level int, rating,
    user_ratings_total."""
    from ..functions.text import country_from_address

    sub_map = F.create_map(*[F.lit(x) for kv in SUBCATEGORY_MAP.items() for x in kv])
    valid = payload.filter(
        F.col("place_id").isNotNull()
        & F.col("name").isNotNull()
        & F.col("geometry.location.lat").isNotNull()
        & F.col("geometry.location.lng").isNotNull()
        & type_allowlist(F.col("types"))
    )
    subcats = F.array_compact(
        F.transform(F.col("types"), lambda t: F.element_at(sub_map, t))
    )
    return valid.select(
        F.col("place_id").alias("google_place_id"),
        F.substring("name", 1, 200).alias("name"),
        primary_category(F.col("types")).alias("category"),
        subcats.alias("subcategories"),
        F.lit(city_slug).alias("city_slug"),
        country_from_address(F.col("formatted_address")).alias("country"),
        F.col("geometry.location.lat").alias("lat"),
        F.col("geometry.location.lng").alias("lng"),
        F.substring("formatted_address", 1, 255).alias("address_street"),
        F.substring("website", 1, 500).alias("website"),
        F.substring("phone", 1, 50).alias("phone"),
        F.col("price_level").cast("string").alias("price_level"),
        F.col("rating"),
        F.col("user_ratings_total").cast("long").alias("reviews_count"),
        as_of.alias("last_ingested_from_google_at"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Dataset-version diff — the audit twin of the upsert family:
    classify every id across two corpus snapshots as ``added`` /
    ``removed`` / ``modified`` (content hash changed), the
    regression-detection step a training pipeline runs between
    dataset releases (the Delta/LakeFS data-versioning practice,
    done as a plain relational op). ``unchanged`` rows are NOT
    emitted: the diff of two 100 TB snapshots is dominated by
    unchanged ids, and the interesting output is the delta.

    Scale shape: content compare is md5 (computed inline here; a
    production snapshot store would persist the hash column and skip
    re-reading content), then ONE full-outer equi-join on the id —
    a single co-partitioned shuffle — and the classification is a
    pure projection. Output: (id, status, old_hash, new_hash),
    status ∈ {added, removed, modified}.

    PRECONDITION: ``id_col`` is unique within each snapshot (the
    defining property of a snapshot — one content state per id per
    version). Duplicate ids would fan out through the full-outer
    join and emit one row per old×new combination, including
    contradictory statuses for the same id; run the exact-dedup
    operator (d01) first if the input cannot guarantee it. Not
    asserted here — a count-distinct guard would add two full-table
    aggregations to every diff to re-check what the snapshot writer
    already enforces.
    """
    # existence is carried as an explicit flag, NOT inferred from
    # hash nullness: md5(NULL) = NULL, so a NULL-content row present
    # in both snapshots would otherwise classify as added/removed
    # (review finding, reproduced). Hash comparison is null-safe for
    # the same reason (NULL→value and value→NULL are modifications;
    # NULL→NULL is unchanged).
    o = old.select(
        F.col(id_col).alias("_id"),
        F.md5(F.col(content_col)).alias("old_hash"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(id_col).alias("_id"),
        F.md5(F.col(content_col)).alias("new_hash"),
        F.lit(True).alias("_in_new"),
    )
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(
            ~F.col("old_hash").eqNullSafe(F.col("new_hash")), F.lit("modified")
        )
    )
    return (
        o.join(n, "_id", "full_outer")
        .withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(F.col("_id").alias(id_col), "status", "old_hash", "new_hash")
    )
