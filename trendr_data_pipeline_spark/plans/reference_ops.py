"""Reference-semantic operators under the driver's oracle gate.

The driver's DuckDB oracle only sees the generic fixture tables, so
these queries DERIVE reference-shaped domain tables from them with
pure deterministic column arithmetic (same expressions on both
sides), then run the REAL engine operators (classifier A1–A6, W1
windowed dedup, F6 decision ladder, A16 novelty) on top. The pytest
suite separately proves those operators match the reference's Python
semantics on domain-shaped fixtures; this file proves the same
operators under hash-equality at sf0.01.

``as_of`` is pinned to 2000-01-01 (inside the orders date range).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from ..operators.classifier import classify
from ..operators.ingestion import classify_novelty, novelty_score
from ..operators.mentions import windowed_dedup, with_decision
from .registry import register

AS_OF = "2000-01-01 00:00:00"

# ---------------------------------------------------------------------------
# shared derivations (Spark side)
# ---------------------------------------------------------------------------


def derived_poi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").cast("string").alias("id"),
        F.concat(F.lit("Venue "), F.col("c_name")).alias("name"),
        F.when(F.col("c_mktsegment") == "BUILDING", "bar")
        .when(F.col("c_mktsegment") == "AUTOMOBILE", "bakery")
        .when(F.col("c_mktsegment") == "MACHINERY", "night_club")
        .when(F.col("c_mktsegment") == "FURNITURE", "cafe")
        .otherwise("restaurant")
        .alias("category"),
        F.when(F.col("c_custkey") % 17 == 0, F.lit(None).cast("double"))
        .otherwise(3.0 + (F.col("c_custkey") % 21) * 0.1)
        .alias("rating"),
        ((F.col("c_custkey") * 37) % 3000).alias("reviews_count"),
        (
            F.lit(AS_OF).cast("timestamp")
            - F.make_interval(days=(F.col("c_custkey") % 500).cast("int"))
        ).alias("first_seen_at"),
    )


_SQL_POI = f"""
    SELECT CAST(c_custkey AS VARCHAR) AS id,
           'Venue ' || c_name AS name,
           CASE c_mktsegment WHEN 'BUILDING' THEN 'bar' WHEN 'AUTOMOBILE' THEN 'bakery'
                WHEN 'MACHINERY' THEN 'night_club' WHEN 'FURNITURE' THEN 'cafe'
                ELSE 'restaurant' END AS category,
           CASE WHEN c_custkey % 17 = 0 THEN NULL
                ELSE CAST(3.0 AS DOUBLE) + (c_custkey % 21) * CAST(0.1 AS DOUBLE) END AS rating,
           (c_custkey * 37) % 3000 AS reviews_count,
           TIMESTAMP '{AS_OF}' - (c_custkey % 500) * INTERVAL 1 DAY AS first_seen_at
    FROM customer
"""


def derived_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") <= F.lit(AS_OF).cast("timestamp")
    )
    return o.select(
        F.col("o_custkey").cast("string").alias("poi_id"),
        F.when(F.col("o_orderpriority") == "1-URGENT", "guide")
        .when(F.col("o_orderpriority") == "2-HIGH", "press")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "local")
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", "blog")
        .otherwise(F.lit(None).cast("string"))
        .alias("source_type"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None).cast("double"))
        .otherwise((F.col("o_orderkey") % 100) / 100.0)
        .alias("authority_weight"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("double"))
        .otherwise((F.col("o_orderkey") % 50) / 50.0)
        .alias("match_score"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("double"))
        .otherwise((F.col("o_orderkey") % 90) / 100.0)
        .alias("w_time"),
        F.col("o_orderdate").alias("created_at"),
    )


_SQL_MENTIONS = f"""
    SELECT CAST(o_custkey AS VARCHAR) AS poi_id,
           CASE o_orderpriority WHEN '1-URGENT' THEN 'guide' WHEN '2-HIGH' THEN 'press'
                WHEN '3-MEDIUM' THEN 'local' WHEN '4-NOT SPECIFIED' THEN 'blog'
                ELSE NULL END AS source_type,
           CASE WHEN o_orderkey % 10 = 0 THEN NULL
                ELSE (o_orderkey % 100) / CAST(100.0 AS DOUBLE) END AS authority_weight,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE (o_orderkey % 50) / CAST(50.0 AS DOUBLE) END AS match_score,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL
                ELSE (o_orderkey % 90) / CAST(100.0 AS DOUBLE) END AS w_time,
           o_orderdate AS created_at
    FROM orders WHERE o_orderdate <= TIMESTAMP '{AS_OF}'
"""


def derived_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") <= F.lit(AS_OF).cast("timestamp")
    )
    return o.select(
        F.col("o_custkey").cast("string").alias("poi_id"),
        F.lit("google").alias("source_id"),
        F.lit(None).cast("double").alias("rating_value"),
        F.floor(F.col("o_totalprice") / 100.0).cast("long").alias("reviews_count"),
        F.col("o_orderdate").alias("captured_at"),
    )


_SQL_SNAPSHOTS = f"""
    SELECT CAST(o_custkey AS VARCHAR) AS poi_id,
           CAST(FLOOR(o_totalprice / 100.0) AS BIGINT) AS reviews_count,
           o_orderdate AS captured_at
    FROM orders WHERE o_orderdate <= TIMESTAMP '{AS_OF}'
"""


# ---------------------------------------------------------------------------
# r01 — classifier A1–A6 under the oracle gate
# ---------------------------------------------------------------------------

_R01_ORACLE = f"""
    WITH poi AS ({_SQL_POI}),
    mention AS ({_SQL_MENTIONS}),
    snap AS ({_SQL_SNAPSHOTS}),
    m_scored AS (
        SELECT poi_id,
               CASE lower(coalesce(source_type, 'local'))
                    WHEN 'guide' THEN 1.0 WHEN 'press' THEN 0.8 WHEN 'local' THEN 0.5
                    ELSE 0.5 END
               * coalesce(authority_weight, 1.0)
               * coalesce(w_time,
                          CASE WHEN created_at IS NOT NULL THEN
                               exp(-FLOOR((epoch(TIMESTAMP '{AS_OF}') - epoch(created_at)) / 86400)
                                   / CASE lower(coalesce(source_type, 'local'))
                                          WHEN 'guide' THEN 180.0 WHEN 'press' THEN 75.0
                                          WHEN 'local' THEN 30.0 ELSE 30.0 END)
                          ELSE 0.5 END)
               * coalesce(match_score, 1.0) AS contribution,
               CASE WHEN created_at >= TIMESTAMP '{AS_OF}' - INTERVAL 30 DAY
                     AND coalesce(w_time, 0.0) > 0.8 THEN 1 ELSE 0 END AS r08_30,
               CASE WHEN created_at >= TIMESTAMP '{AS_OF}' - INTERVAL 60 DAY
                     AND coalesce(w_time, 0.0) > 0.6 THEN 1 ELSE 0 END AS r06_60,
               CASE WHEN lower(source_type) IN ('press', 'local') THEN 1 ELSE 0 END AS pl,
               CASE WHEN lower(source_type) = 'local' THEN 1 ELSE 0 END AS loc
        FROM mention
    ),
    m_agg AS (
        SELECT poi_id,
               CAST(SUM(CAST(contribution AS DECIMAL(28,8))) AS DOUBLE) AS raw_authority,
               SUM(r08_30) AS n08, SUM(r06_60) AS n06, MAX(pl) AS haspl, SUM(loc) AS nloc
        FROM m_scored GROUP BY poi_id
    ),
    s_agg AS (
        SELECT poi_id,
               COUNT(*) AS n_total,
               COUNT(CASE WHEN captured_at >= TIMESTAMP '{AS_OF}' - INTERVAL 14 DAY THEN 1 END) AS n_14,
               MAX_BY(reviews_count, captured_at)
                   FILTER (captured_at >= TIMESTAMP '{AS_OF}' - INTERVAL 14 DAY) AS newest,
               MIN_BY(reviews_count, captured_at)
                   FILTER (captured_at >= TIMESTAMP '{AS_OF}' - INTERVAL 14 DAY) AS oldest
        FROM snap GROUP BY poi_id
    ),
    scored AS (
        SELECT p.id, p.category, p.rating, p.reviews_count, p.first_seen_at,
               least(100.0, greatest(0.0, (1.0 - 2.0 / (exp(2.0 * (coalesce(m.raw_authority, 0.0) / 100)) + 1.0)) * 100)) AS authority,
               CASE WHEN p.rating IS NULL THEN 0.0 ELSE
                    least(100.0, greatest(0.0,
                        (0.70 * least(greatest((p.rating - 3.5) / 1.5, 0.0), 1.0) * 100.0
                         + 0.30 * CASE WHEN p.reviews_count > 0
                                       THEN least(greatest(ln(1 + p.reviews_count) / ln(2001.0), 0.0), 1.0) * 100.0
                                       ELSE 0.0 END)
                        * CASE WHEN p.category IN ('bar', 'night_club') THEN 0.85 ELSE 1.0 END))
               END AS review,
               least(100.0, greatest(0.0,
                   CASE WHEN coalesce(s.n_total, 0) < 2 THEN
                        CASE WHEN p.first_seen_at IS NOT NULL
                              AND FLOOR((epoch(TIMESTAMP '{AS_OF}') - epoch(p.first_seen_at)) / 86400) < 30
                             THEN 50.0 ELSE 0.0 END
                   ELSE
                        (CASE WHEN coalesce(s.n_14, 0) >= 2 AND greatest(s.newest - s.oldest, 0) > 0
                              THEN least(greatest(s.newest - s.oldest, 0) / 5.0, 1.0) * 100.0
                              ELSE 0.0 END
                         + CASE WHEN coalesce(m.n08, 0) >= 2 THEN 15.0 ELSE 0.0 END)
                        * CASE WHEN p.category = 'bakery' THEN 1.15 ELSE 1.0 END
                   END)) AS momentum
        FROM poi p
        LEFT JOIN m_agg m ON p.id = m.poi_id
        LEFT JOIN s_agg s ON p.id = s.poi_id
    ),
    final AS (
        SELECT s.*,
               least(100.0, greatest(0.0, 0.5 * authority + 0.3 * review + 0.2 * momentum)) AS gatto,
               m.n06, m.n08, m.haspl, m.nloc
        FROM scored s LEFT JOIN m_agg m ON s.id = m.poi_id
    )
    SELECT id,
           ROUND(authority, 6) AS authority_score,
           ROUND(review, 6) AS review_score,
           ROUND(momentum, 6) AS momentum_score,
           ROUND(gatto, 6) AS gatto_score,
           coalesce(array_to_string([b FOR b IN [
               CASE WHEN first_seen_at IS NOT NULL
                     AND FLOOR((epoch(TIMESTAMP '{AS_OF}') - epoch(first_seen_at)) / 86400) <= 60
                     AND coalesce(n06, 0) >= 1 THEN 'new' END,
               CASE WHEN momentum >= 65 OR coalesce(n08, 0) >= 2 THEN 'trending' END,
               CASE WHEN coalesce(rating, 0.0) >= 4.6 AND coalesce(reviews_count, 0) < 500
                     AND coalesce(haspl, 0) = 1 THEN 'hidden_gem' END,
               CASE WHEN coalesce(rating, 0.0) >= 4.4 AND coalesce(nloc, 0) >= 2
                    THEN 'local_favorite' END
           ] IF b IS NOT NULL], ','), '') AS badges,
           CASE WHEN gatto >= 60 AND (authority >= 40 OR review >= 70) THEN 'approved'
                WHEN gatto >= 50 THEN 'eligible' ELSE 'hold' END AS eligibility_status
    FROM final
"""


@register(
    # z-pushed r10 (freeze rule): admits c46_fuzzy_decontam into the
    # driver window; r9-signed as r01 in CORRECTNESS_r09.json
    "zr01_classifier_scores",
    _R01_ORACLE,
    doc="A1–A6 classifier (operators/classifier.py) on domain tables "
    "derived from customer/orders, hash-checked against a full SQL "
    "transcription of the reference formulas.",
)
def r01_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    poi = derived_poi(spark, sf_dir)
    mentions = derived_mentions(spark, sf_dir)
    snapshots = derived_snapshots(spark, sf_dir)
    as_of = F.lit(AS_OF).cast("timestamp")
    out = classify(poi, mentions, snapshots, as_of, exact_sums=True)
    return out.select(
        "id",
        F.round("authority_score", 6).alias("authority_score"),
        F.round("review_score", 6).alias("review_score"),
        F.round("momentum_score", 6).alias("momentum_score"),
        F.round("gatto_score", 6).alias("gatto_score"),
        F.array_join("badges", ",").alias("badges"),
        "eligibility_status",
    )


# ---------------------------------------------------------------------------
# r02 — W1 windowed dedup under the oracle gate
# ---------------------------------------------------------------------------


@register(
    # z-pushed r10 (freeze rule): admitted c44_incremental_data_card
    # (since removed — bench.REMOVED_GATES) into the driver window;
    # r9-signed as r02 in CORRECTNESS_r09.json
    "zr02_windowed_dedup",
    f"""
    WITH m AS (
        SELECT 'src' || CAST(o_orderkey % 5 AS VARCHAR) AS source_id,
               'https://site' || CAST(o_orderkey % 5 AS VARCHAR)
                   || '.fr/articles/story-' || CAST(o_custkey % 50 AS VARCHAR)
                   || '-part' || CAST(o_orderkey % 4 AS VARCHAR) AS url,
               (o_orderkey % 100) / CAST(100.0 AS DOUBLE) AS authority_weight,
               (o_orderkey % 90) / CAST(100.0 AS DOUBLE) AS w_time
        FROM orders WHERE o_orderdate <= TIMESTAMP '{AS_OF}'
    ),
    keyed AS (
        SELECT *,
               regexp_extract(url, '^https?://([^/]+)', 1)
               || regexp_replace(regexp_extract(url, '^https?://[^/]+(/.*)$', 1),
                                 '-(part\\d+|update|v\\d+|\\d+)$', '') AS dedup_key
        FROM m
    ),
    ranked AS (
        SELECT source_id, url, dedup_key,
               ROW_NUMBER() OVER (PARTITION BY source_id, dedup_key
                                  ORDER BY authority_weight * w_time DESC, url ASC) AS dedup_rank
        FROM keyed
    )
    SELECT source_id, url, dedup_key, dedup_rank
    FROM ranked WHERE dedup_rank <= 2
    """,
    doc="W1 top-N-per-(source, dedupe_key) via the real windowed_dedup "
    "operator on URLs synthesized from orders keys.",
)
def r02_windowed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") <= F.lit(AS_OF).cast("timestamp")
    )
    m = o.select(
        F.concat(F.lit("src"), (F.col("o_orderkey") % 5).cast("string")).alias("source_id"),
        F.concat(
            F.lit("https://site"),
            (F.col("o_orderkey") % 5).cast("string"),
            F.lit(".fr/articles/story-"),
            (F.col("o_custkey") % 50).cast("string"),
            F.lit("-part"),
            (F.col("o_orderkey") % 4).cast("string"),
        ).alias("url"),
        ((F.col("o_orderkey") % 100) / 100.0).alias("authority_weight"),
        ((F.col("o_orderkey") % 90) / 100.0).alias("w_time"),
    )
    kept = windowed_dedup(m, F.lit(AS_OF).cast("timestamp"), max_per_window=2)
    return kept.select("source_id", "url", "dedup_key", "dedup_rank")


# ---------------------------------------------------------------------------
# r03 — F6 decision ladder under the oracle gate
# ---------------------------------------------------------------------------


@register(
    # z-pushed r10 (freeze rule): admits c43_contaminated_runs into the
    # driver window; r9-signed as r03 in CORRECTNESS_r09.json
    "zr03_decision_ladder",
    """
    WITH c AS (
        SELECT (l_orderkey % 100) / CAST(100.0 AS DOUBLE) AS name_sc,
               (l_partkey % 50) / CAST(100.0 AS DOUBLE) AS geo_sc,
               CASE WHEN l_suppkey % 37 = 0 THEN 1.0
                    ELSE (l_suppkey % 100) / CAST(100.0 AS DOUBLE) END AS authority,
               CASE WHEN l_orderkey % 97 = 0 THEN 1.0 ELSE 0.0 END AS pen_country,
               CASE WHEN l_orderkey % 97 <> 0 AND l_partkey % 13 = 0
                    THEN 0.15 ELSE 0.0 END AS pen_city
        FROM lineitem
    ),
    scored AS (
        SELECT *,
               greatest(0.0, least(1.0,
                   0.60 * name_sc + 0.25 * geo_sc + 0.15 * authority
                   - CASE WHEN pen_country > 0 THEN pen_country ELSE pen_city END))
                 AS final_score
        FROM c
    ),
    decided AS (
        SELECT CASE WHEN authority >= 1.0 AND pen_country = 0 THEN 'ACCEPT'
                    WHEN pen_country > 0 THEN 'REJECT'
                    WHEN final_score >= 0.35 THEN 'ACCEPT'
                    WHEN final_score >= 0.20 AND (geo_sc >= 0.25 OR authority >= 0.60)
                         THEN 'REVIEW'
                    ELSE 'REJECT' END AS decision,
               CASE WHEN authority >= 1.0 AND pen_country = 0 THEN 'confirmed_domain'
                    WHEN pen_country > 0 THEN ''
                    WHEN final_score >= 0.35 THEN 'score_high'
                    WHEN final_score >= 0.20 AND (geo_sc >= 0.25 OR authority >= 0.60)
                         THEN 'mid_conditional'
                    ELSE '' END AS accepted_by
        FROM scored
    )
    SELECT decision, accepted_by, COUNT(*) AS n
    FROM decided GROUP BY decision, accepted_by
    """,
    doc="F6 threshold-decision ladder (with_decision operator) over "
    "scores derived from lineitem keys; counts per (decision, path).",
)
def r03_decision_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    c = li.select(
        ((F.col("l_orderkey") % 100) / 100.0).alias("name_sc"),
        ((F.col("l_partkey") % 50) / 100.0).alias("geo_sc"),
        F.when(F.col("l_suppkey") % 37 == 0, 1.0)
        .otherwise((F.col("l_suppkey") % 100) / 100.0)
        .alias("authority"),
        F.when(F.col("l_orderkey") % 97 == 0, 1.0).otherwise(0.0).alias("pen_country"),
        F.when((F.col("l_orderkey") % 97 != 0) & (F.col("l_partkey") % 13 == 0), 0.15)
        .otherwise(0.0)
        .alias("pen_city"),
    )
    pen = F.when(F.col("pen_country") > 0, F.col("pen_country")).otherwise(F.col("pen_city"))
    scored = c.withColumn(
        "final_score",
        F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(1.0),
                0.60 * F.col("name_sc") + 0.25 * F.col("geo_sc") + 0.15 * F.col("authority") - pen,
            ),
        ),
    )
    decided = with_decision(
        scored, F.col("final_score"), F.col("authority"), F.col("geo_sc"), F.col("pen_country")
    )
    return decided.groupBy("decision", "accepted_by").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# r04 — A16 novelty under the oracle gate
# ---------------------------------------------------------------------------


@register(
    "zr04_novelty_scores",
    """
    WITH place AS (
        SELECT p_partkey,
               CASE WHEN p_partkey % 5 = 0 THEN NULL
                    ELSE CAST(3.0 AS DOUBLE) + (p_partkey % 21) * CAST(0.1 AS DOUBLE) END AS rating,
               CASE WHEN p_partkey % 11 = 0 THEN NULL
                    ELSE (p_partkey * 13) % 120 END AS reviews_count,
               CASE WHEN p_partkey % 7 = 0 THEN p_name || ' new opening'
                    ELSE p_name END AS name,
               CASE WHEN p_partkey % 4 = 0 THEN 'restaurant'
                    WHEN p_partkey % 4 = 1 THEN 'bar'
                    WHEN p_partkey % 4 = 2 THEN 'museum' ELSE 'cafe' END AS type0,
               CASE WHEN p_partkey % 13 = 0 THEN p_brand || ' recent block'
                    ELSE p_brand END AS address,
               p_partkey % 3 = 0 AS exists_in_db
        FROM part
    ),
    scored AS (
        SELECT p_partkey,
               least(CAST(1.0 AS DOUBLE),
                   -- DOUBLE literals throughout: DuckDB's bare decimals
                   -- would be exact DECIMAL arithmetic, but the engine
                   -- (like the reference's Python) accumulates IEEE
                   -- doubles — 0.4+0.3+0.1 is 0.7999999999999999, and
                   -- classification thresholds must see that value
                   CASE WHEN rating IS NULL AND reviews_count IS NULL THEN CAST(0.4 AS DOUBLE)
                        WHEN reviews_count IS NOT NULL AND reviews_count < 5 THEN CAST(0.35 AS DOUBLE)
                        WHEN reviews_count IS NOT NULL AND reviews_count < 20
                             AND rating IS NOT NULL AND rating > 4.5 THEN CAST(0.25 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END
                   + CASE WHEN NOT exists_in_db THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                   + CASE WHEN lower(name) LIKE '%new%' OR lower(name) LIKE '%nouveau%'
                           OR lower(name) LIKE '%fresh%' OR lower(name) LIKE '%recent%'
                           OR lower(name) LIKE '%opening%' OR lower(name) LIKE '%2025%'
                          THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                   + CASE WHEN type0 IN ('restaurant', 'bar', 'cafe', 'bakery')
                          THEN CAST(0.1 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                   + CASE WHEN lower(address) LIKE '%new%' OR lower(address) LIKE '%recent%'
                           OR lower(address) LIKE '%opening%' THEN CAST(0.05 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
               ) AS novelty
        FROM place
    )
    SELECT p_partkey, ROUND(novelty, 6) AS novelty_score,
           CASE WHEN novelty >= 0.8 THEN 'highly_likely_new'
                WHEN novelty >= 0.6 THEN 'likely_new'
                WHEN novelty >= 0.4 THEN 'potentially_new'
                ELSE 'established' END AS novelty_classification
    FROM scored
    """,
    doc="A16 novelty ladder (operators/ingestion.py) on place rows "
    "derived from part.",
)
def r04_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = read_table(spark, sf_dir, "part")
    place = p.select(
        "p_partkey",
        F.when(F.col("p_partkey") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(3.0 + (F.col("p_partkey") % 21) * 0.1)
        .alias("rating"),
        F.when(F.col("p_partkey") % 11 == 0, F.lit(None).cast("long"))
        .otherwise((F.col("p_partkey") * 13) % 120)
        .alias("reviews_count"),
        F.when(F.col("p_partkey") % 7 == 0, F.concat(F.col("p_name"), F.lit(" new opening")))
        .otherwise(F.col("p_name"))
        .alias("name"),
        F.array(
            F.when(F.col("p_partkey") % 4 == 0, "restaurant")
            .when(F.col("p_partkey") % 4 == 1, "bar")
            .when(F.col("p_partkey") % 4 == 2, "museum")
            .otherwise("cafe")
        ).alias("types"),
        F.when(F.col("p_partkey") % 13 == 0, F.concat(F.col("p_brand"), F.lit(" recent block")))
        .otherwise(F.col("p_brand"))
        .alias("address"),
        (F.col("p_partkey") % 3 == 0).alias("exists_in_db"),
    )
    nov = novelty_score(
        F.col("rating"),
        F.col("reviews_count"),
        F.col("name"),
        F.col("types"),
        F.col("address"),
        F.col("exists_in_db"),
    )
    return place.select(
        "p_partkey",
        F.round(nov, 6).alias("novelty_score"),
        classify_novelty(nov).alias("novelty_classification"),
    )
