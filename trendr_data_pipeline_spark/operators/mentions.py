"""Mention-scanning pipeline operators (SURVEY §3.2): the reference's
per-candidate Python loop (``scanner.py:732-862``) re-expressed as one
lazy DataFrame plan —

candidates → normalize (ST6) → in-batch dedup → domain exclusions (F5)
→ name score (ST4) + geo signals (M6) + penalties (M7) → catalog
authority join (J4) → final score (M2) × time decay (DT7) → decision
(F6) → windowed dedup (W1/ST7).

Scale posture: city_profiles and source_catalog are broadcast
dimensions; candidates shuffle once for the W1 window. The one
exact-parity UDF, the fused ``name_score`` (fuzzy/trigram), runs once
per candidate, after the exclusions pruned the stream and before the
catalog join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dates import time_decay
from ..functions.math_geo import (
    city_mismatch,
    clamp01,
    country_mismatch,
    eps_band,
    geo_signal_score,
)
from ..functions.text import (
    dedupe_key,
    dedupe_key_override,
    domain_of,
    name_score,
    normalize_url,
)

# weights: reference scoring.py:82-88
W_NAME, W_GEO, W_AUTH = 0.60, 0.25, 0.15
HIGH_THRESHOLD, MID_THRESHOLD = 0.35, 0.20


def catalog_hosts(source_catalog: DataFrame) -> DataFrame:
    """Catalog with the comparable host extracted from base_url
    (lowercased, www-stripped — reference utils/database.py:627)."""
    return source_catalog.withColumn(
        "catalog_domain",
        F.regexp_replace(F.lower(F.parse_url("base_url", F.lit("HOST"))), r"^www\.", ""),
    )


def resolve_source(candidates: DataFrame, source_catalog: DataFrame) -> DataFrame:
    """J4: domain → source_id/type/authority. Exact host match first,
    then the suffix pass (subdomain ↔ catalog domain either direction)
    for rows the exact pass missed; both passes broadcast the catalog.
    Ties in the suffix pass break on longest catalog domain then
    source_id (the reference takes first match in catalog order —
    nondeterministic; we pin it, SURVEY §4 determinism discipline).
    The suffix pass needs a non-empty candidate domain: every string
    ends with ``""``, so an empty domain would otherwise take the
    source of the longest catalog domain.

    Reference: utils/database.py:617-688.
    """
    cat = F.broadcast(
        catalog_hosts(source_catalog).select(
            "catalog_domain",
            F.col("source_id").alias("cat_source_id"),
            F.col("type").alias("cat_source_type"),
            F.col("authority_weight").alias("cat_authority"),
            "dedup_pattern",
            "dedup_replacement",
        )
    )
    # ONE broadcast join carrying both match modes, instead of a
    # matched/unmatched plan fork (which evaluates the upstream twice)
    # + second join + union. Exact matches keep their full fan-out (a
    # domain listed twice in the catalog resolves twice, as the exact
    # pass always did); suffix matches only apply to (poi_id, url)
    # groups with no exact match, pinned to longest-domain/lowest-id.
    dom, cat_dom = candidates["domain"], cat["catalog_domain"]
    both = candidates.join(
        cat,
        (dom == cat_dom)
        | ((F.length(dom) > 0) & (F.endswith(dom, cat_dom) | F.endswith(cat_dom, dom))),
        "left",
    ).withColumn("_exact", F.col("domain") == F.col("catalog_domain"))
    w = Window.partitionBy("poi_id", "url").orderBy(
        F.col("_exact").desc_nulls_last(),
        F.length("catalog_domain").desc(),
        F.col("cat_source_id").asc(),
    )
    return (
        both.withColumn("_rk", F.row_number().over(w))
        .filter(F.coalesce(F.col("_exact"), F.lit(False)) | (F.col("_rk") == 1))
        .drop("_rk", "_exact")
    )


def score_candidates(
    candidates: DataFrame,
    city_profiles: DataFrame,
    source_catalog: DataFrame,
    as_of: Column,
    decay_enabled: bool = False,
) -> DataFrame:
    """Full scoring plan: returns candidates + name/geo/authority
    components, penalties, final_score, decision, accepted_by.

    ``candidates`` must carry: poi_id, poi_name, city_slug, url, title,
    snippet, domain (nullable — derived from url when null), poi_lat,
    poi_lng, published_at.

    The per-candidate scores (name, geo, penalties) read only candidate
    and profile columns, so they are computed below ``resolve_source``'s
    window. A filter on ``decision`` — the cycle's ACCEPT filter — is
    pushed down to just above that window, which it cannot cross; from
    there it reads the scores as plain columns. Computed above the
    window, they would be substituted into the pushed filter, which
    would then evaluate the ``name_score`` UDF a second time.
    """
    c = candidates.withColumn(
        "domain", F.coalesce(F.col("domain"), domain_of(F.col("url")))
    ).withColumn("url_norm", normalize_url(F.col("url")))
    c = c.join(F.broadcast(city_profiles), "city_slug", "left")

    text_all = F.lower(F.concat_ws(" ", "title", "snippet", "url"))
    c = (
        c.withColumn("name_sc", name_score(F.col("poi_name"), F.col("title"), F.col("snippet")))
        .withColumn(
            "geo_sc",
            geo_signal_score(
                F.col("title"), F.col("snippet"), F.col("url"),
                F.col("city_names_aliases"), F.col("admin_names"),
                F.col("postal_prefixes"), F.col("country_code"),
                F.col("poi_lat"), F.col("poi_lng"),
                F.col("centroid_lat"), F.col("centroid_lng"),
            ),
        )
        .withColumn("pen_country", country_mismatch(text_all, F.col("country_code")))
        .withColumn("pen_city", city_mismatch(text_all, F.col("competing_cities")))
        .withColumn(
            "pen_total",
            F.when(F.col("pen_country") > 0, F.col("pen_country")).otherwise(F.col("pen_city")),
        )
    )
    scores = ["name_sc", "geo_sc", "pen_country", "pen_city", "pen_total"]

    c = resolve_source(c, source_catalog)
    c = c.withColumn("authority", F.coalesce(F.col("cat_authority"), F.lit(0.4)))
    # the output keeps its column order: catalog columns, authority, scores
    c = c.select(*[x for x in c.columns if x not in scores], *scores)

    base = W_NAME * F.col("name_sc") + W_GEO * F.col("geo_sc") + W_AUTH * F.col("authority")
    after_pen = clamp01(base - F.col("pen_total"))
    decay = (
        time_decay(F.col("published_at"), as_of, tau_days=90.0, missing_value=1.0)
        if decay_enabled
        else F.lit(1.0)
    )
    c = c.withColumn("final_score", after_pen * decay)
    return with_decision(
        c, F.col("final_score"), F.col("authority"), F.col("geo_sc"), F.col("pen_country")
    )


def with_decision(
    df: DataFrame, final_score: Column, authority: Column, geo: Column, pen_country: Column
) -> DataFrame:
    """F6 decision ladder (reference scoring.py:138-179): priority-
    ordered rules → (decision, accepted_by) columns."""
    return df.withColumn(
        "decision",
        F.when((authority >= 1.0) & (pen_country == 0), "ACCEPT")
        .when(pen_country > 0, "REJECT")
        .when(final_score >= HIGH_THRESHOLD, "ACCEPT")
        .when(
            (final_score >= MID_THRESHOLD) & ((geo >= 0.25) | (authority >= 0.60)),
            "REVIEW",
        )
        .otherwise("REJECT"),
    ).withColumn(
        "accepted_by",
        F.when((authority >= 1.0) & (pen_country == 0), "confirmed_domain")
        .when(pen_country > 0, F.lit(""))
        .when(final_score >= HIGH_THRESHOLD, "score_high")
        .when(
            (final_score >= MID_THRESHOLD) & ((geo >= 0.25) | (authority >= 0.60)),
            "mid_conditional",
        )
        .otherwise(F.lit("")),
    )


def windowed_dedup(
    mentions: DataFrame,
    as_of: Column,
    max_per_window: int = 2,
) -> DataFrame:
    """W1: keep the top-N mentions per (source_id, dedupe_key), ranked
    by authority_weight·w_time desc (reference dedup.py:47-96), rank
    ties pinned by url for determinism.

    Per-source dedup-pattern overrides (ST7) are applied when the
    columns are present: the custom regex rewrites the bare path stem
    INSTEAD of language normalization (reference dedup.py:36-44 — the
    override branch skips the language-prefix rewrites entirely), with
    the no-capture-group default-replacement case left unchanged as
    the reference's swallowed ``re.sub`` error does.
    """
    key = dedupe_key(F.col("url"))
    if "dedup_pattern" in mentions.columns:
        repl = (
            F.col("dedup_replacement")
            if "dedup_replacement" in mentions.columns
            else F.lit(None).cast("string")
        )
        key = F.when(
            F.col("dedup_pattern").isNotNull(),
            dedupe_key_override(F.col("url"), F.col("dedup_pattern"), repl),
        ).otherwise(key)
    m = mentions.withColumn("dedup_key", key)
    w = Window.partitionBy("source_id", "dedup_key").orderBy(
        (F.coalesce(F.col("authority_weight"), F.lit(0.0)) * F.coalesce(F.col("w_time"), F.lit(0.0))).desc(),
        F.col("url").asc(),
    )
    return m.withColumn("dedup_rank", F.row_number().over(w)).filter(
        F.col("dedup_rank") <= max_per_window
    )


def order_candidates(scored: DataFrame) -> DataFrame:
    """W4: ε-banded deterministic ordering — (score band desc,
    authority band desc, domain asc). Reference scoring.py:182-206."""
    return scored.orderBy(
        eps_band(F.col("final_score")).desc(),
        eps_band(F.col("authority")).desc(),
        F.col("domain").asc(),
    )


def enrich_poi_names(names: DataFrame, poi: DataFrame) -> DataFrame:
    """J6 — batch coordinate/metadata enrichment: each queried name
    matches POIs whose name CONTAINS it (case-insensitive) in the same
    city; first match per (name, city) by (poi name asc, id asc) —
    replaces the reference's ilike-per-name loop
    (utils/database.py:140-201, scanner.py:217-285) with one broadcast
    theta-join + rank."""
    cand = F.broadcast(names).join(
        poi,
        F.contains(F.lower(poi["name"]), F.lower(names["query_name"]))
        & (poi["city_slug"] == names["city_slug"]),
        "left",
    )
    w = Window.partitionBy(names["query_name"], names["city_slug"]).orderBy(
        poi["name"].asc_nulls_last(), poi["id"].asc_nulls_last()
    )
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def observed_run_summary(scored: DataFrame):
    """A13 — run-summary counters (reference logging_ext.py:14-86) as
    ``df.observe`` metrics: candidates / accepted / review / rejected
    counts ride along with the action that materializes the plan — no
    second pass over the data (the streaming twin is the same call on
    a streaming DataFrame).

    Returns (df, Observation); read ``observation.get`` after an
    action."""
    from pyspark.sql import Observation

    obs = Observation("mention_run_summary")
    observed = scored.observe(
        obs,
        F.count(F.lit(1)).alias("n_candidates"),
        F.count(F.when(F.col("decision") == "ACCEPT", 1)).alias("n_accepted"),
        F.count(F.when(F.col("decision") == "REVIEW", 1)).alias("n_review"),
        F.count(F.when(F.col("decision") == "REJECT", 1)).alias("n_rejected"),
    )
    return observed, obs
