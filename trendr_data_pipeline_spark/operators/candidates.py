"""Candidate collection & preparation operators (SURVEY §2.1 S6,
§2.2 F5, §2.3 J5, §2.5 W8, §2.7 ST9/ST12): query generation, domain
exclusions, discovered-source get-or-create, per-POI accept caps, POI
name extraction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# ---------------------------------------------------------------------------
# ST12 — CSE query templating (reference collection_router.py:153-211)
# ---------------------------------------------------------------------------


def build_cse_queries(
    pois: DataFrame,
    domains: list[str] | None = None,
    batch_size: int = 8,
    max_queries: int = 6,
) -> DataFrame:
    """One row per (poi, query): site-filtered batches of ≤8 domains ×
    2 templates when domains given, else 2 open templates; capped at 6
    queries/POI in template order (the reference's golden rule: every
    query carries poi_name + city_name + category).

    Set-oriented: templates × batches is a literal array exploded
    per POI — no per-POI Python loop."""
    city_name = F.initcap(F.col("city_slug"))
    quoted = F.concat(F.lit('"'), F.col("name"), F.lit('" '), city_name, F.lit(" "), F.col("category"))
    plain = F.concat(F.col("name"), F.lit(" "), city_name, F.lit(" "), F.col("category"))
    if domains:
        batches = [domains[i : i + batch_size] for i in range(0, len(domains), batch_size)]
        exprs = []
        for batch in batches:
            site = "(" + " OR ".join(f"site:{d}" for d in batch) + ") "
            exprs.append(F.concat(F.lit(site), quoted))
            exprs.append(F.concat(F.lit(site), plain))
        queries = F.slice(F.array(*exprs), 1, max_queries)
    else:
        queries = F.slice(F.array(quoted, plain), 1, max_queries)
    return pois.select(
        F.col("id").alias("poi_id"), "name", "city_slug", F.explode(queries).alias("query")
    )


# ---------------------------------------------------------------------------
# F5 — domain exclusions (reference scanner.py:768-787; config.json:114-139)
# ---------------------------------------------------------------------------

SOCIAL_NETWORKS = [
    "facebook.com", "instagram.com", "twitter.com", "x.com", "tiktok.com",
    "youtube.com", "linkedin.com", "pinterest.com",
]
REVIEW_SITES = [
    "tripadvisor.com", "tripadvisor.fr", "yelp.com", "yelp.fr",
    "thefork.com", "thefork.fr", "google.com",
]


def exclude_domains(
    candidates: DataFrame,
    domain_col: str = "domain",
    excluded: list[str] | None = None,
) -> DataFrame:
    """Drop candidates whose domain is (or is a subdomain of) an
    excluded domain — U5 union of social networks and review sites,
    applied as a broadcast-able literal-array predicate, BEFORE any
    scoring UDF touches the stream (§4 dedup-before-expensive-work).
    A null domain matches nothing and is kept."""
    exc = F.array(*[F.lit(d) for d in (excluded or SOCIAL_NETWORKS + REVIEW_SITES)])
    d = F.lower(F.col(domain_col))
    hit = F.exists(exc, lambda e: (d == e) | F.endswith(d, F.concat(F.lit("."), e)))
    return candidates.filter(~F.coalesce(hit, F.lit(False)))


# ---------------------------------------------------------------------------
# J5 — discovered-source get-or-create (reference utils/database.py:553-615)
# ---------------------------------------------------------------------------


def get_or_create_discovered(
    discovered: DataFrame,
    domains: DataFrame,
    default_weight: float = 0.4,
    language: str = "fr",
    scope: str = "paris",
) -> tuple[DataFrame, DataFrame]:
    """Returns (updated_discovered, resolution): unmatched domains are
    appended with the auto weight; resolution maps every input domain
    to its (existing or new) weight. Deterministic ids (md5 of domain)
    replace the reference's uuid4 so replays converge."""
    new = (
        domains.select("domain")
        .distinct()
        .join(discovered.select("domain"), "domain", "left_anti")
        .select(
            F.md5(F.col("domain")).alias("id"),
            "domain",
            F.lit(language).alias("language"),
            F.lit(scope).alias("geographic_scope"),
            F.lit(default_weight).alias("auto_authority_weight"),
        )
    )
    updated = discovered.unionByName(new)
    resolution = domains.join(
        F.broadcast(updated.select("domain", "id", "auto_authority_weight")), "domain", "left"
    )
    return updated, resolution


# ---------------------------------------------------------------------------
# W8 — accepted-per-POI cap (reference scanner.py:840-843)
# ---------------------------------------------------------------------------


def cap_accepted_per_poi(accepted: DataFrame, limit_per_poi: int) -> DataFrame:
    """Keep the top-N accepted mentions per POI by (score desc, url
    asc) — the set-oriented form of the reference's 'stop after limit'
    loop break."""
    w = Window.partitionBy("poi_id").orderBy(F.col("final_score").desc(), F.col("url").asc())
    return (
        accepted.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= limit_per_poi)
        .drop("_rk")
    )


# ---------------------------------------------------------------------------
# ST9 — POI-name extraction (reference scanner.py:557-599)
# ---------------------------------------------------------------------------

_QUOTED = r'"([^"]*(?:restaurant|bar|café|cafe|bistrot|brasserie)[^"]*)"'
_CAP_PATTERNS = [
    r"Restaurant\s+([A-Z][a-zA-Z\s]+?)(?:\s|,|\.|\|)",
    r"([A-Z][a-zA-Z\s]+?)\s+Restaurant",
    r"Bar\s+([A-Z][a-zA-Z\s]+?)(?:\s|,|\.|\|)",
    r"([A-Z][a-zA-Z\s]+?)\s+Bar",
    r"Café\s+([A-Z][a-zA-Z\s]+?)(?:\s|,|\.|\|)",
    r"([A-Z][a-zA-Z\s]+?)\s+Café",
]
_NOISE_WORDS = ["paris", "france", "guide", "list", "top", "best"]


def extract_poi_names(title: Column, snippet: Column) -> Column:
    """Array of candidate venue names from title+snippet: quoted names
    containing venue words (case-insensitive) + capitalized
    Restaurant/Bar/Café patterns; length 3–50 after trim; noise words
    dropped; distinct. All regexp builtins — no UDF."""
    text = F.concat_ws(" ", title, snippet)
    parts = [F.regexp_extract_all(text, F.lit(f"(?i){_QUOTED}"), 1)]
    parts += [F.regexp_extract_all(text, F.lit(p), 1) for p in _CAP_PATTERNS]
    all_names = F.flatten(F.array(*parts))
    trimmed = F.transform(all_names, F.trim)
    noise = F.array(*[F.lit(wd) for wd in _NOISE_WORDS])
    kept = F.filter(
        trimmed,
        lambda s: (F.length(s) > 3)
        & (F.length(s) < 50)
        & ~F.exists(noise, lambda wd: F.contains(F.lower(s), wd)),
    )
    return F.array_distinct(kept)
