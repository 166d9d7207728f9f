"""Candidate-collection operators vs Python oracles (ST9/ST12/F5/J5/W8)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from trendr_data_pipeline_spark.operators import candidates as C


def test_build_cse_queries_open(spark):
    pois = spark.createDataFrame(
        [("p1", "Le Servan", "paris", "restaurant")], "id string, name string, city_slug string, category string"
    )
    got = [r["query"] for r in C.build_cse_queries(pois).collect()]
    assert got == ['"Le Servan" Paris restaurant', "Le Servan Paris restaurant"]


def test_build_cse_queries_site_batched(spark):
    pois = spark.createDataFrame(
        [("p1", "Le Servan", "paris", "restaurant")], "id string, name string, city_slug string, category string"
    )
    domains = [f"d{i}.fr" for i in range(10)]  # 2 batches (8 + 2)
    got = [r["query"] for r in C.build_cse_queries(pois, domains=domains).collect()]
    # 2 batches × 2 templates = 4, under the cap of 6
    assert len(got) == 4
    assert got[0].startswith("(site:d0.fr OR site:d1.fr")
    assert '"Le Servan" Paris restaurant' in got[0]
    assert got[2].startswith("(site:d8.fr OR site:d9.fr)")
    # cap at 6: 24 domains → 3 batches × 2 = 6 (kept), 32 → 8 trimmed to 6
    got32 = C.build_cse_queries(pois, domains=[f"d{i}.fr" for i in range(32)]).collect()
    assert len(got32) == 6


def test_exclude_domains(spark):
    rows = [("a", "instagram.com"), ("b", "sub.tripadvisor.fr"), ("c", "lefooding.com"),
            ("d", "notinstagram.com"), ("e", None)]
    df = spark.createDataFrame(rows, "id string, domain string")
    kept = {r["id"] for r in C.exclude_domains(df).collect()}
    # subdomain excluded; similar-suffix-but-not-subdomain kept; a null
    # domain matches no exclusion and is kept, not dropped silently
    assert kept == {"c", "d", "e"}


def test_get_or_create_discovered(spark):
    discovered = spark.createDataFrame(
        [("id1", "known.fr", "fr", "paris", 0.4)],
        "id string, domain string, language string, geographic_scope string, auto_authority_weight double",
    )
    domains = spark.createDataFrame([("known.fr",), ("new.fr",), ("new.fr",)], "domain string")
    updated, resolution = C.get_or_create_discovered(discovered, domains)
    assert updated.count() == 2
    res = {r["domain"]: r["auto_authority_weight"] for r in resolution.collect()}
    assert res == {"known.fr": 0.4, "new.fr": 0.4}
    # deterministic id for the created row
    new_row = updated.filter(F.col("domain") == "new.fr").first()
    import hashlib

    assert new_row["id"] == hashlib.md5(b"new.fr").hexdigest()


def test_cap_accepted_per_poi(spark):
    rows = [("p1", f"https://u{i}.fr", 0.9 - i * 0.1) for i in range(5)] + [
        ("p2", "https://x.fr", 0.5)
    ]
    df = spark.createDataFrame(rows, "poi_id string, url string, final_score double")
    out = C.cap_accepted_per_poi(df, limit_per_poi=3)
    got = sorted((r["poi_id"], r["url"]) for r in out.collect())
    assert got == [("p1", "https://u0.fr"), ("p1", "https://u1.fr"), ("p1", "https://u2.fr"),
                   ("p2", "https://x.fr")]


def oracle_extract(title, snippet):
    # reference scanner.py:557-599
    combined = f"{title} {snippet}"
    names = []
    for m in re.findall(r'"([^"]*(?:restaurant|bar|café|cafe|bistrot|brasserie)[^"]*)"',
                        combined, re.IGNORECASE):
        if 3 < len(m.strip()) < 50:
            names.append(m.strip())
    for pat in [
        r"Restaurant\s+([A-Z][a-zA-Z\s]+?)(?:\s|,|\.|\|)",
        r"([A-Z][a-zA-Z\s]+?)\s+Restaurant",
        r"Bar\s+([A-Z][a-zA-Z\s]+?)(?:\s|,|\.|\|)",
        r"([A-Z][a-zA-Z\s]+?)\s+Bar",
        r"Café\s+([A-Z][a-zA-Z\s]+?)(?:\s|,|\.|\|)",
        r"([A-Z][a-zA-Z\s]+?)\s+Café",
    ]:
        for m in re.findall(pat, combined):
            if 3 < len(m.strip()) < 50:
                names.append(m.strip())
    return sorted({n for n in names if not any(w in n.lower() for w in
                   ["paris", "france", "guide", "list", "top", "best"])})


@pytest.mark.parametrize(
    "title,snippet",
    [
        ('Le nouveau "bistrot Chez Paul" ouvre', "Restaurant Marso , une adresse sympa"),
        ("On adore le Petit Bar , vraiment", 'guide: "restaurant du coin"'),
        ("nothing here", "no venues mentioned"),
    ],
)
def test_extract_poi_names_parity(spark, title, snippet):
    df = spark.createDataFrame([(title, snippet)], "title string, snippet string")
    got = sorted(df.select(C.extract_poi_names(F.col("title"), F.col("snippet"))).first()[0])
    assert got == oracle_extract(title, snippet)
