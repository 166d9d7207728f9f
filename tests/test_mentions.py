"""Mention-pipeline parity (SURVEY §3.2): scoring components, penalty
rules, F6 decision ladder and W1 windowed dedup vs a plain-Python
oracle transcribed from the reference (scoring.py, city_profiles.py,
dedup.py)."""

from __future__ import annotations

import difflib
import math
import re
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from tests.test_text_functions import oracle_dedupe_key, oracle_trigram
from trendr_data_pipeline_spark.operators.mentions import (
    resolve_source,
    score_candidates,
    windowed_dedup,
)
from trendr_data_pipeline_spark.schemas import DOMAIN

AS_OF = datetime(2026, 8, 1)

PROFILES = [
    # city_profiles.py:32-68 (+ competing cities for M7 city penalty)
    dict(city_slug="paris", city_names_aliases=["paris", "parís", "parigi"],
         country_code="FR", admin_names=["île-de-france", "grand paris"],
         postal_prefixes=["75", "750"], lat_min=48.8156, lat_max=48.9021,
         lng_min=2.2247, lng_max=2.4698, centroid_lat=48.8566, centroid_lng=2.3522,
         competing_cities=["lyon", "marseille"]),
    dict(city_slug="lyon", city_names_aliases=["lyon", "lyons"],
         country_code="FR", admin_names=["auvergne-rhône-alpes", "rhône"],
         postal_prefixes=["69", "690"], lat_min=45.7078, lat_max=45.8084,
         lng_min=4.7847, lng_max=4.9228, centroid_lat=45.7640, centroid_lng=4.8357,
         competing_cities=["paris", "marseille"]),
]

CATALOG = [
    dict(source_id="lefooding", base_url="https://www.lefooding.com", type="guide",
         authority_weight=1.0, is_active=True),
    dict(source_id="timeout_fr", base_url="https://www.timeout.fr", type="press",
         authority_weight=0.8, is_active=True),
    dict(source_id="sortiraparis", base_url="https://www.sortiraparis.com", type="local",
         authority_weight=0.6, is_active=True),
    dict(source_id="leblog", base_url="https://food.leblog.fr", type="blog",
         authority_weight=0.5, is_active=True),
]

CANDIDATES = [
    # exact name hit + city in title + postal in snippet
    dict(poi_id="p1", poi_name="Le Servan", city_slug="paris",
         url="https://www.lefooding.com/fr/restaurants/le-servan-paris-11",
         title="Le Servan — Paris", snippet="Restaurant rue Saint-Maur 75011",
         domain=None, poi_lat=48.8655, poi_lng=2.3812, published_at=None),
    # fuzzy variant + competing city (soft penalty)
    dict(poi_id="p2", poi_name="Café Cœur", city_slug="paris",
         url="https://unknown-blog.com/cafe-coeur-review",
         title="cafe coeur: worth the hype? better than anything in lyon",
         snippet="a nice spot", domain=None, poi_lat=48.85, poi_lng=2.35,
         published_at=None),
    # wrong-country hard reject (germany for FR)
    dict(poi_id="p3", poi_name="Le Servan", city_slug="paris",
         url="https://travel.example.de/best-of-germany",
         title="Best restaurants in Germany", snippet="Le Servan Berlin?",
         domain=None, poi_lat=48.86, poi_lng=2.38, published_at=None),
    # subdomain suffix catalog match
    dict(poi_id="p4", poi_name="Chez Georges", city_slug="lyon",
         url="https://food.leblog.fr/lyon/chez-georges",
         title="Chez Georges à Lyon", snippet="guide 69002 lyon",
         domain=None, poi_lat=45.764, poi_lng=4.8357, published_at=None),
    # no signals at all
    dict(poi_id="p5", poi_name="Hidden Place", city_slug="paris",
         url="https://random.org/post", title="totally unrelated",
         snippet="nothing here", domain=None, poi_lat=None, poi_lng=None,
         published_at=None),
]


# --- python oracle (reference semantics) -----------------------------------

def _norm_stop(text):
    sw = {"le", "la", "les", "du", "de", "des", "un", "une", "et", "ou",
          "restaurant", "cafe", "bar", "chez", "aux", "au", "paris"}
    return " ".join(w for w in text.lower().split() if w not in sw and len(w) > 2)


def oracle_name_score(poi, title, snippet):
    text = f"{title} {snippet}"
    if not poi or not text.strip():
        return 0.0
    fuzzy = difflib.SequenceMatcher(None, poi.lower(), text.lower()).ratio()
    tri = oracle_trigram(poi, text)
    np, nt = _norm_stop(poi), _norm_stop(text)
    if np and nt:
        fuzzy = max(fuzzy, difflib.SequenceMatcher(None, np.lower(), nt.lower()).ratio())
    return max(fuzzy, tri)


def _haversine_km(lat1, lng1, lat2, lng2):
    r = 6371000.0
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = math.radians(lat2 - lat1), math.radians(lng2 - lng1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return r * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a)) / 1000.0


def oracle_geo(c, prof):
    t, s, u = c["title"].lower(), c["snippet"].lower(), c["url"].lower()
    ts = f"{t} {s}"
    score = 0.0
    if any(a.lower() in t or a.lower() in s for a in prof["city_names_aliases"]):
        score += 0.4
    if any(re.search(rf"\b{re.escape(p)}\d{{1,3}}\b", x)
           for p in prof["postal_prefixes"] for x in (t, s, u)):
        score += 0.3
    if any(a.lower() in t or a.lower() in s for a in prof["admin_names"]):
        score += 0.2
    indicators = ["france", "fr"] if prof["country_code"] == "FR" else [prof["country_code"].lower()]
    if any(i in ts for i in indicators):
        score += 0.1
    if any(f"/{a.lower()}/" in u or f"/{a.lower()}-" in u or u.endswith(f"/{a.lower()}")
           for a in prof["city_names_aliases"]):
        score += 0.3
    if c["poi_lat"] is not None:
        d = _haversine_km(c["poi_lat"], c["poi_lng"], prof["centroid_lat"], prof["centroid_lng"])
        if d < 3:
            score += 0.3
        elif d < 15:
            score += 0.15
    return score


COUNTRY_CONFLICTS_FR = [r"\benglish\b", r"\bunited states\b", r"\busa\b",
                        r"\bgermany\b", r"\bspain\b", r"\bitaly\b"]


def oracle_penalties(c, prof):
    text = f"{c['title']} {c['snippet']} {c['url']}".lower()
    if prof["country_code"] == "FR" and any(re.search(p, text) for p in COUNTRY_CONFLICTS_FR):
        return 1.0, 0.0
    city_pen = 0.15 if any(cc.lower() in text for cc in prof["competing_cities"]) else 0.0
    return 0.0, city_pen


def oracle_domain(url):
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)", url)
    host = m.group(1) if m else url.split("/")[0]
    return re.sub(r"^www\.", "", host.lower())


def oracle_authority(domain):
    cats = [(s["source_id"], re.sub(r"^www\.", "", s["base_url"].split("://")[1].split("/")[0]),
             s["authority_weight"]) for s in CATALOG]
    for sid, cd, w in cats:
        if domain == cd:
            return w
    suffix = [(sid, cd, w) for sid, cd, w in cats if domain.endswith(cd) or cd.endswith(domain)]
    if suffix:
        suffix.sort(key=lambda x: (-len(x[1]), x[0]))
        return suffix[0][2]
    return 0.4


def oracle_final(c, prof):
    name = oracle_name_score(c["poi_name"], c["title"], c["snippet"])
    geo = oracle_geo(c, prof)
    auth = oracle_authority(oracle_domain(c["url"]))
    pen_country, pen_city = oracle_penalties(c, prof)
    pen = pen_country if pen_country > 0 else pen_city
    final = max(0.0, min(1.0, 0.60 * name + 0.25 * geo + 0.15 * auth - pen))
    if auth >= 1.0 and pen_country == 0:
        decision = "ACCEPT"
    elif pen_country > 0:
        decision = "REJECT"
    elif final >= 0.35:
        decision = "ACCEPT"
    elif 0.20 <= final < 0.35 and (geo >= 0.25 or auth >= 0.60):
        decision = "REVIEW"
    else:
        decision = "REJECT"
    return name, geo, auth, final, decision


@pytest.fixture(scope="module")
def scoring_inputs(spark):
    """``score_candidates``'s arguments over the module's fixtures."""
    cand_schema = (
        "poi_id string, poi_name string, city_slug string, url string, title string,"
        " snippet string, domain string, poi_lat double, poi_lng double, published_at timestamp"
    )
    cands = spark.createDataFrame(
        [tuple(c.values()) for c in CANDIDATES], cand_schema
    )
    profs = spark.createDataFrame(
        [tuple(p.values()) for p in PROFILES],
        "city_slug string, city_names_aliases array<string>, country_code string,"
        " admin_names array<string>, postal_prefixes array<string>, lat_min double,"
        " lat_max double, lng_min double, lng_max double, centroid_lat double,"
        " centroid_lng double, competing_cities array<string>",
    )
    cat_rows = [
        {**{f.name: None for f in DOMAIN["source_catalog"].fields}, **c} for c in CATALOG
    ]
    cat = spark.createDataFrame(
        [tuple(r[f.name] for f in DOMAIN["source_catalog"].fields) for r in cat_rows],
        DOMAIN["source_catalog"],
    )
    return cands, profs, cat, F.lit(AS_OF.isoformat()).cast("timestamp")


@pytest.fixture(scope="module")
def scored(scoring_inputs):
    return {r["poi_id"]: r for r in score_candidates(*scoring_inputs).collect()}


def test_mention_scoring_parity(scored):
    prof_by_slug = {p["city_slug"]: p for p in PROFILES}
    for c in CANDIDATES:
        r = scored[c["poi_id"]]
        name, geo, auth, final, decision = oracle_final(c, prof_by_slug[c["city_slug"]])
        assert r["name_sc"] == pytest.approx(name, abs=1e-9), c["poi_id"]
        assert r["geo_sc"] == pytest.approx(geo, abs=1e-9), c["poi_id"]
        assert r["authority"] == pytest.approx(auth, abs=1e-9), c["poi_id"]
        assert r["final_score"] == pytest.approx(final, abs=1e-9), c["poi_id"]
        assert r["decision"] == decision, c["poi_id"]


def test_expected_decisions(scored):
    assert scored["p1"]["decision"] == "ACCEPT"      # confirmed domain (auth 1.0)
    assert scored["p3"]["decision"] == "REJECT"      # country mismatch hard reject
    assert scored["p5"]["decision"] == "REJECT"      # no signals
    assert scored["p3"]["pen_country"] == 1.0
    assert scored["p2"]["pen_city"] == pytest.approx(0.15)


def test_accept_filter_runs_name_score_once(scoring_inputs):
    """The cycle's ACCEPT filter is pushed down to just above
    ``resolve_source``'s window. It must read the per-candidate scores
    made below that window, not evaluate its own copy of the
    ``name_score`` pandas UDF."""
    accepted = score_candidates(*scoring_inputs).filter(F.col("decision") == "ACCEPT")
    plan = accepted._jdf.queryExecution().optimizedPlan().toString()
    assert sum("ArrowEvalPython" in line for line in plan.splitlines()) == 1


def test_resolve_source_empty_domain_takes_no_suffix_match(spark):
    """Every string ends with "", so an empty candidate domain must not
    enter the suffix pass (it would take the longest catalog domain);
    a real subdomain still suffix-matches its catalog domain."""
    cat_rows = [
        {**{f.name: None for f in DOMAIN["source_catalog"].fields}, **c} for c in CATALOG
    ]
    cat = spark.createDataFrame(
        [tuple(r[f.name] for f in DOMAIN["source_catalog"].fields) for r in cat_rows],
        DOMAIN["source_catalog"],
    )
    cands = spark.createDataFrame(
        [("p1", "https://x.fr/a", ""), ("p2", "https://guide.timeout.fr/b", "guide.timeout.fr"),
         ("p3", "https://y.fr/c", None)],
        "poi_id string, url string, domain string",
    )
    got = {r["poi_id"]: r["cat_source_id"] for r in resolve_source(cands, cat).collect()}
    assert got == {"p1": None, "p2": "timeout_fr", "p3": None}


def test_windowed_dedup_w1(spark):
    # 4 mentions sharing (source, dedupe_key) → keep top-2 by auth*w_time
    rows = [
        ("s1", "https://a.fr/art/x-part1", 0.9, 0.9),
        ("s1", "https://a.fr/art/x-part2", 0.8, 0.9),
        ("s1", "https://a.fr/art/x-v3", 0.7, 0.9),
        ("s1", "https://a.fr/art/x-update", 0.6, 0.9),
        ("s2", "https://b.fr/other", 0.1, 0.1),
    ]
    df = spark.createDataFrame(rows, "source_id string, url string, authority_weight double, w_time double")
    kept = windowed_dedup(df, F.lit(AS_OF.isoformat()).cast("timestamp"), max_per_window=2)
    got = sorted((r["source_id"], r["url"]) for r in kept.collect())
    # all four a.fr urls share dedupe_key 'a.fr/art/x'
    assert oracle_dedupe_key("https://a.fr/art/x-part1") == "a.fr/art/x"
    assert got == [("s1", "https://a.fr/art/x-part1"), ("s1", "https://a.fr/art/x-part2"),
                   ("s2", "https://b.fr/other")]


def test_enrich_poi_names_j6(spark):
    from trendr_data_pipeline_spark.operators.mentions import enrich_poi_names

    poi = spark.createDataFrame(
        [("p1", "Le Servan", "paris", 48.88, 2.38),
         ("p2", "Le Servan Annexe", "paris", 48.89, 2.39),
         ("p3", "Le Servan", "lyon", 45.76, 4.83)],
        "id string, name string, city_slug string, lat double, lng double",
    )
    names = spark.createDataFrame(
        [("servan", "paris"), ("servan", "lyon"), ("unknown", "paris")],
        "query_name string, city_slug string",
    )
    rows = {(r["query_name"], r["city_slug"]): r for r in enrich_poi_names(names, poi).collect()}
    assert rows[("servan", "paris")]["id"] == "p1"   # first by name asc
    assert rows[("servan", "lyon")]["id"] == "p3"
    assert rows[("unknown", "paris")]["id"] is None  # left join keeps the query


def test_date_from_snippet_dt4(spark):
    from trendr_data_pipeline_spark.functions.dates import date_from_snippet

    cases = [
        ("published 12 Mar 2024 by x", "2024-03-12"),
        ("posted 2023-07-04 evening", "2023-07-04"),
        ("le 5/3/2022 à Paris", "2022-03-05"),
        ("no date in here", None),
        # first pattern wins when several present (reference loop order)
        ("1 jan 2020 and 2021-02-03", "2020-01-01"),
    ]
    df = spark.createDataFrame(cases, "snippet string, want string")
    rows = df.select(date_from_snippet(F.col("snippet")).alias("got"), "want").collect()
    for r in rows:
        got = r["got"].date().isoformat() if r["got"] else None
        assert got == r["want"], r


def test_observed_run_summary_a13(spark, scored):
    """Counters must equal groupBy counts without a second scan."""
    from collections import Counter

    from trendr_data_pipeline_spark.operators.mentions import observed_run_summary

    cand_schema = (
        "poi_id string, decision string"
    )
    rows = [(r["poi_id"], r["decision"]) for r in scored.values()]
    df = spark.createDataFrame(rows, cand_schema)
    observed, obs = observed_run_summary(df)
    observed.collect()
    got = obs.get
    want = Counter(d for _, d in rows)
    assert got["n_candidates"] == len(rows)
    assert got["n_accepted"] == want.get("ACCEPT", 0)
    assert got["n_review"] == want.get("REVIEW", 0)
    assert got["n_rejected"] == want.get("REJECT", 0)


def test_windowed_dedup_per_source_override(spark):
    """ST7 override: a source's custom dedup regex replaces the default
    key derivation (reference dedup.py:36-41) — URLs that differ in a
    way only the custom pattern collapses dedupe together."""
    rows = [
        # src-custom collapses /articles/<slug>~<variant> to group by slug
        ("srcX", "https://x.fr/articles/story~a", 0.9, 0.9, r"~.*$", ""),
        ("srcX", "https://x.fr/articles/story~b", 0.8, 0.9, r"~.*$", ""),
        ("srcX", "https://x.fr/articles/story~c", 0.7, 0.9, r"~.*$", ""),
        # default-path source: same URLs stay distinct (no '-partN' suffix)
        ("srcY", "https://y.fr/articles/story~a", 0.9, 0.9, None, None),
        ("srcY", "https://y.fr/articles/story~b", 0.8, 0.9, None, None),
        ("srcY", "https://y.fr/articles/story~c", 0.7, 0.9, None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "source_id string, url string, authority_weight double, w_time double,"
        " dedup_pattern string, dedup_replacement string",
    )
    kept = windowed_dedup(df, F.lit(AS_OF.isoformat()).cast("timestamp"), max_per_window=2)
    by_src = {}
    for r in kept.collect():
        by_src.setdefault(r["source_id"], []).append(r["url"])
    assert len(by_src["srcX"]) == 2          # collapsed into one group, top-2 kept
    assert len(by_src["srcY"]) == 3          # three distinct default keys


def _ref_dedupe_key(url, pattern=None, replacement=None):
    """Inline port of reference dedup.py:18-44 as the test oracle."""
    import re as _re
    from urllib.parse import urlparse

    parsed = urlparse(url)
    path = parsed.path.rstrip("/")
    stem = _re.sub(r"\.[^/]*$", "", path)
    stem = _re.sub(r"-(part\d+|update|v\d+|\d+)$", "", stem)
    if pattern is not None:
        try:
            stem = _re.sub(pattern, replacement if replacement is not None else r"\1", stem)
        except Exception:
            pass
    else:
        stem = _re.sub(
            r"^/(?:us|uk|ca|au|br|de|it|es|fr)/(?:en|fr|de|it|es|pt_BR|pt)/", "/", stem
        )
        stem = _re.sub(r"^/(?:en|fr|de|it|es|pt)/", "/", stem)
    return f"{parsed.netloc}{stem}"


def test_override_key_reference_parity(spark):
    """Override semantics vs the reference (dedup.py:36-44): the custom
    pattern rewrites the bare path stem INSTEAD of language
    normalization; a groupless pattern under the default replacement
    leaves the stem unchanged (reference swallows the re.sub error);
    Python \\N group references are honored."""
    cases = [
        # language-prefixed URL + override: /fr/ prefix must SURVIVE
        ("https://x.fr/fr/articles/story~a", r"~.*$", ""),
        # groupless pattern + default replacement -> stem unchanged
        ("https://x.fr/fr/articles/story~a", r"~.*$", None),
        # capture group + default replacement -> keep group 1
        ("https://x.fr/articles/story/comments", r"^(/articles/[^/]+).*$", None),
        # python-style group reference in stored replacement
        ("https://x.fr/articles/story-chapter", r"^/articles/([^-]+).*$", r"/a/\1"),
        # no override at all: default language normalization applies
        ("https://x.fr/fr/articles/story~a", None, None),
    ]
    df = spark.createDataFrame(
        [(f"s{i}", u, 1.0, 1.0, p, r) for i, (u, p, r) in enumerate(cases)],
        "source_id string, url string, authority_weight double, w_time double,"
        " dedup_pattern string, dedup_replacement string",
    )
    kept = windowed_dedup(df, F.lit(AS_OF.isoformat()).cast("timestamp"), max_per_window=5)
    got = {r["source_id"]: r["dedup_key"] for r in kept.collect()}
    for i, (u, p, rp) in enumerate(cases):
        assert got[f"s{i}"] == _ref_dedupe_key(u, p, rp), (u, p, rp)


def test_order_candidates_eps_tiebreak_w4(spark):
    """W4: scores within ε=0.01 are equal; ordering falls through to
    authority band, then domain lexicographic (reference
    scoring.py:182-206)."""
    from trendr_data_pipeline_spark.operators.mentions import order_candidates

    rows = [
        ("b.fr", 0.502, 0.5),   # same score band (0.50x) as below
        ("a.fr", 0.505, 0.5),   # same bands → domain asc wins
        ("c.fr", 0.52, 0.5),    # higher score band → first
        ("d.fr", 0.501, 0.9),   # same score band, higher authority → before a/b
    ]
    df = spark.createDataFrame(rows, "domain string, final_score double, authority double")
    got = [r["domain"] for r in order_candidates(df).collect()]
    assert got == ["c.fr", "d.fr", "a.fr", "b.fr"]
