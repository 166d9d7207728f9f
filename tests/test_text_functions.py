"""Parity tests for ST1–ST3/ST5–ST8: the Spark column functions must
reproduce the reference semantics exactly (formulas reimplemented here
from the cited reference lines as the oracle)."""

from __future__ import annotations

import difflib
import re
import unicodedata
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from trendr_data_pipeline_spark.functions import text as TX

NAMES = [
    "Café Cœur",
    "L'Ami Jean",
    "Chez Georges & Fils",
    "Le Saint-Sébastien",
    "  La   Bête  Noire ",
    "Brasserie de l'Île St Louis",
    "",
    None,
]

TITLES = [
    "Best restaurants in Paris — Café Coeur review",
    "l'ami jean: a classic bistro",
    "Top 10 bars: chez georges and fils",
    "random unrelated text",
]


def oracle_normalize(text):
    # reference matching.py:19-72
    if not text:
        return ""
    text = unicodedata.normalize("NFD", text)
    text = "".join(c for c in text if unicodedata.category(c) != "Mn")
    text = text.lower()
    for old, new in [
        ("’", "'"), ("'", ""), ("`", ""), ("café", "cafe"), ("cafés", "cafes"),
        ("œ", "oe"), ("æ", "ae"), (" & ", " and "), ("&", "and"),
        (" st ", " saint "), (" ste ", " sainte "),
    ]:
        text = text.replace(old, new)
    text = re.sub(r"[^\w\s]", " ", text)
    text = re.sub(r"\s+", " ", text)
    return text.lower().strip()


def oracle_trigram(a, b):
    # reference scoring.py:250-267
    if not a or not b:
        return 0.0
    tri = lambda s: {f"  {s.lower()}  "[i : i + 3] for i in range(len(f"  {s.lower()}  ") - 2)}
    ta, tb = tri(a), tri(b)
    if not ta or not tb:
        return 0.0
    return len(ta & tb) / len(ta | tb)


def oracle_fuzzy(a, b):
    if not a or not b:
        return 0.0
    return difflib.SequenceMatcher(None, a.lower(), b.lower()).ratio()


def test_normalize_parity(spark):
    df = spark.createDataFrame([(n,) for n in NAMES], "name string")
    got = [r[0] for r in df.select(TX.normalize_text(F.col("name"))).collect()]
    want = [oracle_normalize(n) for n in NAMES]
    assert got == want


def test_normalize_fast_per_char_parity(spark):
    # every char in the fast path's translate table must fold to its
    # NFD-stripped base — and match the exact UDF — except ł/ı, which
    # have no NFD decomposition (exact keeps them; fast folds to l/i,
    # the documented approximation boundary)
    import unicodedata

    src = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿāăąćčďēĕėęěğīįıłńňōŏőřśšťūůűźżž"
    df = spark.createDataFrame([(c,) for c in src], "c string")
    rows = df.select(
        "c",
        TX.normalize_text_fast(F.col("c")).alias("fast"),
        TX.normalize_text(F.col("c")).alias("exact"),
    ).collect()
    assert len(rows) == len(src)
    for r in rows:
        nfd = "".join(
            x for x in unicodedata.normalize("NFD", r["c"])
            if unicodedata.category(x) != "Mn"
        )
        if r["c"] in "łı":
            assert r["fast"] == {"ł": "l", "ı": "i"}[r["c"]], r["c"]
        else:
            assert r["fast"] == nfd, r["c"]
            assert r["fast"] == r["exact"], r["c"]


def test_trigram_parity(spark):
    pairs = [(a, t) for a in NAMES[:6] for t in TITLES]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = [r[0] for r in df.select(TX.trigram_similarity(F.col("a"), F.col("b"))).collect()]
    want = [oracle_trigram(a, b) for a, b in pairs]
    assert got == pytest.approx(want, abs=1e-12)


def test_fuzzy_parity(spark):
    pairs = [(a, t) for a in NAMES[:6] for t in TITLES]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = [r[0] for r in df.select(TX.fuzzy_ratio(F.col("a"), F.col("b"))).collect()]
    want = [oracle_fuzzy(a, b) for a, b in pairs]
    assert got == pytest.approx(want, abs=1e-12)


def test_remove_stopwords(spark):
    # reference scoring.py:270-279
    def oracle(text):
        sw = {"le", "la", "les", "du", "de", "des", "un", "une", "et", "ou",
              "restaurant", "cafe", "bar", "chez", "aux", "au", "paris"}
        return " ".join(w for w in text.lower().split() if w not in sw and len(w) > 2)

    texts = ["Le restaurant de la plage", "Chez Georges et ses amis", "un bar à vin paris"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r[0] for r in df.select(TX.remove_stopwords(F.col("t"))).collect()]
    assert got == [oracle(t) for t in texts]


URLS = [
    "https://www.lefooding.com/fr/restaurants/le-servan-paris-11?utm_source=x&utm_campaign=y#top",
    "https://timeout.fr/paris/restaurants/best-2024.html",
    "http://blog.example.com/us/en/article-part2/",
    "https://site.fr/en/article-v3.php",
    "https://sortiraparis.com/hotels-restaurants/guides/article-123",
]


def oracle_dedupe_key(url):
    # reference dedup.py:18-45 (default path, no per-source override)
    parsed = urlparse(url)
    domain = parsed.netloc
    path = parsed.path.rstrip("/")
    stem = re.sub(r"\.[^/]*$", "", path)
    stem = re.sub(r"-(part\d+|update|v\d+|\d+)$", "", stem)
    stem = re.sub(r"^/(?:us|uk|ca|au|br|de|it|es|fr)/(?:en|fr|de|it|es|pt_BR|pt)/", "/", stem)
    stem = re.sub(r"^/(?:en|fr|de|it|es|pt)/", "/", stem)
    return f"{domain}{stem}"


def test_dedupe_key_parity(spark):
    df = spark.createDataFrame([(u,) for u in URLS], "url string")
    got = [r[0] for r in df.select(TX.dedupe_key(F.col("url"))).collect()]
    want = [oracle_dedupe_key(u) for u in URLS]
    assert got == want


def test_normalize_url(spark):
    # reference scanner.py:864-883
    df = spark.createDataFrame([(URLS[0],)], "url string")
    got = df.select(TX.normalize_url(F.col("url"))).first()[0]
    assert got == "https://www.lefooding.com/fr/restaurants/le-servan-paris-11"


def test_domain_of(spark):
    cases = [
        ("https://www.lefooding.com/fr/x", "lefooding.com"),
        ("http://blog.example.com/a", "blog.example.com"),
        ("timeout.fr/paris", "timeout.fr"),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    rows = df.select(TX.domain_of(F.col("url")).alias("got"), "want").collect()
    for r in rows:
        assert r["got"] == r["want"]
    apex = df.select(TX.apex_domain(TX.domain_of(F.col("url"))).alias("a")).collect()
    assert [r[0] for r in apex] == ["lefooding.com", "example.com", "timeout.fr"]


def test_date_from_url(spark):
    # DT3 — reference date_enricher.py:265-297
    cases = [
        ("https://a.fr/2024/03/15/article/", "2024-03-15"),
        ("https://a.fr/posts/2023-7-4-title", "2023-07-04"),
        ("https://a.fr/x?date=2022-12-01", "2022-12-01"),
        ("https://a.fr/no-date-here", None),
    ]
    from trendr_data_pipeline_spark.functions.dates import date_from_url

    df = spark.createDataFrame(cases, "url string, want string")
    rows = df.select(date_from_url(F.col("url")).alias("got"), "want").collect()
    for r in rows:
        got = r["got"].date().isoformat() if r["got"] else None
        assert got == r["want"], r


def test_is_valid_published_date(spark):
    # DT2 — reject future (+24h skew) and pre-1990
    from datetime import datetime

    from trendr_data_pipeline_spark.functions.dates import is_valid_published_date

    as_of = datetime(2026, 8, 1)
    cases = [
        (datetime(2026, 7, 31), True),
        (datetime(2026, 8, 1, 23, 0), True),    # within +24h skew
        (datetime(2026, 8, 3), False),          # future
        (datetime(1989, 12, 31), False),        # pre-1990
        (datetime(1990, 1, 1), True),
    ]
    df = spark.createDataFrame(cases, "ts timestamp, want boolean")
    rows = df.select(
        is_valid_published_date(F.col("ts"), F.lit(as_of.isoformat()).cast("timestamp")).alias("got"),
        "want",
    ).collect()
    for r in rows:
        assert r["got"] == r["want"], r
