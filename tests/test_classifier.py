"""A1–A8 parity: the one-pass Spark classifier must reproduce the
reference's per-POI loop (reimplemented here verbatim from
scripts/intelligent_classifier.py as the oracle), on fixtures that hit
every branch: null w_time/rating, insufficient snapshots, bakery/bar
multipliers, the skewed mega-POI, badge thresholds."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.fixtures import AS_OF, make_domain_fixtures
from trendr_data_pipeline_spark.operators.classifier import (
    classify,
    score_percentiles,
    status_transitions,
)

WEIGHT_TYPE = {"guide": 1.0, "press": 0.8, "local": 0.5}
DECAY_TAU = {"guide": 180, "press": 75, "local": 30}


def oracle_authority(mentions):
    # intelligent_classifier.py:51-99
    raw = 0.0
    for m in mentions:
        st = (m["source_type"] or "local").lower()
        weight_type = WEIGHT_TYPE.get(st, 0.5)
        authority_weight = m["authority_weight"] if m["authority_weight"] is not None else 1.0
        match_score = m["match_score"] if m["match_score"] is not None else 1.0
        w_time = m["w_time"]
        if w_time is None:
            if m["created_at"] is not None:
                delta_days = (AS_OF - m["created_at"]).days
                tau = DECAY_TAU.get(st, 30)
                w_time = math.exp(-delta_days / tau)
            else:
                w_time = 0.5
        raw += weight_type * authority_weight * w_time * match_score
    return min(100.0, max(0.0, math.tanh(raw / 100) * 100))


def oracle_review(poi):
    # intelligent_classifier.py:101-131
    if poi["rating"] is None:
        return 0.0
    score_rating = max(0.0, min(1.0, (poi["rating"] - 3.5) / 1.5)) * 100
    n = poi["reviews_count"] or 0
    score_volume = max(0.0, min(1.0, math.log1p(n) / math.log1p(2000))) * 100 if n > 0 else 0.0
    review = 0.70 * score_rating + 0.30 * score_volume
    if (poi["category"] or "").lower() in ("bar", "night_club"):
        review *= 0.85
    return min(100.0, max(0.0, review))


def oracle_momentum(poi, mentions, snapshots):
    # intelligent_classifier.py:133-257
    from datetime import timedelta

    in_window = sorted(
        (s for s in snapshots if s["captured_at"] >= AS_OF - timedelta(days=14)),
        key=lambda s: s["captured_at"],
    )
    if len(in_window) < 2:
        delta = 0
    else:
        delta = max(0, (in_window[-1]["reviews_count"] or 0) - (in_window[0]["reviews_count"] or 0))
    base = min(1.0, delta / 5.0) * 100 if delta > 0 else 0.0
    recent_high = sum(
        1
        for m in mentions
        if m["created_at"] >= AS_OF - timedelta(days=30) and (m["w_time"] or 0.0) > 0.8
    )
    momentum = base + (15.0 if recent_high >= 2 else 0.0)
    if (poi["category"] or "").lower() == "bakery":
        momentum *= 1.15
    if len(snapshots) < 2:
        if poi["first_seen_at"] is not None and (AS_OF - poi["first_seen_at"]).days < 30:
            momentum = 50.0
        else:
            momentum = 0.0
    return min(100.0, max(0.0, momentum))


def oracle_badges(poi, mentions, momentum):
    # intelligent_classifier.py:264-355 — window membership is a
    # timestamp-cutoff compare; first_seen age uses Python .days
    from datetime import timedelta

    badges = []
    if poi["first_seen_at"] is not None and (AS_OF - poi["first_seen_at"]).days <= 60:
        if any(
            m["created_at"] >= AS_OF - timedelta(days=60) and (m["w_time"] or 0.0) > 0.6
            for m in mentions
        ):
            badges.append("new")
    n_recent_08 = sum(
        1
        for m in mentions
        if m["created_at"] >= AS_OF - timedelta(days=30) and (m["w_time"] or 0.0) > 0.8
    )
    if momentum >= 65 or n_recent_08 >= 2:
        badges.append("trending")
    rating = poi["rating"] or 0
    reviews = poi["reviews_count"] or 0
    if rating >= 4.6 and reviews < 500:
        if any((m["source_type"] or "").lower() in ("press", "local") for m in mentions):
            badges.append("hidden_gem")
    if rating >= 4.4:
        if sum(1 for m in mentions if (m["source_type"] or "").lower() == "local") >= 2:
            badges.append("local_favorite")
    return badges


def oracle_status(gatto, authority, review):
    if gatto >= 60 and (authority >= 40 or review >= 70):
        return "approved"
    if gatto >= 50:
        return "eligible"
    return "hold"


@pytest.fixture(scope="module")
def scored(spark):
    pois, mentions, snapshots = make_domain_fixtures()
    from trendr_data_pipeline_spark.schemas import DOMAIN

    poi_df = spark.createDataFrame(
        [
            tuple(p.get(f.name) for f in DOMAIN["poi"].fields)
            for p in [{**{f.name: None for f in DOMAIN["poi"].fields}, **p} for p in pois]
        ],
        DOMAIN["poi"],
    )
    men_df = spark.createDataFrame(
        [
            tuple(m.get(f.name) for f in DOMAIN["source_mention"].fields)
            for m in [
                {**{f.name: None for f in DOMAIN["source_mention"].fields}, **m}
                for m in mentions
            ]
        ],
        DOMAIN["source_mention"],
    )
    snap_df = spark.createDataFrame(
        [tuple(s[f.name] for f in DOMAIN["rating_snapshot"].fields) for s in snapshots],
        DOMAIN["rating_snapshot"],
    )
    out = classify(poi_df, men_df, snap_df, F.lit(AS_OF.isoformat()).cast("timestamp"))
    rows = {r["id"]: r for r in out.collect()}
    return pois, mentions, snapshots, rows, out


def test_classifier_parity(scored):
    pois, mentions, snapshots, rows, _ = scored
    by_poi_m = {}
    for m in mentions:
        by_poi_m.setdefault(m["poi_id"], []).append(m)
    by_poi_s = {}
    for s in snapshots:
        by_poi_s.setdefault(s["poi_id"], []).append(s)

    for p in pois:
        got = rows[p["id"]]
        ms = by_poi_m.get(p["id"], [])
        ss = by_poi_s.get(p["id"], [])
        a = oracle_authority(ms)
        r = oracle_review(p)
        mo = oracle_momentum(p, ms, ss)
        g = min(100.0, max(0.0, 0.5 * a + 0.3 * r + 0.2 * mo))
        assert got["authority_score"] == pytest.approx(a, abs=1e-9), p["id"]
        assert got["review_score"] == pytest.approx(r, abs=1e-9), p["id"]
        assert got["momentum_score"] == pytest.approx(mo, abs=1e-9), p["id"]
        assert got["gatto_score"] == pytest.approx(g, abs=1e-9), p["id"]
        assert got["badges"] == oracle_badges(p, ms, mo), p["id"]
        assert got["eligibility_status"] == oracle_status(g, a, r), p["id"]


def test_percentiles_nearest_rank(scored):
    *_, out = scored
    p = score_percentiles(out).first()
    scores = sorted(r["gatto_score"] for r in out.collect())
    # reference :530-535 — index into ascending sorted list
    assert p["p50"] == pytest.approx(scores[int(len(scores) * 0.5)], abs=1e-9)
    assert p["p95"] == pytest.approx(scores[int(len(scores) * 0.95)], abs=1e-9)


def _check_percentiles_duplicates(spark, n):
    # n scores with heavy duplication, spread over 16 partitions
    vals = [float(i % 37) for i in range(n)]
    df = spark.createDataFrame([(v,) for v in vals], "gatto_score double").repartition(16)
    p = score_percentiles(df).first()
    s = sorted(vals)
    assert p["p50"] == pytest.approx(s[int(len(s) * 0.5)], abs=1e-9)
    assert p["p95"] == pytest.approx(s[int(len(s) * 0.95)], abs=1e-9)


def test_percentiles_multi_partition_with_duplicates(spark):
    _check_percentiles_duplicates(spark, 1000)


@pytest.mark.parametrize("n", [1, 2, 19, 20, 21, 199, 200, 201])
def test_percentiles_index_boundaries(spark, n):
    # the sizes straddle the floor(n·p) index boundaries of p50 and p95
    _check_percentiles_duplicates(spark, n)


def test_percentiles_empty_input(spark):
    df = spark.createDataFrame([], "gatto_score double")
    p = score_percentiles(df).first()
    assert (p["p50"], p["p95"]) == (None, None)


def test_percentiles_null_score_counted_and_ordered_last(spark):
    # a null score counts toward n and sorts after every value: with
    # n = 2, p50 indexes position 1, which is the null
    df = spark.createDataFrame([(3.0,), (None,)], "gatto_score double")
    p = score_percentiles(df).first()
    assert (p["p50"], p["p95"]) == (None, None)
    df = spark.createDataFrame([(3.0,), (1.0,), (None,)], "gatto_score double")
    p = score_percentiles(df).first()
    assert (p["p50"], p["p95"]) == (3.0, None)


def test_percentiles_plan_has_no_window(spark):
    df = spark.createDataFrame([(float(i),) for i in range(20)], "gatto_score double")
    plan = score_percentiles(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_status_transitions(scored, spark):
    pois, _, _, rows, out = scored
    from trendr_data_pipeline_spark.schemas import DOMAIN  # noqa: F401

    old = out.select("id", F.lit("hold").alias("eligibility_status"))
    trans = {r["transition"]: r["n"] for r in status_transitions(old, out).collect()}
    from collections import Counter

    want = Counter(f"hold->{rows[p['id']]['eligibility_status']}" for p in pois)
    assert trans == dict(want)
