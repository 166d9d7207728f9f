"""End-to-end auto-pipeline (§3.1): ingest gate, spatial association,
mention scan, classification and collections chained in one session
over domain fixtures."""

from __future__ import annotations

import json
from datetime import datetime, timedelta
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from tests.fixtures import AS_OF, PLACES, PLACES_SCHEMA, make_domain_fixtures
from tests.test_mentions import CANDIDATES, CATALOG, PROFILES
from trendr_data_pipeline_spark import pipeline as P
from trendr_data_pipeline_spark.schemas import DOMAIN


def box(lng0, lat0, lng1, lat1):
    return json.dumps({
        "type": "MultiPolygon",
        "coordinates": [[[[lng0, lat0], [lng1, lat0], [lng1, lat1], [lng0, lat1], [lng0, lat0]]]],
    })


@pytest.fixture(scope="module")
def inputs(spark):
    """``run_auto_pipeline``'s arguments over the domain fixtures."""
    pois, mentions, snapshots = make_domain_fixtures(n_pois=40)
    # pin coordinates inside paris for the spatial stage and give some
    # POIs tags for the collections stage
    for i, p in enumerate(pois):
        p["lat"] = 48.85 + (i % 10) * 0.004
        p["lng"] = 2.31 + (i % 10) * 0.008
        if i % 3 == 0:
            p["tags"] = {
                "date-spot": (0.5 + (i % 5) * 0.1, "experience", 1),
                "work-friendly": (0.6, "function", 1),
            }
    poi_schema_names = [f.name for f in DOMAIN["poi"].fields]
    poi_df = spark.createDataFrame(
        [tuple({**{n: None for n in poi_schema_names}, **p}.get(n) for n in poi_schema_names)
         for p in pois],
        DOMAIN["poi"],
    )
    snap_df = spark.createDataFrame(
        [tuple(s[f.name] for f in DOMAIN["rating_snapshot"].fields) for s in snapshots],
        DOMAIN["rating_snapshot"],
    )
    areas = spark.createDataFrame(
        [
            ("Paris", "1er Arrondissement", "admin", "9", None, box(2.30, 48.84, 2.36, 48.90)),
            ("Paris", "11e Arrondissement", "admin", "9", None, box(2.36, 48.84, 2.42, 48.90)),
            ("Paris", "Quartier Centre", "admin", "10", None, box(2.31, 48.85, 2.34, 48.88)),
        ],
        DOMAIN["urban_areas"],
    )
    # candidates: reuse the mention-test fixtures, remapped to real poi ids
    cands = []
    for i, c in enumerate(CANDIDATES * 4):
        c = dict(c)
        c["poi_id"] = pois[i % len(pois)]["id"]
        cands.append(tuple(c.values()))
    cand_df = spark.createDataFrame(
        cands,
        "poi_id string, poi_name string, city_slug string, url string, title string,"
        " snippet string, domain string, poi_lat double, poi_lng double, published_at timestamp",
    )
    profiles = spark.createDataFrame(
        [tuple(p.values()) for p in PROFILES],
        "city_slug string, city_names_aliases array<string>, country_code string,"
        " admin_names array<string>, postal_prefixes array<string>, lat_min double,"
        " lat_max double, lng_min double, lng_max double, centroid_lat double,"
        " centroid_lng double, competing_cities array<string>",
    )
    cat_rows = [{**{f.name: None for f in DOMAIN["source_catalog"].fields}, **c} for c in CATALOG]
    catalog = spark.createDataFrame(
        [tuple(r[f.name] for f in DOMAIN["source_catalog"].fields) for r in cat_rows],
        DOMAIN["source_catalog"],
    )
    return (
        poi_df, areas, cand_df, profiles, catalog, snap_df,
        F.lit(AS_OF.isoformat()).cast("timestamp"),
    )


def _result(inputs):
    res = P.run_auto_pipeline(*inputs)
    try:
        yield res
    finally:
        res.release()


#: one cycle shared by the stage tests, released at module teardown
result = pytest.fixture(scope="module", name="result")(_result)


def test_spatial_stage(result):
    rows = result.poi_associated.collect()
    assert rows
    # every POI sits inside one of the two districts
    assert all(r["district_name"] in ("1er Arrondissement", "11e Arrondissement") for r in rows)
    assert any(r["neighbourhood_name"] == "Quartier Centre" for r in rows)


def _catalog_source(url):
    """(source_id, authority_weight) the catalog gives ``url``'s host:
    an exact or subdomain match, else the pipeline's discovered
    default."""
    host = urlparse(url).hostname.removeprefix("www.")
    for c in CATALOG:
        cat = urlparse(c["base_url"]).hostname.removeprefix("www.")
        if host == cat or host.endswith("." + cat):
            return c["source_id"], c["authority_weight"]
    return "discovered", 0.4


def test_mention_stage(result):
    rows = result.mentions_accepted.collect()
    assert rows
    assert all(r["decision"] == "ACCEPT" for r in rows)
    assert all(r["dedup_rank"] <= 2 for r in rows)
    # every fixture candidate has a null domain: the cycle must resolve
    # each one through its url's host, not through an empty domain
    for r in rows:
        assert (r["source_id"], r["authority_weight"]) == _catalog_source(r["url"]), r["url"]
    assert any(r["source_id"] == "lefooding" for r in rows)


def test_classification_stage(result):
    rows = result.poi_scored.collect()
    assert rows
    for r in rows:
        assert 0 <= r["gatto_score"] <= 100
        assert r["eligibility_status"] in ("approved", "eligible", "hold")
    pct = result.score_percentiles.first()
    assert pct["p50"] is not None and pct["p95"] >= pct["p50"]
    trans = {r["transition"] for r in result.status_transitions.collect()}
    assert all(t.startswith("hold->") for t in trans)


def test_collections_stage(result):
    cols = {r["template"]: r for r in result.collections.collect()}
    assert "date_spots" in cols or "work_friendly" in cols
    for r in cols.values():
        assert len(r["poi_ids"]) >= 2
        assert r["slug"].endswith("-paris")


def test_ingest_places(spark):
    places = spark.createDataFrame(PLACES, PLACES_SCHEMA)
    # pl3 is already known — its 'unseen' novelty factor (0.3) drops
    # and it fails both the novelty and quality gates
    existing = spark.createDataFrame([("pl3",)], "place_id string")
    out = {r["place_id"]: r for r in P.ingest_places(places, existing).collect()}
    # pl1: no reviews → novelty 0.4+0.3+0.15(name 'new')+0.1 → kept
    assert "pl1" in out and out["pl1"]["novelty_classification"] == "highly_likely_new"
    assert "pl2" in out          # quality gate passes
    assert "pl3" not in out      # seen + weak ratings: fails both gates
    assert "pl4" not in out      # type not allowed
    assert "pl5" not in out      # name missing


def _python_udf_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in ("ArrowEvalPython", "BatchEvalPython") if n in plan]


def test_outputs_read_the_scoring_boundary(result):
    """Mention scoring's Python UDFs run upstream of the materialized
    boundaries and cannot re-run in a plan built on them."""
    # control: the lazy spatial stage still evaluates its pandas UDF
    assert _python_udf_nodes(result.poi_associated)
    assert _python_udf_nodes(result.poi_scored) == []
    assert _python_udf_nodes(result.collections) == []


def _persistent_rdd_ids(spark) -> set[int]:
    # the JVM map is weak-valued, so unrelated entries left by earlier
    # tests may vanish mid-test: compare id sets, not sizes
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _rdd_ids(frames) -> set[int]:
    return {f._jdf.queryExecution().analyzed().rdd().id() for f in frames}


def test_write_outputs_partitioned(spark, result, tmp_path):
    """Runs after every other test of ``result``: ``write_outputs``
    releases the result it writes, so the expected counts are taken
    before the write."""
    from trendr_data_pipeline_spark.pipeline import write_outputs

    n_poi, n_men = result.poi_scored.count(), result.mentions_accepted.count()
    before = _persistent_rdd_ids(spark)
    boundaries = _rdd_ids(result.boundaries)
    assert len(boundaries) == 2 and boundaries <= before
    out = str(tmp_path / "out")
    write_outputs(result, out)
    assert _persistent_rdd_ids(spark) <= before - boundaries and not result.boundaries
    poi_back = spark.read.parquet(f"{out}/poi_scored")
    assert poi_back.count() == n_poi
    # partition pruning reaches the file listing: one city reads one dir
    import os

    dirs = [d for d in os.listdir(f"{out}/poi_scored") if d.startswith("city_slug=")]
    assert len(dirs) >= 2
    men_back = spark.read.parquet(f"{out}/source_mention")
    assert men_back.count() == n_men
    assert "dt" in men_back.columns


def test_unwritten_result_is_released(spark, inputs):
    """A cycle persists its two boundaries and nothing else. A result
    that is never written is freed by ``release()``, which the module
    fixture's teardown calls, and releasing twice is a no-op."""
    before = _persistent_rdd_ids(spark)
    fixture = _result(inputs)
    res = next(fixture)
    assert _persistent_rdd_ids(spark) - before == _rdd_ids(res.boundaries)
    assert len(res.boundaries) == 2
    with pytest.raises(StopIteration):
        next(fixture)  # teardown
    assert _persistent_rdd_ids(spark) <= before and not res.boundaries
    res.release()
    assert _persistent_rdd_ids(spark) <= before


def test_failed_cycle_releases_its_boundaries(spark, inputs, monkeypatch):
    """A stage that raises after both boundaries are materialized
    (collections is the last one) leaves nothing persisted."""

    def boom(*_args, **_kwargs):
        raise RuntimeError("collections failed")

    monkeypatch.setattr(P, "top_k_collection", boom)
    before = _persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="collections failed"):
        P.run_auto_pipeline(*inputs)
    assert _persistent_rdd_ids(spark) <= before


def _compilations(spark) -> int:
    """Janino compilations of generated code so far in this JVM."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def test_warm_cycle_compiles_nothing(spark, result, inputs, tmp_path):
    """A cycle's generated classes fit the session's codegen cache, so
    a second cycle over the same inputs compiles none of them again.
    The first cycle is the module's ``result``, which
    ``test_write_outputs_partitioned`` has written; run on its own, the
    test writes it here."""
    if result.boundaries:
        P.write_outputs(result, str(tmp_path / "first"))
    before = _compilations(spark)
    P.write_outputs(P.run_auto_pipeline(*inputs), str(tmp_path / "out"))
    assert _compilations(spark) - before == 0


def test_places_payload_remap(spark):
    """S3–S5/F4: nested payload → validated, truncated poi row."""
    from trendr_data_pipeline_spark.operators.ingestion import places_payload_to_poi

    schema = (
        "place_id string, name string, types array<string>,"
        " geometry struct<location: struct<lat double, lng double>>,"
        " formatted_address string, website string, phone string,"
        " price_level int, rating double, user_ratings_total int"
    )
    rows = [
        ("ChIJ1", "Le Bon Café" + "x" * 300, ["cafe", "bakery", "museum"],
         {"location": {"lat": 48.86, "lng": 2.33}},
         "5 rue X, Paris, France", "https://bon.fr", "+33 1 23", 2, 4.5, 120),
        ("ChIJ2", "No Location", ["bar"], {"location": {"lat": None, "lng": None}},
         None, None, None, None, None, None),
        ("ChIJ3", "Wrong Type", ["museum"], {"location": {"lat": 48.8, "lng": 2.3}},
         None, None, None, None, None, None),
        (None, "No Id", ["bar"], {"location": {"lat": 48.8, "lng": 2.3}},
         None, None, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema)
    out = places_payload_to_poi(df, "paris", F.lit("2026-08-01").cast("timestamp")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["google_place_id"] == "ChIJ1"
    assert len(r["name"]) == 200                       # truncated
    assert r["category"] == "cafe"                     # first allowed type in allowlist order
    assert r["subcategories"] == ["cafe", "bakery"]    # museum unmapped
    assert r["country"] == "France"
    assert r["price_level"] == "2" and r["reviews_count"] == 120
