"""The full city cycle: grid scan → place ingestion → spatial
association → mention scan → classification → collections → writes.

``run_cycle`` is the cycle as the pipeline runs it (one lazy plan per
output, ``pipeline.run_auto_pipeline`` + ``pipeline.write_outputs``).
``run_cycle_traced`` calls the same public layer functions one at a
time, in the order ``run_auto_pipeline`` composes them, with each
layer's inputs materialised before its span opens and its output
materialised inside it, so every span times one layer.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trendr_data_pipeline_spark import pipeline as P
from trendr_data_pipeline_spark.operators import classifier, collections, grid, mentions, spatial
from trendr_data_pipeline_spark.operators.candidates import cap_accepted_per_poi, exclude_domains
from trendr_data_pipeline_spark.schemas import DOMAIN

import gen
from common import write_parquet

#: due cells scanned per cycle and the accepted-mention cap per POI
DUE_LIMIT = 150
LIMIT_PER_POI = 5
CITY_TITLE = "Paris"

TABLE_SCHEMAS = {
    "poi": DOMAIN["poi"],
    "urban_areas": DOMAIN["urban_areas"],
    "city_profiles": DOMAIN["city_profiles"],
    "source_catalog": DOMAIN["source_catalog"],
    "snapshots": DOMAIN["rating_snapshot"],
    "grid_state": DOMAIN["ingestion_cell_h3"],
}
DDL = {
    "candidates": "poi_id string, poi_name string, city_slug string, url string, title string,"
    " snippet string, domain string, poi_lat double, poi_lng double, published_at timestamp",
    "cities": "city_slug string, geometry string",
    "scan_results": "h3 string, results long",
    "places": "place_id string, name string, types array<string>, rating double,"
    " reviews_count long, lat double, lng double, address string, h3 string",
}


def as_of():
    return F.lit(gen.AS_OF.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")


def stage(spark, inp: gen.Inputs, in_dir: str) -> None:
    """Write every generated table as parquet under ``in_dir``."""
    from pyspark.sql.types import _parse_datatype_string

    for name in list(TABLE_SCHEMAS) + list(DDL):
        schema = TABLE_SCHEMAS.get(name) or _parse_datatype_string(DDL[name])
        write_parquet(getattr(inp, name), schema, os.path.join(in_dir, name, "part-0.parquet"))


@dataclass
class Tables:
    poi: DataFrame
    urban_areas: DataFrame
    city_profiles: DataFrame
    source_catalog: DataFrame
    snapshots: DataFrame
    grid_state: DataFrame
    candidates: DataFrame
    cities: DataFrame
    scan_results: DataFrame
    places: DataFrame

    @classmethod
    def read(cls, spark, in_dir: str) -> "Tables":
        return cls(**{
            name: spark.read.parquet(os.path.join(in_dir, name))
            for name in list(TABLE_SCHEMAS) + list(DDL)
        })

    def materialised(self) -> "Tables":
        return Tables(**{k: v.localCheckpoint(eager=True) for k, v in vars(self).items()})


def _scan(spark, tb: Tables):
    """Due cells → the synthetic scan's results and places for them.
    The due list is collected, as a scheduler hands it to the API."""
    due_ids = [r["h3"] for r in grid.due_cells(tb.grid_state, gen.HOT_CITY, as_of(), DUE_LIMIT)
               .select("h3").collect()]
    due = spark.createDataFrame([(h,) for h in due_ids], "h3 string")
    scans = tb.scan_results.join(F.broadcast(due), "h3", "left_semi")
    places = tb.places.join(F.broadcast(due), "h3", "left_semi").drop("h3")
    return scans, places


def _known_ids(tb: Tables) -> DataFrame:
    return tb.poi.select(F.col("google_place_id").alias("place_id"))


def run_cycle(spark, tb: Tables, out_dir: str) -> None:
    """One untraced cycle, ending when every output is written."""
    scans, places = _scan(spark, tb)
    ingested = P.ingest_places(places, _known_ids(tb))
    state = grid.split_saturated(grid.update_scanned(tb.grid_state, scans, as_of()), tb.cities)
    res = P.run_auto_pipeline(
        tb.poi, tb.urban_areas, tb.candidates, tb.city_profiles, tb.source_catalog,
        tb.snapshots, as_of(), limit_per_poi=LIMIT_PER_POI, city=CITY_TITLE,
    )
    P.write_outputs(res, out_dir)
    ingested.write.mode("overwrite").parquet(os.path.join(out_dir, "places_ingested"))
    state.write.mode("overwrite").parquet(os.path.join(out_dir, "grid_state"))


def run_cycle_traced(spark, tb: Tables, out_dir: str, tracer, trace_id: str) -> dict:
    """One cycle, layer by layer, inside a root ``cycle`` span. ``tb``
    must already be materialised. Returns the counts behind the layer
    ratios."""

    def ck(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    a = as_of()
    with tracer.span("cycle", trace_id):
        with tracer.span("grid.due_cells"):
            scans, places = _scan(spark, tb)
            scans, places = ck(scans), ck(places)
        with tracer.span("pipeline.ingest_places"):
            ingested = ck(P.ingest_places(places, _known_ids(tb)))
        with tracer.span("grid.update_scanned"):
            state = ck(grid.update_scanned(tb.grid_state, scans, a))
        with tracer.span("grid.split_saturated"):
            state = ck(grid.split_saturated(state, tb.cities))
        with tracer.span("spatial.associate"):
            associated = ck(spatial.associate_pois(tb.poi, tb.urban_areas))
        with tracer.span("mentions.score"):
            scored_cands = ck(mentions.score_candidates(
                exclude_domains(tb.candidates.withColumn(
                    "domain", F.coalesce(F.col("domain"), F.lit("")))),
                tb.city_profiles, tb.source_catalog, a,
            ))
        with tracer.span("mentions.dedup_cap"):
            # the accepted-row projection of run_auto_pipeline
            accepted = (
                scored_cands.filter(F.col("decision") == "ACCEPT")
                .withColumn("source_id", F.coalesce(F.col("cat_source_id"), F.lit("discovered")))
                .withColumn("source_type", F.coalesce(F.col("cat_source_type"), F.lit("blog")))
                .withColumn("authority_weight", F.col("authority"))
                .withColumn("w_time", F.lit(1.0))
                .withColumn("match_score", F.col("name_sc"))
                .withColumn("created_at", a)
            )
            deduped = ck(cap_accepted_per_poi(mentions.windowed_dedup(accepted, a), LIMIT_PER_POI))
        with tracer.span("classifier.classify"):
            scored = ck(classifier.classify(
                associated,
                deduped.select("poi_id", "source_type", "authority_weight", "match_score",
                               "w_time", "created_at"),
                tb.snapshots, a,
            ))
        with tracer.span("collections.build"):
            tagged = collections.with_effective_tags(scored)
            per_template = None
            for key, tpl in P.COLLECTION_TEMPLATES.items():
                m = collections.filter_by_tag_criteria(
                    tagged, tpl["required_tags"], tpl["excluded_tags"], tpl["min_confidence"]
                ).withColumn("template", F.lit(key))
                per_template = m if per_template is None else per_template.unionByName(m)
            cols = ck(collections.assemble_collections(
                collections.top_k_collection(per_template), CITY_TITLE,
                {k: t["title"] for k, t in P.COLLECTION_TEMPLATES.items()},
            ))
        with tracer.span("pipeline.write"):
            P.write_outputs(
                P.PipelineResult(
                    poi_ingested=tb.poi, poi_associated=associated, mentions_accepted=deduped,
                    poi_scored=scored, score_percentiles=None, status_transitions=None,
                    collections=cols,
                ),
                out_dir,
            )
            ingested.write.mode("overwrite").parquet(os.path.join(out_dir, "places_ingested"))
            state.write.mode("overwrite").parquet(os.path.join(out_dir, "grid_state"))
    # percentiles and transitions are read by the app, not written by
    # the cycle: a root span of their own, outside the cycle's
    with tracer.span("classifier.percentiles", trace_id):
        classifier.score_percentiles(scored).collect()
        classifier.status_transitions(tb.poi.select("id", "eligibility_status"), scored).collect()
    return {
        "places_scanned": places.count(),
        "places_kept": ingested.count(),
        "assigned": associated.filter(F.col("district_name").isNotNull()).count(),
        "pois": associated.count(),
        "accepted": deduped.count(),
        "cells_split": state.filter(F.col("status") == "split").count(),
    }
