"""The app's read operations against a city cycle's written outputs:
radius "near me", a collection's top-k, and a name lookup. Each query
opens the ``poi_scored`` output, prunes to one city partition and
collects its answer, as an app request would."""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

from trendr_data_pipeline_spark import pipeline as P
from trendr_data_pipeline_spark.operators import collections, mentions, spatial

import checks
import gen

#: query mix (shares) and the share of queries sent to the hot city
MIX = (("radius", 0.4), ("topk", 0.3), ("name", 0.3))
HOT_SHARE = 0.8
RADII_KM = (0.5, 1.0, 2.0)
#: the layer each query type calls, as named in the per-layer metrics
LAYER = {"radius": "spatial.radius_join", "topk": "collections.topk",
         "name": "mentions.enrich_names"}


class Queries:
    """Query builder and checker over one staged output directory."""

    def __init__(self, spark, inp: gen.Inputs, out_dir: str):
        self.spark = spark
        self.poi = inp.poi
        self.scored_dir = os.path.join(out_dir, "poi_scored")
        self.by_city = {c: inp.poi[inp.poi["city_slug"] == c] for c in inp.poi["city_slug"].unique()}

    def pick(self, rng: random.Random) -> tuple:
        """A random query: (kind, city, args)."""
        city = gen.HOT_CITY if rng.random() < HOT_SHARE else "lyon"
        kind = rng.choices([k for k, _ in MIX], [w for _, w in MIX])[0]
        pois = self.by_city[city]
        if kind == "radius":
            row = pois.iloc[rng.randrange(len(pois))]
            lat = float(row["lat"]) + rng.uniform(-0.005, 0.005)
            lng = float(row["lng"]) + rng.uniform(-0.005, 0.005)
            return kind, city, (lat, lng, rng.choice(RADII_KM))
        if kind == "topk":
            return kind, city, (rng.choice(list(P.COLLECTION_TEMPLATES)),)
        name = pois.iloc[rng.randrange(len(pois))]["name"]
        # the distinctive tail of a name ("Servan 00042"), or a miss
        query = " ".join(name.split()[1:]) if rng.random() < 0.9 else f"Zz{rng.randrange(999)}"
        return kind, city, (query,)

    def pick_kind(self, rng: random.Random, kind: str) -> tuple:
        """A random query of one kind."""
        while True:
            pick = self.pick(rng)
            if pick[0] == kind:
                return pick

    def _city_pois(self, city: str):
        return self.spark.read.parquet(self.scored_dir).filter(F.col("city_slug") == city)

    def run(self, kind: str, city: str, args: tuple):
        """Runs one query to completion; returns its raw answer."""
        spark = self.spark
        if kind == "radius":
            lat, lng, r = args
            centers = spark.createDataFrame([(lat, lng)], "c_lat double, c_lng double")
            rows = spatial.radius_join(self._city_pois(city).select("id", "lat", "lng"), centers, r) \
                .select("id").collect()
            return [x["id"] for x in rows]
        if kind == "topk":
            (template,) = args
            tpl = P.COLLECTION_TEMPLATES[template]
            m = collections.filter_by_tag_criteria(
                collections.with_effective_tags(self._city_pois(city)),
                tpl["required_tags"], tpl["excluded_tags"], tpl["min_confidence"],
            ).withColumn("template", F.lit(template))
            rows = collections.top_k_collection(m).select("id", "rk").collect()
            return [x["id"] for x in sorted(rows, key=lambda x: x["rk"])]
        (query,) = args
        names = spark.createDataFrame([(query, city)], "query_name string, city_slug string")
        rows = mentions.enrich_poi_names(names, self._city_pois(city).select("id", "name", "city_slug")) \
            .select("id").collect()
        return rows[0]["id"] if rows else None

    def check(self, kind: str, city: str, args: tuple, got) -> list[str]:
        if kind == "radius":
            return checks.check_radius(self.poi, city, *args, got)
        if kind == "topk":
            return checks.check_topk(self.poi, city, args[0], got)
        return checks.check_name(self.poi, city, args[0], got)

    def run_traced(self, tracer, kind: str, city: str, args: tuple, trace_id: str):
        """Runs one query inside a span named after its layer; returns
        (latency s, answer, spark jobs, spark tasks)."""
        with tracer.span(LAYER[kind], trace_id) as sp:
            got = self.run(kind, city, args)
        a = sp.span.attrs
        return sp.span.end - sp.span.start, got, a["spark_jobs"], a["spark_tasks"]

