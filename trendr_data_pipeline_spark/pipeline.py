"""The auto-pipeline (SURVEY §3.1) as one SparkSession program.

The reference orchestrates H3-INGEST → MENTIONS → CLASSIFY →
TRENDING as subprocesses exchanging stdout text and database state
(``run_pipeline.py:549-614``); here each step is a DataFrame
transformation sharing one session — steps are not process exits, and
the "IR" between steps is a DataFrame.

``run_auto_pipeline`` takes input DataFrames and returns every
stage's output. The two outputs that several others read — the capped
accepted mentions and the scored POIs — are stage boundaries: they are
computed eagerly, once, and stored as local checkpoints, so mention
scoring runs once per cycle and every downstream plan starts from the
stored rows, as the reference's steps start from its database tables.
The result owns those checkpoints until it is released:
``write_outputs`` releases it after its last write, and a caller that
never writes calls ``PipelineResult.release``. Sinks (parquet/MERGE)
are the caller's choice — see ``operators/ingestion.upsert_latest`` and
``streaming/jobs.partitioned_merge_sink``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions.text import domain_of
from .operators.candidates import cap_accepted_per_poi, exclude_domains
from .operators.classifier import classify, score_percentiles, status_transitions
from .operators.collections import (
    assemble_collections,
    filter_by_tag_criteria,
    top_k_collection,
    with_effective_tags,
)
from .operators.ingestion import (
    classify_novelty,
    novelty_score,
    quality_gate,
    type_allowlist,
)
from .operators.mentions import score_candidates, windowed_dedup
from .operators.spatial import associate_pois


def _materialize(df: DataFrame) -> DataFrame:
    """A stage boundary: compute ``df`` now, once, and cut its lineage,
    so every plan built on the returned frame reads the stored rows."""
    return df.localCheckpoint(eager=True)


def _release(boundary: DataFrame) -> None:
    """Free one frame made by :func:`_materialize`.
    ``DataFrame.unpersist`` does not reach a local checkpoint: its rows
    are a persisted RDD under the frame's ``LogicalRDD`` leaf, so that
    RDD is unpersisted, blocking until its blocks are gone."""
    boundary._jdf.queryExecution().analyzed().rdd().unpersist(True)


@dataclass
class PipelineResult:
    """Every stage's output of one cycle. ``boundaries`` are the
    materialized frames the outputs read from; the outputs built on
    them stay readable until :meth:`release`."""

    poi_ingested: DataFrame
    poi_associated: DataFrame
    mentions_accepted: DataFrame
    poi_scored: DataFrame
    score_percentiles: DataFrame
    status_transitions: DataFrame
    collections: DataFrame
    boundaries: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Free the materialized boundaries. Idempotent."""
        while self.boundaries:
            _release(self.boundaries.pop())


#: collection templates — deterministic path of
#: ai/collection_generator.py:47-165 (subset)
COLLECTION_TEMPLATES: dict[str, dict] = {
    "date_spots": {
        "title": "Best Date Spots",
        "required_tags": ["date-spot", "romantic"],
        "excluded_tags": ["tourist-trap"],
        "min_confidence": 0.5,
    },
    "work_friendly": {
        "title": "Work-Friendly Cafés",
        "required_tags": ["work-friendly"],
        "excluded_tags": [],
        "min_confidence": 0.5,
    },
    "trendy_now": {
        "title": "Trendy Right Now",
        "required_tags": ["trendy", "new_spot"],
        "excluded_tags": ["established"],
        "min_confidence": 0.4,
    },
}


def ingest_places(places: DataFrame, existing_poi_ids: DataFrame | None = None) -> DataFrame:
    """F1/F2/F4 + A16: allowlist, quality gate (novelty-gated as in
    F11), validation projection, novelty scoring. ``places`` carries
    (place_id, name, types array, rating, reviews_count, lat, lng,
    address).

    ``existing_poi_ids`` is joined, never collected: the seen-set can
    be millions of ids at production scale, so membership is a left
    join on place_id (AQE broadcasts the id side when it is small)
    rather than an ``isin`` literal list built on the driver.
    """
    if existing_poi_ids is None:
        places = places.withColumn("_seen", F.lit(False))
    else:
        id_col = existing_poi_ids.columns[0]
        seen_ids = (
            existing_poi_ids.select(F.col(id_col).alias("place_id"))
            .distinct()
            .withColumn("_seen", F.lit(True))
        )
        places = places.join(seen_ids, "place_id", "left").withColumn(
            "_seen", F.coalesce(F.col("_seen"), F.lit(False))
        )
    nov = novelty_score(
        F.col("rating"), F.col("reviews_count"), F.col("name"), F.col("types"),
        F.col("address"), F.col("_seen"),
    )
    gate = quality_gate(F.col("rating"), F.col("reviews_count"))
    return (
        places.filter(type_allowlist(F.col("types")))
        .filter(
            F.col("place_id").isNotNull()
            & F.col("name").isNotNull()
            & F.col("lat").isNotNull()
            & F.col("lng").isNotNull()
        )
        .withColumn("novelty_score", nov)
        .withColumn("novelty_classification", classify_novelty(nov))
        # F11: keep promising-new OR quality-passing places
        .filter((F.col("novelty_score") >= 0.4) | gate)
        .drop("_seen")
    )


def run_auto_pipeline(
    poi: DataFrame,
    urban_areas: DataFrame,
    candidates: DataFrame,
    city_profiles: DataFrame,
    source_catalog: DataFrame,
    snapshots: DataFrame,
    as_of: Column,
    limit_per_poi: int = 5,
    city: str = "Paris",
) -> PipelineResult:
    """MENTIONS → CLASSIFY → COLLECTIONS over already-ingested POIs
    (ingestion is `ingest_places`, driven by its own fixture).

    Computes two stage boundaries before it returns, each once: the
    capped accepted mentions, then the scored POIs built from them (the
    result's ``boundaries``). The percentiles, transitions and
    collections are lazy plans over the scored POIs. The caller
    releases the result — ``write_outputs`` does — and reads nothing
    from it afterwards. If a stage raises, the boundaries already
    made are released before the error propagates."""
    # spatial association (J1)
    associated = associate_pois(poi, urban_areas)

    # mention scan (§3.2): exclusions → scoring → decision → dedup → cap.
    # A null domain is the url's host, derived before the exclusions so
    # they and the catalog join both see it
    scored_cands = score_candidates(
        exclude_domains(
            candidates.withColumn(
                "domain", F.coalesce(F.col("domain"), domain_of(F.col("url")))
            )
        ),
        city_profiles,
        source_catalog,
        as_of,
    )
    accepted = (
        scored_cands.filter(F.col("decision") == "ACCEPT")
        .withColumn("source_id", F.coalesce(F.col("cat_source_id"), F.lit("discovered")))
        .withColumn("source_type", F.coalesce(F.col("cat_source_type"), F.lit("blog")))
        .withColumn("authority_weight", F.col("authority"))
        .withColumn("w_time", F.lit(1.0))
        .withColumn("match_score", F.col("name_sc"))
        .withColumn("created_at", as_of)
    )
    # every boundary made so far is released if a later stage fails
    boundaries: list[DataFrame] = []
    try:
        deduped = _materialize(
            cap_accepted_per_poi(windowed_dedup(accepted, as_of), limit_per_poi)
        )
        boundaries.append(deduped)

        # classification (§3.3): one-pass star join
        mentions_for_scoring = deduped.select(
            "poi_id", "source_type", "authority_weight", "match_score", "w_time", "created_at"
        )
        scored = _materialize(classify(associated, mentions_for_scoring, snapshots, as_of))
        boundaries.append(scored)
        pct = score_percentiles(scored)
        transitions = status_transitions(
            poi.select("id", "eligibility_status"), scored
        )

        # collections (tag engine)
        tagged = with_effective_tags(scored)
        per_template = None
        for key, tpl in COLLECTION_TEMPLATES.items():
            m = filter_by_tag_criteria(
                tagged, tpl["required_tags"], tpl["excluded_tags"], tpl["min_confidence"]
            ).withColumn("template", F.lit(key))
            per_template = m if per_template is None else per_template.unionByName(m)
        topk = top_k_collection(per_template)
        cols = assemble_collections(
            topk, city, {k: t["title"] for k, t in COLLECTION_TEMPLATES.items()}
        )
    except BaseException:
        for b in boundaries:
            _release(b)
        raise

    return PipelineResult(
        poi_ingested=poi,
        poi_associated=associated,
        mentions_accepted=deduped,
        poi_scored=scored,
        score_percentiles=pct,
        status_transitions=transitions,
        collections=cols,
        boundaries=boundaries,
    )


def write_outputs(result: PipelineResult, out_dir: str) -> None:
    """Persist stage outputs in the SCALING.md layout: facts
    partitioned by their pruning key (mentions by created date, scored
    POIs by city), small outputs as single files. Each output directory
    is replaced whole: under Spark's default static partition-overwrite
    mode, ``mode("overwrite").partitionBy(...)`` drops every partition
    this cycle does not write.

    This is the cycle's last consumer: it releases ``result`` after its
    last write, and also when a write fails."""
    import os

    try:
        (
            result.mentions_accepted.withColumn("dt", F.to_date("created_at"))
            .write.mode("overwrite")
            .partitionBy("dt")
            .parquet(os.path.join(out_dir, "source_mention"))
        )
        (
            result.poi_scored.write.mode("overwrite")
            .partitionBy("city_slug")
            .parquet(os.path.join(out_dir, "poi_scored"))
        )
        result.collections.write.mode("overwrite").parquet(os.path.join(out_dir, "collections"))
    finally:
        result.release()
