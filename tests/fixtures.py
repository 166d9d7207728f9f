"""Deterministic reference-shaped domain fixtures (FIXTURES.md §B),
seed=42, epoch pinned at 2026-08-01T00:00:00Z. Small by design — these
feed unit oracles, not benchmarks."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

AS_OF = datetime(2026, 8, 1, 0, 0, 0)

CATEGORIES = ["restaurant", "bar", "cafe", "bakery", "night_club"]
SOURCE_TYPES = ["guide", "press", "local", "blog", None]
CITIES = ["paris", "lyon", "marseille"]


def make_domain_fixtures(n_pois: int = 60):
    rng = random.Random(42)
    pois, mentions, snapshots = [], [], []
    for i in range(n_pois):
        pid = f"poi-{i:04d}"
        rating = None if i % 17 == 0 else round(3.0 + rng.random() * 2.0, 1)
        reviews = 0 if i % 13 == 0 else int(rng.random() ** 2 * 3000)
        first_seen = AS_OF - timedelta(days=rng.randint(0, 500))
        pois.append(
            dict(
                id=pid,
                name=f"Venue {i}",
                category=CATEGORIES[i % len(CATEGORIES)],
                city="paris",
                city_slug=CITIES[i % 3],
                rating=rating,
                reviews_count=reviews,
                first_seen_at=first_seen,
                eligibility_status="hold",
            )
        )
        # mentions: 0..12 per POI; poi-0005 is the skewed "mega" POI
        n_mentions = 40 if i == 5 else rng.randint(0, 12)
        for j in range(n_mentions):
            created = AS_OF - timedelta(days=rng.randint(0, 400))
            w_time = None if rng.random() < 0.3 else round(rng.random(), 3)
            mentions.append(
                dict(
                    id=f"m-{i:04d}-{j:03d}",
                    poi_id=pid,
                    source_type=SOURCE_TYPES[rng.randint(0, 4)],
                    authority_weight=None if rng.random() < 0.2 else round(rng.random(), 3),
                    match_score=None if rng.random() < 0.2 else round(rng.random(), 3),
                    w_time=w_time,
                    created_at=created,
                    url=f"https://site{j % 7}.fr/articles/venue-{i}-{j}",
                    source_id=f"src-{j % 7}",
                )
            )
        # snapshots: some POIs none, some 1, most a weekly-ish series
        n_snaps = 0 if i % 11 == 0 else (1 if i % 7 == 0 else rng.randint(2, 10))
        base_reviews = reviews
        for k in range(n_snaps):
            captured = AS_OF - timedelta(days=3 * k + rng.randint(0, 2), hours=k)
            snapshots.append(
                dict(
                    poi_id=pid,
                    source_id="google",
                    rating_value=round(3.5 + rng.random(), 2),
                    reviews_count=max(0, base_reviews - k * rng.randint(0, 15)),
                    captured_at=captured,
                )
            )
    return pois, mentions, snapshots


def stage_stream_file(spark, stream_dir, name, df_or_rows, schema=None):
    """Add one single-file parquet 'wave' to the watched directory
    ``stream_dir`` atomically, as ``<stream_dir>/<name>.parquet``: the
    ONE staging protocol of the streaming tests.

    Spark writes the wave into a SIBLING scratch dir outside the
    watched tree, and the single part file is then ``os.rename``d in.
    A scratch dir inside ``stream_dir`` races the running query's
    recursive listing: the listing can see the part file just before
    it is moved away and the scratch dir deleted, and the batch then
    fails on the vanished path. A rename within one filesystem is
    atomic, so the listing only ever sees a complete file or nothing."""
    import glob
    import os
    import shutil

    df = (
        df_or_rows
        if hasattr(df_or_rows, "write")
        else spark.createDataFrame(df_or_rows, schema)
    )
    scratch = f"{stream_dir}.__stage_{name}"
    df.coalesce(1).write.parquet(scratch)
    (part,) = glob.glob(f"{scratch}/*.parquet")
    os.rename(part, f"{stream_dir}/{name}.parquet")
    shutil.rmtree(scratch)
