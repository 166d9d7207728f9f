"""Output checks. Each returns a list of failure messages (empty when
the output is right); the oracles are computed from the generated
inputs with pandas/NumPy, independently of the program under test."""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

import gen

#: F6 decision-ladder thresholds and the collection templates, restated
#: from the reference so the checks do not trust the code under test
HIGH, MID = 0.35, 0.20
TEMPLATES = {
    "date_spots": (["date-spot", "romantic"], ["tourist-trap"], 0.5),
    "work_friendly": (["work-friendly"], [], 0.5),
    "trendy_now": (["trendy", "new_spot"], ["established"], 0.4),
}
TOP_K, MIN_MEMBERS = 8, 2
EARTH_M = 6371000.0


def _ladder(final, authority, geo, pen_country) -> tuple[str, str]:
    if authority >= 1.0 and pen_country == 0:
        return "ACCEPT", "confirmed_domain"
    if pen_country > 0:
        return "REJECT", ""
    if final >= HIGH:
        return "ACCEPT", "score_high"
    if final >= MID and (geo >= 0.25 or authority >= 0.60):
        return "REVIEW", "mid_conditional"
    return "REJECT", ""


def template_topk(poi: pd.DataFrame, template: str) -> list[str]:
    """Expected top-k member ids of one template over ``poi`` rows
    (tags as generated: dict tag -> (confidence, category, sources))."""
    req, exc, min_conf = TEMPLATES[template]
    scored = []
    for pid, tags in zip(poi["id"], poi["tags"]):
        score, ok = 0.0, False
        for t in req:
            c = tags.get(t, (None,))[0]
            qual = c is not None and c >= min_conf
            ok = ok or qual
            score = score + (c if qual else 0.0)
        if not ok or any(tags.get(t, (None,))[0] is not None and tags[t][0] >= min_conf for t in exc):
            continue
        scored.append((-score, pid))
    top = [pid for _, pid in sorted(scored)[:TOP_K]]
    return top if len(top) >= MIN_MEMBERS else []


def check_cycle(spark, inp: gen.Inputs, out_dir: str, limit_per_poi: int, due_limit: int) -> list[str]:
    """Checks one cycle's written outputs against the generated truth."""
    from pyspark.sql import functions as F

    bad: list[str] = []
    # spatial association equals the generator's ground truth
    got = spark.read.parquet(os.path.join(out_dir, "poi_scored")).select(
        "id", "district_name", "neighbourhood_name").toPandas()
    if len(got) != len(inp.poi) or got["id"].nunique() != len(inp.poi):
        bad.append(f"poi_scored has {len(got)} rows for {len(inp.poi)} POIs")
    wrong = sum(
        1 for pid, d, n in zip(got["id"], got["district_name"], got["neighbourhood_name"])
        if inp.truth_area.get(pid) != (d, None if n is None or n != n else n)
    )
    if wrong:
        bad.append(f"{wrong} POIs associated with the wrong area")

    # accepted mentions: ≤ limit per POI, ≤ 2 per (source, dedup key),
    # and every row is an ACCEPT of the F6 ladder
    men = spark.read.parquet(os.path.join(out_dir, "source_mention")).select(
        "poi_id", "source_id", "dedup_key", "domain", "final_score", "authority", "geo_sc",
        "pen_country", "decision", "accepted_by").toPandas()
    if men.empty:
        bad.append("no accepted mentions")
    if (men.groupby("poi_id").size() > limit_per_poi).any():
        bad.append("a POI exceeds its accepted-mention cap")
    if (men.groupby(["source_id", "dedup_key"]).size() > 2).any():
        bad.append("a (source, dedup key) window keeps more than 2 mentions")
    for r in men.itertuples(index=False):
        if _ladder(r.final_score, r.authority, r.geo_sc, r.pen_country) != (r.decision, r.accepted_by) \
                or r.decision != "ACCEPT":
            bad.append(f"mention of {r.poi_id} breaks the F6 ladder")
            break
    excluded = {h.split(".", 1)[1] for h in gen.EXCLUDED_HOSTS}
    if men["domain"].map(lambda d: any(d == e or d.endswith("." + e) for e in excluded)).any():
        bad.append("an excluded domain was accepted")

    # collections: every template present with exactly the expected members
    cols = {r["template"]: list(r["poi_ids"])
            for r in spark.read.parquet(os.path.join(out_dir, "collections")).collect()}
    for t in TEMPLATES:
        want = template_topk(inp.poi, t)
        if not want:
            bad.append(f"generator left template {t} without members")
        elif cols.get(t) != want:
            bad.append(f"collection {t} is {cols.get(t)}, expected {want}")

    # grid: each saturated due cell split into its 4 children
    state = spark.read.parquet(os.path.join(out_dir, "grid_state"))
    n_split = state.filter(F.col("status") == "split").count()
    want_split = expected_splits(inp, due_limit)
    if n_split != want_split:
        bad.append(f"{n_split} cells split, expected {want_split}")
    if state.count() != len(inp.grid_state) + 4 * want_split:
        bad.append("grid state row count does not match the splits")
    return bad


def due_cells(inp: gen.Inputs, limit: int) -> pd.DataFrame:
    """The due-cell query of the grid scheduler, in pandas."""
    g = inp.grid_state
    as_of = pd.Timestamp(gen.AS_OF)
    due = g[(g["city_slug"] == gen.HOT_CITY) & (g["status"] != "split")
            & (g["next_due_at"].isna() | (g["next_due_at"] <= as_of))]
    due = due.assign(_null=due["next_due_at"].notna()).sort_values(
        ["res", "_null", "next_due_at", "h3"])
    return due.head(limit)


def expected_splits(inp: gen.Inputs, limit: int) -> int:
    """Cells the cycle splits: every unsplit res-9 cell whose latest
    result count, after this cycle's scans, reaches the cap."""
    scanned = inp.scan_results.set_index("h3")["results"]
    due = set(due_cells(inp, limit)["h3"])
    g = inp.grid_state
    latest = [scanned[h] if h in due else r for h, r in zip(g["h3"], g["results_last"])]
    return int(sum(1 for r, st in zip(latest, g["status"])
                   if st != "split" and r == r and r is not None and r >= gen.SCAN_CAP))


# ---------------------------------------------------------------------------
# nearby queries
# ---------------------------------------------------------------------------


def haversine_km(lat1, lng1, lat2, lng2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = np.radians(lat2 - lat1), np.radians(lng2 - lng1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return EARTH_M * 2 * np.arctan2(np.sqrt(a), np.sqrt(1 - a)) / 1000.0


def check_radius(poi: pd.DataFrame, city: str, lat: float, lng: float, r_km: float,
                 got_ids: list[str]) -> list[str]:
    """Radius result equals a brute-force haversine scan; points within
    1e-9 km of the radius may fall either way."""
    p = poi[poi["city_slug"] == city]
    d = haversine_km(p["lat"].to_numpy(), p["lng"].to_numpy(), lat, lng)
    sure = set(p["id"][d < r_km - 1e-9])
    maybe = set(p["id"][np.abs(d - r_km) <= 1e-9])
    got = set(got_ids)
    if len(got) != len(got_ids) or not (sure <= got <= sure | maybe):
        return [f"radius query at ({lat:.5f},{lng:.5f}) r={r_km} returned {len(got)} ids, "
                f"expected {len(sure)}"]
    return []


def check_topk(poi: pd.DataFrame, city: str, template: str, got_ids: list[str]) -> list[str]:
    want = template_topk(poi[poi["city_slug"] == city], template)
    return [] if got_ids == want else [f"top-k {template} in {city}: {got_ids} != {want}"]


def check_name(poi: pd.DataFrame, city: str, query: str, got_id) -> list[str]:
    p = poi[(poi["city_slug"] == city) & poi["name"].str.lower().str.contains(query.lower(), regex=False)]
    want = None if p.empty else min(zip(p["name"], p["id"]))[1]
    got = None if got_id is None or (isinstance(got_id, float) and math.isnan(got_id)) else got_id
    return [] if got == want else [f"name lookup {query!r} in {city}: {got} != {want}"]


# ---------------------------------------------------------------------------
# merge target
# ---------------------------------------------------------------------------


def check_merge_target(target: pd.DataFrame, initial: pd.DataFrame, waves: list[pd.DataFrame],
                       key: str, version: str) -> list[str]:
    """The target equals the latest row per key over the initial table
    and every wave (ties go to the later wave)."""
    allrows = pd.concat([initial] + waves, ignore_index=True)
    allrows["_order"] = np.arange(len(allrows))
    latest = (allrows.sort_values([key, version, "_order"])
              .groupby(key, as_index=False).tail(1).drop(columns="_order"))
    cols = list(initial.columns)
    want = latest[cols].sort_values(key).reset_index(drop=True)
    got = target[cols].sort_values(key).reset_index(drop=True)
    if len(got) != len(want):
        return [f"merge target has {len(got)} rows, expected {len(want)}"]
    for c in cols:
        a, b = got[c], want[c]
        if c == version:
            a, b = pd.to_datetime(a, utc=True), pd.to_datetime(b, utc=True)
        if not a.equals(b):
            diff = int((a != b).sum())
            return [f"merge target column {c} differs on {diff} rows"]
    return []
