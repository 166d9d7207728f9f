"""Seeded, reference-shaped input generator for the POI benchmark.

Everything the program under test receives is built here from one
``numpy`` generator, so a seed fixes every row. The generator also
returns the ground truth the output checks compare against (which
area covers each POI, each POI's tags), which the program never sees.

Shape, per city cycle:

- two cities: ``paris`` (the hot city, most POIs and queries) and
  ``lyon``; each city is tiled by square districts (admin level 9),
  some of which hold one neighbourhood (admin level 10);
- POIs sit strictly inside a known district, and either strictly
  inside its neighbourhood or clear of it, so association has one
  right answer;
- candidates per POI follow a Zipf law, and one "mega" POI carries a
  fixed share of all candidates (the skewed key);
- candidate mixes state their shares: duplicate URLs, confirmed-domain
  hits (catalog authority 1.0), competing-city mentions, wrong-country
  mentions and excluded social/review domains;
- every POI carries tags drawn so all three collection templates have
  qualifying members;
- a grid state table for the hot city and the scan results / places a
  scan of each due cell returns.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

AS_OF = dt.datetime(2026, 8, 1, 12, 0, 0, tzinfo=dt.timezone.utc)

#: (slug, display name, lat0, lng0, district rows, district cols)
CITIES = [
    ("paris", "Paris", 48.815, 2.225, 6, 8),
    ("lyon", "Lyon", 45.708, 4.785, 3, 4),
]
HOT_CITY = "paris"
#: district edge in degrees; neighbourhood boxes sit inside a district
DISTRICT_DEG = 0.03
NEIGHBOURHOOD_DEG = 0.012

#: stated candidate mix (shares of all candidates)
SHARE_DUP_URL = 0.10
SHARE_CONFIRMED = 0.12
SHARE_COMPETING_CITY = 0.10
SHARE_WRONG_COUNTRY = 0.05
SHARE_EXCLUDED = 0.05
#: share of candidates that belong to the mega POI
SHARE_MEGA = 0.05
ZIPF_A = 1.7

CATALOG = [
    ("lefooding", "https://www.lefooding.com", "guide", 1.0),
    ("michelin", "https://guide.michelin.com", "guide", 1.0),
    ("timeout_fr", "https://www.timeout.fr", "press", 0.8),
    ("lemonde", "https://www.lemonde.fr", "press", 0.7),
    ("sortiraparis", "https://www.sortiraparis.com", "local", 0.6),
    ("leblog", "https://food.leblog.fr", "blog", 0.5),
]
CONFIRMED_HOSTS = ["www.lefooding.com", "guide.michelin.com"]
OTHER_CATALOG_HOSTS = ["www.timeout.fr", "www.lemonde.fr", "www.sortiraparis.com", "food.leblog.fr"]
EXCLUDED_HOSTS = ["www.instagram.com", "www.tripadvisor.fr", "www.yelp.com"]

PROFILES = {
    "paris": dict(
        city_names_aliases=["paris", "parigi"], country_code="FR",
        admin_names=["ile-de-france", "grand paris"], postal_prefixes=["75", "750"],
        competing_cities=["lyon", "marseille"],
    ),
    "lyon": dict(
        city_names_aliases=["lyon", "lyons"], country_code="FR",
        admin_names=["auvergne-rhone-alpes", "rhone"], postal_prefixes=["69", "690"],
        competing_cities=["paris", "marseille"],
    ),
}

#: tag vocabulary: the collection templates' required/excluded tags
#: plus filler; confidences are drawn per POI
TAG_POOL = [
    "date-spot", "romantic", "work-friendly", "trendy", "new_spot",
    "tourist-trap", "established", "cozy", "terrace", "brunch",
]
CATEGORIES = ["restaurant", "bar", "cafe", "bakery"]
_WORDS_A = ["Le", "La", "Chez", "Maison", "Bistrot", "Cafe", "Bar", "Atelier", "Comptoir", "Petit"]
_WORDS_B = [
    "Servan", "Marius", "Juliette", "Soleil", "Pigalle", "Voltaire", "Canal", "Oberkampf",
    "Lumiere", "Jardin", "Bastille", "Rivoli", "Tonnelle", "Moulin", "Riviera", "Etoile",
]
MOODS = ["chill", "trendy", "hidden_gem"]


@dataclass
class Inputs:
    """Generated tables (pandas) plus ground truth and sizes."""

    poi: pd.DataFrame
    urban_areas: pd.DataFrame
    city_profiles: pd.DataFrame
    source_catalog: pd.DataFrame
    candidates: pd.DataFrame
    snapshots: pd.DataFrame
    grid_state: pd.DataFrame
    cities: pd.DataFrame
    scan_results: pd.DataFrame
    places: pd.DataFrame
    #: poi id -> (district_name, neighbourhood_name or None)
    truth_area: dict = field(default_factory=dict)

    def sizes(self) -> dict:
        return {
            "pois": len(self.poi),
            "candidates": len(self.candidates),
            "snapshots": len(self.snapshots),
            "urban_areas": len(self.urban_areas),
            "grid_cells": len(self.grid_state),
            "places": len(self.places),
        }


def _box(lng0: float, lat0: float, lng1: float, lat1: float) -> str:
    ring = [[lng0, lat0], [lng1, lat0], [lng1, lat1], [lng0, lat1], [lng0, lat0]]
    return json.dumps({"type": "MultiPolygon", "coordinates": [[ring]]})


def _areas(rng: np.random.Generator):
    """Districts tile each city; about half hold one neighbourhood box
    placed at a random offset inside them."""
    rows, districts = [], []
    for slug, name, lat0, lng0, nr, nc in CITIES:
        for r in range(nr):
            for c in range(nc):
                la0, ln0 = lat0 + r * DISTRICT_DEG, lng0 + c * DISTRICT_DEG
                dname = f"{name} D{r:02d}{c:02d}"
                rows.append((name, dname, "admin", "9", None,
                             _box(ln0, la0, ln0 + DISTRICT_DEG, la0 + DISTRICT_DEG)))
                nb = None
                if rng.random() < 0.5:
                    slack = DISTRICT_DEG - NEIGHBOURHOOD_DEG
                    nla0 = la0 + rng.uniform(0.002, slack - 0.002)
                    nln0 = ln0 + rng.uniform(0.002, slack - 0.002)
                    nname = f"{name} Q{r:02d}{c:02d}"
                    rows.append((name, nname, "admin", "10", None,
                                 _box(nln0, nla0, nln0 + NEIGHBOURHOOD_DEG, nla0 + NEIGHBOURHOOD_DEG)))
                    nb = (nname, nla0, nln0)
                districts.append((slug, dname, la0, ln0, nb))
    areas = pd.DataFrame(rows, columns=["city_name", "name", "type", "admin_level", "place_type", "geometry"])
    return areas, districts


def _place_point(rng, district, margin=0.0005):
    """A point strictly inside the district, and either strictly inside
    its neighbourhood or at least ``margin`` clear of it."""
    slug, dname, la0, ln0, nb = district
    if nb is not None and rng.random() < 0.5:
        nname, nla0, nln0 = nb
        lat = nla0 + rng.uniform(margin, NEIGHBOURHOOD_DEG - margin)
        lng = nln0 + rng.uniform(margin, NEIGHBOURHOOD_DEG - margin)
        return lat, lng, dname, nname
    while True:
        lat = la0 + rng.uniform(margin, DISTRICT_DEG - margin)
        lng = ln0 + rng.uniform(margin, DISTRICT_DEG - margin)
        if nb is None:
            return lat, lng, dname, None
        nname, nla0, nln0 = nb
        inside_q = (nla0 - margin <= lat <= nla0 + NEIGHBOURHOOD_DEG + margin) and (
            nln0 - margin <= lng <= nln0 + NEIGHBOURHOOD_DEG + margin
        )
        if not inside_q:
            return lat, lng, dname, None


def _tags(rng) -> dict:
    """2–4 tags with confidences in [0.3, 1.0); one in three POIs leans
    towards one template so each template has qualifying members."""
    k = int(rng.integers(2, 5))
    names = list(rng.choice(TAG_POOL, size=k, replace=False))
    lean = rng.integers(0, 3)
    if rng.random() < 0.34:
        names.append(["date-spot", "work-friendly", "trendy"][lean])
    out = {}
    for t in names:
        out[t] = (round(float(rng.uniform(0.3, 1.0)), 3), "vibe", int(rng.integers(1, 6)))
    return out


def _name(rng, i: int) -> str:
    return f"{rng.choice(_WORDS_A)} {rng.choice(_WORDS_B)} {i:05d}"


def generate(seed: int, n_pois: int, n_candidates: int, n_cells: int = 400) -> Inputs:
    rng = np.random.default_rng(seed)
    areas, districts = _areas(rng)
    hot = [d for d in districts if d[0] == HOT_CITY]
    cold = [d for d in districts if d[0] != HOT_CITY]

    # --- POIs: 80 % in the hot city --------------------------------------
    poi_rows, truth = [], {}
    for i in range(n_pois):
        pool = hot if rng.random() < 0.8 else cold
        d = pool[int(rng.integers(len(pool)))]
        lat, lng, dname, nname = _place_point(rng, d)
        pid = f"poi{i:06d}"
        truth[pid] = (dname, nname)
        cat = CATEGORIES[int(rng.integers(len(CATEGORIES)))]
        first_seen = AS_OF - dt.timedelta(days=float(rng.uniform(1, 400)))
        poi_rows.append(dict(
            id=pid, google_place_id=f"gp{i:06d}", name=_name(rng, i), category=cat,
            subcategories=[cat], city_slug=d[0], city=d[0].capitalize(), country="France",
            lat=lat, lng=lng, address_street=f"{int(rng.integers(1, 200))} rue {rng.choice(_WORDS_B)}",
            website=None, phone=None, price_level=str(int(rng.integers(1, 5))),
            rating=round(float(rng.uniform(3.0, 5.0)), 1), reviews_count=int(rng.zipf(1.5) * 10),
            h3_cell_id=None, eligibility_status=["hold", "eligible", "approved"][int(rng.integers(3))],
            novelty_score=None, novelty_classification=None, gatto_score=None, trend_score=None,
            badges=[], tags=_tags(rng), primary_mood=MOODS[int(rng.integers(3))],
            mood_confidence=round(float(rng.uniform(0.3, 1.0)), 3),
            district_name=None, neighbourhood_name=None, first_seen_at=first_seen,
            last_scored_at=None, updated_at=first_seen, created_at=first_seen,
        ))
    poi = pd.DataFrame(poi_rows)

    # --- candidates: Zipf per POI + one mega POI -------------------------
    mega = 0
    n_mega = int(n_candidates * SHARE_MEGA)
    counts = np.minimum(rng.zipf(ZIPF_A, size=n_pois), 200).astype(np.int64)
    counts = np.floor(counts * (n_candidates - n_mega) / counts.sum()).astype(np.int64)
    counts[mega] += n_candidates - counts.sum()
    owner = np.repeat(np.arange(n_pois), counts)
    rng.shuffle(owner)
    kind = rng.random(len(owner))
    cum = np.cumsum([SHARE_CONFIRMED, SHARE_COMPETING_CITY, SHARE_WRONG_COUNTRY, SHARE_EXCLUDED])
    cand_rows = []
    seen_urls: dict[int, list[str]] = {}
    for j, (o, u) in enumerate(zip(owner, kind)):
        p = poi_rows[o]
        city = p["city_slug"]
        aliases = PROFILES[city]["city_names_aliases"]
        slug = p["name"].lower().replace(" ", "-")
        if u < cum[0]:
            host = CONFIRMED_HOSTS[j % 2]
            title = f"{p['name']} {aliases[0]}"
            snippet = f"restaurant {PROFILES[city]['postal_prefixes'][0]}0{j % 20}"
        elif u < cum[1]:
            host = OTHER_CATALOG_HOSTS[j % 4]
            other = PROFILES[city]["competing_cities"][0]
            title = f"{p['name']} better than anything in {other}"
            snippet = "a nice spot"
        elif u < cum[2]:
            host = OTHER_CATALOG_HOSTS[j % 4]
            title = f"{p['name']} best restaurants in germany"
            snippet = "travel guide"
        elif u < cum[3]:
            host = EXCLUDED_HOSTS[j % 3]
            title = p["name"]
            snippet = "photos"
        else:
            host = rng.choice(OTHER_CATALOG_HOSTS + [f"blog{int(rng.integers(50))}.example.com"])
            words = p["name"].split()
            title = " ".join(words[1:]) if rng.random() < 0.5 else f"{rng.choice(_WORDS_B)} review"
            snippet = f"{aliases[0]} food notes" if rng.random() < 0.6 else "notes"
        path = f"/{aliases[0]}/{slug}-{j}"
        prior = seen_urls.setdefault(int(o), [])
        if prior and rng.random() < SHARE_DUP_URL:
            url = prior[int(rng.integers(len(prior)))]
        else:
            url = f"https://{host}{path}"
            prior.append(url)
        pub = AS_OF - dt.timedelta(days=float(rng.uniform(0, 120)))
        # the search API's display host, www-stripped
        domain = url.split("/")[2].removeprefix("www.")
        cand_rows.append((p["id"], p["name"], city, url, title, snippet, domain,
                          p["lat"], p["lng"], pub))
    candidates = pd.DataFrame(cand_rows, columns=[
        "poi_id", "poi_name", "city_slug", "url", "title", "snippet", "domain",
        "poi_lat", "poi_lng", "published_at",
    ])

    # --- rating snapshots -------------------------------------------------
    snap_rows = []
    for p in poi_rows:
        n = int(rng.integers(0, 5))
        base = p["reviews_count"]
        for k in range(n):
            snap_rows.append((p["id"], "google", p["rating"], base + 3 * k,
                              AS_OF - dt.timedelta(days=float(2 + 4 * (n - k)))))
    snapshots = pd.DataFrame(snap_rows, columns=[
        "poi_id", "source_id", "rating_value", "reviews_count", "captured_at"])

    # --- dimensions -------------------------------------------------------
    prof_rows = []
    for slug, name, lat0, lng0, nr, nc in CITIES:
        pr = PROFILES[slug]
        prof_rows.append(dict(
            city_slug=slug, city_names_aliases=pr["city_names_aliases"],
            country_code=pr["country_code"], admin_names=pr["admin_names"],
            postal_prefixes=pr["postal_prefixes"], lat_min=lat0,
            lat_max=lat0 + nr * DISTRICT_DEG, lng_min=lng0, lng_max=lng0 + nc * DISTRICT_DEG,
            centroid_lat=lat0 + nr * DISTRICT_DEG / 2, centroid_lng=lng0 + nc * DISTRICT_DEG / 2,
            competing_cities=pr["competing_cities"],
        ))
    city_profiles = pd.DataFrame(prof_rows)
    source_catalog = pd.DataFrame(
        [dict(source_id=s, base_url=u, type=t, authority_weight=w, is_active=True,
              cse_site_override=None, rss_feed_url=None, html_date_selector=None,
              dedup_pattern=None, dedup_replacement=None) for s, u, t, w in CATALOG]
    )

    grid_state, cities, scan_results, places = _grid(rng, n_cells, n_pois)
    return Inputs(
        poi=poi, urban_areas=areas, city_profiles=city_profiles,
        source_catalog=source_catalog, candidates=candidates, snapshots=snapshots,
        grid_state=grid_state, cities=cities, scan_results=scan_results, places=places,
        truth_area=truth,
    )


#: square-grid cell edge at res 9 (the grid module's fallback lattice)
_CELL_DEG = 0.004
SCAN_CAP = 60


def _grid(rng, n_cells: int, n_pois: int):
    """Hot-city grid state (res-9 square cells of the grid module's
    fallback lattice ``sq9_<row>_<col>``), the city polygon, and what a
    scan of each cell returns: a result count (some at the saturation
    cap, so the cycle splits them) and the places found."""
    slug, name, lat0, lng0, nr, nc = CITIES[0]
    lat1, lng1 = lat0 + nr * DISTRICT_DEG, lng0 + nc * DISTRICT_DEG
    r0, c0 = int(np.ceil(lat0 / _CELL_DEG)), int(np.ceil(lng0 / _CELL_DEG))
    ncols = int((lng1 - lng0) / _CELL_DEG) - 1
    rows, scans, places = [], [], []
    statuses = ["pending", "scanned", "scanned", "saturated"]
    for k in range(n_cells):
        r, c = r0 + k // ncols, c0 + k % ncols
        h3 = f"sq9_{r}_{c}"
        st = statuses[int(rng.integers(len(statuses)))]
        if st == "pending":
            last, due = None, None
        else:
            last = AS_OF - dt.timedelta(days=float(rng.uniform(1, 20)))
            due = last + dt.timedelta(days=7)
        rows.append((h3, slug, 9, None, st, st == "saturated", last, due,
                     None if st == "pending" else int(rng.integers(0, 80)), int(rng.integers(0, 4))))
        results = SCAN_CAP + int(rng.integers(0, 20)) if rng.random() < 0.1 else int(rng.integers(0, SCAN_CAP))
        scans.append((h3, results))
        clat, clng = (r + 0.5) * _CELL_DEG, (c + 0.5) * _CELL_DEG
        for q in range(min(results, 12)):
            types = [CATEGORIES[int(rng.integers(4))]] if rng.random() < 0.85 else ["gym"]
            rated = rng.random() < 0.8
            # one in five scanned places is already a known POI
            known = rng.random() < 0.2
            places.append((
                f"gp{int(rng.integers(n_pois)):06d}" if known else f"pl_{h3}_{q}", _name(rng, q) if rng.random() < 0.97 else None, types,
                round(float(rng.uniform(3.0, 5.0)), 1) if rated else None,
                int(rng.zipf(1.4) * 5) if rated else None,
                clat + rng.uniform(-0.0018, 0.0018), clng + rng.uniform(-0.0018, 0.0018),
                f"{q} rue {rng.choice(_WORDS_B)}" + (" new opening" if rng.random() < 0.1 else ""),
                h3,
            ))
    grid_state = pd.DataFrame(rows, columns=[
        "h3", "city_slug", "res", "parent_h3", "status", "saturated", "last_scanned_at",
        "next_due_at", "results_last", "attempts"])
    cities = pd.DataFrame([(slug, _box(lng0, lat0, lng1, lat1))], columns=["city_slug", "geometry"])
    scan_results = pd.DataFrame(scans, columns=["h3", "results"])
    places_df = pd.DataFrame(places, columns=[
        "place_id", "name", "types", "rating", "reviews_count", "lat", "lng", "address", "h3"])
    return grid_state, cities, scan_results, places_df
