"""Deterministic synthetic fixtures (FIXTURES.md) — no wall clock, no
network, no randomness beyond seeded/hash-derived values.

The primary table is `images` (BASELINE.json input_hint); the two
conflation layers are DERIVED from it exactly as FIXTURES.md §2
specifies, mirroring the reference's two sides:
  layer_a ~ data/osm_qlever.geojson features
            (/root/reference/scripts/get_osm_ids.py:99-117)
  layer_b ~ the Overture DuckDB projection
            (/root/reference/scripts/build_query.py:60-84)

Every distance/similarity class is placed with a margin >= 0.5 m /
well away from the 0.6 similarity threshold so that last-ulp libm
differences between numpy and the JVM can never flip a decision.
"""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd

from overmatch_spark.images import QLOSSY_STEP, encode, fnv64, gen_pixels
from overmatch_spark.kernels import geo

# DC-extract envelope of the reference's golden data (FIXTURES.md §2a).
BBOX = (-77.12, 38.80, -76.90, 39.00)  # lon_min, lat_min, lon_max, lat_max

# The name vocabulary of the fixture POIs and of the demo layers (demo.py).
ADJECTIVES = [
    "Golden", "Silver", "Rustic", "Urban", "Happy", "Blue", "Crimson",
    "Emerald", "Sunny", "Misty", "Grand", "Little", "Royal", "Cosy",
    "Velvet", "Iron", "Copper", "Marble", "Cedar", "Willow",
]
NOUNS = [
    "Fork", "Spoon", "Kettle", "Garden", "Harbor", "Lantern", "Anchor",
    "Meadow", "Falcon", "Otter", "Bridge", "Mill", "Orchard", "Summit",
    "Canyon", "Harvest", "Compass", "Beacon", "Prairie", "Grove",
]
TYPES = [
    "Cafe", "Bistro", "Tavern", "Diner", "Bakery", "Grill", "Kitchen",
    "Pub", "Eatery", "Cantina",
]

# Non-convex 12-vertex division polygon covering ~80% of the bbox
# (FIXTURES.md §2c), in lon/lat degrees.
BOUNDARY_LL = [
    (-77.115, 38.805), (-76.980, 38.803), (-76.905, 38.860),
    (-76.970, 38.900), (-76.906, 38.955), (-76.960, 38.995),
    (-77.060, 38.997), (-77.040, 38.940), (-77.118, 38.930),
    (-77.080, 38.880), (-77.117, 38.856), (-77.060, 38.840),
]
BOUNDARY_XY = [(geo.merc_x(np.array([x]))[0], geo.merc_y(np.array([y]))[0])
               for x, y in BOUNDARY_LL]

# A deterministic "dense urban cell" anchor for skew (hot cell).
HOT_LON, HOT_LAT = -77.0205, 38.9025


def caption_for(image_id: str) -> str:
    k = fnv64(image_id) & 0x7FFFFFFFFFFFFFFF
    return (
        f"{ADJECTIVES[k % 20]} {NOUNS[(k // 20) % 20]} {TYPES[(k // 400) % 10]}"
    )


def make_images(n: int = 2000, with_bytes: bool = True) -> pd.DataFrame:
    """The `images` input table (FIXTURES.md §1)."""
    rows = []
    for i in range(n):
        image_id = f"img/{i:012d}"
        w = (16, 32, 64)[i % 3]
        h = (16, 32, 48)[i % 3]
        # png + jpeg + webp = REAL codec paths (kernels/png.py,
        # kernels/jpeg.py, kernels/vp8l.py)
        fmt = ("raw", "qlossy", "png", "jpeg", "webp")[i % 5]
        cap = caption_for(image_id)
        ph = fnv64(image_id)
        buf = encode(gen_pixels(image_id, w, h), fmt) if with_bytes else b""
        rows.append((image_id, buf, w, h, fmt, cap, ph))
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    )


def _base_coords(ph: np.ndarray):
    """phash bits -> lon/lat in the bbox; ~1/5 of rows (selected by a
    STABLE per-row hash bit-field, never a positional index — so the
    derivation is invariant to Arrow batch boundaries / partitioning)
    land in one ~150 m hot cell (controlled skew, FIXTURES.md §2a)."""
    u = ((ph >> 2) & 0xFFFFF).astype(np.float64) / float(0xFFFFF)
    v = ((ph >> 22) & 0xFFFFF).astype(np.float64) / float(0xFFFFF)
    lon = BBOX[0] + (BBOX[2] - BBOX[0]) * u
    lat = BBOX[1] + (BBOX[3] - BBOX[1]) * v
    hot = (ph >> np.uint64(50)) % np.uint64(5) == np.uint64(0)
    # ~120 m jitter inside the hot cell
    lon = np.where(hot, HOT_LON + (u - 0.5) * 0.0012, lon)
    lat = np.where(hot, HOT_LAT + (v - 0.5) * 0.0009, lat)
    return lon, lat


def derive_layer_a(images: pd.DataFrame) -> pd.DataFrame:
    """OSM-role layer (FIXTURES.md §2a)."""
    ph = images["phash"].to_numpy().astype(np.uint64)
    lon, lat = _base_coords(ph)
    osm_id = [f"node/{int(p) & 0x7FFFFFFF}" for p in ph]
    # ~5% null/empty names (must produce no matches)
    name = np.where(
        (ph % np.uint64(20)) == np.uint64(13), None, images["caption"].to_numpy()
    )
    hn_val = ((ph >> np.uint64(32)) % np.uint64(9000) + np.uint64(1000)).astype(str)
    housenumber = np.where((ph >> np.uint64(34)) % np.uint64(4) < np.uint64(3),
                           hn_val, None)
    return pd.DataFrame(
        {
            "osm_id": osm_id,
            "name": name,
            "housenumber": housenumber,
            "lon": lon,
            "lat": lat,
            "image_id": images["image_id"],
        }
    )


def derive_layer_b(images: pd.DataFrame) -> pd.DataFrame:
    """Overture-role layer (FIXTURES.md §2b): layer_a coords offset by
    a controlled planar-Mercator displacement, names with controlled
    edits, plus the attribute columns the tag-transform chain needs."""
    a = derive_layer_a(images)
    ph = images["phash"].to_numpy().astype(np.uint64)
    n = len(images)

    x = geo.merc_x(a["lon"].to_numpy())
    y = geo.merc_y(a["lat"].to_numpy())

    dist_cls = ((ph >> np.uint64(8)) % np.uint64(10)).astype(np.int64)
    # 0-5: 10..50 m (within 100 m, margin >= 50 m from the boundary)
    # 6-7: 101.5 / 104.5 m (outside, margin 1.5 m)
    # 8-9: 5 km / 7 km (far)
    d = np.select(
        [dist_cls <= 5, dist_cls == 6, dist_cls == 7, dist_cls == 8],
        [10.0 + 8.0 * dist_cls, 101.5, 104.5, 5000.0],
        default=7000.0,
    )
    theta = (((ph >> np.uint64(12)) % np.uint64(360)).astype(np.float64)
             * np.pi / 180.0)
    bx = x + d * np.cos(theta)
    by = y + d * np.sin(theta)
    lon_b = geo.inv_merc_lon(bx)
    lat_b = geo.inv_merc_lat(by)

    caps = images["caption"].to_numpy()
    edit_cls = ((ph >> np.uint64(16)) % np.uint64(5)).astype(np.int64)
    name_b = np.where(edit_cls == 3, np.char.add(caps.astype(str), " Zq"), caps)
    name_b = np.where(edit_cls == 4, "##########", name_b)
    # ~5% empty candidate names (skipped by J4 — match.py:239)
    name_b = np.where((ph >> np.uint64(40)) % np.uint64(20) == np.uint64(7),
                      "", name_b)

    # housenumber classes: 0 same, 1 different, 2-3 absent
    hn_cls = ((ph >> np.uint64(24)) % np.uint64(4)).astype(np.int64)
    a_hn = a["housenumber"].to_numpy()
    diff_hn = ((ph >> np.uint64(32)) % np.uint64(9000) + np.uint64(1001)).astype(str)
    hn_b = np.where(hn_cls == 0, a_hn, np.where(hn_cls == 1, diff_hn, None))

    ids = [str(uuid.uuid5(uuid.NAMESPACE_URL, iid)) for iid in images["image_id"]]
    conf = ((ph >> np.uint64(44)) % np.uint64(1000)).astype(np.float64) / 1000.0
    cats = np.array(["restaurant", "bar", "cafe", "bakery"], dtype=object)[
        (ph % np.uint64(4)).astype(np.int64)
    ]
    status = np.where((ph >> np.uint64(47)) % np.uint64(10) == np.uint64(3),
                      "closed", "open")

    return pd.DataFrame(
        {
            "id": ids,
            "name": name_b,
            "housenumber": hn_b,
            "lon": lon_b,
            "lat": lat_b,
            "confidence": conf,
            "category": cats,
            "operating_status": status,
            "image_id": images["image_id"],
        }
    )


def source_filter_b(b: pd.DataFrame) -> pd.DataFrame:
    """The reference's source-side filters (build_query.py:88-105):
    confidence >= 0.5, operating_status = 'open', boundary PIP."""
    x = geo.merc_x(b["lon"].to_numpy())
    y = geo.merc_y(b["lat"].to_numpy())
    inside = geo.point_in_polygon(x, y, BOUNDARY_XY)
    keep = (b["confidence"].to_numpy() >= 0.5) & (
        b["operating_status"].to_numpy() == "open"
    ) & inside
    return b[keep].reset_index(drop=True)
