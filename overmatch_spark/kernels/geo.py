"""Vectorized numpy geometry kernels.

These are the single source of truth for the engine's geometry math.
The Spark engine evaluates the *same formulas* as Catalyst column
expressions (see overmatch_spark.expressions); these numpy twins back
the single-node executable spec (overmatch_spark.spec) and unit tests,
so Spark output can be compared bit-for-bit against the spec.

Reference semantics reproduced here:
  - EPSG:4326 -> EPSG:3857 projection of both layers before any
    distance math (/root/reference/scripts/match.py:116-121).
  - Planar Euclidean distance in Web-Mercator meters, NOT haversine
    (/root/reference/scripts/match.py:222).
  - Buffer bounds of a point = the (x±d, y±d) square
    (/root/reference/scripts/match.py:212).
  - Slippy z/x/y tile math (tippecanoe sink,
    /root/reference/scripts/build_pmtiles.py:186-198; tile type at
    /root/reference/front_end/src/objects.ts:85-90).
  - Point-in-polygon boundary filter (ST_INTERSECTS at
    /root/reference/scripts/build_query.py:102-105).
"""

from __future__ import annotations

import numpy as np

# WGS84 / Web-Mercator constants (public: EPSG:3857 definition); the
# Catalyst twins (overmatch_spark.expressions) import these.
R_MERC = 6378137.0
WORLD_M = 2.0 * np.pi * R_MERC  # ~40075016.6856 m
ORIGIN_M = np.pi * R_MERC  # half-world


# ---------------------------------------------------------------------------
# Mercator projection
# ---------------------------------------------------------------------------

def merc_x(lon: np.ndarray) -> np.ndarray:
    """EPSG:4326 lon (deg) -> EPSG:3857 x (m). Same op order as the
    Catalyst twin (expressions.merc_x): R * ((lon * pi) / 180)."""
    lon = np.asarray(lon, dtype=np.float64)
    return R_MERC * (lon * np.pi / 180.0)


def merc_y(lat: np.ndarray) -> np.ndarray:
    """EPSG:4326 lat (deg) -> EPSG:3857 y (m). Same op order as the
    Catalyst twin (expressions.merc_y)."""
    lat = np.asarray(lat, dtype=np.float64)
    return R_MERC * np.log(np.tan(np.pi / 4.0 + (lat * np.pi / 180.0) / 2.0))


def inv_merc_lon(x: np.ndarray) -> np.ndarray:
    """Same op order as expressions.inv_merc_lon: x/R*180/pi."""
    return np.asarray(x, dtype=np.float64) / R_MERC * 180.0 / np.pi


def inv_merc_lat(y: np.ndarray) -> np.ndarray:
    """Same op order as expressions.inv_merc_lat."""
    y = np.asarray(y, dtype=np.float64)
    return (np.arctan(np.exp(y / R_MERC)) * 2.0 - np.pi / 2.0) * 180.0 / np.pi


def planar_distance(x1, y1, x2, y2) -> np.ndarray:
    """Euclidean distance in Web-Mercator meters (reference J3/F18)."""
    dx = np.asarray(x1, dtype=np.float64) - np.asarray(x2, dtype=np.float64)
    dy = np.asarray(y1, dtype=np.float64) - np.asarray(y2, dtype=np.float64)
    return np.sqrt(dx * dx + dy * dy)


def round_half_even_1(d) -> np.ndarray:
    """distance_m output rounding. The reference uses Python
    ``round(float(d), 1)`` (/root/reference/scripts/match.py:401) —
    banker's rounding on the decimal. We standardize on
    ``rint(d*10)/10`` (half-even on the scaled double), which equals
    Python's round except on a measure-zero set of inputs; the Spark
    engine uses the identical formula (F.rint) so engine == spec
    exactly."""
    return np.rint(np.asarray(d, dtype=np.float64) * 10.0) / 10.0


# ---------------------------------------------------------------------------
# Hierarchical Web-Mercator grid cells ("H3/S2-style" per north rule:
# a deterministic hierarchical cell id usable as an equi-join key).
# ---------------------------------------------------------------------------
#
# At resolution r the world square [-ORIGIN, ORIGIN)^2 is split into
# 2^r x 2^r cells of edge WORLD_M / 2^r meters. A cell is identified by
# (ix, iy) packed into one int64: (ix << 30) | iy, valid for r <= 29.
# Children of (ix, iy) at r+1 are (2ix+{0,1}, 2iy+{0,1}) — the
# hierarchy used for coarse-to-fine skew splitting.
#
# Candidate-generation contract (SURVEY.md J2): covering the probe
# point's (x±d, y±d) square with cells and equi-joining on cell id
# yields a candidate superset of the d-disk; the exact distance filter
# (J3) then reproduces the reference's decisions exactly, so the final
# output is invariant to the resolution choice (property-tested).

def cell_edge_m(res: int) -> float:
    return WORLD_M / float(1 << res)


def cell_ix(x: np.ndarray, res: int) -> np.ndarray:
    return np.floor(
        (np.asarray(x, dtype=np.float64) + ORIGIN_M) / cell_edge_m(res)
    ).astype(np.int64)


def cell_iy(y: np.ndarray, res: int) -> np.ndarray:
    return np.floor(
        (ORIGIN_M - np.asarray(y, dtype=np.float64)) / cell_edge_m(res)
    ).astype(np.int64)


def cell_id(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return (np.asarray(ix, dtype=np.int64) << np.int64(30)) | np.asarray(
        iy, dtype=np.int64
    )


def cell_of(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    return cell_id(cell_ix(x, res), cell_iy(y, res))


def disk_cover_cells(x: np.ndarray, y: np.ndarray, res: int, radius_m: float):
    """Cells covering the (x±r, y±r) square around each point
    (superset cover, padded to a fixed width for vectorization).

    Returns an (n, k) int64 array of cell ids. Mirrors the
    reference's ``point.buffer(d).bounds -> rtree.intersection``
    (/root/reference/scripts/match.py:212-215) as a cell equi-join
    key. The Spark engine (expressions.cover_cells) enumerates the
    exact per-point cover; this padded superset is equivalent for the
    tests that use it (any superset is correct)."""
    edge = cell_edge_m(res)
    reach = int(np.ceil(radius_m / edge))
    ix = cell_ix(x, res)
    iy = cell_iy(y, res)
    offs = np.arange(-reach, reach + 1, dtype=np.int64)
    covers = []
    for dx in offs:
        for dy in offs:
            covers.append(cell_id(ix + dx, iy + dy))
    return np.stack(covers, axis=1)


# ---------------------------------------------------------------------------
# Slippy tiles (F24)
# ---------------------------------------------------------------------------

def tile_xy(lon: np.ndarray, lat: np.ndarray, z: int):
    """lon/lat -> slippy tile (x, y) at zoom z (OSM wiki formula).

    Uses ln(tan+sec) instead of asinh so the DuckDB oracle (no asinh)
    evaluates the byte-identical expression.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = float(1 << z)
    xt = np.floor((lon + 180.0) / 360.0 * n)
    rad = lat * np.pi / 180.0
    yt = np.floor((1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / np.pi) / 2.0 * n)
    xt = np.clip(xt, 0, n - 1).astype(np.int64)
    yt = np.clip(yt, 0, n - 1).astype(np.int64)
    return xt, yt


# ---------------------------------------------------------------------------
# Point-in-polygon (P5) — even-odd ray casting
# ---------------------------------------------------------------------------

def point_in_polygon(px: np.ndarray, py: np.ndarray, poly_xy) -> np.ndarray:
    """Vectorized even-odd ray cast; poly_xy = [(x, y), ...] ring
    (closing edge implied). Matches ST_INTERSECTS for interior points;
    boundary points are resolved by the half-open rule (fixture points
    never sit on edges). Reference predicate:
    /root/reference/scripts/build_query.py:102-105."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    pts = list(poly_xy)
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        cond = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= cond & (px < xint)
    return inside


# ---------------------------------------------------------------------------
# Hausdorff distance (F23 — north-rule extension; the reference's
# point-to-point distance is the degenerate single-vertex case)
# ---------------------------------------------------------------------------

def hausdorff(ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray) -> float:
    """Symmetric Hausdorff distance between two vertex sets (planar)."""
    ax = np.asarray(ax, dtype=np.float64)[:, None]
    ay = np.asarray(ay, dtype=np.float64)[:, None]
    bx = np.asarray(bx, dtype=np.float64)[None, :]
    by = np.asarray(by, dtype=np.float64)[None, :]
    d = np.sqrt((ax - bx) ** 2 + (ay - by) ** 2)
    return float(max(d.min(axis=1).max(), d.min(axis=0).max()))
