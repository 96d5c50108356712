"""Catalyst column-expression builders for all geometry math.

Everything here compiles to JVM-side whole-stage-codegen expressions —
no Python in the hot path. The formulas are written with the *same
operation order* as the numpy kernels (overmatch_spark.kernels.geo) so
engine output can be compared against the executable spec; e.g. we use
``lon * pi / 180`` explicitly rather than F.radians (Java's
``Math.toRadians`` computes ``deg / 180 * pi`` — a different rounding
path).

Reference semantics: EPSG:3857 projection + planar meters
(/root/reference/scripts/match.py:116-121,222), buffer-square candidate
bounds (:212), slippy tiles (/root/reference/scripts/build_pmtiles.py:
186-198), boundary point-in-polygon
(/root/reference/scripts/build_query.py:102-105).
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from overmatch_spark.kernels.geo import ORIGIN_M, R_MERC, WORLD_M

# SQL text twins (for DuckDB oracles) — kept adjacent to the Column
# builders so the two can never drift apart silently.
SQL_R = repr(R_MERC)


def merc_x(lon: Column) -> Column:
    """x = R * (lon * pi / 180)."""
    return F.lit(R_MERC) * (lon * F.lit(math.pi) / F.lit(180.0))


def sql_merc_x(lon: str) -> str:
    return f"({SQL_R} * (({lon}) * pi() / 180.0))"


def merc_y(lat: Column) -> Column:
    """y = R * ln(tan(pi/4 + (lat*pi/180)/2))."""
    return F.lit(R_MERC) * F.log(
        F.tan(F.lit(math.pi / 4.0) + (lat * F.lit(math.pi) / F.lit(180.0)) / F.lit(2.0))
    )


def sql_merc_y(lat: str) -> str:
    return (
        f"({SQL_R} * ln(tan(pi()/4.0 + (({lat}) * pi() / 180.0) / 2.0)))"
    )


def inv_merc_lon(x: Column) -> Column:
    return x / F.lit(R_MERC) * F.lit(180.0) / F.lit(math.pi)


def sql_inv_merc_lon(x: str) -> str:
    return f"(({x}) / {SQL_R} * 180.0 / pi())"


def inv_merc_lat(y: Column) -> Column:
    return (
        (F.atan(F.exp(y / F.lit(R_MERC))) * F.lit(2.0) - F.lit(math.pi / 2.0))
        * F.lit(180.0)
        / F.lit(math.pi)
    )


def sql_inv_merc_lat(y: str) -> str:
    return (
        f"((atan(exp(({y}) / {SQL_R})) * 2.0 - pi()/2.0) * 180.0 / pi())"
    )


def planar_distance(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Euclidean Web-Mercator meters (reference F18/J3)."""
    return F.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))


def sql_planar_distance(x1: str, y1: str, x2: str, y2: str) -> str:
    return (
        f"sqrt((({x1})-({x2}))*(({x1})-({x2})) + (({y1})-({y2}))*(({y1})-({y2})))"
    )


def round1(d: Column) -> Column:
    """distance_m output rounding; see kernels.geo.round_half_even_1."""
    return F.rint(d * F.lit(10.0)) / F.lit(10.0)


def sql_rint(x: str) -> str:
    """DuckDB expression equal to numpy/JVM rint (round half to EVEN)
    for any double — DuckDB's round() is half away from zero, which
    diverges exactly on .5 fractions. floor+parity handles the .5
    case; abs() keeps the parity correction on the even side for
    negatives too (floor(-2.5) = -3, odd -> -3 + 1 = -2 = rint)."""
    f = f"floor({x})"
    return (
        f"(CASE WHEN ({x}) - {f} = 0.5 "
        f"THEN {f} + abs(CAST({f} AS BIGINT) % 2) "
        f"ELSE round({x}) END)"
    )


def sql_round1(d: str) -> str:
    """DuckDB twin of round1 (half-even on the x10-scaled double)."""
    return f"({sql_rint(f'({d}) * 10.0')} / 10.0)"


# ---------------------------------------------------------------------------
# Hierarchical Web-Mercator grid cells (join keys — SURVEY.md J1/J2)
# ---------------------------------------------------------------------------

def cell_edge_m(res: int) -> float:
    return WORLD_M / float(1 << res)


# `res` below is an int or a per-row int Column (knn's ladder levels),
# `radius_m` a float or a per-row double Column. One formula serves
# both: for a literal res Catalyst constant-folds WORLD_M / 2^res to
# exactly cell_edge_m(res) (2^res is dyadic, so the division rounds
# identically), leaving the optimized plan a plain double literal.

def _edge(res: int | Column) -> Column:
    return F.lit(WORLD_M) / F.pow(F.lit(2.0), F.lit(res).cast("double"))


def cell_ix(x: Column, res: int | Column) -> Column:
    return F.floor((x + F.lit(ORIGIN_M)) / _edge(res)).cast("long")


def cell_iy(y: Column, res: int | Column) -> Column:
    return F.floor((F.lit(ORIGIN_M) - y) / _edge(res)).cast("long")


def cell_id(ix: Column, iy: Column) -> Column:
    return F.shiftleft(ix, 30).cast("long") + iy


def cell_of(x: Column, y: Column, res: int | Column) -> Column:
    return cell_id(cell_ix(x, res), cell_iy(y, res))


def cover_cells(x: Column, y: Column, res: int | Column,
                radius_m: float | Column) -> Column:
    """Array of cell ids EXACTLY covering the (x±r, y±r) buffer
    square — the probe side of the candidate equi-join (J2), and the
    only cover in the engine (knn's per-row radius and per-row ladder
    level included). The cover is enumerated dynamically from the
    square's corner cells, so it is minimal at every resolution
    (≤ 2x2 cells when edge >= 2r, vs a static 3x3): ~40% less
    probe-side shuffle volume at the default resolution. Any superset
    of the true disk is correct; J3's exact distance filter
    reproduces the reference decisions regardless of `res`
    (property-tested)."""
    r = F.lit(radius_m).cast("double")
    ix_lo = cell_ix(x - r, res)
    ix_hi = cell_ix(x + r, res)
    iy_lo = cell_iy(y + r, res)  # y grows north, iy grows south
    iy_hi = cell_iy(y - r, res)
    return F.flatten(
        F.transform(
            F.sequence(ix_lo, ix_hi),
            lambda i: F.transform(
                F.sequence(iy_lo, iy_hi), lambda j: cell_id(i, j)
            ),
        )
    )


# ---------------------------------------------------------------------------
# Slippy tile math (F24)
# ---------------------------------------------------------------------------

def tile_fx(lon: Column, z: int) -> Column:
    """Fractional slippy x (tile + intra-tile position) — the single
    definition both tile_x and the in-tile pixel math
    (tiles._tile_pixels, vector and raster) derive from."""
    n = float(1 << z)
    return (lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)


def tile_x(lon: Column, z: int) -> Column:
    n = 1 << z
    raw = F.floor(tile_fx(lon, z)).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("int")


def sql_tile_x(lon: str, z: int) -> str:
    n = 1 << z
    return (
        f"CAST(greatest(0, least({n - 1}, CAST(floor((({lon}) + 180.0) / 360.0 "
        f"* {float(n)!r}) AS BIGINT))) AS INTEGER)"
    )


def tile_fy(lat: Column, z: int) -> Column:
    """Fractional slippy y; see tile_fx."""
    n = float(1 << z)
    rad = lat * F.lit(math.pi) / F.lit(180.0)
    # asinh(tan(rad)) written as ln(tan + sec) so the DuckDB oracle
    # (no asinh) evaluates the identical expression.
    return (
        (F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad)) / F.lit(math.pi))
        / F.lit(2.0)
        * F.lit(n)
    )


def tile_y(lat: Column, z: int) -> Column:
    n = 1 << z
    raw = F.floor(tile_fy(lat, z)).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("int")


def sql_tile_y(lat: str, z: int) -> str:
    n = 1 << z
    rad = f"(({lat}) * pi() / 180.0)"
    return (
        f"CAST(greatest(0, least({n - 1}, CAST(floor((1.0 - ln(tan({rad}) "
        f"+ 1.0/cos({rad})) / pi()) / 2.0 * {float(n)!r}) AS BIGINT))) AS INTEGER)"
    )


def tile_bounds(x: Column, y: Column, z: int):
    """Inverse slippy math (raster tile -> vector bbox): returns
    (lon_min, lat_min, lon_max, lat_max) of tile (x, y) at zoom z —
    the raster->vector direction of the tile assignment."""
    n = float(1 << z)
    lon_min = x.cast("double") / F.lit(n) * F.lit(360.0) - F.lit(180.0)
    lon_max = (x.cast("double") + F.lit(1.0)) / F.lit(n) * F.lit(360.0) - F.lit(180.0)

    def lat_of(yy):
        m = F.lit(math.pi) - F.lit(2.0 * math.pi) * yy / F.lit(n)
        return (
            F.atan((F.exp(m) - F.exp(-m)) / F.lit(2.0))
            * F.lit(180.0)
            / F.lit(math.pi)
        )

    lat_max = lat_of(y.cast("double"))
    lat_min = lat_of(y.cast("double") + F.lit(1.0))
    return lon_min, lat_min, lon_max, lat_max


def sql_tile_bounds(x: str, y: str, z: int):
    n = float(1 << z)
    lon_min = f"(CAST({x} AS DOUBLE) / {n!r} * 360.0 - 180.0)"
    lon_max = f"((CAST({x} AS DOUBLE) + 1.0) / {n!r} * 360.0 - 180.0)"

    def lat_of(yy):
        m = f"(pi() - 2.0 * pi() * {yy} / {n!r})"
        return f"(atan((exp({m}) - exp(-{m})) / 2.0) * 180.0 / pi())"

    lat_max = lat_of(f"CAST({y} AS DOUBLE)")
    lat_min = lat_of(f"(CAST({y} AS DOUBLE) + 1.0)")
    return lon_min, lat_min, lon_max, lat_max


# ---------------------------------------------------------------------------
# Point-in-polygon (P5) — even-odd ray cast, unrolled over a literal
# polygon at plan time (horizontal edges contribute nothing and are
# dropped, which also avoids division by zero).
# ---------------------------------------------------------------------------

def pip(px: Column, py: Column, poly_xy) -> Column:
    pts = list(poly_xy)
    n = len(pts)
    crossings = []
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        if y1 == y2:
            continue
        cond = ((F.lit(y1) > py) != (F.lit(y2) > py)) & (
            px
            < (F.lit(x2 - x1) * (py - F.lit(y1)) / F.lit(y2 - y1) + F.lit(x1))
        )
        crossings.append(cond.cast("int"))
    total = reduce(lambda a, b: a + b, crossings)
    return (total % F.lit(2)) == F.lit(1)


def sql_pip(px: str, py: str, poly_xy) -> str:
    pts = list(poly_xy)
    n = len(pts)
    terms = []
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        if y1 == y2:
            continue
        terms.append(
            f"(CASE WHEN (({y1!r} > ({py})) != ({y2!r} > ({py}))) AND "
            f"(({px}) < ({(x2 - x1)!r} * (({py}) - {y1!r}) / {(y2 - y1)!r} + {x1!r})) "
            f"THEN 1 ELSE 0 END)"
        )
    return f"((({' + '.join(terms)}) % 2) = 1)"


# ---------------------------------------------------------------------------
# Hausdorff distance (F23 — north-rule extension; the reference's
# point-to-point distance is the single-vertex degenerate case).
# Vertex arrays as array<double> columns; fully expression-based.
# ---------------------------------------------------------------------------

def _directed_hausdorff(xa: Column, ya: Column, xb: Column, yb: Column) -> Column:
    def dmin(i):
        return F.array_min(
            F.transform(
                F.sequence(F.lit(1), F.size(xb)),
                lambda j: F.sqrt(
                    (F.element_at(xa, i) - F.element_at(xb, j))
                    * (F.element_at(xa, i) - F.element_at(xb, j))
                    + (F.element_at(ya, i) - F.element_at(yb, j))
                    * (F.element_at(ya, i) - F.element_at(yb, j))
                ),
            )
        )

    return F.array_max(
        F.transform(F.sequence(F.lit(1), F.size(xa)), lambda i: dmin(i))
    )


def hausdorff(xa: Column, ya: Column, xb: Column, yb: Column) -> Column:
    """Symmetric Hausdorff distance between two vertex sets."""
    return F.greatest(
        _directed_hausdorff(xa, ya, xb, yb), _directed_hausdorff(xb, yb, xa, ya)
    )


def sql_hausdorff(xa: str, ya: str, xb: str, yb: str) -> str:
    def directed(xa, ya, xb, yb):
        d = (
            f"sqrt(({xa}[i] - {xb}[j]) * ({xa}[i] - {xb}[j]) "
            f"+ ({ya}[i] - {yb}[j]) * ({ya}[i] - {yb}[j]))"
        )
        return (
            f"list_max(list_transform(range(1, len({xa}) + 1), i -> "
            f"list_min(list_transform(range(1, len({xb}) + 1), j -> {d}))))"
        )

    return (
        f"greatest({directed(xa, ya, xb, yb)}, {directed(xb, yb, xa, ya)})"
    )


# ---------------------------------------------------------------------------
# Match-quality score (F20 — reference
# front_end/src/components/TagComparisonTable.tsx:49-56):
#   100 * (0.6 * clamp((sim - 0.6)/0.4, 0, 1) + 0.4 * clamp(1 - d/100, 0, 1))
# ---------------------------------------------------------------------------

def match_quality(similarity: Column, distance_m: Column) -> Column:
    sim_part = F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), (similarity - F.lit(0.6)) / F.lit(0.4))
    )
    dist_part = F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), F.lit(1.0) - distance_m / F.lit(100.0))
    )
    return F.lit(100.0) * (F.lit(0.6) * sim_part + F.lit(0.4) * dist_part)


def sql_match_quality(similarity: str, distance_m: str) -> str:
    sim_part = f"greatest(0.0, least(1.0, (({similarity}) - 0.6) / 0.4))"
    dist_part = f"greatest(0.0, least(1.0, 1.0 - ({distance_m}) / 100.0))"
    return f"(100.0 * (0.6 * {sim_part} + 0.4 * {dist_part}))"
