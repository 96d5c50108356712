"""Raster tile pyramid — the raster half of the north star's
"raster<->vector tile assignment".

The vector half (operators/pmtiles.py) archives per-tile MVT feature
geometry; this module rasterizes the SAME point layer into per-tile
density images: each (z, x, y) tile becomes a 256 x 256 8-bit
grayscale PNG whose pixel value is the point count falling in that
pixel, saturated at 255.  Tile and pixel come from the one tile
assignment (`tiles._tile_pixels`, at 256 px instead of the MVT
extent), so raster tiles align with vector tiles by construction.
Rasterization is distributed — `applyInPandas` over the tile key,
one `numpy.bincount` per tile — and the archive is the same
streaming PMTiles v3 assembly with `tile_type=png`,
`tile_compression=none` (PNG is already DEFLATE-compressed; spec
forbids double-tagging).

PNG bytes come from the pure-stdlib encoder (kernels/png.py) — a
real spec-correct codec path, not a sandbox stub: PNG's only
compression is zlib.

Reference anchor: the reference serves its matches as a tile archive
(`scripts/build_pmtiles.py:186-198`); a density raster is the
standard companion artifact for 10^12-point layers where vector
tiles above the density cap stop being renderable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from overmatch_spark.operators.pmtiles import (
    _ENC_SCHEMA,
    _assemble_archive,
    hilbert_tid,
)
from overmatch_spark.operators.tiles import _tile_pixels

_PNG = 2  # PMTiles v3 tile-type enum
_NONE = 1  # PMTiles v3 compression enum: none
_SIZE = 256  # tile edge in pixels


def raster_tiles(points: DataFrame, zooms=(10, 12)) -> DataFrame:
    """Point layer (lon, lat) -> one grayscale density PNG per
    occupied tile at each zoom.  Pixel value = min(count, 255).

    Distributed shape: ONE scan assigns every point its per-zoom tile
    and pixel (`tiles._tile_pixels`, pure Catalyst), then one hash
    exchange on the tile key feeds `applyInPandas`, where a single
    `bincount` per tile builds the 256^2 histogram and the stdlib PNG
    encoder emits bytes.  Pixels never leave their tile's partition;
    the driver sees nothing."""
    pts = _tile_pixels(points, zooms, _SIZE).select(
        "z", "x", "y", (F.col("px") + F.col("py") * _SIZE).alias("pix")
    )

    def rasterize(pdf):
        import numpy as np
        import pandas as pd

        from overmatch_spark.kernels.png import png_encode_gray

        z = int(pdf["z"].iloc[0])
        x = int(pdf["x"].iloc[0])
        y = int(pdf["y"].iloc[0])
        counts = np.bincount(
            pdf["pix"].to_numpy(), minlength=_SIZE * _SIZE
        ).reshape(_SIZE, _SIZE)
        img = np.minimum(counts, 255).astype(np.uint8)
        return pd.DataFrame(
            [(hilbert_tid(z, x, y), z, x, y, png_encode_gray(img))],
            columns=["tileid", "z", "x", "y", "data"],
        )

    return pts.groupBy("z", "x", "y").applyInPandas(
        rasterize, schema=_ENC_SCHEMA
    )


def write_raster_pmtiles(points: DataFrame, path: str, zooms=(10, 12)) -> dict:
    """Rasterize and archive in one call: PMTiles v3 with
    tile_type=png, tile_compression=none."""
    meta = {
        "name": "overmatch_spark density raster",
        "format": "png",
        "pixel_meaning": "point count clamped at 255",
        "tile_size": _SIZE,
    }
    return _assemble_archive(
        raster_tiles(points, zooms=zooms), path,
        tile_type=_PNG, tile_compression=_NONE, metadata=meta,
    )
