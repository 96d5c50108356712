"""Tiling operators (SURVEY.md F24, A6, W4, W7, K3).

The reference shells out to tippecanoe
(/root/reference/scripts/build_pmtiles.py:186-198); here tile
assignment is pure Catalyst math: ONE per-zoom step (`_tile_pixels`)
gives each point its zoom, slippy tile and in-tile pixel in a single
scan, for vector tiles (MVT extent 4096, `assign_tiles`) and raster
tiles (256 px, operators/raster.py) alike. The density drop is a
deterministic per-tile top-k, and the tile table is an ordinary
DataFrame ready for any sink. Tile rows carry every column of their
feature, so the table is built without a join. Distribution: one
shuffle on (z, x, y), shared by the density drop and the tile table
— exactly the partitioning a tile server wants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from overmatch_spark import expressions as X
from overmatch_spark.operators.pmtiles import MVT_EXTENT


def assign_match_ids(matches: DataFrame,
                     num_partitions: int | None = None) -> DataFrame:
    """W7: stable sequential feature ids (the reference uses JSONL
    line numbers — enrich_matches_with_dynamodb.py:294,315). Stable
    key = (osm_id, overture_id).

    Width-proportional two-phase plan (NOT a global-sort Window, which
    funnels every row through ONE task): range-partition on the key,
    sort within partitions and pin that layout with ONE
    localCheckpoint; a tiny per-partition count pass over the
    checkpoint gives each partition its offset (the zipWithIndex
    pattern), and the id is a narrow projection over the same
    checkpoint: offset + the row's index in its partition
    (monotonically_increasing_id's low 33 bits). The checkpoint's
    blocks are the only copy of the layout, so a lost executor fails
    the job rather than recomputing other ids; a production job that
    must survive that swaps in a reliable checkpoint. Output ids are
    identical to row_number() over a global (osm_id, overture_id)
    sort (property-tested)."""
    keys = ["osm_id", "overture_id"]
    n = num_partitions or matches.sparkSession.sparkContext.defaultParallelism
    part = (
        matches.repartitionByRange(n, *keys)
        .sortWithinPartitions(*keys)
        .localCheckpoint()
    )
    counts = dict(part.groupBy(F.spark_partition_id()).count().collect())
    if not counts:  # empty input: no rows to id, and no offsets to type
        return part.withColumn("match_id", F.lit(None).cast("long"))
    starts, acc = [], 0
    for pid in range(max(counts) + 1):
        starts.append(acc)
        acc += counts.get(pid, 0)
    local = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    off = F.element_at(
        F.lit(starts).cast("array<bigint>"), F.spark_partition_id() + 1
    )
    return part.withColumn("match_id", off + local + 1)


def _tile_pixels(points: DataFrame, zooms, size: int, *keep) -> DataFrame:
    """The one tile assignment: per point, ONE scan explodes an array
    of per-zoom (z, x, y, px, py) structs — slippy tile x/y and the
    in-tile pixel floor((tile_fx - x) * size), clamped to
    [0, size - 1] (a union per zoom would re-scan the source
    len(zooms) times). Pure Catalyst, no UDF; `keep` columns ride
    along."""
    lon, lat = F.col("lon"), F.col("lat")

    def pixel(frac, tile):
        return F.least(
            F.lit(size - 1), F.greatest(F.lit(0), F.floor((frac - tile) * size))
        ).cast("int")

    per_zoom = []
    for z in zooms:
        x, y = X.tile_x(lon, z), X.tile_y(lat, z)
        per_zoom.append(
            F.struct(
                F.lit(z).alias("z"),
                x.alias("x"),
                y.alias("y"),
                pixel(X.tile_fx(lon, z), x).alias("px"),
                pixel(X.tile_fy(lat, z), y).alias("py"),
            )
        )
    return points.select(
        *keep, F.explode(F.array(*per_zoom)).alias("t")
    ).select(*keep, "t.*")


def assign_tiles(matches: DataFrame, zooms=(10, 12, 14)) -> DataFrame:
    """F24: one row per (feature, zoom) with slippy z/x/y and the
    feature's MVT pixel px/py inside that tile. Every input column
    rides along, so the tile rows carry their features."""
    return _tile_pixels(matches, zooms, MVT_EXTENT, *matches.columns)


def density_drop(tiles: DataFrame, max_per_tile: int) -> DataFrame:
    """A6: tippecanoe --drop-densest-as-needed, made deterministic and
    reproducible: per (z,x,y) keep the top-k by a stable hash rank
    (md5-derived, engine-portable so oracles can replay it), mark the
    rest kept=false."""
    from overmatch_spark.operators.dedup import h60

    w = Window.partitionBy("z", "x", "y").orderBy(
        h60(F.col("match_id").cast("string")).asc(), F.col("match_id").asc()
    )
    return tiles.withColumn(
        "kept", F.row_number().over(w) <= F.lit(max_per_tile)
    )


def auto_max_zoom(matches: DataFrame, counts=(1000, 100_000, 10_000_000)) -> int:
    """W4: tippecanoe -zg picks max zoom from density; we fix it
    deterministically from feature count thresholds."""
    n = matches.count()
    z = 10
    for threshold in counts:
        if n > threshold:
            z += 2
    return z


def tile_table(tiles_kept: DataFrame) -> DataFrame:
    """K3: the tile pyramid as a table — groupBy (z,x,y) collecting
    the kept rows' feature structs (with their in-tile px/py),
    ordered by match_id within each tile. The tile rows carry their
    features (`assign_tiles` keeps every column), so no join runs and
    the aggregate reuses `density_drop`'s (z, x, y) shuffle."""
    return tiles_kept.filter(F.col("kept")).groupBy("z", "x", "y").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("match_id"),
                    F.col("osm_id"),
                    F.col("overture_id"),
                    F.col("lon"),
                    F.col("lat"),
                    F.col("px"),
                    F.col("py"),
                )
            )
        ).alias("features")
    )
