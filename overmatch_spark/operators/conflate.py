"""The conflation spatial-similarity join (SURVEY.md §2.3, J1-J5).

The reference executes one bbox-prefiltered range+similarity theta join
as an index-nested-loop over rows (/root/reference/scripts/match.py:
186-407). This module re-expresses it as a distributed DAG:

  J1  cell-keyed partitioning replaces the in-memory R-tree
  J2  candidate generation: probe side explodes the cell cover of its
      buffer square; equi-join on cell id (+ optional skew salt)
  J3  exact planar-distance refinement  (dist <= buffer, inclusive —
      match.py:225)
  J4  indel name-similarity             (sim >= threshold, inclusive —
      match.py:244; empty candidate names skipped — match.py:239)
  J5  housenumber anti-condition        (match.py:300-302)

Physical notes (SURVEY.md §4.2):
  - Geometry/distance/cells are Catalyst expressions (codegen); the
    similarity kernel is the single Arrow UDF, applied only AFTER the
    cheap distance filter prunes candidates — Catalyst will not
    reorder around a Python UDF, so the stage order here is explicit
    and deliberate.
  - Only narrow columns enter the join. Any payload (image bytes)
    must be re-attached by id afterwards — see attach_payload().
  - Skew: dense urban cells get an explicit salt (salted_cell_join),
    with AQE skew-join enabled as backstop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from overmatch_spark import expressions as X
from overmatch_spark.udfs import indel_sim

# Default resolution 17 (cell edge ~305.7 m): the exact cover
# averages ~2.7 cells per probe (vs ~5.4 at res 18) — half the
# probe-side shuffle volume; the extra candidates are pruned by the
# codegen distance filter, which is far cheaper than shuffle bytes.
DEFAULT_RES = 17
DEFAULT_BUFFER_M = 100.0
DEFAULT_SIM = 0.6


def detect_hot_cells(layer_b: DataFrame, res: int = DEFAULT_RES,
                     threshold: int = 50_000) -> list[int]:
    """Cells whose build-side row count would make a single join task
    a straggler. Cheap pre-pass: groupBy(cell).count() is a partial
    aggregate — shuffle carries one row per distinct cell.

    Driver-side list variant (bounded by the threshold); at planetary
    scale prefer `detect_hot_cells_df` + passing the DataFrame
    straight to `conflate(hot_cells=...)` so hot-cell ids never
    transit the driver."""
    counts = detect_hot_cells_df(layer_b, res, threshold).collect()
    return [r["cell"] for r in counts]


def detect_hot_cells_df(layer_b: DataFrame, res: int = DEFAULT_RES,
                        threshold: int = 50_000) -> DataFrame:
    """Hot cells as a (cell)-schema DataFrame — stays distributed;
    `conflate` broadcast-joins it for salting."""
    return (
        layer_b.select(X.cell_of(F.col("x"), F.col("y"), res).alias("cell"))
        .groupBy("cell")
        .count()
        .filter(F.col("count") > threshold)
        .select("cell")
    )


# --- the cell-join core: conflate, spatial_join and the resumable
#     ConflationJob are compositions of these stages ---

def _probe(df: DataFrame, cols: list, res: int, radius_m: float) -> DataFrame:
    """J2 probe side: narrow projection + Mercator (ax, ay), exploded
    to one row per cell of its buffer square's cover."""
    return df.select(
        *cols,
        X.merc_x(F.col("lon")).alias("ax"),
        X.merc_y(F.col("lat")).alias("ay"),
    ).withColumn(
        "cell", F.explode(X.cover_cells(F.col("ax"), F.col("ay"), res, radius_m))
    )


def _build(df: DataFrame, cols: list, res: int) -> DataFrame:
    """J1 build side: narrow projection + Mercator (bx, by) + its one
    cell."""
    return df.select(
        *cols,
        X.merc_x(F.col("lon")).alias("bx"),
        X.merc_y(F.col("lat")).alias("by"),
    ).withColumn("cell", X.cell_of(F.col("bx"), F.col("by"), res))


def _sides(layer_a: DataFrame, layer_b: DataFrame, res: int,
           buffer_m: float) -> tuple[DataFrame, DataFrame]:
    """The matcher's probe and build sides (narrow projections only —
    payload stays out)."""
    a = _probe(
        # P6: null/empty-name rows produce no matches (match.py:203-207)
        layer_a.filter(F.col("name").isNotNull() & (F.col("name") != "")),
        [
            "osm_id",
            F.col("name").alias("a_name"),
            F.col("housenumber").alias("a_housenumber"),
        ],
        res,
        buffer_m,
    )
    b = _build(
        layer_b,
        [
            F.col("id").alias("overture_id"),
            F.col("name").alias("b_name"),
            F.col("housenumber").alias("b_housenumber"),
            F.col("lon").alias("b_lon"),
            F.col("lat").alias("b_lat"),
        ],
        res,
    )
    return a, b


def _cell_join(a: DataFrame, b: DataFrame, keys: list,
               radius_m: float | Column) -> DataFrame:
    """J2 equi-join on the cell key(s), then J3 exact planar distance
    (inclusive <=, match.py:225) as column `dist`. `radius_m` is a
    float or a per-row Column (knn's per-probe upper bound).

    No pair-dedup is needed: a build row lives in exactly one cell
    and carries exactly one salt, while the probe side enumerates
    distinct (cell, salt) keys — each qualifying pair joins exactly
    once. (Property-tested: salt/res never change the output.)"""
    dist = X.planar_distance(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"))
    return (
        a.join(b, keys, "inner")
        .withColumn("dist", dist)
        .filter(F.col("dist") <= F.lit(radius_m))
        .drop(*keys)
    )


def _match(cand: DataFrame, sim_threshold: float) -> DataFrame:
    """J4 + J5 on distance-refined candidates, then the output
    projection."""
    # J4: indel name similarity (inclusive >=, match.py:244); empty
    # candidate names never match (match.py:239)
    cand = (
        cand.filter(F.col("b_name").isNotNull() & (F.col("b_name") != ""))
        .withColumn("similarity", indel_sim(F.col("a_name"), F.col("b_name")))
        .filter(F.col("similarity") >= F.lit(sim_threshold))
    )
    # J5: housenumber anti-condition (match.py:300-302): reject only
    # when BOTH sides carry a housenumber and they differ
    cand = cand.filter(
        F.col("a_housenumber").isNull()
        | F.col("b_housenumber").isNull()
        | (F.col("a_housenumber") == F.col("b_housenumber"))
    )
    return cand.select(
        "osm_id",
        "overture_id",
        F.col("b_lon").alias("lon"),
        F.col("b_lat").alias("lat"),
        X.round1(F.col("dist")).alias("distance_m"),
        "similarity",
    )


def conflate(
    layer_a: DataFrame,
    layer_b: DataFrame,
    buffer_m: float = DEFAULT_BUFFER_M,
    sim_threshold: float = DEFAULT_SIM,
    res: int = DEFAULT_RES,
    hot_cells: list[int] | None = None,
    salt_factor: int = 8,
    broadcast_b: bool = False,
) -> DataFrame:
    """Match rows per the reference's exact semantics.

    layer_a columns: osm_id, name, housenumber (nullable), lon, lat
    layer_b columns: id, name, housenumber (nullable), lon, lat

    Returns: osm_id, overture_id, lon, lat (layer_b's ORIGINAL 4326
    values — match.py:112-114,399-400), distance_m (planar 3857,
    rounded 0.1 — match.py:401), similarity.

    Output is invariant to `res`, `hot_cells`, `salt_factor`, and
    `broadcast_b` (property-tested): they change the physical plan,
    never the result.
    """
    a, b = _sides(layer_a, layer_b, res, buffer_m)

    join_keys = ["cell"]
    if hot_cells is not None and not isinstance(hot_cells, (list, tuple)):
        # DataFrame of hot cell ids: broadcast-join the flag so the
        # hot set never transits the driver (the 100x-scale path)
        # distinct: a duplicate cell id in the hot set would duplicate
        # every joined row (the API accepts any (cell)-schema DataFrame)
        hot = F.broadcast(
            hot_cells.select("cell").distinct().withColumn("_hot", F.lit(True))
        )
        a, b = a.join(hot, "cell", "left"), b.join(hot, "cell", "left")
        k = F.when(F.coalesce(F.col("_hot"), F.lit(False)), F.lit(salt_factor)
                   ).otherwise(F.lit(1))
    elif hot_cells and salt_factor > 1:
        k = F.when(F.col("cell").isin(list(hot_cells)), F.lit(salt_factor)).otherwise(
            F.lit(1)
        )
    else:
        k = None
    if k is not None:
        # build rows take one salt, probes explode the whole range
        b = b.withColumn(
            "salt", F.pmod(F.xxhash64(F.col("overture_id")), k).cast("int")
        ).drop("_hot")
        a = a.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), k.cast("int") - F.lit(1)))
        ).drop("_hot")
        join_keys = ["cell", "salt"]

    right = F.broadcast(b) if broadcast_b else b
    return _match(_cell_join(a, right, join_keys, buffer_m), sim_threshold)


def spatial_join(
    layer_a: DataFrame,
    layer_b: DataFrame,
    radius_m: float,
    res: int = DEFAULT_RES,
    a_id: str = "osm_id",
    b_id: str = "id",
    broadcast_b: bool = False,
) -> DataFrame:
    """Generic distance join — all (a, b) pairs within radius_m
    planar meters — as a PUBLIC operator: the conflation machinery
    (cell cover explode -> equi-join -> exact distance refinement)
    without the matcher's name/housenumber semantics. Inputs need
    (id, lon, lat); returns (a_id, b_id, distance_m rounded 0.1).
    Same physical properties as conflate: probe-side cover explode,
    one hash equi-join on the cell key, codegen distance filter;
    output invariant to `res`. Rows with null coordinates produce no
    pairs (null cell never matches) — filter/repair upstream if they
    must be reported."""
    a = _probe(layer_a, [F.col(a_id).alias("a_id")], res, radius_m)
    b = _build(layer_b, [F.col(b_id).alias("b_id")], res)
    right = F.broadcast(b) if broadcast_b else b
    return _cell_join(a, right, ["cell"], radius_m).select(
        "a_id", "b_id", X.round1(F.col("dist")).alias("distance_m")
    )


def nearest_join(
    layer_a: DataFrame,
    layer_b: DataFrame,
    a_id: str = "osm_id",
    b_id: str = "id",
    caches: list | None = None,
) -> DataFrame:
    """Exact nearest-neighbor join as a PUBLIC operator: for every
    layer_a id, its single nearest layer_b row (an id on several rows
    gets the nearest over all of them) — the kNN fallback
    (operators.knn) with an empty exclusion set and NO matcher
    semantics (the conflation pipeline's null/empty-name skip does
    not apply here; inputs only need (id, lon, lat), like
    spatial_join). Returns (a_id, b_id, distance_m).

    `caches`: as in knn_fallback — the list the persisted
    intermediates are appended to, for knn.release_caches(caches)
    after the action; None leaves them untracked."""
    from overmatch_spark.operators.knn import knn_fallback

    a = layer_a.select(
        F.col(a_id).alias("osm_id"), "lon", "lat",
        F.lit("x").alias("name"),  # defuses the matcher's name skip
    )
    b = layer_b.select(F.col(b_id).alias("id"), "lon", "lat")
    spark = layer_a.sparkSession
    empty = spark.createDataFrame([], "osm_id string")
    out = knn_fallback(a, b, empty, caches=caches)
    return out.select(
        F.col("osm_id").alias("a_id"),
        F.col("overture_id").alias("b_id"),
        "distance_m",
    )


def attach_payload(matches: DataFrame, payload: DataFrame, key: str,
                   payload_key: str) -> DataFrame:
    """Re-attach wide/heavy columns (image bytes, full tag structs) by
    id AFTER the shuffle-heavy join — the single most important
    physical decision at 10^12-image scale (SURVEY.md §4.2): payload
    bytes never enter a shuffle on the match path.

    At rest-scale, pass a BUCKETED payload side: store it with
    ``io.write_bucketed(payload, table, payload_key, n, path)`` and
    read it back with ``io.read_bucketed`` — the join then reads the
    bucketed scan with NO Exchange above it, so only the narrow match
    side shuffles and the payload bytes never cross the network even
    on the re-attach (plan-checked in tests/test_plans.py: one
    exchange total, match side only). A plain (unbucketed) payload
    DataFrame still works; it just pays a payload-side shuffle."""
    return matches.join(
        payload, matches[key] == payload[payload_key], "left"
    ).drop(payload_key)
