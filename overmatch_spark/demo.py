"""Demo spatial layers derived from the driver's TPC-H-ish tables
(TESTDATA.md), used by __spark_entry__.py, and the lineitem-keyed
benchmark layers, session conf and worker warm-up the benchmark
scripts share (bench_layers, BENCH_CONF, warm_workers).

The SAME derivation is written twice — once as Catalyst expressions
(Spark) and once as SQL text (the DuckDB oracle) — and is designed so
every float the two engines must agree on is either (a) derived from
exact integer arithmetic, or (b) separated from every decision
boundary by a margin many orders of magnitude above last-ulp libm
noise, or (c) rounded before output.

Geometry: customers sit on a 300 m Mercator grid with deterministic
integer jitter (±25 m), guaranteeing >=250 m spacing, so a probe can
only ever match ITS OWN candidate (near classes are <=104.5 m away;
cross-pair distance >=145.5 m > 100 m). That isolation is what makes
the name-similarity column of the oracle SQL-expressible in closed
form (the indel kernel itself is oracle-checked via its unit tests
and the closed-form cases here: exact copy -> 1.0, suffix append
-> 2L/(2L+3), disjoint-alphabet rewrite -> 0.0).

Distance classes (m = key % 10):
  0-5 -> d = 10 + 8*m   (10..50 m, matches)
  6   -> d = 101.5      (must NOT match: > 100 m, margin 1.5 m)
  7   -> d = 104.5      (must NOT match)
  8-9 -> far band ~50 km south (kNN-fallback territory)
Name-edit classes (e = key % 5): 0-2 exact, 3 append " Zq",
4 "##########" (similarity exactly 0). Empty name: key % 17 = 5.
Housenumber classes (h = (key*31) % 4): 0 same, 1 different
(anti-condition reject), 2-3 absent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from overmatch_spark import expressions as X
from overmatch_spark.fixtures import ADJECTIVES, NOUNS, TYPES

# Grid anchor in Mercator meters (~DC area), integer-valued.
X0 = -8_575_000
Y0 = 4_705_000
GRID_COLS = 600
SPACING = 300
FAR_Y = Y0 - 50_000

# Rectilinear non-convex demo polygon (P5). All edges are axis-
# parallel at half-meter offsets: grid coordinates are integers, so
# every point sits >= 0.5 m from every edge — the ray-cast decision is
# immune to the ~1e-9 m Mercator-roundtrip noise, and horizontal edges
# drop out of the crossing test entirely. An "L" covering columns
# 100..400 for all rows plus columns 200..400 only for rows 0-1.
PIP_POLY = [
    (X0 + 30000.5, Y0 - 1e6),
    (X0 + 120000.5, Y0 - 1e6),
    (X0 + 120000.5, Y0 + 400.5),
    (X0 + 60000.5, Y0 + 400.5),
    (X0 + 60000.5, Y0 + 1e7),
    (X0 + 30000.5, Y0 + 1e7),
]


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

def _vocab_name(key):
    """ADJECTIVES[key%20] ' ' NOUNS[(key//20)%20] ' ' TYPES[(key//400)%10]."""
    a = F.element_at(
        F.array(*[F.lit(s) for s in ADJECTIVES]), (key % 20 + 1).cast("int")
    )
    nn = F.element_at(
        F.array(*[F.lit(s) for s in NOUNS]),
        (((key - key % 20) / 20).cast("long") % 20 + 1).cast("int"),
    )
    t = F.element_at(
        F.array(*[F.lit(s) for s in TYPES]),
        (((key - key % 400) / 400).cast("long") % 10 + 1).cast("int"),
    )
    return F.concat_ws(" ", a, nn, t)


def _grid_xy(key):
    col = key % GRID_COLS
    row = ((key - col) / GRID_COLS).cast("long")
    jx = (key * 7919) % 51 - 25
    jy = (key * 104729) % 51 - 25
    x = (F.lit(X0) + F.lit(SPACING) * col + jx).cast("double")
    y = (F.lit(Y0) + F.lit(SPACING) * row + jy).cast("double")
    return x, y


def spark_layer_a(
    spark: SparkSession, sf_dir: str,
    table: str = "customer", key_col: str = "c_custkey",
    df: DataFrame | None = None,
) -> DataFrame:
    c = df if df is not None else load(spark, sf_dir, table)
    key = F.col(key_col)
    x, y = _grid_xy(key)
    hn = ((key * 7919) % 9000 + 1000).cast("string")
    return c.select(
        F.concat(F.lit("node/"), key.cast("string")).alias("osm_id"),
        F.when(key % 20 == 13, F.lit(None)).otherwise(_vocab_name(key)).alias("name"),
        F.when(key % 4 < 3, hn).otherwise(F.lit(None)).alias("housenumber"),
        X.inv_merc_lon(x).alias("lon"),
        X.inv_merc_lat(y).alias("lat"),
    )


def spark_layer_b(
    spark: SparkSession, sf_dir: str,
    table: str = "customer", key_col: str = "c_custkey",
    df: DataFrame | None = None,
) -> DataFrame:
    import math

    c = df if df is not None else load(spark, sf_dir, table)
    key = F.col(key_col)
    xa, ya = _grid_xy(key)
    m = key % 10
    d = (
        F.when(m <= 5, (F.lit(10) + F.lit(8) * m).cast("double"))
        .when(m == 6, F.lit(101.5))
        .otherwise(F.lit(104.5))
    )
    theta = ((key * 97) % 360).cast("double") * F.lit(math.pi) / F.lit(180.0)
    near_x = xa + d * F.cos(theta)
    near_y = ya + d * F.sin(theta)
    far_x = xa
    far_y = (F.lit(FAR_Y) - (key % 1000)).cast("double")
    bx = F.when(m <= 7, near_x).otherwise(far_x)
    by = F.when(m <= 7, near_y).otherwise(far_y)

    e = key % 5
    base = _vocab_name(key)
    name = (
        F.when(key % 17 == 5, F.lit(""))
        .when(e == 3, F.concat(base, F.lit(" Zq")))
        .when(e == 4, F.lit("##########"))
        .otherwise(base)
    )
    h = (key * 31) % 4
    hn_same = ((key * 7919) % 9000 + 1000).cast("string")
    hn_diff = ((key * 7919) % 9000 + 1001).cast("string")
    hn = F.when(h == 0, hn_same).when(h == 1, hn_diff).otherwise(F.lit(None))

    return c.select(
        F.concat(F.lit("ov/"), key.cast("string")).alias("id"),
        name.alias("name"),
        hn.alias("housenumber"),
        X.inv_merc_lon(bx).alias("lon"),
        X.inv_merc_lat(by).alias("lat"),
    )


# Session conf for benchmarks over bench_layers (get_spark's
# extra_conf).
# advisoryPartitionSizeInBytes=8m: lowered so AQE keeps parallelism on
# this (deliberately small) benchmark input; at production scale the
# default 64m advisory is correct and this override is dropped.
# autoBroadcastJoinThreshold=-1: the bench layers are DERIVED from a
# tiny parquet file, so Catalyst's size estimates are off by ~100x and
# AQE mis-broadcasts a multi-million-row build side (measured: driver
# OOM at 4.8M rows, and heavy anti-scaling from single-threaded
# broadcast build + bandwidth-bound hash probes). Explicit
# broadcast()/hints are unaffected. On real tables with real stats the
# default threshold is correct.
BENCH_CONF = {
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bench_layers(
    spark: SparkSession, sf_dir: str, cpus: int, mult: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Benchmark conflation layers (a, b) keyed on lineitem: each
    row's key k0 = l_orderkey*8 + l_linenumber becomes `mult` keys
    k0*mult + rep (rep in 0..mult-1), so there are mult x lineitem
    features a side, repartitioned to 2*cpus because the lineitem
    parquet is a single split. Ids are unique per (l_orderkey,
    l_linenumber); the test data repeats about a quarter of those
    pairs, and the layers repeat those rows with them.

    The layers are lazy and unpersisted (the read names its schema, so
    not even schema inference runs a job); a caller timing against
    materialized input persists them."""
    k0 = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    keys = (
        spark.read.schema("l_orderkey long, l_linenumber int")
        .parquet(f"{sf_dir}/lineitem.parquet")
        .select(F.explode(F.sequence(k0 * mult, k0 * mult + (mult - 1))).alias("k"))
        .repartition(2 * cpus)
    )
    return (
        spark_layer_a(spark, sf_dir, None, "k", df=keys),
        spark_layer_b(spark, sf_dir, None, "k", df=keys),
    )


def warm_workers(spark: SparkSession, cpus: int) -> None:
    """Start the Python worker pool on every core before timing: one
    indel_sim pass over 20,000 rows a core, through the noop sink.
    Worker start-up is a one-time cluster cost, not workload."""
    from overmatch_spark.udfs import indel_sim

    s = F.col("id").cast("string")
    spark.range(0, 20_000 * cpus, 1, 2 * cpus).select(
        indel_sim(s, s)
    ).write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# DuckDB side — the same derivations as SQL CTE text
# ---------------------------------------------------------------------------

def _sql_list(words):
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


SQL_VOCAB_NAME = (
    f"concat({_sql_list(ADJECTIVES)}[CAST(key % 20 AS INTEGER) + 1], ' ', "
    f"{_sql_list(NOUNS)}[CAST(CAST((key - key % 20) / 20 AS BIGINT) % 20 AS INTEGER) + 1], ' ', "
    f"{_sql_list(TYPES)}[CAST(CAST((key - key % 400) / 400 AS BIGINT) % 10 AS INTEGER) + 1])"
)

_SQL_GRID = f"""
    CAST({X0} + {SPACING} * (key % {GRID_COLS}) + ((key * 7919) % 51 - 25) AS DOUBLE) AS xa,
    CAST({Y0} + {SPACING} * CAST((key - key % {GRID_COLS}) / {GRID_COLS} AS BIGINT) + ((key * 104729) % 51 - 25) AS DOUBLE) AS ya
"""

SQL_LAYER_A = f"""
layer_a_raw AS (
  SELECT c_custkey AS key, {_SQL_GRID.strip().rstrip()} FROM customer
),
layer_a AS (
  SELECT
    concat('node/', CAST(key AS VARCHAR)) AS osm_id,
    CASE WHEN key % 20 = 13 THEN NULL ELSE {SQL_VOCAB_NAME} END AS name,
    CASE WHEN key % 4 < 3 THEN CAST((key * 7919) % 9000 + 1000 AS VARCHAR) END AS housenumber,
    {X.sql_inv_merc_lon('xa')} AS lon,
    {X.sql_inv_merc_lat('ya')} AS lat,
    key, xa, ya
  FROM layer_a_raw
)"""

SQL_LAYER_B = f"""
layer_b_raw AS (
  SELECT c_custkey AS key, {_SQL_GRID.strip().rstrip()} FROM customer
),
layer_b_geom AS (
  SELECT key, xa, ya,
    CASE WHEN key % 10 <= 5 THEN CAST(10 + 8 * (key % 10) AS DOUBLE)
         WHEN key % 10 = 6 THEN 101.5 ELSE 104.5 END AS d,
    (CAST((key * 97) % 360 AS DOUBLE) * pi() / 180.0) AS theta
  FROM layer_b_raw
),
layer_b AS (
  SELECT
    concat('ov/', CAST(key AS VARCHAR)) AS id,
    CASE WHEN key % 17 = 5 THEN ''
         WHEN key % 5 = 3 THEN concat({SQL_VOCAB_NAME}, ' Zq')
         WHEN key % 5 = 4 THEN '##########'
         ELSE {SQL_VOCAB_NAME} END AS name,
    CASE WHEN (key * 31) % 4 = 0 THEN CAST((key * 7919) % 9000 + 1000 AS VARCHAR)
         WHEN (key * 31) % 4 = 1 THEN CAST((key * 7919) % 9000 + 1001 AS VARCHAR)
         END AS housenumber,
    {X.sql_inv_merc_lon("CASE WHEN key % 10 <= 7 THEN xa + d * cos(theta) ELSE xa END")} AS lon,
    {X.sql_inv_merc_lat(f"CASE WHEN key % 10 <= 7 THEN ya + d * sin(theta) ELSE CAST({FAR_Y} - (key % 1000) AS DOUBLE) END")} AS lat,
    key
  FROM layer_b_geom
)"""


def spark_layer_b2(
    spark: SparkSession, sf_dir: str,
    table: str = "customer", key_col: str = "c_custkey",
    df: DataFrame | None = None,
) -> DataFrame:
    """A SECOND candidate per key (7 m farther, exact name, no
    housenumber) so W1/W2 run against genuine multi-match groups."""
    import math

    c = df if df is not None else load(spark, sf_dir, table)
    key = F.col(key_col)
    xa, ya = _grid_xy(key)
    m = key % 10
    d = (
        F.when(m <= 5, (F.lit(10) + F.lit(8) * m).cast("double"))
        .when(m == 6, F.lit(101.5))
        .otherwise(F.lit(104.5))
    ) + F.lit(7.0)
    theta = ((key * 97) % 360).cast("double") * F.lit(math.pi) / F.lit(180.0)
    bx = F.when(m <= 7, xa + d * F.cos(theta)).otherwise(xa)
    by = F.when(m <= 7, ya + d * F.sin(theta)).otherwise(
        (F.lit(FAR_Y) - (key % 1000)).cast("double")
    )
    return c.select(
        F.concat(F.lit("ov2/"), key.cast("string")).alias("id"),
        _vocab_name(key).alias("name"),
        F.lit(None).cast("string").alias("housenumber"),
        X.inv_merc_lon(bx).alias("lon"),
        X.inv_merc_lat(by).alias("lat"),
    )


SQL_LAYER_B2 = f"""
layer_b2_geom AS (
  SELECT key, xa, ya,
    (CASE WHEN key % 10 <= 5 THEN CAST(10 + 8 * (key % 10) AS DOUBLE)
         WHEN key % 10 = 6 THEN 101.5 ELSE 104.5 END) + 7.0 AS d,
    (CAST((key * 97) % 360 AS DOUBLE) * pi() / 180.0) AS theta
  FROM layer_b_raw
),
layer_b2 AS (
  SELECT
    concat('ov2/', CAST(key AS VARCHAR)) AS id,
    {SQL_VOCAB_NAME} AS name,
    CAST(NULL AS VARCHAR) AS housenumber,
    {X.sql_inv_merc_lon("CASE WHEN key % 10 <= 7 THEN xa + d * cos(theta) ELSE xa END")} AS lon,
    {X.sql_inv_merc_lat(f"CASE WHEN key % 10 <= 7 THEN ya + d * sin(theta) ELSE CAST({FAR_Y} - (key % 1000) AS DOUBLE) END")} AS lat,
    key
  FROM layer_b2_geom
)"""

# matches of layer_a against layer_b2 (always sim 1.0, no
# housenumber condition; same isolation argument applies since
# d+7 <= 111.5 m and grid spacing >= 250 m)
SQL_MATCHES2 = f"""
pairs2 AS (
  SELECT a.osm_id, b.id AS overture_id,
         round(b.lon, 9) AS lon, round(b.lat, 9) AS lat,
         {X.sql_planar_distance(X.sql_merc_x('a.lon'), X.sql_merc_y('a.lat'), X.sql_merc_x('b.lon'), X.sql_merc_y('b.lat'))} AS dist
  FROM layer_a a JOIN layer_b2 b ON a.key = b.key
  WHERE a.name IS NOT NULL AND a.name != ''
),
matches2 AS (
  SELECT osm_id, overture_id, lon, lat,
         {X.sql_round1('dist')} AS distance_m, 1.0 AS similarity
  FROM pairs2 WHERE dist <= 100.0
)"""


def sql_layers_cte() -> str:
    """`WITH <this>` prefix shared by all conflation oracle queries."""
    return f"WITH {SQL_LAYER_A.strip()},\n{SQL_LAYER_B.strip()}"


def sql_layers_cte_multi() -> str:
    return f"{sql_layers_cte()},\n{SQL_LAYER_B2.strip()}"


# The conflation oracle: brute-force theta join with the closed-form
# similarity (grid isolation makes own-candidate the only possible
# partner; see module docstring).
SQL_MATCHES = f"""
pairs AS (
  SELECT a.osm_id, b.id AS overture_id,
         round(b.lon, 9) AS lon, round(b.lat, 9) AS lat,
         {X.sql_planar_distance(X.sql_merc_x('a.lon'), X.sql_merc_y('a.lat'), X.sql_merc_x('b.lon'), X.sql_merc_y('b.lat'))} AS dist,
         CASE WHEN b.key % 5 = 3
              THEN (2.0 * length(a.name)) / (2.0 * length(a.name) + 3.0)
              WHEN b.key % 5 = 4 THEN 0.0
              ELSE 1.0 END AS similarity,
         a.housenumber AS a_hn, b.housenumber AS b_hn
  FROM layer_a a JOIN layer_b b ON a.key = b.key
  WHERE a.name IS NOT NULL AND a.name != '' AND b.name != ''
),
matches AS (
  SELECT osm_id, overture_id, lon, lat,
         {X.sql_round1('dist')} AS distance_m, similarity
  FROM pairs
  WHERE dist <= 100.0 AND similarity >= 0.6
    AND (a_hn IS NULL OR b_hn IS NULL OR a_hn = b_hn)
)"""
