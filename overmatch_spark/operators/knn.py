"""kNN fallback (SURVEY.md J8 — north-rule extension).

The reference silently drops OSM rows with zero matches
(/root/reference/scripts/match.py:217,229); the north rule adds a
nearest-neighbor fallback for them. Two-phase exact algorithm:

  Phase 1 (bulk): dynamic exact cell cover of the (±edge/2) square at
  a fine resolution (avg ~4 cells/probe — half the shuffle volume of
  a 3x3 cover, same guarantee at radius edge/2). A found minimum
  d <= edge/2 − 2 mm is PROVABLY the global nearest (the cover
  contains the whole disk of radius edge/2, and the −2 mm slack keeps
  every candidate sharing the winner's mm-rounded tie-break key
  inside the cover), so the probe exits.

  Phase 2 (stragglers): every straggler first gets a per-row UPPER
  BOUND on its nearest distance —
    hinted   — its phase-1 best candidate distance (+ tie slack);
    hintless — a COARSE-CELL HISTOGRAM of the build side (occupied
    cell -> bbox), small enough to broadcast, acts as the distributed
    analog of the reference's R-tree upper levels: min over occupied
    cells of the max possible distance to the cell bbox, computed as
    a map-side partial aggregate (the shuffle carries ONE row per
    probe, never the probe x cell product).
  A hinted straggler's ub is provably <= ~2.13*edge(res0) (cover-bbox
  far corner + slack), so its res0 cover is <= 6x6 and it joins the
  fine path directly. Each HINTLESS straggler picks the finest level
  of a RESOLUTION LADDER (res0, res0-2, ..., down to res0 % 2 — the
  enumerable floor _ladder_floor aligns the clamp to) satisfying
  ub <= 2*edge —
  so its dynamic cover is ALWAYS <= 6x6 cells regardless of how far
  its nearest neighbor is — and joins the cached build side once on
  the (level, cell) equi-key. The build side is the LAZY broadcast
  cross product needed-levels x b0, so it materializes exactly the
  levels some probe actually chose — zero build rows in the common
  all-fine case. Level choice shapes the physical search
  only; any level is exact because a dynamic cover of radius ub
  contains the whole disk that provably holds the nearest + its
  mm-rounded ties.

The coarse histogram is capped inside the DAG to its _MAX_HIST_CELLS
densest cells (a TopK over occupied-cell counts), so it always fits
the broadcast budget and plan construction runs no Spark job; any
non-empty subset of occupied cells still gives valid upper bounds.

Every phase is keyed on the probe POINT (osm_id, ax, ay): an osm_id
at several coordinates is searched from each of them, and the result
is one per-osm_id min over all its points, the rule of the oracles
(spec.knn_spec, the DuckDB `PARTITION BY osm_id`).

Naive ring-expansion to coarser cells is NOT used: at coarse
resolutions dense cells make the candidate fan-out quadratic (probes
x cell population) — measured as the difference between a 2e9-row
join and a bounded-cover equi-join at sf0.1. The same reasoning
picks the LADDER join over joining everything at the histogram
resolution: a ~300 m upper bound covered by ~4.9 km cells drags in
~130 candidates per cell where fine cells hold ~2.

Tie-break: (rint(dist*1000), id) — millimeter-rounded distance then
lexicographic id, so single-node oracles (numpy spec, DuckDB)
reproduce it without last-ulp ambiguity.

Why the fallback is NOT fused into the conflation join (considered
twice, rejected deliberately): emitting a per-probe best-candidate
byproduct from conflate's cell join requires either (a) persisting
the RAW pre-filter candidate stream — at 10^12-image scale an
unbounded cache whose spill cost dwarfs the bounded second cell join
it would save — or (b) re-executing the join on a narrow projection,
which is exactly what phase 1 already is. Matched probes need no
fallback and unmatched probes' match rows don't exist, so the cheap
byproduct (aggregating the persisted MATCH table) cannot hint the
rows this operator serves. The two-phase design keeps conflation's
plan clean and bounds every fallback structure (covers <= 6x6 cells,
histogram <= broadcast budget, shuffles one row per probe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from overmatch_spark import expressions as X
from overmatch_spark.operators.conflate import _build, _cell_join

# mm-rounded tie-break keys differ by < 1 mm; 2 mm slack keeps every
# tied candidate inside any bound/cover derived from a winner
_TIE_SLACK_M = 0.002
# the hintless upper bounds' histogram: its resolution (cell edge
# ~4.9 km) and the broadcast cap on its occupied cells. Neither
# changes the result (any occupied cell bounds the nearest); both are
# read at call time.
_COARSE_RES = 13
_MAX_HIST_CELLS = 300_000
# a probe point: an osm_id may sit at several coordinates, and each
# is searched on its own until the final per-osm_id min
_POINT = ["osm_id", "ax", "ay"]


def release_caches(caches: list) -> None:
    """Unpersist every intermediate knn_fallback appended to `caches`.
    Only call AFTER the returned DataFrames were materialized (or are
    no longer needed): the lazy result reads them at action time."""
    while caches:
        caches.pop().unpersist()


def _best_per_probe(cand: DataFrame, keys: list) -> DataFrame:
    """Exact min per group of `keys` with the engine's tie-break rule
    (rint(dist*1000), overture_id); a group with only null-dist rows
    (no candidate) gets a null overture_id and dist."""
    return (
        cand.groupBy(*keys)
        .agg(
            F.min(
                F.when(
                    F.col("dist").isNotNull(),
                    F.struct(
                        F.rint(F.col("dist") * F.lit(1000.0)).alias("dk"),
                        F.col("overture_id").alias("overture_id"),
                        F.col("dist").alias("dist"),
                    ),
                )
            ).alias("best")
        )
        .select(
            *keys,
            F.col("best.overture_id").alias("overture_id"),
            F.col("best.dist").alias("dist"),
        )
    )


def _ladder_floor(res0: int) -> int:
    """Coarsest enumerable ladder level for a given res0 — MUST agree
    with the build side's range(res0-2, -1, -2): res0%2 is the last
    value that range emits (0 for even res0, 1 for odd), so a clamp
    below it would choose a level the build side never enumerates and
    silently drop the probe."""
    return res0 % 2 if res0 >= 2 else res0


def _ladder_level(ub, res0: int):
    """Finest ladder level (res0, res0-2, ..., floor) with
    ub <= 2*edge — guarantees the dynamic cover is <= 6x6 cells for
    any level the inequality holds at; at the floor level the world
    itself is only a handful of cells (out-of-world cover indices
    join nothing), so covers stay bounded even for a worst-case ub
    that exceeds 2*edge there. Any
    level is exact; this one balances cover fan-out (shuffle rows)
    against per-cell candidate volume."""
    # ub <= 2*edge(l)  <=>  l <= log2(2*WORLD/ub)
    l_raw = F.floor(F.log2(F.lit(2.0 * X.WORLD_M) / ub)).cast("int")
    l_raw = F.least(F.lit(res0), l_raw)
    # snap DOWN (coarser) onto the even-step ladder, clamp at the
    # enumerable floor (ceil(delta/2)*2 — Spark's `/` is double
    # division, so floor it)
    delta = F.lit(res0) - l_raw
    snapped = F.lit(res0) - F.floor(
        (delta + F.lit(1)) / F.lit(2.0)
    ).cast("int") * F.lit(2)
    return F.greatest(F.lit(_ladder_floor(res0)), snapped)


def knn_fallback(
    layer_a: DataFrame,
    layer_b: DataFrame,
    matches: DataFrame,
    res0: int = 16,
    caches: list | None = None,
) -> DataFrame:
    """Nearest layer_b feature for every named layer_a osm_id absent
    from `matches`; an osm_id at several coordinates gets the nearest
    over all of them. Returns (osm_id, overture_id, distance_m).

    Output is invariant to res0 (it shapes the physical search only —
    property- and oracle-tested).

    `caches`: list the persisted intermediates are appended to; the
    caller unpersists them (release_caches(caches)) after
    materializing the result. None means the caller does not track
    them: they stay cached until spark.catalog.clearCache() or the
    session ends."""
    if caches is None:
        caches = []
    # probes (narrow: id + 2 doubles), read by phase 1 only. The
    # matched-id side is dropDuplicates'd: anti-join results ignore dup
    # keys, and the dedup's partial (map-side) aggregate means the
    # exchange the join needs anyway now carries only distinct ids
    # (-35% of that shuffle on the bench corpus) — no extra exchange,
    # the dedup's hash(osm_id) partitioning is exactly the join's.
    # Full-row dropDuplicates after the anti-join: duplicate input
    # rows (same id AND coords) contribute nothing — every downstream
    # consumer is a min — so collapsing them here shrinks the phase-1
    # cover explode, the joins, and the distance math by the
    # duplicate fraction (24% on the bench corpus). Exchange-free:
    # the anti-join leaves hash(osm_id) partitioning, which already
    # clusters the point keys, so the dedup is a local aggregate.
    probes = (
        layer_a.filter(F.col("name").isNotNull() & (F.col("name") != ""))
        .join(matches.select("osm_id").dropDuplicates(), "osm_id", "left_anti")
        .select(
            "osm_id",
            X.merc_x(F.col("lon")).alias("ax"),
            X.merc_y(F.col("lat")).alias("ay"),
        )
        .dropDuplicates(_POINT)
    )
    # ONE cached build table (scanned/derived once, reused by phase 1,
    # the coarse histogram, and the ladder join), hash-partitioned on
    # the res0 `cell` key at cache time: phase 1 AND the phase-2 fine
    # path both equi-join on `cell`, so pre-partitioning the cache
    # removes the build-side Exchange from BOTH joins — the exchange
    # is paid once at materialization instead of once per join (the
    # fine-path join re-deriving this same projection/key was measured
    # as the largest slice of the cold `final` stage floor)
    # Full-row dropDuplicates, same rationale and same exchange-free
    # shape as the probe side: duplicate build rows can never change a
    # per-probe min (identical (overture_id, dist) candidates), and
    # hash(cell) already clusters the full key set, so the dedup is a
    # local aggregate on top of the repartition and the cache keeps
    # the cell partitioning both joins reuse.
    b = (
        _build(layer_b, [F.col("id").alias("overture_id")], res0)
        .repartition("cell")
        .dropDuplicates(["overture_id", "bx", "by", "cell"])
        .persist()
    )
    caches.append(b)
    b_cell = b.select("cell", "overture_id", "bx", "by")

    # ---- phase 1: dynamic exact cover at radius edge/2 ----
    # A plain left join, not _cell_join's `dist <= radius` filter: the
    # candidates beyond r1 are the stragglers' hints, so all stay, and
    # a point with no candidate keeps a null-dist row.
    r1 = X.cell_edge_m(res0) / 2.0
    probe1 = probes.withColumn(
        "cell",
        F.explode(X.cover_cells(F.col("ax"), F.col("ay"), res0, r1)),
    )
    cand1 = probe1.join(b_cell, "cell", "left").withColumn(
        "dist",
        X.planar_distance(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")),
    )
    # best1: ONE row per probe point, its nearest phase-1 candidate or
    # null. It feeds the provable exit, the hints and `rest`; persist
    # it (tiny) so the phase-1 join is not recomputed per consumer.
    # Keyed on the point, it carries (ax, ay) into phase 2.
    best1 = _best_per_probe(cand1, _POINT).persist()
    caches.append(best1)
    exit1 = F.lit(r1 - _TIE_SLACK_M)
    done1 = best1.filter(F.col("dist") <= exit1).select(
        "osm_id", "overture_id", "dist"
    )

    # ---- phase 2, step 1: an upper bound for every straggler ----
    # hinted: the phase-1 candidate distance is a per-point upper bound
    hinted = best1.filter(F.col("dist") > exit1).select(
        *_POINT, (F.col("dist") + F.lit(_TIE_SLACK_M)).alias("ub"),
    )
    # hintless: min over occupied coarse cells of the max possible
    # distance to the cell bbox (each occupied cell holds >=1 point,
    # so min(maxd) bounds the nearest). The broadcast histogram keeps
    # this the plan's only nested-loop join; the groupBy is a partial
    # aggregate, so the shuffle carries ONE row per probe point —
    # never the probe x cell product.
    # rest = probe points with NO phase-1 candidate at all
    rest = best1.filter(F.col("dist").isNull()).select(*_POINT)
    # Broadcast-bound guard: keep the _MAX_HIST_CELLS DENSEST occupied
    # cells (deterministic tie-break on the cell id). Correct for ANY
    # non-empty subset: every kept cell is occupied, so for each probe
    # min-over-kept-cells of maxdist still upper-bounds the distance
    # to SOME real point, hence to the nearest — the ladder search is
    # exact under any valid upper bound (property-tested). The cap is
    # a tiny TopK executed inside the DAG, so no driver-side action
    # runs at plan-construction time. Scale bound: the TopK's
    # single-partition merge sees at most
    # min(4^_COARSE_RES, shuffle_partitions * _MAX_HIST_CELLS)
    # histogram rows (post-aggregate, 16 B each) — one bounded task,
    # guard path only.
    edge_c = X.cell_edge_m(_COARSE_RES)
    hist = (
        b.groupBy(
            X.cell_of(F.col("bx"), F.col("by"), _COARSE_RES).alias("ccell")
        )
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("ccell"))
        .limit(_MAX_HIST_CELLS)
    )
    ix = F.shiftright(F.col("ccell"), 30)
    iy = F.col("ccell") - F.shiftleft(ix, 30).cast("long")
    cells = hist.select(
        (ix * F.lit(edge_c) - F.lit(X.ORIGIN_M)).alias("xlo"),
        ((ix + 1) * F.lit(edge_c) - F.lit(X.ORIGIN_M)).alias("xhi"),
        (F.lit(X.ORIGIN_M) - (iy + 1) * F.lit(edge_c)).alias("ylo"),
        (F.lit(X.ORIGIN_M) - iy * F.lit(edge_c)).alias("yhi"),
    )
    pc = rest.crossJoin(F.broadcast(cells))
    mxx = F.greatest(
        F.abs(F.col("xlo") - F.col("ax")), F.abs(F.col("xhi") - F.col("ax"))
    )
    mxy = F.greatest(
        F.abs(F.col("ylo") - F.col("ay")), F.abs(F.col("yhi") - F.col("ay"))
    )
    maxdist = F.sqrt(mxx * mxx + mxy * mxy)
    # one narrow row per HINTLESS straggler point; persisted because
    # both the ladder cover and the needed-level prune read it
    # (without the cache the whole upper-bound pipeline, histogram
    # included, would run twice). Hinted stragglers are NOT in this
    # table: their ub is provably <= sqrt(2)*1.5*edge + slack ≈
    # 2.13*edge (phase-1 candidate in the far corner of the cover
    # bbox), so their res0 dynamic cover is <= floor(2*2.13)+2 = 6
    # cells per axis — the same 6x6 bound the ladder guarantees — and
    # they go straight to the fine path below with no level
    # computation. That keeps the ladder/histogram machinery on the
    # hintless-only branch, which is EMPTY on any corpus dense enough
    # that every probe sees a phase-1 candidate (the common case).
    ubs = (
        pc.groupBy(*_POINT)
        .agg((F.min(maxdist) + F.lit(_TIE_SLACK_M)).alias("ub"))
        .withColumn("lvl", _ladder_level(F.col("ub"), res0))
        .persist()
    )
    caches.append(ubs)

    # ---- phase 2, step 2: ladder equi-join at each probe's level ----
    # FINE path: every hinted straggler (6x6 cover bound proved above)
    # plus hintless ones whose ladder level is res0. Either path is
    # exact at any level. The fine path covers explode at res0 and
    # join the SAME cached build side as phase 1, so the build side
    # needs no extra enumeration and the exchange is reusable.
    fine = hinted.unionByName(
        ubs.filter(F.col("lvl") == F.lit(res0)).drop("lvl")
    ).withColumn(
        "cell",
        F.explode(X.cover_cells(F.col("ax"), F.col("ay"), res0, F.col("ub"))),
    )
    cand_f = _cell_join(fine, b_cell, ["cell"], F.col("ub"))
    # COARSE path (rare: probes whose nearest is beyond 2*edge(res0)):
    # build side enumerates only the coarse ladder levels some probe
    # actually chose. A driver-collected level list was tried and
    # reverted: it made plan construction eager and froze the level
    # set at build time, so a recomputation of the
    # (non-deterministic-input) cache after executor loss could choose
    # a level the frozen list lacks and silently drop the probe; the
    # lazy level set re-evaluates with whatever the data says at
    # action time, always consistent.
    coarse = ubs.filter(F.col("lvl") < F.lit(res0))
    probe_c = coarse.withColumn(
        "lcell",
        F.explode(
            X.cover_cells(F.col("ax"), F.col("ay"), F.col("lvl"), F.col("ub"))
        ),
    )
    # build side = needed-levels x b via a broadcast cross join: it
    # emits exactly |needed| x |b| rows, i.e. zero when the coarse set
    # is empty, while staying lazy/consistent under cache
    # recomputation
    needed = coarse.select("lvl").distinct()
    b_ladder = (
        F.broadcast(needed)
        .crossJoin(b)
        .select(
            "lvl", "overture_id", "bx", "by",
            X.cell_of(F.col("bx"), F.col("by"), F.col("lvl")).alias("lcell"),
        )
    )
    cand_c = _cell_join(probe_c, b_ladder, ["lvl", "lcell"], F.col("ub"))
    cand2 = cand_f.unionByName(cand_c).select("osm_id", "overture_id", "dist")

    # one per-osm_id min over every point's answer: the phase-1 exits
    # and the phase-2 candidates of all the id's other points
    best = _best_per_probe(done1.unionByName(cand2), ["osm_id"])
    return best.select(
        "osm_id", "overture_id", X.round1(F.col("dist")).alias("distance_m")
    )
