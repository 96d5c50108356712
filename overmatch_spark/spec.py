"""Single-node NumPy executable spec of the reference matcher.

This reimplements the observable semantics of
/root/reference/scripts/match.py:186-407 (find_matches_for_point) as a
brute-force vectorized all-pairs program. It is the golden oracle the
distributed Spark engine is compared against (exact row-set equality),
and it is itself pinned by the invariants of the reference's checked-in
golden data (similarity in [0.6, 1.0], distance in [0.0, 100.0], null
names produce no matches, housenumber anti-condition, etc. —
/root/reference/data/matches.jsonl).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from overmatch_spark.kernels import geo
from overmatch_spark.kernels.text import indel_similarity


def conflate_spec(
    layer_a: pd.DataFrame,
    layer_b: pd.DataFrame,
    buffer_m: float = 100.0,
    sim_threshold: float = 0.6,
    chunk: int = 2048,
) -> pd.DataFrame:
    """Brute-force all-pairs conflation with the reference's exact
    decision rules. Returns match rows sorted by (osm_id, overture_id).
    """
    # P6: skip rows with null/empty name (match.py:203-207)
    a = layer_a[layer_a["name"].notna() & (layer_a["name"] != "")].reset_index(
        drop=True
    )
    b = layer_b.reset_index(drop=True)

    ax = geo.merc_x(a["lon"].to_numpy())
    ay = geo.merc_y(a["lat"].to_numpy())
    bx = geo.merc_x(b["lon"].to_numpy())
    by = geo.merc_y(b["lat"].to_numpy())

    a_names = a["name"].to_numpy()
    b_names = b["name"].fillna("").to_numpy()
    a_hn = a["housenumber"].to_numpy()
    b_hn = b["housenumber"].to_numpy()

    out = {
        "osm_id": [], "overture_id": [], "lon": [], "lat": [],
        "distance_m": [], "similarity": [],
    }

    for s in range(0, len(a), chunk):
        e = min(s + chunk, len(a))
        dx = ax[s:e, None] - bx[None, :]
        dy = ay[s:e, None] - by[None, :]
        dist = np.sqrt(dx * dx + dy * dy)
        # J3: inclusive distance (match.py:225)
        ii, jj = np.nonzero(dist <= buffer_m)
        ii += s
        if ii.size == 0:
            continue
        # J4: empty candidate names skipped (match.py:239);
        # inclusive similarity (match.py:244)
        nonempty = b_names[jj] != ""
        ii, jj = ii[nonempty], jj[nonempty]
        sim = indel_similarity(list(a_names[ii]), list(b_names[jj]))
        keep = sim >= sim_threshold
        ii, jj, sim = ii[keep], jj[keep], sim[keep]
        # J5: housenumber anti-condition (match.py:300-302)
        ah = a_hn[ii]
        bh = b_hn[jj]
        ok = np.array(
            [pd.isna(x) or pd.isna(y) or (x == y) for x, y in zip(ah, bh)],
            dtype=bool,
        )
        ii, jj, sim = ii[ok], jj[ok], sim[ok]

        d = dist[ii - s, jj]
        out["osm_id"].extend(a["osm_id"].to_numpy()[ii])
        out["overture_id"].extend(b["id"].to_numpy()[jj])
        out["lon"].extend(b["lon"].to_numpy()[jj])  # original 4326 (match.py:399)
        out["lat"].extend(b["lat"].to_numpy()[jj])
        out["distance_m"].extend(geo.round_half_even_1(d))  # match.py:401
        out["similarity"].extend(sim)

    res = pd.DataFrame(out)
    return res.sort_values(["osm_id", "overture_id"]).reset_index(drop=True)


def knn_spec(
    layer_a: pd.DataFrame,
    layer_b: pd.DataFrame,
    matches: pd.DataFrame,
) -> pd.DataFrame:
    """Spec for the kNN fallback (J8 — north-rule extension): for each
    named layer_a osm_id with ZERO matches, the single nearest layer_b
    feature over all of the id's rows, ties broken by (rint(dist*1000),
    id) — the oracle SQL's `PARTITION BY osm_id` rule."""
    a = layer_a[layer_a["name"].notna() & (layer_a["name"] != "")].reset_index(
        drop=True
    )
    unmatched = a[~a["osm_id"].isin(set(matches["osm_id"]))].reset_index(drop=True)
    b = layer_b.reset_index(drop=True)
    ax = geo.merc_x(unmatched["lon"].to_numpy())
    ay = geo.merc_y(unmatched["lat"].to_numpy())
    bx = geo.merc_x(b["lon"].to_numpy())
    by = geo.merc_y(b["lat"].to_numpy())
    b_ids = b["id"].to_numpy()

    best = {}  # osm_id -> (dk, id, dist), the min over the id's rows
    for i, osm_id in enumerate(unmatched["osm_id"]):
        d = np.sqrt((ax[i] - bx) ** 2 + (ay[i] - by) ** 2)
        # tie-break (rint(dist*1000), id) — same rule as the engine
        j = np.lexsort((b_ids, np.rint(d * 1000.0)))[0]
        cand = (np.rint(d[j] * 1000.0), b_ids[j], d[j])
        if osm_id not in best or cand < best[osm_id]:
            best[osm_id] = cand
    rows = [
        (osm_id, bid, float(geo.round_half_even_1(dist)))
        for osm_id, (_, bid, dist) in best.items()
    ]
    return (
        pd.DataFrame(rows, columns=["osm_id", "overture_id", "distance_m"])
        .sort_values(["osm_id"])
        .reset_index(drop=True)
    )
