"""The Catalyst cell functions (expressions.cell_of / cover_cells) at
every resolution: a literal `res`/`radius_m` and a per-row Column give
bit-identical cells, and the cover is exactly the corner-cell
enumeration of the numpy kernels (kernels.geo.cell_ix / cell_iy)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from overmatch_spark import expressions as X
from overmatch_spark.kernels import geo


def _points(res: int) -> list[tuple[float, float]]:
    edge = geo.cell_edge_m(res)
    rng = np.random.RandomState(res)
    pts = [
        (0.0, 0.0),
        (-geo.ORIGIN_M, geo.ORIGIN_M - 1.0),
        (geo.ORIGIN_M - 1.0, -geo.ORIGIN_M),
    ]
    # points on this resolution's cell boundaries (world-edge included)
    for k in (0, 1, 1 << res):
        pts.append((k * edge - geo.ORIGIN_M, geo.ORIGIN_M - k * edge))
    xs = rng.uniform(-geo.ORIGIN_M, geo.ORIGIN_M, 6)
    ys = rng.uniform(-geo.ORIGIN_M, geo.ORIGIN_M, 6)
    return pts + list(zip(xs.tolist(), ys.tolist()))


def _radii(res: int) -> list[float]:
    edge = geo.cell_edge_m(res)
    radii = [0.0, 0.3 * edge, edge, 2.5 * edge]
    if res <= 3:  # buffer squares reaching past the world edge
        radii.append(1.25 * geo.WORLD_M)
    return radii


def _corner_cover(x: float, y: float, res: int, r: float) -> list[int]:
    ix = geo.cell_ix(np.array([x - r, x + r]), res)
    iy = geo.cell_iy(np.array([y + r, y - r]), res)  # iy grows south
    return [
        (int(i) << 30) + int(j)
        for i in range(ix[0], ix[1] + 1)
        for j in range(iy[0], iy[1] + 1)
    ]


@pytest.mark.parametrize("res", range(31))
def test_cells_literal_equals_column_and_kernel(spark, res):
    pts, radii = _points(res), _radii(res)
    pdf = pd.DataFrame(pts, columns=["x", "y"])
    pdf["res"] = res
    for k, r in enumerate(radii):
        pdf[f"r{k}"] = r
    df = spark.createDataFrame(pdf)
    x, y = F.col("x"), F.col("y")
    cols = [
        X.cell_of(x, y, res).alias("cell_lit"),
        X.cell_of(x, y, F.col("res")).alias("cell_col"),
    ]
    for k, r in enumerate(radii):
        cols += [
            X.cover_cells(x, y, res, r).alias(f"lit{k}"),
            X.cover_cells(x, y, F.col("res"), F.col(f"r{k}")).alias(f"col{k}"),
        ]
    rows = df.select(*cols).collect()

    for (px, py), row in zip(pts, rows):
        want_cell = (int(geo.cell_ix(px, res)) << 30) + int(geo.cell_iy(py, res))
        assert row["cell_lit"] == row["cell_col"] == want_cell
        for k, r in enumerate(radii):
            want = _corner_cover(px, py, res, r)
            assert row[f"lit{k}"] == want, (px, py, r)
            assert row[f"col{k}"] == want, (px, py, r)
