"""Grid generators against the reference semantics they cite: HexGrid's
pointy-top layout (emiproc/grids.py:495-627) and clip_box's bbox
intersection (emiproc/inventories/utils.py:888-954)."""

import math

import numpy as np
import pytest

from emiproc_spark.functions.geometry import WKB_POLYGON, parse_wkb
from emiproc_spark.grids import clip_box_grid, hex_grid, regular_grid


def _shoelace(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * abs(float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)))


def test_hex_grid_area_is_the_hexagon_area(spark):
    size = 2.0
    rows = hex_grid(spark, 10.0, -5.0, 3, 4, size).collect()
    assert len(rows) == 12
    for r in rows:
        kind, rings = parse_wkb(bytes(r["geometry"]))
        assert kind == WKB_POLYGON and len(rings) == 1
        ring = rings[0]
        assert len(np.unique(ring, axis=0)) == 6
        assert r["area_m2"] == pytest.approx(_shoelace(ring), rel=1e-12)
        # the bbox columns bound the hexagon exactly
        xs, ys = ring[:, 0], ring[:, 1]
        assert (r["xmin"], r["xmax"]) == pytest.approx((xs.min(), xs.max()))
        assert (r["ymin"], r["ymax"]) == pytest.approx((ys.min(), ys.max()))


def test_hex_grid_odd_rows_are_offset_by_half_a_width(spark):
    size = 2.0
    w = math.sqrt(3.0) * size
    ny = 4
    grid = hex_grid(spark, 10.0, -5.0, 3, ny, size, with_geometry=False)
    cells = {r["cell_id"]: r for r in grid.collect()}
    for cid, r in cells.items():
        i, j = divmod(cid, ny)
        assert r["lon"] == pytest.approx(10.0 + i * w + (w / 2 if j % 2 else 0.0))
        assert r["lat"] == pytest.approx(-5.0 + j * 1.5 * size)
    # neighbours in one column: every odd row sits half a width east
    for i in range(3):
        lons = [cells[i * ny + j]["lon"] for j in range(ny)]
        assert np.diff(lons) == pytest.approx([w / 2, -w / 2, w / 2])


@pytest.mark.parametrize("make", ["regular", "hex"])
@pytest.mark.parametrize(
    "window",
    [
        (1.0, 1.0, 2.5, 2.5),  # edges on cell boundaries: touching cells stay out
        (-10.0, -10.0, 100.0, 100.0),  # the whole grid
        (50.0, 50.0, 60.0, 60.0),  # nothing
        (0.2, 2.7, 0.3, 2.8),  # inside one cell
    ],
)
def test_clip_box_grid_is_a_bbox_intersection_filter(spark, make, window):
    grid = (
        regular_grid(spark, 0.0, 0.0, 5, 4, 1.0, 1.0, with_geometry=False)
        if make == "regular"
        else hex_grid(spark, 0.0, 0.0, 4, 5, 0.6, with_geometry=False)
    )
    pdf = grid.toPandas()
    xmin, ymin, xmax, ymax = window
    keep = (
        (pdf["xmax"].to_numpy() > xmin)
        & (pdf["xmin"].to_numpy() < xmax)
        & (pdf["ymax"].to_numpy() > ymin)
        & (pdf["ymin"].to_numpy() < ymax)
    )
    got = sorted(r["cell_id"] for r in clip_box_grid(grid, *window).collect())
    assert got == sorted(pdf["cell_id"][keep].tolist())
