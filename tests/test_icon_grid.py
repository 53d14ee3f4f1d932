"""ICON triangular-mesh grid ingest: file → distributed grid table,
orientation, antimeridian split, and remap onto the mesh.
Reference ICONGrid semantics: emiproc/grids.py:837-1013."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from emiproc_spark.functions import geometry as geom
from emiproc_spark.sources.icon_grid import (
    icon_mesh_grid,
    make_icon_grid_file,
    triangle_wkb_batch,
)


def test_triangle_wkb_batch_roundtrip():
    lon = np.array([[0.0, 2.0, 2.0], [10.0, 12.0, 10.0]])
    lat = np.array([[0.0, 0.0, 2.0], [5.0, 7.0, 7.0]])
    wkbs = triangle_wkb_batch(lon, lat)
    assert len(wkbs) == 2
    _, rings = geom.parse_wkb(wkbs[0])
    assert len(rings) == 1
    np.testing.assert_allclose(rings[0][:3], [(0, 0), (2, 0), (2, 2)])
    assert abs(geom.shoelace_area(rings[0][:-1]) - 2.0) < 1e-12


def test_icon_mesh_grid_basic(spark, tmp_path):
    # two CCW triangles + one deliberately CW (gets flipped at ingest)
    tri_lon = np.array([[0.0, 2.0, 2.0], [0.0, 2.0, 0.0], [4.0, 4.0, 6.0]])
    tri_lat = np.array([[0.0, 0.0, 2.0], [0.0, 2.0, 2.0], [0.0, 2.0, 0.0]])
    p = make_icon_grid_file(
        str(tmp_path / "grid.nc"), tri_lon, tri_lat, areas_m2=[1.0, 2.0, 3.0]
    )
    g = icon_mesh_grid(spark, p).orderBy("cell_id").collect()
    assert [r["cell_id"] for r in g] == [0, 1, 2]
    assert all(r["part"] == 0 for r in g)
    assert g[0]["xmin"] == 0.0 and abs(g[0]["xmax"] - 2.0) < 1e-12
    assert g[2]["area_m2"] == 3.0
    for r in g:
        _, rings = geom.parse_wkb(bytes(r["geometry"]))
        assert geom.shoelace_area(rings[0][:-1]) > 0  # CCW after ingest


def test_icon_mesh_antimeridian_split(spark, tmp_path):
    # triangle straddling the ±180 meridian: vertices at 179 and -179
    tri_lon = np.array([[179.0, -179.0, 179.0]])
    tri_lat = np.array([[0.0, 0.0, 2.0]])
    p = make_icon_grid_file(str(tmp_path / "wrap.nc"), tri_lon, tri_lat)
    rows = icon_mesh_grid(spark, p).orderBy("part").collect()
    assert len(rows) == 2
    assert {r["part"] for r in rows} == {0, 1}
    for r in rows:
        assert -180.0 <= r["xmin"] <= r["xmax"] <= 180.0
    # split conserves area: total = 2°-wide triangle area (base 2, h 2)
    total = 0.0
    for r in rows:
        _, rings = geom.parse_wkb(bytes(r["geometry"]))
        total += abs(geom.shoelace_area(rings[0][:-1]))
    assert abs(total - 2.0) < 1e-9


def test_remap_rect_inventory_onto_icon_mesh(spark, tmp_path):
    """1×1 rect cells onto 2×2 diagonal-split triangles: weights are
    exactly 1 (interior cells) or 0.5 (diagonal cells), conservation
    holds."""
    from emiproc_spark.grids import regular_grid
    from emiproc_spark.operators.regrid import weights_poly_poly

    tiles = [(tx * 2.0, ty * 2.0) for tx in range(2) for ty in range(2)]
    lon, lat = [], []
    for x0, y0 in tiles:
        lon.append([x0, x0 + 2, x0 + 2]); lat.append([y0, y0, y0 + 2])   # lower
        lon.append([x0, x0 + 2, x0]); lat.append([y0, y0 + 2, y0 + 2])   # upper
    p = make_icon_grid_file(
        str(tmp_path / "mesh.nc"), np.array(lon), np.array(lat)
    )
    mesh = icon_mesh_grid(spark, p)
    fine = regular_grid(spark, 0.0, 0.0, 4, 4, 1.0, 1.0)
    w = weights_poly_poly(
        fine.select(F.col("cell_id").alias("source_id"), "geometry",
                    "xmin", "ymin", "xmax", "ymax"),
        mesh,
        tile=2.0,
    )
    rows = w.collect()
    # every fine cell's weights sum to 1 (fully covered by the mesh)
    per_src = {}
    for r in rows:
        per_src[r["src_id"]] = per_src.get(r["src_id"], 0.0) + r["weight"]
    assert len(per_src) == 16
    assert all(abs(s - 1.0) < 1e-9 for s in per_src.values())
    # weights are 1.0 (off-diagonal) or 0.5 (diagonal cells)
    vals = sorted(round(r["weight"], 9) for r in rows)
    assert set(vals) == {0.5, 1.0}
    assert vals.count(0.5) == 16  # 2 diagonal cells × 2 halves × 4 tiles


def test_remap_through_wrapped_cell_sums_both_parts(spark, tmp_path):
    """A mesh cell split at ±180° emits two parts under one cell_id; the
    poly-poly refine must clip against EACH part's own geometry (caches
    key on geometry, not id) so the remap counts both sides."""
    from emiproc_spark.grids import regular_grid
    from emiproc_spark.operators.regrid import weights_poly_poly

    # triangle straddling the antimeridian: (179,0) (-179,0) (179,2)
    # → west part near lon 179..180, east part near -180..-179
    p = make_icon_grid_file(
        str(tmp_path / "wrap.nc"),
        np.array([[179.0, -179.0, 179.0]]),
        np.array([[0.0, 0.0, 2.0]]),
    )
    mesh = icon_mesh_grid(spark, p)
    # two source squares, one on each side of the meridian, fully
    # inside the triangle's bbox span
    src = regular_grid(spark, 179.0, 0.0, 1, 1, 0.5, 0.5).unionByName(
        regular_grid(spark, -180.0, 0.0, 1, 1, 0.5, 0.5).withColumn(
            "cell_id", F.col("cell_id") + 100
        )
    )
    w = weights_poly_poly(
        src.select(F.col("cell_id").alias("source_id"), "geometry",
                   "xmin", "ymin", "xmax", "ymax"),
        mesh,
        tile=1.0,
    ).collect()
    got = {}
    for r in w:
        got[r["src_id"]] = got.get(r["src_id"], 0.0) + r["weight"]
    # both sides found the (single) mesh cell with nonzero overlap
    assert set(got) == {0, 100}
    assert all(v > 0.1 for v in got.values())


@pytest.mark.parametrize(
    "reader, why",
    [
        ("icon_mesh_grid", "ICON cell ids are per-file — pass a single grid "
         "file (load multiple domains separately and offset cell_ids before "
         "unioning)"),
        ("wrf_grid", "WRF cell ids are per-domain — load each wrfinput "
         "separately and offset cell_ids before unioning (same contract as "
         "icon_mesh_grid)"),
    ],
)
def test_grid_readers_reject_multiple_files(spark, tmp_path, reader, why):
    """Grid readers with per-file cell ids raise when the path matches
    two files, before any decode (the files are junk).  A zero-length
    file is not counted: the file scan skips it."""
    from emiproc_spark.sources.wrf_grid import wrf_grid

    for name, data in (("a.nc", b"junk"), ("b.nc", b"junk"), ("empty.nc", b"")):
        (tmp_path / name).write_bytes(data)
    read = {"icon_mesh_grid": icon_mesh_grid, "wrf_grid": wrf_grid}[reader]
    with pytest.raises(ValueError) as err:
        read(spark, str(tmp_path))
    assert str(err.value) == f"{reader}: {str(tmp_path)!r} matched 2 files; {why}"
