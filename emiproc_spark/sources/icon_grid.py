"""ICON triangular-mesh grid ingest (reference ICONGrid,
emiproc/grids.py:837-1013).

An ICON grid file is a NetCDF with per-cell centroids ``clon``/``clat``
(radians), vertex coordinates ``vlon``/``vlat`` (radians), the 1-based
``vertex_of_cell`` (3, ncell) connectivity, and ``cell_area`` (m²).
The grid table is built by decoding the file *executor-side* (one
``readers.scan_files`` task per file, same shape as
``sources.netcdf``) and emitting one row per triangle part:

- triangles are oriented CCW (so downstream shoelace areas are
  positive) and converted to WKB with a vectorized batch encoder — no
  per-cell Python/struct loop for the common case;
- triangles straddling the ±180° antimeridian are split at ingest into
  one row per part (``part`` 0/1) with per-part geometry and bbox —
  the reference's MultiPolygon split (grids.py:932-1013) in long form,
  which is what the tile-join regrid kernels consume directly
  (duplicate (src, dst) pairs sum in the remap aggregation).

Output schema: (cell_id, part, geometry, xmin, ymin, xmax, ymax,
lon, lat, area_m2) — ``lon``/``lat`` are the file centroids in degrees.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from emiproc_spark.functions import geometry as geom
from emiproc_spark.sources.netcdf import default_container_decoder
from emiproc_spark.sources.readers import require_one_file, scan_files

ICON_GRID_SCHEMA = (
    "cell_id long, part int, geometry binary, xmin double, ymin double, "
    "xmax double, ymax double, lon double, lat double, area_m2 double"
)

def triangle_wkb_batch(tri_lon: np.ndarray, tri_lat: np.ndarray) -> list[bytes]:
    """(n, 3) lon/lat corner arrays → n single-ring polygon WKBs,
    vectorized (shared kernel: geometry.ring_wkb_batch)."""
    from emiproc_spark.functions.geometry import ring_wkb_batch

    return ring_wkb_batch(tri_lon, tri_lat)


def icon_mesh_grid(
    spark: SparkSession,
    path: str,
    container_decoder=None,
    batch_rows: int = 200_000,
) -> DataFrame:
    """Distributed ICON grid-table build from grid NetCDF file(s).

    ``container_decoder`` as in :func:`sources.netcdf.scan_netcdf`
    (:func:`sources.netcdf.default_container_decoder` by default).

    ``path`` must resolve to exactly ONE grid file: ICON cell ids are
    per-file triangle indexes, so concatenating several grids would
    silently collide ids — load each grid separately and offset ids
    yourself if you really need a multi-domain union.
    """
    decoder = container_decoder or default_container_decoder
    require_one_file(
        spark, path, "icon_mesh_grid",
        "ICON cell ids are per-file — pass a single grid file (load multiple "
        "domains separately and offset cell_ids before unioning)",
    )

    def decode(fpath: str, content: bytes) -> Iterator[pd.DataFrame]:
        ds = decoder(content)
        clon = np.rad2deg(np.asarray(ds.variables["clon"].data, dtype=np.float64))
        clat = np.rad2deg(np.asarray(ds.variables["clat"].data, dtype=np.float64))
        vlon = np.rad2deg(np.asarray(ds.variables["vlon"].data, dtype=np.float64))
        vlat = np.rad2deg(np.asarray(ds.variables["vlat"].data, dtype=np.float64))
        voc = np.asarray(ds.variables["vertex_of_cell"].data, dtype=np.int64)
        tri_lon = vlon[voc - 1].T  # (ncell, 3)
        tri_lat = vlat[voc - 1].T
        if "cell_area" in ds.variables:
            area = np.asarray(
                ds.variables["cell_area"].data, dtype=np.float64
            )
        else:
            # grid file without cell_area (synthetic/trimmed
            # files): planar shoelace area in CRS units — the
            # regular_grid convention (grids.py docstring)
            area = 0.5 * np.abs(
                (tri_lon[:, 1] - tri_lon[:, 0])
                * (tri_lat[:, 2] - tri_lat[:, 0])
                - (tri_lat[:, 1] - tri_lat[:, 0])
                * (tri_lon[:, 2] - tri_lon[:, 0])
            )

        # orient CCW so downstream shoelace areas are positive
        cross = (tri_lon[:, 1] - tri_lon[:, 0]) * (
            tri_lat[:, 2] - tri_lat[:, 0]
        ) - (tri_lat[:, 1] - tri_lat[:, 0]) * (tri_lon[:, 2] - tri_lon[:, 0])
        cw = cross < 0
        tri_lon[cw] = tri_lon[cw][:, ::-1]
        tri_lat[cw] = tri_lat[cw][:, ::-1]

        # a triangle spanning >180° of longitude wraps the
        # antimeridian (real triangles are tiny) — split those
        span = tri_lon.max(axis=1) - tri_lon.min(axis=1)
        plain = np.flatnonzero(span <= 180.0)
        wrap = np.flatnonzero(span > 180.0)

        for lo in range(0, plain.size, batch_rows):
            sel = plain[lo : lo + batch_rows]
            yield pd.DataFrame(
                {
                    "cell_id": sel.astype(np.int64),
                    "part": np.zeros(sel.size, dtype=np.int32),
                    "geometry": triangle_wkb_batch(
                        tri_lon[sel], tri_lat[sel]
                    ),
                    "xmin": tri_lon[sel].min(axis=1),
                    "ymin": tri_lat[sel].min(axis=1),
                    "xmax": tri_lon[sel].max(axis=1),
                    "ymax": tri_lat[sel].max(axis=1),
                    "lon": clon[sel],
                    "lat": clat[sel],
                    "area_m2": area[sel],
                }
            )
        if wrap.size:
            rows = {k: [] for k in (
                "cell_id", "part", "geometry", "xmin", "ymin",
                "xmax", "ymax", "lon", "lat", "area_m2",
            )}
            for c in wrap:
                ring = np.column_stack((tri_lon[c], tri_lat[c]))
                for p_i, part in enumerate(geom.split_antimeridian(ring)):
                    rows["cell_id"].append(int(c))
                    rows["part"].append(p_i)
                    rows["geometry"].append(
                        geom.wkb_polygon([tuple(v) for v in part])
                    )
                    rows["xmin"].append(float(part[:, 0].min()))
                    rows["ymin"].append(float(part[:, 1].min()))
                    rows["xmax"].append(float(part[:, 0].max()))
                    rows["ymax"].append(float(part[:, 1].max()))
                    rows["lon"].append(float(clon[c]))
                    rows["lat"].append(float(clat[c]))
                    rows["area_m2"].append(float(area[c]))
            yield pd.DataFrame(rows)


    return scan_files(spark, path, ICON_GRID_SCHEMA, decode)


def make_icon_grid_file(
    path: str,
    tri_lon_deg: np.ndarray,
    tri_lat_deg: np.ndarray,
    areas_m2: np.ndarray | None = None,
) -> str:
    """Write a minimal synthetic ICON grid NetCDF from (n, 3) corner
    arrays (test/fixture helper — real grids come from the ICON tools).
    Vertices are deduplicated into the vlon/vlat tables the way the
    format stores them; all angles are stored in radians."""
    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf

    tri_lon_deg = np.asarray(tri_lon_deg, dtype=np.float64)
    tri_lat_deg = np.asarray(tri_lat_deg, dtype=np.float64)
    n = tri_lon_deg.shape[0]
    pts = np.column_stack((tri_lon_deg.ravel(), tri_lat_deg.ravel()))
    uniq, inverse = np.unique(pts, axis=0, return_inverse=True)
    voc = (inverse.reshape(n, 3).T + 1).astype(np.int32)  # (3, ncell) 1-based
    ds = NCDataset()
    ds.dims = {"cell": n, "vertex": uniq.shape[0], "nv": 3}
    ds.variables["clon"] = NCVariable(
        "clon", ("cell",), np.deg2rad(tri_lon_deg.mean(axis=1)), {"units": "radian"}
    )
    ds.variables["clat"] = NCVariable(
        "clat", ("cell",), np.deg2rad(tri_lat_deg.mean(axis=1)), {"units": "radian"}
    )
    ds.variables["vlon"] = NCVariable(
        "vlon", ("vertex",), np.deg2rad(uniq[:, 0]), {"units": "radian"}
    )
    ds.variables["vlat"] = NCVariable(
        "vlat", ("vertex",), np.deg2rad(uniq[:, 1]), {"units": "radian"}
    )
    ds.variables["vertex_of_cell"] = NCVariable(
        "vertex_of_cell", ("nv", "cell"), voc, {}
    )
    if areas_m2 is not None:
        ds.variables["cell_area"] = NCVariable(
            "cell_area", ("cell",), np.asarray(areas_m2, dtype=np.float64),
            {"units": "m2"},
        )
    write_netcdf(path, ds)
    return path
