"""NetCDF raster export (reference export_raster_netcdf,
emiproc/exports/rasters.py:14-323) on the pure-numpy NetCDF-3 codec.

Semantics mirrored from the reference:

- one variable per (substance, category) named by ``var_name_format``
  (default ``{substance}_{category}``), or per substance with a
  ``category`` dimension when ``group_categories=True``
  (rasters.py:63-68,113-162);
- unit choices kg/year/cell (identity), kg/m2/s (÷ area ÷ s/yr),
  µg/m2/s (×1e9 on the flux) — rasters.py:95-106;
- ``add_totals``: per-substance ``emi_{sub}_all_sectors`` raster sum
  over categories (in the file unit) and scalar ``emi_{sub}_total``
  always in kg/yr (rasters.py:247-306);
- lon/lat center + bounds coordinates with CF attributes, ``cell_area``
  variable, CF global attributes, year midpoint time stamp
  (rasters.py:163-320).

Scale posture: the heavy work — reducing fact-scale emissions to one
value per (cell, category, substance) — happens in Spark with map-side
partial aggregation.  This module also holds the slab lifecycle every
raster exporter (raster, hourly, fluxie, ICON) shares:
:func:`raster_axes` (one aggregate for the axes), the lon-major layout
check, :func:`scratch_dir` and :func:`write_slabs`, which writes each
dense slab EXECUTOR-side as a ``.npy`` file (cells scattered by
``sources.netcdf.lonmajor_raster``) and returns only per-slab metadata.
The driver streams the slabs one at a time into the final NetCDF
through ``LazySlab`` — peak driver memory is one raster
(``group_categories`` stacks ncat rasters for its one variable), never
the full cell × (category, substance) matrix.  The output's directory
must be a shared filesystem on a real cluster.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import shutil
import tempfile
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from emiproc_spark.exports.writers import dim_codes, encode_dims
from emiproc_spark.functions.netcdf3 import LazySlab, NCDataset, NCVariable, write_netcdf
from emiproc_spark.localdf import collect_bounded
from emiproc_spark.sources.netcdf import SEC_PER_YR, lonmajor_raster

KG_PER_YEAR = "kg/year/cell"
KG_PER_M2_PER_S = "kg/m2/s"
MUG_PER_M2_PER_S = "mug/m2/s"


def cf_global_attributes(
    author: str = "emiproc_spark",
    title: str = "emiproc_spark generated file",
    source: str = "",
    comment: str = "",
    institution: str = "",
    history: str = "",
    references: str = "",
    additional_attributes: dict | None = None,
) -> dict:
    """CF-convention global attributes (reference nc_cf_attributes,
    exports/netcdf.py:6-69) — creation stamp + provenance fields."""
    now = datetime.datetime.now(datetime.timezone.utc).isoformat()
    attrs = {
        "Conventions": "CF-1.10",
        "title": title,
        "author": author,
        "institution": institution,
        "source": source,
        "comment": comment,
        "history": f"{now} created by emiproc_spark" + (f"; {history}" if history else ""),
        "references": references,
        "created": now,
    }
    attrs.update(additional_attributes or {})
    return {k: v for k, v in attrs.items() if v != ""}


def _coord_vars(lon_c: np.ndarray, lat_c: np.ndarray, lon_name: str, lat_name: str):
    def bounds(c):
        step = c[1] - c[0] if c.size > 1 else 1.0
        return np.append(c - step / 2.0, c[-1] + step / 2.0)

    return [
        NCVariable(
            lon_name,
            (lon_name,),
            lon_c,
            {
                "standard_name": "longitude",
                "long_name": "longitude",
                "units": "degrees_east",
                "comment": "center_of_cell",
                "bounds": f"{lon_name}_bnds",
                "axis": "X",
            },
        ),
        NCVariable(
            lat_name,
            (lat_name,),
            lat_c,
            {
                "standard_name": "latitude",
                "long_name": "latitude",
                "units": "degrees_north",
                "comment": "center_of_cell",
                "bounds": f"{lat_name}_bnds",
                "axis": "Y",
            },
        ),
        NCVariable(
            f"{lon_name}_bnds",
            (f"{lon_name}_bnds",),
            bounds(lon_c),
            {"units": "degrees_east", "comment": "cell_boundaries", "axis": "X"},
        ),
        NCVariable(
            f"{lat_name}_bnds",
            (f"{lat_name}_bnds",),
            bounds(lat_c),
            {"units": "degrees_north", "comment": "cell_boundaries", "axis": "Y"},
        ),
    ]


def raster_axes(grid: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Sorted ``(lons, lats)`` axes of a dense regular raster grid from
    ONE aggregate job (the axes are dimension-sized; the grid never
    reaches the driver).  Raises when ``nlon·nlat`` is not the row
    count."""
    axes = grid.agg(
        F.count("*").alias("n"),
        F.collect_set("lon").alias("lons"),
        F.collect_set("lat").alias("lats"),
    )
    row = collect_bounded(axes, "raster_axes")[0]
    lons = np.sort(np.array(row["lons"], dtype=float))
    lats = np.sort(np.array(row["lats"], dtype=float))
    if lons.size * lats.size != row["n"]:
        raise ValueError("grid is not a dense regular raster")
    return lons, lats


def _lonmajor_error(pdf, lat_c: np.ndarray, lon_c: np.ndarray) -> str | None:
    """The error for the first grid row whose ``cell_id`` is not
    ``lon_i * nlat + lat_i`` on the sorted axes, or None.  A grid with
    another numbering (e.g. north-to-south) would otherwise silently
    mirror every raster against its coordinate variables."""
    lat_i = np.searchsorted(lat_c, pdf["lat"].to_numpy())
    lon_i = np.searchsorted(lon_c, pdf["lon"].to_numpy())
    cell = pdf["cell_id"].to_numpy()
    expect = lon_i.astype(np.int64) * lat_c.size + lat_i
    bad = np.flatnonzero(cell != expect)
    if not bad.size:
        return None
    k = bad[0]
    return (
        f"grid is not lon-major ascending: cell_id {cell[k]} sits at "
        f"(lat {pdf['lat'].iloc[k]}, lon {pdf['lon'].iloc[k]}) = index "
        f"{expect[k]} — renumber the grid (cell_id = lon_i*nlat + lat_i, "
        "axes ascending) before exporting"
    )


def validate_lonmajor_grid(grid: DataFrame, lats, lons) -> None:
    """Distributed lon-major layout check for exporters that write no
    area slab: one map-only scan of the dimension-sized grid
    (searchsorted against the closure-carried axes, no join, no
    shuffle); raises on the first mismatch."""
    lat_c = np.sort(np.asarray(lats, dtype=float))
    lon_c = np.sort(np.asarray(lons, dtype=float))

    def check(batches):
        for pdf in batches:
            msg = _lonmajor_error(pdf, lat_c, lon_c)
            if msg is not None:
                yield pd.DataFrame({"msg": [msg]})

    hits = grid.select("cell_id", "lat", "lon").mapInPandas(check, "msg string")
    hit = collect_bounded(hits.limit(1), "validate_lonmajor_grid")
    if hit:
        raise ValueError(hit[0]["msg"])


@contextmanager
def scratch_dir(parent: str):
    """A fresh slab directory inside ``parent`` (the output's directory,
    which must be a shared filesystem on a real cluster), removed when
    the export ends, also on error.  Concurrent exports into the same
    directory never share or delete each other's slabs."""
    os.makedirs(parent, exist_ok=True)
    path = tempfile.mkdtemp(prefix=".slabs_", dir=parent)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def write_slabs(
    df: DataFrame, keys: list[str], fill, slab_dir: str
) -> dict[tuple, tuple[str, float]]:
    """Write one ``.npy`` slab per ``keys`` group EXECUTOR-side: a single
    ``groupBy(keys).applyInPandas`` job saves ``fill(group pdf)`` under
    ``slab_dir`` (no keys: one group over all rows; an empty ``df``
    writes nothing).  Only ``{key values: (path, slab sum)}`` reaches
    the driver, so driver memory is bounded by the group count, never
    by the cells; the driver streams slabs back through ``LazySlab``."""

    def write(pdf: pd.DataFrame) -> pd.DataFrame:
        key = [pdf[k].iloc[0] for k in keys]
        tag = "\x00".join(map(str, keys + key)).encode()
        path = os.path.join(slab_dir, hashlib.md5(tag).hexdigest()[:16] + ".npy")
        arr = fill(pdf)
        np.save(path, arr)
        cols = {k: [v] for k, v in zip(keys, key)}
        return pd.DataFrame({**cols, "path": [path], "total": [float(arr.sum())]})

    schema = ", ".join(
        [f"{k} {df.schema[k].dataType.simpleString()}" for k in keys]
        + ["path string", "total double"]
    )
    slabs = df.groupBy(*keys).applyInPandas(write, schema)
    rows = collect_bounded(slabs, "write_slabs")
    return {tuple(r[k] for k in keys): (r["path"], r["total"]) for r in rows}


def write_area_slab(grid: DataFrame, lats, lons, slab_dir: str) -> str:
    """Write the grid's ``area_m2`` as one (nlat, nlon) slab under
    ``slab_dir`` and return its path; the same pass checks the
    lon-major layout, since it sees every grid row.  ``lats``/``lons``
    are the sorted :func:`raster_axes`.  Shared by the raster and
    hourly exporters."""

    def fill(pdf):
        msg = _lonmajor_error(pdf, lats, lons)
        if msg is not None:
            raise ValueError(msg)
        return lonmajor_raster(pdf["cell_id"], pdf["area_m2"], lats.size, lons.size)

    cols = grid.select("cell_id", "lon", "lat", "area_m2")
    ((path, _),) = write_slabs(cols, [], fill, slab_dir).values()
    return path


_SLAB_CACHE: dict = {}


def _load_npy_cached(path: str):
    """Per-process memoized ``np.load`` for slab files re-read by many
    tasks (the hourly exporter's cell_area: 8784 per-hour tasks would
    otherwise each re-fetch the same raster from the shared
    filesystem).  Python workers are reused across tasks, so each
    worker fetches once.  Keyed by (path, mtime) so a rewritten slab
    invalidates; only ONE entry is kept — slabs are per-export scratch,
    not a long-lived cache."""
    key = (path, os.path.getmtime(path))
    if key not in _SLAB_CACHE:
        _SLAB_CACHE.clear()
        _SLAB_CACHE[key] = np.load(path)
    return _SLAB_CACHE[key]


def export_raster_netcdf(
    emissions: DataFrame,
    grid: DataFrame,
    path: str,
    var_name_format: str | None = None,
    unit: str = KG_PER_YEAR,
    group_categories: bool = False,
    add_totals: bool = True,
    netcdf_attributes: dict | None = None,
    year: int | None = None,
    categories_description: dict[str, str] | None = None,
    lon_name: str = "lon",
    lat_name: str = "lat",
    container: str = "netcdf3",
) -> str:
    """Write the inventory as a NetCDF raster.

    ``emissions``: long (cell_id, category, substance, value_kg_y) on the
    raster grid (remap first if not).  ``grid``: (cell_id, lon, lat,
    area_m2) lon-major regular raster (netcdf_regular_grid layout).
    Returns the written path.
    """
    if var_name_format is None:
        var_name_format = "{substance}" if group_categories else "{substance}_{category}"

    lon_c, lat_c = raster_axes(grid)
    nlon, nlat = lon_c.size, lat_c.size

    out = path if path.endswith(".nc") else path + ".nc"
    with scratch_dir(os.path.dirname(os.path.abspath(out))) as slab_dir:
        # Spark side: reduce to one value per (cell, cat, sub) with map-side
        # partial agg, then ONE executor task per (category, substance)
        # group writes its dense (nlat, nlon) slab
        slabs = write_slabs(
            emissions.groupBy("cell_id", "category", "substance")
            .agg(F.sum("value_kg_y").alias("value_kg_y")),
            ["category", "substance"],
            lambda pdf: lonmajor_raster(
                pdf["cell_id"], pdf["value_kg_y"], nlat, nlon
            ),
            slab_dir,
        )
        slab_of = {k: p for k, (p, _) in slabs.items()}
        total_of = {k: total for k, (_, total) in slabs.items()}

        # area slab + lon-major validation in one executor pass
        area_grid = np.load(write_area_slab(grid, lat_c, lon_c, slab_dir))

        categories = sorted({c for c, _ in slab_of})
        substances = sorted({s for _, s in slab_of})
        if categories_description is not None:
            missing = set(categories) - set(categories_description)
            if missing:
                raise ValueError(
                    f"Categories are missing in `categories_description`: {missing}"
                )

        if unit == KG_PER_YEAR:
            conv = 1.0
            unit_str = "kg year-1 cell-1"
        elif unit == KG_PER_M2_PER_S:
            conv = 1.0 / SEC_PER_YR / area_grid
            unit_str = "kg m-2 s-1"
        elif unit == MUG_PER_M2_PER_S:
            conv = 1e9 / SEC_PER_YR / area_grid
            unit_str = "ug m-2 s-1"
        else:
            raise NotImplementedError(f"Unknown unit={unit!r}")

        def load_pair(cat: str, sub: str) -> np.ndarray:
            p = slab_of.get((cat, sub))
            return np.load(p) if p is not None else np.zeros((nlat, nlon))

        def pair_slab(cat: str, sub: str) -> LazySlab:
            return LazySlab(
                (nlat, nlon), "float64", lambda c=cat, s=sub: load_pair(c, s) * conv
            )

        def stacked_slab(sub: str) -> LazySlab:
            return LazySlab(
                (len(categories), nlat, nlon),
                "float64",
                lambda s=sub: np.stack([load_pair(c, s) for c in categories]) * conv,
            )

        def all_sectors_slab(sub: str) -> LazySlab:
            def load(s=sub):
                acc = np.zeros((nlat, nlon))
                for c in categories:
                    acc += load_pair(c, s)
                return acc * conv

            return LazySlab((nlat, nlon), "float64", load)

        ds = NCDataset()
        ds.dims = {
            lat_name: nlat,
            lon_name: nlon,
            f"{lat_name}_bnds": nlat + 1,
            f"{lon_name}_bnds": nlon + 1,
        }
        for v in _coord_vars(lon_c, lat_c, lon_name, lat_name):
            ds.variables[v.name] = v

        if group_categories:
            strlen = max(max((len(c) for c in categories), default=1), 1)
            ds.dims["category"] = len(categories)
            ds.dims["strlen"] = strlen
            labels = np.array(
                [list(c.ljust(strlen)) for c in categories], dtype="S1"
            ).reshape(len(categories), strlen)
            ds.variables["category"] = NCVariable(
                "category", ("category", "strlen"), labels, {"long_name": "category"}
            )
            for sub in substances:
                name = var_name_format.format(substance=sub)
                ds.variables[name] = NCVariable(
                    name,
                    ("category", lat_name, lon_name),
                    stacked_slab(sub),
                    {
                        "standard_name": (
                            f"tendency_of_atmosphere_mass_content_of_{sub}"
                            "_due_to_emission"
                        ),
                        "long_name": sub,
                        "units": unit_str,
                        "comment": f"emissions of {sub}",
                        "substance": sub,
                    },
                )
        else:
            for sub in substances:
                for cat in categories:
                    if (cat, sub) not in slab_of:
                        continue
                    name = var_name_format.format(substance=sub, category=cat)
                    ds.variables[name] = NCVariable(
                        name,
                        (lat_name, lon_name),
                        pair_slab(cat, sub),
                        {
                            "standard_name": f"{sub}_{cat}",
                            "long_name": f"{sub}_{cat}",
                            "units": unit_str,
                            "comment": (
                                categories_description[cat]
                                if categories_description
                                else f"emissions of {sub} from {cat}"
                            ),
                            "substance": sub,
                            "category": cat,
                        },
                    )

        if add_totals:
            for sub in substances:
                ds.variables[f"emi_{sub}_all_sectors"] = NCVariable(
                    f"emi_{sub}_all_sectors",
                    (lat_name, lon_name),
                    all_sectors_slab(sub),
                    {
                        "standard_name": (
                            f"tendency_of_atmosphere_mass_content_of_{sub}"
                            "_due_to_emission"
                        ),
                        "long_name": f"Aggregated Emissions of {sub} from all sectors",
                        "units": unit_str,
                        "comment": "annual mean emission rate",
                    },
                )
                # scalar total always in kg/yr (rasters.py:281-305); pure
                # driver arithmetic over per-slab totals from the meta rows
                ds.variables[f"emi_{sub}_total"] = NCVariable(
                    f"emi_{sub}_total",
                    (),
                    np.float64(
                        sum(total_of.get((cat, sub), 0.0) for cat in categories)
                    ),
                    {
                        "long_name": f"Total Emissions of {sub}",
                        "units": "kg yr-1",
                        "comment": "annual total emission",
                    },
                )

        ds.variables["cell_area"] = NCVariable(
            "cell_area",
            (lat_name, lon_name),
            area_grid,
            {
                "standard_name": "cell_area",
                "long_name": "cell_area",
                "units": "m2",
                "comment": "area of the cell",
            },
        )

        attrs = cf_global_attributes()
        attrs.update(netcdf_attributes or {})
        if year is not None:
            # year midpoint stamp (rasters.py:220-234), days since epoch
            midpoint = (datetime.date(year, 7, 1) - datetime.date(1970, 1, 1)).days
            ds.dims["time"] = 1
            ds.variables["time"] = NCVariable(
                "time",
                ("time",),
                np.array([midpoint], dtype=np.int32),
                {
                    "axis": "T",
                    "standard_name": "time",
                    "long_name": "Inventory year",
                    "units": "days since 1970-01-01",
                    "comment": "Midpoint of the year",
                },
            )
            attrs["year"] = year
        else:
            attrs["year"] = "not specified in inventory.year"
        ds.attrs = attrs

        if categories_description is not None and not group_categories:
            # description variable needs the category dim even ungrouped
            strlen = max(len(categories_description[c]) for c in categories)
            ds.dims["category"] = len(categories)
            ds.dims["desc_strlen"] = strlen
            labels = np.array(
                [list(categories_description[c].ljust(strlen)) for c in categories],
                dtype="S1",
            ).reshape(len(categories), strlen)
            ds.variables["categories_description"] = NCVariable(
                "categories_description",
                ("category", "desc_strlen"),
                labels,
                {"long_name": "Description of the categories"},
            )

        if container == "hdf5":
            # NetCDF-4 container via the minimal pure-numpy HDF5 writer.
            # It builds the file image in memory, so materialize the lazy
            # slabs up front (hdf5 mode peaks at the full dataset; the
            # netcdf3 default streams one variable at a time).
            from emiproc_spark.functions.hdf5_write import write_netcdf4

            for v in ds.variables.values():
                if getattr(v.data, "load", None) is not None:
                    v.data = v.data.load()
                elif getattr(v.data, "chunk_loaders", None) is not None:
                    v.data = np.concatenate(
                        [np.asarray(ld()) for ld in v.data.chunk_loaders], axis=0
                    )
            write_netcdf4(out, ds)
        else:
            write_netcdf(out, ds)
    return out


def export_hourly_netcdf(
    hourly: DataFrame,
    grid: DataFrame,
    nx: int,
    ny: int,
    start: str,
    out_dir: str,
    var_name_format: str = "{substance}_{category}",
    unit: str = "kg h-1",
    filename_format: str = "%Y%m%d%H.nc",
    cs_pairs: list[tuple[str, str]] | None = None,
) -> list[str]:
    """One NetCDF file per hour (reference export_hourly_emissions,
    exports/hourly.py:60-230): variables ``{substance}_{category}`` with
    dims (lat, lon, time=1), a ``cell_area`` variable, files named by
    the timestamp.

    ``hourly``: (cell_id, category, substance, hour_index, value_kg_h)
    from ``operators.temporal.temporally_scaled``.

    Scale posture: neither the hourly expansion nor the grid reaches
    the driver.  The axes come from :func:`raster_axes`, ``cell_area``
    from :func:`write_area_slab` (which also checks the lon-major
    layout), and each hour's file is assembled and written
    executor-side (``groupBy(hour_index).applyInPandas``) from
    ``lonmajor_raster`` scatters, so rows sharing a cell sum, as in
    every other exporter.  The only driver-side data
    are the two axis arrays, the dimension-sized (category, substance)
    code table, and the returned path list (one row per hour).
    Per-hour groups are already TASK-AMORTIZED: ``applyInPandas``
    runs one task per SHUFFLE PARTITION and streams every group in
    that partition through it, so there is no per-file task-launch
    cost to batch away.  (An hour-BLOCK grouping layer — the
    reference's 168-h chunking, exports/hourly.py:166-169, which does
    pay per-chunk overhead in its scheduler — was A/B-measured here
    at 2.2× SLOWER: the extra block column widens the exchange and
    the block group re-slices per hour in pandas; see PLANS round-9
    adjudication.)  ``out_dir`` must be a shared filesystem on a real
    cluster (the same contract the reference's single-node writer
    implies).

    The (category, substance) strings are DICTIONARY-ENCODED to a
    small int before the hour shuffle (broadcast join against the
    distinct pairs) and decoded executor-side from the closure-carried
    table: the two repeated strings per fact row roughly double the
    exchange bytes (network shuffle on a real cluster) and measured
    ~11% on the cold year × 100k-cell smoke, whose remaining wall is
    the ~14 GB of NetCDF writeback itself.
    """
    t0 = datetime.datetime.strptime(start, "%Y-%m-%d %H:%M:%S")
    lons, lats = raster_axes(grid)
    nlon, nlat = lons.size, lats.size
    if (nx, ny) != (nlon, nlat):
        raise ValueError(
            f"grid axes are {nlon}×{nlat} (lon×lat) but nx={nx}, ny={ny}"
        )

    with scratch_dir(out_dir) as slab_dir:
        # area slab + lon-major validation in one executor pass
        area_path = write_area_slab(grid, lats, lons, slab_dir)

        # dictionary-encode (category, substance) before the hour
        # shuffle (writers.dim_codes carries the sorted-order contract);
        # cs_pairs lets pipelines pass the pre-fan-out dimension pairs
        # so the code table costs no pass over the expansion lineage
        codes, decode = dim_codes(
            hourly, ["category", "substance"], pairs=cs_pairs
        )
        # encode_dims fails loudly on a (category, substance) missing
        # from caller-supplied cs_pairs — an inner join silently
        # dropped those hourly rows from the export
        coded = encode_dims(
            hourly, codes, ["category", "substance"]
        ).select("cell_id", "cs_code", "hour_index", "value_kg_h")

        def write_hour(pdf: pd.DataFrame) -> pd.DataFrame:
            hour = int(pdf["hour_index"].iloc[0])
            dt = t0 + datetime.timedelta(hours=hour)
            ds = NCDataset()
            ds.dims = {"lat": nlat, "lon": nlon, "time": 1}
            ds.variables["lat"] = NCVariable(
                "lat", ("lat",), lats, {"units": "degrees_north"}
            )
            ds.variables["lon"] = NCVariable(
                "lon", ("lon",), lons, {"units": "degrees_east"}
            )
            ds.variables["time"] = NCVariable(
                "time", ("time",), np.array([hour], dtype=np.int32),
                {"units": f"hours since {start}"},
            )
            ds.variables["cell_area"] = NCVariable(
                "cell_area", ("lat", "lon"), _load_npy_cached(area_path),
                {"standard_name": "cell_area", "long_name": "cell_area",
                 "units": "m2", "comment": "area of the cell"},
            )
            for code, g in pdf.groupby("cs_code"):
                cat, sub = decode[int(code)]
                arr = lonmajor_raster(g["cell_id"], g["value_kg_h"], nlat, nlon)
                name = var_name_format.format(substance=sub, category=cat)
                ds.variables[name] = NCVariable(
                    name, ("lat", "lon", "time"), arr[:, :, np.newaxis],
                    {"standard_name": f"{sub}_{cat}", "long_name": f"{sub}_{cat}",
                     "units": unit, "comment": f"emissions of {sub} from {cat}"},
                )
            path = os.path.join(out_dir, dt.strftime(filename_format))
            write_netcdf(path, ds)
            return pd.DataFrame({"hour_index": [hour], "path": [path]})

        files = (
            coded.groupBy("hour_index")
            .applyInPandas(write_hour, "hour_index long, path string")
            .orderBy("hour_index")
        )
        written = collect_bounded(files, "export_hourly_netcdf")
    return [r["path"] for r in written]
