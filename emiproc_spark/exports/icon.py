"""ICON-OEM export: per-cycle scaling-factor files + gridded inventory
(reference emiproc/exports/icon.py).

``make_icon_time_profiles`` writes the OEM temporal-profile files —
``hourofday.nc`` / ``dayofweek.nc`` / ``monthofyear.nc`` — in the exact
OEM layout (icon.py:430-550): per (category, substance) a
``(cycle, country)`` scaling-factor matrix over the regionized
"countries" (distinct timezone × profile pairs, see
``exports.writers.regionize``), with coords ``country``,
``timezone_of_country``, ``temporal_profile_id`` and ``region_key``,
and the hour-of-day cycle rolled by each region's UTC offset
(``np.roll(sf, -tz_shift)``, icon.py:505-526).

Spark shape: scaling factors and the tz roll are computed JVM-side
(array ops over the broadcast profile store); only the final dense
(cycle × region) matrices — dimension-sized — are collected into the
NetCDF-3 writer.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from emiproc_spark.exports.netcdf import raster_axes, scratch_dir, write_slabs
from emiproc_spark.exports.writers import dim_codes
from emiproc_spark.functions.netcdf3 import LazySlab, NCDataset, NCVariable, write_netcdf
from emiproc_spark.localdf import collect_bounded, local_rows_df
from emiproc_spark.sources.netcdf import SEC_PER_YR, lonmajor_raster

# the ICON exports collect REGION-sized matrices (regions × catsubs ×
# cycles); a pull over collect_bounded's limit names the likely cause
NOT_REGION_SIZED = (
    " (input not region-sized: cell-level ids passed as regions? regionize first)"
)


CYCLE_FILES = {
    "daily": ("hourofday", 24),
    "weekly": ("dayofweek", 7),
    "monthly": ("monthofyear", 12),
    "hour_of_year": ("hourofyear", 8760),
}

DEFAULT_NC_ATTRIBUTES = {
    "DESCRIPTION": "Temporal profiles for emissions",
    "DATAORIGIN": "emiproc_spark",
}


def region_scaling_factors(
    index: DataFrame,
    tprofiles: DataFrame,
    regions: DataFrame,
    correct_tz_shift: bool = True,
) -> DataFrame:
    """Per-(category, substance, region, ptype) scaling-factor vectors.

    ``index``: (category, substance, region_id, ptype, profile_id);
    ``tprofiles``: (profile_id, ptype, ratios);
    ``regions``: (region_id, region_key, tz_shift).

    sf = ratio × cycle_size (reference scaling_factors,
    profiles/temporal/composite.py:205-212); the daily cycle rolls by
    −tz_shift so local-time profiles apply in UTC (np.roll(sf, −shift),
    icon.py:505-526): out[i] = in[(i + shift) mod n] — a UTC+1 region's
    local hour 8 peak lands at UTC hour 7 (same direction as
    writers.tz_shifted_ratios).
    """
    joined = (
        index.join(F.broadcast(tprofiles), ["ptype", "profile_id"], "inner")
        .join(F.broadcast(regions.select("region_id", "tz_shift")), "region_id")
    )
    n = F.size("ratios")
    sf = F.transform(F.col("ratios"), lambda r: r * n)
    shift = F.col("tz_shift")
    rolled = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.element_at("ratios", (((i + shift) % n + n) % n) + 1) * n,
    )
    return joined.select(
        "category",
        "substance",
        "region_id",
        "ptype",
        "profile_id",
        F.when(F.lit(correct_tz_shift) & F.col("ptype").isin("daily", "hour_of_year"), rolled)
        .otherwise(sf)
        .alias("sf"),
    )


def make_icon_time_profiles(
    index: DataFrame,
    tprofiles: DataFrame,
    regions: DataFrame,
    out_dir: str,
    correct_tz_shift: bool = True,
    var_name: str = "{category}_{substance}",
    nc_attrs: dict | None = None,
) -> dict[str, str]:
    """Write the OEM per-cycle scaling-factor NetCDF files
    (reference make_icon_time_profiles, icon.py:430-550).

    Returns {cycle file stem: path}.  One file per ptype present in the
    index; each (category, substance) becomes a variable with dims
    ``(<cycle>, country)``; region metadata lands in the coord
    variables exactly like the reference (icon.py:527-545).
    """
    os.makedirs(out_dir, exist_ok=True)
    sf = region_scaling_factors(index, tprofiles, regions, correct_tz_shift)
    # dimension-sized: regions × catsubs × cycles; sorted so that the
    # temporal_profile_id coordinate (last write per region below) is
    # deterministic — collect() order after a shuffle is not
    rows = sorted(
        collect_bounded(
            sf, "make_icon_time_profiles scaling factors" + NOT_REGION_SIZED
        ),
        key=lambda r: (r["ptype"], r["category"], r["substance"], r["region_id"]),
    )
    reg_rows = sorted(
        collect_bounded(
            regions.select("region_id", "region_key", "tz_shift"),
            "make_icon_time_profiles regions" + NOT_REGION_SIZED,
        ),
        key=lambda r: r["region_id"],
    )
    region_ids = [r["region_id"] for r in reg_rows]
    reg_pos = {rid: i for i, rid in enumerate(region_ids)}
    nreg = len(region_ids)

    by_ptype: dict[str, dict[tuple[str, str], np.ndarray]] = {}
    prof_of_region: dict[str, np.ndarray] = {}
    for r in rows:
        ptype = r["ptype"]
        _, size = CYCLE_FILES[ptype]
        mats = by_ptype.setdefault(ptype, {})
        key = (r["category"], r["substance"])
        if key not in mats:
            mats[key] = np.ones((size, nreg))
        mats[key][:, reg_pos[r["region_id"]]] = np.asarray(r["sf"])
        pids = prof_of_region.setdefault(ptype, np.full(nreg, -1, dtype=np.int32))
        pids[reg_pos[r["region_id"]]] = r["profile_id"]

    keys = np.array([str(r["region_key"]) for r in reg_rows])
    klen = max(1, max(len(k) for k in keys))
    key_chars = np.zeros((nreg, klen), dtype="S1")
    for i, k in enumerate(keys):
        b = k.encode()[:klen]
        key_chars[i, : len(b)] = np.frombuffer(b, dtype="S1")

    out = {}
    for ptype, mats in by_ptype.items():
        stem, size = CYCLE_FILES[ptype]
        ds = NCDataset()
        ds.dims = {stem: size, "country": nreg, "region_str_len": klen}
        ds.attrs = dict(nc_attrs or DEFAULT_NC_ATTRIBUTES)
        ds.attrs["title"] = f"{stem} profiles"
        ds.variables["country"] = NCVariable(
            "country", ("country",), np.arange(nreg, dtype=np.int32)
        )
        ds.variables["timezone_of_country"] = NCVariable(
            "timezone_of_country",
            ("country",),
            np.array([r["tz_shift"] for r in reg_rows], dtype=np.int32),
        )
        ds.variables["temporal_profile_id"] = NCVariable(
            "temporal_profile_id", ("country",), prof_of_region[ptype]
        )
        ds.variables["region_key"] = NCVariable(
            "region_key", ("country", "region_str_len"), key_chars
        )
        for (cat, sub), mat in sorted(mats.items()):
            name = var_name.format(category=cat, substance=sub)
            ds.variables[name] = NCVariable(
                name,
                (stem, "country"),
                mat,
                {"units": "1", "long_name": f"{stem} scaling factors for {name}"},
            )
        path = os.path.join(out_dir, f"{stem}.nc")
        write_netcdf(path, ds)
        out[stem] = path
    return out


def make_icon_vertical_profiles(
    vprofiles: DataFrame,
    out_dir: str,
    nc_attrs: dict | None = None,
) -> str:
    """Write OEM vertical_profiles.nc (reference
    make_icon_vertical_profiles, icon.py:552-600): one scaling-factor
    variable per category over a shared ``level`` axis plus
    layer_bot/mid/top bounds.

    ``vprofiles``: (category, height_top, ratio) — heights must already
    share one level set (use operators.vertical.vertical_rebin to
    resample first, mirroring the reference's
    resample_vertical_profiles)."""
    os.makedirs(out_dir, exist_ok=True)
    rows = collect_bounded(
        vprofiles, "make_icon_vertical_profiles" + NOT_REGION_SIZED
    )
    heights = sorted({float(r["height_top"]) for r in rows})
    hpos = {h: i for i, h in enumerate(heights)}
    cats = sorted({r["category"] for r in rows})
    ds = NCDataset()
    ds.dims = {"level": len(heights)}
    ds.attrs = dict(nc_attrs or DEFAULT_NC_ATTRIBUTES)
    ds.attrs["title"] = "Vertical profiles"
    for cat in cats:
        arr = np.zeros(len(heights))
        for r in rows:
            if r["category"] == cat:
                arr[hpos[float(r["height_top"])]] = r["ratio"]
        ds.variables[cat] = NCVariable(
            cat, ("level",), arr,
            {"long_name": f"vertical scaling factor for sources of {cat} category",
             "units": "1"},
        )
    top = np.array(heights)
    bot = np.roll(top, 1)
    bot[0] = 0.0
    ds.variables["layer_top"] = NCVariable("layer_top", ("level",), top)
    ds.variables["layer_bot"] = NCVariable("layer_bot", ("level",), bot)
    ds.variables["layer_mid"] = NCVariable("layer_mid", ("level",), (top + bot) / 2.0)
    path = os.path.join(out_dir, "vertical_profiles.nc")
    write_netcdf(path, ds)
    return path


def export_inventory_profiles(
    tprofile_index: DataFrame,
    tprofiles: DataFrame,
    cell_tz: DataFrame,
    grid: DataFrame,
    out_dir: str,
    vprofiles: DataFrame | None = None,
    tz_shifts: dict[str, int] | None = None,
    var_name: str = "{category}_{substance}",
    nc_attrs: dict | None = None,
) -> dict[str, str]:
    """Named composition mirroring the reference's
    ``export_inventory_profiles`` (emiproc/exports/profiles.py:22-130):
    OEM per-cycle time-profile files + optional vertical_profiles.nc +
    a ``tz_mask.nc`` raster mapping every grid cell to its timezone
    region index.

    ``tprofile_index``: (category, substance, ptype, profile_id) —
    profiles varying only on category/substance, like the reference
    (it raises for cell-varying indexes; resolve those first).
    ``cell_tz``: (cell_id, tzid); ``grid``: regular raster dimension
    table (cell_id, lon, lat).  ``tz_shifts``: tzid → UTC offset hours
    (the reference derives these from the tz database at a given year;
    inject them here).  Returns {file stem: path} incl. ``tz_mask``.
    """
    os.makedirs(out_dir, exist_ok=True)
    shifts = tz_shifts or {}
    spark = tprofile_index.sparkSession

    # the reference raises for indexes varying on anything beyond
    # (category, substance) (profiles.py:52-57); mirror that contract —
    # cell/country columns or duplicate (cat, sub, ptype) rows would
    # otherwise produce silently nondeterministic OEM files
    extra = [c for c in ("cell_id", "country") if c in tprofile_index.columns]
    if extra:
        raise NotImplementedError(
            f"export_inventory_profiles: index varies on {extra}; only "
            "(category, substance) profiles can be exported — remap or "
            "resolve the index first (reference exports/profiles.py:52)"
        )
    n_dup = (
        tprofile_index.groupBy("category", "substance", "ptype")
        .count()
        .where(F.col("count") > 1)
        .limit(1)
        .count()
    )
    if n_dup:
        raise ValueError(
            "export_inventory_profiles: duplicate (category, substance, "
            "ptype) index rows — collapse them before exporting"
        )

    # regions = distinct timezones (profiles vary on cat/sub only, so
    # the (tz, profile) pair degenerates to tz — reference's unique_tz)
    tz_rows = sorted(
        r["tzid"]
        for r in collect_bounded(
            cell_tz.select("tzid").distinct(),
            "export_inventory_profiles distinct timezones" + NOT_REGION_SIZED,
        )
    )
    regions = local_rows_df(
        spark,
        [(i, tz, int(shifts.get(tz, 0))) for i, tz in enumerate(tz_rows)],
        "region_id int, region_key string, tz_shift int",
    )
    index = tprofile_index.crossJoin(
        F.broadcast(regions.select("region_id"))
    ).select("category", "substance", "region_id", "ptype", "profile_id")
    out = make_icon_time_profiles(
        index, tprofiles, regions, out_dir, var_name=var_name, nc_attrs=nc_attrs
    )
    if vprofiles is not None:
        out["vertical_profiles"] = make_icon_vertical_profiles(
            vprofiles, out_dir, nc_attrs=nc_attrs
        )

    # tz_mask.nc: dense (lat, lon) int raster of region indexes,
    # written executor-side as one slab — no grid.toPandas on the driver
    tzm = {t: i for i, t in enumerate(tz_rows)}
    lons, lats = raster_axes(grid)

    def fill_mask(pdf):
        m = np.full((lats.size, lons.size), -1, dtype=np.int32)
        la = np.searchsorted(lats, pdf["lat"].to_numpy())
        lo = np.searchsorted(lons, pdf["lon"].to_numpy())
        m[la, lo] = pdf["tzid"].map(lambda t: tzm.get(t, -1)).to_numpy(dtype=np.int32)
        return m

    with scratch_dir(out_dir) as slab_dir:
        cells = grid.select("cell_id", "lon", "lat").join(cell_tz, "cell_id", "left")
        slab = write_slabs(cells, [], fill_mask, slab_dir).get(())
        # an empty grid has no group, hence no slab: emit the empty mask
        mask = np.load(slab[0]) if slab else np.full((0, 0), -1, dtype=np.int32)
    ds = NCDataset()
    ds.dims = {"lat": lats.size, "lon": lons.size,
               "country_id": len(tz_rows)}
    ds.attrs = dict(nc_attrs or DEFAULT_NC_ATTRIBUTES)
    ds.variables["lat"] = NCVariable("lat", ("lat",), lats, {"units": "degrees_north"})
    ds.variables["lon"] = NCVariable("lon", ("lon",), lons, {"units": "degrees_east"})
    ds.variables["tz_mask"] = NCVariable(
        "tz_mask", ("lat", "lon"), mask,
        {"long_name": "timezone region index per cell"},
    )
    # byte-safe label matrix (same construction as the region_key
    # variable in make_icon_time_profiles): encode, then copy into a
    # zeroed S1 buffer so non-ASCII zone names cannot crash or misalign
    enc = [t.encode() for t in tz_rows]
    strlen = max((len(b) for b in enc), default=1)
    ds.dims["tz_str_len"] = strlen
    buf = np.zeros((len(enc), strlen), dtype="S1")
    for i, b in enumerate(enc):
        row = np.frombuffer(b[:strlen], dtype="S1")
        buf[i, : row.size] = row
    ds.variables["timezones"] = NCVariable(
        "timezones", ("country_id", "tz_str_len"), buf
    )
    path = os.path.join(out_dir, "tz_mask.nc")
    write_netcdf(path, ds)
    out["tz_mask"] = path
    return out


def export_oem_gridded_emissions(
    mesh: DataFrame,
    emissions: DataFrame,
    path: str,
    var_name: str = "{category}-{substance}",
    nc_attrs: dict | None = None,
    group_dict: dict[str, list[str]] | None = None,
) -> str:
    """Write ``oem_gridded_emissions.nc`` — the emission half of the
    reference's ``export_icon_oem`` (exports/icon.py:92-206): one
    ``{category}-{substance}`` variable over the ``cell`` dimension in
    OEM units kg/m²/s (converted with the mesh cell areas and 365.25
    days/year, icon.py:125-128,189-192), plus ``clon``/``clat`` cell
    coordinates so OEM can match the dynamics grid.

    ``mesh``: the ICON mesh table (cell_id, lon, lat, area_m2) from
    ``sources.icon_grid.icon_mesh_grid``; cell ids must be the dense
    0..n_cells−1 index icon_mesh_grid assigns (emission rows outside
    that range raise — the "remap onto the ICON grid first" check,
    reference icon.py:176-181).

    Scale posture: the Spark side reduces to one value per (cell,
    category, substance); ``exports.netcdf.write_slabs`` writes each
    (category, substance) mesh vector, and the coordinate triple, as
    an executor-side slab; the driver streams them into the file one
    variable at a time via ``LazySlab``, so driver memory stays ONE
    mesh-length array even for multi-million-cell meshes with dozens
    of variables.
    """
    extent = mesh.agg(
        F.countDistinct("cell_id").alias("n"),
        F.min("cell_id").alias("lo"),
        F.max("cell_id").alias("hi"),
    )
    row = collect_bounded(extent, "export_oem_gridded_emissions mesh extent")[0]
    n_cells = int(row["n"])
    if n_cells == 0:
        raise ValueError("mesh is empty")
    if row["lo"] != 0 or row["hi"] != n_cells - 1:
        raise ValueError(
            f"mesh cell_ids must be dense 0..{n_cells - 1} "
            f"(got [{row['lo']}, {row['hi']}] over {n_cells} distinct ids)"
        )

    with scratch_dir(os.path.dirname(os.path.abspath(path))) as slab_dir:
        # coordinate slab: one executor task scatters (lon, lat, area)
        # by cell_id — the mesh is a one-column raster.  antimeridian
        # -split cells appear as several parts carrying the FULL cell
        # area (sources/icon_grid.py decode), so first() per cell —
        # summing would double-count wrap cells.
        def fill_coords(pdf):
            return np.stack(
                [lonmajor_raster(pdf["cell_id"], pdf[c], n_cells, 1)[:, 0]
                 for c in ("lon", "lat", "area_m2")]
            )

        coord_slabs = write_slabs(
            mesh.groupBy("cell_id").agg(
                F.first("lon").alias("lon"),
                F.first("lat").alias("lat"),
                F.first("area_m2").alias("area_m2"),
            ),
            [],
            fill_coords,
            slab_dir,
        )

        # per-(category, substance) mesh slabs, one executor task each;
        # the strings are dictionary-encoded before the shuffle
        # (per-cell repeated strings roughly double the exchange bytes
        # — see export_hourly_netcdf) and decoded on the driver
        codes, decode = dim_codes(emissions, ["category", "substance"])

        def fill_slab(pdf):
            try:
                return lonmajor_raster(pdf["cell_id"], pdf["value_kg_y"], n_cells, 1)[:, 0]
            except ValueError as e:
                cat, sub = decode[int(pdf["cs_code"].iloc[0])]
                raise ValueError(
                    f"emissions for ({cat}, {sub}) reference cell ids outside "
                    f"the mesh range [0, {n_cells}); remap onto the ICON grid "
                    "first"
                ) from e

        slabs = write_slabs(
            emissions.join(F.broadcast(codes), ["category", "substance"])
            .groupBy("cell_id", "cs_code")
            .agg(F.sum("value_kg_y").alias("value_kg_y")),
            ["cs_code"],
            fill_slab,
            slab_dir,
        )
        slab_of = {decode[code]: p for (code,), (p, _) in slabs.items()}

        ((coords_path, _),) = coord_slabs.values()
        coords = np.load(coords_path)  # driver peak: one (3, n) array
        area = coords[2]

        def flux_loader(p: str):
            return np.load(p) / area / SEC_PER_YR

        ds = NCDataset(
            dims={"cell": n_cells},
            attrs=dict(nc_attrs or DEFAULT_NC_ATTRIBUTES),
            variables={
                "clon": NCVariable(
                    "clon", ("cell",), coords[0], {"units": "degrees_east"}
                ),
                "clat": NCVariable(
                    "clat", ("cell",), coords[1], {"units": "degrees_north"}
                ),
                "cell_area": NCVariable(
                    "cell_area", ("cell",), area, {"units": "m2"}
                ),
            },
        )
        for (cat, sub) in sorted(slab_of):
            name = var_name.format(category=cat, substance=sub)
            attrs = {
                "units": "kg/m2/s",
                "standard_name": name,
                "long_name": f"Emission of {sub} from {cat}",
            }
            if group_dict and cat in group_dict:
                attrs["group_made_from"] = str(group_dict[cat])
            ds.variables[name] = NCVariable(
                name,
                ("cell",),
                LazySlab(
                    (n_cells,), "float64",
                    lambda p=slab_of[(cat, sub)]: flux_loader(p),
                ),
                attrs,
            )
        write_netcdf(path, ds)
    return path
