"""SwissRasters ingest: ESRI ASCII grids scaled by per-year totals,
with point-source corrections (reference emiproc/inventories/swiss.py).

Layout semantics:

- one ``.asc`` raster per category (plus per-substance rasters for the
  road-transport ``evstr_*`` family, swiss.py:196-213);
- the inventory value of cell c is ``raster[c] × total(cat, sub)`` —
  per-substance rasters are normalized to sum 1 first
  (swiss.py:283-300);
- the raster array flattens ``.T[:, ::-1]`` (swiss.py:285): x-major
  with y ascending from the south edge — our ``cell_id = x·ny + y``;
- totals come from a CSV of (category, substance, year columns)
  (swiss.py:87-105) and are corrected for point sources per category
  (swiss.py:115-189).

Spark plan: per-raster ``readers.scan_files`` tasks decode + normalize
vectorized; the totals join is a broadcast; the correction algebra is
pure DataFrame arithmetic on dimension-sized tables.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.localdf import collect_bounded, local_rows_df
from emiproc_spark.sources.readers import scan_files

# reference default_point_source_correction modes (swiss.py:14-31)
KEEP_RASTER_ONLY = "keep_raster_only"
IS_ONLY_POINT_SOURCE = "is_only_point_source"
KEEP_POINT_SCALED = "keep_point_source_only_scaled_to_raster_total"
REMOVE_POINT_FROM_RASTER = "remove_point_source_from_raster_total"


def parse_ascii_grid(text: str) -> tuple[dict, np.ndarray]:
    """ESRI ASCII grid → (header, (nrows, ncols) array, top row first).
    NODATA cells become 0."""
    lines = text.splitlines()
    header: dict = {}
    i = 0
    while i < len(lines):
        parts = lines[i].split()
        if len(parts) == 2 and parts[0].lower() in (
            "ncols", "nrows", "xllcorner", "yllcorner", "cellsize",
            "nodata_value", "xllcenter", "yllcenter",
        ):
            key = parts[0].lower()
            header[key] = float(parts[1]) if "." in parts[1] or "e" in parts[1].lower() else int(parts[1])
            i += 1
        else:
            break
    if "nrows" not in header or "ncols" not in header:
        raise ValueError(
            "not an ESRI ASCII grid: header must declare ncols/nrows "
            f"(got keys {sorted(header) or 'none'})"
        )
    try:
        arr = np.loadtxt(lines[i:], dtype=np.float64, ndmin=2)
    except ValueError as e:
        raise ValueError(f"ESRI ASCII grid has non-numeric data rows: {e}") from e
    nrows, ncols = int(header["nrows"]), int(header["ncols"])
    if arr.shape != (nrows, ncols):
        if arr.size != nrows * ncols:
            raise ValueError(
                f"ESRI ASCII grid declares {nrows}×{ncols} cells but the "
                f"data section holds {arr.size}"
            )
        arr = arr.reshape(nrows, ncols)
    nodata = header.get("nodata_value")
    if nodata is not None:
        arr = np.where(arr == nodata, 0.0, arr)
    return header, arr


def scan_swiss_rasters(spark: SparkSession, path: str) -> DataFrame:
    """Distributed ``.asc`` scan → (raster_key, cell_id, value,
    file_total).

    ``raster_key`` is the file stem (the category, or
    ``category_substance`` for the per-substance family).  cell ids are
    x-major south-up (reference ``.T[:, ::-1].reshape(-1)``,
    swiss.py:285).  ``file_total``, the file's sum, is attached to every
    row, so normalization needs no second shuffle.
    """

    def decode(fpath: str, content: bytes) -> Iterator[pd.DataFrame]:
        _, arr = parse_ascii_grid(content.decode("ascii"))
        flat = arr.T[:, ::-1].reshape(-1)
        nz = np.flatnonzero(flat)
        yield pd.DataFrame(
            {
                "raster_key": os.path.splitext(os.path.basename(fpath))[0],
                "cell_id": nz.astype(np.int64),
                "value": flat[nz],
                "file_total": float(flat.sum()),
            }
        )

    return scan_files(
        spark, path,
        "raster_key string, cell_id long, value double, file_total double",
        decode,
    )


def swiss_rasters(
    spark: SparkSession,
    rasters_path: str,
    totals: DataFrame,
    str_substance_aliases: dict[str, str] | None = None,
) -> DataFrame:
    """Swiss raster inventory → long emissions.

    ``totals``: (category, substance, total) for the chosen year, point
    corrections already applied.  Plain rasters multiply raw values by
    every positive (category, substance) total (reference
    swiss.py:295-300); ``cat_sub``-named rasters normalize to sum 1 and
    carry only their own substance (swiss.py:286-294), with file
    spellings mapped through ``str_substance_aliases``
    (default nmvoc → VOC, swiss.py:219-230).
    """
    aliases = {"nmvoc": "VOC"} if str_substance_aliases is None else str_substance_aliases
    scan = scan_swiss_rasters(spark, rasters_path)
    split = F.split("raster_key", "_", 2)
    scan = scan.withColumn("cat", split[0]).withColumn(
        "sub_file", F.when(F.size(F.split("raster_key", "_")) > 1, split[1])
    )
    alias_df = local_rows_df(
        spark, list(aliases.items()) or [("", "")], "sub_file string, sub_alias string"
    )
    scan = scan.join(F.broadcast(alias_df), "sub_file", "left").withColumn(
        "sub_norm", F.coalesce("sub_alias", "sub_file")
    )
    t = totals.select("category", "substance", "total").where(F.col("total") > 0)

    # route to the per-substance branch only when the suffix is a KNOWN
    # substance: a category whose *name* contains an underscore (suffix
    # matching no substance) must stay a plain raster — the reference
    # keys this on its known per-substance family (swiss.py:286-294),
    # and an inner join on a bogus suffix would silently drop the file
    known = (
        t.select(F.col("substance").alias("sub_norm"))
        .distinct()
        .withColumn("__known_sub", F.lit(True))
    )
    scan = scan.join(F.broadcast(known), "sub_norm", "left")
    is_per_sub = F.col("sub_file").isNotNull() & F.coalesce(
        F.col("__known_sub"), F.lit(False)
    )

    plain = (
        scan.where(~is_per_sub)
        .join(F.broadcast(t), scan["raster_key"] == t["category"], "inner")
        .select(
            "cell_id",
            "category",
            "substance",
            (F.col("value") * F.col("total")).alias("value_kg_y"),
        )
    )
    per_sub = (
        scan.where(is_per_sub)
        .join(
            F.broadcast(t),
            (scan["cat"] == t["category"]) & (scan["sub_norm"] == t["substance"]),
            "inner",
        )
        .select(
            "cell_id",
            "category",
            "substance",
            (F.col("value") / F.col("file_total") * F.col("total")).alias("value_kg_y"),
        )
    )
    return plain.unionByName(per_sub)


def point_source_corrections(
    totals: DataFrame,
    point_totals: DataFrame,
    corrections: dict[str, str],
) -> tuple[DataFrame, DataFrame]:
    """Reconcile raster totals with point-source totals per category
    (reference swiss.py:115-189).

    ``totals``: (category, substance, total) raster totals;
    ``point_totals``: (category, substance, p_total) summed point mass.
    Returns (adjusted_totals, point_factors) where ``point_factors``
    (category, substance, factor) scales every point source:

    - KEEP_RASTER_ONLY: points × 0
    - IS_ONLY_POINT_SOURCE: raster must be 0 (error otherwise); stays 0
    - KEEP_POINT_SCALED: points × total/p_total, raster → 0
    - REMOVE_POINT_FROM_RASTER: raster → max(total − p_total, 0)
      (clamped like the reference's warning path, swiss.py:176-186)
    """
    spark = totals.sparkSession
    corr = local_rows_df(
        spark, list(corrections.items()) or [("", "")], "category string, corr string"
    )
    j = totals.join(
        point_totals, ["category", "substance"], "full"
    ).join(F.broadcast(corr), "category", "left").select(
        "category",
        "substance",
        F.coalesce("total", F.lit(0.0)).alias("total"),
        F.coalesce("p_total", F.lit(0.0)).alias("p_total"),
        "corr",
    )
    only_points = (F.col("corr") == IS_ONLY_POINT_SOURCE) & (F.col("total") != 0.0)
    bad = collect_bounded(j.where(only_points).limit(1), "point_source_corrections")
    if bad:
        r = bad[0]
        raise ValueError(
            f"Raster {r['category']}_{r['substance']} is not empty for "
            f"{IS_ONLY_POINT_SOURCE}."
        )
    unmapped = point_totals.join(F.broadcast(corr), "category", "left")
    unmapped = unmapped.where(F.col("corr").isNull()).limit(1)
    missing = collect_bounded(unmapped, "point_source_corrections")
    if missing:
        raise ValueError(
            f"Category {missing[0]['category']} with point source emissions "
            "not in point_source_correction dictionary."
        )
    adjusted = j.select(
        "category",
        "substance",
        F.when(F.col("corr") == KEEP_POINT_SCALED, F.lit(0.0))
        .when(
            F.col("corr") == REMOVE_POINT_FROM_RASTER,
            F.greatest(F.col("total") - F.col("p_total"), F.lit(0.0)),
        )
        .otherwise(F.col("total"))
        .alias("total"),
    )
    factors = j.select(
        "category",
        "substance",
        F.when(F.col("corr") == KEEP_RASTER_ONLY, F.lit(0.0))
        .when(
            F.col("corr") == KEEP_POINT_SCALED,
            F.when(
                F.col("p_total") != 0.0, F.col("total") / F.col("p_total")
            ).otherwise(F.lit(0.0)),
        )
        .otherwise(F.lit(1.0))
        .alias("factor"),
    )
    return adjusted, factors


def split_co2_biogenic(points: DataFrame, totals: DataFrame) -> DataFrame:
    """Split point-source CO2 into fossil + biogenic by each category's
    inventory-wide biogenic fraction (reference swiss.py:121-143):
    ``frac = total(cat, CO2_biog) / (total(cat, CO2) + total(cat, CO2_biog))``.

    ``points``: long (…, category, substance, value_kg_y).  Non-CO2 rows
    pass through.
    """
    frac = (
        totals.where(F.col("substance").isin("CO2", "CO2_biog"))
        .groupBy("category")
        .agg(
            (
                F.sum(F.when(F.col("substance") == "CO2_biog", F.col("total")).otherwise(0.0))
                / F.sum("total")
            ).alias("biog_frac")
        )
    )
    co2 = points.where(F.col("substance") == "CO2").join(
        F.broadcast(frac), "category", "left"
    ).withColumn("biog_frac", F.coalesce("biog_frac", F.lit(0.0)))
    fossil = co2.withColumn(
        "value_kg_y", F.col("value_kg_y") * (1.0 - F.col("biog_frac"))
    ).drop("biog_frac")
    biog = (
        co2.withColumn("value_kg_y", F.col("value_kg_y") * F.col("biog_frac"))
        .withColumn("substance", F.lit("CO2_biog"))
        .drop("biog_frac")
    )
    return points.where(F.col("substance") != "CO2").unionByName(fossil).unionByName(biog)


# ======================================================================
# Swiss PRTR point sources (reference read_prtr, swiss.py:423-541)
# ======================================================================
# German pollutant labels → emiproc substances (reference
# polluant_matching, swiss.py:328-373; commented-out labels are the
# ones the reference also skips)
POLLUTANT_MATCHING = {
    "Schwefeloxide (SOx/SO2)": "SO2",
    "flüchtige organische Verbindungen ohne Methan (NMVOC)": "VOC",
    "Kohlenmonoxid (CO)": "CO",
    "Stickstoffoxide (NOx/NO2)": "NOx",
    "Kohlendioxid (CO2)": "CO2",
    "Fluoride (als Gesamt-F)": "F-Gases",
    "Ammoniak (NH3)": "NH3",
    "Feinstaub (PM10)": "PM10",
    "Methan (CH4)": "CH4",
    "Distickstoffoxid (N2O)": "N2O",
    "Schwefelhexafluorid (SF6)": "SF6",
}

# PRTR activity codes → swiss raster categories (reference
# activities_to_categories, swiss.py:376-420)
ACTIVITIES_TO_CATEGORIES = {
    **{k: "eipro" for k in (
        "1.a", "1.b", "1.c", "2.b", "2.c.1", "2.c.2", "2.e.1", "2.e.2",
        "2.f", "3.e", "3.f", "3.g", "4.a.1", "4.a.10", "4.a.11", "4.a.2",
        "4.a.5", "4.a.8", "4.b.5", "4.d", "4.e", "4.f", "6.b", "8.b.2",
        "8.c", "9.c", "9.d",
    )},
    "3.c.1": "eipzm",
    "5.a": "eipkv",
    "5.b": "eipkv",
    "5.d": "eidep",
    "5.f": "eikla",
    "5.g": "eikla",
}

PRTR_UNIT_FACTORS = {"t/a": 1e3, "kg/a": 1.0}


def read_prtr(
    spark: SparkSession,
    prtr_file: str,
    year: int,
    substances: list[str] | None = None,
    pollutant_matching: dict[str, str] | None = None,
    activities_to_categories: dict[str, str] | None = None,
) -> DataFrame:
    """Swiss PRTR Excel → long point-source table
    ``(category, substance, x, y, value_kg_y)`` (reference read_prtr,
    swiss.py:423-541: skiprows [0, 1, 3], Punktquelle/year/notnull
    filters, unit correction t/a → kg/a, pollutant + activity mapping,
    per-(x, y) substance sums).

    Decoded with the stdlib XLSX reader (functions/xlsx) — no openpyxl.
    The file is dimension-sized (a national point-source register), so
    the parse is driver-side feeding ``createDataFrame``.
    """
    from emiproc_spark.functions.xlsx import read_xlsx

    matching = pollutant_matching or POLLUTANT_MATCHING
    activities = activities_to_categories or ACTIVITIES_TO_CATEGORIES
    if substances is not None:
        matching = {k: v for k, v in matching.items() if v in substances}
        for sub in substances:
            if sub not in matching.values() and sub not in ("CO2_biog", "PM25"):
                raise ValueError(
                    f"Unkown substance `{sub}` not in the pollutant matching"
                    " dictionary."
                )

    df = read_xlsx(prtr_file, header_row=2, skip_rows=(0, 1, 3))
    if year not in set(df["Year"].dropna().astype(int)):
        raise ValueError(f"Year {year} not in the data.")
    mask = (
        (df["Source type"] == "Punktquelle")
        & (df["Year"].astype("Int64") == year)
        & df["Value"].notnull()
        & df["Pollutant_name"].isin(matching)
    )
    d = df.loc[mask].copy()
    unknown_units = set(d["Unit"]) - set(PRTR_UNIT_FACTORS)
    if unknown_units:
        raise ValueError(f"Units not corrected for {sorted(unknown_units)}.")
    d["value_kg_y"] = [
        float(v) * PRTR_UNIT_FACTORS[u] for v, u in zip(d["Value"], d["Unit"])
    ]
    unknown_acts = set(d["Installation_main activity"]) - set(activities)
    if unknown_acts:
        raise ValueError(f"Missing categories for {sorted(unknown_acts)}")
    d["substance"] = d["Pollutant_name"].map(matching)
    d["category"] = d["Installation_main activity"].map(activities)
    d["x"] = d["East coordinate (CH1903+)"].astype(float)
    d["y"] = d["North coordinate (CH1903+)"].astype(float)
    out = spark.createDataFrame(
        d[["category", "substance", "x", "y", "value_kg_y"]],
        schema="category string, substance string, x double, y double, value_kg_y double",
    )
    # per-(category, substance, location) sums (reference groupby x, y)
    return out.groupBy("category", "substance", "x", "y").agg(
        F.sum("value_kg_y").alias("value_kg_y")
    )
