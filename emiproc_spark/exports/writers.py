"""Export sinks: model-ready outputs from the long-form inventory.

Reference exports (SURVEY.md §2.2) write NetCDF/GRAL/GPKG files.  The
engine's native sink is partitioned Parquet — distributed, atomic,
column-pruned — with the reference's *semantic* steps (unit conversion,
(cat,sub) pivot, totals rollup, timezone regionization) as explicit
transformations.  NetCDF rasters are assembled executor-side by the
shared slab writer in exports/netcdf.py and written with the pure-numpy
NetCDF codecs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from emiproc_spark.localdf import distinct_rows, local_rows_df

from emiproc_spark.sources.readers import SECONDS_PER_YEAR, to_wide


def dim_codes(
    df: DataFrame,
    cols: list[str],
    pairs: list[tuple] | None = None,
) -> tuple[DataFrame, dict[int, tuple]]:
    """Dictionary-encode dimension string columns ahead of a fan-out
    shuffle into an executor-side writer: returns ``(codes_df,
    decode)`` where ``codes_df`` carries ``cols + ['cs_code']`` for a
    broadcast join and ``decode`` maps code → value tuple inside the
    writer closure.  Repeated per-row strings roughly double exchange
    bytes (network shuffle on a real cluster); the int code halves
    them.

    INVARIANT: codes follow SORTED value-tuple order, so a writer
    iterating ``pdf.groupby('cs_code')`` emits variables in exactly
    the order the string groupby it replaced would have — every
    exporter shares this contract through here.

    ``pairs``: optional pre-computed value tuples (e.g. collected from
    the PRE-fan-out dimension side — an hour explode cannot create new
    (category, substance) pairs).  When omitted, one distinct+collect
    over ``df`` derives them; Catalyst prunes that pass to ``cols``,
    but on a heavy lineage passing ``pairs`` avoids re-executing it.
    """
    if pairs is None:
        pairs = distinct_rows(df, cols, f"dim_codes {cols}")
    ordered = sorted(set(tuple(p) for p in pairs))
    decode = dict(enumerate(ordered))
    schema = ", ".join(f"{c} string" for c in cols) + ", cs_code int"
    codes = local_rows_df(
        df.sparkSession, [(*p, i) for i, p in enumerate(ordered)], schema
    )
    return codes, decode


def encode_dims(df: DataFrame, codes: DataFrame, cols: list[str]) -> DataFrame:
    """Join the :func:`dim_codes` table onto ``df``, failing LOUDLY on
    any row whose value tuple is missing from the code table.  With
    caller-supplied ``pairs`` an inner join would silently DROP such
    rows from the export (silent data loss for external callers whose
    pair list is stale); a left join + raise_error turns the mismatch
    into an executor-side error naming the offending tuple."""
    joined = df.join(F.broadcast(codes), cols, "left")
    missing = F.concat_ws(", ", *[F.col(c) for c in cols])
    return joined.withColumn(
        "cs_code",
        F.when(
            F.col("cs_code").isNull(),
            F.raise_error(
                F.concat(
                    F.lit("dim_codes: ("),
                    missing,
                    F.lit(") not covered by the supplied pairs"),
                )
            ).cast("int"),
        ).otherwise(F.col("cs_code")),
    )


def with_flux_units(emissions: DataFrame, grid: DataFrame) -> DataFrame:
    """kg/y/cell → kg/m²/s flux (reference export_raster_netcdf,
    exports/rasters.py:95-106)."""
    areas = grid.select("cell_id", "area_m2")
    return emissions.join(F.broadcast(areas), "cell_id").withColumn(
        "flux_kg_m2_s",
        F.col("value_kg_y") / F.col("area_m2") / F.lit(SECONDS_PER_YEAR),
    )


def add_totals(emissions: DataFrame) -> DataFrame:
    """Per-substance totals over categories and cells — the reference's
    ``add_totals`` rollup (exports/rasters.py:247-306)."""
    return (
        emissions.rollup("substance", "category")
        .agg(F.sum("value_kg_y").alias("total_kg_y"))
        .where(F.col("substance").isNotNull())
        .withColumn("category", F.coalesce("category", F.lit("__total__")))
    )


def export_raster_parquet(
    emissions: DataFrame,
    grid: DataFrame,
    path: str,
    wide: bool = True,
) -> None:
    """Raster export: join cell coordinates, optionally pivot to the
    wide (cat,sub) layout, write Parquet.  A NetCDF conversion step can
    consume these files partition-wise (SURVEY.md §7.5 point 6)."""
    df = emissions
    if wide:
        df = to_wide(emissions)
    out = df.join(grid.select("cell_id", "lon", "lat"), "cell_id")
    out.write.mode("overwrite").parquet(path)


def export_hourly_parquet(
    hourly: DataFrame,
    path: str,
) -> None:
    """Hourly export partitioned by hour — each partition is one model
    input file (reference export_hourly_emissions writes one NetCDF per
    hour, exports/hourly.py:166-224; here the partition layout carries
    that contract)."""
    hourly.write.mode("overwrite").partitionBy("hour_index").parquet(path)


def regionize(
    cell_tz: DataFrame,
    tprofile_index: DataFrame,
) -> DataFrame:
    """ICON-OEM regionization (reference exports/icon.py:255-298):
    a region = a distinct (timezone, profile assignment) pair; cells map
    to dense region ids.  ``cell_tz``: (cell_id, tzid);
    ``tprofile_index``: (cell_id, profile_id)."""
    from pyspark.sql import Window

    assigned = cell_tz.join(tprofile_index, "cell_id", "left").select(
        "cell_id", "tzid", F.coalesce("profile_id", F.lit(-1)).alias("profile_id")
    )
    regions = assigned.select("tzid", "profile_id").distinct().withColumn(
        "region_id",
        (F.row_number().over(Window.orderBy("tzid", "profile_id")) - 1).cast("int"),
    )
    return assigned.join(F.broadcast(regions), ["tzid", "profile_id"]).select(
        "cell_id", "region_id", "tzid", "profile_id"
    )


def tz_shifted_ratios(tprofiles: DataFrame, shift_hours: DataFrame) -> DataFrame:
    """Shift daily profile ratios by per-region UTC offsets — the
    reference's ``np.roll`` on the 24-vector (exports/icon.py:505-526)
    as array index arithmetic: out[i] = in[(i + shift) mod 24]."""
    joined = tprofiles.crossJoin(F.broadcast(shift_hours))
    n = F.size("ratios")
    return joined.withColumn(
        "ratios_local",
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.element_at(
                "ratios", ((i + F.col("shift_h")) % n + n) % n + 1
            ),
        ),
    )


def nc_cf_attributes(
    title: str,
    substances: list[str],
    year: int | None = None,
) -> dict:
    """CF-1.10 metadata dict for downstream NetCDF writers (reference
    nc_cf_attributes, exports/netcdf.py:6-69)."""
    import datetime

    return {
        "Conventions": "CF-1.10",
        "title": title,
        "source": "emiproc_spark",
        "history": f"exported {datetime.datetime.now(datetime.timezone.utc).isoformat()}",
        "substances": ",".join(sorted(substances)),
        **({"inventory_year": str(year)} if year is not None else {}),
    }


def export_text_formatted(
    df: DataFrame,
    path: str,
    columns: list[str],
    sep: str = ",",
    decimals: int = 6,
) -> None:
    """Fixed-format text export (reference GRAL emission writers,
    exports/gral.py:65-331 write per-source text lines): rows formatted
    JVM-side with ``format_number``/``concat_ws`` and written as
    distributed text partitions — no driver collect, no Python loop."""
    parts = []
    for c in columns:
        dtype = dict(df.dtypes)[c]
        col = F.col(c)
        if dtype in ("double", "float"):
            col = F.format_number(col, decimals)
        parts.append(col.cast("string"))
    df.select(F.concat_ws(sep, *parts).alias("value")).write.mode(
        "overwrite"
    ).text(path)

