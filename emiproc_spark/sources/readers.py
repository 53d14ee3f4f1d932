"""Inventory readers → long-form emissions tables.

The reference ships one reader class per upstream dataset
(SURVEY.md §2.1: TNO, EDGAR, GFED, GFAS, CAMS, Swiss rasters, zurich
GPKG, DuckDB, …).  They all reduce to the same shape: parse a source
layout into ``emissions(cell_id, category, substance, value_kg_y)`` (+
grid + shaped + profiles), converting units into kg/year/cell at the
edge.  Here that shape is a small set of composable ingest primitives:

- ``from_parquet_long`` / ``from_wide`` — already-tabular sources
  (the Spark-native round-trip format, and the wide (cat,sub)-pivot
  layout the reference keeps in pandas);
- ``from_duckdb`` — DuckDB databases (reference
  inventories/zurich/duck.py:84-154) via Arrow, no JDBC needed;
- ``from_netcdf_raster`` — generic NetCDF raster ingest (reference
  inventories/netcdf_raster.py:112-295): classic NetCDF-3 and
  NetCDF-4/HDF5 containers decoded in executors by the package's own
  pure-numpy codecs (functions/netcdf3.py, functions/hdf5.py) — see
  sources/netcdf.py for the distributed plan;
- ``from_csv_emissions`` — delimited text (reference GRAL/Swiss CSV
  paths);
- ``scan_files`` — the one per-file scan every file-format source
  (NetCDF, HDF5, ESRI ASCII, GRAL ``.dat``) decodes through.

Unit conversion: ``convert_units`` implements the reference's
kg/m²/s → kg/y/cell and t → kg rules (utils/units.py:11-45,
edgar tonnes ×1e3 edgarv8.py:224-231).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.localdf import distinct_rows

SECONDS_PER_YEAR = 365.25 * 24 * 3600


def convert_units(
    df: DataFrame,
    value_col: str,
    unit: str,
    area_col: str = "area_m2",
) -> DataFrame:
    """Convert a value column into canonical kg/year/cell.

    Supported source units (reference emiproc/utils/units.py:1-45):
    ``kg/y`` (identity), ``t/y`` (×1e3), ``kg/m2/s`` (×area×seconds),
    ``kg/m2/y`` (×area), ``g/m2/y`` (×area/1e3).
    """
    c = F.col(value_col)
    if unit == "kg/y":
        out = c
    elif unit == "t/y":
        out = c * F.lit(1000.0)
    elif unit == "kg/m2/s":
        out = c * F.col(area_col) * F.lit(SECONDS_PER_YEAR)
    elif unit == "kg/m2/y":
        out = c * F.col(area_col)
    elif unit == "g/m2/y":
        out = c * F.col(area_col) / F.lit(1000.0)
    else:
        raise ValueError(f"unsupported unit {unit!r}")
    return df.withColumn("value_kg_y", out)


def from_parquet_long(spark: SparkSession, path: str) -> DataFrame:
    """Long-form parquet — the engine's native round-trip format."""
    return spark.read.parquet(path).select(
        F.col("cell_id").cast("long"),
        F.col("category").cast("string"),
        F.col("substance").cast("string"),
        F.col("value_kg_y").cast("double"),
    )


def from_wide(
    wide: DataFrame,
    cell_col: str = "cell_id",
    sep: str = "__",
) -> DataFrame:
    """Wide layout (one ``{category}{sep}{substance}`` column per pair —
    the reference's 2-level pandas columns flattened) → long form via
    ``stack``; categories/substances become data, so later additions
    never alter the schema."""
    value_cols = [c for c in wide.columns if c != cell_col and sep in c]
    if not value_cols:
        raise ValueError(f"no '{sep}'-separated (category, substance) columns found")
    pairs = []
    for c in value_cols:
        cat, sub = c.split(sep, 1)
        pairs.append((c, cat, sub))
    stack_expr = ", ".join(f"'{cat}', '{sub}', `{c}`" for c, cat, sub in pairs)
    return wide.selectExpr(
        f"{cell_col} AS cell_id",
        f"stack({len(pairs)}, {stack_expr}) AS (category, substance, value_kg_y)",
    ).where(F.col("value_kg_y").isNotNull())


def to_wide(emissions: DataFrame, sep: str = "__") -> DataFrame:
    """Long → wide pivot for export paths (reference inv_to_xarray /
    raster export, utils/translators.py:11-49).  Pivot values are
    enumerated first so the plan stays deterministic."""
    pairs = distinct_rows(emissions, ["category", "substance"], "to_wide columns")
    keys = [f"{cat}{sep}{sub}" for cat, sub in pairs]
    return (
        emissions.withColumn(
            "cs", F.concat(F.col("category"), F.lit(sep), F.col("substance"))
        )
        .groupBy("cell_id")
        .pivot("cs", sorted(keys))
        .agg(F.sum("value_kg_y"))
    )


def from_duckdb(
    spark: SparkSession,
    db_path: str,
    table: str,
    substance_prefix: str = "emission_",
    category_col: str = "category",
    cell_col: str = "cell_id",
    where: str | None = None,
) -> DataFrame:
    """DuckDB database → long emissions (reference DuckDBInventory,
    inventories/zurich/duck.py:84-154: one table per category,
    ``emission_*`` columns = substances, optional year filter).

    Reads via DuckDB's Arrow export then parallelizes — suitable for
    dimension-scale inputs; petabyte facts arrive as parquet instead.
    """
    import duckdb

    con = duckdb.connect(db_path, read_only=True)
    try:
        q = f"SELECT * FROM {table}"
        if where:
            q += f" WHERE {where}"
        tbl = con.execute(q).arrow()
    finally:
        con.close()
    wide = spark.createDataFrame(tbl.to_pandas())
    sub_cols = [c for c in wide.columns if c.startswith(substance_prefix)]
    # mixed numeric source types (DECIMAL widths, ints) must unify for stack
    stack_expr = ", ".join(
        f"'{c[len(substance_prefix):]}', CAST(`{c}` AS DOUBLE)" for c in sub_cols
    )
    return wide.selectExpr(
        f"{cell_col} AS cell_id",
        f"{category_col} AS category",
        f"stack({len(sub_cols)}, {stack_expr}) AS (substance, value_kg_y)",
    ).where(F.col("value_kg_y").isNotNull())


def from_csv_emissions(
    spark: SparkSession,
    path: str,
    schema: str = "cell_id long, category string, substance string, value_kg_y double",
    **options,
) -> DataFrame:
    """Delimited-text ingest (reference GRAL text files, Swiss CSV
    scalings) — schema-first so malformed rows fail loudly."""
    return spark.read.options(header=True, **options).schema(schema).csv(path)


def from_netcdf_raster(
    spark: SparkSession,
    path: str,
    var_to_catsub: dict[str, tuple[str, str]] | None = None,
    unit: str | None = None,
    **kwargs,
) -> DataFrame:
    """Generic NetCDF raster ingest (reference NetcdfRaster,
    inventories/netcdf_raster.py:112-295): each variable maps to a
    (category, substance); cells are the lon-major flattened raster.

    Real implementation in :mod:`emiproc_spark.sources.netcdf` —
    NetCDF-3 or NetCDF-4 files decoded inside ``mapInPandas`` executors
    over per-file ``binaryFile`` tasks (no xarray dependency)."""
    from emiproc_spark.sources.netcdf import from_netcdf_rasters

    return from_netcdf_rasters(spark, path, var_to_catsub, unit=unit, **kwargs)


def _binary_files(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """(path, content) per non-empty file under ``path`` — the package's
    one ``binaryFile`` read."""
    return spark.read.format("binaryFile").load(path).select("path", "content")


def scan_files(
    spark: SparkSession,
    path: str | list[str],
    schema: str,
    decode: Callable[[str, bytes], Iterator[pd.DataFrame]],
) -> DataFrame:
    """One Spark task per file: ``decode(fpath, content)`` yields pandas
    frames matching ``schema``.  A decode error is re-raised as a
    ``ValueError`` prefixed with the failing file's path, so a corrupt
    file in a directory scan names itself instead of surfacing as an
    anonymous task failure."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                try:
                    yield from decode(fpath, bytes(content))
                except Exception as e:
                    raise ValueError(f"{fpath}: {e}") from e

    return _binary_files(spark, path).mapInPandas(run, schema=schema)


def require_one_file(spark: SparkSession, path: str, reader: str, why: str) -> None:
    """Raise unless ``path`` matches exactly one non-empty file — for
    grid readers whose cell ids are per-file indexes."""
    n_files = _binary_files(spark, path).select("path").distinct().count()
    if n_files != 1:
        raise ValueError(f"{reader}: {path!r} matched {n_files} files; {why}")
