"""GRAL simulation-input ingest (reference emiproc/inventories/gral.py).

A GRAL emissions directory holds positional CSV files — ``point.dat``
(1 junk line + header), ``line.dat`` (4 junk lines + header),
``cadastre.dat`` (header only) — plus ``source_groups.json`` mapping
integer source groups to (substance, category).  Units: points and
cadastre cells carry kg/h (× 8766 h/yr → kg/y, reference
gral.py:185-187, 305-307); lines carry kg/h/km (× 8766 × length_km,
gral.py:236-241).

Spark shape: one per-file scan over every ``.dat`` file
(``readers.scan_files``; positional columns via pandas), geometry
encoded to WKB vectorized, group→(substance, category) resolution as a
broadcast join.
"""

from __future__ import annotations

import io
import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.functions import geometry as geom
from emiproc_spark.localdf import local_rows_df
from emiproc_spark.sources.readers import scan_files

HOUR_PER_YR = 365.25 * 24.0  # reference emiproc/utils/constants.py:7

# positional column indexes (reference gral.py:19-58)
PT_X, PT_Y, PT_Z, PT_EMI = 0, 1, 2, 3
PT_SPEED, PT_DIAM, PT_TEMP, PT_GROUP = 7, 8, 9, 10
LN_SECTION, LN_GROUP = 1, 2
LN_X1, LN_Y1, LN_Z1, LN_X2, LN_Y2, LN_Z2 = 3, 4, 5, 6, 7, 8
LN_WIDTH, LN_EXT, LN_EMI = 9, 10, 13
CAD_X, CAD_Y, CAD_Z = 0, 1, 2
CAD_DX, CAD_DY, CAD_DZ, CAD_EMI, CAD_GROUP = 3, 4, 5, 6, 10

_SCHEMA = (
    "source_group int, geometry binary, value_kg_y double, height double, "
    "width double, speed double, temperature double, vertical_extension double"
)


def _column(df: pd.DataFrame, i: int, dtype=np.float64) -> np.ndarray:
    """Positional column ``i``; an empty field (a truncated file) raises
    instead of casting NaN into a bogus value or source group."""
    col = df[df.columns[i]]
    if col.isna().any():
        raise ValueError(
            f"column {df.columns[i]!r} has empty fields (truncated file?)"
        )
    return col.to_numpy(dtype=dtype)


def _decode_points(df: pd.DataFrame) -> pd.DataFrame:
    """``point.dat`` rows → point WKB + kg/y + stack EmissionInfo fields
    (reference _read_points, gral.py:164-199)."""
    x = _column(df, PT_X)
    y = _column(df, PT_Y)
    return pd.DataFrame(
        {
            "source_group": _column(df, PT_GROUP, np.int32),
            "geometry": [geom.wkb_point(a, b) for a, b in zip(x, y)],
            "value_kg_y": _column(df, PT_EMI) * HOUR_PER_YR,
            "height": _column(df, PT_Z),
            "width": _column(df, PT_DIAM),
            "speed": _column(df, PT_SPEED),
            "temperature": _column(df, PT_TEMP),
            "vertical_extension": np.zeros(len(df)),
        }
    )


def _decode_lines(df: pd.DataFrame) -> pd.DataFrame:
    """``line.dat`` rows → segment WKB + kg/y (rate × hours × km,
    reference _read_lines, gral.py:200-250)."""
    x1 = _column(df, LN_X1)
    y1 = _column(df, LN_Y1)
    x2 = _column(df, LN_X2)
    y2 = _column(df, LN_Y2)
    km = np.hypot(x2 - x1, y2 - y1) * 1e-3
    return pd.DataFrame(
        {
            "source_group": _column(df, LN_GROUP, np.int32),
            "geometry": [
                geom.wkb_linestring([(a, b), (p, q)])
                for a, b, p, q in zip(x1, y1, x2, y2)
            ],
            "value_kg_y": _column(df, LN_EMI) * HOUR_PER_YR * km,
            "height": _column(df, LN_Z1),
            "width": _column(df, LN_WIDTH),
            "speed": np.zeros(len(df)),
            "temperature": np.zeros(len(df)),
            "vertical_extension": np.abs(_column(df, LN_EXT)),
        }
    )


def _decode_cadastre(df: pd.DataFrame) -> pd.DataFrame:
    """``cadastre.dat`` rows → axis-aligned square polygons + kg/y
    (reference _read_cadastre, gral.py:252-317)."""
    x = _column(df, CAD_X)
    y = _column(df, CAD_Y)
    dx = _column(df, CAD_DX)
    dy = _column(df, CAD_DY)
    return pd.DataFrame(
        {
            "source_group": _column(df, CAD_GROUP, np.int32),
            "geometry": [
                geom.wkb_polygon([(a, b), (a + w, b), (a + w, b + h), (a, b + h)])
                for a, b, w, h in zip(x, y, dx, dy)
            ],
            "value_kg_y": _column(df, CAD_EMI) * HOUR_PER_YR,
            "height": _column(df, CAD_Z),
            "width": np.zeros(len(df)),
            "speed": np.zeros(len(df)),
            "temperature": np.zeros(len(df)),
            "vertical_extension": _column(df, CAD_DZ),
        }
    )


# file name → (junk lines before header row, decoder)
DAT_DECODERS = {
    "point.dat": (1, _decode_points),
    "line.dat": (4, _decode_lines),
    "cadastre.dat": (0, _decode_cadastre),
}


def load_source_group_mapping(path: str) -> dict[int, tuple[str, str]]:
    """``source_groups.json``: group id → (substance, category); bare
    strings mean (unknown, category) (reference gral.py:96-142)."""
    with open(path) as f:
        raw = json.load(f)
    out = {}
    for k, v in raw.items():
        if isinstance(v, str):
            out[int(k)] = ("unknown", v)
        else:
            out[int(k)] = (v[0], v[1])
    return out


def gral_inventory(
    spark: SparkSession,
    emissions_dir: str,
    source_group_mapping: dict[int, tuple[str, str]] | None = None,
) -> DataFrame:
    """Whole GRAL input directory → long shaped-source table
    ``(category, geometry, substance, value_kg_y, height, width, speed,
    temperature, vertical_extension)`` (reference GralInventory,
    gral.py:61-158).  Unknown source groups raise via an inner-join
    count check (gral.py:129-134)."""
    if source_group_mapping is None:
        source_group_mapping = load_source_group_mapping(
            os.path.join(emissions_dir, "source_groups.json")
        )
    present = [
        f for f in DAT_DECODERS if os.path.exists(os.path.join(emissions_dir, f))
    ]
    if not present:
        raise FileNotFoundError(f"no point/line/cadastre .dat files in {emissions_dir}")

    def decode(fpath: str, content: bytes) -> Iterator[pd.DataFrame]:
        skip, rows_to_sources = DAT_DECODERS[os.path.basename(fpath)]
        df = pd.read_csv(io.BytesIO(content), header=skip, index_col=False)
        if len(df):
            yield rows_to_sources(df)

    # ONE scan over every .dat file, dispatching per file name — a single
    # Spark job instead of one per source kind
    scan = scan_files(
        spark, [os.path.join(emissions_dir, f) for f in present], _SCHEMA, decode
    )
    mdf = local_rows_df(
        spark,
        [(g, s, c) for g, (s, c) in source_group_mapping.items()],
        "source_group int, substance string, category string",
    )
    joined = scan.join(F.broadcast(mdf), "source_group", "left")
    # unknown-group validation stays distributed: raise in the executor
    # instead of paying a separate driver-side probe job
    cat = F.when(
        F.col("category").isNull(),
        F.raise_error(
            F.concat(
                F.lit("source_group="),
                F.col("source_group").cast("string"),
                F.lit(" not found in source_group_mapping"),
            )
        ),
    ).otherwise(F.col("category"))
    return joined.select(
        cat.alias("category"), "geometry", "substance", "value_kg_y",
        "height", "width", "speed", "temperature", "vertical_extension",
    )
