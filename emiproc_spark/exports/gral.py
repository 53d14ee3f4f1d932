"""GRAL emission-file export (reference emiproc/exports/gral.py:65-331).

Writes the four GRAL input files from the long shaped-source table:

- ``point.dat``    — one row per point source (kg/h)
- ``line.dat``     — polylines split into straight segments (kg/h/km)
- ``cadastre.dat`` — polygons rasterized into squares (kg/h per cell)
- ``source_groups.json`` — (substance, category) → source-group id

Formatting runs distributed (``mapInPandas`` emits finished CSV lines,
including the exact-clip polygon rasterization via the batched geometry
kernels); the driver only streams lines into the single output files —
the same single-node file boundary as every reference writer.

Documented divergences from the reference writer:

- line rates are written unit-consistently as kg/h/km
  (``value / (8766 × km)``) so ``GralInventory`` reading our files
  round-trips mass; the reference writes the raw annual value into the
  rate column (exports/gral.py:276-287) and cannot round-trip.
- polygon rasterization distributes mass by *exact* cell-intersection
  area (mass-conserving) instead of rasterio's all-touched cell count
  approximation (exports/gral.py:300-325, flagged "might be not exactly
  mass conserving" there).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from emiproc_spark.localdf import distinct_rows, local_rows_df

from emiproc_spark.functions import geometry as geom

HOUR_PER_YR = 365.25 * 24.0

DEFAULT_EMISSION_INFO = {
    "height": 0.0,
    "width": 0.5,
    "vertical_extension": 3.0,
    "temperature": 353.0,
    "speed": 5.0,
}

POINT_HEADER = (
    "x,y,z,emission[kg/h],unused_0,unused_1,unused_2,exit_velocity[m/s],"
    "diameter[m],temperature[K],source_group"
)
LINE_HEADER = (
    "Name,Section,source_group,x1,y1,z1,x2,y2,z2,width,vert. ext.,-,-,"
    "emission_rate[kg/h/km],-,-,-,-"
)
CADASTRE_HEADER = "x,y,z,dx,dy,dz,emission_rate[kg/h],-,-,-,source_group"


def make_source_groups(
    categories: list[str], substances: list[str]
) -> dict[tuple[str, str], int]:
    """(substance, category) → dense group id (reference
    EmissionWriter.source_groups, exports/gral.py:82-88)."""
    return {
        (sub, cat): i * len(categories) + j
        for i, sub in enumerate(sorted(substances))
        for j, cat in enumerate(sorted(categories))
    }


def _format_lines(
    shaped: DataFrame,
    info_df: pd.DataFrame,
    sg_rows: list[tuple[str, str, int]],
    raster_size: float,
) -> DataFrame:
    """Distributed formatting: (kind, line) rows for the three files."""
    spark = shaped.sparkSession
    sgdf = local_rows_df(
        spark, sg_rows, "substance string, category string, source_group int"
    )
    idf = spark.createDataFrame(info_df)
    # a caller-supplied source_groups mapping missing a live
    # (substance, category) must fail loudly, not silently omit those
    # sources from the GRAL files (derived mappings cover by
    # construction; the reference's per-row dict lookup would KeyError)
    # coalesce the key columns: a NULL-keyed row can never match the
    # mapping, and F.concat would nullify the whole message — the raise
    # must still NAME the offending tuple (r9 advisor)
    checked_sg = F.when(
        F.col("source_group").isNull(),
        F.raise_error(
            F.concat(
                F.lit("export_to_gral: no source_group for ("),
                F.coalesce(F.col("substance"), F.lit("NULL")),
                F.lit(", "),
                F.coalesce(F.col("category"), F.lit("NULL")),
                F.lit(") — extend the source_groups mapping"),
            )
        ).cast("int"),
    ).otherwise(F.col("source_group"))
    df = (
        shaped.join(F.broadcast(sgdf), ["substance", "category"], "left")
        .withColumn("source_group", checked_sg)
        .join(F.broadcast(idf), "category", "left")
        .select("geometry", "value_kg_y", "source_group",
                "height", "width", "speed", "temperature", "vertical_extension")
    )

    def fmt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, lines = [], []
            for row in pdf.itertuples(index=False):
                gtype, rings = geom.parse_wkb(bytes(row.geometry))
                v = float(row.value_kg_y)
                sg = int(row.source_group)
                if gtype == geom.WKB_POINT:
                    x, y = rings[0][0]
                    kinds.append("p")
                    lines.append(
                        f"{x},{y},{row.height},{v / HOUR_PER_YR},0,0,0,"
                        f"{row.speed},{row.width},{row.temperature},{sg}"
                    )
                elif gtype == geom.WKB_LINESTRING:
                    c = rings[0]
                    seg = np.diff(c, axis=0)
                    seg_len = np.hypot(seg[:, 0], seg[:, 1])
                    total = seg_len.sum()
                    if total <= 0:
                        continue
                    for i in range(len(seg)):
                        seg_v = v * seg_len[i] / total
                        km = seg_len[i] * 1e-3
                        rate = seg_v / (HOUR_PER_YR * km) if km > 0 else 0.0
                        kinds.append("l")
                        lines.append(
                            f"unnamed,{i},{sg},{c[i][0]},{c[i][1]},{row.height},"
                            f"{c[i + 1][0]},{c[i + 1][1]},{row.height},"
                            f"{row.width},-{row.vertical_extension},0,0,"
                            f"{rate},0,0,0,0"
                        )
                else:
                    # ring 0 is the exterior; further rings are holes
                    # and subtract from both the area and the per-cell
                    # intersection (a cell inside a courtyard gets 0)
                    ring_sign = [1.0] + [-1.0] * (len(rings) - 1)
                    area = sum(
                        sgn * geom.shoelace_area(r)
                        for sgn, r in zip(ring_sign, rings)
                    )
                    if area <= 0:
                        continue
                    xmin, ymin, xmax, ymax = geom.bounds(np.vstack(rings))
                    s = raster_size
                    x0 = np.floor(xmin / s) * s
                    y0 = np.floor(ymin / s) * s
                    xs = np.arange(x0, xmax, s)
                    ys = np.arange(y0, ymax, s)
                    gx, gy = np.meshgrid(xs, ys, indexing="ij")
                    boxes = np.column_stack(
                        [gx.ravel(), gy.ravel(), gx.ravel() + s, gy.ravel() + s]
                    )
                    P, counts = geom.stack_rings(rings)
                    inter = np.zeros(len(boxes))
                    for ri in range(P.shape[0]):
                        rep = np.repeat(
                            P[ri][np.newaxis, ...], len(boxes), axis=0
                        )
                        cnt = np.full(len(boxes), counts[ri])
                        inter += ring_sign[ri] * geom.batch_rect_clip_area(
                            rep, cnt, boxes
                        )
                    # hole-ring subtraction can leave tiny negative
                    # float residues for cells fully inside a courtyard
                    # — clamp before selecting nonzero cells so no
                    # cadastre line carries a minuscule negative mass
                    inter = np.where(inter > 1e-12 * s * s, inter, 0.0)
                    nz = np.flatnonzero(inter)
                    for k in nz:
                        cell_v = v * inter[k] / area
                        kinds.append("c")
                        lines.append(
                            f"{boxes[k][0]},{boxes[k][1]},{row.height},{s},{s},"
                            f"{row.vertical_extension},{cell_v / HOUR_PER_YR},"
                            f"0,0,0,{sg},"
                        )
            yield pd.DataFrame({"kind": kinds, "line": lines})

    return df.mapInPandas(fmt, schema="kind string, line string")


def write_gral_emissions(
    path: str,
    shaped: DataFrame,
    emission_infos: dict[str, dict] | None = None,
    source_groups: dict[tuple[str, str], int] | None = None,
    polygon_raster_size: float = 1.0,
) -> dict[tuple[str, str], int]:
    """Write point.dat / line.dat / cadastre.dat / source_groups.json
    from the long shaped table ``(category, geometry, substance,
    value_kg_y)`` (reference EmissionWriter, exports/gral.py:65-331).

    ``emission_infos``: per-category EmissionInfo field overrides
    (defaults match the reference dataclass,
    inventories/__init__.py:43-72)."""
    os.makedirs(path, exist_ok=True)
    if source_groups is None:
        pairs = distinct_rows(
            shaped, ["substance", "category"], "write_gral_emissions source groups"
        )
        cats = sorted({c for _, c in pairs})
        subs = sorted({s for s, _ in pairs})
        sg = make_source_groups(cats, subs)
    else:
        sg = source_groups
        cats = sorted({c for _, c in sg})
    sg_rows = [(s, c, g) for (s, c), g in sg.items()]

    infos = []
    for cat in cats:
        row = dict(DEFAULT_EMISSION_INFO)
        row.update((emission_infos or {}).get(cat, {}))
        infos.append({"category": cat, **row})
    info_df = pd.DataFrame(infos)

    formatted = _format_lines(shaped, info_df, sg_rows, polygon_raster_size)

    files = {
        "p": open(os.path.join(path, "point.dat"), "w"),
        "l": open(os.path.join(path, "line.dat"), "w"),
        "c": open(os.path.join(path, "cadastre.dat"), "w"),
    }
    try:
        files["p"].write("Generated: emiproc_spark\n" + POINT_HEADER + "\n")
        files["l"].write(
            "Generated: emiproc_spark\n" + "Generated:\n" * 3 + LINE_HEADER + "\n"
        )
        files["c"].write(CADASTRE_HEADER + "\n")
        # repartition(1), not coalesce(1): coalesce is a narrow
        # dependency that would drag the expensive formatting (polygon
        # rasterization) into the single writer task; the shuffle keeps
        # fmt parallel and only the serial file IO runs in one task.
        # The post-shuffle sort pins a deterministic .dat line order
        # (round-robin shuffle order is plan-dependent otherwise).
        ordered = formatted.repartition(1).sortWithinPartitions("kind", "line")
        for row in ordered.toLocalIterator():
            files[row["kind"]].write(row["line"] + "\n")
    finally:
        for f in files.values():
            f.close()
    with open(os.path.join(path, "source_groups.json"), "w") as f:
        json.dump({g: [s, c] for (s, c), g in sg.items()}, f, indent=2)
    return sg
