"""SwissRasters ASCII-grid ingest + point-source corrections, and the
GRAL .dat writer/reader round-trip."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from emiproc_spark.exports.gral import write_gral_emissions
from emiproc_spark.functions import geometry as geom
from emiproc_spark.sources.gral import HOUR_PER_YR, gral_inventory
from emiproc_spark.sources.swiss import (
    IS_ONLY_POINT_SOURCE,
    KEEP_POINT_SCALED,
    KEEP_RASTER_ONLY,
    REMOVE_POINT_FROM_RASTER,
    parse_ascii_grid,
    point_source_corrections,
    split_co2_biogenic,
    swiss_rasters,
)

ASC = """ncols 3
nrows 2
xllcorner 2480000
yllcorner 1060000
cellsize 100
NODATA_value -9999
0.5 0.25 -9999
0.125 0.0 0.125
"""


def test_parse_ascii_grid():
    hdr, arr = parse_ascii_grid(ASC)
    assert hdr["ncols"] == 3 and hdr["nrows"] == 2
    assert arr.shape == (2, 3)
    assert arr[0, 0] == 0.5
    assert arr[0, 2] == 0.0  # NODATA → 0


def test_swiss_rasters(spark, tmp_path):
    # plain raster 'eipro' + per-substance raster 'evstr_nmvoc'
    (tmp_path / "eipro.asc").write_text(ASC)
    (tmp_path / "evstr_nmvoc.asc").write_text(ASC)
    totals = spark.createDataFrame(
        [("eipro", "CO2", 1000.0), ("eipro", "NOx", 10.0), ("evstr", "VOC", 800.0),
         ("eipro", "SO2", 0.0)],
        "category string, substance string, total double",
    )
    out = swiss_rasters(spark, str(tmp_path), totals).toPandas()
    # zero-total (SO2) excluded
    assert set(zip(out["category"], out["substance"])) == {
        ("eipro", "CO2"), ("eipro", "NOx"), ("evstr", "VOC"),
    }
    got = out.set_index(["category", "substance", "cell_id"])["value_kg_y"]
    # layout: cell_id = x*ny + y, y south-up: arr[nrows-1-y, x]
    # cell 0 = (x0, y0=bottom row) = 0.125
    assert got[("eipro", "CO2", 0)] == pytest.approx(0.125 * 1000.0)
    # cell 1 = (x0, y1=top) = 0.5
    assert got[("eipro", "CO2", 1)] == pytest.approx(0.5 * 1000.0)
    # per-substance raster normalizes (sum = 1.0 here already)
    assert got[("evstr", "VOC", 1)] == pytest.approx(0.5 * 800.0)
    # plain raster values are NOT normalized (reference multiplies raw);
    # cell 3 = (x1, y1=top row) = 0.25
    assert got[("eipro", "NOx", 3)] == pytest.approx(0.25 * 10.0)


def test_point_source_corrections(spark):
    totals = spark.createDataFrame(
        [("eipro", "CO2", 100.0), ("eiprd", "CO2", 30.0), ("eipzm", "CO2", 60.0),
         ("eikla", "CO2", 40.0), ("eipwp", "CO2", 0.0)],
        "category string, substance string, total double",
    )
    points = spark.createDataFrame(
        [("eipro", "CO2", 40.0), ("eiprd", "CO2", 50.0), ("eipzm", "CO2", 20.0),
         ("eikla", "CO2", 5.0), ("eipwp", "CO2", 7.0)],
        "category string, substance string, p_total double",
    )
    corr = {
        "eipro": REMOVE_POINT_FROM_RASTER,
        "eiprd": REMOVE_POINT_FROM_RASTER,
        "eipzm": KEEP_POINT_SCALED,
        "eikla": KEEP_RASTER_ONLY,
        "eipwp": IS_ONLY_POINT_SOURCE,
    }
    adj, fac = point_source_corrections(totals, points, corr)
    a = {(r["category"]): r["total"] for r in adj.collect()}
    f = {(r["category"]): r["factor"] for r in fac.collect()}
    assert a["eipro"] == pytest.approx(60.0)  # 100 - 40
    assert a["eiprd"] == pytest.approx(0.0)   # clamped (30 - 50 < 0)
    assert a["eipzm"] == pytest.approx(0.0)   # moved to points
    assert f["eipzm"] == pytest.approx(3.0)   # 60 / 20
    assert a["eikla"] == pytest.approx(40.0)
    assert f["eikla"] == 0.0
    assert a["eipwp"] == 0.0 and f["eipwp"] == 1.0

    bad_totals = spark.createDataFrame(
        [("eipwp", "CO2", 5.0)], "category string, substance string, total double"
    )
    with pytest.raises(ValueError, match="not empty"):
        point_source_corrections(
            bad_totals, points.where(F.col("category") == "eipwp"),
            {"eipwp": IS_ONLY_POINT_SOURCE},
        )
    with pytest.raises(ValueError, match="not in point_source_correction"):
        point_source_corrections(totals, points, {"eipro": REMOVE_POINT_FROM_RASTER})


def test_split_co2_biogenic(spark):
    totals = spark.createDataFrame(
        [("heat", "CO2", 75.0), ("heat", "CO2_biog", 25.0)],
        "category string, substance string, total double",
    )
    pts = spark.createDataFrame(
        [("heat", "CO2", 8.0), ("heat", "NOx", 1.0)],
        "category string, substance string, value_kg_y double",
    )
    out = split_co2_biogenic(pts, totals).toPandas()
    got = out.set_index("substance")["value_kg_y"]
    assert got["CO2"] == pytest.approx(6.0)       # × 0.75
    assert got["CO2_biog"] == pytest.approx(2.0)  # × 0.25
    assert got["NOx"] == 1.0


def test_gral_write_read_roundtrip(spark, tmp_path):
    point = geom.wkb_point(2683000.0, 1250000.0)
    line = geom.wkb_linestring([(0.0, 0.0), (3000.0, 4000.0), (3000.0, 5000.0)])
    # 200×100 rectangle aligned to the 100 m raster
    poly = geom.wkb_polygon([(0, 0), (200, 0), (200, 100), (0, 100)])
    shaped = spark.createDataFrame(
        [
            ("traffic", point, "NOx", 8766.0 * 2),
            ("traffic", line, "NOx", 600.0),
            ("heating", poly, "CO2", 500.0),
        ],
        "category string, geometry binary, substance string, value_kg_y double",
    )
    d = str(tmp_path / "gral")
    sg = write_gral_emissions(
        d, shaped,
        emission_infos={"traffic": {"height": 4.0}},
        polygon_raster_size=100.0,
    )
    assert set(sg.keys()) == {("NOx", "traffic"), ("NOx", "heating"),
                              ("CO2", "traffic"), ("CO2", "heating")}

    inv = gral_inventory(spark, d).toPandas()
    by_cat = inv.groupby(["category", "substance"])["value_kg_y"].sum()
    # points: kg/y → kg/h → kg/y round-trips exactly
    pt = inv[inv["category"] == "traffic"]
    assert by_cat[("traffic", "NOx")] == pytest.approx(8766.0 * 2 + 600.0, rel=1e-9)
    # line split into 2 segments, mass conserved
    assert len(pt[pt["value_kg_y"] < 8766.0]) == 2
    # point height carried through EmissionInfo
    assert set(pt["height"]) == {4.0}
    # cadastre: two 100×100 cells, mass conserved
    cad = inv[inv["category"] == "heating"]
    assert len(cad) == 2
    assert by_cat[("heating", "CO2")] == pytest.approx(500.0, rel=1e-9)
    gtypes = {geom.parse_wkb(bytes(g))[0] for g in cad["geometry"]}
    assert gtypes == {geom.WKB_POLYGON}


def test_gral_unknown_source_group(spark, tmp_path):
    d = tmp_path / "gral2"
    d.mkdir()
    (d / "point.dat").write_text(
        "junk\nx,y,z,e,u0,u1,u2,sp,di,te,source_group\n"
        "1.0,2.0,3.0,0.5,0,0,0,1,1,300,99\n"
    )
    with pytest.raises(Exception, match="source_group=99"):
        # validation is distributed (raise_error in the executors), so it
        # fires at action time
        gral_inventory(spark, str(d), source_group_mapping={1: ("NOx", "x")}).collect()


def test_gral_cadastre_polygon_hole_excluded(spark, tmp_path):
    """A courtyard polygon (exterior with a hole) must put zero mass in
    cells inside the hole and normalize by the net ring area."""
    import numpy as np

    from emiproc_spark.exports.gral import HOUR_PER_YR, write_gral_emissions
    from emiproc_spark.functions import geometry as geom

    # exterior 0..30 square, hole 10..20 → net area 900-100=800
    ext = [(0.0, 0.0), (30.0, 0.0), (30.0, 30.0), (0.0, 30.0), (0.0, 0.0)]
    hole = [(10.0, 10.0), (20.0, 10.0), (20.0, 20.0), (10.0, 20.0), (10.0, 10.0)]
    wkb = geom.wkb_polygon_rings([ext, hole])
    shaped = spark.createDataFrame(
        [("cad", wkb, "NOx", 800.0 * HOUR_PER_YR)],
        "category string, geometry binary, substance string, value_kg_y double",
    )
    d = str(tmp_path / "gral")
    write_gral_emissions(
        d, shaped, emission_infos={"cad": {}}, source_groups={("NOx", "cad"): 0},
        polygon_raster_size=10.0,
    )
    rows = []
    with open(f"{d}/cadastre.dat") as f:
        next(f)
        for line in f:
            fields = line.split(",")
            rows.append((float(fields[0]), float(fields[1]), float(fields[6])))
    by_cell = {(x, y): v for x, y, v in rows}
    # 9 cells of the 3×3 coarse raster; the center cell is the hole
    assert by_cell.get((10.0, 10.0), 0.0) == 0.0 or (10.0, 10.0) not in by_cell
    total = sum(v for _, _, v in rows)
    # emission rate per hour sums to value/HOUR_PER_YR = 800 over cells
    assert np.isclose(total, 800.0, rtol=1e-9)


def test_ascii_grid_corrupt_raises_actionable():
    """Corrupt .asc inputs fail loudly with the specific defect, and
    the directory scan names the offending file (round-5 polish)."""
    from emiproc_spark.sources.swiss import parse_ascii_grid

    with pytest.raises(ValueError, match="ncols/nrows"):
        parse_ascii_grid("not a header\n1 2 3\n")
    with pytest.raises(ValueError, match="non-numeric"):
        parse_ascii_grid("ncols 2\nnrows 1\n1 banana\n")
    with pytest.raises(ValueError, match="declares 2×2 cells .* holds 3"):
        parse_ascii_grid("ncols 2\nnrows 2\n1 2 3\n")


def test_swiss_scan_names_corrupt_file(spark, tmp_path):
    from emiproc_spark.sources.swiss import scan_swiss_rasters

    good = tmp_path / "good.asc"
    good.write_text("ncols 2\nnrows 1\nxllcorner 0\nyllcorner 0\ncellsize 1\n3 4\n")
    bad = tmp_path / "bad.asc"
    bad.write_text("ncols 2\nnrows 2\n1 2 3\n")
    with pytest.raises(Exception, match="bad.asc"):
        scan_swiss_rasters(spark, str(tmp_path)).collect()


def _raster_file(path):
    """One small lat/lon NetCDF that the generic, EDGAR v8 and GFED5
    readers all accept."""
    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf

    ones = np.ones((2, 2))
    ds = NCDataset()
    ds.dims = {"lat": 2, "lon": 2}
    ds.variables["lon"] = NCVariable("lon", ("lon",), np.array([0.5, 1.5]))
    ds.variables["lat"] = NCVariable("lat", ("lat",), np.array([45.5, 46.5]))
    ds.variables["v"] = NCVariable("v", ("lat", "lon"), ones, {"units": "kg/year/cell"})
    ds.variables["emissions"] = NCVariable(
        "emissions", ("lat", "lon"), ones,
        {"units": "Tonnes", "substance": "CO2", "long_name": "Energy"},
    )
    ds.variables["CH4"] = NCVariable("CH4", ("lat", "lon"), ones)
    write_netcdf(str(path), ds)


def _tno_file(path):
    import pandas as pd

    from emiproc_spark.sources.tno import write_tno_netcdf

    sources = pd.DataFrame(
        {"source_type": ["a", "p"], "lon_index": [1, 2], "lat_index": [1, 2],
         "lon": [0.0, 8.5], "lat": [0.0, 47.3], "category": ["c1", "c2"],
         "co2": [1.0, 2.0]}
    )
    write_tno_netcdf(str(path), sources, 2, 2, ["co2"])


def _read_netcdf(spark, d):
    from emiproc_spark.sources.netcdf import from_netcdf_rasters

    return from_netcdf_rasters(spark, d, {"v": ("c", "s")})


def _read_tno(spark, d):
    from emiproc_spark.sources.tno import scan_tno

    return scan_tno(spark, d)


def _read_edgar_v8(spark, d):
    from emiproc_spark.sources.formats import edgar_v8

    return edgar_v8(spark, d)


def _read_gfed5(spark, d):
    from emiproc_spark.sources.gfed import gfed5_emissions

    return gfed5_emissions(spark, d, substances=["CH4"])


def _read_swiss(spark, d):
    from emiproc_spark.sources.swiss import scan_swiss_rasters

    return scan_swiss_rasters(spark, d)


# source → (writer of one good file, file suffix, reader of a directory)
_SCANNED_SOURCES = {
    "netcdf": (_raster_file, "nc", _read_netcdf),
    "tno": (_tno_file, "nc", _read_tno),
    "formats": (_raster_file, "nc", _read_edgar_v8),
    "gfed5": (_raster_file, "nc", _read_gfed5),
    "swiss": (lambda p: p.write_text(ASC), "asc", _read_swiss),
}


@pytest.mark.parametrize("source", [*_SCANNED_SOURCES, "gral"])
def test_scan_names_truncated_file(spark, tmp_path, source):
    """Every file-format source reads through one scan, which names the
    file whose decode failed: a truncated file among good ones."""
    if source == "gral":
        point = geom.wkb_point(2683000.0, 1250000.0)
        shaped = spark.createDataFrame(
            [("traffic", point, "NOx", 100.0 * (i + 1)) for i in range(4)]
            + [("traffic", geom.wkb_linestring([(0.0, 0.0), (30.0, 40.0)]), "NOx", 6.0)],
            "category string, geometry binary, substance string, value_kg_y double",
        )
        write_gral_emissions(str(tmp_path), shaped)
        bad = tmp_path / "point.dat"
        read = lambda spark, d: gral_inventory(spark, d)  # noqa: E731
    else:
        write, suffix, read = _SCANNED_SOURCES[source]
        for name in ("good1", "bad", "good2"):
            write(tmp_path / f"{name}.{suffix}")
        bad = tmp_path / f"bad.{suffix}"
        assert read(spark, str(tmp_path / f"good1.{suffix}")).count() > 0
    data = bad.read_bytes()
    bad.write_bytes(data[: len(data) * 3 // 4])
    with pytest.raises(Exception, match=bad.name):
        read(spark, str(tmp_path)).collect()


def test_gral_scan_names_corrupt_dat(spark, tmp_path):
    import json

    from emiproc_spark.sources.gral import gral_inventory

    (tmp_path / "source_groups.json").write_text(json.dumps({"1": ["CO2", "traffic"]}))
    # a point.dat whose data section cannot parse as CSV numerics
    (tmp_path / "point.dat").write_bytes(b"hdr\nhdr2\n\x00\xff garbage \x00\n" * 3)
    with pytest.raises(Exception, match="point.dat"):
        gral_inventory(spark, str(tmp_path)).collect()


def test_gral_incomplete_caller_source_groups_fails_loudly(spark, tmp_path):
    """A caller-supplied source_groups mapping missing a live
    (substance, category) must raise, not silently omit those sources
    from the GRAL files (derived mappings cover by construction)."""
    point = geom.wkb_point(2683000.0, 1250000.0)
    shaped = spark.createDataFrame(
        [("traffic", point, "NOx", 100.0), ("heating", point, "CO2", 50.0)],
        "category string, geometry binary, substance string, value_kg_y double",
    )
    with pytest.raises(Exception, match="no source_group for"):
        write_gral_emissions(
            str(tmp_path / "g1"), shaped,
            source_groups={("NOx", "traffic"): 1},
        )
    # a complete caller mapping still writes both sources
    sg = write_gral_emissions(
        str(tmp_path / "g2"), shaped,
        source_groups={("NOx", "traffic"): 1, ("CO2", "heating"): 2},
    )
    inv = gral_inventory(spark, str(tmp_path / "g2")).toPandas()
    assert set(zip(inv["substance"], inv["category"])) == {
        ("NOx", "traffic"), ("CO2", "heating")
    }
    assert sg == {("NOx", "traffic"): 1, ("CO2", "heating"): 2}


def test_gral_null_key_named_in_error(spark, tmp_path):
    """A NULL-keyed row can never match the source_groups mapping; the
    raise must still name the tuple (NULL placeholder) instead of
    producing a null/empty message via F.concat (r9 advisor)."""
    point = geom.wkb_point(2683000.0, 1250000.0)
    shaped = spark.createDataFrame(
        [("traffic", point, None, 100.0)],
        "category string, geometry binary, substance string, value_kg_y double",
    )
    with pytest.raises(Exception, match=r"no source_group for \(NULL, traffic\)"):
        write_gral_emissions(
            str(tmp_path / "gnull"), shaped,
            source_groups={("NOx", "traffic"): 1},
        )
