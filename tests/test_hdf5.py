"""Minimal pure-numpy HDF5/NetCDF-4 codec (functions/hdf5.py), validated
against REAL NetCDF-4 files shipped with the reference repo's test data
(written by netcdf-c/h5py — genuine ground truth for the format):

- tno_test_minimal.nc: superblock v2, dense (fractal-heap + B-tree v2)
  root links, contiguous layouts, vlen DIMENSION_LIST attrs;
- wrfinput_for_testing.nc: chunked layouts with shuffle + deflate
  filters, unlimited Time dimension.
"""

import os

import numpy as np
import pytest

TNO_NC4 = "/root/reference/files/test/tno/tno_test_minimal.nc"
WRF_NC4 = "/root/reference/files/test/wrf/wrfinput_for_testing.nc"

needs_tno = pytest.mark.skipif(
    not os.path.exists(TNO_NC4), reason="reference NetCDF-4 sample not present"
)
needs_wrf = pytest.mark.skipif(
    not os.path.exists(WRF_NC4), reason="reference NetCDF-4 sample not present"
)


@needs_tno
def test_tno_netcdf4_structure_and_values():
    from emiproc_spark.functions.hdf5 import read_netcdf4

    ds = read_netcdf4(TNO_NC4)
    assert ds.dims["source"] == 30
    assert ds.dims["latitude"] == 7 and ds.dims["longitude"] == 4
    lat = ds.variables["latitude"].data
    lon = ds.variables["longitude"].data
    assert lat.min() >= -90 and lat.max() <= 90
    assert lon.min() >= -180 and lon.max() <= 180
    assert np.all(np.diff(lat) > 0) and np.all(np.diff(lon) > 0)
    # dimension names resolved through vlen DIMENSION_LIST references
    assert ds.variables["area"].dims == ("latitude", "longitude")
    assert ds.variables["co2_ff"].dims == ("source",)
    st = np.asarray(ds.variables["source_type_index"].data)
    assert set(np.unique(st)) <= {1, 2}
    # category index within the emis_cat dimension
    ci = np.asarray(ds.variables["emission_category_index"].data)
    assert ci.min() >= 0 and ci.max() < ds.dims["emis_cat"]
    for sub in ("co2_ff", "co2_bf", "ch4", "nox"):
        v = np.asarray(ds.variables[sub].data)
        assert v.shape == (30,) and np.isfinite(v).all() and (v >= 0).all()


@needs_wrf
def test_wrf_netcdf4_chunked_shuffle_deflate():
    from emiproc_spark.functions.hdf5 import read_netcdf4

    ds = read_netcdf4(WRF_NC4)
    xlat = np.asarray(ds.variables["XLAT"].data)
    xlong = np.asarray(ds.variables["XLONG"].data)
    assert xlat.shape == (1, 6, 3) and xlong.shape == (1, 6, 3)
    # genuine coordinates decoded through shuffle+deflate chunks —
    # filter bugs would produce garbage magnitudes
    assert 30.0 < xlat.min() < xlat.max() < 32.0
    assert -10.0 < xlong.min() < xlong.max() < -8.0
    # latitudes increase northward, staggered grids one larger
    assert np.all(np.diff(xlat[0, :, 0]) > 0)
    assert ds.variables["XLAT_U"].data.shape == (1, 6, 4)
    assert ds.variables["XLAT_V"].data.shape == (1, 7, 3)
    times = ds.variables["Times"].data
    assert times.shape == (1, 19)


@needs_tno
def test_scan_tno_reads_real_netcdf4(spark):
    """The distributed TNO scan ingests the reference's own NetCDF-4
    test file through the built-in codec; totals cross-checked against
    an independent numpy computation on the parsed arrays."""
    from pyspark.sql import functions as F

    from emiproc_spark.functions.hdf5 import read_netcdf4
    from emiproc_spark.sources.tno import tno_area_emissions, tno_point_sources

    ds = read_netcdf4(TNO_NC4)
    st = np.asarray(ds.variables["source_type_index"].data)
    subs = ["co2_ff", "co2_bf", "ch4"]
    want_area = {s: float(ds.variables[s].data[st == 1].sum()) for s in subs}
    want_point = {s: float(ds.variables[s].data[st == 2].sum()) for s in subs}

    area = tno_area_emissions(spark, TNO_NC4)
    got_area = {
        r["substance"]: r["v"]
        for r in area.groupBy("substance").agg(F.sum("value_kg_y").alias("v")).collect()
    }
    pts = tno_point_sources(spark, TNO_NC4)
    got_point = {
        r["substance"]: r["v"]
        for r in pts.groupBy("substance").agg(F.sum("value_kg_y").alias("v")).collect()
    }
    for s in subs:
        assert got_area[s] == pytest.approx(want_area[s], rel=1e-12)
        assert got_point[s] == pytest.approx(want_point[s], rel=1e-12)


@needs_tno
def test_generic_raster_ingest_dispatches_netcdf4(spark):
    """default_container_decoder sniffs the HDF5 magic and decodes with
    the built-in codec when h5py is absent."""
    from emiproc_spark.sources.netcdf import default_container_decoder

    ds = default_container_decoder(open(TNO_NC4, "rb").read())
    assert "area" in ds.variables and ds.dims["source"] == 30


def test_unsupported_features_raise_actionable():
    from emiproc_spark.functions.hdf5 import HDF5Error, read_hdf5

    with pytest.raises(HDF5Error, match="signature"):
        read_hdf5(b"not an hdf5 file at all........")


@needs_wrf
def test_wrf_grid_from_real_wrfinput(spark):
    """WRF grid ingest over the reference's real wrfinput file: corner
    reconstruction, lon-major ids, plausible spherical areas."""
    from emiproc_spark.functions.geometry import parse_wkb
    from emiproc_spark.sources.wrf_grid import wrf_grid

    g = wrf_grid(spark, WRF_NC4)
    rows = {r["cell_id"]: r for r in g.collect()}
    assert len(rows) == 3 * 6  # west_east=3, south_north=6
    # lon-major: cell x*ny + y; consecutive y share x → same lon column
    for cid, r in rows.items():
        assert r["xmin"] < r["lon"] < r["xmax"]
        assert r["ymin"] < r["lat"] < r["ymax"]
        gtype, rings = parse_wkb(bytes(r["geometry"]))
        assert gtype == 3 and len(rings[0]) == 5
        # ~10 km WRF cells: O(1e8) m2
        assert 1e7 < r["area_m2"] < 1e9
    # neighboring cells in y share an edge: the quads are skewed under
    # the model projection, so the bboxes overlap by up to ~cell/4
    r0, r1 = rows[0], rows[1]
    assert r0["ymax"] == pytest.approx(r1["ymin"], abs=0.1)
    assert r0["ymax"] > r1["ymin"]  # overlapping, not disjoint


def test_write_read_roundtrip_old_format(spark):
    """The minimal writer emits the OLD layout (superblock v0, v1
    headers, symbol-table groups) — the reader path the real reference
    samples (superblock v2, dense links) do NOT exercise."""
    from emiproc_spark.functions.hdf5 import read_hdf5
    from emiproc_spark.functions.hdf5_write import write_netcdf4
    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable

    v = np.arange(12, dtype="f8").reshape(4, 3) * 0.25
    ds = NCDataset(
        dims={"y": 4, "x": 3, "z": 4},  # y and z share extent: names must
        attrs={"title": "rt", "n": 7},  # come from DIMENSION_LIST refs
        variables={
            "y": NCVariable("y", ("y",), np.arange(4.0), {}),
            "x": NCVariable("x", ("x",), np.arange(3.0), {}),
            "v": NCVariable("v", ("y", "x"), v, {"units": "kg", "f": 1.5}),
            "w": NCVariable("w", ("z",), np.arange(4, dtype="i8"), {}),
            "s": NCVariable("s", ("x",), np.array([b"a", b"b", b"c"], dtype="S1"), {}),
        },
    )
    blob = write_netcdf4(None, ds)
    assert blob[1:4] == b"HDF" and blob[8] == 0  # superblock v0
    back = read_hdf5(blob)
    assert back.dims == {"y": 4, "x": 3, "z": 4}
    assert np.allclose(back.variables["v"].data, v)
    assert back.variables["v"].dims == ("y", "x")
    assert back.variables["w"].dims == ("z",)  # not confused with y
    assert back.variables["v"].attrs["units"] == "kg"
    assert back.variables["v"].attrs["f"] == 1.5
    assert back.attrs == {"title": "rt", "n": 7}
    assert list(back.variables["s"].data) == [b"a", b"b", b"c"]


def test_raster_export_netcdf4_container_roundtrip(spark):
    """export_raster_netcdf(container='hdf5') → from_netcdf_rasters
    through the built-in codec conserves every value."""
    import tempfile

    from pyspark.sql import functions as F

    from emiproc_spark.queries.io import raster_grid
    from emiproc_spark.exports.netcdf import export_raster_netcdf
    from emiproc_spark.sources.netcdf import from_netcdf_rasters

    e = spark.createDataFrame(
        [(i, "A", "CO2", float(i + 1)) for i in range(20)],
        "cell_id long, category string, substance string, value_kg_y double",
    )
    out = export_raster_netcdf(
        e, raster_grid(spark), tempfile.mktemp(suffix=".nc"),
        add_totals=False, container="hdf5",
    )
    back = from_netcdf_rasters(spark, out)
    got = {r["cell_id"]: r["value_kg_y"] for r in back.collect()}
    assert got == {i: float(i + 1) for i in range(20)}


def test_userblock_and_truncation_and_empty():
    """Review regressions: userblock offsets re-base addresses; a
    signature-only blob raises HDF5Error (not IndexError); empty and
    colliding datasets are handled."""
    from emiproc_spark.functions.hdf5 import HDF5Error, read_hdf5
    from emiproc_spark.functions.hdf5_write import write_netcdf4
    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable

    ds = NCDataset(
        dims={"x": 2},
        attrs={"t": "ub"},
        variables={"v": NCVariable("v", ("x",), np.array([1.0, 2.0]), {})},
    )
    blob = write_netcdf4(None, ds)
    # 512-byte userblock: legal HDF5, addresses relative to the base
    back = read_hdf5(b"\x00" * 512 + blob)
    assert list(back.variables["v"].data) == [1.0, 2.0]
    assert back.attrs["t"] == "ub"

    with pytest.raises(HDF5Error, match="truncated|signature"):
        read_hdf5(b"\x89HDF\r\n\x1a\n")

    # attrs-only file: empty root group round-trips
    empty = read_hdf5(write_netcdf4(None, NCDataset(attrs={"only": "attrs"})))
    assert empty.variables == {} and empty.attrs["only"] == "attrs"

    # dataset name colliding with a group prefix is rejected, not dropped
    bad = NCDataset(
        variables={
            "a/b": NCVariable("b", (), np.array(1.0), {}),
            "a": NCVariable("a", (), np.array(2.0), {}),
        }
    )
    with pytest.raises(ValueError, match="collides|nests"):
        write_netcdf4(None, bad)


@needs_wrf
def test_wrf_grid_rejects_multiple_files(spark, tmp_path):
    import shutil

    shutil.copy(WRF_NC4, tmp_path / "a.nc")
    shutil.copy(WRF_NC4, tmp_path / "b.nc")
    from emiproc_spark.sources.wrf_grid import wrf_grid

    with pytest.raises(ValueError, match="matched 2 files"):
        wrf_grid(spark, str(tmp_path))


def test_local_heap_free_list_sentinel_and_userblock_probe():
    """Round-4 ADVICE regressions: (1) the writer's local heaps declare
    an EMPTY free list with the H5HL_FREE_NULL sentinel 1 (0 would
    declare a free block at heap offset 0 and break libhdf5 readers);
    (2) is_hdf5 probes power-of-two userblock offsets like the reader."""
    import struct

    from emiproc_spark.functions.hdf5 import is_hdf5
    from emiproc_spark.functions.hdf5_write import write_netcdf4
    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable

    ds = NCDataset(
        dims={"x": 2},
        variables={"v": NCVariable("v", ("x",), np.array([1.0, 2.0]), {})},
    )
    blob = write_netcdf4(None, ds)
    heaps = 0
    pos = blob.find(b"HEAP")
    while pos != -1:
        # HEAP sig(4) version+reserved(4) size(8) free-list-head(8) addr(8)
        free_head = struct.unpack_from("<Q", blob, pos + 16)[0]
        assert free_head == 1, f"heap at {pos}: free-list head {free_head}, want 1"
        heaps += 1
        pos = blob.find(b"HEAP", pos + 4)
    assert heaps >= 1  # at least the root group heap

    assert is_hdf5(blob)
    assert is_hdf5(b"\x00" * 512 + blob)  # userblocked file recognized
    assert is_hdf5(b"\x00" * 1024 + blob)
    assert not is_hdf5(b"\x00" * 600 + blob)  # non-power-of-two: content
    assert not is_hdf5(b"CDF\x01" + b"\x00" * 2048)


# ----------------------------------------------------------------------
# Golden byte-layout: the exact superblock / symbol-table fields libhdf5
# validates on open (H5Fsuper.c / H5Gnode.c decode paths), cross-checked
# against the reference repo's real netcdf-c fixture where the layouts
# share fields.  The sandbox has no libhdf5, so this pins the on-disk
# contract those readers check; the importorskip test below lights up
# the real round-trip wherever h5py is installed.
# ----------------------------------------------------------------------
UNDEF = 0xFFFFFFFFFFFFFFFF


def _golden_blob():
    from emiproc_spark.functions.hdf5_write import write_netcdf4
    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable

    ds = NCDataset(
        dims={"x": 3, "y": 2},
        variables={
            "x": NCVariable("x", ("x",), np.arange(3.0), {"units": "m"}),
            "v": NCVariable(
                "v", ("x", "y"),
                np.arange(6, dtype="<f8").reshape(3, 2),
                {"units": "kg"},
            ),
            "grp/w": NCVariable("grp/w", ("y",), np.arange(2.0), {}),
        },
        attrs={"title": "golden"},
    )
    return write_netcdf4(None, ds)


def _v1_header_messages(blob, addr):
    """Walk a version-1 object header; return [(type, body_bytes)]."""
    import struct

    version, reserved, nmsgs, refcnt, hdrsize = struct.unpack_from(
        "<BBHII", blob, addr
    )
    assert version == 1 and reserved == 0, (version, reserved)
    assert refcnt >= 1
    pos = addr + 16  # 12-byte prefix + 4 alignment pad
    end = pos + hdrsize
    out = []
    for _ in range(nmsgs):
        assert pos + 8 <= end <= len(blob)
        mtype, msize, mflags = struct.unpack_from("<HHB", blob, pos)
        out.append((mtype, blob[pos + 8 : pos + 8 + msize]))
        pos += 8 + msize
    assert pos == end, "header size must cover exactly nmsgs messages"
    return out


def _check_symbol_table_group(blob, hdr_addr, leaf_k):
    """Assert the HEAP/TREE/SNOD fields libhdf5 checks; return the SNOD
    entries' object-header addresses."""
    import struct

    msgs = _v1_header_messages(blob, hdr_addr)
    stab = [b for t, b in msgs if t == 0x0011]
    assert len(stab) == 1, "group header needs exactly one symbol-table msg"
    btree_addr, heap_addr = struct.unpack_from("<QQ", stab[0], 0)

    assert blob[heap_addr : heap_addr + 4] == b"HEAP"
    h_ver = blob[heap_addr + 4]
    seg_size, free_head, seg_addr = struct.unpack_from("<QQQ", blob, heap_addr + 8)
    assert h_ver == 0
    assert free_head == 1  # H5HL_FREE_NULL: empty free list
    assert seg_size >= 8 and seg_addr + seg_size <= len(blob)
    assert blob[seg_addr : seg_addr + 8] == b"\x00" * 8  # empty-string slot

    if btree_addr == UNDEF:
        return []
    assert blob[btree_addr : btree_addr + 4] == b"TREE"
    node_type, level, entries = struct.unpack_from("<BBH", blob, btree_addr + 4)
    assert node_type == 0 and level == 0  # group leaf node
    assert 0 < entries <= 2 * leaf_k
    left, right = struct.unpack_from("<QQ", blob, btree_addr + 8)
    assert left == UNDEF and right == UNDEF

    (snod_addr,) = struct.unpack_from("<Q", blob, btree_addr + 32)
    assert blob[snod_addr : snod_addr + 4] == b"SNOD"
    s_ver, _, nsyms = struct.unpack_from("<BBH", blob, snod_addr + 4)
    assert s_ver == 1 and nsyms >= 1
    addrs = []
    prev_name = b""
    for i in range(nsyms):
        off = snod_addr + 8 + 40 * i
        name_off, obj_addr, cache, _ = struct.unpack_from("<QQII", blob, off)
        assert 0 < name_off < seg_size and obj_addr < len(blob)
        assert cache == 0  # no cached B-tree pointers
        name_end = blob.index(b"\x00", seg_addr + name_off)
        name = blob[seg_addr + name_off : name_end]
        assert name > prev_name, "SNOD entries must sort by link name"
        prev_name = name
        addrs.append(obj_addr)
    return addrs


def test_hdf5_writer_superblock_golden_layout():
    import struct

    blob = _golden_blob()
    assert blob[:8] == b"\x89HDF\r\n\x1a\n"
    # v0 superblock fixed fields (H5Fsuper.c rejects any other values):
    # versions all 0, sizeof(offsets)=sizeof(lengths)=8
    assert struct.unpack_from("<BBBBBBBB", blob, 8) == (0, 0, 0, 0, 0, 8, 8, 0)
    leaf_k, intern_k, flags = struct.unpack_from("<HHI", blob, 16)
    assert leaf_k > 0 and intern_k > 0  # libhdf5: "bad symbol table k"
    assert flags == 0
    base, fsa, eof, dib = struct.unpack_from("<QQQQ", blob, 24)
    assert base == 0
    assert fsa == UNDEF and dib == UNDEF
    # the "file is truncated" check: stored EOF must not exceed the real
    # file size; the writer stamps it exactly
    assert eof == len(blob)
    name_off, root_hdr, cache, _ = struct.unpack_from("<QQII", blob, 56)
    assert name_off == 0 and cache == 0 and root_hdr < len(blob)

    # root group: symbol-table walk with the node-level invariants
    entry_addrs = _check_symbol_table_group(blob, root_hdr, leaf_k)
    assert len(entry_addrs) == 4  # x, y, v, grp
    # every linked object parses as a v1 header; the subgroup nests
    ds_like = grp_like = 0
    for a in entry_addrs:
        types = {t for t, _ in _v1_header_messages(blob, a)}
        if 0x0011 in types:
            grp_like += 1
            sub = _check_symbol_table_group(blob, a, leaf_k)
            assert len(sub) == 1  # grp/w
        else:
            ds_like += 1
            # datasets carry dataspace + datatype + layout
            assert {0x0001, 0x0003, 0x0008} <= types
    assert ds_like == 3 and grp_like == 1

    # root attrs present as 0x000C messages (title + _NCProperties-style)
    root_types = [t for t, _ in _v1_header_messages(blob, root_hdr)]
    assert root_types.count(0x000C) >= 1


def test_hdf5_writer_shared_invariants_match_netcdf_c_fixture():
    """The fields common to all superblock versions — checked by libhdf5
    regardless of version — must hold for BOTH the real netcdf-c file
    (superblock v2) and our v0 output: 8-byte offsets/lengths, base
    address 0, stored EOF == file size."""
    import struct

    real = open(WRF_NC4, "rb").read()
    assert real[:8] == b"\x89HDF\r\n\x1a\n"
    assert real[8] == 2  # netcdf-c writes v2
    assert real[9] == 8 and real[10] == 8  # sizeof offsets / lengths
    r_base, r_ext, r_eof, r_root = struct.unpack_from("<QQQQ", real, 12)
    assert r_base == 0 and r_eof == len(real)

    blob = _golden_blob()
    assert blob[13] == 8 and blob[14] == 8
    base, _, eof, _ = struct.unpack_from("<QQQQ", blob, 24)
    assert base == r_base == 0
    assert eof == len(blob)


def test_hdf5_writer_h5py_roundtrip(tmp_path):
    """Full external-toolchain round-trip — runs wherever h5py (libhdf5)
    is installed; skipped in sandboxes without it."""
    h5py = pytest.importorskip("h5py")

    from emiproc_spark.functions.hdf5_write import write_netcdf4
    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable

    ds = NCDataset(
        dims={"x": 3, "y": 2},
        variables={
            "x": NCVariable("x", ("x",), np.arange(3.0), {"units": "m"}),
            "v": NCVariable(
                "v", ("x", "y"),
                np.arange(6, dtype="<f8").reshape(3, 2),
                {"units": "kg"},
            ),
            "grp/w": NCVariable("grp/w", ("y",), np.arange(2.0), {}),
        },
        attrs={"title": "golden"},
    )
    p = str(tmp_path / "golden.nc")
    write_netcdf4(p, ds)
    with h5py.File(p, "r") as f:
        assert f.attrs["title"] in ("golden", b"golden")
        np.testing.assert_array_equal(f["v"][...], ds.variables["v"].data)
        np.testing.assert_array_equal(f["x"][...], np.arange(3.0))
        np.testing.assert_array_equal(f["grp"]["w"][...], np.arange(2.0))
        assert f["v"].attrs["units"] in ("kg", b"kg")
