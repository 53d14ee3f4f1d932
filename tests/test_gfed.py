"""GFED4 algebra over an injected decoder (HDF5 decode is h5py-gated;
the month×partition×area math and profile normalization are real)."""

import numpy as np
import pytest

from emiproc_spark.sources.gfed import (
    gfed4_emissions,
    gfed4_monthly_ratios,
    gfed4_scan,
)

NLAT, NLON = 3, 2


def make_fake_decoder():
    """Deterministic stand-in for the HDF5 groups: DM × partition ×
    area already multiplied, like default_h5_decoder yields.  Built as
    a closure so Spark serializes it by value into the workers."""
    nlat, nlon = NLAT, NLON

    def fake_decoder(content: bytes):
        import numpy as np

        rng = np.random.default_rng(11)
        for month in range(1, 13):
            for cat in ("SAVA", "BORF"):
                arr = np.round(rng.uniform(0, 5, (nlat, nlon)), 3)
                if cat == "BORF":
                    arr[0, 0] = 0.0  # cell 0 only has SAVA mass
                yield month, cat, arr

    return fake_decoder


def test_gfed4_emissions(spark, tmp_path):
    # any file works — the injected decoder ignores the bytes
    (tmp_path / "GFED4.1s_2016.hdf5").write_bytes(b"\x89HDF fake")
    out = gfed4_emissions(
        spark, str(tmp_path), decoder=make_fake_decoder()
    ).toPandas()
    assert set(out["category"]) == {"SAVA", "BORF"}
    assert set(out["substance"]) == {"DM"}
    # recompute expected: sum over months for cell (lat0, lon1) → cell_id
    # lon-major = 1*NLAT + 0 = 3
    want = {}
    for month, cat, arr in make_fake_decoder()(b""):
        want[cat] = want.get(cat, 0.0) + arr[0, 1]
    got = out.set_index(["category", "cell_id"])["value_kg_y"]
    assert got[("SAVA", NLAT)] == pytest.approx(want["SAVA"])
    assert got[("BORF", NLAT)] == pytest.approx(want["BORF"])


def test_gfed4_monthly_ratios(spark, tmp_path):
    (tmp_path / "g.hdf5").write_bytes(b"x")
    ratios = gfed4_monthly_ratios(
        spark, str(tmp_path), decoder=make_fake_decoder()
    ).toPandas()
    sums = ratios.groupby(["cell_id", "category"])["ratio"].sum()
    assert np.allclose(sums.values, 1.0)
    assert ratios["pos"].min() == 0 and ratios["pos"].max() == 11


def test_gfed4_h5_gate(spark, tmp_path):
    # truncated HDF5 container: the built-in codec (h5py absent) rejects
    # it with a clear parse error instead of silently returning nothing
    (tmp_path / "g.hdf5").write_bytes(b"\x89HDF\r\n\x1a\n")
    with pytest.raises(Exception, match="h5py|superblock|signature|hdf5|index"):
        gfed4_scan(spark, str(tmp_path)).collect()


def test_gfed4_bad_variable(spark):
    with pytest.raises(ValueError, match="use_variable"):
        gfed4_scan(None, "x", use_variable="XX")


def test_gfed4_builtin_codec_end_to_end(spark, tmp_path):
    """GFED4 nested-group HDF5 (written by the minimal writer) scans
    through the built-in codec fallback with exact closed-form values."""
    import pytest as _p
    from pyspark.sql import functions as F

    from emiproc_spark.queries.io import (
        GFED_NLAT,
        write_gfed4_fixture,
    )
    from emiproc_spark.sources.gfed import gfed4_emissions, gfed4_monthly_ratios

    write_gfed4_fixture(str(tmp_path))
    rows = {
        (r["cell_id"], r["category"]): r["value_kg_y"]
        for r in gfed4_emissions(spark, str(tmp_path)).collect()
    }
    # annual = sum(month)*frac*area = 78*frac*100
    for (cid, cat), v in rows.items():
        lat_i, lon_i = cid % GFED_NLAT, cid // GFED_NLAT
        frac = (lat_i + 1) / 10.0 if cat == "SAVA" else (lon_i + 1) / 20.0
        assert v == _p.approx(7800.0 * frac, rel=1e-12)
    # monthly ratios: DM linear in month => ratio at pos m-1 is m/78
    ratios = gfed4_monthly_ratios(spark, str(tmp_path))
    got = {
        r["pos"]: r["ratio"]
        for r in ratios.where(
            (F.col("cell_id") == 0) & (F.col("category") == "SAVA")
        ).collect()
    }
    assert len(got) == 12
    assert got[2] == _p.approx(3 / 78.0, rel=1e-12)
