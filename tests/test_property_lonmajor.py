"""The lon-major layout both ways: ``sources.netcdf.lonmajor_raster``
(the exporters' one cell-id scatter) inverts ``_lonmajor_frame`` (the
readers' stacking, ``cell_id = lon_i·nlat + lat_i``)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from emiproc_spark.sources.netcdf import _lonmajor_frame, lonmajor_raster


@st.composite
def rasters(draw):
    nlat, nlon = draw(st.integers(1, 7)), draw(st.integers(1, 7))
    seed = draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    arr = rng.normal(size=(nlat, nlon))
    # some exact zeros, so drop_zero removes rows
    arr[rng.random((nlat, nlon)) < 0.3] = 0.0
    return arr


@settings(max_examples=200, deadline=None)
@given(arr=rasters(), drop_zero=st.booleans(), shuffle=st.integers(0, 2**32 - 1))
def test_lonmajor_raster_inverts_lonmajor_frame(arr, drop_zero, shuffle):
    nlat, nlon = arr.shape
    frame = _lonmajor_frame(arr[np.newaxis], "c", "s", drop_zero=drop_zero)
    # row order must not matter
    frame = frame.sample(frac=1.0, random_state=shuffle % 2**32)
    out = lonmajor_raster(frame["cell_id"], frame["value_kg_y"], nlat, nlon)
    assert out.shape == (nlat, nlon)
    assert np.array_equal(out, arr)


@pytest.mark.parametrize("cell", [-1, 6])
def test_lonmajor_raster_rejects_cells_outside(cell):
    with pytest.raises(ValueError, match=r"outside the raster \[0, 6\)"):
        lonmajor_raster(np.array([0, cell]), np.array([1.0, 2.0]), 2, 3)
