import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emiproc_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="emiproc_spark_tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def rows_per_writer(spark, tmp_path, monkeypatch):
    """``run(test_fn, readers)`` runs a NetCDF test body twice, once with
    its fixtures written by ``write_netcdf`` (classic) and once by
    ``write_netcdf4``, by swapping the test module's ``write_netcdf``.
    Every call to a reader named in ``readers`` is recorded as its
    sorted rows; returns ``{writer name: [rows per call]}``."""
    from pyspark.sql import DataFrame

    from emiproc_spark.functions.hdf5_write import write_netcdf4
    from emiproc_spark.functions.netcdf3 import write_netcdf

    def recording(fn, seen):
        def call(*args, **kwargs):
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                seen.append(sorted(map(tuple, out.collect())))
            return out

        return call

    def run(test_fn, readers):
        g = test_fn.__globals__
        rows = {}
        for writer in (write_netcdf, write_netcdf4):
            seen = rows[writer.__name__] = []
            out_dir = tmp_path / writer.__name__
            out_dir.mkdir()
            with monkeypatch.context() as m:
                m.setitem(g, "write_netcdf", writer)
                for name in readers:
                    m.setitem(g, name, recording(g[name], seen))
                test_fn(spark, out_dir)
        return rows

    return run
