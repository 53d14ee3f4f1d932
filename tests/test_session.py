"""``session.get_spark`` as a script outside the repository uses it."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
from emiproc_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1)

def touch_package(batches):
    import emiproc_spark.sources.netcdf  # noqa: F401
    yield from batches

print(len(spark.range(3).mapInPandas(touch_package, "id long").collect()))
spark.stop()
"""


def test_python_workers_import_the_package_from_any_directory(tmp_path):
    """A driver script that puts the repository on ``sys.path`` and runs
    from another directory, with no ``PYTHONPATH``, must reach the
    package from its pandas UDFs instead of dying with
    ``ModuleNotFoundError``."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    run = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[-1] == "3"
