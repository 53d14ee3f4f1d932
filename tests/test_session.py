"""``session.get_spark`` as a script outside the repository uses it;
``session.scoped_conf`` restores what it found."""

import os
import subprocess
import sys
import threading

import pytest

from emiproc_spark.session import scoped_conf

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


def test_scoped_conf_restores_set_and_unset_keys(spark):
    unset = "spark.sql.limit.scaleUpFactor"
    assert spark.conf.get(unset, None) is None
    with scoped_conf(spark, unset, "8"):
        assert spark.conf.get(unset) == "8"
    assert spark.conf.get(unset, None) is None

    held = "spark.sql.shuffle.partitions"
    before = spark.conf.get(held)
    with pytest.raises(RuntimeError), scoped_conf(spark, held, "3"):
        assert spark.conf.get(held) == "3"
        raise RuntimeError("body failed")
    assert spark.conf.get(held) == before


def test_overlapping_scopes_of_one_value_restore_the_original(spark):
    """Two threads' scopes of one value, the first closing first: the
    second found the value in force, so it does not put it back."""
    key = "spark.sql.limit.scaleUpFactor"
    first = scoped_conf(spark, key, "8")
    second = scoped_conf(spark, key, "8")
    first.__enter__()
    second.__enter__()
    first.__exit__(None, None, None)
    second.__exit__(None, None, None)
    assert spark.conf.get(key, None) is None


def test_scopes_of_one_value_on_many_threads_leave_the_original(spark):
    key = "spark.sql.limit.scaleUpFactor"
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    errors = []

    def churn():
        try:
            for _ in range(40):
                with scoped_conf(spark, key, "8"):
                    pass
        except Exception as exc:  # recorded, asserted below
            errors.append(exc)

    threads = [threading.Thread(target=churn) for _ in range(8)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert spark.conf.get(key, None) is None
