"""The build-once store contract (``plans.cache.cached_dir`` and
``fixtures.store``) and the rule that query results do not depend on
query order, or on stores that another query happened to build first."""

import glob
import os

import pytest

from emiproc_spark import fixtures as fx
from emiproc_spark.parity import _canon
from emiproc_spark.plans.cache import cached_dir

# queries that read one shared store, in no particular order
SHARED_STORE_FAMILIES = [
    ["minhash_est", "lsh_quality", "lsh_verified"],
    ["curate_corpus", "curation_gates"],
    ["stream_window_stats", "stream_dedup"],
]
SINGLE_CONSUMER_STORES = [
    "orc_partitioned",
    "ivf_store_probe",
    "jsonl_roundtrip",
    "stream_cdc",
    "stream_asof",
    "bucketed_join",
    "stream_heavy",
]


def test_cached_dir_builds_once_and_rebuilds_after_a_crash(tmp_path):
    path = str(tmp_path / "store")
    calls = []

    def crash(p):
        calls.append(p)
        os.makedirs(p)
        open(os.path.join(p, "partial"), "w").close()
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        cached_dir(path, crash)
    assert not os.path.exists(path + "._OK")

    def build(p):
        calls.append(p)
        assert not os.path.exists(p), "a rebuild must not see a crashed build"
        os.makedirs(p)
        open(os.path.join(p, "part-0"), "w").close()

    assert cached_dir(path, build) == path
    assert cached_dir(path, build) == path
    assert calls == [path, path]
    assert os.path.exists(path + "._OK")
    assert os.listdir(path) == ["part-0"]


def test_store_places_one_sanitized_dir_per_name_and_sf_dir(tmp_path, monkeypatch):
    monkeypatch.setattr(fx, "_STORE_ROOT", str(tmp_path))
    built = []

    def build(p):
        built.append(p)
        os.makedirs(p)

    a = fx.store("demo", "/data/sf0.01", build)
    assert fx.store("demo", "/data/sf0.01", build) == a
    b = fx.store("demo", "/data/sf0.1", build)
    assert built == [a, b]
    assert os.path.dirname(a) == str(tmp_path)
    assert os.path.basename(a).isidentifier()


def _rows(spark, sf_dir, name):
    from emiproc_spark.driver_queries import QUERIES

    return _canon(QUERIES[name](spark, sf_dir).toPandas())


def _fresh_root(monkeypatch, root):
    root.mkdir()
    monkeypatch.setattr(fx, "_STORE_ROOT", str(root))
    return root


@pytest.mark.parametrize("family", SHARED_STORE_FAMILIES, ids=lambda f: f[0])
def test_shared_store_family_is_query_order_independent(
    spark, sf_dir, tmp_path, monkeypatch, family
):
    from emiproc_spark.driver_queries import QUERIES

    order = [n for n in QUERIES if n in family]
    assert sorted(order) == sorted(family)
    runs = []
    for i, names in enumerate([order, order[::-1]]):
        root = _fresh_root(monkeypatch, tmp_path / f"run{i}")
        runs.append({n: _rows(spark, sf_dir, n) for n in names})
        assert len(glob.glob(str(root / "*._OK"))) == 1, "one shared store"
    for n in order:
        assert runs[0][n] == runs[1][n], n
        assert runs[0][n], f"{n} returned no rows"


@pytest.mark.parametrize("name", SINGLE_CONSUMER_STORES)
def test_cold_store_build_equals_warm_reuse(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    root = _fresh_root(monkeypatch, tmp_path / "root")
    cold = _rows(spark, sf_dir, name)
    (marker,) = glob.glob(str(root / "*._OK"))
    stamp = os.stat(marker).st_mtime_ns
    warm = _rows(spark, sf_dir, name)
    assert os.stat(marker).st_mtime_ns == stamp, "the warm run rebuilt"
    assert cold == warm
    assert cold, f"{name} returned no rows"
