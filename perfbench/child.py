"""The measured passes of a workload, in a fresh process.

Started by ``run.py``; writes its measurements as JSON to ``--out``.
Set-up is process start, the SparkSession, the ``bench.py`` warm-up and
the output check, which runs every query of the workload once at
``--check-dir`` and compares it with its DuckDB oracle where it has
one.  The check is also the workload's warm-up: it loads classes,
JIT-compiles and starts Python workers on the workload's own code
paths, so the timed passes measure less of those one-off costs, which
depend on the query order.  Timed passes follow until ``--seconds`` of
query time are reached, at least one.  Every
pass reads the tables through a new path, so every per-``sf_dir`` store
of the registry is built again in it, as in a fresh process.  The timed
region of each query is ``bench.py``'s: from the ``QUERIES[name](spark,
sf_dir)`` call to the end of the ``noop`` write.  With ``--trace 1`` the
layer shim is installed after the warm pass and per-layer counts are
read back after each query, outside its timed region.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import traceback

from workloads import POLY_REFINE, order

MAX_PASSES = 10


def warm_up(spark, sf_dir: str) -> None:
    """The warm-up of bench.py: JVM and codegen, the Python worker pool,
    and the page cache of every input table."""
    spark.range(1).collect()

    def _warm_batches(it):
        yield from it

    spark.range(32).repartition(32).mapInPandas(
        _warm_batches, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    from emiproc_spark.parity import TABLES

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.format("noop").mode(
            "overwrite"
        ).save()


def build(spark, sf_dir: str, name: str):
    """Run the query function; the poly-refine microbench has no frame."""
    if name == POLY_REFINE:
        from emiproc_spark.benchkit import poly_refine_bench

        poly_refine_bench(spark, n=50_000, grid_n=100)
        return None
    from emiproc_spark.driver_queries import QUERIES

    return QUERIES[name](spark, sf_dir)


def alias(sf_dir: str) -> str:
    """A new path to the same tables (hard links, else symbolic links):
    every per-``sf_dir`` store the registry keeps is built again for it,
    as in a fresh process, while the page cache stays warm."""
    d = os.path.join(tempfile.mkdtemp(prefix="pass_"), os.path.basename(sf_dir))
    os.makedirs(d)
    for f in os.listdir(sf_dir):
        src, dst = os.path.join(sf_dir, f), os.path.join(d, f)
        try:
            os.link(src, dst)
        except OSError:
            os.symlink(src, dst)
    return d


def write_noop(df) -> None:
    if df is not None:
        df.write.format("noop").mode("overwrite").save()


def run_check(spark, check_dir: str, names: list[str]) -> dict[str, bool]:
    """Each query at ``check_dir``: compared with its DuckDB oracle where
    it has one, else it must finish without error."""
    from emiproc_spark.driver_queries import ORACLES, QUERIES
    from emiproc_spark.parity import compare

    out = {}
    for name in names:
        try:
            if name in ORACLES:
                r = compare(spark, check_dir, name, QUERIES[name], ORACLES[name])
                out[name] = bool(r["values_match"])
                if not out[name]:
                    print(f"check {name}: {r}", file=sys.stderr)
            else:
                write_noop(build(spark, check_dir, name))
                out[name] = True
        except Exception:
            traceback.print_exc()
            out[name] = False
        spark.catalog.clearCache()
    return out


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def run_pass(spark, sf_dir: str, names: list[str], ledger, failed: list[str]) -> dict:
    """Each query once in the timed region; a query that raises is
    appended to ``failed``.  Returns the per-query times."""
    lat: dict[str, float] = {}
    for name in names:
        try:
            if ledger is None:
                t0 = time.perf_counter()
                write_noop(build(spark, sf_dir, name))
                lat[name] = time.perf_counter() - t0
            else:
                lat[name] = ledger.run(name, lambda: build(spark, sf_dir, name), write_noop)
        except Exception:
            traceback.print_exc()
            failed.append(name)
        spark.catalog.clearCache()
    return lat


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--check-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True, help="measure at least this long")
    ap.add_argument("--t0", type=float, required=True, help="process spawn time")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    from emiproc_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    t_session = time.time()
    warm_up(spark, a.sf_dir)
    t_warm = time.time()
    checks = run_check(spark, a.check_dir, order(a.workload, a.seed))
    t_setup = time.time()
    session = {
        "session.start_s": t_session - a.t0,
        "session.warm_s": t_warm - t_session,
        "session.check_s": t_setup - t_warm,
    }

    ledger = None
    if a.trace:
        from ledger import Ledger

        ledger = Ledger(spark, os.environ["SPARK_GRAFT_SCRATCH"])
    passes: list[dict[str, float]] = []
    layers: list[dict[str, float]] = []
    failed: list[str] = []
    steal0 = cpu_steal()
    while not passes or (
        sum(sum(p.values()) for p in passes) < a.seconds and len(passes) < MAX_PASSES
    ):
        if ledger is not None:
            ledger.new_pass()
        names = order(a.workload, a.seed, len(passes) + 1)
        lat = run_pass(spark, alias(a.sf_dir), names, ledger, failed)
        passes.append(lat)
        if ledger is not None:
            layers.append(ledger.metrics(sum(lat.values()), session))
    steal = cpu_steal()

    from spark_stats import vm_hwm_mb

    rss_mb = vm_hwm_mb(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    result = {
        "setup_s": t_setup - a.t0,
        "passes": passes,
        "failed": failed,
        "attempted": sum(len(p) for p in passes) + len(failed),
        "checks": checks,
        "jvm_peak_rss_mb": rss_mb,
        "steal_frac": (steal[0] - steal0[0]) / max(1, steal[1] - steal0[1]),
    }
    if ledger is not None:
        result["layers"] = layers
        result["spans"] = ledger.span_counts()
    with open(a.out, "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main()
