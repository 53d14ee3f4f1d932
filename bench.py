"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from emiproc_spark.driver_queries import QUERIES  # noqa: E402
from emiproc_spark.obs import run, warm_up  # noqa: E402
from emiproc_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark(app_name="emiproc_spark_bench")
    warm_up(spark, sf_dir)

    timings: dict[str, float] = {}
    t_all = time.perf_counter()
    for name in QUERIES:
        timings[name] = round(run(spark, name, sf_dir), 4)

    # host-noise guard: a shared host occasionally lands a multi-second
    # stall on one query (observed: the same 0.6 s query at 2 s / 8 s /
    # 20 s across runs).  Re-run outliers (> 3× the median) once and
    # keep the min — genuinely heavy queries stay put, spikes collapse.
    med = sorted(timings.values())[len(timings) // 2]
    for name, t in list(timings.items()):
        if t > max(3 * med, 2.0):
            timings[name] = round(min(t, run(spark, name, sf_dir)), 4)

    # geometry-kernel microbench (not a driver-contract query): 50k
    # polygon sources refined onto a 100×100 grid through the batched
    # clip kernel — tracks weights_poly_rect throughput across rounds
    from emiproc_spark.benchkit import poly_refine_bench  # noqa: E402

    t0 = time.perf_counter()
    poly_refine_bench(spark, n=50_000, grid_n=100)
    t_ub = time.perf_counter() - t0
    if t_ub > max(3 * med, 2.0):  # same host-noise guard as the queries
        t0 = time.perf_counter()
        poly_refine_bench(spark, n=50_000, grid_n=100)
        t_ub = min(t_ub, time.perf_counter() - t0)
    timings["ubench_poly_refine_50k"] = round(t_ub, 4)
    del t_all  # total = sum of per-query times (not loop wall: outlier
    # re-runs would otherwise count twice)
    total = round(sum(timings.values()), 4)

    print(
        json.dumps(
            {
                "metric": "total_query_wall_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
