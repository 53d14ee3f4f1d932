"""Benchmark entry point: one measured pass of a workload.

    python3 perfbench/run.py --workload inventory_etl --seed 1 --seconds 5 --trace 0

Starts a fresh process that sets up a SparkSession, runs every query of
the workload once at sf0.01 and compares it with its DuckDB oracle
where it has one, then times the workload in the order fixed by
``--seed`` until ``--seconds`` of query time are measured.  The inputs
are the project's seed-42 reference tables, kept under
``perfbench/data``: sf0.1 for timing, sf0.01 for the check.  Each run gets its own scratch, Spark local and
temp directories, removed afterwards.  The last stdout line is the JSON
result; with ``--trace 0`` it carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS, order, p50, p75  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data")
SF_DIR, CHECK_DIR = os.path.join(DATA, "sf0.1"), os.path.join(DATA, "sf0.01")
CHILD_TIMEOUT_S = 170.0
DRIVER_MEM = "2g"


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group and wait
    until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_child(
    workload: str, seed: int, trace: int, sf_dir: str, check_dir: str, seconds: float
) -> dict:
    """Run child.py in a fresh process group with its own directories
    and return its measurements."""
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{workload}-{seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("scratch", "local", "tmp", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 4),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_SCRATCH=dirs["scratch"],
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']}",
    )
    env.pop("OMP_NUM_THREADS", None)
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", workload, "--seed", str(seed), "--trace", str(trace),
        "--sf-dir", sf_dir, "--check-dir", check_dir, "--seconds", str(seconds),
        "--out", out,
    ]
    t0 = time.time()
    proc = subprocess.Popen(
        cmd + ["--t0", repr(t0)], cwd=dirs["cwd"], env=env,
        stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc)
    try:
        if code != 0:
            raise SystemExit(f"measured process failed (exit {code})")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description="emiproc_spark workload benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True, help="query time to measure")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "emiproc_spark", "driver_queries.py")):
        sys.exit(f"no emiproc_spark package under {ROOT}")

    names = order(args.workload, args.seed)
    r = run_child(args.workload, args.seed, args.trace, SF_DIR, CHECK_DIR, args.seconds)

    walls = [sum(p.values()) for p in r["passes"]]
    lat = [t for p in r["passes"] for t in p.values()]
    check_fail = [n for n, ok in r["checks"].items() if not ok]
    failed = len(r["failed"]) + len(check_fail)
    attempted = r["attempted"] + len(r["checks"])
    print(f"workload {args.workload} seed {args.seed}: {len(names)} queries, {len(walls)} passes")
    for k, p in enumerate(r["passes"], 1):
        print(f"  pass {k}: {sum(p.values()):.3f} s  " + " ".join(f"{n}={t:.3f}" for n, t in p.items()))
    print(
        f"output check: {len(r['checks']) - len(check_fail)} PASS, {len(check_fail)} FAIL"
        f" {check_fail or ''}; query errors: {r['failed'] or 'none'}"
    )
    q75 = p75(lat)
    print(f"failed_frac {failed / attempted:.4f} ratio")
    print(f"host CPU steal during the timed passes: {r['steal_frac']:.3f}")
    print(f"query_p50_s {p50(lat):.4f} s (n={len(lat)})")
    print(
        f"query_p75_s {q75:.4f} s (n={len(lat)})" if q75 is not None
        else f"query_p75_s omitted: {len(lat)} samples < 40"
    )
    if args.trace:
        from ledger import METRICS

        layers = {k: p50([pl[k] for pl in r["layers"]]) for k, _ in METRICS}
        layers["session.jvm_peak_rss_mb"] = r["jvm_peak_rss_mb"]
        layers["host.steal_frac"] = r["steal_frac"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in METRICS}
    else:
        metrics = {
            "wall_s": {"value": p50(walls), "unit": "s"},
            "setup_s": {"value": r["setup_s"], "unit": "s"},
        }
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
