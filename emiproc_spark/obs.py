"""The package's one measurement module: ``bench.py``'s ``warm_up`` and
timed ``run``, a block's ``jobs`` read from the driver's status store
(populated with the UI off) and the ``streams`` progress recorder.
``python -m emiproc_spark.obs {time,ab,plan,jobs,stream,compare} -h``
lists each command's arguments; queries run at ``$SPARK_GRAFT_SF_DIR``
(bench.py's default when unset)."""

from __future__ import annotations

import argparse
import io
import json
import os
import time
from contextlib import ExitStack, contextmanager, redirect_stdout

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from emiproc_spark.driver_queries import QUERIES
from emiproc_spark.session import get_spark, scoped_conf


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Warm fixed costs that would otherwise land on whichever query runs
    first: JVM/codegen, parquet footer cache, and the Python UDF worker
    pool (first pandas UDF pays ~2-3 s of worker spin-up)."""
    spark.range(1).collect()

    def _warm_batches(it):
        yield from it

    spark.range(32).repartition(32).mapInPandas(
        _warm_batches, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # Warm the OS page cache for every input table (untimed): otherwise
    # whichever query first touches a table pays its disk-cold read and
    # per-round timings depend on what the driver ran beforehand.  The
    # bench measures engine work, not page-cache luck.
    from emiproc_spark.parity import TABLES

    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.format("noop").mode(
            "overwrite"
        ).save()


def run(spark: SparkSession, name: str, sf_dir: str) -> float:
    """Wall seconds to build query ``name`` and write it to the noop sink."""
    t0 = time.perf_counter()
    df = QUERIES[name](spark, sf_dir)
    # noop sink materializes every column (count() would let
    # Catalyst prune the value computations away)
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    # operators may cache intermediates; drop them so later queries
    # aren't taxed by accumulated executor memory / GC pressure
    spark.catalog.clearCache()
    return dt


def drain(spark: SparkSession) -> None:
    """Wait until the asynchronous listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _opt(opt, default=None):
    return opt.get() if opt.isDefined() else default


@contextmanager
def jobs(spark: SparkSession, tag: str):
    """Run the ``with`` body under job group ``tag``; on exit the yielded
    list holds one dict per job it started: ``id``, ``stages`` (skipped
    ones included), ``tasks``, ``start``/``end`` (epoch seconds) and
    ``description``.  Stream micro-batches run in their stream's group."""
    sc = spark.sparkContext
    prev = {k: sc.getLocalProperty(k) for k in ("spark.jobGroup.id", "spark.job.description")}
    seen = set(sc.statusTracker().getJobIdsForGroup(tag))
    out: list[dict] = []
    sc.setJobGroup(tag, tag)
    try:
        yield out
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    drain(spark)
    as_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    for i in sorted(set(sc.statusTracker().getJobIdsForGroup(tag)) - seen):
        j = sc._jsc.sc().statusStore().job(i)
        stages = [int(s) for s in as_java(j.stageIds())]
        start, end = _opt(j.submissionTime()), _opt(j.completionTime())
        out.append({"id": i, "stages": stages, "tasks": j.numTasks(),
                    "start": start.getTime() / 1e3, "end": end and end.getTime() / 1e3,
                    "description": _opt(j.description(), "")})


class _StreamRecorder(StreamingQueryListener):
    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        self.events.append({"event": "started", "t": time.time()})

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        self.events.append({"event": "progress", "t": time.time(), "progress": p})

    def onQueryTerminated(self, event):
        self.events.append({"event": "terminated", "t": time.time()})


@contextmanager
def streams(spark: SparkSession):
    """Record every stream's start, progress (the parsed progress JSON) and
    termination during the ``with`` body, each with its arrival time."""
    recorder = _StreamRecorder()
    spark.streams.addListener(recorder)
    try:
        yield recorder.events
    finally:
        drain(spark)
        spark.streams.removeListener(recorder)


def ab(spark: SparkSession, sf_dir: str, reps: int, overrides: dict, names) -> None:
    """Per query, ``reps`` interleaved runs of A (the session's confs) and
    B (``overrides``) in one session, so host drift cancels."""
    for name in names:
        ta, tb = [], []
        for _ in range(reps):
            ta.append(run(spark, name, sf_dir))
            with ExitStack() as stack:
                for k, v in overrides.items():
                    stack.enter_context(scoped_conf(spark, k, v))
                tb.append(run(spark, name, sf_dir))
        print(f"{name:28s} A(min)={min(ta):.3f} B(min)={min(tb):.3f} "
              f"ratio={min(tb) / min(ta):.2f} A={[round(x, 2) for x in ta]} "
              f"B={[round(x, 2) for x in tb]}")


def plan(spark: SparkSession, sf_dir: str, out_dir: str, names) -> None:
    """Write each query's ``explain("formatted")`` to ``<out_dir>/<query>.txt``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001
            text = f"PLAN CAPTURE FAILED: {exc}\n"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(text)
        print(name, "ok" if "FAILED" not in text[:30] else "FAILED")


def _phases(spark: SparkSession, name: str, sf_dir: str, rep: int):
    """``run`` with build and noop write in their own job groups."""
    with jobs(spark, f"build:{name}:{rep}") as build:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t_build = time.perf_counter() - t0
    with jobs(spark, f"action:{name}:{rep}") as action:
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_total = t_build + time.perf_counter() - t1
    spark.catalog.clearCache()
    return t_build, t_total, build + action


def _print_jobs(spark, sf_dir: str, name: str, reps: int) -> None:
    for rep in range(reps):
        t_build, t_total, js = _phases(spark, name, sf_dir, rep)
        print(f"\n=== rep {rep}: build={t_build:.3f}s total={t_total:.3f}s "
              f"jobs={len(js)} ===")
        tot = 0.0
        for j in js:
            dur = j["end"] - j["start"] if j["end"] is not None else float("nan")
            tot += dur or 0
            print(f"  job {j['id']:4d} {dur:7.3f}s stages={len(j['stages'])} "
                  f"tasks={j['tasks']:4d} {j['description'][:60]}")
        print(f"  sum(job durations)={tot:.3f}s (gaps = driver/planning time)")


_STATE_KEYS = ("operatorName", "commitTimeMs", "numRowsTotal", "numRowsUpdated",
               "numShufflePartitions", "numStateStoreInstances")


def _print_streams(spark, sf_dir: str, name: str, reps: int) -> None:
    for rep in range(reps):
        t0_wall = time.time()
        with streams(spark) as events:
            t_build, dt, _ = _phases(spark, name, sf_dir, rep)
        print(f"== rep {rep}: total {dt:.3f}s (query fn returned at {t_build:.3f}s) ==")
        t_prev = None
        for r in events:
            gap = (r["t"] - t_prev) if t_prev else 0.0
            if r["event"] == "started":
                print(f"  started at +{r['t'] - t0_wall:.3f}s")
            elif r["event"] == "progress":
                p = r["progress"]
                state = [{k: so.get(k) for k in _STATE_KEYS} for so in p.get("stateOperators", [])]
                print(f"  batch {p.get('batchId')}: +{gap:.3f}s rows={p.get('numInputRows')} "
                      f"dur={p.get('durationMs')} state={state}")
            else:
                print(f"  terminated +{gap:.3f}s")
            t_prev = r["t"]


def _load_bench(path: str) -> dict:
    """bench.py's JSON line among its output, or the ``parsed`` line of a
    ``BENCH_r*.json`` record."""
    with open(path) as fh:
        text = fh.read()
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("{") and '"queries"' in line:
            return json.loads(line)
    if text.startswith("{") and "queries" in json.loads(text).get("parsed", {}):
        return json.loads(text)["parsed"]
    raise SystemExit(f"no bench JSON line in {path}")


def compare(before: str, after: str, top: int = 40) -> None:
    """Per-query deltas of two bench JSON lines, sorted by delta."""
    a, b = _load_bench(before), _load_bench(after)
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb), key=lambda n: qb[n] - qa[n])
    print(f"total: {a['value']:.1f} -> {b['value']:.1f} "
          f"({b['value'] / a['value']:.3f}x), {len(common)} common queries")
    rows = [(n, qa[n], qb[n], qb[n] - qa[n]) for n in common]
    print("\n== biggest improvements ==")
    for n, x, y, d in rows[:top]:
        print(f"{n:32s} {x:8.3f} -> {y:8.3f}  ({d:+.3f}s, {y / x if x else 0:.2f}x)")
    print("\n== biggest regressions ==")
    for n, x, y, d in rows[-top:][::-1]:
        if d <= 0:
            break
        print(f"{n:32s} {x:8.3f} -> {y:8.3f}  ({d:+.3f}s, {y / x if x else 0:.2f}x)")


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="python -m emiproc_spark.obs")
    sub = p.add_subparsers(dest="cmd", required=True)
    for cmd in ("time", "ab"):
        c = sub.add_parser(cmd)
        c.add_argument("reps", type=int)
        if cmd == "ab":
            c.add_argument("overrides", metavar="k=v,...")
        c.add_argument("queries", nargs="+")
    c = sub.add_parser("plan")
    c.add_argument("out_dir")
    c.add_argument("queries", nargs="*")
    for cmd in ("jobs", "stream"):
        c = sub.add_parser(cmd)
        c.add_argument("query")
        c.add_argument("reps", type=int, nargs="?", default=1)
    c = sub.add_parser("compare")
    c.add_argument("before")
    c.add_argument("after")
    c.add_argument("top", type=int, nargs="?", default=40)
    args = p.parse_args(argv)
    if args.cmd == "compare":
        return compare(args.before, args.after, args.top)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"obs_{args.cmd}")
    if args.cmd == "plan":
        plan(spark, sf_dir, args.out_dir, args.queries or list(QUERIES))
    else:
        warm_up(spark, sf_dir)
    if args.cmd == "time":
        for name in args.queries:
            best = [run(spark, name, sf_dir) for _ in range(args.reps)]
            print(f"{name:32s} min={min(best):.3f} all={[round(b, 3) for b in best]}")
    elif args.cmd == "ab":
        kvs = dict(kv.split("=", 1) for kv in args.overrides.split(",") if kv)
        ab(spark, sf_dir, args.reps, kvs, args.queries)
    elif args.cmd == "jobs":
        _print_jobs(spark, sf_dir, args.query, args.reps)
    elif args.cmd == "stream":
        _print_streams(spark, sf_dir, args.query, args.reps)
    spark.stop()


if __name__ == "__main__":
    main()
