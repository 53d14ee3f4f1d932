"""Per-layer ledger of a traced pass.

Each query runs as two phase spans, ``driver_queries.build`` (the query
function) and ``action`` (the ``noop`` write), each under its own
``setJobGroup`` tag.  After the query, outside its timed region, the
ledger drains the listener bus and reads the new jobs, stages, SQL
executions and stream runs.  A job belongs to the phase whose tag it
carries; jobs of other threads carry no tag and go by submission time;
stream micro-batch jobs carry their run id and count under
``streaming``.  Within a phase, a job counts for the innermost layer
span open when it was submitted.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from spark_stats import SparkStats, StreamEvents
from spans import READ_LAYER, Tracer, innermost, install, self_times, union_length

BUILD, ACTION = "driver_queries.build", "action"
STREAM_MS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "query_planning_ms": "queryPlanning",
}
# (metric name, unit) of every per-layer metric, in report order
METRICS = [
    ("session.start_s", "s"), ("session.warm_s", "s"), ("session.check_s", "s"),
    ("session.jvm_peak_rss_mb", "MB"),
    ("driver_queries.build_s", "s"), ("driver_queries.build_jobs", "count"),
    ("driver_queries.build_job_s", "s"), ("driver_queries.build_idle_s", "s"),
    ("fixtures.load.calls", "count"), ("fixtures.reads", "count"),
    ("fixtures.read_s", "s"), ("fixtures.read_jobs", "count"),
    ("sources.calls", "count"), ("sources.s", "s"), ("sources.jobs", "count"),
    ("operators.cluster.cc_calls", "count"), ("operators.cluster.cc_s", "s"),
    ("operators.cluster.cc_jobs", "count"), ("operators.cluster.cc_jobs_per_call", "ratio"),
    ("operators.similarity.s", "s"), ("operators.similarity.jobs", "count"),
    ("operators.regrid.s", "s"), ("operators.regrid.jobs", "count"),
    ("action.s", "s"), ("action.jobs", "count"), ("action.stages", "count"),
    ("action.tasks", "count"), ("action.exchanges", "count"),
    ("action.executor_run_s", "s"), ("action.executor_cpu_s", "s"),
    ("action.shuffle_read_bytes", "B"), ("action.shuffle_write_bytes", "B"),
    ("action.spill_bytes", "B"),
    ("arrow.python_nodes", "count"), ("arrow.bytes_to_python", "B"),
    ("arrow.bytes_from_python", "B"), ("arrow.rows_from_python", "count"),
    ("streaming.queries", "count"), ("streaming.batches", "count"),
    ("streaming.jobs", "count"),
    ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.state_commit_ms", "ms"),
    ("streaming.state_rows", "count"), ("streaming.start_stop_s", "s"),
    ("exports.calls", "count"), ("exports.s", "s"), ("exports.jobs", "count"),
    ("scratch.bytes_written", "B"),
    ("plans.cache.calls", "count"), ("plans.cache.builds", "count"),
    ("plans.cache.hit_frac", "ratio"),
    ("trace.wall_s", "s"), ("host.steal_frac", "ratio"),
]


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


class Ledger:
    def __init__(self, spark, scratch_root: str) -> None:
        self.spark = spark
        self.scratch_root = scratch_root
        self._scratch_size = dir_bytes(scratch_root)
        self.sc = spark.sparkContext
        self.tracer = Tracer()
        self.stats = SparkStats(spark)
        self.streams = StreamEvents(spark)
        self.stream_ids: set[str] = set()
        self.m: dict[str, float] = defaultdict(float)
        self.n = 0
        install(self.tracer)
        # skip what the warm-up left in the stores
        self.stats.drain()
        self.stats.new_jobs()
        self.stats.new_executions()

    def new_pass(self) -> None:
        self.m = defaultdict(float)
        self.tracer.spans.clear()
        self.tracer.counters.clear()

    def run(self, name: str, build, act) -> float:
        """Run one query as build + action phases; return its timed
        duration.  Reads the Spark-side counts afterwards."""
        tr, sc = self.tracer, self.sc
        i = self.n = self.n + 1
        tr.trace = name
        t0 = time.perf_counter()
        sc.setJobGroup(f"perfbench-build-{i}", name)
        with tr.span(BUILD, phase=True) as b:
            df = build()
        sc.setJobGroup(f"perfbench-action-{i}", name)
        with tr.span(ACTION, phase=True) as a:
            act(df)
        dt = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        self._collect(i, name, tr.spans[b], tr.spans[a])
        return dt

    def _collect(self, i, name, b, a) -> None:
        m, stats = self.m, self.stats
        stats.drain()
        jobs, execs = stats.new_jobs(), stats.new_executions()
        runs = self.streams.take()
        # scratch growth over the query: what it wrote and kept until its end
        size = dir_bytes(self.scratch_root)
        m["scratch.bytes_written"] += max(0, size - self._scratch_size)
        self._scratch_size = size
        self.stream_ids.update(runs)
        self.stream_ids.update(self.streams.runs)

        # --- jobs by phase and by innermost layer span
        build_jobs, action_jobs, stream_jobs = [], [], []
        for j in jobs:
            if j["group"] in self.stream_ids:
                stream_jobs.append(j)
            elif j["group"] == f"perfbench-build-{i}" or (
                j["group"] != f"perfbench-action-{i}" and j["start"] <= b.end
            ):
                build_jobs.append(j)
            else:
                action_jobs.append(j)
        spans = self.tracer.spans
        for j in build_jobs + action_jobs:
            k = innermost(spans, j["start"], name)
            if k is not None:
                m[f"_jobs.{spans[k].layer}"] += 1
        m["driver_queries.build_jobs"] += len(build_jobs)
        m["streaming.jobs"] += len(stream_jobs)
        covered = union_length(
            (max(j["start"], b.start), min(j["end"] or b.end, b.end))
            for j in jobs
        )
        m["driver_queries.build_job_s"] += covered

        # --- the timed action: jobs, stages, tasks, exchanges
        m["action.jobs"] += len(action_jobs)
        action_ids = {j["id"] for j in action_jobs}
        for sid in sorted({s for j in action_jobs for s in j["stages"]}):
            st = stats.stage(sid)
            if st is None:
                continue
            m["action.stages"] += 1
            m["action.tasks"] += st["tasks"]
            for k in ("executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
                m[f"action.{k}"] += st[k]
        for e in execs:
            in_action = bool(action_ids.intersection(e["jobs"])) or (
                not e["jobs"] and a.start <= e["start"] <= a.end
            )
            if in_action:
                m["action.exchanges"] += e["exchanges"]
            # --- the Arrow / Python-worker boundary, in every phase
            m["arrow.python_nodes"] += e["python_nodes"]
            for k, v in e["py"].items():
                m[f"arrow.{k}"] += v

        # --- streams: micro-batch phases and state commits
        for run in runs.values():
            m["streaming.queries"] += 1
            batches = run["batches"]
            m["streaming.batches"] += len(batches)
            trigger = 0.0
            for p in batches:
                d = p.get("durationMs", {})
                trigger += d.get("triggerExecution", 0)
                for key, src in STREAM_MS.items():
                    m[f"streaming.{key}"] += d.get(src, 0)
                for so in p.get("stateOperators", []):
                    m["streaming.state_commit_ms"] += so.get("commitTimeMs", 0)
            if batches:
                m["streaming.state_rows"] += sum(
                    so.get("numRowsTotal", 0) for so in batches[-1].get("stateOperators", [])
                )
            m["streaming.start_stop_s"] += (run["end"] - run["start"]) - trigger / 1e3

    def metrics(self, wall_s: float, session: dict[str, float]) -> dict[str, float]:
        """Totals over the pass for every name in METRICS."""
        m, tr = dict(self.m), self.tracer
        selfs = self_times(tr.spans)
        by_layer: dict[str, list[float]] = defaultdict(list)
        for s, st in zip(tr.spans, selfs):
            by_layer[s.layer].append(st)
        incl = defaultdict(float)
        for s in tr.spans:
            incl[s.layer] += s.end - s.start
        jobs = lambda layer: m.get(f"_jobs.{layer}", 0)  # noqa: E731
        cc_calls = len(by_layer["operators.cluster"])
        cache_calls = len(by_layer["plans.cache"])
        builds = tr.counters.get("plans.cache.builds", 0)
        m.update(
            {
                **session,
                "driver_queries.build_s": incl[BUILD],
                "fixtures.load.calls": len(by_layer["fixtures.load"]),
                "fixtures.reads": len(by_layer[READ_LAYER]),
                "fixtures.read_s": sum(by_layer[READ_LAYER]),
                "fixtures.read_jobs": jobs(READ_LAYER),
                "operators.cluster.cc_calls": cc_calls,
                "operators.cluster.cc_s": sum(by_layer["operators.cluster"]),
                "operators.cluster.cc_jobs": jobs("operators.cluster"),
                "operators.cluster.cc_jobs_per_call": jobs("operators.cluster") / cc_calls
                if cc_calls else 0.0,
                "action.s": incl[ACTION],
                "plans.cache.calls": cache_calls,
                "plans.cache.builds": builds,
                "plans.cache.hit_frac": (cache_calls - builds) / cache_calls
                if cache_calls else 0.0,
                "trace.wall_s": wall_s,
            }
        )
        m["driver_queries.build_idle_s"] = m["driver_queries.build_s"] - m.get(
            "driver_queries.build_job_s", 0.0
        )
        for layer in ("sources", "exports", "operators.similarity", "operators.regrid"):
            if layer in ("sources", "exports"):
                m[f"{layer}.calls"] = len(by_layer[layer])
            m[f"{layer}.s"] = sum(by_layer[layer])
            m[f"{layer}.jobs"] = jobs(layer)
        return {name: float(m.get(name, 0.0)) for name, _ in METRICS}

    def span_counts(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.tracer.spans:
            out[s.layer] += 1
        return dict(out)
