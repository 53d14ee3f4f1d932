"""Read job, stage, SQL-execution and stream counts back from Spark.

Everything comes from the driver's status stores, which are populated
with the UI off: jobs and stages from the JVM ``AppStatusStore``, plan
graphs and Python-node metric values from the SQL status store, and
stream micro-batches from a ``StreamingQueryListener``.  Call ``drain``
before reading: the listener bus is asynchronous, so ``completionTime``
can still be empty otherwise.
"""

from __future__ import annotations

import json
import re
import threading
import time

PY_NODE_WORDS = ("Python", "Pandas", "Arrow")
PY_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "number of output rows": "rows_from_python",
}
STAGE_FIELDS = {
    "executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_METRIC_RE = re.compile(r"^([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?")


def metric_value(text: str) -> float:
    """Total of a SQL metric as the status store formats it: a plain
    number (``"1,234"``), a size (``"12.5 KiB"``), or either after a
    ``"total (min, med, max ...)"`` header line."""
    lines = text.strip().splitlines()
    m = _METRIC_RE.match(lines[-1].strip()) if lines else None
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2) or "B"]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


class SparkStats:
    """Incremental reader: each ``new_*`` call returns what appeared
    since the previous call."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._as_java = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._next_job = 0
        self._next_exec = 0

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[dict]:
        """Jobs by id since the last call (job ids are dense)."""
        out = []
        while True:
            try:
                j = self._store.job(self._next_job)
            except Exception:
                return out
            group = j.jobGroup()
            out.append(
                {
                    "id": self._next_job,
                    "group": group.get() if group.isDefined() else None,
                    "start": _opt_ms(j.submissionTime()),
                    "end": _opt_ms(j.completionTime()),
                    "stages": [int(s) for s in self._as_java(j.stageIds())],
                }
            )
            self._next_job += 1

    def stage(self, stage_id: int) -> dict | None:
        """Metrics of a stage that ran (None when it was skipped)."""
        try:
            s = self._store.lastStageAttempt(stage_id)
        except Exception:
            return None
        if s.status().toString() == "SKIPPED":
            return None
        out = {k: f(s) for k, f in STAGE_FIELDS.items()}
        out["tasks"] = s.numTasks()
        return out

    def new_executions(self) -> list[dict]:
        """SQL executions since the last call, with their plan-node
        counts and the totals of their Python-node metrics."""
        n = self._sql.executionsCount()
        if n <= self._next_exec:
            return []
        out = []
        for e in self._as_java(self._sql.executionsList(self._next_exec, n - self._next_exec)):
            eid = e.executionId()
            graph = self._sql.planGraph(eid)
            exchanges, py_nodes, py_acc = 0, 0, {}
            for node in self._as_java(graph.allNodes()):
                name = node.name()
                if name == "Exchange":
                    exchanges += 1
                elif any(w in name for w in PY_NODE_WORDS):
                    py_nodes += 1
                    for m in self._as_java(node.metrics()):
                        key = PY_METRICS.get(m.name())
                        if key:
                            py_acc[int(m.accumulatorId())] = key
            py = dict.fromkeys(PY_METRICS.values(), 0.0)
            if py_acc:
                values = self._as_java(self._sql.executionMetrics(eid))
                for acc, key in py_acc.items():
                    if acc in values:
                        py[key] += metric_value(values[acc])
            out.append(
                {
                    "id": int(eid),
                    "start": e.submissionTime() / 1e3,
                    "jobs": [int(j) for j in self._as_java(e.jobs().keys())],
                    "exchanges": exchanges,
                    "python_nodes": py_nodes,
                    "py": py,
                }
            )
        self._next_exec = n
        return out


class StreamEvents:
    """Stream lifecycle and progress, keyed by run id.  Micro-batch jobs
    run under the stream's run id as job group, so that is the key that
    ties them back to their query."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        runs = self.runs = {}
        lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with lock:
                    runs[str(event.runId)] = {"start": time.time(), "end": None, "batches": []}

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with lock:
                    runs.setdefault(p["runId"], {"start": time.time(), "end": None, "batches": []})
                    runs[p["runId"]]["batches"].append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with lock:
                    if str(event.runId) in runs:
                        runs[str(event.runId)]["end"] = time.time()

        spark.streams.addListener(_Listener())

    def take(self) -> dict:
        """Runs that have terminated, removed from the pending set."""
        done = {k: v for k, v in self.runs.items() if v["end"] is not None}
        for k in done:
            del self.runs[k]
        return done


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
