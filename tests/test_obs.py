"""``emiproc_spark.obs``: job groups read back with the UI off, the A/B
conf scopes, plan capture, the bench comparison and the stream
recorder."""

import json
import os

import pytest

from emiproc_spark import obs
from emiproc_spark.driver_queries import QUERIES

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_jobs_counts_one_job_for_a_collect(spark):
    sc = spark.sparkContext
    with obs.jobs(spark, "obs-range-collect") as js:
        spark.range(8).collect()
    assert len(js) == 1
    (job,) = js
    assert job["stages"] and job["tasks"] >= 1
    assert job["end"] >= job["start"] > 0
    assert job["description"] == "obs-range-collect"
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    # a second block under the same tag counts only its own jobs
    with obs.jobs(spark, "obs-range-collect") as again:
        pass
    assert again == []


def test_ab_restores_every_overridden_conf_also_when_the_query_raises(
    spark, sf_dir, monkeypatch, capsys
):
    set_key, unset_key = "spark.sql.shuffle.partitions", "spark.sql.obsTestProbe"
    before = spark.conf.get(set_key)
    seen = []

    def probe(spark, sf_dir):
        seen.append((spark.conf.get(set_key), spark.conf.get(unset_key, None)))
        if fail and len(seen) == 4:
            raise RuntimeError("probe failed")
        return spark.range(1)

    monkeypatch.setitem(QUERIES, "obs_probe", probe)
    overrides = {set_key: "3", unset_key: "on"}
    fail = False
    obs.ab(spark, sf_dir, 1, overrides, ["obs_probe"])
    assert seen == [(before, None), ("3", "on")]
    assert capsys.readouterr().out.startswith("obs_probe ")

    seen.clear()
    fail = True
    with pytest.raises(RuntimeError, match="probe failed"):
        obs.ab(spark, sf_dir, 2, overrides, ["obs_probe"])
    assert seen == [(before, None), ("3", "on")] * 2
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None


def test_plan_writes_to_the_given_dir_and_not_into_plans(spark, sf_dir, tmp_path, capsys):
    def listing():
        return sorted(
            (os.path.join(d, f), os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _, files in os.walk(os.path.join(_REPO, "plans"))
            for f in files
        )

    plans_before = listing()
    out = tmp_path / "plans_out"
    obs.plan(spark, sf_dir, str(out), ["total_emissions"])
    assert os.listdir(out) == ["total_emissions.txt"]
    assert "== Physical Plan ==" in (out / "total_emissions.txt").read_text()
    assert capsys.readouterr().out == "total_emissions ok\n"
    assert listing() == plans_before


def test_compare_reads_bench_lines_without_spark(tmp_path, monkeypatch, capsys):
    line_a = {"metric": "m", "value": 3.5, "unit": "sec",
              "queries": {"q1": 1.0, "q2": 2.0, "only_a": 0.5}, "sf": 0.1}
    line_b = {"metric": "m", "value": 3.0, "unit": "sec",
              "queries": {"q1": 0.5, "q2": 2.5}, "sf": 0.1}
    before, after = tmp_path / "before.txt", tmp_path / "after.json"
    # bench.py's stdout among log lines, and a BENCH_r*.json record
    before.write_text("starting\n" + json.dumps(line_a) + "\n")
    after.write_text(json.dumps({"n": 2, "tail": "...", "parsed": line_b}, indent=2))
    monkeypatch.setattr(obs, "get_spark", lambda **kw: pytest.fail("compare started Spark"))
    obs.main(["compare", str(before), str(after)])
    q1 = "q1" + " " * 30 + "    1.000 ->    0.500  (-0.500s, 0.50x)"
    q2 = "q2" + " " * 30 + "    2.000 ->    2.500  (+0.500s, 1.25x)"
    assert capsys.readouterr().out == (
        "total: 3.5 -> 3.0 (0.857x), 2 common queries\n"
        f"\n== biggest improvements ==\n{q1}\n{q2}\n"
        f"\n== biggest regressions ==\n{q2}\n"
    )


def test_streams_records_progress_with_durations(spark, sf_dir):
    with obs.streams(spark) as events:
        QUERIES["stream_dedup"](spark, sf_dir)
    kinds = [e["event"] for e in events]
    assert kinds[0] == "started" and kinds[-1] == "terminated"
    progress = [e["progress"] for e in events if e["event"] == "progress"]
    assert progress and all(p["durationMs"]["triggerExecution"] >= 0 for p in progress)
