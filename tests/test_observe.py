"""observe.py: the summary arithmetic (no Spark), the UI-off error, and
the rule that only observe.py reads the Spark status REST API."""

from __future__ import annotations

import sys
from datetime import datetime, timezone
from pathlib import Path

import pytest

from harvester_database_and_automation_spark.observe import measure, summarize

REPO = Path(__file__).resolve().parent.parent
T0 = 1_000_000.0  # block start, epoch seconds


def _iso(t: float) -> str:
    """Status-API timestamp for epoch seconds ``t`` (whole milliseconds)."""
    return datetime.fromtimestamp(t, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "GMT"


def _job(job_id: int, start: float, end: float, stage_ids: list[int], tasks: int = 4) -> dict:
    return {
        "jobId": job_id, "name": f"job{job_id}", "status": "SUCCEEDED",
        "submissionTime": _iso(T0 + start), "completionTime": _iso(T0 + end),
        "stageIds": stage_ids, "numTasks": tasks, "numSkippedTasks": 0,
    }


def _stage(stage_id: int, status: str = "COMPLETE", **metrics) -> dict:
    return {"stageId": stage_id, "attemptId": 0, "status": status,
            "numCompleteTasks": 4, **metrics}


def test_summarize_skipped_stage_not_counted():
    jobs = [_job(0, 0.0, 1.0, [0, 1])]
    stages = [
        _stage(0, inputBytes=100, shuffleWriteBytes=10),
        _stage(1, status="SKIPPED", inputBytes=1000, shuffleWriteBytes=1000),
    ]
    m = summarize(jobs, stages, T0, T0 + 1.0, lambda s: {0: 12.0, 1: 99.0}[s["stageId"]])
    assert (m["stages"], m["tasks"], m["input_bytes"], m["shuffle_write_bytes"]) == (1, 4, 100, 10)
    assert m["max_task_ms"] == 12.0


def test_summarize_stages_of_other_jobs_not_counted():
    m = summarize([_job(3, 0.0, 1.0, [7])], [_stage(7, inputBytes=5), _stage(8, inputBytes=50)],
                  T0, T0 + 1.0)
    assert (m["stages"], m["input_bytes"]) == (1, 5)


def test_summarize_spill_is_memory_plus_disk():
    stages = [_stage(0, memoryBytesSpilled=300, diskBytesSpilled=20),
              _stage(1, memoryBytesSpilled=0, diskBytesSpilled=7)]
    m = summarize([_job(0, 0.0, 1.0, [0, 1])], stages, T0, T0 + 1.0)
    assert m["spill_bytes"] == 327


def test_summarize_driver_gap_is_wall_outside_union_of_jobs():
    # Jobs 0 and 1 overlap on [2, 4] s, job 2 runs alone: busy time is
    # [1, 6] + [8, 9] = 6 s of a 10 s block, so the driver gap is 4 s
    # (summing durations, 4 + 4 + 1 = 9 s, would leave 1 s).
    jobs = [_job(0, 1.0, 5.0, []), _job(1, 2.0, 6.0, []), _job(2, 8.0, 9.0, [])]
    m = summarize(jobs, [], T0, T0 + 10.0)
    assert m["wall_s"] == pytest.approx(10.0)
    assert m["job_s"] == pytest.approx(9.0)
    assert m["driver_gap_s"] == pytest.approx(4.0)
    assert [j["id"] for j in m["jobs"]] == [0, 1, 2]
    # gap_s: from the block start, then from the latest earlier
    # completion; an overlapping job has none.
    assert [j["gap_s"] for j in m["jobs"]] == pytest.approx([1.0, 0.0, 2.0])
    assert [j["duration_s"] for j in m["jobs"]] == pytest.approx([4.0, 4.0, 1.0])


def test_summarize_empty_job_range_gives_zeros():
    m = summarize([], [_stage(0, inputBytes=100)], T0, T0)
    assert m == {
        "wall_s": 0.0, "jobs": [], "job_s": 0, "driver_gap_s": 0.0, "stages": 0, "tasks": 0,
        "max_task_ms": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0,
    }


def test_measure_without_ui_names_spark_ui(spark):
    if spark.sparkContext.uiWebUrl:
        pytest.skip("the test session was started with SPARK_UI on")
    ran = []
    with pytest.raises(RuntimeError, match="SPARK_UI"):
        with measure(spark, "ui-off"):
            ran.append(True)
    assert not ran  # fails before running the block


def test_py4j_calls_counts_only_the_calling_thread(spark):
    """Commands another thread sends through the same gateway client, such
    as py4j's finalizer thread deleting garbage-collected JavaObjects, are
    not the block's round trips."""
    import threading

    from harvester_database_and_automation_spark.observe import py4j_calls

    jvm = spark.sparkContext._jvm

    def other_thread():
        for _ in range(50):
            jvm.java.lang.System.currentTimeMillis()

    with py4j_calls(spark) as calls:
        jvm.java.lang.System.currentTimeMillis()
        t = threading.Thread(target=other_thread)
        t.start()
        t.join()
    assert 1 <= calls["calls"] < 10


def test_only_observe_reads_the_status_rest_api():
    """Outside perfbench/ (frozen with the benchmark), Spark REST reads go
    through observe.py; a private scraper elsewhere is a regression."""
    offenders = [
        str(p.relative_to(REPO))
        for root in ("harvester_database_and_automation_spark", "scripts")
        for p in sorted((REPO / root).rglob("*.py"))
        if p.name != "observe.py" and "/api/v1" in p.read_text(encoding="utf-8")
    ]
    assert offenders == []


def test_no_script_shadows_a_stdlib_module():
    """`python scripts/x.py` puts scripts/ first on sys.path, so a script
    named like a stdlib module (e.g. profile.py, which pyspark imports via
    cProfile) would be imported in its place by every other script."""
    names = {p.stem for p in (REPO / "scripts").glob("*.py")}
    assert sorted(names & set(sys.stdlib_module_names)) == []
