"""One block of Spark work, measured from the Spark status API.

``with measure(spark, label) as m: ...`` fills ``m`` on exit with the
block's wall time, jobs, stages, tasks, slowest task and input, shuffle
and spill bytes — the scan, shuffle and compute layers of one query or
pipeline step. Jobs are attributed by job-id range (the scheduler's job
counter before and after the block). The status API is served by the
Spark UI, so the session needs ``SPARK_UI=1``. The arithmetic is
:func:`summarize`, which needs no Spark.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import urllib.error
import urllib.request
from collections.abc import Callable
from datetime import datetime, timezone

WAIT_S = 5.0  # bound on waiting for the status store to show the block's jobs finished
_DESC = "spark.job.description"
# The UI is on this host; never route its requests through an HTTP proxy.
_LOCAL = urllib.request.build_opener(urllib.request.ProxyHandler({}))


def _get(url: str):
    with _LOCAL.open(url, timeout=60) as r:
        return json.load(r)


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for s, e in sorted(intervals):
        total += max(0.0, e - max(s, reach))
        reach = max(reach, e)
    return total


def summarize(
    jobs: list[dict],
    stages: list[dict],
    wall_start: float,
    wall_end: float,
    task_ms: Callable[[dict], float] = lambda stage: 0.0,
) -> dict:
    """Figures for one block from status-API records.

    ``jobs`` are the block's job records, ``stages`` any superset of its
    stage-attempt records, ``wall_start``/``wall_end`` the block's epoch
    seconds, and ``task_ms`` maps a stage record to its slowest task's
    executorRunTime. Only COMPLETE attempts of the jobs' stages count (a
    SKIPPED stage reused another job's shuffle output). A job's ``gap_s``
    runs from the latest completion among lower-id jobs (the block start,
    for the first job) to its submission, 0 when it overlaps them;
    ``driver_gap_s`` is wall time outside every job, so overlapping jobs
    are not double-counted. Spill is memory plus disk.
    """
    jobs = sorted(jobs, key=lambda j: j["jobId"])
    per_job, intervals = [], []
    prev_end = wall_start
    for j in jobs:
        sub = _ts(j["submissionTime"]) if "submissionTime" in j else wall_start
        end = _ts(j["completionTime"]) if "completionTime" in j else wall_end
        per_job.append({
            "id": j["jobId"],
            "description": j.get("description") or j.get("name", ""),
            "duration_s": end - sub,
            "gap_s": max(0.0, sub - prev_end),
            "tasks": j.get("numTasks", 0) - j.get("numSkippedTasks", 0),
        })
        prev_end = max(prev_end, end)
        intervals.append((max(sub, wall_start), min(end, wall_end)))
    ids = {sid for j in jobs for sid in j.get("stageIds", [])}
    counted = [s for s in stages if s["stageId"] in ids and s.get("status") == "COMPLETE"]
    wall_s = wall_end - wall_start

    def total(*keys: str) -> int:
        return sum(s.get(k, 0) for s in counted for k in keys)

    return {
        "wall_s": wall_s,
        "jobs": per_job,
        "job_s": sum(j["duration_s"] for j in per_job),
        "driver_gap_s": max(0.0, wall_s - _union_len(intervals)),
        "stages": len(counted),
        "tasks": total("numCompleteTasks"),
        "max_task_ms": max(map(task_ms, counted), default=0.0),
        "input_bytes": total("inputBytes"),
        "shuffle_read_bytes": total("shuffleReadBytes"),
        "shuffle_write_bytes": total("shuffleWriteBytes"),
        "spill_bytes": total("memoryBytesSpilled", "diskBytesSpilled"),
    }


def _finished_jobs(base: str, job0: int, job1: int) -> list[dict]:
    """Job records with ids in [job0, job1), once all show as finished
    (or after WAIT_S, with whatever the store holds by then)."""
    deadline = time.monotonic() + WAIT_S
    while True:
        jobs = [j for j in _get(f"{base}/jobs") if job0 <= j["jobId"] < job1]
        done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
        if (done and len(jobs) == job1 - job0) or time.monotonic() > deadline:
            return jobs
        time.sleep(0.05)


def _max_task_ms(base: str, stage: dict) -> float:
    url = f"{base}/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=1.0"
    try:
        return _get(url)["executorRunTime"][0]
    except (urllib.error.HTTPError, KeyError, IndexError):
        return 0.0  # a stage whose tasks the store no longer holds


@contextlib.contextmanager
def measure(spark, label: str):
    """Run the block under job description ``label``; on a normal exit,
    fill the yielded dict with :func:`summarize`'s figures for the jobs it
    submitted, once the status store (filled asynchronously from the
    listener bus) shows them all finished, waiting at most WAIT_S."""
    sc = spark.sparkContext
    if not sc.uiWebUrl:
        raise RuntimeError(
            "observe.measure reads the Spark status API, but the Spark UI is off: "
            "start the session with SPARK_UI=1"
        )
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    dag = sc._jsc.sc().dagScheduler()
    prev = sc.getLocalProperty(_DESC)
    out: dict = {}
    sc.setJobDescription(label)
    try:
        job0, t0 = dag.numTotalJobs(), time.time()
        yield out
        t1, job1 = time.time(), dag.numTotalJobs()
    finally:
        sc.setLocalProperty(_DESC, prev)
    jobs, stages = _finished_jobs(base, job0, job1), _get(f"{base}/stages")
    out.update(summarize(jobs, stages, t0, t1, lambda s: _max_task_ms(base, s)))


@contextlib.contextmanager
def py4j_calls(spark):
    """Count the py4j commands the block sends to the JVM, each one a
    driver round trip; the yielded dict's ``calls`` is filled on exit.
    Plan construction is paid in these, not in Spark jobs. Only the
    calling thread's commands count: py4j's finalizer thread sends the
    deletes of garbage-collected JavaObjects through the same client,
    whenever the collector frees them, and those are not the block's."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    out = {"calls": 0}

    def counted(*args, **kwargs):
        if threading.get_ident() == caller:
            out["calls"] += 1
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        yield out
    finally:
        client.send_command = send


@contextlib.contextmanager
def codegen_compiles(spark):
    """Count the generated-code classes the block compiles; the yielded
    dict's ``compiles`` is filled on exit. A plan whose generated source
    is still in Spark's codegen cache (``spark.sql.codegen.cache.maxEntries``)
    compiles nothing. The count is Spark's ``CodegenMetrics`` compilation
    count, kept per JVM: in local mode it covers the executor threads too,
    on a cluster it counts the driver's compiles only."""
    timer = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    out = {"compiles": 0}
    n0 = timer.getCount()
    try:
        yield out
    finally:
        out["compiles"] = timer.getCount() - n0
