"""Span recording for the traced run (``--trace 1``).

The engine is not instrumented. The benchmark wraps the public functions
of each engine module from here, at run time, and records one span per
call: name, start, end, parent span and operation id. The module name is
the layer. Lazy functions (they return an unexecuted DataFrame) get a
``.plan_s`` span — it times plan building only; their execution shows up
in whatever action later runs the plan.

Spark jobs are attributed to an operation by job-id range: the
scheduler's job counter is read before and after the call, so jobs that
pipeline thread pools submit without the caller's job group still count.
Job, stage, task and byte figures come from the Spark UI REST API at the
end of the run (the traced run starts Spark with the UI on and raised
retention). Streaming micro-batch phases come from a
``StreamingQueryListener``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
import urllib.request
from datetime import datetime, timezone

PKG = "harvester_database_and_automation_spark"

# (module, function, span name). ``plan_s`` names mark lazy functions.
WRAPPED = [
    ("catalog", "load_table", "catalog.load_table"),
    ("sources.jsonl", "read_jsonl", "sources.read_jsonl"),
    ("sources.jsonl", "check_field_drift", "sources.check_field_drift"),
    ("sources.tabular", "read_csv_strict", "sources.read_csv_strict"),
    ("operators.publish", "publish_versioned", "operators.publish_versioned"),
    ("operators.publish", "publish_incremental", "operators.publish_incremental"),
    ("operators.publish", "read_published", "operators.read_published"),
    ("operators.merge", "classify_changes", "operators.classify_changes.plan"),
    ("operators.merge", "merge_delta", "operators.merge_delta.plan"),
    ("operators.external", "run_fasta_tool", "operators.run_fasta_tool.plan"),
    ("pipelines.derived", "read_derived", "pipelines.read_derived"),
]


def job_counter(spark):
    """Zero-arg callable returning how many Spark jobs were submitted so
    far in this SparkContext (job ids are assigned from this counter)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return dag.numTotalJobs


class Tracer:
    """In-memory span store. With ``enabled=False`` (the untraced run)
    every method is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.jobs = job_counter(spark)
        self.spans: list[dict] = []
        self.op: str | None = None
        self.op_root: int | None = None  # span index of the running operation
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._seen_plans: set[int] = set()
        self.listener = None
        self.first_timed = 0  # spans before this index belong to the warm pass

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, count_jobs: bool = False) -> int | None:
        if not self.enabled:
            return None
        stack = self._stack()
        # A pool thread's first span hangs under the span the main thread
        # is blocked in — the call that started the pool.
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        span = {"name": name, "op": self.op, "parent": parent, "start": time.perf_counter(),
                "end": None, "wall_start": time.time()}
        if count_jobs:
            span["job0"] = self.jobs()
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        if name == "op":
            self.op_root = idx
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        span = self.spans[idx]
        span["end"] = time.perf_counter()
        span["wall_end"] = time.time()
        if "job0" in span:
            span["job1"] = self.jobs()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, count_jobs: bool = False):
        idx = self.begin(name, count_jobs)
        try:
            yield
        finally:
            self.end(idx)

    def op_span(self, op: str):
        """Root span of one timed operation; later spans carry ``op``."""
        self.op = op
        return self.span("op", count_jobs=True)

    # -- wrapping engine functions -----------------------------------------
    def install(self) -> None:
        """Rebind every WRAPPED function, in its defining module and in
        every engine module that imported it by name."""
        if not self.enabled:
            return
        self.first_timed = len(self.spans)
        import importlib

        for mod_name, fn_name, span_name in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, fn_name)
            wrapper = self._wrap(orig, span_name, fn_name == "load_table")
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG) and getattr(m, fn_name, None) is orig:
                    setattr(m, fn_name, wrapper)

    def _wrap(self, fn, name: str, track_reuse: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(idx)
            if track_reuse:
                with tracer._lock:
                    if id(out) in tracer._seen_plans:
                        tracer.spans[idx]["reused"] = True
                    tracer._seen_plans.add(id(out))
            return out

        return wrapper

    # -- streaming ---------------------------------------------------------
    def attach_streaming_listener(self, spark) -> None:
        if not self.enabled:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def __init__(self):
                self.started = 0
                self.terminated = 0
                self.batches: list[dict] = []

            def onQueryStarted(self, event):
                with tracer._lock:
                    self.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    self.batches.append({"root": tracer.op_root, "batch": p.batchId,
                                         "durationMs": dict(p.durationMs)})

            def onQueryTerminated(self, event):
                with tracer._lock:
                    self.terminated += 1

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def drain_streaming(self, timeout_s: float = 5.0) -> None:
        """Wait until every started streaming query's events arrived, so
        progress events are attributed to the operation that ran them."""
        if self.listener is None:
            return
        deadline = time.monotonic() + timeout_s
        while self.listener.terminated < self.listener.started and time.monotonic() < deadline:
            time.sleep(0.02)


# ---------------------------------------------------------------------------
# Spark UI REST API (traced run only)
# ---------------------------------------------------------------------------
def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.loads(r.read().decode())


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


def fetch_spark_jobs(spark) -> tuple[dict[int, dict], dict[int, dict]]:
    """Every retained job and stage of this application, by id."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = {j["jobId"]: j for j in _get(f"{base}/jobs")}
    stages: dict[int, dict] = {}
    for s in _get(f"{base}/stages"):
        if s.get("status") in ("COMPLETE", "FAILED"):
            stages[s["stageId"]] = s  # latest attempt wins
    return jobs, stages


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_figures(jobs: dict[int, dict], stages: dict[int, dict], job0: int, job1: int,
                  wall_start: float, wall_end: float) -> dict:
    """Engine figures for the jobs with ids in [job0, job1) that ran
    within one operation's wall interval."""
    ids = [j for j in range(job0, job1) if j in jobs]
    out = {"jobs": job1 - job0, "tasks": 0, "failed_tasks": 0, "input_bytes": 0,
           "shuffle_bytes": 0, "spill_bytes": 0}
    spans = []
    seen_stages: set[int] = set()
    for j in ids:
        job = jobs[j]
        out["tasks"] += job.get("numTasks", 0) - job.get("numSkippedTasks", 0)
        out["failed_tasks"] += job.get("numFailedTasks", 0)
        if "submissionTime" in job:
            s = _ts(job["submissionTime"])
            e = _ts(job["completionTime"]) if "completionTime" in job else wall_end
            spans.append((max(s, wall_start), min(e, wall_end)))
        seen_stages.update(job.get("stageIds", []))
    for sid in seen_stages:
        st = stages.get(sid)
        if st is None:
            continue
        out["input_bytes"] += st.get("inputBytes", 0)
        out["shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
        out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
    out["driver_gap_s"] = max(0.0, (wall_end - wall_start) - _union_len([s for s in spans if s[1] > s[0]]))
    return out


# ---------------------------------------------------------------------------
# Self time
# ---------------------------------------------------------------------------
def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        if s["end"] is None:
            out.append(0.0)
            continue
        kids = [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(i, [])]
        out.append(max(0.0, (s["end"] - s["start"]) - _union_len([k for k in kids if k[1] > k[0]])))
    return out


# ---------------------------------------------------------------------------
# The per-layer report
# ---------------------------------------------------------------------------
def _root_of(spans: list[dict], i: int) -> int | None:
    while i is not None and spans[i]["name"] != "op":
        i = spans[i]["parent"]
    return i


def layer_report(spark, tracer: Tracer, wl) -> tuple[dict, dict]:
    """Per-layer metrics of the timed operations, normalised per
    operation (``.calls``, ``.jobs``, ``.s``, ``spark.*``) or as a share of
    operation wall time (``.frac``); plus the trace document with every
    span, every operation's figures and self time per layer."""
    spans = tracer.spans
    selfs = self_times(spans)
    jobs, stages = fetch_spark_jobs(spark)
    roots = [i for i, s in enumerate(spans)
             if i >= tracer.first_timed and s["name"] == "op" and s["end"] is not None]
    n_ops = max(1, len(roots))
    batches: dict[int, list[dict]] = {}
    if tracer.listener is not None:
        for b in tracer.listener.batches:
            batches.setdefault(b["root"], []).append(b)

    ops = {}
    for r in roots:
        s = spans[r]
        wall = s["end"] - s["start"]
        fig = spark_figures(jobs, stages, s["job0"], s["job1"], s["wall_start"], s["wall_end"])
        bs = batches.get(r, [])
        phase = lambda k: sum(b["durationMs"].get(k, 0) for b in bs)  # noqa: E731
        ops[r] = {"op": s["op"], "wall_s": wall, "spark": fig, "self_s": {}, "calls": {},
                  "span_s": {}, "span_jobs": {},
                  "streaming": {"batches": len(bs), "addBatch_ms": phase("addBatch"),
                                "queryPlanning_ms": phase("queryPlanning"),
                                "triggerExecution_ms": phase("triggerExecution"),
                                "outside_batch_s": wall - phase("triggerExecution") / 1000.0
                                if bs else 0.0}}
    reused = {}
    for i, s in enumerate(spans):
        r = _root_of(spans, i)
        if r not in ops or s["end"] is None:
            continue
        o = ops[r]
        layer = "benchmark" if i == r else s["name"].split(".")[0]
        o["self_s"][layer] = o["self_s"].get(layer, 0.0) + selfs[i]
        if i == r:
            continue
        o["calls"][s["name"]] = o["calls"].get(s["name"], 0) + 1
        o["span_s"][s["name"]] = o["span_s"].get(s["name"], 0.0) + (s["end"] - s["start"])
        if "job0" in s:
            o["span_jobs"][s["name"]] = o["span_jobs"].get(s["name"], 0) + s["job1"] - s["job0"]
        if s.get("reused"):
            reused[r] = reused.get(r, 0) + 1

    allops = list(ops.values())
    wall = sum(o["wall_s"] for o in allops) or 1.0

    def total(field: str, name: str) -> float:
        return sum(o[field].get(name, 0) for o in allops)

    def mean_spark(k: str) -> float:
        return sum(o["spark"][k] for o in allops) / n_ops

    query_ops = [o for o in allops if "plans.build" in o["calls"]]
    stream_ops = [o for o in allops if o["streaming"]["batches"]]
    stream_wall = sum(o["wall_s"] for o in stream_ops) or 1.0
    lt_calls = total("calls", "catalog.load_table")

    named = {
        "catalog.load_table.calls": lt_calls / n_ops,
        "catalog.load_table.s": total("span_s", "catalog.load_table") / n_ops,
        "catalog.load_table.reuse_ratio": sum(reused.values()) / lt_calls if lt_calls else 0.0,
        "plans.build_s": total("span_s", "plans.build") / n_ops,
        "plans.exec_s": total("span_s", "plans.exec") / n_ops,
        "plans.jobs_per_query": (sum(o["spark"]["jobs"] for o in query_ops) / len(query_ops)
                                 if query_ops else 0.0),
        "plans.tasks_per_query": (sum(o["spark"]["tasks"] for o in query_ops) / len(query_ops)
                                  if query_ops else 0.0),
        "plans.build_frac": total("span_s", "plans.build") / wall,
        "plans.exec_frac": total("span_s", "plans.exec") / wall,
        "pipelines.annotated_per_feed_row": (sum(getattr(wl, "annotated_share", []))
                                             / max(1, len(getattr(wl, "annotated_share", [])))),
    }
    for name in ("sources.read_jsonl", "sources.check_field_drift", "sources.read_csv_strict",
                 "operators.publish_versioned", "operators.publish_incremental",
                 "operators.read_published", "pipelines.read_derived"):
        named[f"{name}.s"] = total("span_s", name) / n_ops
        named[f"{name}.calls"] = total("calls", name) / n_ops
    for name in ("operators.classify_changes", "operators.merge_delta", "operators.run_fasta_tool"):
        named[f"{name}.plan_s"] = total("span_s", f"{name}.plan") / n_ops
    for name in ("pipelines.run_feed_import", "pipelines.run_release_cycle",
                 "pipelines.rebuild_incremental"):
        named[f"{name}.s"] = total("span_s", name) / n_ops
        named[f"{name}.jobs"] = total("span_jobs", name) / n_ops
        named[f"{name}.frac"] = total("span_s", name) / wall
    for layer in ("sources", "operators"):
        named[f"{layer}.frac"] = sum(o["self_s"].get(layer, 0.0) for o in allops) / wall
    st = lambda k: sum(o["streaming"][k] for o in stream_ops)  # noqa: E731
    named.update({
        "streaming.batches": st("batches") / n_ops,
        "streaming.addBatch_ms": st("addBatch_ms") / n_ops,
        "streaming.queryPlanning_ms": st("queryPlanning_ms") / n_ops,
        "streaming.triggerExecution_ms": st("triggerExecution_ms") / n_ops,
        "streaming.outside_batch_s": st("outside_batch_s") / n_ops,
        "streaming.addBatch_frac": st("addBatch_ms") / 1000.0 / stream_wall if stream_ops else 0.0,
        "streaming.queryPlanning_frac": (st("queryPlanning_ms") / 1000.0 / stream_wall
                                         if stream_ops else 0.0),
        "streaming.outside_batch_frac": st("outside_batch_s") / stream_wall if stream_ops else 0.0,
    })
    for k in ("jobs", "tasks", "failed_tasks", "driver_gap_s", "input_bytes", "shuffle_bytes",
              "spill_bytes"):
        named[f"spark.{k}"] = mean_spark(k)

    layers = sorted({k for o in allops for k in o["self_s"]})
    doc = {
        "n_ops": len(roots),
        "per_layer": named,
        "self_s_per_op": {k: sum(o["self_s"].get(k, 0.0) for o in allops) / n_ops for k in layers},
        "ops": allops,
        "spans": spans,
    }
    return named, doc
