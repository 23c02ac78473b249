#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one measuring window.

    python3 perfbench/run.py --workload serve_panel --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --steady 5 --workload daily_cycles --seconds 14

Run from the repository root. Everything the run writes goes under
``.perfbench/`` there (corpus, oracle digests, serving store, Spark
scratch, traces).
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it carries diagnostics (per-workload figures, calibration probes, failures).
``--steady N`` runs the workload N times with seeds 1..N and prints each
end-to-end metric's quartile spread against its bound in BENCHMARK.json.
See perfbench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PKG = "harvester_database_and_automation_spark"

CORPUS_SCALE = 0.02  # lineitem 120k, orders 30k, events 20k, documents 1k rows
SPARK_MEMORY = "3g"

WORKLOADS = ("serve_panel", "daily_cycles")
END_TO_END = {"op_p50_s": "s", "ops_per_s": "1/s", "setup_s": "s"}
PER_LAYER = {
    "catalog.load_table.calls": "count",
    "catalog.load_table.s": "s",
    "catalog.load_table.reuse_ratio": "ratio",
    "plans.jobs_per_query": "count",
    "plans.tasks_per_query": "count",
    "plans.build_frac": "ratio",
    "plans.exec_frac": "ratio",
    "sources.frac": "ratio",
    "operators.publish_versioned.calls": "count",
    "operators.publish_incremental.calls": "count",
    "operators.read_published.calls": "count",
    "operators.frac": "ratio",
    "pipelines.run_feed_import.jobs": "count",
    "pipelines.run_release_cycle.jobs": "count",
    "pipelines.rebuild_incremental.jobs": "count",
    "pipelines.run_feed_import.frac": "ratio",
    "pipelines.run_release_cycle.frac": "ratio",
    "pipelines.rebuild_incremental.frac": "ratio",
    "pipelines.annotated_per_feed_row": "ratio",
    "streaming.batches": "count",
    "streaming.addBatch_frac": "ratio",
    "streaming.queryPlanning_frac": "ratio",
    "streaming.outside_batch_frac": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
}


def _env() -> None:
    """Point every scratch location of Spark and Python into WORK and
    size the session: local[nproc], one driver of SPARK_MEMORY."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    os.environ["SPARK_DRIVER_MEMORY"] = SPARK_MEMORY
    # Every JVM (the launcher and the driver): temp files into WORK, and no
    # hsperfdata file in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path[:0] = [ROOT, HERE]


def _corpus() -> tuple[str, float]:
    """The corpus directory, built on first use; returns (dir, build seconds)."""
    import corpus

    with open(corpus.__file__, "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:10]
    path = os.path.join(WORK, f"corpus-{CORPUS_SCALE}-{tag}")
    if os.path.isdir(path):
        return path, 0.0
    t0 = time.perf_counter()
    corpus.write_corpus(path, CORPUS_SCALE)
    return path, time.perf_counter() - t0


def _spark(trace: bool):
    from harvester_database_and_automation_spark.session import get_spark

    os.environ["SPARK_UI"] = "true" if trace else "false"
    conf = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"} if trace else {}
    return get_spark("perfbench", extra_conf=conf)


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _shutdown(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def run(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    _env()
    import workloads
    from spans import Tracer

    corpus_dir, build_s = _corpus()
    wl = workloads.make(args.workload)

    from harvester_database_and_automation_spark.catalog import load_all
    from harvester_database_and_automation_spark.oracle_cache import OracleCache
    from harvester_database_and_automation_spark.pipelines import derived

    # Untimed: the DuckDB oracle digests (computed once per corpus). The
    # `.derived` serving store lives beside them and, like the engine's own,
    # is built by the first reader in a checkout and kept: rebuilding it in
    # every run would not fit the benchmark's time budget.
    oracle = OracleCache(os.path.join(WORK, "oracle"))
    if isinstance(wl, workloads.QueryLoop):
        wl.fill_oracle(corpus_dir, oracle)
    derived._SERVE_ROOT = os.path.join(WORK, "derived-store")

    # Set-up (setup_s): the JVM launch and session start, the seeded
    # inputs, the catalog and the untimed warm pass.
    t0 = time.perf_counter()
    spark = _spark(args.trace)
    tracer = Tracer(spark, enabled=bool(args.trace))
    tracer.attach_streaming_listener(spark)
    ctx = workloads.Ctx(spark, corpus_dir, WORK, args.seed, tracer, oracle)
    wl.prepare(ctx)
    load_all(spark, corpus_dir)
    session_s = time.perf_counter() - t0
    wl.warm(ctx)
    setup_s = time.perf_counter() - t0
    warm_failures = len(ctx.failures)

    tracer.install()
    times: list[float] = []
    n_raised = 0
    deadline = time.perf_counter() + args.seconds
    t_loop = time.perf_counter()
    while time.perf_counter() < deadline or not wl.pass_done:
        try:
            times.append(wl.step(ctx))
        except Exception as exc:  # a raising operation is a failed one
            ctx.failures.append(f"{type(exc).__name__}: {exc}"[:300])
            n_raised += 1
            if n_raised > 3:
                break
    loop_s = time.perf_counter() - t_loop
    tracer.op = None

    from bench import _calibration_cpu_sec, _calibration_sec

    t_cal = time.perf_counter()
    calibration = (_calibration_sec(spark, corpus_dir), _calibration_cpu_sec(spark))
    calibration_wall_s = time.perf_counter() - t_cal
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "n_ops": len(times),
        "loop_s": loop_s,
        "session_start_s": session_s,
        "warm_s": setup_s - session_s,
        "corpus_build_s": build_s,
        "calibration_sec": calibration[0],
        "calibration_cpu_sec": calibration[1],
        "calibration_wall_s": calibration_wall_s,
        "failures": ctx.failures[:10],
    }
    if not times:
        _shutdown(spark)
        print(json.dumps({"diagnostics": diag}, default=str))
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    attempted = len(times) + n_raised + ctx.checks
    failed = len(ctx.failures)
    e2e = _end_to_end(times, setup_s)
    diag["peak_rss_mb"] = _peak_rss_mb(spark)
    diag.update(_workload_figures(args.workload, wl, times))
    diag["checks"] = ctx.checks
    for key in ("log", "warm_log"):
        if hasattr(wl, key):
            diag[key] = [(n, round(t, 4)) for n, t in getattr(wl, key)]
    diag["warm_failures"] = warm_failures

    if args.trace:
        from spans import layer_report

        layers, trace_doc = layer_report(spark, tracer, wl)
        trace_doc.update({"end_to_end_traced": e2e, "diagnostics": diag})
        out = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(out, "w") as fh:
            json.dump(trace_doc, fh, indent=1, default=str)
        diag["trace_file"] = os.path.relpath(out, ROOT)
        diag["end_to_end_traced"] = e2e
        metrics = {k: (layers[k], unit) for k, unit in PER_LAYER.items()}
    else:
        metrics = {k: (e2e[k], unit) for k, unit in END_TO_END.items()}
    _shutdown(spark)

    print(json.dumps({"diagnostics": diag}, default=str))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _end_to_end(times: list[float], setup_s: float) -> dict:
    return {
        "op_p50_s": statistics.median(times),
        "ops_per_s": len(times) / sum(times),
        "setup_s": setup_s,
    }


def _workload_figures(name: str, wl, times: list[float]) -> dict:
    """The workload's own names for its figures, with sample counts."""
    if not times:
        return {}
    n = len(times)
    p50 = statistics.median(times)
    if name == "serve_panel":
        return {"query_p50_s": p50, "query_p90_s": _quantile(times, 0.9),
                "panel_qps": n / sum(times), "n_queries": n}
    half = n // 2
    growth = statistics.median(times[n - half:]) / statistics.median(times[:half]) if half else None
    return {"cycle_p50_s": p50, "cycle_rows_per_s": wl.rows_done / sum(times),
            "cycle_growth": growth, "n_cycles": n}


def _run_once(args, seed: int, trace: int) -> tuple[dict, dict]:
    """One benchmark run in a child process: (result line, diagnostics),
    the diagnostics with the run's wall time as ``run_wall_s``."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    diag = json.loads(lines[-2])["diagnostics"]
    diag["run_wall_s"] = time.perf_counter() - t0
    return json.loads(lines[-1]), diag


def steady(args) -> int:
    """Run the workload ``args.steady`` times (seeds 1..N) and print, per
    end-to-end metric, the quartile spread as a share of the median next
    to the metric's bound. With ``--trace 1`` each seed also runs traced,
    and the tracing overhead (traced minus untraced median) is printed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    values: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for seed in range(1, args.steady + 1):
        res, diag = _run_once(args, seed, 0)
        print(f"seed {seed}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
              + f" wall={diag['run_wall_s']:.1f}s session_start={diag['session_start_s']:.1f}s"
              + f" warm={diag['warm_s']:.1f}s ops={diag['n_ops']}"
              + f" calibration={diag['calibration_sec']}/{diag['calibration_cpu_sec']}s", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        if args.trace:
            _, diag = _run_once(args, seed, 1)
            for k, v in diag["end_to_end_traced"].items():
                traced.setdefault(k, []).append(v)
    ok = True
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        verdict = "ok" if spread < bounds[k] / 3 else ("within bound" if spread <= bounds[k] else "WIDE")
        ok &= verdict != "WIDE"
        line = (f"{args.workload:14s} {k:12s} median={med:.4g} spread={spread:.3f} "
                f"bound={bounds[k]} {verdict}")
        if k in traced:
            over = statistics.median(traced[k]) - med
            line += f" tracing_overhead={over:+.4g} ({over / med:+.1%})"
        print(line)
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N",
                    help="run N seeds and report each metric's spread against its bound")
    args = ap.parse_args()
    return steady(args) if args.steady else run(args)


if __name__ == "__main__":
    sys.exit(main())
