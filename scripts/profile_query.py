#!/usr/bin/env python
"""Profile registered queries: warm noop-sink timings, the Spark job
breakdown of the last run, and optional .explain("formatted") dumps.

Usage:
  python scripts/profile_query.py q1 [q2 ...] [--runs N] [--explain DIR --tag T] [--sf-dir D]

Timing methodology matches bench.py (untimed warm pass, then N timed
passes, report min + all) so numbers are comparable to BENCH_FULL.json.
Each run's plan build (the `spec.fn(...)` call, before any action) is
timed and its py4j round trips counted apart from execution, and the
run's generated-code compiles are counted. After the last run it prints
that run's `observe.measure` summary and one line per Spark job
(duration, gap since the previous job, tasks) — the local-mode
substitute for clicking through the Spark UI.

Not named profile.py: that would shadow the stdlib module pyspark imports.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_UI", "1")

from harvester_database_and_automation_spark.observe import codegen_compiles, measure, py4j_calls  # noqa: E402
from harvester_database_and_automation_spark.plans import QUERIES  # noqa: E402
from harvester_database_and_automation_spark.plans.shared import cleanup_scratch  # noqa: E402
from harvester_database_and_automation_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain", default=None, help="directory for plan dumps")
    ap.add_argument("--tag", default="before", help="suffix for plan dumps")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark("profile-query")
    for name in args.queries:
        spec = QUERIES[name]
        # capture plan BEFORE any timing (plan shape, not data)
        if args.explain:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                spec.fn(spark, args.sf_dir).explain("formatted")
            outdir = Path(args.explain)
            outdir.mkdir(parents=True, exist_ok=True)
            (outdir / f"{name}_{args.tag}.txt").write_text(buf.getvalue())
            cleanup_scratch()
        # warm
        spec.fn(spark, args.sf_dir).write.mode("overwrite").format("noop").save()
        cleanup_scratch()
        times, builds, calls, compiles = [], [], [], []
        for _ in range(args.runs):
            with measure(spark, f"profile:{name}") as m, codegen_compiles(spark) as cg:
                t0 = time.perf_counter()
                with py4j_calls(spark) as c:
                    df = spec.fn(spark, args.sf_dir)
                builds.append(round(time.perf_counter() - t0, 3))
                calls.append(c["calls"])
                df.write.mode("overwrite").format("noop").save()
            cleanup_scratch()
            compiles.append(cg["compiles"])
            times.append(round(m["wall_s"], 3))
        execs = [round(t - b, 3) for t, b in zip(times, builds)]
        print(f"{name}: min={min(times)} runs={times}")
        print(f"  build: min={min(builds)}s runs={builds} py4j={calls} compiles={compiles}; execute: runs={execs}")
        summary = {k: round(v, 3) for k, v in m.items() if k != "jobs"}
        print(f"  last run: jobs={len(m['jobs'])} {summary}")
        for j in m["jobs"]:
            print(
                f"  job {j['id']:4d}  dur={j['duration_s']:7.3f}s gap={j['gap_s']:7.3f}s "
                f"tasks={j['tasks']:4d}  {j['description'][:100]}",
                flush=True,
            )


if __name__ == "__main__":
    main()
