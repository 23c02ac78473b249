#!/usr/bin/env python
"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line with per-query wall-clock seconds.

Materialization uses the no-op sink so timing covers the full plan without
driver-side collection overhead.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from harvester_database_and_automation_spark.plans import QUERIES  # noqa: E402
from harvester_database_and_automation_spark.plans.shared import cleanup_scratch  # noqa: E402
from harvester_database_and_automation_spark.session import get_spark  # noqa: E402


def _calibration_sec(spark, sf_dir: str) -> float:
    """Fixed calibration workload, PINNED from round 6 on: parquet scan of
    lineitem + hash aggregate. Same-code bench totals on this box drift
    +/-20-25% between rounds with foreign load (r04 125.6s vs r05 146.7s
    was a uniform environment shift); recording this constant workload
    alongside every bench lets per-round comparisons normalize out the
    environment (scripts/bench_history.py divides by the calibration ratio).
    Median of 5 warm runs of a plan that never changes."""
    import statistics

    from pyspark.sql import functions as F

    def run() -> float:
        t0 = time.time()
        (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity"),
                F.sum("l_extendedprice"),
                F.avg("l_discount"),
                F.count(F.lit(1)),
            )
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        return time.time() - t0

    run()  # warm (JIT + footer cache), untimed
    return round(statistics.median(run() for _ in range(5)), 4)


def _calibration_cpu_sec(spark) -> float:
    """CPU-bound calibration probe, PINNED from round 10 on: 192M xxhash64
    evaluations through whole-stage codegen, no IO at all. The IO-bound
    parquet-scan probe above under-captures pure CPU drift (round-9
    measured a ~1.3x CPU residual the scan missed — CHANGES.md bench-noise
    A/B), so every bench artifact now records BOTH probes: disk drift and
    CPU drift separate instead of being inferred from untouched-query
    deltas. Median of 5 warm runs of a plan that never changes."""
    import statistics

    from pyspark.sql import functions as F

    def run() -> float:
        t0 = time.time()
        (
            spark.range(0, 192_000_000, 1, 32)
            .select(F.xxhash64("id").alias("h"))
            .agg(F.expr("bit_xor(h)"))  # overflow-free under ANSI
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        return time.time() - t0

    run()  # warm (JIT), untimed
    return round(statistics.median(run() for _ in range(5)), 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("harvester-bench")
    # Full untimed warmup pass: JIT/codegen for every plan shape, parquet
    # footers cached. The generated classes stay compiled for the timed
    # passes only because get_spark sizes spark.sql.codegen.cache.maxEntries
    # past the sweep's ~2,700 classes (Spark's 100-entry default evicts each
    # before reuse). The timed passes then measure steady-state execution —
    # first-call numbers were dominated by JIT compilation (≈5x on the
    # widest plans), which a long-lived cluster never pays per query.
    for spec in QUERIES.values():
        spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        cleanup_scratch()  # replay spools/publishes are per-call fixtures

    # Two timed passes, keep each query's best: this box runs other
    # workloads, and a single pass regularly charges 5-8s of foreign load
    # to whichever query it lands on. The min of two warm runs is the
    # steady-state number a dedicated cluster would see.
    per_query: dict[str, float] = {}
    for _ in range(2):
        for name, spec in QUERIES.items():
            t0 = time.time()
            spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = round(time.time() - t0, 3)
            cleanup_scratch()  # outside the timed window
            if name not in per_query or dt < per_query[name]:
                per_query[name] = dt

    calibration = _calibration_sec(spark, sf_dir)
    calibration_cpu = _calibration_cpu_sec(spark)

    total = round(sum(per_query.values()), 3)
    times = sorted(per_query.values())
    n = len(times)

    # Full per-query map to a repo file (the driver's stdout capture keeps
    # only the last 2000 chars — round 1's 4 KB line survived only as an
    # unparseable tail). The printed line stays under that cap: aggregate
    # stats plus the slowest queries, with the rest in BENCH_FULL.json.
    slowest_first = dict(sorted(per_query.items(), key=lambda kv: -kv[1]))
    full = {
        "metric": "total warm wall-clock over registered query inventory",
        "value": total,
        "unit": "sec",
        "n_queries": n,
        "sec_per_query": round(total / n, 4),
        "calibration_sec": calibration,
        "calibration_cpu_sec": calibration_cpu,
        "queries": slowest_first,
        # Box-independent history: seconds per calibration second (the
        # pinned workload above). scripts/bench_history.py compares these
        # across rounds to catch cumulative creep that each round's
        # ±1.5x raw-diff gate can't see.
        "queries_norm": {q: round(dt / calibration, 3) for q, dt in slowest_first.items()},
        "sf": sf,
    }
    (Path(__file__).resolve().parent / "BENCH_FULL.json").write_text(
        json.dumps(full, indent=1) + "\n"
    )

    out = {
        "metric": "total warm wall-clock, all queries (full map: BENCH_FULL.json)",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": n,
        "sec_per_query": round(total / n, 4),
        "median_sec": round(times[n // 2], 3),
        "p90_sec": round(times[(9 * n) // 10], 3),
        "calibration_sec": calibration,
        "calibration_cpu_sec": calibration_cpu,
        "queries": {},
    }
    budget = 1900
    for name, dt in slowest_first.items():
        out["queries"][name] = dt
        if len(json.dumps(out, separators=(",", ":"))) > budget:
            del out["queries"][name]
            break
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
