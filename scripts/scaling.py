#!/usr/bin/env python
"""Measure a data-scale step in ONE session and record the warm-time
ratios — the empirical scaling curve behind the 100 TB sizing table.

    python scripts/scaling.py 10x [query ...]   # sf0.01 -> sf0.1, SCALING.json
    python scripts/scaling.py 100x [query ...]  # sf0.01 -> sf0.1 -> sf1, SCALING_100x.json

A 10x data step that costs << 10x shows the plan has parallel/overhead
slack; >~10x flags superlinear work (the thing the plan audit exists to
prevent). The 100x step runs on the derived sf1 corpus
(scripts/make_sf1.py: FK-consistent 10x replication of sf0.1 — run it
first); its sf0.01 point is overhead-dominated, so the report also
carries the 10x sub-step sf0.1 -> sf1, where both points are past the
overhead floor. This is a PERFORMANCE artifact; scripts/oracle.py
certifies the same corpus.

Each time is the best of two warm runs after a warm-up pass over every
(query, corpus) pair. The 10x step defaults to the whole registry, the
100x step to ``PANEL_100X``; naming queries re-measures only those and
merges them into the existing artifact.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from __spark_entry__ import SMOKE_SF_DIR  # noqa: E402
from harvester_database_and_automation_spark.plans import QUERIES  # noqa: E402

SF001 = str(Path(SMOKE_SF_DIR).parent / "sf0.01")
SF01 = str(Path(SMOKE_SF_DIR).parent / "sf0.1")
SF1 = str(REPO / ".scaling" / "sf1")

# Top of BENCH_FULL by cost plus the scale-sensitive shapes (quantile
# profiles, dedup families, round-trips) and the serving-shape consumers
# over the published derived tables; semdedup_assign_build times the
# derived-table BUILD those consumers read.
PANEL_100X = [
    "streaming_watermark_window_replay",
    "streaming_change_router_replay",
    "streaming_dedup_replay",
    "word_heavy_hitters",
    "lineitem_column_profile",
    "lineitem_column_profile_binned",
    "order_value_percentiles",
    "substring_overlap_pairs",
    "semantic_dedup_cells",
    "prefix_filter_jaccard_pairs",
    "kmeans_lloyd_clusters",
    "incremental_dup_components",
    "streaming_upsert_publish_replay",
    "chunked_export_roundtrip",
    "csv_typed_roundtrip",
    "embedding_near_dup_pairs",
    "tfidf_top_terms",
    "hot_band_pair_stress",
    "ivf_probe_served",
    "ngram_jaccard_pairs",
    "minhash_lsh_candidates_served",
    "semantic_dedup_served",
    "derived_rebuild_parity",
    "semdedup_assign_build",
]


# Known-legitimate double-digit 100x tails, carried into the artifact so a
# reader never has to reverse-engineer WHY a ratio is big. Every query
# entry here is also hash-certified at sf1 (CORRECTNESS_SF1.json) — the
# annotation explains cost, the certification proves correctness.
ANNOTATIONS = {
    "event_concurrency_window": "output-bound: overlapping-event pairs grow ~100x faster than rows on the derived corpus (1M result rows at sf1, sf1-hash-certified)",
    "minhash_jaccard_calibration": "bounded certification: exact ground truth computed for a FIXED 40-pair hash-drawn sample per signature bucket; the remaining growth is the candidate count + two-level sample windows over narrow int triples (sf1-hash-certified)",
    "prefix_filter_jaccard_pairs": "output-bound: 980x more qualifying pairs on the derived corpus for the same threshold; linear in output (250,600 rows at sf1, sf1-hash-certified)",
    "hot_band_pair_stress": "output quadratic by design: the planted hot band is N/3 docs, so its pair count grows 100x per 10x data; enumeration stays distributed (SKEW_TASK_BOUND.json) and sf1-hash-certified",
    "semantic_dedup_cells": "three-level tree-descent assignment (~3*k^(1/3) BLAS-batched comparisons per vector; corpus-sized exchanges are one fan-out and one cell co-location shuffle) plus the linear per-cell BLAS pair scan (sf1-hash-certified)",
    "semantic_dedup_served": "reads the maintained semdedup_assign table and runs ONLY the per-cell BLAS pair scan (one co-location shuffle, ~250x250 matmul per cell, linear in the corpus; sf1-hash-certified)",
    "chunked_export_roundtrip": "data-linear I/O with little fixed cost: writes, uploads, sha2-hashes, and re-reads 100x the bytes (sf1-hash-certified)",
    "salted_brand_volume": "sub-2s absolute at sf1: fixed-overhead amplification on a salted two-phase agg, not superlinear work",
    "pii_scrub_stats": "sub-1.5s absolute at sf1: regex scrub is scan-bound; ratio is overhead amplification",
    "jdbc_roundtrip": "embedded-Derby transport (single-writer harness), not a Spark plan cost",
    "xz_feed_roundtrip": "single-stream lzma spool is the transport harness; scan side splits normally",
    "semdedup_assign_build": "the semdedup_assign derived-table BUILD (three-level tree descent): per-vector work ~3*k^(1/3) BLAS comparisons, corpus-sized exchanges limited to one fan-out and one co-location shuffle",
}


def _semdedup_assign_build(spark, sf):
    # Build only — the publish write is corpus-proportional I/O measured
    # by chunked_export_roundtrip.
    from harvester_database_and_automation_spark.pipelines.derived import LAYER

    return LAYER.tables["semdedup_assign"].build(spark, sf, {})


TARGETS = {**{n: spec.fn for n, spec in QUERIES.items()},
           "semdedup_assign_build": _semdedup_assign_build}


def _run(fn, spark, sf) -> float:
    t0 = time.time()
    fn(spark, sf).write.mode("overwrite").format("noop").save()
    return time.time() - t0


def ratio(a: float, b: float) -> float | None:
    return round(b / a, 2) if a > 0 else None


def row_10x(t: list[float]) -> dict:
    return {"sf001": t[0], "sf01": t[1], "ratio": ratio(t[0], t[1])}


def row_100x(name: str, t: list[float]) -> dict:
    row = {
        "sf001": t[0], "sf01": t[1], "sf1": t[2],
        "ratio_100x": ratio(t[0], t[2]),
        "ratio_10x_tail": ratio(t[1], t[2]),
    }
    if name in ANNOTATIONS:
        row["note"] = ANNOTATIONS[name]
    elif row["ratio_100x"] is not None and row["ratio_100x"] > 3 and t[2] < 2.5:
        # A big ratio over a trivially small absolute time is the sf0.01
        # baseline being ~all fixed scheduling overhead, not superlinear
        # work — say so in the artifact itself.
        row["note"] = (
            f"sub-2.5s absolute at sf1 ({t[2]}s for 100x the rows): the sf0.01 "
            "baseline is dominated by fixed job overhead, so the ratio is "
            "overhead amplification, not superlinear work"
        )
    return row


def summary_10x(rows: dict) -> dict:
    ratios = sorted(r["ratio"] for r in rows.values() if r["ratio"])
    return {
        "data_step": "10x rows (sf0.01 -> sf0.1), same session, best-of-2 warm",
        "median_ratio": ratios[len(ratios) // 2],
        "p90_ratio": ratios[(9 * len(ratios)) // 10],
        "max_ratio": ratios[-1],
    }


def summary_100x(rows: dict) -> dict:
    r100 = sorted(r["ratio_100x"] for r in rows.values() if r["ratio_100x"] is not None)
    r10 = sorted(r["ratio_10x_tail"] for r in rows.values() if r["ratio_10x_tail"] is not None)
    return {
        "data_step": "100x rows (sf0.01 -> derived sf1), same session, best-of-2 warm",
        "sf1_source": "scripts/make_sf1.py: FK-consistent 10x replication of sf0.1",
        "median_ratio_100x": round(statistics.median(r100), 2),
        "max_ratio_100x": r100[-1],
        "median_ratio_10x_tail": round(statistics.median(r10), 2),
        "max_ratio_10x_tail": r10[-1],
        "n_excluded_zero_baseline": sum(1 for r in rows.values() if r["ratio_100x"] is None),
    }


STEPS = {
    "10x": {
        "sfs": (SF001, SF01),
        "default": list(QUERIES),
        "artifact": "SCALING.json",
        "row": lambda name, t: row_10x(t),
        "summary": summary_10x,
        "sort": "ratio",
    },
    "100x": {
        "sfs": (SF001, SF01, SF1),
        "default": PANEL_100X,
        "artifact": "SCALING_100x.json",
        "row": row_100x,
        "summary": summary_100x,
        "sort": "ratio_100x",
    },
}


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv or argv[0] not in STEPS:
        print(f"usage: scaling.py {{{','.join(STEPS)}}} [query ...]", file=sys.stderr)
        return 2
    step = STEPS[argv[0]]
    names = argv[1:] or step["default"]
    unknown = [n for n in names if n not in TARGETS]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    missing = [sf for sf in step["sfs"] if not Path(sf).is_dir()]
    if missing:
        print(f"{missing} missing — run scripts/make_sf1.py for the sf1 corpus", file=sys.stderr)
        return 2

    from bench import _calibration_sec  # pinned env-drift workload
    from harvester_database_and_automation_spark.session import get_spark

    spark = get_spark(f"scaling-{argv[0]}")
    # Warm every (query, corpus) pair fully first (JIT + footer caches).
    for n in names:
        for sf in step["sfs"]:
            _run(TARGETS[n], spark, sf)
    rows = {}
    for n in names:
        t = [round(min(_run(TARGETS[n], spark, sf) for _ in range(2)), 3) for sf in step["sfs"]]
        rows[n] = step["row"](n, t)
        print(f"{n}: {'s -> '.join(map(str, t))}s")
    artifact = REPO / step["artifact"]
    if argv[1:] and artifact.exists():
        # Explicit-query rerun (a rework remeasure): merge into the
        # existing artifact instead of shrinking it to the rerun slice.
        prior = json.loads(artifact.read_text()).get("queries", {})
        prior.update(rows)
        rows = prior
    key = step["sort"]
    out = {
        **step["summary"](rows),
        "calibration_sec": _calibration_sec(spark, SF01),
        "queries": dict(sorted(rows.items(), key=lambda kv: -(kv[1][key] or 0))),
    }
    artifact.write_text(json.dumps(out, indent=1) + "\n")
    print(f"{len(rows)} queries: " + ", ".join(
        f"{k} {v}" for k, v in out.items() if "_ratio" in k) + f" -> {step['artifact']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
