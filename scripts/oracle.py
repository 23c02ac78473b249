#!/usr/bin/env python
"""Run registered queries against their DuckDB oracles: row count +
schema + order-insensitive value hash (testing.compare_frames), the same
compare the external driver applies at sf0.01.

    python scripts/oracle.py                                  # all queries, sf0.01
    python scripts/oracle.py --queries pricing_summary,k6_geo_rules
    python scripts/oracle.py --vanilla                        # default-conf session
    python scripts/oracle.py --artifact CORRECTNESS_SELF.json # full-registry certificate
    python scripts/oracle.py --sf .scaling/sf1 --artifact CORRECTNESS_SF1.json

``--sf`` names the corpus (default: the sf0.01 corpus beside the smoke
corpus). On the derived sf1 corpus (scripts/make_sf1.py: FK-consistent
10x replication of sf0.1) the default query set is ``SF1_PANEL``;
everywhere else it is the whole registry, in registration order.

``--vanilla`` runs under a session with none of session.py's confs —
default 200 shuffle partitions, a non-UTC timezone, fewer cores — so a
query that only passes under our tuning fails here first. It keeps
Spark's 100-entry codegen cache on purpose: a sweep then recompiles every
plan, as an outside session with default confs does.

Oracle results are served from the persistent cache (.oracle_cache/,
keyed by SQL digest x corpus fingerprint — oracle_cache.py); DuckDB
opens only if some query misses it. ``ORACLE_CACHE=0`` disables the
cache.

``--artifact FILE`` records one row per query, stamped with the full
commit hash of the checkout's HEAD. A run with an explicit ``--queries`` subset
merges into the existing artifact (carried rows keep their
``measured_at``, valid only while the corpus is unchanged); any other
run overwrites it. Exit 0 when every row passes, 1 on a failure, 2 on
bad arguments.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from __spark_entry__ import SMOKE_SF_DIR  # noqa: E402
from scripts.release_gate import git_dirty, git_head  # noqa: E402
from harvester_database_and_automation_spark.plans import QUERIES  # noqa: E402

DEFAULT_SF = str(Path(SMOKE_SF_DIR).parent / "sf0.01")
SF1 = REPO / ".scaling" / "sf1"

# The sf1 certification slice: the bounded-batch kernel reworks, the top
# of the bench by warm cost, the output-bound scaling tails annotated in
# SCALING_100x.json, and the serving-store/round-trip reworks.
SF1_PANEL = [
    # Bounded-batch reworks (sampling semantics changed):
    "k3_origin_estimator",
    "k4_priority_scorer",
    "knn_label_predict",
    "a11_mean_hamming",
    # Top of BENCH_FULL by warm cost:
    "streaming_watermark_window_replay",
    "streaming_dedup_replay",
    "streaming_change_router_replay",
    "lineitem_column_profile",
    "semantic_dedup_cells",
    "lineitem_column_profile_binned",
    "prefix_filter_jaccard_pairs",
    "incremental_dup_components",
    "streaming_upsert_publish_replay",
    "ivf_recall_at_3",
    "substring_overlap_pairs",
    "kmeans_lloyd_clusters",
    # Annotated output-bound 100x tails (the annotation becomes a check):
    "minhash_jaccard_calibration",
    "event_concurrency_window",
    # Skew, serving-store and round-trip reworks:
    "hot_band_pair_stress",
    "ngram_jaccard_pairs",
    "ivf_probe_served",
    "semantic_dedup_served",
    "derived_rebuild_parity",
    "csv_typed_roundtrip",
    "chunked_export_roundtrip",
]


def result_row(res, was_hit: bool, seconds: float, head: str) -> dict:
    """One artifact row from a testing.CompareResult."""
    return {
        "ok": res.ok,
        "rows_match": res.ok or res.spark_rows == res.oracle_rows,
        "schema_match": res.ok or not any("column mismatch" in p for p in res.problems),
        "hash_match": res.ok,
        "spark_rows": res.spark_rows,
        "oracle_rows": res.oracle_rows,
        "problems": res.problems,
        "oracle_cache_hit": was_hit,
        "seconds": round(seconds, 1),
        "measured_at": head,
    }


def merge_rows(prior: dict, rows: dict[str, dict]) -> dict[str, dict]:
    """Fold a subset run's ``rows`` into a prior artifact's rows: re-run
    rows replace their old entries, carried rows keep the head they were
    measured at (the prior artifact's head when a row predates
    ``measured_at``)."""
    merged = prior.get("queries", {})
    for row in merged.values():
        row.setdefault("measured_at", prior.get("git_head", "unknown"))
    merged.update(rows)
    return merged


def _session(vanilla: bool):
    if not vanilla:
        from harvester_database_and_automation_spark.session import get_spark

        return get_spark("oracle")
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.driver.memory", "16g")
        .appName("oracle-vanilla")
        .getOrCreate()
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=DEFAULT_SF, help="corpus directory")
    ap.add_argument("--queries", default="", help="comma-separated query names")
    ap.add_argument("--artifact", default=None, help="JSON artifact to write, relative to the repo root")
    ap.add_argument("--vanilla", action="store_true",
                    help="run under a default-conf, non-UTC session")
    args = ap.parse_args(argv)

    on_sf1 = Path(args.sf).resolve() == SF1.resolve()
    subset = [n for n in args.queries.split(",") if n]
    names = subset or (SF1_PANEL if on_sf1 else list(QUERIES))
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    if not Path(args.sf).is_dir():
        hint = " — run scripts/make_sf1.py first" if on_sf1 else ""
        print(f"{args.sf} missing{hint}", file=sys.stderr)
        return 2

    from harvester_database_and_automation_spark.oracle_cache import (
        OracleCache,
        check_query_cached,
    )
    from harvester_database_and_automation_spark.plans.shared import cleanup_scratch
    from harvester_database_and_automation_spark.testing import (
        CompareResult,
        duckdb_connection,
        oracle_env_mode,
    )

    spark = _session(args.vanilla)
    cache = None if os.environ.get("ORACLE_CACHE") == "0" else OracleCache(REPO / ".oracle_cache")
    # DuckDB opens lazily, only if some query misses the oracle cache —
    # an all-hits run never allocates the in-RAM oracle budget.
    _con: list = []

    def con_factory():
        if not _con:
            _con.append(duckdb_connection(args.sf))
        return _con[0]

    head = git_head()
    rows: dict[str, dict] = {}
    t_start = time.time()
    for name in names:
        t0 = time.time()
        try:
            res, was_hit = check_query_cached(spark, con_factory, name, args.sf, cache)
            print(f"{res}{' [cached oracle]' if was_hit else ''}  ({time.time() - t0:.1f}s)")
        except Exception as exc:  # pragma: no cover - diagnostic path
            res, was_hit = CompareResult(name, False, -1, -1, [f"{type(exc).__name__}: {exc}"]), False
            print(f"[ERROR] {name}: {res.problems[0]}")
        finally:
            cleanup_scratch()
        rows[name] = result_row(res, was_hit, time.time() - t0, head)

    n_fail = sum(not r["ok"] for r in rows.values())
    print(f"\n{len(rows) - n_fail}/{len(rows)} queries pass at {args.sf}")
    if args.artifact:
        path = REPO / args.artifact
        if subset and path.exists():
            rows = merge_rows(json.loads(path.read_text()), rows)
            n_fail = sum(not r["ok"] for r in rows.values())
        out = {
            "git_head": head,
            "git_dirty": git_dirty(),
            "sf_dir": args.sf,
            "oracle_env": oracle_env_mode(),
            "oracle_cache": cache.stats() if cache is not None else {"disabled": True},
            "n_queries": len(rows),
            "n_pass": len(rows) - n_fail,
            "n_fail": n_fail,
            "wall_sec": round(time.time() - t_start, 1),
            "check": "row count + schema + order-insensitive value hash vs the DuckDB "
            "oracle (testing.compare_frames; rows-only for queries without an oracle); "
            "oracle side served from .oracle_cache digests on hits (oracle_cache.py)",
            "note": "rows carry measured_at; a --queries subset run merges into prior "
            "rows, valid only while the corpus is unchanged",
            "queries": rows,
        }
        path.write_text(json.dumps(out, indent=1) + "\n")
        print(f"{out['n_pass']}/{out['n_queries']} rows pass -> {args.artifact}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
