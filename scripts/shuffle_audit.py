#!/usr/bin/env python
"""Per-query shuffle-BYTE audit — SHUFFLE_BYTES.json.

`scripts/audit_plans.py` gates plan SHAPES (cartesians, pushdown misses,
exchange storms); this measures what actually moves: for every registered
query, the bytes read from source, written to shuffle, and returned, from
the Spark status API's per-stage task metrics. The 100 TB argument is a
bytes argument — "the only corpus-sized exchange ships one row per
vector" is checkable here, per query, as data.

Flag rule: a query is shuffle-heavy when it shuffles more than
SHUFFLE_RATIO x its input bytes AND the absolute volume is above
MIN_FLAG_MB (sub-megabyte dims shuffle freely). Deliberate cases carry
annotations below, the same contract as audit_plans.ALLOWED.

Methodology: one untimed warmup pass first (publishes the derived-table
hubs on a cold store — a published hub is part of the steady state a
long-lived cluster serves from, and its one-time build shuffle is not a
per-query cost), then each query runs once against the no-op sink and is
charged its own jobs' stages (`observe.measure`). Bytes are deterministic
for a fixed corpus, so this can run alongside other load (unlike the bench).

Usage: SPARK_GRAFT_SF_DIR=... python scripts/shuffle_audit.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

os.environ.setdefault("SPARK_UI", "1")

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from harvester_database_and_automation_spark.observe import measure  # noqa: E402
from harvester_database_and_automation_spark.plans import QUERIES  # noqa: E402
from harvester_database_and_automation_spark.session import get_spark  # noqa: E402
from scripts.release_gate import git_dirty, git_head  # noqa: E402

SHUFFLE_RATIO = 1.5
MIN_FLAG_MB = 20.0

# query -> reason the shuffle volume is deliberate.
ANNOTATED: dict[str, str] = {
    "semantic_dedup_cells": "the single vector co-location shuffle IS the algorithm's cost: one row per vector, cogrouped by cell",
    "dup_connected_components": "iterative star contraction: O(log n) rounds each exchange the (shrinking) edge list",
    "incremental_dup_components": "same contraction, replayed over base + delta fold",
    "part_copurchase_pagerank": "3 damped rounds x one contrib shuffle per round over the co-purchase edge list",
    "global_sequence_ids": "total order requires one full exchange of the id column by construction",
}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    head, dirty = git_head(), git_dirty()
    spark = get_spark("shuffle-audit")

    def run(name: str) -> None:
        QUERIES[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    for name in names:  # warmup: hub publishes, JIT, parquet footers
        run(name)

    results: dict[str, dict] = {}
    for name in names:
        with measure(spark, f"shuffle_audit:{name}") as m:
            run(name)
        mb = 1024.0 * 1024.0
        inp, shw = m["input_bytes"], m["shuffle_write_bytes"]
        entry = {
            "input_mb": round(inp / mb, 3),
            "shuffle_write_mb": round(shw / mb, 3),
            "shuffle_read_mb": round(m["shuffle_read_bytes"] / mb, 3),
            "n_stages": m["stages"],
        }
        entry["ratio"] = round(shw / inp, 3) if inp else None
        if shw / mb > MIN_FLAG_MB and (not inp or shw > SHUFFLE_RATIO * inp):
            if name in ANNOTATED:
                entry["note"] = ANNOTATED[name]
            else:
                entry["flag"] = "shuffle-heavy"
                print(f"[FLAG] {name}: {entry}")
        results[name] = entry

    artifact = Path(__file__).resolve().parent.parent / "SHUFFLE_BYTES.json"
    queries = results
    if sys.argv[1:] and artifact.exists():
        # Explicit-query rerun: merge into the existing artifact — but only
        # when the stored provenance matches this run, otherwise the merged
        # file would mix measurements from different code versions/corpora
        # under one header. A stale artifact must be re-swept in full.
        prior = json.loads(artifact.read_text())
        if prior.get("git_head") != head or prior.get("sf_dir") != sf_dir:
            print(
                f"refusing to merge: artifact is from git_head="
                f"{prior.get('git_head')} sf_dir={prior.get('sf_dir')}, this run is "
                f"{head} {sf_dir} — run the full sweep instead",
                file=sys.stderr,
            )
            return 2
        queries = {**prior.get("queries", {}), **results}
    total_in = round(sum(e["input_mb"] for e in queries.values()), 1)
    total_sh = round(sum(e["shuffle_write_mb"] for e in queries.values()), 1)
    out = {
        "git_head": head,
        "git_dirty": dirty,
        "sf_dir": sf_dir,
        "n_queries": len(queries),
        "total_input_mb": total_in,
        "total_shuffle_write_mb": total_sh,
        "shuffled_bytes_per_scanned_byte": round(total_sh / total_in, 4) if total_in else None,
        "flag_rule": f"shuffle_write > {SHUFFLE_RATIO}x input AND > {MIN_FLAG_MB} MB, unless annotated",
        "flagged": sorted(n for n, e in queries.items() if "flag" in e),
        "queries": queries,
    }
    artifact.write_text(json.dumps(out, indent=1) + "\n")
    print(
        f"{out['n_queries']} queries: {out['total_shuffle_write_mb']} MB shuffled / "
        f"{out['total_input_mb']} MB scanned = {out['shuffled_bytes_per_scanned_byte']} "
        f"bytes shuffled per byte scanned; {len(out['flagged'])} flagged -> SHUFFLE_BYTES.json"
    )
    return 1 if out["flagged"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
