#!/usr/bin/env python
"""Sweep every registered query's physical plan for scale red flags.

Usage: python scripts/audit_plans.py [sf_dir] [query_name ...]

Complements the oracle correctness gate with a plan-health gate:

- CartesianProduct      — an unbroadcast cross join: O(N^2) shuffle at scale.
- no-pushdown scan      — a filtered query whose parquet scan pushes nothing.
- single-partition window — Window without partitionBy over a fact table
                          (all rows through one task).
- exchange storm        — > 6 shuffles in one query.

Some flags are expected and allow-listed with a reason (e.g. the 25-row
nation dim sorted globally for id assignment). The script exits non-zero
on any UNEXPECTED flag, so it can run as a gate.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from harvester_database_and_automation_spark.plans import QUERIES
from harvester_database_and_automation_spark.plans.shared import cleanup_scratch  # noqa: E402
from harvester_database_and_automation_spark.session import get_spark  # noqa: E402

# query -> (flag, reason) pairs that are deliberate.
ALLOWED: dict[str, dict[str, str]] = {
    "global_sequence_ids": {
        "single-partition-window": "25-row nation dim; fact-scale ids use operators.ids"
    },
    "a11_mean_hamming": {
        "cartesian": "5x5 sampled sequence set (deliberate all-pairs baseline)"
    },
    # Every PRODUCTION query now reads its expensive intermediate from
    # the published serving store (pipelines/derived.py read_derived):
    # ngram_jaccard_pairs + curation_funnel_report read dup_pairs,
    # source_boilerplate_fraction + shingle_novelty_by_source read
    # shingle_index, substring_overlap_pairs reads winnow_fingerprints,
    # K3/K4 read mutation_sets, lineage_mutation_counts reads
    # mutation_table + variant_calls, the IVF probes read ivf_index,
    # prefix_filter_jaccard_pairs verifies against dup_pairs,
    # ivfpq_adc_topk reads ivf_index + pq_recon — their former
    # "materialized in production" entries are
    # GONE because the production shape IS the registered, audited plan.
    # What remains below are CERTIFICATION/CALIBRATION queries that by
    # design run a derivation AND its ground truth (or an incremental
    # path AND its full rebuild) inline in one plan to compare them —
    # the recompute is the point, and each entry says what it ships.
    "hot_band_pair_stress": {
        "exchange-storm": "the skew certification composes hot-key detection (frequency agg + broadcast) and the triangular block self-join inline; the pair join's two sides each shuffle once on (band, block_i, block_j) — that 3-column key IS the mitigation — and every exchange ships (band, block, id, n_chars) rows, never payloads"
    },
    "kmv_segment_overlap": {
        "exchange-storm": "certification runs THREE sketch branches (a/b/union k-min top-ks) AND their three exact distinct counts in one plan; in production each segment's 64-double sketch is a maintained table and only the merge executes — every exchange here ships either 64 doubles or distinct bigint keys"
    },
    "incremental_dup_components": {
        "exchange-storm": "certification runs BOTH contractions (prior-corpus map + incremental fold of the delta) from the raw pair derivation in one plan; in production the prior map is a published table and only the delta's root-graph contraction executes — every exchange here ships (int, int) pairs"
    },
    "bloom_decontamination": {
        "exchange-storm": "certification runs the bloom candidate path AND the exact ground-truth labeling in one plan; in production the ~1 KB bitset is built once and broadcast, misses die map-side, and every exchange here ships bit positions, 32-bit words, or (source, count) partials — never document text"
    },
    "minhash_jaccard_calibration": {
        "exchange-storm": "certification runs BOTH the sketch (the published scored-candidate table) and the sampled exact-Jaccard ground truth over the published shingles — bucket totals, two-level sample windows and the sample's shingle joins; every exchange ships int keys only"
    },
    "semantic_dedup_cells": {
        "exchange-storm": "the SemDeDup shape itself: a k-row seed top-k, the assignment partial-agg (map-side-combined (vec_id, cell) rows), and ONE co-location shuffle of vectors by cell feeding the within-cell pair scan — that single vector shuffle is the algorithm's irreducible cost and replaces the all-pairs N^2 product"
    },
    "substring_overlap_pairs": {
        "exchange-storm": "the winnow fingerprint frame is now READ from the published winnow_fingerprints derived table (zero recompute exchanges); the 11 that remain are the pair enumeration's own structure — dfp distinct, per-doc size agg, df-prune agg + join, the fp self-join, the pair aggregate, and the two denominator join-backs — every one shipping (doc_id, fp) or (doc, n_fps) int rows with map-side partial aggregation, never text"
    },
    "ivf_recall_at_3": {
        "exchange-storm": "recall certification runs BOTH the IVF plan and the brute-force ground truth and joins them — exchanges are the sum of the two audited plans, never shipped to production"
    },
    "upsert_plan_intersect": {
        "exchange-storm": "three set-op branches (intersect/except/except) each shuffle key-only projections; U4's operator under test IS intersect, and every exchange ships a single bigint column"
    },
    "tfidf_top_terms": {
        "single-partition-window": "flag is the 1-row corpus-count scalar agg; the top-k window is doc_id-partitioned",
        "exchange-storm": "document frequency as groupBy+join-back adds one exchange of compact (word, count) pairs — deliberately chosen over the skew-prone count().over(word window)",
    },
}


def node_headers(plan: str) -> list[str]:
    return re.findall(r"^\(\d+\) (\S+)", plan, flags=re.MULTILINE)


def superseded_ids(plan: str) -> set[int]:
    """Node ids that appear ONLY inside an AQE ``== Initial Plan ==``
    tree section.

    When a cached/adaptive subplan has already executed (e.g. a
    frame that some earlier query materialized),
    formatted explain prints it TWICE — ``== Final Plan ==`` then the
    superseded ``== Initial Plan ==``. Counting the Initial copy
    double-counts exchanges that AQE replaced at runtime, which made the
    exchange-storm gate depend on whether the shared frame happened to be
    materialized before this query was explained — clean standalone,
    flagged mid-sweep. Ids shared with live sections (the engine reuses
    node numbers across the two copies for common subtrees) stay counted.
    """
    kept: set[int] = set()
    skipped: set[int] = set()
    skip_col: int | None = None
    in_tree = True  # the plan tree precedes the per-node detail blocks
    for line in plan.splitlines():
        if re.match(r"^\(\d+\) ", line):  # first detail header ends the tree
            in_tree = False
            skip_col = None
        elif re.match(r"^Subquery:\d+ ", line):  # each subquery restarts one
            in_tree = True
        if not in_tree:
            continue
        col = len(line) - len(line.lstrip(" :+-"))
        ids = {int(x) for x in re.findall(r"\((\d+)\)$|\((\d+)\), Statistics", line) for x in x if x}
        if skip_col is not None and col >= skip_col:
            skipped |= ids
            continue
        skip_col = None
        if "== Initial Plan ==" in line:
            skip_col = col
        else:
            kept |= ids
    return skipped - kept


def count_exchanges(plan: str) -> int:
    """Count data-shuffling Exchange nodes once each.

    Excludes (a) superseded ``== Initial Plan ==`` copies and (b)
    SinglePartition exchanges assembling Spark's injected runtime
    bloom-filter subqueries (spark.sql.optimizer.runtimeFilter) — a ~1 MB
    buffer merge that lets probe rows die map-side, not a data shuffle.
    Only the bloom block's own SinglePartition assembly is discounted; a
    genuine data-shuffling Exchange inside such a subquery still counts.
    """
    dead = superseded_ids(plan)
    headers = re.findall(r"^\((\d+)\) (\S+)", plan, flags=re.MULTILINE)
    n = sum(1 for i, name in headers if name == "Exchange" and int(i) not in dead)
    for blk in re.split(r"^Subquery:\d+ ", plan, flags=re.MULTILINE)[1:]:
        if "bloom_filter_agg" not in blk:
            continue
        for chunk in blk.split("\n\n"):
            m = re.match(r"^\((\d+)\) Exchange", chunk)
            if m and "SinglePartition" in chunk and int(m.group(1)) not in dead:
                n -= 1
    return n


def plan_flags(spark, df) -> list[str]:
    """Raw red-flag detection for one DataFrame's physical plan (no
    allow-list applied). Exposed separately so the negative-control tests
    (tests/test_physical_plans.py) can PROVE each detector fires on a
    deliberately bad plan — a gate that has only ever been green protects
    nothing."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    nodes = node_headers(plan)
    flags: list[str] = []

    if "CartesianProduct" in nodes:
        flags.append("cartesian")
    n_exchange = count_exchanges(plan)
    if n_exchange > 6:
        flags.append(f"exchange-storm({n_exchange})")
    # Window over unpartitioned data: a windowspecdefinition whose FIRST
    # argument is already an ordering term (ASC/DESC) has no partition
    # columns, so every row funnels through one task. Checking the spec
    # itself (not "SinglePartition anywhere in the plan") avoids false
    # positives from Spark's injected runtime bloom-filter aggregations,
    # which legitimately use a SinglePartition exchange for a 1-row buffer.
    for spec in re.findall(r"windowspecdefinition\(([^)]*)", plan):
        first = spec.split(",")[0].strip()
        if first.endswith(("ASC NULLS FIRST", "ASC NULLS LAST", "DESC NULLS FIRST", "DESC NULLS LAST")):
            flags.append("single-partition-window")
            break
    # A query that filters (post-scan Filter node exists) but pushes
    # nothing at all. Known limitation: join planning auto-pushes
    # IsNotNull on every equi-join key, so for multi-table queries this
    # only fires when EVERY scan (dims included) pushes nothing — an
    # unpushed fact predicate behind pushed dimension scans is not
    # caught here (a stricter IsNotNull-discounting variant flagged 40
    # legitimate join plans whose only pushable predicates ARE the
    # inferred null checks, so per-query pushdown expectations live in
    # tests/test_physical_plans.py instead).
    has_filter = "Filter" in nodes
    pushes = re.findall(r"PushedFilters: \[([^\n]*)", plan)
    if has_filter and pushes and all(p.strip().startswith("]") for p in pushes):
        flags.append("no-pushdown")
    elif _stranded_pushable_predicate(plan):
        # Spark 4 OMITS the PushedFilters line when a scan pushes nothing
        # (and DSv2 BatchScan never prints one), so the all-empty check
        # above is unreachable on exactly the worst plans — found by the
        # planted-plan negative control in tests/test_physical_plans.py.
        # This variant flags a PUSHABLE atom (bare column vs literal)
        # stranded in a Filter directly above a parquet scan that pushed
        # nothing; computed predicates (regex, length, coalesce) are not
        # pushable and stay exempt, as do filters above joins/aggregates.
        flags.append("no-pushdown")
    return flags


# A bare attribute compared to a literal — the shape every parquet reader
# can push. Left side must be an unwrapped attr reference; right side must
# not be another attr (no '#').
_PUSHABLE_ATOM = re.compile(r"\([a-zA-Z_]\w*#\d+L? (?:=|>|>=|<|<=) [^#()]+\)")


def _stranded_pushable_predicate(plan: str) -> bool:
    """True when a Filter whose direct child chain (optionally through
    ColumnarToRow) is a parquet scan contains a pushable atom while the
    scan's detail block pushes nothing."""
    # The chain may pass through ColumnarToRow and at most one Project:
    # Catalyst pushes filters below DETERMINISTIC projections, so a
    # Project still sitting between a Filter and the scan is itself a
    # pushdown barrier (nondeterministic column, e.g. rand()/uuid()) —
    # exactly where pushable atoms get stranded in practice.
    for m in re.finditer(
        r"Filter \((\d+)\)\s*\n"
        r"(?:[^\n]*?(?:Project|ColumnarToRow) \(\d+\)\s*\n){0,2}"
        r"[^\n]*?Scan parquet\s*\((\d+)\)",
        plan,
    ):
        filter_id, scan_id = m.group(1), m.group(2)
        fdetail = re.search(
            rf"^\({filter_id}\) Filter.*?(?=\n\n)", plan, flags=re.MULTILINE | re.DOTALL
        )
        if not fdetail or not _PUSHABLE_ATOM.search(fdetail.group(0)):
            continue
        sdetail = re.search(
            rf"^\({scan_id}\) Scan parquet.*?(?=\n\n)", plan, flags=re.MULTILINE | re.DOTALL
        )
        if not sdetail:
            continue
        # A pushable atom on a PARTITION column is served via partition
        # pruning (PartitionFilters), with PushedFilters legitimately
        # empty — flagging that would red-flag exactly the best-pruned
        # reads (round-10 ADVICE).
        part = re.search(r"PartitionFilters: \[([^\n]*)", sdetail.group(0))
        if part is not None and not part.group(1).strip().startswith("]"):
            continue
        pushed = re.search(r"PushedFilters: \[([^\n]*)", sdetail.group(0))
        if pushed is None or pushed.group(1).strip().startswith("]"):
            return True
    return False


def audit_one(spark, name: str, sf_dir: str) -> list[str]:
    flags = plan_flags(spark, QUERIES[name].fn(spark, sf_dir))
    allowed = ALLOWED.get(name, {})
    return [f for f in flags if f.split("(")[0] not in allowed]


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    names = [a for a in args if "/" not in a] or list(QUERIES)
    spark = get_spark("plan-audit")
    bad = 0
    for name in names:
        flags = audit_one(spark, name, sf_dir)
        cleanup_scratch()  # replay queries execute their stream at fn() time
        if flags:
            bad += 1
            print(f"[FLAG] {name}: {', '.join(flags)}")
    print(f"\n{len(names) - bad}/{len(names)} query plans clean")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
