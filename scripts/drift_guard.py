#!/usr/bin/env python
"""Oracle-drift guard sweep — DRIFT_GUARD.json.

Nine rounds of green parity checks share one blind spot: an oracle (or a
Spark plan) that stopped READING its input and pins a constant passes
every same-corpus comparison forever. This sweep perturbs the corpus,
runs each registered query and its DuckDB oracle on the clean AND
perturbed corpus, and asserts per query that the two engines' results
moved IN LOCKSTEP — both changed, or both didn't — plus full value-parity
on the perturbed corpus.

Two stages (r9 verdict ask #2 — no silent-unmoved tail):

1. Single-row probe: one row's non-key columns change in every table.
   Queries insensitive to one row (top-k it never reaches, medians,
   large-group aggregates) legitimately sit still here.
2. All-rows probe, for stage-1 unmoved queries only: EVERY row's non-key
   columns change. Anything that reads a value column moves now. A query
   still unmoved must carry a written NO_MOVE_REASONS entry (key-only /
   count-only plans — provable from the plan's read set); an unexplained
   unmoved query is a violation.

A lockstep/parity violation at either stage means one engine responded
to the input change and the other didn't: exactly the pinned-constant
failure mode (the stage-1 guard's first full sweep caught three real
ANSI /0 bugs in round 9).

Usage: python scripts/drift_guard.py [clean_sf_dir] [query ...]
Writes DRIFT_GUARD.json (git head, per-query moved stages, violations)
and exits non-zero on any violation.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from harvester_database_and_automation_spark.plans import QUERIES  # noqa: E402
from harvester_database_and_automation_spark.plans.shared import cleanup_scratch  # noqa: E402
from harvester_database_and_automation_spark.session import get_spark  # noqa: E402
from harvester_database_and_automation_spark.testing import (  # noqa: E402
    drift_check,
    duckdb_connection,
    perturb_corpus,
)
from scripts.release_gate import git_dirty, git_head  # noqa: E402

# Queries allowed to sit still under BOTH probes, each with the provable
# reason (the probes never touch key/_id columns — integrity constraints
# pipelines rely on; string jitter is an INJECTIVE relabeling, so
# equality structure over perturbed columns is preserved). Reviewed
# against the plan source in round 10; a query that sits still without a
# reason here fails the sweep.
#
# Two entry kinds (round-10 ADVICE): a plain string is a PLAN-PROVABLE
# read-set invariant (key-only/count-only plans — true at any corpus); a
# dict {"reason", "valid_at_sf_dir"} is an EMPIRICAL, corpus-scale-
# dependent claim ("the jitter flips no edge at this sf") honored ONLY
# when the sweep's clean_dir is the corpus it was validated at — against
# any other corpus the entry is ignored and the unmoved query fails
# loudly instead of being silently masked.
NO_MOVE_REASONS: dict[str, str | dict] = {
    "customer_order_counts": (
        "reads only c_custkey/o_custkey/o_orderkey (plans/relational.py:230):"
        " counts per key are invariant under any non-key perturbation."
    ),
    "fk_orphan_audit": (
        "key-only referential anti-join (orders keys vs customer keys);"
        " no value column enters the plan."
    ),
    "kmv_ndv_estimate": (
        "sketches DISTINCT l_partkey only (plans/relational.py:1004);"
        " the estimator and its exact denominator read no value column."
    ),
    "union_distinct_nations": (
        "distinct c_nationkey UNION s_nationkey — key columns only."
    ),
    "upsert_plan_intersect": {
        "reason": (
            "action counts depend on each customer's ERA membership (distinct"
            " key sets split at 1996-01-01); the <=5-day timestamp jitter"
            " moved no customer's entire era membership at this sf — every"
            " boundary-adjacent customer has other orders inside its era."
        ),
        "valid_at_sf_dir": "/root/testdata/sf0.001",
    },
    "zorder_cell_stats": (
        "Morton interleave of l_partkey%16 x l_suppkey%16 — key columns"
        " only (plans/relational.py:2842)."
    ),
    "part_copurchase_pagerank": (
        "graph edges are (l_orderkey, l_partkey) co-occurrences — key"
        " columns only; ranks depend on nothing else."
    ),
    "part_copurchase_triangles": (
        "same key-only co-purchase edge set as the pagerank query."
    ),
    "contrastive_negative_sample": (
        "anchors/negatives are hash draws of vec_id; `label` is read only"
        " through <> comparisons, and the jitter is an injective"
        " relabeling which preserves all equality structure; output is"
        " ids+ranks only (plans/embeddings.py:1597)."
    ),
    "kanonymity_audit": {
        "reason": (
            "outputs the class-SIZE histogram only: injective relabeling of"
            " c_mktsegment preserves class structure, and at this sf the"
            " classes are singleton-dominated, so the <=4% balance jitter's"
            " band migrations map singletons to singletons — the histogram is"
            " unchanged (ldiversity_audit, which also reads distinct sensitive"
            " values per class, DOES move under the same probe)."
        ),
        "valid_at_sf_dir": "/root/testdata/sf0.001",
    },
    "incremental_dup_components": {
        "reason": (
            "depends on text only through the >=0.5-Jaccard shingle edge set;"
            " near-dup pairs sit far above the threshold and non-dups far"
            " below, so bounded prefix/suffix jitter flips no edge at this sf;"
            " output is ids only (plans/text.py:706)."
        ),
        "valid_at_sf_dir": "/root/testdata/sf0.001",
    },
}


def resolve_no_move_reason(name: str, clean_dir: str) -> tuple[str | None, str | None]:
    """(reason, rejection_note). Plain-string entries apply at any corpus;
    scale-tagged entries apply only at their validated corpus — elsewhere
    the entry is rejected (reason None) with a note naming why, so the
    sweep fails loudly instead of masking a genuinely pinned query."""
    import os

    entry = NO_MOVE_REASONS.get(name)
    if entry is None:
        return None, None
    if isinstance(entry, dict):
        valid_at = entry["valid_at_sf_dir"]
        if os.path.realpath(clean_dir) != os.path.realpath(valid_at):
            return None, (
                f"scale-dependent no-move reason was validated at {valid_at} "
                f"and does not transfer to {clean_dir}"
            )
        return entry["reason"], None
    return entry, None


def _check_stage(spark, name, clean_dir, pert_dir, clean_con, pert_con):
    r = drift_check(spark, name, clean_dir, pert_dir, clean_con, pert_con)
    cleanup_scratch()
    return r


def main() -> int:
    clean_dir = sys.argv[1] if sys.argv[1:] else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(QUERIES)
    spark = get_spark("drift-guard")
    head, dirty = git_head(), git_dirty()

    t0 = time.time()
    with tempfile.TemporaryDirectory(prefix="drift_pert_") as pert1_dir, \
         tempfile.TemporaryDirectory(prefix="drift_pert_all_") as pert2_dir:
        changed = perturb_corpus(clean_dir, pert1_dir)
        perturb_corpus(clean_dir, pert2_dir, all_rows=True)
        clean_con = duckdb_connection(clean_dir)
        pert1_con = duckdb_connection(pert1_dir)
        pert2_con = duckdb_connection(pert2_dir)
        rows: dict[str, dict] = {}
        violations: list[str] = []
        for i, name in enumerate(names):
            try:
                r1 = _check_stage(spark, name, clean_dir, pert1_dir, clean_con, pert1_con)
                row = {
                    "spark_moved": r1.spark_moved,
                    "oracle_moved": r1.oracle_moved,
                    "perturbed_parity": r1.perturbed_parity,
                    "ok": r1.ok,
                }
                if r1.ok and not r1.spark_moved:
                    # Stage 2: the all-rows probe for single-row-insensitive
                    # queries.
                    r2 = _check_stage(spark, name, clean_dir, pert2_dir, clean_con, pert2_con)
                    row.update(
                        spark_moved_all_rows=r2.spark_moved,
                        oracle_moved_all_rows=r2.oracle_moved,
                        perturbed_parity_all_rows=r2.perturbed_parity,
                        ok=r2.ok,
                    )
                    if r2.ok and not r2.spark_moved:
                        reason, rejection = resolve_no_move_reason(name, clean_dir)
                        if reason is None:
                            row["ok"] = False
                            row["error"] = rejection or (
                                "unmoved under single-row AND all-rows "
                                "perturbation with no recorded reason")
                        else:
                            row["no_move_reason"] = reason
                    row["moved_stage"] = 2 if r2.spark_moved else None
                else:
                    row["moved_stage"] = 1 if r1.spark_moved else None
                rows[name] = row
                if not row["ok"]:
                    violations.append(name)
                    print(f"[VIOLATION] {name}: {row}")
            except Exception as exc:  # pragma: no cover - diagnostic path
                rows[name] = {"ok": False, "error": f"{type(exc).__name__}: {exc}"}
                violations.append(name)
                print(f"[ERROR] {name}: {exc}")
            if (i + 1) % 25 == 0:
                print(f"... {i + 1}/{len(names)} ({time.time() - t0:.0f}s)")

    n_moved1 = sum(1 for r in rows.values() if r.get("moved_stage") == 1)
    n_moved2 = sum(1 for r in rows.values() if r.get("moved_stage") == 2)
    n_reasoned = sum(1 for r in rows.values() if "no_move_reason" in r)
    out = {
        "git_head": head,
        "git_dirty": dirty,
        "clean_dir": clean_dir,
        "n_queries": len(rows),
        "n_moved_stage1_single_row": n_moved1,
        "n_moved_stage2_all_rows": n_moved2,
        "n_unmoved_with_reason": n_reasoned,
        "n_violations": len(violations),
        "violations": violations,
        "perturbed_columns": changed,
        "wall_sec": round(time.time() - t0, 1),
        "check": "per-query: spark_moved == oracle_moved AND perturbed-corpus value "
        "parity, at the single-row probe and (for queries it leaves unmoved) the "
        "all-rows probe; still-unmoved queries need a written NO_MOVE_REASONS entry "
        "(zero silent-unmoved tail)",
        "queries": rows,
    }
    if len(names) == len(QUERIES):
        (Path(__file__).resolve().parent.parent / "DRIFT_GUARD.json").write_text(
            json.dumps(out, indent=1) + "\n"
        )
    print(f"{len(rows) - len(violations)}/{len(rows)} queries drift-consistent; "
          f"moved: {n_moved1} single-row + {n_moved2} all-rows; "
          f"{n_reasoned} unmoved-with-reason; wall {out['wall_sec']}s")
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
