#!/usr/bin/env python
"""One runner for every gate, one provenance-stamped artifact —
RELEASE_GATE.json (r9 verdict ask #6; hardened per the r10 verdict).

The round's evidence previously spanned seven scripts run at different
times, leaving different git_heads across artifacts for the judge to
reconcile. This executes every gate at the CURRENT head, verifies the
head did not move mid-run, and writes a single summary: head, dirty
flag, oracle execution mode, free disk at start, per-gate exit/wall/
artifact provenance, and one all_green verdict.

Gates (each exits non-zero on failure; each also writes its own
artifact, whose embedded git_head is cross-checked here):

  self_check      full-registry oracle parity at sf0.01 (scripts/oracle.py)
  oracle_sf1      oracle parity on SF1_PANEL at the derived sf1 corpus
  audit_plans     physical-plan red-flag sweep (196 plans)
  shuffle_audit   per-query shuffle-bytes-per-input-byte accounting
  drift_guard     two-stage oracle-drift sweep (pinned-constant tripwire)
  bench_history   calibration-normalized creep gate vs the round-1 map
  wide_row_audit  30 KB-payload shuffle gates on all three write paths

Usage: python scripts/release_gate.py [--skip NAME[,NAME...]]
                                      [--only NAME[,NAME...]]
                                      [--retry-failed] [--force-overwrite]
                                      [--from-clean]
Heavy prerequisites: oracle_sf1 needs scripts/make_sf1.py run once;
bench_history needs a fresh bench.py BENCH_FULL.json for true-HEAD
numbers (it gates on whatever map is in the working tree).
``--from-clean`` runs both prerequisites itself (regenerates sf1, then
bench.py) before the gates — the one-command replay for a fresh checkout.

``--retry-failed`` re-runs ONLY the gates the existing RELEASE_GATE.json
recorded as failed (transient co-tenancy crashes, e.g. an oracle OOM) and
MERGES into it. Two refusals harden the merge (round-10 lessons — the
shipped HEAD carried a red disk-full retry over a 7/7-green certification
for five commits):

- Head drift: if the prior artifact's git_head is not the current head,
  the carried green rows certify DIFFERENT code — the merge is refused
  outright (run the full gate at the new head instead).
- Infra-red overwrite: when a run would replace an all-green
  RELEASE_GATE.json with a red one whose every failure is infra-class
  (disk-full / allocation / IO), the red run is written to
  RELEASE_GATE_ATTEMPT.json for inspection and the green artifact is
  kept. A CORRECTNESS failure always overwrites — regressions must be
  visible. ``--force-overwrite`` bypasses the refusal.

Partial runs (--only/--skip) never merge — they write a partial artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO = Path(__file__).resolve().parent.parent

GATES: dict[str, dict] = {
    "self_check": {
        "cmd": [sys.executable, "scripts/oracle.py", "--artifact", "CORRECTNESS_SELF.json"],
        "artifact": "CORRECTNESS_SELF.json",
    },
    "oracle_sf1": {
        "cmd": [sys.executable, "scripts/oracle.py", "--sf", ".scaling/sf1",
                "--artifact", "CORRECTNESS_SF1.json"],
        "artifact": "CORRECTNESS_SF1.json",
    },
    "audit_plans": {
        "cmd": [sys.executable, "scripts/audit_plans.py"],
        "artifact": None,
    },
    "shuffle_audit": {
        "cmd": [sys.executable, "scripts/shuffle_audit.py"],
        "artifact": "SHUFFLE_BYTES.json",
    },
    "drift_guard": {
        "cmd": [sys.executable, "scripts/drift_guard.py"],
        "artifact": "DRIFT_GUARD.json",
    },
    "bench_history": {
        "cmd": [sys.executable, "scripts/bench_history.py"],
        "artifact": None,
    },
    "wide_row_audit": {
        "cmd": [sys.executable, "scripts/wide_row_audit.py"],
        "artifact": "WIDE_ROW_BYTES.json",
    },
}

# Failure text that marks a gate red for INFRASTRUCTURE reasons (the box,
# not the engine): these may not silently replace an all-green artifact.
_INFRA_MARKERS = (
    "No space left on device",
    "bad allocation",
    "std::bad_alloc",
    "Cannot allocate memory",
    "MemoryError",
    "OutOfMemoryError",
    "OutOfMemoryException",
    "Connection refused",
    "Connection reset",
    "Too many open files",
    "Stale file handle",
    "Input/output error",
)


def git_head() -> str:
    """HEAD of this checkout, whatever the caller's working directory —
    the one provenance stamp every script's artifact carries."""
    return subprocess.run(
        ["git", "-C", str(REPO), "rev-parse", "HEAD"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()


def git_dirty() -> bool:
    return bool(
        subprocess.run(
            ["git", "-C", str(REPO), "status", "--porcelain"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    )


def _free_disk_gb() -> float:
    return round(shutil.disk_usage(REPO).free / 1e9, 1)


def infra_class(row: dict) -> bool:
    """True when a failed gate row's recorded output names an
    infrastructure failure (disk/alloc/IO), not a correctness mismatch."""
    blob = " ".join(
        str(row.get(k, "")) for k in ("stdout_tail", "stderr_tail", "error")
    )
    return any(m in blob for m in _INFRA_MARKERS)


def refuse_overwrite(prior: dict | None, new_out: dict) -> str | None:
    """Reason to keep the existing artifact instead of writing ``new_out``
    (None -> write normally). Only an all-green artifact is protected, and
    only from all-infra-class red runs: correctness reds always land."""
    if prior is None or not prior.get("all_green") or new_out["all_green"]:
        return None
    failed = {n: r for n, r in new_out["gates"].items() if not r.get("ok")}
    if failed and all(infra_class(r) for r in failed.values()):
        return (
            f"every failed gate ({', '.join(sorted(failed))}) is infra-class "
            "(disk/alloc/IO) and RELEASE_GATE.json is all-green — keeping the "
            "green artifact; red attempt saved to RELEASE_GATE_ATTEMPT.json "
            "(re-run after clearing the infra issue, or --force-overwrite)"
        )
    return None


def retry_targets(prior: dict, current_head: str) -> set[str]:
    """Failed gate names from the prior artifact, after validating the
    merge is sound: carried green rows certify the code at the prior
    run's head, so a retry at a DIFFERENT head may not merge with them
    (round-10 ADVICE: the committed artifact mixed run_heads, letting
    all_green certify gates that never ran at the artifact's head)."""
    prior_head = prior.get("git_head")
    if prior_head != current_head:
        raise SystemExit(
            f"--retry-failed refused: RELEASE_GATE.json was run at "
            f"{str(prior_head)[:10]} but HEAD is {current_head[:10]} — carried "
            "green rows would certify different code. Run the full gate at "
            "this head instead."
        )
    return {n for n, r in prior["gates"].items() if not r.get("ok")}


def run_gate(name: str, head0: str) -> dict:
    spec = GATES[name]
    print(f"=== {name}: {' '.join(spec['cmd'])}")
    t0 = time.time()
    proc = subprocess.run(spec["cmd"], cwd=REPO, capture_output=True, text=True)
    row: dict = {
        "cmd": " ".join(spec["cmd"]),
        "exit": proc.returncode,
        "ok": proc.returncode == 0,
        "wall_sec": round(time.time() - t0, 1),
        "stdout_tail": proc.stdout[-1500:],
    }
    if proc.returncode != 0:
        row["stderr_tail"] = proc.stderr[-1500:]
    if spec["artifact"]:
        try:
            art = json.loads((REPO / spec["artifact"]).read_text())
            row["artifact"] = spec["artifact"]
            art_head = art.get("git_head")
            row["artifact_head"] = art_head
            # Some artifacts stamp the SHORT head — compare by prefix.
            if art_head and not head0.startswith(art_head):
                row["ok"] = False
                row["error"] = (
                    f"artifact head {art_head[:10]} != run head {head0[:10]}"
                )
        except (OSError, ValueError) as exc:
            row["ok"] = False
            row["error"] = f"artifact unreadable: {exc}"
    print(f"    -> exit {proc.returncode} in {row['wall_sec']}s "
          f"{'OK' if row['ok'] else 'FAIL'}")
    return row


def run_prereq(label: str, cmd: list[str]) -> None:
    print(f"=== from-clean prerequisite {label}: {' '.join(cmd)}")
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=REPO)
    if proc.returncode != 0:
        raise SystemExit(f"from-clean prerequisite {label} failed "
                         f"(exit {proc.returncode})")
    print(f"    -> done in {time.time() - t0:.0f}s")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip", default="", help="comma-separated gate names to skip")
    ap.add_argument("--only", default="", help="comma-separated gate names to run")
    ap.add_argument("--retry-failed", action="store_true",
                    help="re-run only the failed gates from the existing artifact and merge")
    ap.add_argument("--force-overwrite", action="store_true",
                    help="allow an all-infra-red run to replace an all-green artifact")
    ap.add_argument("--from-clean", action="store_true",
                    help="regenerate sf1 (make_sf1.py) and refresh BENCH_FULL.json "
                         "(bench.py) before running every gate — the one-command "
                         "replay for a fresh checkout")
    args = ap.parse_args()
    skip = {s for s in args.skip.split(",") if s}
    only = {s for s in args.only.split(",") if s}
    unknown = (skip | only) - set(GATES)
    if unknown:
        raise SystemExit(f"unknown gate(s): {sorted(unknown)}; known: {list(GATES)}")

    head0, dirty0 = git_head(), git_dirty()
    prior_path = REPO / "RELEASE_GATE.json"
    prior = json.loads(prior_path.read_text()) if prior_path.exists() else None

    retry_prior = None
    if args.retry_failed:
        if only or skip or args.from_clean:
            raise SystemExit("--retry-failed is exclusive with --only/--skip/--from-clean")
        if prior is None:
            raise SystemExit("--retry-failed: no RELEASE_GATE.json to retry from")
        retry_prior = prior
        only = retry_targets(prior, head0)
        if not only:
            print("nothing to retry: every recorded gate is green")
            return 0
        print(f"retrying failed gate(s): {sorted(only)}")

    if args.from_clean:
        run_prereq("sf1 corpus", [sys.executable, "scripts/make_sf1.py"])
        run_prereq("bench map", [sys.executable, "bench.py"])

    names = [n for n in GATES if (not only or n in only) and n not in skip]
    if not names:
        raise SystemExit("no gates selected — a vacuous all_green artifact "
                         "certifies nothing")
    free_gb0 = _free_disk_gb()
    oracle_mem = os.environ.get("ORACLE_DUCKDB_MEM")

    results: dict[str, dict] = {}
    t_start = time.time()
    for name in names:
        results[name] = run_gate(name, head0)

    head1 = git_head()
    for r in results.values():
        r["run_head"] = head0
    if retry_prior is not None:
        # Merge: sound because retry_targets proved the heads match.
        merged = dict(retry_prior["gates"])
        for n, r in merged.items():
            r.setdefault("run_head", retry_prior.get("git_head"))
        merged.update(results)
        results = merged
        names = sorted(results)
    all_green = all(r["ok"] for r in results.values()) and head0 == head1
    out = {
        "git_head": head0,
        "git_dirty": dirty0,
        "head_moved_during_run": head0 != head1,
        "gates_run": names,
        "gates_skipped": sorted(set(GATES) - set(names)),
        "all_green": all_green,
        "retried_failed_from": retry_prior.get("git_head") if retry_prior is not None else None,
        "from_clean": args.from_clean,
        "oracle_env": {
            "ORACLE_DUCKDB_MEM": oracle_mem,
            "mode": f"capped at {oracle_mem} with .tmp spill" if oracle_mem
            else "in-RAM default",
        },
        "free_disk_gb_at_start": free_gb0,
        "wall_sec": round(time.time() - t_start, 1),
        "gates": results,
        "check": "every gate executed at one head (--retry-failed refuses a "
        "head-drifted merge); per-gate exit codes plus each JSON artifact's "
        "embedded git_head cross-checked against its run head; an all-infra-"
        "class red run may not replace an all-green artifact",
    }
    refusal = None if args.force_overwrite else refuse_overwrite(prior, out)
    n_ok = sum(r["ok"] for r in results.values())
    if refusal is not None:
        (REPO / "RELEASE_GATE_ATTEMPT.json").write_text(json.dumps(out, indent=1) + "\n")
        print(f"\n{n_ok}/{len(results)} gates green at {head0[:10]} — "
              f"REFUSING to overwrite: {refusal}")
        return 1
    (REPO / "RELEASE_GATE.json").write_text(json.dumps(out, indent=1) + "\n")
    if args.from_clean:
        print("\n--- provenance block ---")
        print(json.dumps({k: out[k] for k in (
            "git_head", "git_dirty", "all_green", "oracle_env",
            "free_disk_gb_at_start", "wall_sec", "gates_run")}, indent=1))
    print(f"\n{n_ok}/{len(results)} gates green at {head0[:10]}"
          f"{' DIRTY' if dirty0 else ''} -> RELEASE_GATE.json "
          f"(all_green={all_green})")
    return 0 if all_green else 1


if __name__ == "__main__":
    raise SystemExit(main())
