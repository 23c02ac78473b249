#!/usr/bin/env python
"""Emit the two registry artifacts from one walk of QUERIES:

- QUERIES.md: one line per registered query (name, SURVEY tags, first
  docstring sentence), the human-readable index;
- COVERAGE.json: every query's SURVEY §2 tags inverted into a
  tag -> queries map, so the operator-inventory cross-reference is
  machine-generated rather than hand-kept.

Usage: python scripts/registry_report.py
"""

from __future__ import annotations

import json
import re
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from harvester_database_and_automation_spark.plans import QUERIES  # noqa: E402


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(line.strip() for line in doc.strip().splitlines())
    m = re.split(r"(?<=[.!?])\s", text, maxsplit=1)
    return m[0][:220]


def main() -> int:
    lines = [
        "# Query index",
        "",
        "Every registered query: its SURVEY §2 / extension tags and what it",
        "does (first docstring sentence). Generated by `scripts/registry_report.py`;",
        "the tag→queries inverse lives in `COVERAGE.json`.",
        "",
        "| Query | Tags | What |",
        "|---|---|---|",
    ]
    by_tag: dict[str, list[str]] = defaultdict(list)
    for name, spec in sorted(QUERIES.items()):
        summary = first_sentence(spec.fn.__doc__).replace("|", "\\|")
        lines.append(f"| `{name}` | {spec.survey_ref} | {summary} |")
        for tag in spec.survey_ref.split(","):
            if tag.strip():
                by_tag[tag.strip()].append(name)
    (ROOT / "QUERIES.md").write_text("\n".join(lines) + "\n")

    coverage = {
        "n_queries": len(QUERIES),
        "n_with_oracle": sum(1 for s in QUERIES.values() if s.oracle is not None),
        "tags": {t: sorted(qs) for t, qs in sorted(by_tag.items())},
    }
    (ROOT / "COVERAGE.json").write_text(json.dumps(coverage, indent=1) + "\n")
    print(f"{coverage['n_queries']} queries ({coverage['n_with_oracle']} oracle-gated), "
          f"{len(by_tag)} coverage tags -> QUERIES.md, COVERAGE.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
