"""The query registry is plain registration order, and importing it
reads no committed round artifact."""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

from harvester_database_and_automation_spark.plans import QUERIES

REPO = Path(__file__).resolve().parent.parent
PLANS = REPO / "harvester_database_and_automation_spark" / "plans"


def test_queries_keep_registration_order():
    relational = re.findall(r'@register\(\s*"(\w+)"', (PLANS / "relational.py").read_text())
    assert relational[0] == "pricing_summary"
    assert list(QUERIES)[: len(relational)] == relational


def test_import_opens_no_round_artifacts():
    probe = (
        "import sys\n"
        "opened = []\n"
        "sys.addaudithook(lambda ev, args: opened.append(str(args[0])) if ev == 'open' else None)\n"
        "import harvester_database_and_automation_spark.plans\n"
        "print('\\n'.join(opened))\n"
    )
    out = subprocess.run([sys.executable, "-c", probe], cwd=REPO, capture_output=True,
                         text=True, check=True).stdout
    hits = [p for p in out.splitlines()
            if re.search(r"CORRECTNESS_r|BENCH_r01|rotation_inventory_r", p)]
    assert hits == []


def test_plans_hold_no_session_cache():
    """Hubs shared between queries are derived tables read with
    `read_derived`; a plan module that persists or caches a frame pins
    it for the life of the session under a key that is not its inputs."""
    pattern = re.compile(r"shared_df|\.persist\(|\.cache\(\)")
    offenders = [
        f"{p.name}:{n}"
        for p in sorted(PLANS.glob("*.py"))
        for n, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if pattern.search(line)
    ]
    assert offenders == []
