"""scripts/oracle.py argument and artifact rules, without a Spark
session: unknown names exit 2 before any session starts, a --queries
subset merges into the existing artifact, and a full run overwrites it."""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

import pytest

spec = importlib.util.spec_from_file_location(
    "oracle_cli", Path(__file__).resolve().parent.parent / "scripts" / "oracle.py"
)
oracle = importlib.util.module_from_spec(spec)
sys.modules["oracle_cli"] = oracle
spec.loader.exec_module(oracle)

OLD_HEAD = "a" * 40
NEW_HEAD = "b" * 40


@pytest.fixture
def fake_run(monkeypatch, tmp_path):
    """Point the CLI at tmp_path and replace Spark and the oracle compare
    with a stub that passes every query."""
    from harvester_database_and_automation_spark import oracle_cache
    from harvester_database_and_automation_spark.plans import shared
    from harvester_database_and_automation_spark.testing import CompareResult

    def check(spark, con_factory, name, sf_dir, cache):
        return CompareResult(name=name, ok=True, spark_rows=3, oracle_rows=3), True

    monkeypatch.delenv("ORACLE_CACHE", raising=False)
    monkeypatch.setattr(oracle, "REPO", tmp_path)
    monkeypatch.setattr(oracle, "git_head", lambda: NEW_HEAD)
    monkeypatch.setattr(oracle, "git_dirty", lambda: False)
    monkeypatch.setattr(oracle, "_session", lambda vanilla: None)
    monkeypatch.setattr(oracle_cache, "check_query_cached", check)
    monkeypatch.setattr(shared, "cleanup_scratch", lambda: None)
    return tmp_path


def _prior_artifact(path: Path) -> None:
    path.write_text(json.dumps({
        "git_head": OLD_HEAD,
        "queries": {
            "pricing_summary": {"ok": False, "measured_at": "c" * 40},
            "k6_geo_rules": {"ok": True, "measured_at": "d" * 40},
            "retired_query": {"ok": True},
        },
    }))


def test_unknown_query_exits_2(capsys):
    assert oracle.main(["--queries", "pricing_summary,no_such_query"]) == 2
    assert "no_such_query" in capsys.readouterr().err


def test_sf1_panel_is_registered():
    assert len(oracle.SF1_PANEL) == 25
    assert set(oracle.SF1_PANEL) <= set(oracle.QUERIES)


def test_subset_run_merges_into_artifact(fake_run):
    _prior_artifact(fake_run / "ART.json")
    rc = oracle.main(["--sf", str(fake_run), "--queries", "pricing_summary",
                      "--artifact", "ART.json"])
    art = json.loads((fake_run / "ART.json").read_text())
    assert rc == 0
    assert art["git_head"] == NEW_HEAD
    rows = art["queries"]
    assert set(rows) == {"pricing_summary", "k6_geo_rules", "retired_query"}
    # The re-run row is replaced and stamped with the new head ...
    assert rows["pricing_summary"]["ok"] is True
    assert rows["pricing_summary"]["measured_at"] == NEW_HEAD
    # ... carried rows keep the head they were measured at.
    assert rows["k6_geo_rules"]["measured_at"] == "d" * 40
    assert rows["retired_query"]["measured_at"] == OLD_HEAD
    assert (art["n_queries"], art["n_pass"], art["n_fail"]) == (3, 3, 0)


def test_full_run_overwrites_artifact(fake_run):
    _prior_artifact(fake_run / "ART.json")
    assert oracle.main(["--sf", str(fake_run), "--artifact", "ART.json"]) == 0
    art = json.loads((fake_run / "ART.json").read_text())
    assert list(art["queries"]) == list(oracle.QUERIES)
    assert {r["measured_at"] for r in art["queries"].values()} == {NEW_HEAD}
    row = art["queries"]["pricing_summary"]
    assert set(row) == {"ok", "rows_match", "schema_match", "hash_match", "spark_rows",
                        "oracle_rows", "problems", "oracle_cache_hit", "seconds",
                        "measured_at"}


def test_sf1_corpus_defaults_to_sf1_panel(fake_run, monkeypatch):
    sf1 = fake_run / "sf1"
    sf1.mkdir()
    monkeypatch.setattr(oracle, "SF1", sf1)
    assert oracle.main(["--sf", str(sf1), "--artifact", "ART.json"]) == 0
    art = json.loads((fake_run / "ART.json").read_text())
    assert list(art["queries"]) == oracle.SF1_PANEL
