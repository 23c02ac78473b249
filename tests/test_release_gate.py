"""release_gate.py merge/overwrite policy (round-10 verdict ask #1 +
ADVICE): a head-drifted --retry-failed merge is refused, and an
all-infra-class red run may not replace an all-green artifact."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

spec = importlib.util.spec_from_file_location(
    "release_gate", Path(__file__).resolve().parent.parent / "scripts" / "release_gate.py"
)
release_gate = importlib.util.module_from_spec(spec)
sys.modules["release_gate"] = release_gate
spec.loader.exec_module(release_gate)

HEAD_A = "a" * 40
HEAD_B = "b" * 40


def _gate_row(ok: bool, **extra) -> dict:
    return {"cmd": "x", "exit": 0 if ok else 1, "ok": ok, "wall_sec": 1.0,
            "stdout_tail": "", **extra}


class TestRetryTargets:
    def test_same_head_returns_failed_gates(self):
        prior = {"git_head": HEAD_A,
                 "gates": {"a": _gate_row(True), "b": _gate_row(False)}}
        assert release_gate.retry_targets(prior, HEAD_A) == {"b"}

    def test_head_drift_refused(self):
        """Carried green rows certify the PRIOR head's code — merging them
        under a new head would let all_green certify gates that never ran
        there (the exact defect the committed r10 artifact had)."""
        prior = {"git_head": HEAD_A, "gates": {"b": _gate_row(False)}}
        with pytest.raises(SystemExit, match="refused.*different code"):
            release_gate.retry_targets(prior, HEAD_B)


class TestInfraClass:
    @pytest.mark.parametrize("text", [
        'IOException: IO Error: Could not write file ".tmp/x": No space left on device',
        "duckdb.duckdb.OutOfMemoryException: bad allocation",
        "MemoryError",
        "OSError: [Errno 28] No space left on device",
    ])
    def test_infra_failures_detected(self, text):
        assert release_gate.infra_class(_gate_row(False, stderr_tail=text))
        assert release_gate.infra_class(_gate_row(False, stdout_tail=text))
        assert release_gate.infra_class(_gate_row(False, error=text))

    def test_correctness_failure_is_not_infra(self):
        row = _gate_row(False, stdout_tail="[FAIL] q1: 3/10 rows differ; "
                        "first: spark=(1,) oracle=(2,)")
        assert not release_gate.infra_class(row)


class TestRefuseOverwrite:
    def _out(self, gates: dict) -> dict:
        return {"all_green": all(r["ok"] for r in gates.values()), "gates": gates}

    def test_green_over_green_writes(self):
        prior = self._out({"a": _gate_row(True)})
        assert release_gate.refuse_overwrite(prior, self._out({"a": _gate_row(True)})) is None

    def test_green_over_red_writes(self):
        prior = self._out({"a": _gate_row(False, stderr_tail="No space left on device")})
        assert release_gate.refuse_overwrite(prior, self._out({"a": _gate_row(True)})) is None

    def test_infra_red_over_green_refused(self):
        """The r10 failure mode: a disk-full retry overwrote the 7/7-green
        certification. Must be refused now."""
        prior = self._out({"a": _gate_row(True)})
        new = self._out({"a": _gate_row(
            False, stderr_tail="IOException: No space left on device")})
        reason = release_gate.refuse_overwrite(prior, new)
        assert reason is not None and "infra-class" in reason

    def test_correctness_red_over_green_writes(self):
        """A real regression must always land — only infra reds are held."""
        prior = self._out({"a": _gate_row(True)})
        new = self._out({"a": _gate_row(False, stdout_tail="[FAIL] rows differ")})
        assert release_gate.refuse_overwrite(prior, new) is None

    def test_mixed_red_over_green_writes(self):
        """One correctness failure among infra failures: the correctness
        signal wins, the artifact lands red."""
        prior = self._out({"a": _gate_row(True), "b": _gate_row(True)})
        new = self._out({
            "a": _gate_row(False, stderr_tail="No space left on device"),
            "b": _gate_row(False, stdout_tail="[FAIL] rows differ"),
        })
        assert release_gate.refuse_overwrite(prior, new) is None

    def test_no_prior_writes(self):
        new = self._out({"a": _gate_row(False, stderr_tail="No space left on device")})
        assert release_gate.refuse_overwrite(None, new) is None


def test_every_gate_script_exists():
    """A gate pointing at a folded or deleted script would fail only when
    the full gate runs; catch it here."""
    for name, spec in release_gate.GATES.items():
        assert (release_gate.REPO / spec["cmd"][1]).is_file(), name


def test_one_head_stamp_for_every_script():
    """Artifacts stamp the checkout's HEAD through release_gate.git_head,
    which anchors git at the repo: a private `git rev-parse` copy would
    read the caller's working directory instead. A HEAD stamp alone does
    not say which code ran when the tree was dirty, so every artifact
    that carries ``git_head`` also carries ``git_dirty``."""
    texts = {p.name: p.read_text() for p in sorted((release_gate.REPO / "scripts").glob("*.py"))}
    assert [n for n, t in texts.items() if "rev-parse" in t] == ["release_gate.py"]
    stamped = [n for n, t in texts.items() if '"git_head":' in t]
    assert "wide_row_audit.py" in stamped
    assert [n for n in stamped if '"git_dirty":' not in texts[n]] == []
