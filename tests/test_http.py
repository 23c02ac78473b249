"""Tests for the S6 HTTP fetch layer (fake transport, no sockets)."""

from __future__ import annotations

import pytest

from harvester_database_and_automation_spark.sources import fetch_to_file


def make_transport(responses):
    """Transport serving canned bytes; raises entries that are exceptions."""
    calls = []

    def transport(url, headers):
        calls.append(url)
        resp = responses[url]
        item = resp.pop(0) if isinstance(resp, list) else resp
        if isinstance(item, Exception):
            raise item
        return item

    transport.calls = calls
    return transport


def test_fetch_to_file_writes_atomically(tmp_path):
    t = make_transport({"http://x/owid.csv": b"date,cases\n2020-01-01,5\n"})
    res = fetch_to_file("http://x/owid.csv", str(tmp_path / "owid.csv"), transport=t)
    assert (tmp_path / "owid.csv").read_bytes() == b"date,cases\n2020-01-01,5\n"
    assert res.n_bytes == 24 and res.attempts == 1
    assert not list(tmp_path.glob(".fetch-*"))  # no temp litter


def test_fetch_retries_with_backoff_then_succeeds(tmp_path):
    t = make_transport({"http://x/f": [OSError("boom"), OSError("boom"), b"ok"]})
    naps = []
    res = fetch_to_file(
        "http://x/f", str(tmp_path / "f"), transport=t, retries=3, sleep=naps.append
    )
    assert res.attempts == 3
    assert naps == [1.0, 2.0]  # exponential backoff between attempts


def test_fetch_exhausted_retries_raises(tmp_path):
    t = make_transport({"http://x/f": [OSError("a"), OSError("b")]})
    with pytest.raises(RuntimeError, match="failed after 2 attempts"):
        fetch_to_file("http://x/f", str(tmp_path / "f"), transport=t, retries=2, sleep=lambda s: None)
    assert not (tmp_path / "f").exists()  # failed fetch leaves no partial file
