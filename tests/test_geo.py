"""Unit tests for the K6 geo-location rule rewriter
(functions/geo.py; reference gisaid/GeoLocationMapper.java:20-131)."""

from __future__ import annotations

import pytest

from harvester_database_and_automation_spark.functions.geo import (
    GeoRule,
    geo_rewrite_udf,
    resolve_geo,
)

R_EXACT = GeoRule(("Europe", "Suisse", "*", "*"), ("Europe", "Switzerland", "*", "*"))
R_CANTON = GeoRule(("Europe", "Switzerland", "Zuerich", "*"), ("Europe", "Switzerland", "Zurich", "*"))
R_WILDCARD = GeoRule(("*", "*", "*", "Basel Stadt"), ("*", "*", "*", "Basel-Stadt"))


def test_no_matching_rule_is_identity():
    value = ("Asia", "Japan", "Tokyo", "Shibuya")
    assert resolve_geo([R_EXACT], value) == value


def test_single_rewrite_and_output_wildcard_keeps_input():
    got = resolve_geo([R_EXACT], ("Europe", "Suisse", "Geneva", "Old Town"))
    assert got == ("Europe", "Switzerland", "Geneva", "Old Town")


def test_input_match_is_case_insensitive():
    got = resolve_geo([R_EXACT], ("europe", "SUISSE", "Geneva", ""))
    # Concrete dst fields also canonicalize case ('europe' -> 'Europe').
    assert got == ("Europe", "Switzerland", "Geneva", "")


def test_chained_rules_reach_fixpoint():
    # Suisse -> Switzerland enables the canton rule on the next round.
    got = resolve_geo([R_EXACT, R_CANTON], ("Europe", "Suisse", "Zuerich", "x"))
    assert got == ("Europe", "Switzerland", "Zurich", "x")


def test_most_specific_rule_wins():
    broad = GeoRule(("*", "Suisse", "*", "*"), ("*", "WRONG", "*", "*"))
    got = resolve_geo([broad, R_EXACT], ("Europe", "Suisse", "", ""))
    # R_EXACT (2 concrete fields) beats broad (1); broad then no longer matches.
    assert got == ("Europe", "Switzerland", "", "")


def test_tie_breaks_by_rule_order():
    first = GeoRule(("*", "Suisse", "*", "*"), ("*", "Schweiz", "*", "*"))
    second = GeoRule(("Europe", "*", "*", "*"), ("Africa", "*", "*", "*"))
    got = resolve_geo([first, second], ("Europe", "Suisse", "", ""))
    # Equal specificity (1): first rule applies first; then second still
    # matches on region and rewrites it.
    assert got == ("Africa", "Schweiz", "", "")


def test_cycle_guard_raises():
    ping = GeoRule(("*", "A", "*", "*"), ("*", "B", "*", "*"))
    pong = GeoRule(("*", "B", "*", "*"), ("*", "A", "*", "*"))
    with pytest.raises(RuntimeError, match="did not converge"):
        resolve_geo([ping, pong], ("X", "A", "", ""), max_iter=10)


def test_udf_applies_rules(spark):
    df = spark.createDataFrame(
        [
            ("Europe", "Suisse", "Zuerich", "spot"),
            ("Asia", "Japan", "Tokyo", "Shibuya"),
            (None, "Suisse", None, None),
        ],
        "region string, country string, division string, location string",
    )
    udf = geo_rewrite_udf([R_EXACT, R_CANTON])
    out = df.select(udf("region", "country", "division", "location").alias("g")).select("g.*")
    rows = {tuple(r) for r in out.collect()}
    assert rows == {
        ("Europe", "Switzerland", "Zurich", "spot"),
        ("Asia", "Japan", "Tokyo", "Shibuya"),
        # Nulls become "" and the region no longer matches R_EXACT's "Europe".
        ("", "Suisse", "", ""),
    }
