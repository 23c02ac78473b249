"""Tests for the recode helpers."""

from __future__ import annotations

from harvester_database_and_automation_spark.functions.recode import age_group


def test_age_group(spark):
    df = spark.createDataFrame([(0,), (9,), (47,), (80,), (95,), (None,)], "age int")
    got = [r[0] for r in df.select(age_group("age")).collect()]
    assert got == ["0-9", "0-9", "40-49", "80+", "80+", "Unknown"]
