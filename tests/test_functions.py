"""Tests for the date-cleansing and recode helpers."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from harvester_database_and_automation_spark.functions.dates import (
    clamp_date_range,
    parse_multi_format_date,
    repair_imprecise_date,
)
from harvester_database_and_automation_spark.functions.recode import age_group, recode_map
from harvester_database_and_automation_spark.operators.joins import coalesce_join


def _col(spark, values, expr):
    df = spark.createDataFrame([(v,) for v in values], "x string")
    return [r[0] for r in df.select(expr("x")).collect()]


def test_repair_imprecise_date(spark):
    got = _col(
        spark,
        ["2021-03-XX", "2021-XX-XX", "2021-03-15", "garbage", None],
        repair_imprecise_date,
    )
    assert got == [
        datetime.date(2021, 3, 1),
        datetime.date(2021, 1, 1),
        datetime.date(2021, 3, 15),
        None,
        None,
    ]


def test_parse_multi_format_date(spark):
    got = _col(spark, ["2021-03-15", "15.03.2021", "03/15/2021", "nope"], parse_multi_format_date)
    assert got[:3] == [datetime.date(2021, 3, 15)] * 3 and got[3] is None


def test_clamp_date_range(spark):
    df = spark.createDataFrame(
        [("2019-01-01",), ("2020-06-01",)], "d string"
    ).withColumn("d", F.col("d").cast("date"))
    got = [r[0] for r in df.select(clamp_date_range("d", "2020-02-24")).collect()]
    assert got == [None, datetime.date(2020, 6, 1)]


def test_age_group(spark):
    df = spark.createDataFrame([(0,), (9,), (47,), (80,), (95,), (None,)], "age int")
    got = [r[0] for r in df.select(age_group("age")).collect()]
    assert got == ["0-9", "0-9", "40-49", "80+", "80+", "Unknown"]


def test_recode_map(spark):
    df = spark.createDataFrame([(1,), (2,), (9,)], "code int")
    got = [r[0] for r in df.select(recode_map("code", {1: "yes", 2: "no"}, "unknown")).collect()]
    assert got == ["yes", "no", "unknown"]
    with pytest.raises(ValueError):
        recode_map("code", {})


def test_coalesce_join(spark):
    left = spark.createDataFrame(
        [(1, "CH", None), (2, None, "x"), (3, "DE", "y")], "id int, country string, note string"
    )
    right = spark.createDataFrame(
        [(1, "XX", "r1", 10), (2, "FR", "r2", 20)], "id int, country string, note string, extra int"
    )
    got = {r["id"]: r for r in coalesce_join(left, right, ["id"]).collect()}
    assert got[1]["country"] == "CH" and got[1]["note"] == "r1" and got[1]["extra"] == 10
    assert got[2]["country"] == "FR" and got[2]["note"] == "x" and got[2]["extra"] == 20
    assert got[3]["country"] == "DE" and got[3]["extra"] is None
