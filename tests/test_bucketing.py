"""operators/layout.py — Z-order clustering."""

from __future__ import annotations

from harvester_database_and_automation_spark.operators.layout import zorder_value


def test_zorder_value_interleaves_bits(spark):
    df = spark.createDataFrame([(0b101, 0b011)], "a long, b long")
    z = df.select(zorder_value(["a", "b"], bits=3).alias("z")).first()["z"]
    # interleave a=101, b=011 -> bit layout (b2 a2 b1 a1 b0 a0) = 0 1 1 0 1 1
    assert z == 0b011011
