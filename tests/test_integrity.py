"""FK orphan checks (operators/integrity.py)."""

from __future__ import annotations

from harvester_database_and_automation_spark.operators.integrity import orphans


def test_orphans_with_mapping_and_nulls(spark):
    child = spark.createDataFrame([(1, 10), (2, 99), (3, None)], "id int, fk int")
    parent = spark.createDataFrame([(10,), (20,)], "pk int")
    bad = orphans(child, parent, {"fk": "pk"})
    assert {r["id"] for r in bad.collect()} == {2}  # NULL fk ignored (SQL semantics)
    bad_strict = orphans(child, parent, {"fk": "pk"}, ignore_null_fk=False)
    assert {r["id"] for r in bad_strict.collect()} == {2, 3}


def test_orphans_same_column_names(spark):
    child = spark.createDataFrame([(5,), (6,)], "key int")
    parent = spark.createDataFrame([(5,)], "key int")
    assert {r["key"] for r in orphans(child, parent, ["key"]).collect()} == {6}
