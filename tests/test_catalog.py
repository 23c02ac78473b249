from __future__ import annotations

from harvester_database_and_automation_spark.catalog import (
    SCHEMAS,
    TABLES,
    load_table,
)


def test_all_tables_load_with_expected_schema(spark, sf_dir):
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        want = [(f.name, f.dataType.simpleString()) for f in SCHEMAS[name].fields]
        assert got == want, f"{name}: {got} != {want}"


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 30
