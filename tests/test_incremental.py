"""Partition-overwrite incremental publish (operators/publish.py::
publish_incremental) and the derived layer's incremental rebuild."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from harvester_database_and_automation_spark.operators.publish import (
    publish_incremental,
    publish_versioned,
    read_published,
)


def _rows(spark, data):
    return spark.createDataFrame(data, "k string, v int")


def _inodes(table_dir: str, version: int, leaf: str) -> set[int]:
    d = os.path.join(table_dir, f"v{version}", leaf)
    return {
        os.stat(os.path.join(d, f)).st_ino
        for f in os.listdir(d)
        if not f.startswith(("_", "."))
    }


def test_incremental_overwrites_only_named_partitions(spark, tmp_path):
    table = str(tmp_path / "t")
    full = _rows(spark, [("a", 1), ("a", 2), ("b", 10), ("c", 100)])
    assert publish_versioned(full, table, partition_by=["k"]) == 1

    # Replace partition a only; b and c must carry over by hard link.
    v2 = publish_incremental(_rows(spark, [("a", 7)]), table, partition_by=["k"])
    assert v2 == 2
    got = {(r["k"], r["v"]) for r in read_published(spark, table).collect()}
    assert got == {("a", 7), ("b", 10), ("c", 100)}
    # Unchanged partitions share inodes with v1 (no rewrite, no copy).
    assert _inodes(table, 2, "k=b") == _inodes(table, 1, "k=b")
    assert _inodes(table, 2, "k=c") == _inodes(table, 1, "k=c")
    assert _inodes(table, 2, "k=a") != _inodes(table, 1, "k=a")
    # Previous version still reads intact (rollback is a marker move).
    v1 = spark.read.parquet(os.path.join(table, "v1"))
    assert v1.count() == 4


def test_incremental_drop_partitions(spark, tmp_path):
    table = str(tmp_path / "t")
    publish_versioned(_rows(spark, [("a", 1), ("b", 2)]), table, partition_by=["k"])
    publish_incremental(
        _rows(spark, [("a", 5)]), table, partition_by=["k"], drop_partitions=["k=b"]
    )
    got = {(r["k"], r["v"]) for r in read_published(spark, table).collect()}
    assert got == {("a", 5)}


def test_incremental_first_publish_falls_back_to_full(spark, tmp_path):
    table = str(tmp_path / "t")
    v = publish_incremental(_rows(spark, [("a", 1)]), table, partition_by=["k"])
    assert v == 1
    assert read_published(spark, table).count() == 1


def test_multi_level_partitioning(spark, tmp_path):
    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 30)], "k string, d int, v int"
    )
    publish_versioned(df, table, partition_by=["k", "d"])
    part = spark.createDataFrame([("a", 1, 99)], "k string, d int, v int")
    publish_incremental(part, table, partition_by=["k", "d"])
    got = {(r["k"], r["d"], r["v"]) for r in read_published(spark, table).collect()}
    assert got == {("a", 1, 99), ("a", 2, 20), ("b", 1, 30)}
    assert _inodes(table, 2, "k=a/d=2") == _inodes(table, 1, "k=a/d=2")


def test_derived_layer_incremental_rebuild(spark, tmp_path):
    from harvester_database_and_automation_spark.pipelines.derived import LAYER

    out = str(tmp_path / "derived")
    LAYER.rebuild(spark, "/root/testdata/sf0.001", out)
    before = {
        tuple(r) for r in read_published(spark, f"{out}/lineage_mutation_counts").collect()
    }
    langs = [r["lang"] for r in
             read_published(spark, f"{out}/lineage_mutation_counts")
             .select("lang").distinct().collect()]
    target = sorted(langs)[0]

    versions = LAYER.rebuild_incremental(
        spark,
        "/root/testdata/sf0.001",
        out,
        {"lineage_mutation_counts": F.col("lang") == target},
    )
    assert versions == {"lineage_mutation_counts": 2}
    # Inputs unchanged → incremental result identical to the full build.
    after = {
        tuple(r) for r in read_published(spark, f"{out}/lineage_mutation_counts").collect()
    }
    assert after == before

    # A table without partition_by refuses incremental rebuild.
    with pytest.raises(ValueError, match="partition_by"):
        LAYER.rebuild_incremental(
            spark, "/root/testdata/sf0.001", out, {"weekly_dashboard": F.lit(True)}
        )


def test_derived_incremental_drops_vanished_partitions(spark, tmp_path):
    """A partition whose keys disappear from the source must not be
    hard-linked forward: the incremental rebuild must equal a full one."""
    from harvester_database_and_automation_spark.pipelines.derived import DerivedLayer

    src = str(tmp_path / "src")
    out = str(tmp_path / "derived")
    layer = DerivedLayer()

    @layer.register("by_lang", partition_by=("lang",))
    def by_lang(spark, sf_dir, deps):
        return spark.read.parquet(sf_dir).groupBy("lang").agg(F.sum("v").alias("total"))

    spark.createDataFrame(
        [("de", 1), ("de", 2), ("fr", 10)], "lang string, v int"
    ).write.parquet(src)
    layer.rebuild(spark, src, out)

    # fr vanishes from the source entirely.
    spark.createDataFrame([("de", 5)], "lang string, v int").write.mode("overwrite").parquet(src)
    layer.rebuild_incremental(spark, src, out, {"by_lang": F.lit(True)})
    got = {(r["lang"], r["total"]) for r in read_published(spark, f"{out}/by_lang").collect()}
    assert got == {("de", 5)}, "stale fr partition must be dropped, de overwritten"

    # Partitions the predicate does NOT match carry over untouched, even
    # if their keys are gone from the source.
    spark.createDataFrame(
        [("de", 7), ("it", 3)], "lang string, v int"
    ).write.mode("overwrite").parquet(src)
    layer.rebuild_incremental(spark, src, out, {"by_lang": F.col("lang") == "it"})
    spark.createDataFrame([("de", 9)], "lang string, v int").write.mode("overwrite").parquet(src)
    layer.rebuild_incremental(spark, src, out, {"by_lang": F.col("lang") == "de"})
    got = {(r["lang"], r["total"]) for r in read_published(spark, f"{out}/by_lang").collect()}
    assert got == {("de", 9), ("it", 3)}


def _published_rows(spark, table_dir: str) -> list[str]:
    df = read_published(spark, table_dir)
    return sorted(repr(tuple(r)) for r in df.select(*sorted(df.columns)).collect())


def _incremental_vs_full(spark, tmp_path, schema, partition_by, before, after, pred):
    """Publish ``before``, rebuild incrementally over ``after`` with
    ``pred`` as the churn predicate, and return (incremental, full
    rebuild over ``after``) as sorted row lists of the one table."""
    from harvester_database_and_automation_spark.pipelines.derived import DerivedLayer

    layer = DerivedLayer()
    layer.register("t", partition_by=partition_by)(
        lambda spark, sf_dir, deps: spark.read.parquet(sf_dir)
    )
    src1, src2 = str(tmp_path / "src1"), str(tmp_path / "src2")
    spark.createDataFrame(before, schema).write.parquet(src1)
    spark.createDataFrame(after, schema).write.parquet(src2)
    incr, full = str(tmp_path / "incr"), str(tmp_path / "full")
    layer.rebuild(spark, src1, incr)
    layer.rebuild_incremental(spark, src2, incr, {"t": pred})
    layer.rebuild(spark, src2, full)
    return _published_rows(spark, f"{incr}/t"), _published_rows(spark, f"{full}/t")


def test_incremental_row_predicate_keeps_whole_partition(spark, tmp_path):
    """A row-level predicate that matches only the PRIOR version's rows
    (v == 2 is gone from the new build) still dirties the de partition:
    it is rewritten from the new build, not dropped."""
    incr, full = _incremental_vs_full(
        spark, tmp_path, "lang string, v int", ("lang",),
        [("de", 1), ("de", 2), ("fr", 5)],
        [("de", 1), ("de", 3), ("fr", 5)],
        F.col("v") == 2,
    )
    assert incr == full
    assert len(full) == 3


def test_incremental_rebuilds_null_partition_key(spark, tmp_path):
    """A null partition key (the __HIVE_DEFAULT_PARTITION__ leaf) is a
    dirty partition like any other: rewritten, never lost."""
    incr, full = _incremental_vs_full(
        spark, tmp_path, "lang string, v int", ("lang",),
        [("de", 1), (None, 2)],
        [("de", 1), (None, 3)],
        F.lit(True),
    )
    assert incr == full
    assert "(None, 3)" in full


def test_incremental_two_column_keys_with_null_field(spark, tmp_path):
    """Two partition columns, one null key field per dirty partition: the
    struct key condition matches (null, 1) and ('fr', null); the clean
    (de, 1) and (fr, 2) partitions carry over."""
    incr, full = _incremental_vs_full(
        spark, tmp_path, "lang string, d int, v int", ("lang", "d"),
        [("de", 1, 10), (None, 1, 20), ("fr", None, 30), ("fr", 2, 40)],
        [("de", 1, 10), (None, 1, 21), ("fr", None, 31), ("fr", 2, 40)],
        F.col("lang").isNull() | F.col("d").isNull(),
    )
    assert incr == full
    assert len(full) == 4


@pytest.fixture(scope="module")
def term_store(spark, tmp_path_factory):
    """doc_term_projection (and its dep) published once at sf0.001."""
    from harvester_database_and_automation_spark.pipelines.derived import LAYER

    out = str(tmp_path_factory.mktemp("term_store"))
    LAYER.rebuild(spark, "/root/testdata/sf0.001", out, only={"doc_term_projection"})
    return out


def test_incremental_rebuild_leaves_no_persisted_rdd(spark, term_store):
    from harvester_database_and_automation_spark.pipelines.derived import LAYER

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    LAYER.rebuild_incremental(
        spark, "/root/testdata/sf0.001", term_store,
        {"doc_term_projection": F.col("lang").isin("de", "fr")},
    )
    assert jsc.getPersistentRDDs().size() == before


def test_single_column_rewrite_pushes_in_to_documents_scan(spark, term_store):
    from harvester_database_and_automation_spark.pipelines.derived import LAYER, _key_in

    full = LAYER._build(spark, "/root/testdata/sf0.001", term_store, "doc_term_projection")
    plan = full.filter(_key_in(["lang"], [("de",), ("fr",)]))._jdf.queryExecution()
    scans = [
        line for line in plan.executedPlan().toString().splitlines()
        if "documents.parquet" in line
    ]
    assert scans and all("PushedFilters: [In(lang, [de,fr])" in line for line in scans), scans


def test_partition_leaves_formatting():
    from harvester_database_and_automation_spark.operators.publish import partition_leaves

    keys = [("de", 1), ("a b", 2), (None, 3)]
    assert partition_leaves(keys, ["lang", "d"]) == [
        "lang=__HIVE_DEFAULT_PARTITION__/d=3",
        "lang=a b/d=2",
        "lang=de/d=1",
    ]


def test_vacuum_after_incremental_keeps_linked_partitions_readable(spark, tmp_path):
    """Old-version deletion must not corrupt the current version: carried
    partitions are hard links, so the inode survives the rmtree."""
    from harvester_database_and_automation_spark.operators.publish import vacuum

    table = str(tmp_path / "t")
    publish_versioned(_rows(spark, [("a", 1), ("b", 10)]), table, partition_by=["k"])
    publish_incremental(_rows(spark, [("a", 2)]), table, partition_by=["k"])
    dropped = vacuum(table, keep=1)
    assert dropped == [1]
    got = {(r["k"], r["v"]) for r in read_published(spark, table).collect()}
    assert got == {("a", 2), ("b", 10)}


def test_rollback_repoints_the_marker(spark, tmp_path):
    from harvester_database_and_automation_spark.operators.publish import rollback

    table = str(tmp_path / "t")
    assert publish_versioned(_rows(spark, [("a", 1)]), table) == 1
    assert publish_versioned(_rows(spark, [("a", 2)]), table) == 2
    assert [r["v"] for r in read_published(spark, table).collect()] == [2]

    # Rollback is one marker write; the newer version stays on disk.
    assert rollback(table) == 1
    assert [r["v"] for r in read_published(spark, table).collect()] == [1]
    assert os.path.isdir(os.path.join(table, "v2"))


def test_rollback_requires_a_predecessor(spark, tmp_path):
    from harvester_database_and_automation_spark.operators.publish import rollback

    table = str(tmp_path / "t")
    publish_versioned(_rows(spark, [("a", 1)]), table)
    with pytest.raises(ValueError):
        rollback(table)


def test_crashed_publish_attempt_does_not_block_the_next(spark, tmp_path):
    """A writer that died after creating its v-directory but before the
    marker swap must not wedge the table: the next publish skips the
    orphan, readers never see it, and vacuum(drop_failed=True) reclaims it."""
    from harvester_database_and_automation_spark.operators.publish import (
        current_version,
        publish_versioned,
        read_published,
        vacuum,
    )

    table = str(tmp_path / "t")
    publish_versioned(_rows(spark, [("a", 1)]), table)
    # Simulate a crashed attempt: v2 exists on disk, marker still at v1.
    os.makedirs(os.path.join(table, "v2"))
    with open(os.path.join(table, "v2", "part-junk"), "w") as fh:
        fh.write("incomplete")

    v = publish_versioned(_rows(spark, [("a", 2)]), table)
    assert v == 3  # orphan v2 skipped, not collided with
    assert current_version(table) == 3
    assert [r["v"] for r in read_published(spark, table).collect()] == [2]

    dropped = vacuum(table, keep=10, drop_failed=False)
    assert dropped == []  # conservative default keeps the orphan
    # Roll the marker forward then reclaim debris newer than current.
    os.makedirs(os.path.join(table, "v9"))
    assert 9 in vacuum(table, keep=10, drop_failed=True)
    assert not os.path.exists(os.path.join(table, "v9"))


def test_vacuum_protects_unmarked_tables(spark, tmp_path):
    """With no _CURRENT marker nothing is published — every v-directory
    may be an in-flight first write, so the conservative default must not
    touch it; drop_failed opts into reclaiming."""
    from harvester_database_and_automation_spark.operators.publish import vacuum

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "v1"))
    assert vacuum(table, keep=0) == []
    assert os.path.exists(os.path.join(table, "v1"))
    assert vacuum(table, keep=0, drop_failed=True) == [1]


# ---------------------------------------------------------------------------
# Schema-carrying versions: every publish stores the schema a parquet read
# of the version produces, and reads pass it instead of inferring it.
# ---------------------------------------------------------------------------
def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _inferred(spark, vdir: str) -> T.StructType:
    return spark.read.parquet(vdir).schema


def test_reads_of_published_versions_launch_no_job(spark, tmp_path):
    table = str(tmp_path / "t")
    publish_versioned(_rows(spark, [("a", 1), ("b", 2)]), table, partition_by=["k"])
    j0 = _jobs(spark)
    read_published(spark, table)
    assert _jobs(spark) == j0


def test_stored_schema_matches_inference_with_nested_non_null_fields(spark, tmp_path):
    table = str(tmp_path / "t")
    inner = T.StructType([T.StructField("c", T.StringType(), False)])
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("tags", T.ArrayType(T.StringType(), False), False),
            T.StructField("attrs", T.MapType(T.StringType(), T.IntegerType(), False)),
            T.StructField(
                "s",
                T.StructType(
                    [
                        T.StructField("a", T.IntegerType(), False),
                        T.StructField("b", T.ArrayType(inner, False)),
                    ]
                ),
                False,
            ),
        ]
    )
    df = spark.createDataFrame([(1, ["x"], {"m": 1}, (2, [("y",)]))], schema)
    v = publish_versioned(df, table)
    got = read_published(spark, table)
    assert got.schema == _inferred(spark, os.path.join(table, f"v{v}"))
    assert got.collect() == df.collect()


@pytest.mark.parametrize("ktype, keys", [("string", ("a", "b", "c")), ("int", (1, 2, 3))])
def test_stored_schema_matches_inference_for_partitioned_tables(spark, tmp_path, ktype, keys):
    table = str(tmp_path / "t")
    a, b, c = keys
    data = f"v bigint, k {ktype}, w double"
    publish_versioned(
        spark.createDataFrame([(1, a, 0.5), (2, b, 1.5), (3, c, 2.5)], data),
        table,
        partition_by=["k"],
    )
    v2 = publish_incremental(spark.createDataFrame([(9, a, 9.5)], data), table, partition_by=["k"])
    leaf = f"k={b}"
    assert _inodes(table, 2, leaf) == _inodes(table, 1, leaf)  # hard-linked forward
    for v in (1, v2):
        assert read_published(spark, table).schema == _inferred(spark, os.path.join(table, f"v{v}"))
    got = {(r["v"], r["k"]) for r in read_published(spark, table).collect()}
    assert got == {(9, a), (2, b), (3, c)}


def test_version_without_stored_schema_reads_by_inference(spark, tmp_path):
    """Versions published before versions carried their schema still read."""
    table = str(tmp_path / "t")
    v = publish_versioned(_rows(spark, [("a", 1), ("b", 2)]), table, partition_by=["k"])
    os.remove(os.path.join(table, f"v{v}", "_schema.json"))
    j0 = _jobs(spark)
    got = read_published(spark, table)
    assert _jobs(spark) > j0  # the footer-inference job
    assert {(r["k"], r["v"]) for r in got.collect()} == {("a", 1), ("b", 2)}


def test_date_like_string_partition_reads_back_as_string(spark, tmp_path):
    """The stored schema keeps the written type, also through an
    incremental publish; path inference would turn a date-shaped string
    partition value into a DATE."""
    table = str(tmp_path / "t")
    rows = _rows(spark, [("2024-03-01", 1), ("2024-03-01", 2)]).repartition(2)
    v = publish_versioned(rows, table, partition_by=["k"])
    assert _inferred(spark, os.path.join(table, f"v{v}"))["k"].dataType == T.DateType()
    assert read_published(spark, table).schema["k"].dataType == T.StringType()
    v2 = publish_incremental(_rows(spark, [("2024-03-02", 3)]), table, partition_by=["k"])
    assert v2 == v + 1
    got = read_published(spark, table)
    assert got.schema["k"].dataType == T.StringType()
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, "2024-03-01"),
        (2, "2024-03-01"),
        (3, "2024-03-02"),
    ]
