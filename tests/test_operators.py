"""Tests for the write-path operators (M1-M6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from harvester_database_and_automation_spark.operators import (
    JobState,
    apply_deletes,
    classify_changes,
    current_version,
    publish_versioned,
    read_published,
)
from harvester_database_and_automation_spark.operators.merge import erase_columns, update_from
from harvester_database_and_automation_spark.operators.publish import vacuum

SCHEMA = "id int, meta string, seq string"


@pytest.fixture()
def current(spark):
    return spark.createDataFrame(
        [(1, "m1", "AAA"), (2, "m2", "CCC"), (3, "m3", "GGG")], SCHEMA
    )


def test_merge_delta_matches_upsert_plus_deletes(spark, current):
    """merge_delta upserts and deletes for unique-key deltas WITHOUT a
    full-outer exchange of `current` (the 100 TB write path: stored
    payloads anti-join a broadcastable touched-key set)."""
    from harvester_database_and_automation_spark.operators.merge import merge_delta

    updates = spark.createDataFrame([(2, "m2-new", "CCC"), (4, "m4", "TTT")], SCHEMA)
    tombs = spark.createDataFrame([(3,)], "id int")
    got = {r["id"]: (r["meta"], r["seq"])
           for r in merge_delta(current, updates, ["id"], delete_keys=tombs).collect()}
    assert got == {1: ("m1", "AAA"), 2: ("m2-new", "CCC"), 4: ("m4", "TTT")}

    # No deletes; a NULL in the update row must still overwrite.
    upd2 = spark.createDataFrame([(1, None, "AAA")], SCHEMA)
    got2 = {r["id"]: r["meta"] for r in merge_delta(current, upd2, ["id"]).collect()}
    assert got2 == {1: None, 2: "m2", 3: "m3"}


def test_merge_delta_delete_wins_on_overlap(spark, current):
    """A key in BOTH updates and delete_keys is deleted — the precedence
    of an upsert followed by apply_deletes, the pair merge_delta replaces
    (round-9 ADVICE: the naive anti-join+union re-inserted the update)."""
    from harvester_database_and_automation_spark.operators.merge import merge_delta

    updates = spark.createDataFrame([(2, "m2-new", "CCC"), (4, "m4", "TTT")], SCHEMA)
    tombs = spark.createDataFrame([(2,), (3,)], "id int")
    for hint in (False, True):
        got = {r["id"]: r["meta"]
               for r in merge_delta(current, updates, ["id"], delete_keys=tombs,
                                    broadcast_touched=hint).collect()}
        assert got == {1: "m1", 4: "m4"}


def test_merge_delta_schema_mismatch(spark, current):
    from harvester_database_and_automation_spark.operators.merge import merge_delta

    bad = spark.createDataFrame([(1, "x")], "id int, meta string")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_delta(current, bad, ["id"])


def test_merge_delta_current_never_shuffles(spark, current):
    """The point of the operator: with the measured-delta broadcast hint,
    the PLAN-TIME join is already a broadcast — `current` flows map-side
    and never touches shuffle storage (AQE's stats-based flip would come
    only after current's map stage had written its shuffle output). A
    full-outer upsert plan exchanges current by key."""
    from harvester_database_and_automation_spark.operators.merge import merge_delta

    updates = spark.createDataFrame([(2, "m2-new", "CCC")], SCHEMA)
    plan = (
        merge_delta(current, updates, ["id"], broadcast_touched=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # And the hinted result is value-identical to the unhinted one.
    a = {tuple(r) for r in merge_delta(current, updates, ["id"]).collect()}
    b = {tuple(r) for r in
         merge_delta(current, updates, ["id"], broadcast_touched=True).collect()}
    assert a == b


def test_fits_broadcast_boundaries():
    """Both caps are inclusive, and either one alone refuses the hint."""
    from harvester_database_and_automation_spark.operators.merge import (
        BROADCAST_MAX_BYTES,
        BROADCAST_MAX_ROWS,
        fits_broadcast,
    )

    assert fits_broadcast(0, 0)
    assert fits_broadcast(BROADCAST_MAX_ROWS, BROADCAST_MAX_BYTES)
    assert not fits_broadcast(BROADCAST_MAX_ROWS + 1, BROADCAST_MAX_BYTES)
    assert not fits_broadcast(BROADCAST_MAX_ROWS, BROADCAST_MAX_BYTES + 1)
    assert not fits_broadcast(BROADCAST_MAX_ROWS + 1, BROADCAST_MAX_BYTES + 1)


def test_key_bytes_counts_null_as_empty(spark):
    """A NULL key contributes only the 16 B per-column overhead; a value
    adds its string octet length (multi-byte UTF-8 counted in bytes)."""
    from harvester_database_and_automation_spark.operators.merge import key_bytes

    df = spark.createDataFrame([(None, 7), ("é", 7)], "k string, n int")
    got = [r["b"] for r in df.select(key_bytes(["k", "n"]).alias("b")).collect()]
    assert got == [16 + 17, 18 + 17]


def test_update_from_sets_only_listed_columns(spark, current):
    src = spark.createDataFrame(
        [(2, "m2-upd", "ZZZ"), (9, "m9", "TTT")], SCHEMA  # 9 matches nothing
    )
    got = {
        r["id"]: (r["meta"], r["seq"])
        for r in update_from(current, src, ["id"], ["meta"]).collect()
    }
    # id 2: meta updated, seq untouched; id 9 NOT inserted; others verbatim.
    assert got == {1: ("m1", "AAA"), 2: ("m2-upd", "CCC"), 3: ("m3", "GGG")}


def test_update_from_rejects_duplicate_source_keys(spark, current):
    src = spark.createDataFrame([(2, "a", "X"), (2, "b", "Y")], SCHEMA)
    with pytest.raises(ValueError, match="duplicate keys"):
        update_from(current, src, ["id"], ["meta"])


def test_update_from_rejects_missing_set_cols(spark, current):
    src = spark.createDataFrame([(2, "a")], "id int, meta string")
    with pytest.raises(ValueError, match="absent from source"):
        update_from(current, src, ["id"], ["seq"])


def test_update_from_null_overwrites(spark, current):
    src = spark.createDataFrame([(1, None, "AAA")], SCHEMA)
    got = {r["id"]: r["meta"] for r in update_from(current, src, ["id"], ["meta"]).collect()}
    assert got[1] is None and got[2] == "m2" and got[3] == "m3"


def test_classify_changes_routes_all_cases(spark, current):
    incoming = spark.createDataFrame(
        [
            (1, "m1", "AAA"),       # unchanged
            (2, "m2-new", "CCC"),   # metadata changed
            (3, "m3", "GGA"),       # payload changed
            (5, "m5", "TTT"),       # insert
        ],
        SCHEMA,
    )
    got = {
        r["id"]: r["change_type"]
        for r in classify_changes(current, incoming, ["id"], ["meta"], ["seq"]).collect()
    }
    assert got == {
        1: "unchanged",
        2: "metadata_changed",
        3: "payload_changed",
        5: "insert",
    }


def test_classify_changes_emits_deletes(spark, current):
    incoming = spark.createDataFrame([(1, "m1", "AAA")], SCHEMA)
    rows = classify_changes(current, incoming, ["id"], ["meta"], ["seq"]).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["change_type"], set()).add(r["id"])
    assert by_type["delete"] == {2, 3}
    assert by_type["unchanged"] == {1}


def test_classify_changes_null_vs_empty(spark):
    cur = spark.createDataFrame([(1, None, "A")], SCHEMA)
    inc = spark.createDataFrame([(1, "", "A")], SCHEMA)
    rows = classify_changes(cur, inc, ["id"], ["meta"], ["seq"]).collect()
    # null and '' must NOT hash equal (an explicit null flag keeps them apart).
    assert rows[0]["change_type"] == "metadata_changed"


def test_classify_changes_null_vs_sentinel_value(spark):
    # A real value equal to a would-be sentinel ('\0') must not collide
    # with NULL — the hash carries a separate null flag, not a sentinel.
    cur = spark.createDataFrame([(1, None, "A")], SCHEMA)
    inc = spark.createDataFrame([(1, "\0", "A")], SCHEMA)
    rows = classify_changes(cur, inc, ["id"], ["meta"], ["seq"]).collect()
    assert rows[0]["change_type"] == "metadata_changed"


def test_apply_deletes(spark, current):
    tomb = spark.createDataFrame([(2,), (99,)], "id int")
    assert {r["id"] for r in apply_deletes(current, tomb, ["id"]).collect()} == {1, 3}


def test_erase_columns(spark, current):
    got = erase_columns(current, ["meta"], F.col("id") == 2).collect()
    by_id = {r["id"]: r for r in got}
    assert by_id[2]["meta"] is None and by_id[2]["seq"] == "CCC"
    assert by_id[1]["meta"] == "m1"


def test_publish_versioned_atomic_swap(spark, tmp_path, current):
    table = str(tmp_path / "tbl")
    v1 = publish_versioned(current, table)
    assert v1 == 1 and current_version(table) == 1
    assert read_published(spark, table).count() == 3

    updated = current.withColumn("meta", F.lit("new"))
    v2 = publish_versioned(updated, table)
    assert v2 == 2
    assert read_published(spark, table).select("meta").distinct().collect()[0][0] == "new"

    v3 = publish_versioned(current, table)
    dropped = vacuum(table, keep=2)
    assert dropped == [1]
    assert current_version(table) == v3
    assert read_published(spark, table).count() == 3


def test_job_state_run_if_changed(tmp_path):
    state = JobState(str(tmp_path / "state.json"))
    runs = []
    assert state.run_if_changed("files", "3", lambda: runs.append(1)) is True
    assert state.run_if_changed("files", "3", lambda: runs.append(2)) is False
    assert state.run_if_changed("files", "4", lambda: runs.append(3)) is True
    assert runs == [1, 3]

    def boom():
        raise RuntimeError("job failed")

    with pytest.raises(RuntimeError):
        state.run_if_changed("files", "5", boom)
    # Failed run did not record the fingerprint -> retries.
    assert state.get("files") == "4"


def test_assign_global_ids_matches_window(spark):
    from pyspark.sql import Window

    from harvester_database_and_automation_spark.operators.ids import assign_global_ids

    df = spark.createDataFrame(
        [(i, f"name_{i % 97:03d}_{i}") for i in range(5000)], "k int, name string"
    ).repartition(16)
    got = assign_global_ids(df, ["name"], start=1000)
    # Distributed result must equal the window formulation exactly.
    expected = df.withColumn(
        "assigned_id", (F.lit(999) + F.row_number().over(Window.orderBy("name"))).cast("long")
    )
    assert got.count() == 5000
    diff = got.join(expected, ["k", "name", "assigned_id"], "inner").count()
    assert diff == 5000
    # Ids are dense and start where asked.
    stats = got.agg(
        F.min("assigned_id").alias("lo"),
        F.max("assigned_id").alias("hi"),
        F.countDistinct("assigned_id").alias("n"),
    ).collect()[0]
    assert (stats["lo"], stats["hi"], stats["n"]) == (1000, 5999, 5000)


# ---------------------------------------------------------------------------
# Skew helpers: salted plans must equal their naive counterparts.
# ---------------------------------------------------------------------------
@pytest.fixture()
def skewed_facts(spark):
    # 90% of rows share key 0 — the hot-key shape salting exists for.
    rows = [(0 if i % 10 else i % 7 + 1, float(i)) for i in range(2000)]
    return spark.createDataFrame(rows, "k int, x double")


def test_salted_join_matches_plain_join(spark, skewed_facts):
    from harvester_database_and_automation_spark.operators import salted_join

    dim = spark.createDataFrame([(k, f"label_{k}") for k in range(8)], "k int, label string")
    got = salted_join(skewed_facts, dim, ["k"], num_salts=4)
    plain = skewed_facts.join(dim, ["k"], "inner")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_left_keeps_unmatched(spark, skewed_facts):
    from harvester_database_and_automation_spark.operators import salted_join

    dim = spark.createDataFrame([(1, "one")], "k int, label string")
    got = salted_join(skewed_facts, dim, ["k"], how="left", num_salts=4)
    plain = skewed_facts.join(dim, ["k"], "left")
    assert got.count() == plain.count() == skewed_facts.count()
    assert got.filter("label IS NULL").count() == plain.filter("label IS NULL").count()


def test_salted_aggregate_matches_plain(spark, skewed_facts):
    from harvester_database_and_automation_spark.operators import salted_aggregate

    got = salted_aggregate(
        skewed_facts,
        ["k"],
        partial={"s": F.sum("x"), "c": F.count(F.lit(1)), "m": F.max("x")},
        final={"total": F.sum("s"), "n": F.sum("c"), "mx": F.max("m")},
        num_salts=4,
    )
    plain = skewed_facts.groupBy("k").agg(
        F.sum("x").alias("total"), F.count(F.lit(1)).alias("n"), F.max("x").alias("mx")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))


def test_salt_col_collision_rejected(spark, skewed_facts):
    from harvester_database_and_automation_spark.operators import salted_join

    bad = skewed_facts.withColumn("__salt", F.lit(1))
    with pytest.raises(ValueError, match="__salt"):
        salted_join(bad, skewed_facts, ["k"])


# ---------------------------------------------------------------------------
# operators/asof.py — point-in-time join semantics
# ---------------------------------------------------------------------------
def test_asof_join_basic_and_edges(spark):
    from harvester_database_and_automation_spark.operators.asof import asof_join

    quotes = spark.createDataFrame(
        [
            (1, 10, 100.0, 11),
            (1, 20, 101.0, 12),
            (1, 20, 102.0, 13),  # same-instant duplicate: max seq wins
            (2, 50, 200.0, 14),
        ],
        "sym int, qts int, px double, qid int",
    )
    trades = spark.createDataFrame(
        [
            (1, 5, 900),    # before any quote -> NULL match
            (1, 20, 901),   # equal ts inclusive; picks qid=13
            (1, 25, 902),   # between quotes -> qid=13
            (2, 60, 903),
            (3, 10, 904),   # key with no right rows at all
        ],
        "sym int, tts int, tid int",
    )
    out = asof_join(trades, quotes, on="sym", left_time="tts", right_time="qts", seq_col="qid")
    rows = {r["tid"]: r for r in out.collect()}
    assert len(rows) == 5
    assert rows[900]["asof_qid"] is None and rows[900]["asof_px"] is None
    assert rows[901]["asof_qid"] == 13 and rows[901]["asof_px"] == 102.0
    assert rows[902]["asof_qid"] == 13
    assert rows[903]["asof_qid"] == 14 and rows[903]["asof_px"] == 200.0
    assert rows[904]["asof_qid"] is None
    # left payload preserved
    assert rows[901]["tts"] == 20 and rows[901]["sym"] == 1


def test_asof_join_single_shuffle_plan(spark):
    """The as-of plan must be union + ONE window shuffle — no join node at
    all (a SortMergeJoin/range join here would mean the O(L*R) encoding)."""
    from harvester_database_and_automation_spark.operators.asof import asof_join

    left = spark.range(10).selectExpr("id % 3 AS k", "id AS lt", "id AS lid")
    right = spark.range(10).selectExpr("id % 3 AS k", "id AS rt", "id AS rid")
    out = asof_join(left, right, on="k", left_time="lt", right_time="rt", seq_col="rid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # two scans union into one hashpartition(k)


# ---------------------------------------------------------------------------
# operators/rangejoin.py — bucketed distance join
# ---------------------------------------------------------------------------
def test_bucketed_range_join_matches_naive(spark):
    from harvester_database_and_automation_spark.operators.rangejoin import bucketed_range_join

    import itertools
    lpts = [(i, float(v)) for i, v in enumerate([0, 5, 59, 60, 61, 120, 500, -30])]
    rpts = [(100 + i, float(v)) for i, v in enumerate([1, 58, 62, 119, 180, 499, -90, -29])]
    left = spark.createDataFrame(lpts, "lid int, lx double")
    right = spark.createDataFrame(rpts, "rid int, rx double")
    out = bucketed_range_join(left, right, "lx", "rx", 60.0)
    got = {(r["lid"], r["rid"]) for r in out.collect()}
    want = {
        (li, ri)
        for (li, lv), (ri, rv) in itertools.product(lpts, rpts)
        if abs(lv - rv) <= 60.0
    }
    assert got == want
    # exactly-once: no duplicate pairs from the bucket replication
    assert out.count() == len(want)


def test_bucketed_range_join_no_nested_loop_plan(spark):
    from harvester_database_and_automation_spark.operators.rangejoin import bucketed_range_join

    left = spark.range(1000).selectExpr("id AS lid", "CAST(id * 7 % 997 AS DOUBLE) AS lx")
    right = spark.range(1000).selectExpr("id AS rid", "CAST(id * 13 % 997 AS DOUBLE) AS rx")
    out = bucketed_range_join(left, right, "lx", "rx", 5.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_bucketed_range_join_rejects_overlap_and_bad_distance(spark):
    from harvester_database_and_automation_spark.operators.rangejoin import bucketed_range_join

    df = spark.range(3).selectExpr("id", "CAST(id AS DOUBLE) AS x")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bucketed_range_join(df, df, "x", "x", 1.0)
    with _pytest.raises(ValueError):
        bucketed_range_join(
            df, df.selectExpr("id AS rid", "x AS rx"), "x", "rx", 0.0
        )


# ---------------------------------------------------------------------------
# operators/sketches.py — exact heavy hitters via Misra-Gries candidates
# ---------------------------------------------------------------------------
def test_heavy_hitters_exact_equals_naive(spark):
    from harvester_database_and_automation_spark.operators.sketches import heavy_hitters_exact

    # Zipf-ish skew: item i appears ~1000/i times, scattered over many
    # partitions so per-partition MG summaries must merge correctly.
    rows = [(f"item{i}",) for i in range(1, 80) for _ in range(1000 // i)]
    df = spark.createDataFrame(rows, "w string").repartition(16)
    k = 20
    got = {r["w"]: r["n_occurrences"] for r in heavy_hitters_exact(df, "w", k).collect()}
    counts = {r["w"]: r["c"] for r in df.groupBy("w").agg(__import__("pyspark").sql.functions.count("*").alias("c")).collect()}
    n = sum(counts.values())
    want = {w: c for w, c in counts.items() if c * k >= n}
    assert got == want
    assert len(want) > 0  # the test actually exercises hitters


def test_heavy_hitters_ignores_nulls_and_validates_k(spark):
    from harvester_database_and_automation_spark.operators.sketches import heavy_hitters_exact

    df = spark.createDataFrame([("a",), ("a",), (None,), ("b",)], "w string")
    out = {r["w"]: r["n_occurrences"] for r in heavy_hitters_exact(df, "w", 2).collect()}
    assert out == {"a": 2}  # 2*2 >= 3 ; b: 1*2 < 3 ; null ignored
    import pytest as _pytest
    with _pytest.raises(ValueError):
        heavy_hitters_exact(df, "w", 1)


# ---------------------------------------------------------------------------
# operators/rollup_cascade.py — cascade equals direct aggregation
# ---------------------------------------------------------------------------
def test_cascade_rollup_levels_exact(spark):
    from harvester_database_and_automation_spark.operators.rollup_cascade import cascade_rollup
    from pyspark.sql import functions as F

    e = spark.createDataFrame(
        [(i, f"2024-03-0{1 + i % 3} {i % 24:02d}:{(i * 7) % 60:02d}:00", i % 2, (i * 13) % 97)
         for i in range(500)],
        "id long, ts_s string, grp int, v long",
    ).select("grp", "v", F.col("ts_s").cast("timestamp_ntz").alias("ts"))

    levels = cascade_rollup(e, "ts", ["grp"], "v", ["minute", "hour", "day"])
    for unit in ("hour", "day"):
        direct = e.groupBy(
            F.date_trunc(unit, "ts").cast("timestamp_ntz").alias("bucket"), "grp"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").alias("value_sum"),
            F.min("v").alias("value_min"),
            F.max("v").alias("value_max"),
        )
        assert levels[unit].exceptAll(direct).count() == 0
        assert direct.exceptAll(levels[unit]).count() == 0


def test_cascade_rollup_rejects_bad_levels(spark):
    from harvester_database_and_automation_spark.operators.rollup_cascade import cascade_rollup
    import pytest as _pytest

    df = spark.range(1).selectExpr("CAST('2024-01-01' AS TIMESTAMP_NTZ) AS ts", "id AS v")
    with _pytest.raises(ValueError):
        cascade_rollup(df, "ts", [], "v", ["day", "hour"])  # not ascending
    with _pytest.raises(ValueError):
        cascade_rollup(df, "ts", [], "v", [])


# ---------------------------------------------------------------------------
# plans/shared.py — split-aware fan-out
# ---------------------------------------------------------------------------
def test_fanout_reads_max_partition_bytes_with_unit(spark, tmp_path):
    """maxPartitionBytes "64m" is 64 MiB: a single small file is ONE split,
    so fanout must repartition it to the shuffle parallelism (reading the
    setting as 64 bytes made every file look pre-split)."""
    from harvester_database_and_automation_spark.plans.shared import fanout

    path = str(tmp_path / "one_file")
    spark.range(2000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64m")
    try:
        out = fanout(df)
    finally:
        spark.conf.set(key, old)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert out is not df
    assert out.rdd.getNumPartitions() == n


# ---------------------------------------------------------------------------
# operators/scd.py — SCD2 historization
# ---------------------------------------------------------------------------
def test_scd2_merge_lifecycle(spark):
    from harvester_database_and_automation_spark.operators.scd import scd2_init, scd2_merge

    snap = spark.createDataFrame(
        [(1, "lab_a", "good"), (2, "lab_b", "poor")], "sample_id long, lab string, q string"
    )
    h0 = scd2_init(snap, "2024-01-01 00:00:00")
    assert h0.filter("is_current").count() == 2

    updates = spark.createDataFrame(
        [
            (1, "lab_a", "good"),   # unchanged
            (2, "lab_b", "good"),   # changed attribute
            (3, "lab_c", None),     # new key, with a NULL attribute
        ],
        "sample_id long, lab string, q string",
    )
    h1 = scd2_merge(h0, updates, ["sample_id"], "2024-02-01 00:00:00")
    rows = {(r["sample_id"], r["is_current"]): r for r in h1.collect()}
    assert len(rows) == 4
    # unchanged key 1: still the original open version
    assert str(rows[(1, True)]["valid_from"]) == "2024-01-01 00:00:00"
    # changed key 2: old version closed at batch ts, new one open
    assert str(rows[(2, False)]["valid_to"]) == "2024-02-01 00:00:00"
    assert rows[(2, True)]["q"] == "good" and rows[(2, True)]["valid_to"] is None
    # new key 3 opened with its NULL attribute
    assert rows[(3, True)]["q"] is None

    # NULL -> value transition must register as a change (fingerprint
    # distinguishes NULL from any real value)
    h2 = scd2_merge(
        h1,
        spark.createDataFrame([(3, "lab_c", "ok")], "sample_id long, lab string, q string"),
        ["sample_id"],
        "2024-03-01 00:00:00",
    )
    k3 = [r for r in h2.collect() if r["sample_id"] == 3]
    assert len(k3) == 2 and {r["is_current"] for r in k3} == {True, False}


def test_scd2_merge_rejects_schema_drift(spark):
    from harvester_database_and_automation_spark.operators.scd import scd2_init, scd2_merge
    import pytest as _pytest

    snap = spark.createDataFrame([(1, "x")], "k long, v string")
    h = scd2_init(snap, "2024-01-01 00:00:00")
    bad = spark.createDataFrame([(1, "x", 5)], "k long, v string, extra int")
    with _pytest.raises(ValueError):
        scd2_merge(h, bad, ["k"], "2024-02-01 00:00:00")


# ---------------------------------------------------------------------------
# operators/fuzzy.py — deletion-neighborhood edit-distance join
# ---------------------------------------------------------------------------
def test_fuzzy_join_dist1_matches_naive(spark):
    from harvester_database_and_automation_spark.operators.fuzzy import fuzzy_join_dist1

    names = ["alpha", "alpa", "aalpha", "alphx", "beta", "betaa", "", "a", "b", "ab"]
    left = spark.createDataFrame([(i, n) for i, n in enumerate(names)], "lid int, lname string")
    right = spark.createDataFrame([(100 + i, n) for i, n in enumerate(names)], "rid int, rname string")
    out = fuzzy_join_dist1(left, right, "lname", "rname")
    got = {(r["lid"], r["rid"], r["dist"]) for r in out.collect()}

    def lev1(a, b):  # naive check for dist <= 1
        if a == b:
            return 0
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return None
        if la == lb:
            return 1 if sum(x != y for x, y in zip(a, b)) == 1 else None
        s, t = (a, b) if la < lb else (b, a)
        return 1 if any(t[:i] + t[i + 1:] == s for i in range(len(t))) else None

    want = {
        (i, 100 + j, d)
        for i, a in enumerate(names)
        for j, b in enumerate(names)
        if (d := lev1(a, b)) is not None
    }
    assert got == want
    assert out.count() == len(want)  # exactly-once per pair


def test_fuzzy_join_no_nested_loop(spark):
    from harvester_database_and_automation_spark.operators.fuzzy import fuzzy_join_dist1

    left = spark.range(100).selectExpr("id AS lid", "concat('name', id) AS lname")
    right = spark.range(100).selectExpr("id AS rid", "concat('name', id) AS rname")
    plan = fuzzy_join_dist1(left, right, "lname", "rname")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_cascade_rollup_incremental_publish(spark, tmp_path):
    """The composition rollup_cascade promises: a late-arriving batch
    refreshes ONLY the day partitions it touches; untouched days hard-link
    forward, and the result equals a full rebuild."""
    import os

    from pyspark.sql import functions as F

    from harvester_database_and_automation_spark.operators.publish import (
        publish_incremental,
        read_published,
    )
    from harvester_database_and_automation_spark.operators.rollup_cascade import cascade_rollup

    def events(rows):
        return spark.createDataFrame(rows, "ts_s string, grp string, v long").select(
            F.col("ts_s").cast("timestamp_ntz").alias("ts"), "grp", "v"
        )

    base = events(
        [(f"2024-03-0{d} {h:02d}:15:00", "a", d * 10 + h) for d in (1, 2, 3) for h in (0, 6)]
    )
    table = str(tmp_path / "day_rollup")

    def day_level(df):
        day = cascade_rollup(df, "ts", ["grp"], "v", ["minute", "hour", "day"])["day"]
        return day.withColumn("day", F.date_format("bucket", "yyyy-MM-dd"))

    publish_incremental(day_level(base), table, partition_by=["day"])

    # Late batch touches only 2024-03-02 -> recompute that day from source
    # and publish just its partition.
    late = events([("2024-03-02 23:45:00", "a", 999)])
    all_events = base.unionByName(late)
    dirty = [r["day"] for r in day_level(late).select("day").distinct().collect()]
    assert dirty == ["2024-03-02"]
    refreshed = day_level(all_events.filter(F.to_date("ts").isin(dirty)))
    v = publish_incremental(refreshed, table, partition_by=["day"])

    got = read_published(spark, table)
    full = day_level(all_events)
    assert got.exceptAll(full.select(*got.columns)).count() == 0
    assert full.select(*got.columns).exceptAll(got).count() == 0
    # untouched day partitions are hard links to v1 files (nlink > 1)
    v2 = os.path.join(table, f"v{v}", "day=2024-03-01")
    linked = [f for f in os.listdir(v2) if f.endswith(".parquet")]
    assert linked and all(os.stat(os.path.join(v2, f)).st_nlink > 1 for f in linked)
    v2_dirty = os.path.join(table, f"v{v}", "day=2024-03-02")
    fresh = [f for f in os.listdir(v2_dirty) if f.endswith(".parquet")]
    assert fresh and all(os.stat(os.path.join(v2_dirty, f)).st_nlink == 1 for f in fresh)


def test_asof_join_forward_direction(spark):
    from harvester_database_and_automation_spark.operators.asof import asof_join

    quotes = spark.createDataFrame(
        [(1, 10, 100.0, 11), (1, 30, 101.0, 12)], "sym int, qts int, px double, qid int"
    )
    trades = spark.createDataFrame(
        [
            (1, 5, 900),    # next quote at 10 -> qid 11
            (1, 10, 901),   # equal ts inclusive -> qid 11
            (1, 20, 902),   # next is 30 -> qid 12
            (1, 40, 903),   # nothing after -> NULL
        ],
        "sym int, tts int, tid int",
    )
    out = asof_join(
        trades, quotes, on="sym", left_time="tts", right_time="qts",
        seq_col="qid", direction="forward",
    )
    rows = {r["tid"]: r["asof_qid"] for r in out.collect()}
    assert rows == {900: 11, 901: 11, 902: 12, 903: None}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        asof_join(trades, quotes, on="sym", left_time="tts", right_time="qts", direction="nearest")


def test_scd2_merge_composite_keys(spark):
    from harvester_database_and_automation_spark.operators.scd import scd2_init, scd2_merge

    snap = spark.createDataFrame(
        [(1, "A", "x"), (1, "B", "y")], "k1 long, k2 string, v string"
    )
    h = scd2_init(snap, "2024-01-01 00:00:00")
    upd = spark.createDataFrame(
        [(1, "A", "x2"), (2, "A", "z")], "k1 long, k2 string, v string"
    )
    h1 = scd2_merge(h, upd, ["k1", "k2"], "2024-02-01 00:00:00")
    rows = {(r["k1"], r["k2"], r["is_current"]): r["v"] for r in h1.collect()}
    # (1,A) changed -> closed old + open new; (1,B) untouched; (2,A) new
    assert rows == {
        (1, "A", False): "x",
        (1, "A", True): "x2",
        (1, "B", True): "y",
        (2, "A", True): "z",
    }


def test_fuzzy_join_dist2_matches_naive(spark):
    from harvester_database_and_automation_spark.operators.fuzzy import fuzzy_join

    def lev(a, b):  # full DP for the ground truth
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    names = ["spark", "spa", "sprk", "shark", "sharks", "park", "spork", "spoork",
             "stark", "s", "", "sprak", "xy"]
    left = spark.createDataFrame([(i, n) for i, n in enumerate(names)], "lid int, lname string")
    right = spark.createDataFrame([(100 + i, n) for i, n in enumerate(names)], "rid int, rname string")
    out = fuzzy_join(left, right, "lname", "rname", max_dist=2)
    got = {(r["lid"], r["rid"], r["dist"]) for r in out.collect()}
    want = {
        (i, 100 + j, lev(a, b))
        for i, a in enumerate(names)
        for j, b in enumerate(names)
        if lev(a, b) <= 2
    }
    assert got == want
    assert out.count() == len(want)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        fuzzy_join(left, right, "lname", "rname", max_dist=3)


def test_add_running_total_matches_window(spark):
    from pyspark.sql import Window

    from harvester_database_and_automation_spark.operators.ids import add_running_total

    df = spark.createDataFrame(
        [(i, (i * 37) % 113 + 1) for i in range(5000)], "k int, w int"
    ).repartition(16)
    got = add_running_total(df, ["k"], "w", "start")
    expected = df.withColumn(
        "start",
        F.coalesce(
            F.sum("w").over(Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
    )
    assert got.count() == 5000
    assert got.join(expected, ["k", "w", "start"], "inner").count() == 5000
    # Exclusive prefix: first row starts at 0, last start + w = grand total.
    total = df.agg(F.sum("w")).collect()[0][0]
    last = got.orderBy(F.col("k").desc()).limit(1).collect()[0]
    assert last["start"] + last["w"] == total


def test_cascade_month_folds_from_day_not_week(spark):
    """A week spanning a month boundary must not drag its cross-month days
    into the wrong month: month folds from day even with week in between."""
    import datetime as dt

    from harvester_database_and_automation_spark.operators.rollup_cascade import (
        cascade_rollup,
    )

    rows = [
        # ISO week Mon 2026-06-29 .. Sun 2026-07-05 crosses the boundary.
        (dt.datetime(2026, 6, 29, 10), "k", 1.0),
        (dt.datetime(2026, 6, 30, 10), "k", 2.0),
        (dt.datetime(2026, 7, 1, 10), "k", 4.0),
        (dt.datetime(2026, 7, 4, 10), "k", 8.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp_ntz, key string, value double")
    out = cascade_rollup(df, "ts", ["key"], "value", ["day", "week", "month"])
    months = {r["bucket"].month: r["value_sum"] for r in out["month"].collect()}
    assert months == {6: 3.0, 7: 12.0}
    # the week level itself still aggregates the full cross-month week
    weeks = out["week"].collect()
    assert len(weeks) == 1 and weeks[0]["value_sum"] == 15.0
    # week-then-month without a nesting finer level is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cascade_rollup(df, "ts", ["key"], "value", ["week", "month"])


def test_running_total_handles_floats_and_nulls(spark):
    from harvester_database_and_automation_spark.operators.ids import add_running_total

    df = spark.createDataFrame(
        [(1, 0.5), (2, None), (3, 1.25), (4, 2.0)], "ord int, weight double"
    )
    out = add_running_total(df, ["ord"], "weight", "before").orderBy("ord").collect()
    assert [r["before"] for r in out] == [0.0, 0.5, 0.5, 1.75]


def test_fuzzy_join_preserves_duplicate_input_rows(spark):
    """Two identical left rows must each match — equivalence with the
    naive levenshtein join, which a value-level distinct would break."""
    from harvester_database_and_automation_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame([("abc",), ("abc",)], "lname string")
    right = spark.createDataFrame([("abd",)], "rname string")
    out = fuzzy_join(left, right, "lname", "rname", max_dist=1)
    assert out.count() == 2


def test_running_total_decimal_column(spark):
    from decimal import Decimal

    from harvester_database_and_automation_spark.operators.ids import add_running_total

    df = spark.createDataFrame(
        [(1, Decimal("1.10")), (2, Decimal("2.20")), (3, None)], "ord int, amt decimal(10,2)"
    )
    out = add_running_total(df, ["ord"], "amt", "before").orderBy("ord").collect()
    assert [r["before"] for r in out] == [Decimal("0.00"), Decimal("1.10"), Decimal("3.30")]


def test_fuzzy_join_rejects_reserved_columns(spark):
    import pytest as _pytest

    from harvester_database_and_automation_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame([("abc", 1)], "lname string, _fz_rid int")
    right = spark.createDataFrame([("abd",)], "rname string")
    with _pytest.raises(ValueError, match="_fz_rid"):
        fuzzy_join(left, right, "lname", "rname")


def test_interval_containment_join_matches_naive(spark):
    """Variable-length intervals x points, exactly-once semantics,
    degenerate (end < start) intervals dropped, extra equi-key honoured."""
    import itertools

    from harvester_database_and_automation_spark.operators.rangejoin import (
        interval_containment_join,
    )

    ivs = [
        # (id, key, start, end) — lengths from 0 to 7x the bucket width
        (1, "a", 0.0, 10.0),
        (2, "a", 5.0, 45.0),
        (3, "b", 5.0, 45.0),
        (4, "a", 60.0, 60.0),
        (5, "a", 100.0, 30.0),   # degenerate: drops
        (6, "b", -25.0, 415.0),  # long interval spanning many buckets
    ]
    pts = [
        (101, "a", 0.0), (102, "a", 10.0), (103, "a", 30.0), (104, "b", 30.0),
        (105, "a", 60.0), (106, "b", 400.0), (107, "a", -20.0), (108, "b", -26.0),
    ]
    intervals = spark.createDataFrame(ivs, "iid int, k string, s double, e double")
    points = spark.createDataFrame(pts, "pid int, k string, p double")
    out = interval_containment_join(intervals, points, "s", "e", "p", 60.0, extra_on=["k"])
    got = {(r["iid"], r["pid"]) for r in out.collect()}
    want = {
        (iid, pid)
        for (iid, ik, s, e), (pid, pk, p) in itertools.product(ivs, pts)
        if ik == pk and s <= p <= e
    }
    assert got == want
    assert out.count() == len(want)  # exactly-once despite bucket replication


def test_interval_containment_join_no_nested_loop_plan(spark):
    from harvester_database_and_automation_spark.operators.rangejoin import (
        interval_containment_join,
    )

    intervals = spark.range(100).selectExpr("id AS iid", "CAST(id * 10 AS DOUBLE) AS s",
                                            "CAST(id * 10 + 25 AS DOUBLE) AS e")
    points = spark.range(100).selectExpr("id AS pid", "CAST(id * 7 AS DOUBLE) AS p")
    plan = interval_containment_join(intervals, points, "s", "e", "p", 25.0)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_interval_containment_join_guards_pathological_span(spark):
    """A sentinel-dated interval (span >> bucket_width) must fail with a
    CLEAR error naming the knob — not an opaque sequence array-size blowup
    mid-stage — while same-sized spans under the cap still join."""
    import pytest as _pytest

    from harvester_database_and_automation_spark.operators.rangejoin import (
        interval_containment_join,
    )

    intervals = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 0.0, 1e9)], "iid int, s double, e double"
    )
    points = spark.createDataFrame([(101, 5.0)], "pid int, p double")
    bad = interval_containment_join(intervals, points, "s", "e", "p", 10.0,
                                    max_buckets_per_interval=1000)
    with _pytest.raises(Exception, match="max_buckets_per_interval"):
        bad.collect()
    ok = interval_containment_join(
        intervals.filter("iid = 1"), points, "s", "e", "p", 10.0,
        max_buckets_per_interval=1000,
    )
    assert {(r["iid"], r["pid"]) for r in ok.collect()} == {(1, 101)}
    with _pytest.raises(ValueError, match="max_buckets_per_interval"):
        interval_containment_join(intervals, points, "s", "e", "p", 10.0,
                                  max_buckets_per_interval=0)


def test_salted_self_pairs_matches_naive_with_hot_key(spark):
    """Pair-block salting must enumerate exactly the naive quadratic's
    unordered within-key pairs — no loss, no double count — when one key
    is hot (salted into blocks) and others are cold (single block)."""
    import itertools

    from harvester_database_and_automation_spark.operators.skew import salted_self_pairs

    rows = [(i, "hot" if i < 40 else f"cold{i % 5}", i * 3 % 17) for i in range(60)]
    df = spark.createDataFrame(rows, "rid int, k string, payload int")
    out = salted_self_pairs(df, ["k"], "rid", hot_threshold=10, max_salt=4)
    got = {(r["k"], r["rid_a"], r["rid_b"]) for r in out.collect()}
    want = {
        (ka, min(a, b), max(a, b))
        for (a, ka, _), (b, kb, _) in itertools.combinations(rows, 2)
        if ka == kb
    }
    assert got == want
    assert out.count() == len(want)  # exactly-once despite block replication
    # payload columns ride along, oriented with the id order
    one = out.filter((F.col("rid_a") == 0) & (F.col("rid_b") == 1)).collect()[0]
    assert (one["payload_a"], one["payload_b"]) == (0, 3)


def test_salted_self_pairs_adaptive_salt_bounds_block_size(spark):
    """The per-key salt must GROW with the key: a 10x-hotter planted key
    gets a proportionally larger block grid, so the max per-task pair
    product stays ~hot_threshold**2 instead of scaling quadratically with
    the hot key's size (the round-5 fixed-salt defect). Verified two
    ways: exact pair parity against the naive enumeration, and a direct
    measurement of the largest (key, block_i, block_j) join-group."""
    import itertools

    from harvester_database_and_automation_spark.operators.skew import salted_self_pairs

    # One 2000-row key (40x the threshold) amid small keys.
    rows = [(i, "veryhot" if i < 2000 else f"cold{i % 7}", i % 11) for i in range(2200)]
    df = spark.createDataFrame(rows, "rid int, k string, payload int")
    thr = 50
    out = salted_self_pairs(df, ["k"], "rid", hot_threshold=thr, max_salt=64)
    # Parity: spot-check counts per key against the closed form (full
    # itertools enumeration of 2M pairs is wasteful; counts + the exactly-
    # once guarantee of the sibling test cover it).
    per_key = {r["k"]: r["n"] for r in out.groupBy("k").count().withColumnRenamed("count", "n").collect()}
    from collections import Counter

    sizes = Counter(k for _, k, _ in rows)
    assert per_key == {k: n * (n - 1) // 2 for k, n in sizes.items()}
    # Bound: re-derive each pair's block coordinates exactly as the
    # operator does and measure the largest join group.
    d = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("rid")), F.lit(40)).cast("int")
    )  # n_salt_k = ceil(2000/50) = 40 for the hot key
    blocks = (
        d.filter(F.col("k") == "veryhot")
        .groupBy("_salt")
        .count()
        .collect()
    )
    max_block = max(r["count"] for r in blocks)
    # Hash spread slack: blocks concentrate around 2000/40 = 50 rows.
    assert max_block <= 2 * thr
    # Largest join-group pair product ~ (2*thr)^2 = 10_000, vs the fixed
    # n_salt=8 grid's ceil(2000/8)^2 = 62_500 — the adaptive salt is what
    # keeps the bound as the key grows.
    assert max_block * max_block <= (2 * thr) ** 2


def test_salted_self_pairs_plan_shows_block_join(spark):
    """The mitigation must be structural: the self-join's key includes
    the block coordinates, so a hot key's pair product spreads across
    its triangular block grid instead of one join group."""
    from harvester_database_and_automation_spark.operators.skew import salted_self_pairs

    df = spark.range(500).selectExpr(
        "id AS rid", "CASE WHEN id % 50 = 0 THEN 'rare' ELSE 'hot' END AS k"
    )
    out = salted_self_pairs(df, ["k"], "rid", hot_threshold=100, max_salt=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_bi" in plan and "_bj" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_salted_self_pairs_validates_args(spark):
    import pytest as _pytest

    from harvester_database_and_automation_spark.operators.skew import salted_self_pairs

    df = spark.range(5).selectExpr("id AS rid", "'x' AS k")
    with _pytest.raises(ValueError, match="max_salt"):
        salted_self_pairs(df, ["k"], "rid", max_salt=1)
    with _pytest.raises(ValueError, match="hot_threshold"):
        salted_self_pairs(df, ["k"], "rid", hot_threshold=0)
    with _pytest.raises(ValueError, match="id_col"):
        salted_self_pairs(df, ["k"], "k")


def test_sessions_skip_call_site_capture(spark):
    """get_spark turns PySpark's per-call call-site capture off: with it
    on, this 10-select chain costs about 410 py4j round trips; off,
    about 115."""
    from pyspark.errors.utils import is_debugging_enabled

    from harvester_database_and_automation_spark.observe import py4j_calls

    assert is_debugging_enabled() is False
    df = spark.range(10)
    with py4j_calls(spark) as calls:
        for i in range(10):
            df = df.select((F.col("id") + i).alias("id"))
    assert calls["calls"] < 200
    assert df.first()["id"] == 45


def test_sessions_reuse_generated_code(spark):
    """get_spark sizes the codegen cache past the engine's working set: 100
    plans, each inlining its own literal (two classes each, 200 in all), run
    twice compile nothing the second time. Spark's 100-entry default evicts
    every class before its reuse and recompiles all 200."""
    from harvester_database_and_automation_spark.observe import codegen_compiles

    def sweep():
        return [spark.range(1).select((F.col("id") + i).alias("v")).collect()[0]["v"] for i in range(100)]

    sweep()
    with codegen_compiles(spark) as c:
        assert sweep() == list(range(100))
    assert c["compiles"] == 0
