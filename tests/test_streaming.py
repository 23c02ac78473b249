"""Tests for the streaming layer: watermarked windows, stateful per-key
counts, the published-table sinks and the replay spool."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from harvester_database_and_automation_spark.streaming import (
    running_dedup_counts,
    windowed_event_counts,
)


def test_windowed_event_counts_batch_semantics(spark):
    events = spark.createDataFrame(
        [
            ("2024-01-01 10:05:00", "click", 1.0),
            ("2024-01-01 10:55:00", "click", 2.0),
            ("2024-01-01 11:05:00", "click", 4.0),
            ("2024-01-01 10:10:00", "view", 8.0),
        ],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in windowed_event_counts(events).collect()
    }
    assert got == {
        ("2024-01-01 10:00:00", "click"): (2, 3.0),
        ("2024-01-01 11:00:00", "click"): (1, 4.0),
        ("2024-01-01 10:00:00", "view"): (1, 8.0),
    }


def test_windowed_event_counts_streaming_with_watermark(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    out = str(tmp_path / "win_out")
    (src / "e1.json").write_text(
        '{"ts": "2024-01-01T10:05:00", "event_type": "click", "value": 1.0}\n'
        '{"ts": "2024-01-01T10:20:00", "event_type": "click", "value": 2.0}\n'
    )
    schema = "ts timestamp, event_type string, value double"

    def run_poll():
        stream = spark.readStream.schema(schema).json(str(src))
        (
            windowed_event_counts(stream, window="30 minutes", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")  # requires the watermark -> exercises it
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_poll()
    # Append mode emits only windows the watermark has closed; nothing yet.
    assert spark.read.schema(
        "window_start timestamp, window_end timestamp, event_type string,"
        " n_events bigint, total_value double"
    ).parquet(out).count() == 0

    # A much later event advances the watermark past the first window.
    (src / "e2.json").write_text(
        '{"ts": "2024-01-01T12:00:00", "event_type": "view", "value": 5.0}\n'
    )
    run_poll()
    rows = spark.read.parquet(out).collect()
    got = {(str(r["window_start"]), r["event_type"]): r["n_events"] for r in rows}
    assert got == {("2024-01-01 10:00:00", "click"): 2}


def test_running_dedup_counts_state_survives_batches(spark, tmp_path):
    src = tmp_path / "keys"
    src.mkdir()
    (src / "b1.json").write_text('{"key": "a"}\n{"key": "a"}\n{"key": "b"}\n')
    schema = "key string"

    out = str(tmp_path / "counts_out")

    def run_batch(tag: str):
        stream = spark.readStream.schema(schema).json(str(src))

        def sink(batch_df, _batch_id):
            batch_df.withColumn("run", F.lit(tag)).write.mode("append").parquet(out)

        q = (
            running_dedup_counts(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["key"]: (r["total_seen"], r["new_in_batch"])
            for r in spark.read.parquet(out).filter(F.col("run") == tag).collect()
        }

    first = run_batch("r1")
    assert first == {"a": (2, 2), "b": (1, 1)}

    (src / "b2.json").write_text('{"key": "a"}\n')
    second = run_batch("r2")
    # State for 'a' carried across the restart via the checkpoint.
    assert second["a"] == (3, 1)


def test_dedup_within_watermark_streaming(spark, tmp_path):
    from harvester_database_and_automation_spark.streaming import dedup_within_watermark

    src = tmp_path / "dd"
    src.mkdir()
    out = str(tmp_path / "dd_out")
    schema = "ts timestamp, sample_id string, payload string"
    (src / "b1.json").write_text(
        '{"ts": "2024-01-01T10:00:00", "sample_id": "s1", "payload": "first"}\n'
        '{"ts": "2024-01-01T10:01:00", "sample_id": "s1", "payload": "dup"}\n'
        '{"ts": "2024-01-01T10:02:00", "sample_id": "s2", "payload": "first"}\n'
    )

    def run_poll():
        stream = spark.readStream.schema(schema).json(str(src))
        (
            dedup_within_watermark(stream, ["sample_id"], watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_poll()
    rows = spark.read.schema(schema).parquet(out).collect()
    assert {(r["sample_id"], r["payload"]) for r in rows} == {("s1", "first"), ("s2", "first")}

    # A duplicate arriving in a later batch but inside the horizon is
    # still suppressed (state persisted via the checkpoint).
    (src / "b2.json").write_text(
        '{"ts": "2024-01-01T10:30:00", "sample_id": "s2", "payload": "late-dup"}\n'
        '{"ts": "2024-01-01T10:31:00", "sample_id": "s3", "payload": "first"}\n'
    )
    run_poll()
    rows = spark.read.schema(schema).parquet(out).collect()
    assert len(rows) == 3 and {r["sample_id"] for r in rows} == {"s1", "s2", "s3"}


def test_dedup_within_watermark_batch_degrades(spark):
    from harvester_database_and_automation_spark.streaming import dedup_within_watermark

    df = spark.createDataFrame(
        [("2024-01-01 10:00:00", "a"), ("2024-01-01 10:05:00", "a")],
        "ts string, k string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert dedup_within_watermark(df, ["k"]).count() == 1


def test_stream_upsert_into_published(spark, tmp_path):
    """foreachBatch upsert sink: arriving files merge into the published
    table through the same ``operators.merge.merge_delta`` as batch
    ingest, one atomic
    version per poll, with the checkpoint as the processed-file ledger."""
    from harvester_database_and_automation_spark.operators.publish import (
        current_version,
        read_published,
    )
    from harvester_database_and_automation_spark.streaming import (
        stream_upsert_into_published,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("v", T.StringType())]
    )

    (src / "a.csv").write_text("1,one\n2,two\n")
    stream_upsert_into_published(spark, str(src), schema, ckpt, table, keys=["id"])
    assert {(r["id"], r["v"]) for r in read_published(spark, table).collect()} == {
        (1, "one"),
        (2, "two"),
    }

    # Second poll: an update for key 2 and an insert for key 3; key 1 kept.
    (src / "b.csv").write_text("2,TWO\n3,three\n")
    stream_upsert_into_published(spark, str(src), schema, ckpt, table, keys=["id"])
    assert {(r["id"], r["v"]) for r in read_published(spark, table).collect()} == {
        (1, "one"),
        (2, "TWO"),
        (3, "three"),
    }

    # Idempotent poll with nothing new: no version churn.
    v_before = current_version(table)
    stream_upsert_into_published(spark, str(src), schema, ckpt, table, keys=["id"])
    assert current_version(table) == v_before


def test_session_windowed_counts_batch_and_stream(spark, tmp_path):
    """Session windows close after the gap; a late-but-within-gap event
    extends the session. Checked in batch mode, then the same operator is
    run as a real stream over a file source with AvailableNow."""
    from harvester_database_and_automation_spark.streaming.windows import (
        session_windowed_counts,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:20:00", 2.0),  # within 30m gap -> same session
        (1, "2024-01-01 11:30:00", 4.0),  # > 30m after previous -> new session
        (2, "2024-01-01 10:05:00", 8.0),
    ]
    batch = spark.createDataFrame(rows, "user_id long, ts_s string, value double").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    got = {
        (r["user_id"], str(r["session_start"]), r["n_events"], r["total_value"])
        for r in session_windowed_counts(batch).collect()
    }
    assert got == {
        (1, "2024-01-01 10:00:00", 2, 3.0),
        (1, "2024-01-01 11:30:00", 1, 4.0),
        (2, "2024-01-01 10:05:00", 1, 8.0),
    }

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    batch.write.parquet(str(src / "b1"))

    def run_poll():
        stream = spark.readStream.schema(batch.schema).parquet(str(src / "*"))
        (
            session_windowed_counts(stream, watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")  # emits only watermark-closed sessions
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_poll()
    out_schema = (
        "session_start timestamp, session_end timestamp, user_id long,"
        " n_events bigint, total_value double"
    )
    # First poll: watermark hasn't advanced past any session end yet.
    assert spark.read.schema(out_schema).parquet(out).count() == 0

    # A much later event pushes the watermark beyond the earlier sessions.
    spark.createDataFrame(
        [(9, "2024-01-02 09:00:00", 0.5)], "user_id long, ts_s string, value double"
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value").write.parquet(
        str(src / "b2")
    )
    run_poll()
    streamed = spark.read.schema(out_schema).parquet(out)
    # the stream finalized exactly the three sessions the batch run produced
    assert streamed.count() == 3
    assert {r["user_id"] for r in streamed.collect()} == {1, 2}


def test_streaming_change_router_classifies_against_state(spark, tmp_path):
    from harvester_database_and_automation_spark.streaming.changefeed import (
        streaming_change_router,
    )

    src = tmp_path / "feed"
    src.mkdir()
    (src / "b1.json").write_text(
        '{"id": "s1", "content_hash": "h1"}\n{"id": "s2", "content_hash": "h2"}\n'
    )
    schema = "id string, content_hash string"
    out = str(tmp_path / "routed")

    def run_batch(tag: str):
        stream = spark.readStream.schema(schema).json(str(src))

        def sink(batch_df, _batch_id):
            batch_df.withColumn("run", F.lit(tag)).write.mode("append").parquet(out)

        q = (
            streaming_change_router(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["id"], r["content_hash"]): r["change_kind"]
            for r in spark.read.parquet(out).filter(F.col("run") == tag).collect()
        }

    first = run_batch("r1")
    assert first == {("s1", "h1"): "insert", ("s2", "h2"): "insert"}

    # s1 re-arrives unchanged, s2 with new content, s3 is brand new.
    (src / "b2.json").write_text(
        '{"id": "s1", "content_hash": "h1"}\n'
        '{"id": "s2", "content_hash": "h9"}\n'
        '{"id": "s3", "content_hash": "h3"}\n'
    )
    second = run_batch("r2")
    # Hash state for s1/s2 survived the restart via the checkpoint.
    assert second == {
        ("s1", "h1"): "unchanged",
        ("s2", "h9"): "update",
        ("s3", "h3"): "insert",
    }


def test_change_router_classify_fold():
    """The per-key fold behind ``streaming_change_router``: first sight
    inserts, an in-batch re-arrival is unchanged, and the returned
    last-hash carries the state into the next batch."""
    from harvester_database_and_automation_spark.streaming.changefeed import _classify

    # Batch 1: first sight inserts, immediate re-arrival unchanged.
    kinds, last = _classify(None, ["h1", "h1"])
    assert (kinds, last) == (["insert", "unchanged"], "h1")
    # Batch 2 (state carried from batch 1): same hash unchanged, new hash
    # update, then unchanged against the NEW hash.
    kinds, last = _classify(last, ["h1", "h9", "h9"])
    assert (kinds, last) == (["unchanged", "update", "unchanged"], "h9")


def test_streaming_cms_maintains_published_grid(spark, tmp_path):
    """The published grid after N polls equals the grid computed from all
    data at once (cell-wise additive merge), and a re-poll with no new
    files changes nothing."""
    from harvester_database_and_automation_spark.operators.publish import read_published
    from harvester_database_and_automation_spark.operators.sketches import count_min_cells
    from harvester_database_and_automation_spark.streaming import stream_cms_into_published

    src = tmp_path / "incoming"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "cms_grid")
    schema = T.StructType([T.StructField("word", T.StringType())])

    def grid(df):
        return {(r["j"], r["pos"]): r["c"] for r in df.collect()}

    (src / "a.csv").write_text("alpha\nbeta\nalpha\n")
    stream_cms_into_published(spark, str(src), schema, ckpt, table, "word", width=64, depth=2)
    all_rows = spark.createDataFrame([("alpha",), ("beta",), ("alpha",)], schema)
    assert grid(read_published(spark, table)) == grid(count_min_cells(all_rows, "word", 64, 2))

    (src / "b.csv").write_text("beta\ngamma\n")
    stream_cms_into_published(spark, str(src), schema, ckpt, table, "word", width=64, depth=2)
    all_rows = spark.createDataFrame(
        [("alpha",), ("beta",), ("alpha",), ("beta",), ("gamma",)], schema
    )
    want = grid(count_min_cells(all_rows, "word", 64, 2))
    assert grid(read_published(spark, table)) == want

    # No new files: the ledger skips everything, the grid is unchanged.
    stream_cms_into_published(spark, str(src), schema, ckpt, table, "word", width=64, depth=2)
    assert grid(read_published(spark, table)) == want


def test_streaming_cms_rejects_foreign_checkpoint(spark, tmp_path):
    import pytest
    from harvester_database_and_automation_spark.streaming import stream_cms_into_published

    src = tmp_path / "incoming"
    src.mkdir()
    (src / "a.csv").write_text("alpha\n")
    schema = T.StructType([T.StructField("word", T.StringType())])
    table = str(tmp_path / "grid")
    stream_cms_into_published(spark, str(src), schema, str(tmp_path / "ck1"), table, "word")
    with pytest.raises(ValueError, match="checkpoint"):
        stream_cms_into_published(spark, str(src), schema, str(tmp_path / "ck2"), table, "word")


def test_streaming_cms_rejects_geometry_change(spark, tmp_path):
    """Merging deltas of a different grid geometry into a published sketch
    must be refused — cell positions are width/depth-addressed."""
    import pytest as _pytest

    from pyspark.sql import types as T

    from harvester_database_and_automation_spark.streaming.sketch_sink import (
        stream_cms_into_published,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.csv").write_text("w\nfoo\nbar\n")
    schema = T.StructType([T.StructField("w", T.StringType())])
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "grid")
    stream_cms_into_published(
        spark, str(src), schema, ckpt, table, col="w", width=64, depth=2,
        reader_options={"header": "true"},
    )
    with _pytest.raises(ValueError, match="width"):
        stream_cms_into_published(
            spark, str(src), schema, ckpt, table, col="w", width=128, depth=2,
            reader_options={"header": "true"},
        )


def test_spool_batches_appends_after_existing_files(spark, tmp_path):
    """A second spool call numbers its file, and sets its mtime, after the
    files already in the feed dir, so a file stream picks it up next."""
    import os

    from harvester_database_and_automation_spark.streaming import spool_batches

    feed = str(tmp_path / "feed")
    spool_batches(feed, [spark.range(3), spark.range(2)])
    spool_batches(feed, [spark.range(1)])
    names = sorted(os.listdir(feed))
    assert names == ["batch_0.json", "batch_1.json", "batch_2.json"]
    mtimes = [os.stat(os.path.join(feed, n)).st_mtime for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    assert sorted(os.listdir(tmp_path)) == ["feed"]  # stage dirs removed
    assert spark.read.json(feed).count() == 6


def test_spool_batches_one_write_for_any_batch_count(spark, tmp_path):
    """All batches of one spool call land in one Spark write: spooling
    three batches launches no more jobs than spooling one."""
    from harvester_database_and_automation_spark.streaming import spool_batches

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(feed: str, batches) -> int:
        before = scheduler.numTotalJobs()
        spool_batches(str(tmp_path / feed), batches)
        return scheduler.numTotalJobs() - before

    df = spark.range(30)
    one = jobs("one", [df])
    three = jobs("three", [df.filter("id < 10"), df.filter("id >= 10"), df.filter("id < 5")])
    assert three <= one


def test_spool_batches_empty_batch_is_an_empty_file(spark, tmp_path):
    """An empty batch writes no partition but still gets its (empty) file
    in mtime order, so a file stream runs one micro-batch per batch."""
    import os

    from harvester_database_and_automation_spark.streaming import spool_batches

    feed = str(tmp_path / "feed")
    spool_batches(feed, [spark.range(2), spark.range(0), spark.range(1)])
    names = ["batch_0.json", "batch_1.json", "batch_2.json"]
    assert sorted(os.listdir(feed)) == names
    paths = [os.path.join(feed, n) for n in names]
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    assert os.path.getsize(paths[1]) == 0 < os.path.getsize(paths[0])

    seen: list[int] = []
    (
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).json(feed)
        .writeStream.foreachBatch(lambda df, batch_id: seen.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert seen == [2, 0, 1]


def test_replay_harness_error_path_restores_session(spark):
    """A replay whose stream raises inside a micro-batch leaves the session
    as it found it: shuffle partitions restored and no RDD left
    persisted."""
    import pytest

    from pyspark.errors import StreamingQueryException

    from harvester_database_and_automation_spark.plans.streaming_replay import _replay

    def persisted_rdds() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    parent = spark.range(40).select(F.col("id").cast("string").alias("key"))
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    before = persisted_rdds()
    with pytest.raises(StreamingQueryException, match="replay boom"):
        _replay(
            spark,
            [parent.filter("key < '2'"), parent.filter("key >= '2'")],
            "key string",
            lambda s: s.select(F.coalesce(F.raise_error(F.lit("replay boom")), "key").alias("key")),
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
    assert persisted_rdds() == before


def test_replays_share_one_harness():
    """Every registered replay takes its stream, sink, scratch dir and
    state-partition scope from the harness, and the wide-row audit spools
    through ``spool_batches`` instead of its own part-file rename."""
    import inspect
    from pathlib import Path

    from harvester_database_and_automation_spark.plans import QUERIES, streaming_replay
    from harvester_database_and_automation_spark.streaming import spool_batches

    fns = [s.fn for s in QUERIES.values() if s.fn.__module__ == streaming_replay.__name__]
    assert len(fns) == 7
    banned = ("readStream", "writeStream", "awaitTermination", "scratch_dir",
              "_stream_state_partitions", "persist(", ".cache(")
    offenders = [
        (fn.__name__, word) for fn in fns for word in banned if word in inspect.getsource(fn)
    ]
    assert offenders == []
    assert "parent" not in inspect.signature(spool_batches).parameters
    audit = Path(__file__).resolve().parent.parent / "scripts" / "wide_row_audit.py"
    assert "part-*" not in audit.read_text(encoding="utf-8")
