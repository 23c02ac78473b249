"""Tests for the sources layer: FASTA, JSON-lines, CSV, quarantine."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from harvester_database_and_automation_spark.sources import (
    check_field_drift,
    read_fasta,
    read_jsonl,
    validate,
    write_fasta,
)
from harvester_database_and_automation_spark.sources.quarantine import not_null
from harvester_database_and_automation_spark.sources.tabular import read_csv_strict

FASTA = """>seq1 Switzerland/ZH/2021
ACGTACGT
ACGTNNNN
>seq2
TTTT
>seq3 with a longer description
AC GT
"""


@pytest.fixture()
def fasta_path(tmp_path):
    p = tmp_path / "in.fasta"
    p.write_text(FASTA)
    return str(p)


def test_read_fasta(spark, fasta_path):
    rows = {r["name"]: r for r in read_fasta(spark, fasta_path).collect()}
    assert set(rows) == {"seq1", "seq2", "seq3"}
    assert rows["seq1"]["sequence"] == "ACGTACGTACGTNNNN"  # multi-line joined
    assert rows["seq1"]["description"] == "Switzerland/ZH/2021"
    assert rows["seq2"]["description"] == ""
    assert rows["seq2"]["sequence"] == "TTTT"
    assert rows["seq3"]["description"] == "with a longer description"
    assert rows["seq3"]["sequence"] == "ACGT"  # internal whitespace stripped


def test_fasta_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "ACGTACGTACGT"), ("b", "TTTTT")], "name string, sequence string"
    )
    out = str(tmp_path / "out_fasta")
    write_fasta(df, out, wrap=5)
    back = {r["name"]: r["sequence"] for r in read_fasta(spark, out).collect()}
    assert back == {"a": "ACGTACGTACGT", "b": "TTTTT"}


def test_write_fasta_max_records_per_file(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"s{i}", "ACGT") for i in range(10)], "name string, sequence string"
    ).coalesce(1)
    out = tmp_path / "chunked"
    write_fasta(df, str(out), max_records_per_file=3)
    data_files = [p for p in out.iterdir() if p.name.startswith("part-")]
    assert len(data_files) >= 4  # 10 records / 3 per file


def test_read_jsonl_quarantines_corrupt(spark, tmp_path):
    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "name": "x"}\n'
        "this is not json\n"
        '{"id": 2, "name": "y"}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    scan = read_jsonl(spark, str(p), schema)
    assert {r["id"] for r in scan.good.collect()} == {1, 2}
    assert scan.corrupt.count() == 1
    assert "not json" in scan.corrupt.collect()[0][0]
    # release() must drop the shared PARENT cache — unpersisting the
    # filtered views is a CacheManager no-op (the feed-import leak class).
    assert scan.parsed.storageLevel.useMemory
    scan.release()
    assert not scan.parsed.storageLevel.useMemory


def test_read_jsonl_xz_spools_line_aligned_chunks(spark, tmp_path):
    """provision.json.xz parity: stream-decompress to multiple line-aligned
    spool files, then the normal schema'd read with quarantine + drift."""
    import lzma

    from harvester_database_and_automation_spark.sources.jsonl import (
        check_field_drift,
        read_jsonl_xz,
        spool_xz_jsonl,
    )

    lines = [f'{{"id": {i}, "name": "doc{i}"}}' for i in range(200)]
    lines[50] = "broken json line"
    xz = tmp_path / "provision.json.xz"
    xz.write_bytes(lzma.compress(("\n".join(lines)).encode()))  # no trailing \n

    spool = tmp_path / "spool"
    paths = spool_xz_jsonl(str(xz), str(spool), chunk_bytes=2000)
    assert len(paths) > 1, "small chunk size must rotate into several files"
    for p in paths:
        raw = open(p, "rb").read()
        assert raw.endswith(b"\n") and b"{" in raw  # line-aligned cuts

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    scan = read_jsonl_xz(spark, str(xz), schema, str(tmp_path / "spool2"), chunk_bytes=2000)
    assert scan.good.count() == 199
    assert scan.corrupt.count() == 1
    assert {r["id"] for r in scan.good.collect()} == set(range(200)) - {50}
    scan.release()

    rep = check_field_drift(spark, str(tmp_path / "spool2"), required={"id", "name"})
    assert rep.ok


def test_check_field_drift(spark, tmp_path):
    p = tmp_path / "feed.jsonl"
    p.write_text('{"covv_virus_name": "a", "covv_location": "b", "surprise": 1}\n')
    rep = check_field_drift(
        spark,
        str(p),
        required={"covv_virus_name", "covv_collection_date"},
        expected={"covv_location"},
    )
    assert rep.missing_required == {"covv_collection_date"}
    assert rep.unexpected == {"surprise"}
    assert not rep.ok
    ok_rep = check_field_drift(spark, str(p), required={"covv_virus_name"})
    assert ok_rep.ok


def test_read_csv_semicolon_typed(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("sample", T.StringType()),
            T.StructField("clade", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    p = tmp_path / "nextclade.csv"
    p.write_text("sample;clade;score\ns1;20A;0.5\ns3;21K;1.25\n")
    got = {tuple(r) for r in read_csv_strict(spark, str(p), schema, sep=";").collect()}
    assert got == {("s1", "20A", 0.5), ("s3", "21K", 1.25)}
    bad = tmp_path / "nextclade_bad.csv"
    bad.write_text("sample;clade;score\ns1;20A;0.5\ns2;20B;oops\n")
    with pytest.raises(Exception, match="s2;20B;oops"):
        read_csv_strict(spark, str(bad), schema, sep=";").collect()


def test_read_csv_strict_one_pass_tripwire(spark, tmp_path):
    """The strict reader returns clean rows in one pass and fails the
    scan in-plan — with the raw line in the message — on corrupt input
    (no quarantine cache, no second emptiness action)."""
    import pytest as _pytest

    schema = T.StructType(
        [
            T.StructField("sample", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    clean = tmp_path / "clean.csv"
    clean.write_text("sample,score\ns1,0.5\ns2,1.25\n")
    got = read_csv_strict(spark, str(clean), schema).collect()
    assert {(r["sample"], r["score"]) for r in got} == {("s1", 0.5), ("s2", 1.25)}

    bad = tmp_path / "bad.csv"
    bad.write_text("sample,score\ns1,0.5\ns2,oops\n")
    with _pytest.raises(Exception, match="corrupt record in strict read"):
        read_csv_strict(spark, str(bad), schema).collect()


def test_read_csv_strict_guarantee_survives_column_pruning(spark, tmp_path):
    """Spark's CSV scan parses only required columns — a projecting
    caller must still trip on corruption confined to an UNSELECTED
    column, and an action whose natural required schema would be only
    the corrupt-record column (count) must work, not raise Spark's
    corrupt-column AnalysisException."""
    import pytest as _pytest

    schema = T.StructType(
        [
            T.StructField("sample", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    bad = tmp_path / "bad_pruned.csv"
    bad.write_text("sample,score\ns1,0.5\ns2,oops\n")
    with _pytest.raises(Exception, match="corrupt record in strict read"):
        read_csv_strict(spark, str(bad), schema).select("sample").collect()
    with _pytest.raises(Exception, match="corrupt record in strict read"):
        read_csv_strict(spark, str(bad), schema).count()

    clean = tmp_path / "clean_pruned.csv"
    clean.write_text("sample,score\ns1,0.5\ns2,1.25\n")
    assert read_csv_strict(spark, str(clean), schema).count() == 2
    assert {r["sample"] for r in read_csv_strict(spark, str(clean), schema).select("sample").collect()} == {"s1", "s2"}


def test_validate_quarantine_reasons(spark):
    df = spark.createDataFrame(
        [
            (1, "B.1.1.7", "2021-03-01"),
            (2, None, "2021-03-02"),
            (3, "XYZ", "1999-01-01"),
        ],
        "id int, lineage string, d string",
    ).withColumn("d", F.col("d").cast("date"))
    good, bad = validate(
        df,
        {
            "lineage_required": not_null("lineage"),
            "lineage_valid": F.col("lineage").rlike(r"^[A-Z]+(\.[0-9]+)*$"),
            "date_in_range": F.col("d").between(
                F.lit("2020-02-24").cast("date"), F.current_date()
            ),
        },
    )
    assert [r["id"] for r in good.collect()] == [1]
    reasons = {r["id"]: set(r["_failed_checks"]) for r in bad.collect()}
    assert reasons == {
        2: {"lineage_required", "lineage_valid"},
        3: {"date_in_range"},
    }


def test_export_chunked_csv_and_upload(spark, tmp_path):
    """S7: no part file exceeds the line cap; the upload manifest records
    name/size/sha256 of exactly what the fake transport received."""
    import hashlib

    from harvester_database_and_automation_spark.sources.export import (
        export_chunked_csv,
        upload_files,
    )

    df = spark.range(10).selectExpr("id", "concat('name-', id) AS name").coalesce(2)
    out = str(tmp_path / "export")
    paths = export_chunked_csv(df, out, max_lines_per_file=3)
    assert paths
    all_rows = []
    for p in paths:
        lines = open(p).read().splitlines()
        assert lines[0] == "id,name"  # header on every chunk
        assert len(lines) - 1 <= 3  # the 100-line contract, scaled down
        all_rows += lines[1:]
    assert sorted(all_rows) == sorted(f"{i},name-{i}" for i in range(10))

    received = {}

    def fake_transport(dest, name, payload):
        received[(dest, name)] = payload

    manifest = upload_files(paths, "dav://export", fake_transport)
    assert {m.file_name for m in manifest} == {("dav://export", k)[1] for _, k in received}
    for m in manifest:
        payload = received[("dav://export", m.file_name)]
        assert m.n_bytes == len(payload)
        assert m.sha256 == hashlib.sha256(payload).hexdigest()


def test_read_gzip_csv_transparently(spark, tmp_path):
    """Hadoop's codec layer decompresses .gz CSVs transparently — the
    compressed-feed path (the reference's xz feed is the only codec that
    needs the explicit spool in sources/jsonl.py)."""
    import gzip

    p = tmp_path / "feed.csv.gz"
    with gzip.open(p, "wt") as fh:
        fh.write("sample;clade;score\ns1;20A;0.5\ns2;20B;1.5\n")
    schema = T.StructType(
        [
            T.StructField("sample", T.StringType()),
            T.StructField("clade", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    got = read_csv_strict(spark, str(p), schema, sep=";").collect()
    assert {(r["sample"], r["score"]) for r in got} == {("s1", 0.5), ("s2", 1.5)}


def test_orc_roundtrip_with_predicate_pushdown(spark, tmp_path):
    """ORC sits next to parquet as a first-class columnar sink: write,
    read back identical, and confirm the filter reaches the ORC scan
    (searchArgument/pushed filters) so row-group skipping works."""
    path = str(tmp_path / "t.orc")
    df = spark.range(1000).selectExpr("id", "id % 7 AS k", "cast(id * 1.5 as double) AS v")
    df.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.count() == 1000
    filtered = back.filter("k = 3")
    assert filtered.count() == df.filter("k = 3").count()
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "k" in plan.split("PushedFilters:")[1][:80]


def test_read_fasta_crlf(spark, tmp_path):
    p = tmp_path / "win.fasta"
    p.write_bytes(b">seq1 first desc\r\nACGT\r\nTTAA\r\n>seq2\r\nGGCC\r\n")
    from harvester_database_and_automation_spark.sources.fasta import read_fasta

    rows = {r["name"]: (r["description"], r["sequence"]) for r in read_fasta(spark, str(p)).collect()}
    assert rows == {"seq1": ("first desc", "ACGTTTAA"), "seq2": ("", "GGCC")}
