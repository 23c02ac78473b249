"""Integration round-trips as driver-checkable queries.

Sources, sinks, external tools, and the retention write path are easy
to leave as pytest-only components; each query here instead pushes REAL
table data through the actual integration machinery — an embedded-Derby
JDBC write + range-partitioned scan (S1), an xz-compressed feed through
the streaming spool (S2), FASTA write+read (S3), CSV export+typed
re-read (S4), a minimal OOXML workbook through the stdlib xlsx reader
(S5), an HTTP fetch over a real loopback hop (S6), chunked export +
upload manifest (S7), a subprocess map (S8), and erasure + tombstones
through the versioned publish protocol (M3/M4) — and hash-compares the
result against a relational oracle over the source tables, so every
seam of SURVEY §2.1 and the write path carries a driver-green row.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harvester_database_and_automation_spark.catalog import load_table
from harvester_database_and_automation_spark.plans.registry import register
from harvester_database_and_automation_spark.plans.shared import scratch_dir


@register(
    "external_tool_seq_stats",
    survey_ref="S8,external-map",
    oracle="""
WITH c AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z]', '', 'g') AS seq FROM documents
)
SELECT doc_id,
       CAST(length(seq) AS INT) AS seq_len,
       CAST(length(seq) - length(replace(seq, 'a', '')) AS INT) AS n_a
FROM c
""",
)
def external_tool_seq_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The external-process map (S8), driver-hash-certified: pipe every
    document through a real subprocess (`operators/external.run_fasta_tool`
    — per-partition FASTA on stdin, line-oriented stdout, the protocol of
    the reference's batch tool workers, BatchProcessingWorker.java:339-440)
    and have the tool (awk) report per-sequence length and 'a'-count; the
    relational oracle recomputes both, so the hash certifies the FASTA
    framing, the partition batching, and the stdout parse — not just the
    arithmetic. Text is canonicalized to [a-z] so records are one line
    each and FASTA-safe.

    Scale shape: mapPartitions, no shuffle; parallelism = input splits,
    one subprocess per partition (the fanout repartition sizes batches
    to the tool's sweet spot, as the reference batched 500 sequences)."""
    from pyspark.sql import Row

    from harvester_database_and_automation_spark.operators.external import run_fasta_tool
    from harvester_database_and_automation_spark.plans.shared import fanout

    docs = fanout(
        load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("string").alias("name"),
            F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "").alias("sequence"),
        )
    )
    awk = (
        'NR%2==1{n=substr($0,2)} NR%2==0{c=gsub(/a/,"a"); print n"\\t"length($0)"\\t"c}'
    )

    def parse_line(line: str):
        parts = line.split("\t")
        if len(parts) != 3:
            return None
        return Row(doc_id=int(parts[0]), seq_len=int(parts[1]), n_a=int(parts[2]))

    return run_fasta_tool(
        docs,
        ["awk", awk],
        "doc_id long, seq_len int, n_a int",
        parse_line,
    )


@register(
    "fasta_roundtrip",
    survey_ref="S3,source-roundtrip",
    oracle="""
SELECT CAST(doc_id AS VARCHAR) AS name,
       regexp_replace(lower(text), '[^a-z]', '', 'g') AS sequence
FROM documents
""",
)
def fasta_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 source round-trip, driver-hash-certified: write every document
    as FASTA (wrapped at 60 columns, the reference's emitted form) with
    `sources/fasta.write_fasta`, read it back with `read_fasta`, and
    hash-compare against the original rows — header token round-trip,
    line wrapping, and multi-file concatenation all certified in one
    pass. Sequences are canonicalized to [a-z] (FASTA-safe, wrap-safe);
    empty documents round-trip as empty sequences."""

    from harvester_database_and_automation_spark.sources.fasta import read_fasta, write_fasta

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("name"),
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "").alias("sequence"),
    )
    path = scratch_dir(prefix="fasta_rt_") + "/docs.fasta"
    write_fasta(docs, path, wrap=60)
    return read_fasta(spark, path).select("name", "sequence")


@register(
    "csv_typed_roundtrip",
    survey_ref="S4,source-roundtrip,P6",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderpriority,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
FROM orders
""",
)
def csv_typed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 source round-trip, driver-hash-certified: export the orders
    table as quoted CSV, read it back through the mandatory-explicit-
    schema reader (`sources/tabular.read_csv_strict` — no inference,
    ever, SURVEY §1.3), and hash-compare against the source:
    delimiter/quote handling, typed parsing of bigint/date/price columns,
    and the corrupt-row tripwire (which must stay silent on clean data)
    all certified.
    Money round-trips as exact cents; dates render as ISO strings on
    both engines (the date-dtype hash gotcha). Cleanliness is asserted
    by `read_csv_strict`'s in-plan tripwire — ONE distributed parse
    total, where the count-the-quarantine form needed a cached extra
    pass that scaled with the export."""

    from pyspark.sql import types as T

    from harvester_database_and_automation_spark.plans.shared import fanout
    from harvester_database_and_automation_spark.sources.tabular import read_csv_strict

    # fanout: an under-split local scan would otherwise CSV-encode the
    # whole export in one task (no-op on production scans).
    o = fanout(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate", "o_totalprice"
        )
    )
    path = scratch_dir(prefix="csv_rt_") + "/orders_csv"
    o.write.option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("o_orderdate", T.DateType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    good = read_csv_strict(spark, path, schema)
    return good.select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("string").alias("order_date"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("total_cents"),
    )


@register(
    "xlsx_dim_roundtrip",
    survey_ref="S5,source-roundtrip",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""",
)
def xlsx_dim_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 source round-trip, driver-hash-certified: render the nation
    dimension as a minimal OOXML workbook (inline strings + numeric
    cells, stdlib zipfile — the same no-dependency posture as the
    reader) and read it back through `sources/excel.read_xlsx`'s typed,
    header-mapped, chunked path. Certifies cell-reference column
    mapping, inline-string decoding, and numeric typing against the
    original table. Dimension tables are the xlsx-shaped inputs in
    practice (the reference ingests curated spreadsheets of exactly
    this size); the driver-side render is fine at any scale because
    dims are small by definition."""
    import zipfile
    from xml.sax.saxutils import escape

    from pyspark.sql import types as T

    from harvester_database_and_automation_spark.sources.excel import read_xlsx

    rows = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()
    )

    def col_ref(i: int) -> str:  # 0 -> A, 1 -> B ...
        return chr(ord("A") + i)

    body = [
        '<row r="1">'
        + "".join(
            f'<c r="{col_ref(i)}1" t="inlineStr"><is><t>{h}</t></is></c>'
            for i, h in enumerate(("n_nationkey", "n_name", "n_regionkey"))
        )
        + "</row>"
    ]
    for rn, r in enumerate(rows, start=2):
        body.append(
            f'<row r="{rn}">'
            f'<c r="A{rn}"><v>{r["n_nationkey"]}</v></c>'
            f'<c r="B{rn}" t="inlineStr"><is><t>{escape(r["n_name"])}</t></is></c>'
            f'<c r="C{rn}"><v>{r["n_regionkey"]}</v></c>'
            "</row>"
        )
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>" + "".join(body) + "</sheetData></worksheet>"
    )
    path = scratch_dir(prefix="xlsx_rt_") + "/nation.xlsx"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/worksheets/sheet1.xml", sheet)

    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    return read_xlsx(spark, path, schema)


@register(
    "xz_feed_roundtrip",
    survey_ref="S2,source-roundtrip,P6",
    oracle="""
SELECT doc_id, lang, n_chars FROM documents
""",
)
def xz_feed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 xz-feed round-trip, driver-hash-certified: export the documents
    metadata as JSON-lines, compress to ONE .xz blob (the reference's
    provision.json.xz shape, GisaidApiImporter.java:200-217), then run
    the full ingest path — streaming lzma decompress into line-aligned
    spool chunks small enough to force MULTIPLE rotations, schema'd read
    with quarantine (must be empty on clean data), release of the shared
    parse cache — and hash-compare against the source rows. Certifies
    the chunk rotation cuts lines exactly and the spool parallelizes
    without dropping or splitting a record.

    The driver-side compress is the harness seam standing in for the
    upstream API's blob; the spool decompress it feeds IS the production
    code path."""
    import glob
    import lzma
    import shutil

    from pyspark.sql import types as T

    from harvester_database_and_automation_spark.sources.jsonl import read_jsonl_xz

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    root = scratch_dir(prefix="xz_rt_")
    stage = os.path.join(root, "stage")
    docs.coalesce(1).write.json(stage)
    part = glob.glob(os.path.join(stage, "part-*"))[0]
    xz_path = os.path.join(root, "feed.json.xz")
    with open(part, "rb") as fh, lzma.open(xz_path, "wb") as out:
        shutil.copyfileobj(fh, out)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    scan = read_jsonl_xz(
        spark, xz_path, schema, os.path.join(root, "spool"), chunk_bytes=64 * 1024
    )
    try:
        n_corrupt = scan.corrupt.count()
        if n_corrupt:
            raise ValueError(f"clean feed must re-read clean; {n_corrupt} corrupt lines")
        out_df = scan.good.select("doc_id", "lang", "n_chars")
    finally:
        scan.release()
    return out_df


@register(
    "erasure_publish_roundtrip",
    survey_ref="M3,M4,governance",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_custkey % 10 = 3 THEN NULL ELSE c_name END AS c_name,
       CASE WHEN c_custkey % 10 = 3 THEN NULL
            ELSE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) END AS acct_cents,
       c_mktsegment
FROM customer
WHERE c_custkey % 100 <> 7
""",
)
def erasure_publish_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 retention enforcement, driver-hash-certified THROUGH the write
    path: publish the customer table (version 1), null the identifying
    columns of the `% 10 == 3` retention cohort (`operators/merge.
    erase_columns` — the reference's BAG column deletion), hard-delete
    the `% 100 == 7` tombstone cohort (`apply_deletes`), republish
    (version 2), and read the published table back. The oracle states
    the post-retention truth directly, so surviving PII in an erased
    row, a lost non-cohort row, or a torn publish all break the hash —
    this is the audit a GDPR deletion run needs, exercised against real
    published files rather than an in-memory frame.

    Scale shape: erasure is a pure projection, deletion an anti-join on
    keys, publish an atomic directory swap — one pass each."""

    from harvester_database_and_automation_spark.operators.merge import (
        apply_deletes,
        erase_columns,
    )
    from harvester_database_and_automation_spark.operators.publish import (
        publish_versioned,
        read_published,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("acct_cents"),
        "c_mktsegment",
    )
    table = scratch_dir(prefix="erasure_rt_") + "/customer"
    publish_versioned(c, table)

    current = read_published(spark, table)
    erased = erase_columns(
        current, ["c_name", "acct_cents"], F.col("c_custkey") % 10 == 3
    )
    tombstones = current.filter(F.col("c_custkey") % 100 == 7).select("c_custkey")
    retained = apply_deletes(erased, tombstones, ["c_custkey"])
    publish_versioned(retained, table)

    return read_published(spark, table).select(
        "c_custkey", "c_name", "acct_cents", "c_mktsegment"
    )


@register(
    "values_flag_update",
    survey_ref="M5,M4,J10",
    oracle="""
WITH plates AS (
  SELECT CAST(s_suppkey AS BIGINT) AS sample_number,
         'PLATE_' || CAST(s_suppkey % 23 AS VARCHAR) AS plate_name,
         chr(65 + CAST(s_suppkey % 8 AS INT)) || CAST(s_suppkey % 12 + 1 AS VARCHAR)
           AS well_position,
         s_name
  FROM supplier
),
vals AS (
  SELECT * FROM (VALUES ('PLATE_1','B2'), ('PLATE_3','D4'), ('PLATE_7','H8'),
                        ('PLATE_99','Z9'))
           AS t(plate_name, well_position)
)
SELECT p.sample_number, p.plate_name, p.well_position, p.s_name,
       EXISTS(SELECT 1 FROM vals v
              WHERE v.plate_name = p.plate_name
                AND v.well_position = p.well_position) AS seq_request
FROM plates p
""",
)
def values_flag_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 — UPDATE from an inline VALUES frame, driver-hash-certified
    THROUGH the write path: the reference flips ``seq_request = TRUE`` on
    the (plate, well) pairs listed literally in the script
    (database/sql/viollier_test.sql:98-112). Here: publish the plate
    table (version 1, flag false everywhere), run
    ``operators/merge.update_from`` with a 4-row in-memory VALUES frame,
    republish (version 2), and read the published table back.

    The VALUES list includes ('PLATE_99','Z9'), which matches no plate —
    certifying UPDATE (never insert) semantics: the oracle's EXISTS
    yields the same row count as the source table, so a spurious insert
    breaks both the row count and the hash. Multiple samples can share a
    (plate, well) key at larger SFs (suppkey mod-cycle 552) — UPDATE
    flags them all, matching SQL UPDATE..FROM.

    Scale shape: the VALUES frame is broadcast, so the fact table never
    shuffles; publish is an atomic directory swap (M4)."""

    from harvester_database_and_automation_spark.operators.merge import update_from
    from harvester_database_and_automation_spark.operators.publish import (
        publish_versioned,
        read_published,
    )

    s = load_table(spark, sf_dir, "supplier")
    plates = s.select(
        F.col("s_suppkey").cast("bigint").alias("sample_number"),
        F.concat(F.lit("PLATE_"), (F.col("s_suppkey") % 23).cast("string")).alias("plate_name"),
        F.concat(
            F.char(F.lit(65) + (F.col("s_suppkey") % 8).cast("int")),
            (F.col("s_suppkey") % 12 + 1).cast("string"),
        ).alias("well_position"),
        "s_name",
        F.lit(False).alias("seq_request"),
    )
    table = scratch_dir(prefix="values_upd_") + "/plates"
    publish_versioned(plates, table)

    vals = spark.createDataFrame(
        [("PLATE_1", "B2"), ("PLATE_3", "D4"), ("PLATE_7", "H8"), ("PLATE_99", "Z9")],
        "plate_name string, well_position string",
    ).withColumn("seq_request", F.lit(True))
    updated = update_from(
        read_published(spark, table),
        vals,
        keys=["plate_name", "well_position"],
        set_cols=["seq_request"],
    )
    publish_versioned(updated, table)

    return read_published(spark, table).select(
        "sample_number", "plate_name", "well_position", "s_name", "seq_request"
    )


@register(
    "http_fetch_roundtrip",
    survey_ref="S6,source-roundtrip",
    oracle="""
SELECT r_regionkey, r_name FROM region
""",
)
def http_fetch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 fetcher, driver-hash-certified over a REAL HTTP hop: serve the
    region dimension as JSON-lines from an in-process `http.server` on a
    loopback ephemeral port, fetch it with `sources/http.fetch_to_file`
    (urllib transport, retry/backoff, atomic temp-file + rename), and
    read the fetched spool file back through the schema'd JSON reader.
    The hash against the source table certifies the whole
    fetch-spool-parse chain — including that the atomic write leaves a
    complete, line-terminated file — with the network layer actually
    exercised rather than stubbed (the injectable transport remains the
    unit-test seam; the default urllib path is what runs here)."""
    import glob
    import http.server
    import shutil
    import socketserver
    import threading

    from pyspark.sql import types as T

    from harvester_database_and_automation_spark.sources.http import fetch_to_file
    from harvester_database_and_automation_spark.sources.jsonl import read_jsonl

    root = scratch_dir(prefix="http_rt_")
    serve = os.path.join(root, "serve")
    os.makedirs(serve)
    stage = os.path.join(root, "stage")
    load_table(spark, sf_dir, "region").select("r_regionkey", "r_name").coalesce(1).write.json(
        stage
    )
    shutil.move(glob.glob(os.path.join(stage, "part-*"))[0], os.path.join(serve, "region.json"))

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=serve, **kw)

        def log_message(self, *a):  # keep the driver log quiet
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), Handler) as httpd:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        try:
            dest = os.path.join(root, "fetched", "region.json")
            fetch_to_file(f"http://127.0.0.1:{port}/region.json", dest)
        finally:
            httpd.shutdown()
            t.join()

    schema = T.StructType(
        [T.StructField("r_regionkey", T.LongType()), T.StructField("r_name", T.StringType())]
    )
    scan = read_jsonl(spark, os.path.dirname(dest), schema)
    try:
        n_corrupt = scan.corrupt.count()
        if n_corrupt:
            raise ValueError(f"fetched feed must parse clean; {n_corrupt} corrupt lines")
        out = scan.good.select("r_regionkey", "r_name")
        out = spark.createDataFrame(out.collect(), schema)  # detach from the cache before release
    finally:
        scan.release()
    return out


@register(
    "jdbc_roundtrip",
    survey_ref="S1,source-roundtrip",
    oracle="""
SELECT c_custkey, c_name, c_nationkey FROM customer
""",
)
def jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 JDBC connector, driver-hash-certified against a REAL database:
    append the customer table into an embedded Derby instance through
    `sources/jdbc.write_jdbc_append` (batched inserts, bounded
    connections), then scan it back RANGE-PARTITIONED on the key
    (`read_jdbc_table` with partitionColumn/bounds — the parallel-scan
    mode a warehouse extract uses, utility.R:413-416) and hash-compare
    with the source. A dropped batch, a bounds-off-by-one splitting the
    key range, or type mangling across the JDBC bridge all break the
    hash. Fresh database per call; single-JVM Derby stands in for the
    warehouse exactly as in the test suite."""

    from harvester_database_and_automation_spark.sources.jdbc import (
        read_jdbc_table,
        write_jdbc_append,
    )

    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    db_dir = scratch_dir(prefix="jdbc_rt_") + "/db"
    url = f"jdbc:derby:{db_dir};create=true"

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute(
        "CREATE TABLE customer (c_custkey BIGINT, c_name VARCHAR(64), c_nationkey INT)"
    )
    st.close()
    conn.close()

    write_jdbc_append(c, url, "customer", driver=driver, num_partitions=4)
    bounds = c.agg(F.min("c_custkey"), F.max("c_custkey")).first()
    return read_jdbc_table(
        spark,
        url,
        "customer",
        driver=driver,
        partition_column="c_custkey",
        lower_bound=int(bounds[0]),
        upper_bound=int(bounds[1]) + 1,
        num_partitions=8,
    ).select("c_custkey", "c_name", "c_nationkey")


@register(
    "chunked_export_roundtrip",
    survey_ref="S7,source-roundtrip",
    oracle="""
SELECT o_orderkey, o_orderpriority FROM orders
""",
)
def chunked_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 chunked export + upload manifest, driver-hash-certified: export
    orders as CSV chunks capped at 1000 data rows (the
    MAX_LINES_PER_FILE contract), ship every chunk through an upload
    transport into a destination directory, verify the manifest's
    byte-size and sha256 against what actually landed, then re-read the
    UPLOADED copies through the typed CSV reader and hash-compare with
    the source. A chunk over budget, a dropped or truncated upload, or
    a manifest hash that does not match the landed bytes all raise; a
    lost row breaks the hash.

    Both verification passes are DISTRIBUTED: the chunk-budget check is
    a text scan grouped by input_file_name (no driver line-counting),
    and the landed-bytes audit is a binaryFile scan hashed with sha2 and
    full-outer-joined against the manifest — the driver only ever holds
    the manifest itself (one row per chunk, the transport layer's own
    return value) and at most one mismatch row."""

    from pyspark.sql import types as T

    from harvester_database_and_automation_spark.sources.export import (
        export_chunked_csv,
        upload_files,
    )
    from harvester_database_and_automation_spark.sources.tabular import read_csv_strict

    from harvester_database_and_automation_spark.plans.shared import fanout

    # fanout: an under-split local scan would otherwise CSV-encode and
    # write every chunk from one task; each of the n tasks writes its own
    # ≤1000-row chunk files in parallel (no-op on production scans).
    o = fanout(load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"))
    root = scratch_dir(prefix="export_rt_")
    out_dir = os.path.join(root, "chunks")
    paths = export_chunked_csv(o, out_dir, max_lines_per_file=1000)
    over = (
        spark.read.text(out_dir)
        .select(F.input_file_name().alias("chunk"))
        .groupBy("chunk")
        .agg((F.count(F.lit(1)) - 1).alias("n_data"))  # minus the header line
        .filter(F.col("n_data") > 1000)
        .limit(1)
        .collect()
    )
    if over:
        raise ValueError(f"chunk over budget: {over[0]['chunk']} has {over[0]['n_data']} rows")

    dest = os.path.join(root, "uploaded")
    os.makedirs(dest)

    def transport(dest_url: str, name: str, payload: bytes) -> None:
        with open(os.path.join(dest_url, name), "wb") as fh:
            fh.write(payload)

    manifest = upload_files(paths, dest, transport)
    mf = spark.createDataFrame(
        [(r.file_name, r.n_bytes, r.sha256) for r in manifest],
        "file_name string, n_bytes bigint, sha256 string",
    )
    landed = (
        spark.read.format("binaryFile")
        .load(dest)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.length("content").cast("bigint").alias("landed_bytes"),
            F.sha2("content", 256).alias("landed_sha256"),
        )
    )
    mismatch = (
        mf.join(landed, "file_name", "full")
        .filter(
            F.col("n_bytes").isNull()
            | F.col("landed_bytes").isNull()
            | (F.col("n_bytes") != F.col("landed_bytes"))
            | (F.col("sha256") != F.col("landed_sha256"))
        )
        .limit(1)
        .collect()
    )
    if mismatch:
        raise ValueError(f"manifest mismatch for {mismatch[0]['file_name']}")

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    return read_csv_strict(spark, dest, schema)


# Built at import: the lineage-mutation MV's own registered oracle,
# reused verbatim so the parity certification counts EXACTLY what that
# query certifies (kernels.py registers before this module imports).
from harvester_database_and_automation_spark.plans.registry import QUERIES as _REG


@register(
    "derived_rebuild_parity",
    survey_ref="M4,M6,mv-cascade",
    oracle=f"""
WITH best AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY lang, source
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM documents
  ) t WHERE rn = 1
),
dtp AS (
  SELECT term FROM (
    SELECT unnest(string_split(d.text, ' ')) AS term
    FROM documents d JOIN best b ON d.doc_id = b.doc_id
  ) u WHERE length(term) >= 6
),
lmc AS ({{LMC}})
SELECT 'doc_term_projection' AS table_name,
       (SELECT CAST(count(*) AS BIGINT) FROM dtp) AS n_rows,
       CAST(0 AS BIGINT) AS n_divergent
UNION ALL
SELECT 'lineage_mutation_counts' AS table_name,
       (SELECT CAST(count(*) AS BIGINT) FROM lmc) AS n_rows,
       CAST(0 AS BIGINT) AS n_divergent
""".replace("{LMC}", _REG["lineage_mutation_counts"].oracle),
)
def derived_rebuild_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV-cascade maintenance certification (SURVEY §3.3/§4): a FULL
    `DerivedLayer.rebuild` of the two partitioned derived tables
    (doc_term_projection, lineage_mutation_counts — the reference's
    refreshed-per-ingest spectrum MVs, refreshes.sql:3-36), then an
    INCREMENTAL `rebuild_incremental` over the same unchanged corpus
    with a predicate marking a lang subset dirty — the dirty partitions
    are rewritten fresh, every other partition hard-links forward — and
    a row-exact comparison of the two published versions. `n_divergent`
    counts rows on exactly one side (exceptAll both ways), so any
    carried-over partition that should have been rebuilt, dropped, or
    double-written breaks the zero; the oracle independently replays
    each table's row count from raw text, so a build that silently
    shrinks or inflates breaks the count match. The per-table compare
    collects only the two counts (bounded), never rows."""

    from harvester_database_and_automation_spark.pipelines.derived import LAYER

    targets = ["doc_term_projection", "lineage_mutation_counts"]
    root = scratch_dir(prefix="derived_parity_")
    v_full = LAYER.rebuild(spark, sf_dir, root, only=set(targets))
    v_incr = LAYER.rebuild_incremental(
        spark,
        sf_dir,
        root,
        predicates={t: F.col("lang").isin("de", "fr") for t in targets},
    )
    def compare(t: str):
        full = spark.read.parquet(os.path.join(root, t, f"v{v_full[t]}"))
        incr = spark.read.parquet(os.path.join(root, t, f"v{v_incr[t]}"))
        cols = sorted(full.columns)
        f_sel, i_sel = full.select(*cols), incr.select(*cols)
        # Multiset diff in ONE pass: exceptAll(f,i).count() +
        # exceptAll(i,f).count() + incr.count() was three jobs, each
        # re-reading both published versions and the exceptAlls each
        # shuffling both sides; sum(|n_full - n_incr|) over one unioned
        # groupBy is the identical quantity (exceptAll keeps the positive
        # multiplicity surplus per distinct row) from a single scan +
        # shuffle, and the incremental row count rides the same
        # aggregation.
        diff = (
            f_sel.withColumn("_w", F.lit(1))
            .unionByName(i_sel.withColumn("_w", F.lit(-1)))
            .groupBy(*cols)
            .agg(
                F.sum("_w").alias("_d"),
                F.count(F.when(F.col("_w") == -1, 1)).alias("_ni"),
            )
            .agg(
                F.coalesce(F.sum(F.abs(F.col("_d"))), F.lit(0)).alias("n_div"),
                F.coalesce(F.sum("_ni"), F.lit(0)).alias("n_incr"),
            )
            .collect()[0]
        )
        return (t, diff["n_incr"], diff["n_div"])

    return spark.createDataFrame(
        [compare(t) for t in targets], "table_name string, n_rows bigint, n_divergent bigint"
    )


@register(
    "state_gated_import_replay",
    survey_ref="M6,A1",
    oracle="""
WITH agg AS (SELECT count(DISTINCT o_orderpriority) AS n FROM orders)
SELECT 1 AS attempt, true  AS ran, CAST(n AS BIGINT) AS table_rows FROM agg
UNION ALL
SELECT 2, false, CAST(n AS BIGINT) FROM agg
UNION ALL
SELECT 3, true,  CAST(n AS BIGINT) FROM agg
""",
)
def state_gated_import_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 — state-gated idempotent runs as driver-hash evidence
    (previously pytest-only): the reference's importers consult a tiny
    automation_state key-value table and skip work when the input
    fingerprint hasn't changed (import_bag_meldeformular.R:106-113,
    database/init.sql:952-956; the read-compare-skip contract in
    `operators/state.py::run_if_changed`). Three import attempts replay
    against a fresh state file: attempt 1 sees a new fingerprint and
    RUNS (materializing the priority rollup), attempt 2 re-presents the
    SAME fingerprint and is SKIPPED without touching the output,
    attempt 3 presents a changed fingerprint (feed churn) and runs
    again. The returned ledger — (attempt, ran, published row count) —
    hash-matches only if the gate both skipped and re-ran correctly AND
    the job wrote the same rollup the oracle derives relationally.

    Scale shape: the state is a few bytes of driver-side metadata
    (atomic-rename JSON beside the output — the honest Spark equivalent
    of the reference's one-row table; no cluster round trip); the gated
    job itself is an ordinary distributed write."""

    from harvester_database_and_automation_spark.operators.state import JobState

    root = scratch_dir(prefix="state_gate_")
    state = JobState(os.path.join(root, "state.json"))
    out = os.path.join(root, "priority_rollup")
    o = load_table(spark, sf_dir, "orders")

    def job() -> None:
        (
            o.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .write.mode("overwrite")
            .parquet(out)
        )

    fp1 = f"orders-{o.count()}"
    ledger = [
        (1, state.run_if_changed("orders_import", fp1, job)),
        (2, state.run_if_changed("orders_import", fp1, job)),
        (3, state.run_if_changed("orders_import", fp1 + "/v2", job)),
    ]
    n_rows = spark.read.parquet(out).count()
    return spark.createDataFrame(
        [(a, r, n_rows) for a, r in ledger],
        "attempt int, ran boolean, table_rows bigint",
    )


@register(
    "release_export_replay",
    survey_ref="P6,W2,W4,A7,J5,J6,M1,M4,S4,pipeline-release,§3.2",
    oracle="""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS sample_id,
         CAST(doc_id % 10 AS INT) AS m,
         CAST(doc_id % 5 AS INT) AS batch,
         CAST(coalesce(length(text), 0) % 97 + 10 AS INT) AS n1,
         CAST(coalesce(length(text), 0) % 89 + 10 AS INT) AS diag
  FROM documents
),
-- Batch completeness derived relationally (utility.R:1107-1144): a batch
-- is complete once every expected member has arrived. Cycle-1 arrivals
-- are m NOT IN (7,9); by cycle 2 everything but m=9 has arrived.
batches AS (
  SELECT batch,
         (count(*) = count(CASE WHEN m NOT IN (7, 9) THEN 1 END)) AS complete1,
         (count(*) = count(CASE WHEN m <> 9 THEN 1 END)) AS complete2
  FROM base GROUP BY batch
),
c1_cand AS (
  SELECT sample_id, CAST(1 AS INT) AS attempt_id, batch, n1 AS consensus_n, diag
  FROM base WHERE m NOT IN (7, 9)
  UNION ALL
  SELECT sample_id, CAST(2 AS INT), batch, CAST(n1 + 7 AS INT), diag
  FROM base WHERE m = 3
),
c1_flag AS (SELECT c.*, b.complete1, b.complete2 FROM c1_cand c JOIN batches b USING (batch)),
c1_proc AS (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY sample_id ORDER BY consensus_n, attempt_id) AS INT) AS duplicate_idx
  FROM c1_flag WHERE complete1
),
-- The fail-reason cascade (export_spsp_submission.R:244-273), first match
-- wins; cycle 1 faces an empty released table, so every eligible row is
-- submit_new.
c1_status AS (
  SELECT *,
    CASE WHEN duplicate_idx > 1 THEN 'duplicate'
         WHEN abs(consensus_n - diag) > 60 THEN 'n_discrepancy'
         WHEN consensus_n > 90 THEN 'too_many_n'
         ELSE 'submit_new' END AS status
  FROM c1_proc
),
released_v1 AS (SELECT sample_id, consensus_n FROM c1_status WHERE status = 'submit_new'),
c1_held AS (
  SELECT sample_id, attempt_id, batch, consensus_n, diag, complete2
  FROM c1_flag WHERE NOT complete1
),
c2_cand AS (
  SELECT c.sample_id, c.attempt_id, c.batch, c.consensus_n, c.diag, b.complete2
  FROM (
    SELECT sample_id, CAST(1 AS INT) AS attempt_id, batch, n1 AS consensus_n, diag
    FROM base WHERE m = 7
    UNION ALL
    SELECT sample_id, CAST(2 AS INT), batch, CAST(n1 + 3 AS INT), diag
    FROM base WHERE m = 7
    UNION ALL
    SELECT sample_id, CAST(2 AS INT), batch, CAST(floor(n1 / 2) AS INT), diag
    FROM base WHERE m = 0
    UNION ALL
    SELECT sample_id, CAST(2 AS INT), batch, CAST(n1 - 1 AS INT), diag
    FROM base WHERE m = 1
  ) c JOIN batches b USING (batch)
  UNION ALL
  SELECT sample_id, attempt_id, batch, consensus_n, diag, complete2 FROM c1_held
),
c2_proc AS (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY sample_id ORDER BY consensus_n, attempt_id) AS INT) AS duplicate_idx
  FROM c2_cand WHERE complete2
),
-- Resequencing gate (export_spsp_submission.R:427-516): never released ->
-- submit_new; >=10pct improvement on the best released attempt ->
-- submit_update; else tombstone. 0.9 is cast to DOUBLE so both engines
-- compare with the SAME IEEE product (DuckDB's DECIMAL 0.9 would differ
-- from Spark's double at exact-boundary rows like old=10, new=9).
c2_status AS (
  SELECT p.*,
    CASE WHEN p.duplicate_idx > 1 THEN 'duplicate'
         WHEN abs(p.consensus_n - p.diag) > 60 THEN 'n_discrepancy'
         WHEN p.consensus_n > 90 THEN 'too_many_n'
         WHEN r.consensus_n IS NULL THEN 'submit_new'
         WHEN p.consensus_n < CAST(0.9 AS DOUBLE) * r.consensus_n THEN 'submit_update'
         ELSE 'tombstone' END AS status
  FROM c2_proc p LEFT JOIN released_v1 r ON p.sample_id = r.sample_id
)
SELECT sample_id, attempt_id, CAST(1 AS INT) AS cycle, batch, consensus_n,
       duplicate_idx, status FROM c1_status
UNION ALL
SELECT sample_id, attempt_id, CAST(1 AS INT), batch, consensus_n,
       CAST(NULL AS INT), 'held_back' FROM c1_held
UNION ALL
SELECT sample_id, attempt_id, CAST(2 AS INT), batch, consensus_n,
       duplicate_idx, status FROM c2_status
UNION ALL
SELECT sample_id, attempt_id, CAST(2 AS INT), batch, consensus_n,
       CAST(NULL AS INT), 'held_back' FROM c2_cand WHERE NOT complete2
""",
)
def release_export_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §3.2 end-to-end, driver-hash-certified: two cycles of the
    SPSP release pipeline (`pipelines/release.run_release_cycle` — the
    Spark re-design of database/R/export_spsp_submission.R:20-57) over a
    synthetic sample corpus derived deterministically from the documents
    table, with the final submission manifest exported through the typed
    TSV write path and hash-compared (after re-reading the files) against
    a DuckDB oracle that replays every rule relationally.

    Corpus, keyed on ``m = sample_id % 10`` with ``batch = sample_id % 5``
    (so batch b holds exactly the m ∈ {b, b+5} samples) and quality metric
    ``consensus_n`` (lower is better, ∈ [10, 106]):

    - cycle-1 arrivals: every sample with ``m ∉ {7, 9}``; ``m == 3``
      samples arrive TWICE (second attempt 7 worse → the in-cycle
      duplicate_idx window must fail it as 'duplicate');
    - ``m == 7`` samples arrive only in cycle 2 → their batches (b=2) are
      INCOMPLETE in cycle 1 and ``batch_completeness`` must hold back the
      already-arrived ``m == 2`` rows (utility.R:1107-1144), releasing
      them in cycle 2 once the batch completes;
    - ``m == 9`` samples NEVER arrive → their batches (b=4) stay
      incomplete through both cycles and the ``m == 4`` rows are held
      back twice — hold-back persistence is inside the hash;
    - cycle 2 carries both resequencing legs
      (export_spsp_submission.R:427-516): ``m == 0`` samples re-arrive at
      ``floor(n/2)`` (≥10% better → **submit_update**), ``m == 1`` at
      ``n - 1`` (better but <10% → **tombstone**); samples whose cycle-1
      attempt FAILED the cascade re-enter as submit_new (best_old is
      NULL) — the accept/reject gate `new < 0.9 × best_old`
      (`pipelines/release.resequencing_decisions`) is certified on both
      sides of the boundary, including exact-boundary rows (old = 10 →
      new = 9);
    - ``m == 7`` also arrives twice in cycle 2 (attempt 2 is 3 worse), so
      the duplicate window is exercised in the same cycle as the gate;
    - the fail cascade (n_discrepancy on |consensus_n − diagnostic_n|,
      too_many_n) runs before the gate each cycle, exactly one reason per
      row (export_spsp_submission.R:244-273).

    Each cycle merge-upserts accepted rows into the released table and
    publishes it as the next atomic version (M4); the in-function report
    assertions pin version numbering (v1, v2), that cycle 1 produces no
    updates/tombstones, and that the published row count equals the
    distinct submit_new samples (updates never insert). The manifest is
    then written through the dated-submission-dir TSV export and re-read
    with the strict typed reader (S4) — the returned frame is the
    round-tripped file content, so the export leg is inside the hash too.

    Scale shape: completeness is two key-level aggregations; the cascade
    is one window over (sample) partitions plus a `when` chain; the gate
    joins a key+metric aggregate of the released table (never payloads);
    the merge shuffles the released table once on its key; the manifest
    export is a straight distributed write. No driver-side data beyond
    the bounded report counts."""
    from pyspark.sql import types as T

    from harvester_database_and_automation_spark.operators.publish import read_published
    from harvester_database_and_automation_spark.pipelines.release import run_release_cycle
    from harvester_database_and_automation_spark.sources.tabular import read_csv_strict

    root = scratch_dir(prefix="release_export_")
    table = os.path.join(root, "released")

    base = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("sample_id"),
        (F.col("doc_id") % 10).alias("m"),
        (F.col("doc_id") % 5).cast("int").alias("batch"),
        ((F.coalesce(F.length("text"), F.lit(0)) % 97) + 10).cast("int").alias("n1"),
        ((F.coalesce(F.length("text"), F.lit(0)) % 89) + 10).cast("int").alias("diag"),
    )

    def attempt(df: DataFrame, attempt_id: int, n_col) -> DataFrame:
        return df.select(
            "sample_id",
            F.lit(attempt_id).cast("int").alias("attempt_id"),
            "batch",
            n_col.cast("int").alias("consensus_n"),
            "diag",
        )

    c1_arrivals = attempt(base.filter(~F.col("m").isin(7, 9)), 1, F.col("n1")).unionByName(
        attempt(base.filter(F.col("m") == 3), 2, F.col("n1") + 7)
    )
    c2_arrivals = (
        attempt(base.filter(F.col("m") == 7), 1, F.col("n1"))
        .unionByName(attempt(base.filter(F.col("m") == 7), 2, F.col("n1") + 3))
        .unionByName(attempt(base.filter(F.col("m") == 0), 2, F.floor(F.col("n1") / 2)))
        .unionByName(attempt(base.filter(F.col("m") == 1), 2, F.col("n1") - 1))
    )
    expected = base.select("sample_id", "batch")
    arrived1 = base.filter(~F.col("m").isin(7, 9)).select("sample_id")
    arrived2 = base.filter(F.col("m") != 9).select("sample_id")

    rules = [
        ("duplicate", F.col("duplicate_idx") > 1),
        ("n_discrepancy", F.abs(F.col("consensus_n") - F.col("diag")) > 60),
        ("too_many_n", F.col("consensus_n") > 90),
    ]

    man1, held1, rep1 = run_release_cycle(
        spark, c1_arrivals, expected, arrived1, table, rules,
        key="sample_id", quality_col="consensus_n", batch_col="batch",
        tiebreak_col="attempt_id",
    )
    if rep1.version != 1 or rep1.n_submit_update != 0 or rep1.n_tombstoned != 0:
        raise AssertionError(f"cycle 1 report off: {rep1}")

    c2_candidates = c2_arrivals.unionByName(
        held1.select("sample_id", "attempt_id", "batch", "consensus_n", "diag")
    )
    man2, _held2, rep2 = run_release_cycle(
        spark, c2_candidates, expected, arrived2, table, rules,
        key="sample_id", quality_col="consensus_n", batch_col="batch",
        tiebreak_col="attempt_id",
    )
    if rep2.version != 2:
        raise AssertionError(f"cycle 2 report off: {rep2}")

    def man_rows(man: DataFrame, cycle: int) -> DataFrame:
        return man.select(
            "sample_id", "attempt_id",
            F.lit(cycle).cast("int").alias("cycle"),
            "batch", "consensus_n",
            F.col("duplicate_idx").cast("int").alias("duplicate_idx"),
            "status",
        )

    manifest = man_rows(man1, 1).unionByName(man_rows(man2, 2))

    # Updates never insert: the published released table must hold exactly
    # the submit_new rows across both cycles (a sample can be submit_new at
    # most once — once released, later attempts gate as update/tombstone).
    n_pub = read_published(spark, table).count()
    n_new = rep1.n_submit_new + rep2.n_submit_new
    if n_pub != n_new:
        raise AssertionError(f"published rows {n_pub} != submit_new total {n_new}")

    sub_dir = os.path.join(root, "submission")
    manifest.write.option("header", True).option("sep", "\t").csv(sub_dir)
    # The TSV write is the manifests' last consumer: release the cycle
    # caches run_release_cycle handed back (a bench session replays this
    # function repeatedly — without this, every run leaks two frames).
    man1.unpersist()
    man2.unpersist()
    out_schema = T.StructType(
        [
            T.StructField("sample_id", T.LongType()),
            T.StructField("attempt_id", T.IntegerType()),
            T.StructField("cycle", T.IntegerType()),
            T.StructField("batch", T.IntegerType()),
            T.StructField("consensus_n", T.IntegerType()),
            T.StructField("duplicate_idx", T.IntegerType()),
            T.StructField("status", T.StringType()),
        ]
    )
    return read_csv_strict(spark, sub_dir, out_schema, sep="\t")


@register(
    "feed_import_replay",
    survey_ref="S2,S8,P6,M1,M2,M3,M4,pipeline-3.1",
    oracle="""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         source,
         regexp_replace(lower(text), '[^a-z]', '', 'g') AS seq,
         doc_id % 10 AS m0
  FROM documents
),
final AS (
  SELECT doc_id,
         CASE WHEN m0 = 2 THEN 'UPDATED' ELSE source END AS src,
         CASE WHEN m0 = 3 THEN seq || 'aaa' ELSE seq END AS payload,
         CASE WHEN m0 IN (0, 3) THEN 2 ELSE 1 END AS annotated_in
  FROM base
  -- source IS NOT NULL replicates the pipeline's quarantine predicate
  -- (not_null on src) rather than assuming the generator never emits a
  -- naturally-NULL documents.source: the Spark side quarantines ANY
  -- NULL src, synthetic (%29=5) or natural.
  WHERE m0 <> 1 AND doc_id % 29 <> 5 AND source IS NOT NULL
)
SELECT doc_id,
       src,
       payload,
       CAST(length(payload) - length(replace(payload, 'a', '')) AS INT) AS n_a,
       CAST(annotated_in AS INT) AS annotated_in
FROM final
""",
)
def feed_import_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §3.1 end-to-end, driver-hash-certified: two cycles of the
    full feed-import DAG (`pipelines/feed_import.run_feed_import` — the
    Spark re-design of the reference's GISAID daily import,
    gisaid/GisaidApiImporter.java:44-410) over a synthetic JSON-lines
    feed derived deterministically from the documents table, with the
    final published table hash-compared against a DuckDB oracle that
    replays the same routing relationally.

    Cycle 1 publishes every document with ``doc_id % 10 != 0``. The
    cycle-2 feed then carries EVERY change class at once, keyed on
    ``m0 = doc_id % 10``:

    - ``m0 == 0``  → **insert** (absent from cycle 1);
    - ``m0 == 1``  → **delete** (absent from cycle 2's feed);
    - ``m0 == 2``  → **metadata-only change** (src → 'UPDATED');
    - ``m0 == 3``  → **payload change** (payload gains ``'aaa'``);
    - everything else → **unchanged**;
    - ``doc_id % 29 == 5`` → **quarantined** in both cycles (NULL src
      fails the not_null check and never publishes — the rate stays
      under the pipeline's <5% bad-row abort gate);
    - each cycle's feed also ends with one raw **corrupt** line
      (truncated JSON → the PERMISSIVE parser's corrupt leg).

    The annotation stage is the REAL S8 external-process map
    (`operators/external.run_fasta_tool`: FASTA on stdin to a
    subprocess awk, line-oriented stdout) computing ``n_a``, and it
    stamps ``annotated_in`` with the cycle number — so the hash proves
    the skip-reprocessing contract, not just the final values: a
    metadata-only row must keep its STORED cycle-1 annotation
    (annotated_in = 1), while inserts and payload changes must be
    re-annotated in cycle 2 (annotated_in = 2). Re-running annotation
    for unchanged/metadata rows, missing a re-annotation, resurrecting
    a delete, or publishing a quarantined row each breaks the hash;
    the in-function report assertions pin version numbering, the
    corrupt count, and the reference's <5% bad-row gate
    (GisaidApiImporter.java:392-393).

    Scale shape: the DAG's per-cycle cost is one schema'd feed parse
    (split-parallel), hash-classification against the published table
    (one equi-join on the key — the 30KB payload hashes once per side,
    never field-diffs), annotation ONLY for insert/payload rows
    (mapPartitions subprocess + one key join to re-attach metadata), a
    full-outer merge, an anti-join delete, and an atomic versioned
    publish — the skip-reprocessing route that makes a daily 100 TB
    feed tractable. The returned frame is a plain scan of the
    published directory."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from harvester_database_and_automation_spark.operators.external import run_fasta_tool
    from harvester_database_and_automation_spark.operators.publish import read_published
    from harvester_database_and_automation_spark.pipelines.feed_import import run_feed_import
    from harvester_database_and_automation_spark.sources.quarantine import not_null

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("src", T.StringType()),
            T.StructField("payload", T.StringType()),
            T.StructField("n_a", T.IntegerType()),  # derived by annotate
            T.StructField("annotated_in", T.IntegerType()),  # derived
        ]
    )
    root = scratch_dir(prefix="feed_import_")
    table = os.path.join(root, "seq_table")

    base = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        # Quarantine rows: NULL src fails the not_null check.
        F.when(F.col("doc_id") % 29 == 5, F.lit(None))
        .otherwise(F.col("source"))
        .alias("src"),
        F.regexp_replace(F.lower("text"), "[^a-z]", "").alias("payload"),
        (F.col("doc_id") % 10).alias("m0"),
    )

    def write_feed(df: DataFrame, name: str) -> str:
        feed_dir = os.path.join(root, name)
        df.drop("m0").repartition(1).write.json(feed_dir)
        # One raw corrupt line in a separate trailing file (appending to
        # the Spark-written part would break its .crc sidecar; 'zz-' sorts
        # after 'part-' so the drift-check head samples parsed lines): the
        # PERMISSIVE parser must route it to the corrupt leg without
        # disturbing any parsed row.
        with open(os.path.join(feed_dir, "zz-corrupt.jsonl"), "w") as fh:
            fh.write('{"doc_id": 999999999, "payload": \n')
        return feed_dir

    feed2_df = (
        base.filter(F.col("m0") != 1)
        .withColumn(
            # Quarantined rows (NULL src) keep their NULL — they must stay
            # quarantined in cycle 2, not morph into late inserts.
            "src",
            F.when(
                (F.col("m0") == 2) & F.col("src").isNotNull(), F.lit("UPDATED")
            ).otherwise(F.col("src")),
        )
        .withColumn(
            "payload",
            F.when(F.col("m0") == 3, F.concat("payload", F.lit("aaa"))).otherwise(
                F.col("payload")
            ),
        )
    )
    feed1 = write_feed(base.filter(F.col("m0") != 0), "feed1")
    feed2 = write_feed(feed2_df, "feed2")

    def parse_line(line: str):
        parts = line.split("\t")
        if len(parts) != 2:
            return None
        return Row(doc_id=int(parts[0]), n_a=int(parts[1]))

    awk = 'NR%2==1{n=substr($0,2)} NR%2==0{c=gsub(/a/,"a"); print n"\\t"c}'

    def make_annotate(cycle: int):
        def annotate(df: DataFrame) -> DataFrame:
            stats = run_fasta_tool(
                df.select(
                    F.col("doc_id").cast("string").alias("name"),
                    F.coalesce("payload", F.lit("")).alias("sequence"),
                ),
                ["awk", awk],
                "doc_id long, n_a int",
                parse_line,
            )
            return (
                df.drop("n_a", "annotated_in")
                .join(stats, "doc_id")
                .withColumn("annotated_in", F.lit(cycle))
                .select(*[f.name for f in schema.fields])
            )

        return annotate

    for cycle, feed in ((1, feed1), (2, feed2)):
        report = run_feed_import(
            spark,
            feed,
            table,
            schema,
            keys=["doc_id"],
            metadata_cols=["src"],
            payload_cols=["payload"],
            checks={"src_required": not_null("src")},
            annotate=make_annotate(cycle),
            required_fields={"doc_id", "payload"},
        )
        if report.version != cycle or report.n_corrupt != 1 or not report.ok:
            raise AssertionError(f"cycle {cycle} report off: {report}")

    return read_published(spark, table).select(
        "doc_id", "src", "payload", "n_a", "annotated_in"
    )
