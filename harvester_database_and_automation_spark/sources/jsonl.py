"""S2 — JSON-lines reader with schema-drift detection (SURVEY.md §2.1).

The reference streams GISAID's provision.json.xz and aborts when required
fields disappear from the feed, warning when unexpected fields appear
(gisaid/GisaidApiImporter.java:165-223). Spark-first: read with an explicit
schema (never infer in production), and run the drift check as a set
comparison against a sampled inference — the same contract, two code paths.
"""

from __future__ import annotations

import lzma
import os
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"

# Spool chunk size: big enough that parquet-scale scan tasks stay cheap,
# small enough that a 100 GB feed becomes hundreds of parallel splits.
DEFAULT_CHUNK_BYTES = 128 * 1024 * 1024


def spool_xz_jsonl(
    xz_path: str,
    spool_dir: str,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
) -> list[str]:
    """Stream-decompress an ``.xz`` JSON-lines feed into line-aligned spool
    files Spark can scan in parallel.

    Spark ships no xz codec, and the reference's biggest feed arrives as
    ``provision.json.xz`` streamed through a decompressor without ever
    materializing the full payload (gisaid/GisaidApiImporter.java:200-217).
    The xz stream is inherently serial, so the parity move is: ONE
    streaming pass (constant memory — ``lzma.open`` is a true incremental
    decoder) that rotates output files every ``chunk_bytes``, cutting only
    at line boundaries. The downstream ``read_jsonl`` scan then
    parallelizes per spool file — decompression is the only serial stage,
    exactly as in the reference. Returns the spool file paths.
    """
    os.makedirs(spool_dir, exist_ok=True)
    paths: list[str] = []
    out = None
    written = 0

    def rotate():
        nonlocal out, written
        if out is not None:
            out.close()
        path = os.path.join(spool_dir, f"part-{len(paths):05d}.jsonl")
        paths.append(path)
        out = open(path, "wb")
        written = 0

    def write_lines(data: bytes) -> None:
        """Write complete lines, rotating at ``chunk_bytes`` on line
        boundaries (a single over-budget line stays whole in one file)."""
        nonlocal written
        pos = 0
        while pos < len(data):
            if written >= chunk_bytes:
                rotate()
            piece = data[pos : pos + max(chunk_bytes - written, 1)]
            cut = piece.rfind(b"\n")
            if cut == -1:
                end = data.find(b"\n", pos) + 1  # oversized line: keep whole
                if end == 0:
                    end = len(data)
                if written:
                    rotate()
            else:
                end = pos + cut + 1
            out.write(data[pos:end])
            written += end - pos
            pos = end

    rotate()
    tail = b""
    with lzma.open(xz_path, "rb") as fh:
        while True:
            block = fh.read(1 << 20)
            if not block:
                break
            block = tail + block
            cut = block.rfind(b"\n")
            if cut == -1:
                tail = block
                continue
            complete, tail = block[: cut + 1], block[cut + 1 :]
            write_lines(complete)
    if tail:  # final line without trailing newline
        write_lines(tail + b"\n")
    out.close()
    return paths


def read_jsonl_xz(
    spark: SparkSession,
    xz_path: str,
    schema: T.StructType,
    spool_dir: str,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
) -> ParsedScan:
    """``read_jsonl`` over an ``.xz`` feed via the streaming spool."""
    spool_xz_jsonl(xz_path, spool_dir, chunk_bytes=chunk_bytes)
    return read_jsonl(spark, spool_dir, schema)


class ParsedScan(NamedTuple):
    """(good, corrupt) views over one cached parse of a JSON-lines feed
    (``read_jsonl``).

    Both views filter the same cached parent frame; call ``release()``
    once both are consumed. Unpersisting ``good`` or ``corrupt`` directly
    is a no-op — Spark's CacheManager (cascade=false) only drops a cache
    whose plan sameResults the argument, and the filtered views never
    match the cached parent — which is exactly how a long-lived import
    loop leaks one full-feed cache per cycle.
    """

    good: DataFrame
    corrupt: DataFrame
    parsed: DataFrame

    def release(self) -> None:
        """Drop the shared parse cache (the cached parent, not a view)."""
        self.parsed.unpersist()


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> ParsedScan:
    """Read JSON-lines with an explicit schema into a ``ParsedScan``.

    Unparseable lines land in the corrupt DataFrame with the raw line
    preserved — the quarantine contract of SURVEY.md §2.2 P6. Gzip inputs
    are handled by Spark's codec inference from the file extension; xz
    feeds go through ``read_jsonl_xz`` (streaming spool) since Spark
    ships no xz codec.

    The parsed frame is cached so the good/corrupt split is one parse, not
    two; ownership passes to the caller — call ``scan.release()`` once
    both views are consumed, as the feed-import pipeline does. Long-lived
    sessions that skip this accumulate one full-feed cache per call.
    """
    full = T.StructType(schema.fields + [T.StructField(CORRUPT_COL, T.StringType())])
    df = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(full)
        .json(path)
        .cache()  # one parse feeding two outputs; caller releases
    )
    good = df.filter(df[CORRUPT_COL].isNull()).drop(CORRUPT_COL)
    corrupt = df.filter(df[CORRUPT_COL].isNotNull()).select(CORRUPT_COL)
    return ParsedScan(good, corrupt, df)


@dataclass
class DriftReport:
    missing_required: set[str] = field(default_factory=set)
    missing_expected: set[str] = field(default_factory=set)
    unexpected: set[str] = field(default_factory=set)

    @property
    def ok(self) -> bool:
        """Abort-worthy only when required fields vanished (the reference
        emails a warning for the other two cases and proceeds)."""
        return not self.missing_required


def check_field_drift(
    spark: SparkSession,
    path: str,
    required: set[str],
    expected: set[str] = frozenset(),
    sample_lines: int = 10,
) -> DriftReport:
    """Compare the fields present in the first ``sample_lines`` JSON lines
    against required/expected field sets (GisaidApiImporter.java:167-223).

    The head sample is parsed driver-side (stdlib json over the collected
    lines): the former ``spark.read.json(head.rdd...)`` inference spun up
    an RDD conversion plus a distributed inference job for 10 lines —
    three Spark jobs of pure overhead per import cycle for a
    constant-size check. Top-level keys of parseable object lines are
    exactly the columns Spark's inference would report (corrupt lines
    contribute no fields on either path)."""
    import json as _json

    seen: set[str] = set()
    for r in spark.read.text(path).limit(sample_lines).collect():
        try:
            obj = _json.loads(r["value"])
        except ValueError:
            continue
        if isinstance(obj, dict):
            seen.update(obj.keys())
    seen.discard(CORRUPT_COL)
    return DriftReport(
        missing_required=required - seen,
        missing_expected=expected - seen,
        unexpected=seen - required - expected,
    )
