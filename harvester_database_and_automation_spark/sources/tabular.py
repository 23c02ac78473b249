"""S4 — typed CSV/TSV reader (SURVEY.md §2.1).

The reference reads ';'-delimited Nextclade/Viollier CSV and tab-separated
metadata with per-column coercion (BatchProcessingWorker.java:396-438,
database/R/import_nextclade.R:41-60, database/python/viollier/parser.py:
171-177). Spark-first: explicit schema, PERMISSIVE parse with the raw
line kept in the corrupt-record column, and a corrupt row fails the scan
with that line in the error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from harvester_database_and_automation_spark.sources.jsonl import CORRUPT_COL


def read_csv_strict(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sep: str = ",",
    header: bool = True,
    quote: str = '"',
    null_value: str | None = None,
    date_format: str | None = None,
) -> DataFrame:
    """ONE-PASS strict read for flows that REQUIRE clean input
    (round-trip certification, re-reading our own exports): any corrupt
    row fails the scan in-plan with the offending raw line in the error,
    instead of a quarantine split — which needs a cache plus a second
    action to assert emptiness, i.e. a full extra pass that scales with
    the input. The tripwire lives in a filter predicate so column pruning
    can never drop it, and the predicate's pass branch references EVERY
    schema field: Spark's CSV scan parses only the columns an action
    requires, so without those references corruption confined to an
    unselected column would never populate the corrupt-record column
    (and an action needing only the corrupt column is an
    AnalysisException). Full-row parsing IS the strict contract —
    projecting callers keep the guarantee and pay the full parse."""
    full = T.StructType(schema.fields + [T.StructField(CORRUPT_COL, T.StringType())])
    reader = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("sep", sep)
        .option("header", header)
        .option("quote", quote)
        .option("enforceSchema", False)  # verify the header against the schema
    )
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    if date_format is not None:
        reader = reader.option("dateFormat", date_format)
    df = reader.schema(full).csv(path)
    # Always-true but not constant-foldable, and it names every field —
    # the filter's required columns then cover the whole schema, which
    # defeats parser column pruning however the caller projects.
    touch_all = (
        F.length(F.concat_ws("", *[F.col(f.name).cast("string") for f in schema.fields])) >= 0
    )
    tripwire = F.when(
        F.col(CORRUPT_COL).isNotNull(),
        F.raise_error(F.concat(F.lit("corrupt record in strict read: "), F.col(CORRUPT_COL))),
    ).otherwise(touch_all)
    return df.filter(tripwire).drop(CORRUPT_COL)
