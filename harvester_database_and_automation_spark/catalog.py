"""Typed catalog for the synthetic test corpus (TESTDATA.md).

Schemas are declared explicitly — the reference's warehouse is strictly
DDL-typed (SURVEY.md §1.1, /root/reference/database/init.sql) and we keep
that discipline: never infer, always assert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Expected parquet schemas (what the driver generates). Used for assertion,
# not for read coercion — parquet is self-describing.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# Dimension tables small enough to always broadcast in joins.
BROADCAST_DIMS = frozenset({"region", "nation"})


_PLAN_CACHE_ATTR = "_hdas_table_plans"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Reuse the ANALYZED read plan per (file identity, table): every
    # `spark.read.parquet` call runs a driver-side footer/schema-inference
    # job (~50 ms + scheduling gap locally; a real listing+footer read on
    # object storage), and the bench/driver sessions re-read the same ten
    # corpus files hundreds of times. A production warehouse gets this
    # from the metastore (schemas are catalog metadata, not per-query
    # footer reads) — the cached DataFrame object is exactly that: a lazy
    # resolved plan, NO persisted data, so every query still computes
    # from the parquet bytes. Keyed by (abspath, size, mtime_ns) because
    # the corpus is regenerated in place between rounds — a rewritten
    # file re-keys and re-reads (same doctrine as the derived-store
    # corpus fingerprint).
    import os

    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        key = (os.path.abspath(path), st.st_size, st.st_mtime_ns, name)
    except OSError:
        key = None
    if key is not None:
        cache: dict = spark.__dict__.setdefault(_PLAN_CACHE_ATTR, {})
        cached = cache.get(key)
        if cached is not None:
            return cached
        df = _read_table(spark, sf_dir, name)
        cache[key] = df
        return df
    return _read_table(spark, sf_dir, name)


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Generator versions differ: some corpora store ts as
        # TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read
        # nanos as long and rebuild), newer ones as TIMESTAMP(MICROS)
        # (native read). Branch on the physical type.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T_

        # Scope the legacy-nanos conf to this read: the parquet-to-catalyst
        # schema conversion happens at analysis (now), and leaving the conf
        # set would silently turn every LATER nanos read in the session
        # into longs.
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        finally:
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T_.LongType):
            # Rebuild as TIMESTAMP_NTZ straight from epoch micros — no LTZ
            # hop, so the result is identical under any session timezone.
            # Decimal division keeps microsecond precision exact.
            return df.withColumn(
                "ts",
                F.expr(
                    "cast('1970-01-01 00:00:00' as timestamp_ntz)"
                    " + make_dt_interval(0, 0, 0, cast(ts div 1000 as decimal(20,0)) / 1000000)"
                ),
            )
        if isinstance(ts_type, T_.TimestampType):
            # MICROS read as LTZ under some configs — pin to the UTC
            # wall-clock NTZ value. A bare cast extracts SESSION-local
            # wall-clock (timezone-dependent); declaring the cast's zone
            # and converting to UTC makes the result session-invariant.
            return df.withColumn(
                "ts",
                F.convert_timezone(
                    F.expr("current_timezone()"),
                    F.lit("UTC"),
                    F.col("ts").cast("timestamp_ntz"),
                ),
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
