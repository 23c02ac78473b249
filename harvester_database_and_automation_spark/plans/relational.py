"""Relational operator inventory (SURVEY.md §2.2–§2.8) over the synthetic
TPC-H-ish corpus.

Every query here is the Spark-first re-expression of an operator family the
reference exercises (citations in each docstring point at
/root/reference/...). Oracles are ANSI SQL for DuckDB on the same parquet.

Determinism rules (so value-hashes match the oracle):
  * alias every computed column identically on both sides;
  * round double aggregates (sum order differs between engines);
  * cast date-part extractions to INT (DuckDB yields BIGINT);
  * cast integer SUMs to BIGINT in the oracle (DuckDB yields HUGEINT);
  * every top-k / rank has a total tie-break on a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from harvester_database_and_automation_spark.catalog import load_table
from harvester_database_and_automation_spark.functions.dates import trunc_ntz
from harvester_database_and_automation_spark.plans.registry import register


def _ntz(literal: str):
    """Timestamp literal as TIMESTAMP_NTZ — a bare ``cast('..' as timestamp)``
    yields session-timezone LTZ, which shifts under non-UTC driver sessions."""
    return F.lit(literal).cast("timestamp_ntz")


def _money2(col):
    """Half-up round to 2 decimals via floor(x*100+0.5)/100 (positive inputs).

    Unlike round(), every step is a deterministic IEEE-754 op, so Spark and
    any oracle engine produce the bit-identical double for the same input.
    round() implementations disagree on .xx5-adjacent doubles: Spark rounds
    the shortest decimal repr, DuckDB rounds the binary value. The SQL twin
    is ``floor(x * 100 + 0.5) / 100``.
    """
    return F.floor(col * 100 + F.lit(0.5)) / 100


# ---------------------------------------------------------------------------
# Aggregation spine (A1): TPC-H-Q1-style pricing summary.
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    survey_ref="A1,P2",
    oracle="""
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100), 2)     AS sum_disc_price,
       round(sum(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) / 100), 2) AS sum_charge,
       round(avg(l_quantity), 2)                                        AS avg_qty,
       round(avg(l_extendedprice), 2)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by with the full agg repertoire (sum/avg/count over expressions).

    Reference pattern: QC dashboards and country rankings, e.g.
    database/sql/quality_control.sql:62-71, database/sql/gisaid.sql:12-17.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Products of 2-decimal inputs have 4-6 exact decimals; rounding those
    # per-row (bit-identical IEEE ops in any engine) keeps the subsequent
    # sum an exact 2-decimal quantity, so the final round is boundary-free
    # regardless of summation order.
    disc_price = _money2(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    charge = _money2(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")))
    return (
        li.filter(F.col("l_shipdate") <= _ntz("2000-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Projection + predicates (P1,P2,P3): range / IN-list / LIKE filters.
# ---------------------------------------------------------------------------
@register(
    "filter_project",
    survey_ref="P1,P2,P3",
    oracle="""
SELECT l_orderkey,
       l_linenumber,
       floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1997-04-01'
  AND l_returnflag IN ('A', 'R')
  AND l_quantity BETWEEN 10 AND 20
""",
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pushdown-friendly scan: range + IN-list + BETWEEN predicates, narrow
    projection. Reference: database/sql/consensus_sequence.sql:179-181,
    database/sql/b117_analysis.sql:38."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ntz("1997-01-01"))
            & (F.col("l_shipdate") < _ntz("1997-04-01"))
            & F.col("l_returnflag").isin("A", "R")
            & F.col("l_quantity").between(10, 20)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            _money2(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# CASE recodes + COALESCE (P4,P5).
# ---------------------------------------------------------------------------
@register(
    "case_recode",
    survey_ref="P4,P5",
    oracle="""
SELECT CASE
         WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high'
         WHEN o_orderpriority = '3-MEDIUM'              THEN 'medium'
         ELSE 'low'
       END                                   AS priority_class,
       coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_label,
       count(*)                              AS n,
       round(sum(o_totalprice), 2)           AS total
FROM orders
GROUP BY 1, 2
""",
)
def case_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-driven binning + NULLIF/COALESCE defaults — the age-group /
    grossregion recode pattern (database/init.sql:787-867,
    database/sql/spectrum/sequences_gisaid_api_based.sql:38)."""
    o = load_table(spark, sf_dir, "orders")
    priority_class = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "medium")
        .otherwise("low")
    )
    status_label = F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING"))
    return (
        o.select(priority_class.alias("priority_class"), status_label.alias("status_label"), "o_totalprice")
        .groupBy("priority_class", "status_label")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


# ---------------------------------------------------------------------------
# Multi-way inner join (J1): TPC-H-Q5-style regional revenue.
# ---------------------------------------------------------------------------
@register(
    "regional_revenue",
    survey_ref="J1,A1",
    oracle="""
SELECT n_name,
       round(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way inner equi-join with broadcast dims — the test⋈plate⋈sequence
    join spine (database/sql/viollier_test.sql:60-95)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ntz("1996-01-01"))
        & (F.col("o_orderdate") < _ntz("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(_money2(F.col("l_extendedprice") * (1 - F.col("l_discount")))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Left outer join (J2).
# ---------------------------------------------------------------------------
@register(
    "customer_order_counts",
    survey_ref="J2,A1",
    oracle="""
SELECT c_custkey,
       count(o_orderkey) AS order_count
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
""",
)
def customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join preserving unmatched rows, count of non-null key.
    Reference: sequences_gisaid_api_based.sql:80-84."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Full outer join (J3): weekly orders ⟗ weekly events.
# ---------------------------------------------------------------------------
@register(
    "weekly_activity_full_outer",
    survey_ref="J3,A1",
    oracle="""
WITH ow AS (
  SELECT date_trunc('week', o_orderdate) AS week, count(*) AS n_orders
  FROM orders GROUP BY 1
), ew AS (
  SELECT date_trunc('week', ts) AS week, count(*) AS n_events
  FROM events GROUP BY 1
)
SELECT coalesce(ow.week, ew.week) AS week,
       coalesce(n_orders, 0)      AS n_orders,
       coalesce(n_events, 0)      AS n_events
FROM ow FULL OUTER JOIN ew ON ow.week = ew.week
""",
)
def weekly_activity_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two weekly aggregates — the weekly sequenced ⟗
    weekly positive-tests pattern (database/sql/gisaid.sql:80-87)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(trunc_ntz("week", "o_orderdate").alias("week"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    e = (
        load_table(spark, sf_dir, "events")
        .groupBy(trunc_ntz("week", "ts").alias("week"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        o.join(e, "week", "full")
        .select(
            "week",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Semi / anti joins (J5, J6).
# ---------------------------------------------------------------------------
@register(
    "big_spender_semi_join",
    survey_ref="J5",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderstatus = 'F'
    AND o.o_totalprice > 150000
)
""",
)
def big_spender_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left_semi — positives-that-were-sequenced pattern
    (database/sql/consensus_sequence.sql:182-251)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
    )
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi").select("c_custkey", "c_name")


@register(
    "no_urgent_order_anti_join",
    survey_ref="J6",
    oracle="""
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
""",
)
def no_urgent_order_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left_anti — plates-not-yet-imported / unsubmitted
    sequences pattern (database/R/import_viollier_test_data.R:84-88,
    database/sql/sample_status.sql:111-115)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# Date-spine cross join (J7) with zero-fill.
# ---------------------------------------------------------------------------
@register(
    "monthly_priority_spine",
    survey_ref="J7,J2,A1",
    oracle="""
WITH spine AS (
  SELECT unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01',
                                INTERVAL 1 MONTH)) AS month
), prio AS (
  SELECT DISTINCT o_orderpriority FROM orders
), actual AS (
  SELECT date_trunc('month', o_orderdate) AS month, o_orderpriority, count(*) AS n
  FROM orders GROUP BY 1, 2
)
SELECT spine.month, prio.o_orderpriority, coalesce(actual.n, 0) AS n
FROM spine
CROSS JOIN prio
LEFT JOIN actual ON actual.month = spine.month AND actual.o_orderpriority = prio.o_orderpriority
""",
)
def monthly_priority_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """generate_series date-spine × dimension cross join, left join actuals,
    zero-fill — the spectrum_sequence_intensity pattern
    (database/sql/spectrum/sequences_gisaid_api_based.sql:385-393)."""
    o = load_table(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(_ntz("1995-01-01"), _ntz("2001-08-01"), F.expr("INTERVAL 1 MONTH"))
        ).alias("month")
    )
    prio = o.select("o_orderpriority").distinct()
    actual = (
        o.groupBy(
            trunc_ntz("month", "o_orderdate").alias("month"),
            "o_orderpriority",
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.crossJoin(F.broadcast(prio))
        .join(actual, ["month", "o_orderpriority"], "left")
        .select("month", "o_orderpriority", F.coalesce("n", F.lit(0)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Rollup over a zero-filled date spine (J7 + J2 + A6 composed) — the full
# spectrum_sequence_intensity shape.
# ---------------------------------------------------------------------------
@register(
    "intensity_spine_rollup",
    survey_ref="J7,J2,A6",
    oracle="""
WITH bounds AS (
  SELECT min(date_trunc('day', ts)) AS lo, max(date_trunc('day', ts)) AS hi FROM events
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
), types AS (
  SELECT DISTINCT event_type FROM events
), daily AS (
  SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n FROM events GROUP BY 1, 2
), filled AS (
  SELECT spine.day, types.event_type, coalesce(daily.n, 0) AS n
  FROM spine CROSS JOIN types
  LEFT JOIN daily ON daily.day = spine.day AND daily.event_type = types.event_type
)
SELECT day, event_type, CAST(sum(n) AS BIGINT) AS n_events
FROM filled GROUP BY ROLLUP(day, event_type)
""",
)
def intensity_spine_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete spectrum_sequence_intensity shape: data-driven date
    spine × dimension cross join, zero-filled left join, then
    ``group by rollup(...)`` for the subtotal rows
    (database/sql/spectrum/sequences_gisaid_api_based.sql:384-427).

    The spine bounds come from a 1-row aggregate crossJoined in (no
    driver collect); the spine and dim sides are broadcast — the only
    shuffle is the daily count's groupBy, keyed on (day, type), which
    scales with days × types, not row count.
    """
    ev = load_table(spark, sf_dir, "events").select(
        trunc_ntz("day", "ts").alias("day"), "event_type"
    )
    bounds = ev.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    daily = ev.groupBy("day", "event_type").agg(F.count(F.lit(1)).alias("n"))
    filled = (
        spine.crossJoin(F.broadcast(types))
        .join(daily, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )
    return filled.rollup("day", "event_type").agg(F.sum("n").alias("n_events"))


# ---------------------------------------------------------------------------
# Expression join (J9): join on a value parsed out of a string.
# ---------------------------------------------------------------------------
@register(
    "expression_join_name_parse",
    survey_ref="J9",
    oracle="""
SELECT c_mktsegment, count(*) AS n_orders
FROM orders
JOIN customer ON TRY_CAST(split_part(c_name, '#', 2) AS BIGINT) = o_custkey
GROUP BY c_mktsegment
""",
)
def expression_join_name_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join on a computed key (split_part + cast) — the
    split_part(test_id,'/',2)=sample_number join
    (database/sql/bag_sequence_report.sql:36-43)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").withColumn(
        "parsed_key", F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).try_cast("bigint")
    )
    return (
        o.join(c, F.col("parsed_key") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Join against inline VALUES (J10).
# ---------------------------------------------------------------------------
@register(
    "values_lookup_join",
    survey_ref="J10,A1",
    oracle="""
SELECT l_orderkey,
       round(sum(l_quantity), 2) AS total_qty,
       count(*)                  AS n_lines
FROM lineitem
JOIN (VALUES (1), (2), (3), (5), (8), (13), (21), (34)) AS v(key)
  ON l_orderkey = v.key
GROUP BY l_orderkey
""",
)
def values_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lookup via inline literal frame (database/sql/viollier_test.sql:308-315)."""
    li = load_table(spark, sf_dir, "lineitem")
    keys = spark.createDataFrame([(k,) for k in (1, 2, 3, 5, 8, 13, 21, 34)], "key bigint")
    return (
        li.join(F.broadcast(keys), F.col("l_orderkey") == F.col("key"))
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"), F.count(F.lit(1)).alias("n_lines"))
    )


# ---------------------------------------------------------------------------
# Argmin dedup via window (J11, W2) — THE dedup pattern of the reference.
# ---------------------------------------------------------------------------
@register(
    "cheapest_order_per_customer",
    survey_ref="J11,W2",
    oracle="""
SELECT c_custkey, o_orderkey, o_totalprice
FROM (
  SELECT c_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_custkey
                            ORDER BY o_totalprice, o_orderkey) AS rn
  FROM customer JOIN orders ON c_custkey = o_custkey
) t
WHERE rn = 1
""",
)
def cheapest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-row-per-group with total tie-break — the fewest-Ns-per-ETHID
    argmin dedup (sequences_gisaid_api_based.sql:60-78, with the
    number_n-then-sample_name tie-break at :74-76)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Skew-mitigated plans (scale posture): salted two-phase agg and salted
# join produce byte-identical results to their naive formulations, so the
# plain SQL is their oracle.
# ---------------------------------------------------------------------------
@register(
    "salted_supplier_totals",
    survey_ref="A1,skew",
    oracle="""
SELECT l_suppkey,
       round(sum(l_extendedprice), 2) AS total_price,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
GROUP BY l_suppkey
""",
)
def salted_supplier_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation under the correctness gate: phase 1
    groups by (key, salt) so a hot supplier spreads over tasks, phase 2
    combines the ≤8 partials per key (operators/skew.py). The inputs are
    exact 2-decimal quantities, so the true total is 2-decimal and the
    final round collapses any reassociation ulps (same argument as
    pricing_summary; Spark's own partial aggregation already reassociates
    the naive plan)."""
    from harvester_database_and_automation_spark.operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li,
        ["l_suppkey"],
        partial={"s": F.sum("l_extendedprice"), "c": F.count(F.lit(1))},
        final={"total": F.sum("s"), "n_items": F.sum("c")},
    )
    return out.select(
        "l_suppkey", F.round("total", 2).alias("total_price"), F.col("n_items")
    )


@register(
    "salted_brand_volume",
    survey_ref="J1,skew",
    oracle="""
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
)
def salted_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join under the correctness gate: the fact side is salted,
    the part side replicated ×salts, the join keyed on (key, salt) — a
    hot part id spreads over 8 shuffle partitions (operators/skew.py).
    Result rows are identical to the plain join, so the naive SQL is the
    oracle."""
    from harvester_database_and_automation_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        salted_join(li, p, ["p_partkey"])
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_lineitems"))
    )


# ---------------------------------------------------------------------------
# Global id assignment (W1).
# ---------------------------------------------------------------------------
@register(
    "global_sequence_ids",
    survey_ref="W1",
    oracle="""
SELECT n_name,
       1000 + row_number() OVER (ORDER BY n_name) AS assigned_id
FROM nation
""",
)
def global_sequence_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row_number id assignment (`<first id> + row_number()`,
    database/sql/viollier_test.sql:34-47). Fine on a dim table; for large
    fact tables use operators.ids.assign_global_ids (no single-partition
    sort)."""
    n = load_table(spark, sf_dir, "nation")
    w = Window.orderBy("n_name")
    return n.select("n_name", (F.lit(1000) + F.row_number().over(w)).cast("bigint").alias("assigned_id"))


# ---------------------------------------------------------------------------
# Prioritization window (W2, W3): multi-key ordered ranking.
# ---------------------------------------------------------------------------
@register(
    "order_priority_pick",
    survey_ref="W2,W3,O2",
    oracle="""
SELECT o_orderpriority, count(*) AS n_first_choice
FROM (
  SELECT o_orderpriority,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderpriority, o_orderdate DESC, o_orderkey) AS rn
  FROM orders
) t
WHERE rn = 1
GROUP BY o_orderpriority
""",
)
def order_priority_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key prioritization window (plate-priority pattern,
    database/sql/viollier_test.sql:74,149,214 and the boolean sort keys at
    :286-291)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderpriority").asc(), F.col("o_orderdate").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_first_choice"))
    )


# ---------------------------------------------------------------------------
# Top-k with deterministic tie-break (O1, O2).
# ---------------------------------------------------------------------------
@register(
    "top_parts_by_revenue",
    survey_ref="O1,O2,J1",
    oracle="""
SELECT p_partkey, p_name, revenue
FROM (
  SELECT p_partkey, p_name,
         round(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100), 2) AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_partkey, p_name
) t
ORDER BY revenue DESC, p_partkey
LIMIT 10
""",
)
def top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order-by-desc + limit ranking (database/sql/gisaid.sql:2-8)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "p_name")
        .agg(
            F.round(
                F.sum(_money2(F.col("l_extendedprice") * (1 - F.col("l_discount")))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("p_partkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Set operations (U1, U2, U3).
# ---------------------------------------------------------------------------
@register(
    "union_all_conform",
    survey_ref="U1",
    oracle="""
SELECT kind, CAST(year(ts) AS INT) AS yr, count(*) AS n
FROM (
  SELECT 'order' AS kind, o_orderdate AS ts FROM orders
  UNION ALL
  SELECT 'event' AS kind, ts FROM events
) u
GROUP BY kind, yr
""",
)
def union_all_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous sources conformed to one schema then unioned —
    in-house + GISAID sequences (sequences_gisaid_api_based.sql:22-113)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.lit("order").alias("kind"), F.col("o_orderdate").alias("ts")
    )
    e = load_table(spark, sf_dir, "events").select(F.lit("event").alias("kind"), "ts")
    return (
        o.unionByName(e)
        .groupBy("kind", F.year("ts").cast("int").alias("yr"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "union_distinct_nations",
    survey_ref="U2",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey FROM supplier
""",
)
def union_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION with dedup (database/sql/omicron_analysis.sql:10-27)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "rich_nations_except",
    survey_ref="U3",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
EXCEPT
SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
""",
)
def rich_nations_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-set difference (deletions = existing − package,
    GisaidApiImporter.java:374-381; R setdiff utility.R:524-530)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)


# ---------------------------------------------------------------------------
# Conditional aggregation / pivot-by-CASE (A2).
# ---------------------------------------------------------------------------
@register(
    "conditional_agg_linestatus",
    survey_ref="A2",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0 END), 2) AS discounted_value
FROM lineitem
GROUP BY l_returnflag
""",
)
def conditional_agg_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum(case when ...) contingency tables (database/sql/quality_control.sql:31-44,
    b117_analysis.sql:52-61)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", 1).otherwise(0)).cast("bigint").alias("n_open"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0)).cast("bigint").alias("n_finished"),
        F.round(
            F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")).otherwise(F.lit(0.0))), 2
        ).alias("discounted_value"),
    )


# ---------------------------------------------------------------------------
# COUNT DISTINCT (A3).
# ---------------------------------------------------------------------------
@register(
    "distinct_customers_per_priority",
    survey_ref="A3",
    oracle="""
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers
FROM orders
GROUP BY o_orderpriority
""",
)
def distinct_customers_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(distinct ...) (database/sql/quality_control.sql:100-106). At
    100TB swap for approx_count_distinct."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(F.countDistinct("o_custkey").alias("n_customers"))


# ---------------------------------------------------------------------------
# Ordered string_agg (A4).
# ---------------------------------------------------------------------------
@register(
    "nations_per_region_string_agg",
    survey_ref="A4",
    oracle="""
SELECT r_name,
       string_agg(n_name, ';' ORDER BY n_name) AS nation_list,
       count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def nations_per_region_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered string_agg — collect_list is unordered, so
    sort the array before joining (mutation-list concat,
    database/sql/consensus_sequence.sql:7, viollier_plate.sql:202-205)."""
    n = load_table(spark, sf_dir, "nation")
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        n.join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ";").alias("nation_list"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


# ---------------------------------------------------------------------------
# HAVING (A5).
# ---------------------------------------------------------------------------
@register(
    "hot_parts_having",
    survey_ref="A5",
    oracle="""
SELECT l_partkey, count(*) AS n_lines, round(avg(l_quantity), 2) AS avg_qty
FROM lineitem
GROUP BY l_partkey
HAVING count(*) >= 45 AND avg(l_quantity) > 20
""",
)
def hot_parts_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + post-aggregation filter (database/sql/viollier_test.sql:14-22,
    consensus_sequence.sql:67-71)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_lines"), F.avg("l_quantity").alias("_avg_qty"))
        .filter((F.col("n_lines") >= 45) & (F.col("_avg_qty") > 20))
        .select("l_partkey", "n_lines", F.round("_avg_qty", 2).alias("avg_qty"))
    )


# ---------------------------------------------------------------------------
# ROLLUP (A6).
# ---------------------------------------------------------------------------
@register(
    "customer_rollup_region_nation",
    survey_ref="A6,J1",
    oracle="""
SELECT r_name, n_name, count(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def customer_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group by rollup(...) subtotal hierarchy
    (database/sql/quality_control.sql:78-83,
    sequences_gisaid_api_based.sql:426)."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Share-of-total via window (A7).
# ---------------------------------------------------------------------------
@register(
    "nation_share_of_region_revenue",
    survey_ref="A7,J1,W2",
    oracle="""
WITH nat AS (
  SELECT r_name, n_name, sum(o_totalprice) AS nation_rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT r_name, n_name,
       round(nation_rev, 2) AS revenue,
       round(nation_rev / sum(nation_rev) OVER (PARTITION BY r_name), 4) AS region_share
FROM nat
""",
)
def nation_share_of_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-of-aggregate proportions (frac_batch pattern,
    database/sql/close_country_analysis.sql:68-91,
    database/R/export_spsp_submission.R:308-328)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    nat = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum("o_totalprice").alias("nation_rev"))
    )
    w = Window.partitionBy("r_name")
    return nat.select(
        "r_name",
        "n_name",
        F.round("nation_rev", 2).alias("revenue"),
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(w), 4).alias("region_share"),
    )


# ---------------------------------------------------------------------------
# Scalar-subquery denominator (A8).
# ---------------------------------------------------------------------------
@register(
    "parts_above_avg_price",
    survey_ref="A8,P2",
    oracle="""
SELECT p_brand, count(*) AS n_premium
FROM part
-- threshold rounded to the price grain (2 decimals): the raw double avg
-- depends on summation order, and an unrounded threshold within 1 ulp of
-- a price would flip row membership between engines
WHERE p_retailprice > round(1.02 * (SELECT avg(p_retailprice) FROM part), 2)
GROUP BY p_brand
""",
)
def parts_above_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery as threshold — computed once and broadcast instead
    of per-row (database/sql/consensus_sequence.sql:6,82-90). The
    threshold rounds to the 2-decimal price grain before the comparison:
    avg() is an order-dependent double sum, and an unrounded cut within
    an ulp of an actual price would include the row on one engine and
    exclude it on the other."""
    p = load_table(spark, sf_dir, "part")
    avg_df = p.agg(F.avg("p_retailprice").alias("_avg_price"))
    return (
        p.crossJoin(F.broadcast(avg_df))
        .filter(F.col("p_retailprice") > F.round(1.02 * F.col("_avg_price"), 2))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_premium"))
    )


# ---------------------------------------------------------------------------
# Percentiles (A9).
# ---------------------------------------------------------------------------
@register(
    "order_value_percentiles",
    survey_ref="A9",
    oracle="""
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
FROM orders
GROUP BY o_orderpriority
""",
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentile (percentile_cont within group,
    database/sql/spectrum/usage_statistics.sql:56-62) via the shared
    TWO-LEVEL distribution quantile (`group_quantiles_binned`) — same
    exact answer as holistic ``percentile`` but no per-group value
    buffer, and no per-group NDV-row window task either: o_totalprice is
    near-unique (NDV ~ N), exactly the unbounded-NDV profile the
    single-level `group_quantiles_exact` concentrates into one sort task
    per priority. The bucket scheme keeps every task at one bucket's
    slice of the distribution at any corpus size."""
    from harvester_database_and_automation_spark.plans.shared import group_quantiles_binned

    o = load_table(spark, sf_dir, "orders")
    qv = group_quantiles_binned(
        o.select("o_orderpriority", "o_totalprice"), ["o_orderpriority"], "o_totalprice", [0.5, 0.9]
    )
    return qv.select(
        "o_orderpriority",
        F.round("q0", 4).alias("median_price"),
        F.round("q1", 4).alias("p90_price"),
    )


@register(
    "kmv_ndv_estimate",
    survey_ref="sketch-cardinality,A3,A8",
    oracle="""
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
           / CAST(1152921504606846976 AS DOUBLE) AS hv
  FROM (SELECT DISTINCT l_partkey FROM lineitem)
),
kmin AS (SELECT hv FROM h ORDER BY hv LIMIT 64),
sketch AS (SELECT max(hv) AS hk, CAST(count(*) AS BIGINT) AS k FROM kmin),
exact AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS ndv FROM lineitem)
SELECT e.ndv,
       round((s.k - 1) / s.hk, 2) AS kmv_estimate,
       round(abs((s.k - 1) / s.hk - e.ndv) / e.ndv, 4) AS rel_err
FROM sketch s CROSS JOIN exact e
""",
)
def kmv_ndv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values cardinality sketch certified against the exact
    distinct count: hash every distinct key to [0,1), keep the 64 smallest
    hashes, estimate NDV as (k-1)/h_(k) — the order-statistics estimator
    behind KMV/theta sketches, here with a deterministic md5 hash so the
    SQL oracle replays it bit-for-bit (HLL itself can't be cross-engine
    oracle-checked: implementations differ).

    Scale shape: the k smallest hashes are a top-k (TakeOrdered — per
    partition k values, then a k*partitions merge on the driver side of
    the exchange), so the sketch side never shuffles the key set; the
    exact side exists only as the certification denominator, exactly like
    `ivf_recall_at_3`'s ground truth."""
    li = load_table(spark, sf_dir, "lineitem")
    h = (
        li.select("l_partkey")
        .distinct()
        .select(
            (
                F.expr("cast(conv(substr(md5(cast(l_partkey as string)), 1, 15), 16, 10) as bigint)")
                / F.lit(1152921504606846976).cast("double")
            ).alias("hv")
        )
    )
    kmin = h.orderBy("hv").limit(64)
    sketch = kmin.agg(F.max("hv").alias("hk"), F.count(F.lit(1)).cast("bigint").alias("k"))
    exact = li.agg(F.countDistinct("l_partkey").cast("bigint").alias("ndv"))
    est = (F.col("k") - 1) / F.col("hk")
    return sketch.crossJoin(exact).select(
        "ndv",
        F.round(est, 2).alias("kmv_estimate"),
        F.round(F.abs(est - F.col("ndv")) / F.col("ndv"), 4).alias("rel_err"),
    )


# Shared KMV hash: distinct key -> uniform [0,1) via 60 md5 bits.
_KMV_HASH_SQL = (
    "('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 15))::BIGINT"
    " / CAST(1152921504606846976 AS DOUBLE)"
)


@register(
    "kmv_segment_overlap",
    survey_ref="sketch-cardinality,U2,A3",
    oracle=f"""
WITH a_keys AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
b_keys AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'),
a_min AS (SELECT {_KMV_HASH_SQL.format(key='o_custkey')} AS hv FROM a_keys ORDER BY hv LIMIT 64),
b_min AS (SELECT {_KMV_HASH_SQL.format(key='o_custkey')} AS hv FROM b_keys ORDER BY hv LIMIT 64),
u_min AS (
  SELECT hv FROM (SELECT hv FROM a_min UNION SELECT hv FROM b_min) t ORDER BY hv LIMIT 64
),
est AS (
  SELECT (SELECT (count(*) - 1) / max(hv) FROM a_min) AS est_a,
         (SELECT (count(*) - 1) / max(hv) FROM b_min) AS est_b,
         (SELECT (count(*) - 1) / max(hv) FROM u_min) AS est_union
),
exact AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM a_keys) AS exact_a,
         (SELECT CAST(count(*) AS BIGINT) FROM b_keys) AS exact_b,
         (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT o_custkey FROM a_keys UNION SELECT o_custkey FROM b_keys)) AS exact_union
)
SELECT exact_a, exact_b, exact_union,
       round(est_a, 2) AS est_a,
       round(est_b, 2) AS est_b,
       round(est_union, 2) AS est_union,
       round(est_a + est_b - est_union, 2) AS est_intersection
FROM est CROSS JOIN exact
""",
)
def kmv_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch ALGEBRA: estimate the union and intersection of two
    customer segments from their 64-value sketches alone — merge the two
    k-min sets, re-truncate to k, apply the same (k-1)/h_k estimator, and
    get the intersection by inclusion-exclusion. Exact counts ride along
    as certification.

    Mergeability is what matters at 100 TB: each segment (or partition, or
    day) keeps a 64-double sketch, and ANY union of segments is estimable
    by merging sketches — no re-scan of the raw keys. The estimator and
    hash are the `kmv_ndv_estimate` ones, so both engines agree exactly."""
    o = load_table(spark, sf_dir, "orders")

    def hmin(priority: str) -> DataFrame:
        return (
            o.filter(F.col("o_orderpriority") == priority)
            .select("o_custkey")
            .distinct()
            .select(
                (
                    F.expr(
                        "cast(conv(substr(md5(cast(o_custkey as string)), 1, 15), 16, 10) as bigint)"
                    )
                    / F.lit(1152921504606846976).cast("double")
                ).alias("hv")
            )
            .orderBy("hv")
            .limit(64)
        )

    a_min, b_min = hmin("1-URGENT"), hmin("2-HIGH")
    u_min = a_min.union(b_min).distinct().orderBy("hv").limit(64)

    def est(kmin: DataFrame, name: str) -> DataFrame:
        return kmin.agg(((F.count(F.lit(1)) - 1) / F.max("hv")).alias(name))

    def exact(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(name))

    a_keys = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    b_keys = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey").distinct()
    u_keys = a_keys.union(b_keys).distinct()

    row = (
        est(a_min, "est_a_raw")
        .crossJoin(est(b_min, "est_b_raw"))
        .crossJoin(est(u_min, "est_union_raw"))
        .crossJoin(exact(a_keys, "exact_a"))
        .crossJoin(exact(b_keys, "exact_b"))
        .crossJoin(exact(u_keys, "exact_union"))
    )
    return row.select(
        "exact_a",
        "exact_b",
        "exact_union",
        F.round("est_a_raw", 2).alias("est_a"),
        F.round("est_b_raw", 2).alias("est_b"),
        F.round("est_union_raw", 2).alias("est_union"),
        F.round(
            F.col("est_a_raw") + F.col("est_b_raw") - F.col("est_union_raw"), 2
        ).alias("est_intersection"),
    )


@register(
    "kmv_sketch_merge_served",
    survey_ref="sketch-cardinality,U2,A3",
    oracle=f"""
WITH a_keys AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
b_keys AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'),
a_min AS (SELECT {_KMV_HASH_SQL.format(key='o_custkey')} AS hv FROM a_keys ORDER BY hv LIMIT 64),
b_min AS (SELECT {_KMV_HASH_SQL.format(key='o_custkey')} AS hv FROM b_keys ORDER BY hv LIMIT 64),
u_min AS (
  SELECT hv FROM (SELECT hv FROM a_min UNION SELECT hv FROM b_min) t ORDER BY hv LIMIT 64
),
est AS (
  SELECT (SELECT (count(*) - 1) / max(hv) FROM a_min) AS est_a,
         (SELECT (count(*) - 1) / max(hv) FROM b_min) AS est_b,
         (SELECT (count(*) - 1) / max(hv) FROM u_min) AS est_union
)
SELECT round(est_a, 2) AS est_a,
       round(est_b, 2) AS est_b,
       round(est_union, 2) AS est_union,
       round(est_a + est_b - est_union, 2) AS est_intersection
FROM est
""",
)
def kmv_sketch_merge_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape KMV sketch algebra: reads the MAINTAINED
    ``kmv_sketches`` derived table (pipelines/derived.py `read_derived`
    — ≤64 (segment, hv) rows per segment, rebuilt per ingest) and
    estimates two segments' cardinalities, their union (merge + re-
    truncate to k), and their intersection (inclusion-exclusion) from
    the published doubles ALONE — no raw key re-scan anywhere in the
    plan, which is the entire reason a sketch service maintains this
    table. `kmv_segment_overlap` stays registered as the certification
    that runs sketch AND exact counts side by side; this oracle replays
    the sketch derivation from the raw keys, so the publish + read
    round-trip is hash-certified."""
    from harvester_database_and_automation_spark.pipelines.derived import read_derived

    sk = read_derived(spark, sf_dir, "kmv_sketches")
    a_min = sk.filter(F.col("segment") == "1-URGENT").select("hv")
    b_min = sk.filter(F.col("segment") == "2-HIGH").select("hv")
    u_min = a_min.union(b_min).distinct().orderBy("hv").limit(64)

    def est(kmin: DataFrame, name: str) -> DataFrame:
        return kmin.agg(((F.count(F.lit(1)) - 1) / F.max("hv")).alias(name))

    row = (
        est(a_min, "est_a_raw")
        .crossJoin(est(b_min, "est_b_raw"))
        .crossJoin(est(u_min, "est_union_raw"))
    )
    return row.select(
        F.round("est_a_raw", 2).alias("est_a"),
        F.round("est_b_raw", 2).alias("est_b"),
        F.round("est_union_raw", 2).alias("est_union"),
        F.round(
            F.col("est_a_raw") + F.col("est_b_raw") - F.col("est_union_raw"), 2
        ).alias("est_intersection"),
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

_PROFILE_ORACLE = (
    "WITH long AS (\n"
    + "\n  UNION ALL ".join(
        f"SELECT '{c}' AS col_name, {c} AS value FROM lineitem" for c in _PROFILE_COLS
    )
    + """
)
SELECT col_name,
       CAST(count(*) AS BIGINT)                   AS n_rows,
       CAST(count(*) - count(value) AS BIGINT)    AS n_nulls,
       CAST(count(DISTINCT value) AS BIGINT)      AS ndv,
       round(min(value), 4)                       AS min_value,
       round(max(value), 4)                       AS max_value,
       round(quantile_cont(value, 0.25), 4)       AS q1,
       round(quantile_cont(value, 0.50), 4)       AS median,
       round(quantile_cont(value, 0.75), 4)       AS q3
FROM long GROUP BY col_name
"""
)


@register(
    "lineitem_column_profile",
    survey_ref="stats-profile,A1,A3,A9",
    oracle=_PROFILE_ORACLE,
)
def lineitem_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table statistics: per measure column of the fact
    table, row/null counts, exact NDV, min/max, and the exact quartiles —
    the profile an optimizer (or a data-quality monitor) collects per
    ingest. The reference leans on PostgreSQL's implicit ANALYZE for this;
    in Spark it is an explicit query feeding CBO/monitoring.

    Quantiles come from a VALUE-DISTRIBUTION aggregation, not a holistic
    ``percentile`` buffer: stack the measures long, groupBy (col, value)
    for counts (map-side combinable — the shuffle carries NDV rows, not N
    rows), running-total the distribution per column, and look up the two
    bracketing ranks of each continuous-quantile position p = q·(n−1),
    interpolating v_lo + frac·(v_hi − v_lo) exactly as quantile_cont
    defines. Same exact answer as the round-2 ``percentile`` version, but
    no executor ever buffers raw values — the old plan held every value
    of the fact table in ONE aggregation buffer, the worst 10×-scaling
    entry in SCALING.json and an OOM at 100 TB. Memory here is bounded by
    the hash-agg (spillable) and a sort-window over pre-aggregated
    (col, value, cnt) rows.

    Bounded-domain note: the cumulative window runs one task per COLUMN
    over its NDV rows. Measure domains are value grids (quantities 1..50,
    cents-priced money), so NDV plateaus in the low millions regardless
    of row count. This single-level form is the small-table
    CERTIFICATION baseline; `lineitem_column_profile_binned` (next
    query, same oracle) is the registered scale path — it two-levels the
    prefix sum over monotone log2 buckets so no task ever sorts more
    than one bucket's slice, the plan for a column whose NDV grows with
    the data."""
    li = load_table(spark, sf_dir, "lineitem")
    stack_args = ", ".join(f"'{c}', cast({c} as double)" for c in _PROFILE_COLS)
    # No fanout: stack + the (col, value) partial agg pipeline inside the
    # scan tasks — a repartition would ship every stacked row for work
    # the map-side combine collapses to NDV rows anyway.
    long = li.select(*_PROFILE_COLS).selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) as (col_name, value)"
    )
    # ONE scan, ONE NDV-sized shuffle: nulls stay as their own group so
    # row/null counts, NDV, min/max, and the quantile distribution all
    # derive from this frame.
    dist_all = long.groupBy("col_name", "value").agg(F.count(F.lit(1)).alias("cnt"))
    # Null groups stay in the frame with ZERO cumulative contribution
    # (they sort first under ASC NULLS FIRST, so cum=0 there and every
    # non-null row's rank span is untouched) — null accounting, NDV,
    # min/max, and the quantile lookups then all come out of ONE
    # window + ONE final aggregation: a single scan, a single NDV-sized
    # shuffle, no second branch to re-execute.
    pcol = Window.partitionBy("col_name")
    live_cnt = F.when(F.col("value").isNotNull(), F.col("cnt")).otherwise(F.lit(0))
    cumf = dist_all.withColumn("cum", F.sum(live_cnt).over(pcol.orderBy("value"))).withColumn(
        "n_val", F.max("cum").over(pcol)
    )
    # Each non-null dist row covers 0-based ranks [cum-cnt, cum-1]; the
    # value at a continuous-quantile position p = q*(n_val-1)
    # interpolates between the rows covering floor(p) and ceil(p). n_val
    # rides along as a window max, so the bracketing-rank lookups are
    # plain conditional aggregates (null rows never match: their value
    # contributes nothing to max(when(...))).
    aggs = [
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), F.col("cnt")).otherwise(F.lit(0))).alias(
            "n_nulls"
        ),
        F.count("value").alias("ndv"),
        F.min("value").alias("minv"),
        F.max("value").alias("maxv"),
        F.max("n_val").alias("n_val"),
    ]
    for i, q in enumerate((0.25, 0.50, 0.75)):
        p = F.lit(q) * (F.col("n_val") - 1)
        lo_in = (F.floor(p) >= F.col("cum") - F.col("cnt")) & (F.floor(p) <= F.col("cum") - 1)
        hi_in = (F.ceil(p) >= F.col("cum") - F.col("cnt")) & (F.ceil(p) <= F.col("cum") - 1)
        aggs += [
            F.max(F.when(lo_in, F.col("value"))).alias(f"vlo{i}"),
            F.max(F.when(hi_in, F.col("value"))).alias(f"vhi{i}"),
        ]
    prof = cumf.groupBy("col_name").agg(*aggs)
    qcols = []
    for i, (q, name) in enumerate(zip((0.25, 0.50, 0.75), ("q1", "median", "q3"))):
        p = F.lit(q) * (F.col("n_val") - 1)
        frac = p - F.floor(p)
        qcols.append(
            F.round(
                F.col(f"vlo{i}") + frac * (F.col(f"vhi{i}") - F.col(f"vlo{i}")), 4
            ).alias(name)
        )
    return prof.select(
        "col_name",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        F.col("ndv").cast("bigint").alias("ndv"),
        F.round("minv", 4).alias("min_value"),
        F.round("maxv", 4).alias("max_value"),
        *qcols,
    )


@register(
    "lineitem_column_profile_binned",
    survey_ref="stats-profile,A1,A3,A9",
    oracle=_PROFILE_ORACLE,
)
def lineitem_column_profile_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANALYZE-style column profile on the TWO-LEVEL quantile plan —
    same exact answers (and the same oracle) as `lineitem_column_profile`,
    different physical shape for unbounded-NDV columns.

    The single-level baseline running-totals each column's FULL value
    distribution in one cumulative-window task — correct, but the task
    grows with NDV (its 10x step ratio measured 3.85: NDV has not
    plateaued at these scale factors). Here the distribution two-levels
    through `distribution_quantiles_binned` (plans/shared.py): a
    bucket-level prefix sum over a few hundred monotone log2 buckets per
    column, then a value-level window over ONLY the ≤6 buckets holding a
    requested rank. Row/null counts, NDV, and min/max come from a plain
    per-bucket aggregation of the SAME distribution frame — no window —
    and Spark's ReuseExchange runs the NDV-sized shuffle once for both
    consumers. Nothing in the plan sorts more than one bucket's slice,
    at any NDV. Reference analog: the per-ingest profile PostgreSQL's
    implicit ANALYZE collects across `database/sql/`."""
    from harvester_database_and_automation_spark.plans.shared import (
        distribution_quantiles_binned,
    )

    from harvester_database_and_automation_spark.plans.shared import fanout

    li = load_table(spark, sf_dir, "lineitem")
    stack_args = ", ".join(f"'{c}', cast({c} as double)" for c in _PROFILE_COLS)
    # fanout BEFORE the stack: a single-split scan would otherwise run
    # the 4x-fanned stack plus the NDV partial agg in one task (no-op on
    # a multi-split production scan).
    long = fanout(li.select(*_PROFILE_COLS)).selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) as (col_name, value)"
    )
    # ONE scan: the NDV-sized distribution materializes once
    # (localCheckpoint = the pushdown barrier) and serves the stats
    # aggregate AND the two-level quantile, whose branched consumers
    # would otherwise each re-run the scan + partial agg (ReuseExchange
    # does not fire across their inferred-filter differences).
    dist_all = (
        long.groupBy("col_name", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    stats = dist_all.groupBy("col_name").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), F.col("cnt")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_nulls"),
        F.count("value").cast("bigint").alias("ndv"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )
    qv = distribution_quantiles_binned(
        dist_all, ["col_name"], "value", "cnt", [0.25, 0.50, 0.75], materialize=False
    )
    return stats.join(qv, "col_name", "left").select(
        "col_name",
        "n_rows",
        "n_nulls",
        "ndv",
        "min_value",
        "max_value",
        F.round("q0", 4).alias("q1"),
        F.round("q1", 4).alias("median"),
        F.round("q2", 4).alias("q3"),
    )


# ---------------------------------------------------------------------------
# First-per-group keep-first (A10).
# ---------------------------------------------------------------------------
@register(
    "first_event_per_user",
    survey_ref="A10,W2",
    oracle="""
SELECT user_id, event_id, event_type
FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) t
WHERE rn = 1
""",
)
def first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first-per-key dedup (summarize first() per sample_number,
    database/R/import_viollier_test_data.R:36-49; keep-last
    import_bag_meldeformular.R:207-212 is the DESC variant)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


# ---------------------------------------------------------------------------
# ISO week/year extraction (§2.8 date family).
# ---------------------------------------------------------------------------
@register(
    "orders_per_isoweek",
    survey_ref="date-funcs",
    oracle="""
SELECT CAST(isoyear(o_orderdate) AS INT)    AS iso_year,
       CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
       count(*) AS n
FROM orders
GROUP BY 1, 2
""",
)
def orders_per_isoweek(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract(isoyear/week) weekly rollup — incl. the isoyear-vs-year trap
    the reference notes ("week 53 wraps around", database/sql/gisaid.sql:47-68)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.expr("extract(YEAROFWEEK FROM o_orderdate)").cast("int").alias("iso_year"),
            F.weekofyear("o_orderdate").cast("int").alias("iso_week"),
        ).agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Weekly sequencing report (the bag_sequence_report composition: dual
# pipeline union -> preference dedup -> weekly counts ⟗ weekly tests ->
# share; database/sql/bag_sequence_report.sql:1-122).
# ---------------------------------------------------------------------------
@register(
    "weekly_sequencing_report",
    survey_ref="U1,W2,J3,A2,date-funcs",
    oracle="""
WITH seqd AS (
  SELECT user_id, ts, event_id,
         CAST(isoyear(ts) AS INT)    AS yr,
         CAST(weekofyear(ts) AS INT) AS wk,
         CASE WHEN event_type = 'click' THEN 'new' ELSE 'old' END AS src
  FROM events WHERE event_type IN ('click', 'view')
), dedup AS (
  SELECT yr, wk, user_id, src FROM (
    SELECT yr, wk, user_id, src,
           row_number() OVER (
             PARTITION BY yr, wk, user_id
             ORDER BY CASE WHEN src = 'new' THEN 0 ELSE 1 END, ts, event_id) AS rk
    FROM seqd) t
  WHERE rk = 1
), seq_weekly AS (
  SELECT yr, wk,
         CAST(count(*) AS BIGINT) AS n_seq,
         CAST(sum(CASE WHEN src = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new
  FROM dedup GROUP BY yr, wk
), tests_weekly AS (
  SELECT CAST(isoyear(ts) AS INT) AS yr, CAST(weekofyear(ts) AS INT) AS wk,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_tests
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT coalesce(s.yr, t.yr) AS yr, coalesce(s.wk, t.wk) AS wk,
       coalesce(n_seq, 0)  AS n_seq,
       coalesce(n_new, 0)  AS n_new,
       coalesce(n_tests, 0) AS n_tests,
       round(coalesce(n_seq, 0) * 1.0 / nullif(n_tests, 0), 6) AS seq_share
FROM seq_weekly s FULL OUTER JOIN tests_weekly t ON s.yr = t.yr AND s.wk = t.wk
""",
)
def weekly_sequencing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bag_sequence_report composition end-to-end: two "pipelines"
    (click=new, view=old) unioned, one row per (week, user) preferring
    the new pipeline (W2 preference window with deterministic tie-break),
    weekly sequenced counts full-outer joined to weekly positive-test
    counts (J3, gisaid.sql:80-87), and a null-safe share. Every shuffle
    is keyed on (yr, wk[, user_id]) — counts, never payloads."""
    ev = load_table(spark, sf_dir, "events")
    yr = F.expr("extract(YEAROFWEEK FROM ts)").cast("int").alias("yr")
    wk = F.weekofyear("ts").cast("int").alias("wk")
    seqd = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        "ts",
        "event_id",
        yr,
        wk,
        F.when(F.col("event_type") == "click", "new").otherwise("old").alias("src"),
    )
    w = Window.partitionBy("yr", "wk", "user_id").orderBy(
        F.when(F.col("src") == "new", 0).otherwise(1), "ts", "event_id"
    )
    dedup = seqd.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    seq_weekly = dedup.groupBy("yr", "wk").agg(
        F.count(F.lit(1)).alias("n_seq"),
        F.sum(F.when(F.col("src") == "new", 1).otherwise(0)).alias("n_new"),
    )
    tests_weekly = (
        ev.filter(F.col("event_type") == "purchase")
        .select(yr, wk, "user_id")
        .groupBy("yr", "wk")
        .agg(F.countDistinct("user_id").alias("n_tests"))
    )
    joined = seq_weekly.alias("s").join(
        tests_weekly.alias("t"), ["yr", "wk"], "full_outer"
    )
    n_seq = F.coalesce("n_seq", F.lit(0))
    n_tests = F.coalesce("n_tests", F.lit(0))
    return joined.select(
        "yr",
        "wk",
        n_seq.alias("n_seq"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
        n_tests.alias("n_tests"),
        F.round(n_seq * 1.0 / F.nullif(n_tests, F.lit(0)), 6).alias("seq_share"),
    )


# ---------------------------------------------------------------------------
# Date arithmetic (§2.8).
# ---------------------------------------------------------------------------
@register(
    "order_age_buckets",
    survey_ref="date-funcs,P4",
    oracle="""
SELECT CAST(floor(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') / 365) AS INT) AS age_years,
       count(*) AS n
FROM orders
GROUP BY 1
""",
)
def order_age_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date subtraction + integer binning (date_submitted - date,
    database/sql/gisaid.sql:62)."""
    o = load_table(spark, sf_dir, "orders")
    age = F.floor(
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")) / 365
    ).cast("int")
    return o.groupBy(age.alias("age_years")).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# JSON extraction (§1.2 jsonb columns).
# ---------------------------------------------------------------------------
@register(
    "json_props_extract",
    survey_ref="json,A1",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_value,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1
""",
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload field extraction — the jsonb columns
    (database/init.sql:1260, 1343-1348) read with get_json_object."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.get_json_object("props", "$.k").cast("int").alias("k_value"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


# ---------------------------------------------------------------------------
# Regex extraction + rlike filter (§2.8 regex family).
# ---------------------------------------------------------------------------
@register(
    "part_name_regex",
    survey_ref="regex,P3",
    oracle="""
SELECT regexp_extract(p_name, '([a-z]+)\\z', 1) AS last_word,
       count(*) AS n
FROM part
WHERE p_name ~ '^[a-z]+ [a-z]+\\z' AND p_brand NOT LIKE 'Brand#1%'
GROUP BY 1
""",
)
def part_name_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract + regex predicate + NOT LIKE
    (database/sql/viollier_plate.sql:34-35, gisaid_our_sequences.sql:3-8)."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_name").rlike("^[a-z]+ [a-z]+\\z") & ~F.col("p_brand").like("Brand#1%"))
        .groupBy(F.regexp_extract("p_name", "([a-z]+)\\z", 1).alias("last_word"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Sessionization via lag + cumulative sum (streaming-adjacent batch pattern).
# ---------------------------------------------------------------------------
@register(
    "event_sessionization",
    survey_ref="W2,streaming,A1",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id,
         -- same (ts, event_id) total order as the lag window: an
         -- order-by-ts-only ROWS frame is nondeterministic on tied
         -- timestamps and could split/merge sessions differently per run
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id,
       CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM sessions
GROUP BY user_id
""",
)
def event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: lag + cumulative sum over an event-time
    window (30-minute inactivity gap). The batch twin of
    session_window(ts, gap) in Structured Streaming."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # the cumulative frame must use the SAME deterministic total order as
    # the lag window — ts alone is ambiguous on tied timestamps
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull() | ((F.col("ts") - prev_ts) > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(wsum))
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Pivot / conditional-aggregation matrix (A2 as a wide table).
# ---------------------------------------------------------------------------
@register(
    "event_type_pivot",
    survey_ref="A2,pivot",
    oracle="""
SELECT user_id,
       round(coalesce(sum(value) FILTER (event_type = 'click'), 0), 2)    AS click_total,
       round(coalesce(sum(value) FILTER (event_type = 'view'), 0), 2)     AS view_total,
       round(coalesce(sum(value) FILTER (event_type = 'purchase'), 0), 2) AS purchase_total,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT)             AS n_errors
FROM events
GROUP BY user_id
""",
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide conditional-aggregation pivot (sum-by-case dashboards,
    database/sql/quality_control.sql:31-44). Explicit pivot values keep the
    plan a single aggregation pass."""
    e = load_table(spark, sf_dir, "events")

    def total(kind: str):
        return F.round(
            F.coalesce(F.sum(F.when(F.col("event_type") == kind, F.col("value"))), F.lit(0.0)), 2
        )

    return e.groupBy("user_id").agg(
        total("click").alias("click_total"),
        total("view").alias("view_total"),
        total("purchase").alias("purchase_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast("bigint").alias("n_errors"),
    )


# ---------------------------------------------------------------------------
# Split + explode (§2.8 array family).
# ---------------------------------------------------------------------------
@register(
    "part_name_word_counts",
    survey_ref="array-explode",
    oracle="""
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part) t
GROUP BY word
""",
)
def part_name_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unnest(string_to_array(...)) — the authors-explode
    (database/sql/gisaid.sql:21-31) and separate_rows patterns."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Lateral-join stratified subsample (J8), work-queue slicing (O3),
# boolean-priority top-k (W3/O2), newest-per-key max_by (O4), and
# string_agg ordered by a different column (A4).
# ---------------------------------------------------------------------------
@register(
    "stratified_sample_per_nation",
    survey_ref="J8,W2",
    oracle="""
SELECT n_name, c_custkey
FROM (
  SELECT n.n_name, c.c_custkey,
         row_number() OVER (PARTITION BY n.n_name ORDER BY md5(c.c_custkey::VARCHAR), c.c_custkey) AS rk
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
) t
WHERE rk <= 3
""",
)
def stratified_sample_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — the per-group correlated 'order by random() limit n' subsample
    (origincountry/OriginCountryEstimator.java:155-162) as a window over a
    deterministic pseudo-random key (md5 of the id): rank within group,
    keep rk <= n. Same plan shape as the lateral join, one shuffle."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    w = Window.partitionBy("n_name").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
    )
    return (
        c.join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "c_custkey")
    )


@register(
    "work_queue_next_slice",
    survey_ref="O3,J6",
    oracle="""
SELECT o_orderkey, o_orderpriority
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_linenumber >= 3
)
ORDER BY o_orderkey
LIMIT 100
""",
)
def work_queue_next_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 — incremental work-queueing: 'next N items without a result yet'
    (import_nextclade.R:197-209, OriginCountryEstimator.java:189-209) as an
    anti-join against the done-set plus a deterministic order + limit.
    At scale the limit disappears and the anti-join alone drives the run."""
    o = load_table(spark, sf_dir, "orders")
    done = load_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") >= 3)
    return (
        o.join(done, F.col("o_orderkey") == F.col("l_orderkey"), "left_anti")
        .orderBy("o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_orderpriority")
    )


@register(
    "priority_boolean_topk",
    survey_ref="W3,O2",
    oracle="""
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders
ORDER BY (o_orderpriority = '1-URGENT') DESC,
         (o_totalprice > 200000) DESC,
         o_orderdate,
         o_orderkey
LIMIT 20
""",
)
def priority_boolean_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — prioritization by ordered boolean sort keys then take-k (the
    plate-selection ordering, database/sql/viollier_test.sql:286-291).
    Spark's TakeOrderedAndProject keeps this a single pass, no full sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(
            (F.col("o_orderpriority") == "1-URGENT").desc(),
            (F.col("o_totalprice") > 200000).desc(),
            F.col("o_orderdate").asc(),
            F.col("o_orderkey").asc(),
        )
        .limit(20)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


@register(
    "latest_event_type_per_user",
    survey_ref="O4,A10",
    oracle="""
SELECT user_id,
       (max(struct_pack(ts := ts, eid := event_id, et := event_type))).et AS last_event_type,
       max(ts) AS last_ts
FROM events
GROUP BY user_id
""",
)
def latest_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — newest-item selection per key (the newest-file pattern,
    pangolin_lineage_exporter.py:46-63): max over a (ts, id, value) struct
    — lexicographic struct comparison gives max_by with a deterministic
    tie-break in both engines."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.max(F.struct(F.col("ts"), F.col("event_id").alias("eid"), F.col("event_type").alias("et")))
        .getField("et")
        .alias("last_event_type"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "nations_by_key_desc_string_agg",
    survey_ref="A4",
    oracle="""
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_nationkey DESC) AS nations_newest_first
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def nations_by_key_desc_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — string_agg ordered by a DIFFERENT column than the aggregated
    one ('string_agg(... order by seq_method)', viollier_plate.sql:202-205):
    collect (sort_key, value) structs, array_sort descending via a struct
    trick (negated key), then project the values."""
    n = load_table(spark, sf_dir, "nation")
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        n.join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct((-F.col("n_nationkey")).alias("k"), F.col("n_name")))
                    ),
                    lambda s: s["n_name"],
                ),
                ",",
            ).alias("nations_newest_first")
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (§1.2 FK mapping; §5.3 reconciliation-as-test).
# ---------------------------------------------------------------------------
@register(
    "fk_orphan_audit",
    survey_ref="J6,U1,A1",
    oracle="""
SELECT 'orders->customer' AS relationship, CAST(count(*) AS BIGINT) AS n_orphans
FROM orders o WHERE o.o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem->orders', CAST(count(*) AS BIGINT)
FROM lineitem l WHERE l.l_orderkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'lineitem->part', CAST(count(*) AS BIGINT)
FROM lineitem l WHERE l.l_partkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
UNION ALL
SELECT 'events->customer', CAST(count(*) AS BIGINT)
FROM events e WHERE e.user_id IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
""",
)
def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK constraint scan over the star schema: each edge is a left-anti
    hash join counting child rows with no parent (operators/integrity.py),
    unioned into one audit report — Spark's procedural replacement for the
    reference's declarative FKs with cascade (init.sql:258-259, 341-342).
    All-zero counts certify the corpus; nonzero rows carry straight to
    quarantine in the import DAG."""
    from harvester_database_and_automation_spark.operators.integrity import orphans

    edges = [
        ("orders->customer", "orders", "customer", {"o_custkey": "c_custkey"}),
        ("lineitem->orders", "lineitem", "orders", {"l_orderkey": "o_orderkey"}),
        ("lineitem->part", "lineitem", "part", {"l_partkey": "p_partkey"}),
        ("events->customer", "events", "customer", {"user_id": "c_custkey"}),
    ]
    parts = []
    for label, child_t, parent_t, fk in edges:
        child = load_table(spark, sf_dir, child_t)
        parent = load_table(spark, sf_dir, parent_t)
        parts.append(
            orphans(child, parent, fk).agg(
                F.lit(label).alias("relationship"),
                F.count(F.lit(1)).cast("bigint").alias("n_orphans"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# O2 — expression sort on a regex-derived key with modulo grid layout
# (the plate-layout sort, viollier_plate.sql:29-54, viollier_test.sql:93-95).
# ---------------------------------------------------------------------------
@register(
    "supplier_plate_layout",
    survey_ref="O2,P3",
    oracle="""
SELECT s_name, CAST(n AS INT) AS num,
       CAST(n % 7 AS INT)  AS grid_col,
       CAST(n // 7 AS INT) AS grid_row
FROM (
  SELECT s_name, TRY_CAST(regexp_extract(s_name, '([0-9]+)\\z', 1) AS BIGINT) AS n
  FROM supplier
) t
ORDER BY grid_col, grid_row, s_name
""",
)
def supplier_plate_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort entities into a 7-wide grid keyed by the number parsed off the
    end of their name — `substring(name,'[0-9]*$')::int % 7` (0-based ids) with the
    derived row index, exactly the 96-well plate layout ordering."""
    s = load_table(spark, sf_dir, "supplier")
    n = F.regexp_extract("s_name", r"([0-9]+)\z", 1).try_cast("bigint")
    out = s.select(
        "s_name",
        n.cast("int").alias("num"),
        (n % 7).cast("int").alias("grid_col"),
        F.floor(n / 7).cast("int").alias("grid_row"),
    )
    return out.orderBy("grid_col", "grid_row", "s_name")


# ---------------------------------------------------------------------------
# O2/W1 — boolean triage ordering with a group-level contains-flag sort key
# (database/sql/a_collection_of_intesting_one_time_queries.sql:1-38 — "take
# a look at the order clause :)").
# ---------------------------------------------------------------------------
@register(
    "plate_triage_order",
    survey_ref="O2,W1,J1,P5",
    oracle="""
WITH sl AS (
  SELECT l.l_orderkey AS o_orderkey, l.l_linenumber,
         n.n_name = 'NATION_7' AS sample_is_vs,
         coalesce(l.l_discount >= CAST(0.1 AS DOUBLE), false) AS comment_flag,
         o.o_orderdate > TIMESTAMP '1996-04-01' AS plate_is_new
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate <  TIMESTAMP '1996-07-01'
    AND o.o_orderstatus = 'F'
),
fl AS (
  SELECT *,
         max(CASE WHEN sample_is_vs THEN 1 ELSE 0 END)
           OVER (PARTITION BY o_orderkey) = 1 AS plate_contains_vs
  FROM sl
)
SELECT o_orderkey, l_linenumber, sample_is_vs, comment_flag, plate_is_new,
       plate_contains_vs,
       row_number() OVER (ORDER BY sample_is_vs DESC, comment_flag DESC,
                          plate_is_new DESC, plate_contains_vs DESC,
                          o_orderkey DESC, l_linenumber) AS triage_rank
FROM fl
""",
)
def plate_triage_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sequencing-triage ordering of database/sql/
    a_collection_of_intesting_one_time_queries.sql:1-38: a bounded
    dispatch-window slice of positive samples, ordered entirely by BOOLEAN
    priority keys — sample-level canton membership, a COALESCE'd comment
    flag, plate recency, and "the plate CONTAINS a priority sample"
    (a correlated EXISTS in the reference, promoted here to a group-max
    window over the plate key so the flag is computed in one pass instead
    of one subquery probe per row). Lineitems stand in for samples, orders
    for plates, the supplier's nation for the canton.

    The rank itself is part of the certified OUTPUT (the driver's compare
    is order-insensitive, so ordering must be materialized to be checked):
    assigned with operators.ids.assign_global_ids — range-repartition on
    the sort keys + per-partition offsets — because a bare
    row_number() OVER (ORDER BY ...) forces the whole slice through one
    partition (the W1 scale rule; the oracle keeps the single window,
    DuckDB's problem not ours)."""
    from harvester_database_and_automation_spark.operators.ids import assign_global_ids

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sl = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= _ntz("1996-01-01"))
                & (F.col("o_orderdate") < _ntz("1996-07-01"))
                & (F.col("o_orderstatus") == "F")
            ).select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(s.select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "o_orderkey",
            "l_linenumber",
            (F.col("n_name") == "NATION_7").alias("sample_is_vs"),
            F.coalesce(F.col("l_discount") >= 0.1, F.lit(False)).alias("comment_flag"),
            (F.col("o_orderdate") > _ntz("1996-04-01")).alias("plate_is_new"),
        )
    )
    plate_w = Window.partitionBy("o_orderkey")
    fl = sl.withColumn(
        "plate_contains_vs",
        F.max(F.col("sample_is_vs").cast("int")).over(plate_w) == 1,
    )
    return assign_global_ids(
        fl,
        [
            F.col("sample_is_vs").desc(),
            F.col("comment_flag").desc(),
            F.col("plate_is_new").desc(),
            F.col("plate_contains_vs").desc(),
            F.col("o_orderkey").desc(),
            F.col("l_linenumber").asc(),
        ],
        id_col="triage_rank",
    )


# ---------------------------------------------------------------------------
# A6 — GROUPING SETS with grouping_id (rollup/cube's general form).
# ---------------------------------------------------------------------------
@register(
    "order_status_grouping_sets",
    survey_ref="A6,A1",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority))
""",
)
def order_status_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind the reference's
    rollup reports (quality_control.sql:78-83, close_country_analysis.sql:
    30-37): detail + each one-dimensional margin, with grouping_id
    disambiguating real NULLs from subtotal rows. Spark SQL expresses it
    directly; one Expand + one hash aggregate."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority))
    """)


# ---------------------------------------------------------------------------
# J4 — right outer join: the pass-rate comparison joins the full test frame
# from the right so untested/unmatched rows still appear as a NULL group
# (database/sql/fgcz_pacbio_experiment.sql:71-78 "Compare overall pass
# rates": consensus_sequence RIGHT JOIN pacbio_test, grouped counts).
# ---------------------------------------------------------------------------
@register(
    "part_match_rates_right_join",
    survey_ref="J4,A1",
    oracle="""
SELECT l_linestatus, l_returnflag, CAST(count(*) AS BIGINT) AS n_rows
FROM (SELECT l_partkey, l_linestatus, l_returnflag
      FROM lineitem WHERE l_quantity >= 45) l
RIGHT JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY l_linestatus, l_returnflag
""",
)
def part_match_rates_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join keeping every part: parts with no qualifying
    lineitem fall into the (NULL, NULL) group — exactly how the reference
    counts sequences that never failed (fail_reason NULL = passed)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_partkey", "l_linestatus", "l_returnflag")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"), "right")
        .groupBy("l_linestatus", "l_returnflag")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# U4 — intersect on key sets: upsert planning diffs the incoming keys
# against the published table's keys — updates = intersect, inserts =
# new setdiff existing, deletes = existing setdiff new
# (database/R/utility.R:524-530).
# ---------------------------------------------------------------------------
@register(
    "upsert_plan_intersect",
    survey_ref="U4,U3,A1",
    oracle="""
WITH existing AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
), incoming AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
)
SELECT 'update' AS action, CAST(count(*) AS BIGINT) AS n_keys
FROM (SELECT o_custkey FROM incoming INTERSECT SELECT o_custkey FROM existing)
UNION ALL
SELECT 'insert', CAST(count(*) AS BIGINT)
FROM (SELECT o_custkey FROM incoming EXCEPT SELECT o_custkey FROM existing)
UNION ALL
SELECT 'delete', CAST(count(*) AS BIGINT)
FROM (SELECT o_custkey FROM existing EXCEPT SELECT o_custkey FROM incoming)
""",
)
def upsert_plan_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-intersection upsert planning: customers ordering in both eras
    are updates, only-new are inserts, only-old are deletes. Uses
    DataFrame.intersect / exceptAll on distinct key sets — each is a
    shuffle on the key, no driver-side set materialization."""
    o = load_table(spark, sf_dir, "orders")
    existing = o.filter(F.col("o_orderdate") < _ntz("1996-01-01")).select("o_custkey").distinct()
    incoming = o.filter(F.col("o_orderdate") >= _ntz("1996-01-01")).select("o_custkey").distinct()

    def _count(df: DataFrame, action: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys")
        ).select(F.lit(action).alias("action"), "n_keys")

    return (
        _count(incoming.intersect(existing), "update")
        .unionByName(_count(incoming.exceptAll(existing), "insert"))
        .unionByName(_count(existing.exceptAll(incoming), "delete"))
    )


# ---------------------------------------------------------------------------
# As-of (point-in-time) join — operators/asof.py registered over events.
# ---------------------------------------------------------------------------
@register(
    "purchase_last_click_asof",
    survey_ref="asof-join,W2,U1",
    oracle="""
WITH u AS (
  SELECT user_id, ts, 0 AS side, event_id AS rid, NULL::BIGINT AS purchase_id,
         NULL::DOUBLE AS purchase_value
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, 1, NULL, event_id, value
  FROM events WHERE event_type = 'purchase'
),
w AS (
  SELECT user_id, ts, side, purchase_id, purchase_value,
         last_value(rid IGNORE NULLS) OVER win AS asof_click_id,
         last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER win AS asof_click_ts
  FROM u
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, rid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT purchase_id, user_id, ts AS purchase_ts, purchase_value,
       asof_click_id, asof_click_ts
FROM w WHERE side = 1
""",
)
def purchase_last_click_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent click at
    or before it (attribution's last-touch lookup; NULL when the purchase
    precedes every click). Runs on operators/asof.py's union+window
    formulation — one shuffle by user, no per-key pair explosion — with the
    oracle replaying the identical window so NULL/tie semantics match."""
    from harvester_database_and_automation_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    res = asof_join(
        purchases, clicks, on="user_id", left_time="purchase_ts", right_time="ts",
        seq_col="click_id",
    )
    return res.select(
        "purchase_id", "user_id", "purchase_ts", "purchase_value",
        F.col("asof_click_id"), F.col("asof_ts").alias("asof_click_ts"),
    )


# ---------------------------------------------------------------------------
# Range (distance) join — operators/rangejoin.py registered over events.
# ---------------------------------------------------------------------------
@register(
    "event_concurrency_window",
    survey_ref="range-join,A1",
    oracle="""
WITH e AS (
  SELECT event_id, datediff('second', TIMESTAMP '2024-01-01', ts) AS s
  FROM events
)
SELECT a.event_id,
       CAST(count(*) FILTER (b.event_id <> a.event_id) AS BIGINT) AS n_concurrent
FROM e a JOIN e b ON abs(a.s - b.s) <= 60
GROUP BY a.event_id
""",
)
def event_concurrency_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range self-join: how many other events occurred within ±60s of each
    event (burst detection / concurrency audit). No equi-key exists, so the
    naive plan is a nested loop over all event pairs; the bucketed range
    join (operators/rangejoin.py) makes it an equi-join on 60s buckets with
    cost ∝ events per 2-minute window. Seconds are measured from a fixed
    NTZ origin so the arithmetic is timezone-free in both engines."""
    from harvester_database_and_automation_spark.operators.rangejoin import bucketed_range_join

    e = load_table(spark, sf_dir, "events")
    s = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ'2024-01-01 00:00:00', ts)")
    left = e.select("event_id", s.alias("s"))
    right = e.select(F.col("event_id").alias("rid"), s.alias("rs"))
    pairs = bucketed_range_join(left, right, "s", "rs", 60)
    return pairs.groupBy("event_id").agg(
        F.sum(F.when(F.col("rid") != F.col("event_id"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_concurrent")
    )


@register(
    "signup_purchase_window_join",
    survey_ref="range-join,J2,A1",
    oracle="""
WITH s AS (
  SELECT event_id AS signup_id, user_id,
         datediff('second', TIMESTAMP '2024-01-01', ts) AS s0
  FROM events WHERE event_type = 'signup'
), p AS (
  SELECT user_id, datediff('second', TIMESTAMP '2024-01-01', ts) AS ps,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
)
SELECT s.signup_id, s.user_id,
       CAST(count(p.ps) AS BIGINT) AS n_purchases_48h,
       CAST(COALESCE(sum(p.cents), 0) AS BIGINT) AS cents_48h
FROM s LEFT JOIN p
  ON p.user_id = s.user_id AND p.ps >= s.s0 AND p.ps <= s.s0 + 172800
GROUP BY s.signup_id, s.user_id
""",
)
def signup_purchase_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join: every purchase inside the 48-hour
    window opened by each signup of the same user (trial-conversion
    attribution). This is the VARIABLE-interval sibling of the
    fixed-distance `event_concurrency_window`: a bare
    ``p.ts BETWEEN s.ts AND s.ts + interval`` predicate plans as a
    nested loop per user at scale, so the interval side explodes to the
    time buckets its span overlaps and the join runs as an equi-join on
    (user_id, bucket) with an exact post-filter
    (`operators/rangejoin.interval_containment_join`) — each qualifying
    pair meets in exactly the purchase's bucket, so no dedup pass.
    Zero-purchase signups are restored by a final left join against the
    signup spine; cents are exact integers so the sums hash identically.
    """
    from harvester_database_and_automation_spark.operators.rangejoin import (
        interval_containment_join,
    )

    e = load_table(spark, sf_dir, "events")
    sec = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ'2024-01-01 00:00:00', ts)")
    window_s = 172800
    signups = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        sec.cast("double").alias("s0"),
        (sec + window_s).cast("double").alias("s1"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        sec.cast("double").alias("ps"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    hits = interval_containment_join(
        signups, purchases, "s0", "s1", "ps", float(window_s), extra_on=["user_id"]
    )
    counted = hits.groupBy("signup_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_purchases_48h"),
        F.sum("cents").alias("cents_48h"),
    )
    return (
        signups.select("signup_id", "user_id")
        .join(counted, ["signup_id", "user_id"], "left")
        .select(
            "signup_id",
            "user_id",
            F.coalesce(F.col("n_purchases_48h"), F.lit(0)).cast("bigint").alias("n_purchases_48h"),
            F.coalesce(F.col("cents_48h"), F.lit(0)).cast("bigint").alias("cents_48h"),
        )
    )


@register(
    "user_rolling_7day_value",
    survey_ref="W-range-frame,A1",
    oracle="""
WITH e AS (
  SELECT event_id, user_id,
         datediff('second', TIMESTAMP '2024-01-01', ts) AS s,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_7d,
       CAST(sum(cents) OVER w AS BIGINT) AS roll_cents
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY s
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
""",
)
def user_rolling_7day_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-7-day activity via a RANGE window frame — the one
    window family the reference never uses (SURVEY §2.5 notes it has
    ranking windows only) but any event-stream health metric needs. The
    frame bound is event-time, not row-count; BOTH engines order and bound
    the frame on the same whole-second offset from a fixed origin (framing
    one side on raw nanosecond timestamps shifts events sitting exactly on
    the truncated 7-day boundary), and the measure is integer cents so the
    varying-frame sums re-aggregate exactly.

    Scale shape: one shuffle on user_id, then a per-partition ordered scan
    — the same cost as the ranking windows; no self-join materializes the
    frame."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ'2024-01-01 00:00:00', ts)").alias("s"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-7 * 86400, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_7d"),
        F.sum("cents").over(w).cast("bigint").alias("roll_cents"),
    )


# ---------------------------------------------------------------------------
# Hypertable cascade rollup — operators/rollup_cascade.py over events.
# ---------------------------------------------------------------------------
@register(
    "event_rollup_cascade",
    survey_ref="hypertable-rollup,A1",
    oracle="""
SELECT date_trunc('day', ts) AS bucket, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_sum_cents,
       min(value) AS value_min,
       max(value) AS value_max
FROM events
GROUP BY 1, 2
""",
)
def event_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade: the DAY rollup computed by folding
    minute -> hour -> day (operators/rollup_cascade.py), while the oracle
    aggregates raw events directly — matching hashes prove the cascade is
    exact. Coarser levels only ever scan the level below, so a day refresh
    reads minute rows, not the fact table. The measure is pre-scaled to
    integer cents: bigint partial sums re-aggregate exactly in any order,
    where cascading double sums would drift in the last ulp."""
    from harvester_database_and_automation_spark.operators.rollup_cascade import cascade_rollup

    e = load_table(spark, sf_dir, "events").withColumn(
        "value_cents", F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    )
    levels = cascade_rollup(e, "ts", ["event_type"], "value_cents", ["minute", "hour", "day"])
    day = levels["day"]
    # the cascade tracks (sum,min,max) of cents; min/max re-derive the
    # original doubles exactly (2-decimal source values)
    return day.select(
        "bucket",
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("value_sum").cast("bigint").alias("value_sum_cents"),
        (F.col("value_min") / 100.0).alias("value_min"),
        (F.col("value_max") / 100.0).alias("value_max"),
    )


# ---------------------------------------------------------------------------
# SCD2 historization — operators/scd.py replayed as a deterministic query.
# ---------------------------------------------------------------------------
@register(
    "customer_segment_scd2",
    survey_ref="scd2,M1,M2,U1",
    oracle="""
WITH snap1 AS (
  SELECT c_custkey, c_mktsegment AS segment FROM customer WHERE c_custkey % 5 <> 0
),
snap2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN 'MOVED' ELSE c_mktsegment END AS segment
  FROM customer
),
changed AS (
  SELECT s1.c_custkey
  FROM snap1 s1 JOIN snap2 s2 USING (c_custkey)
  WHERE s1.segment <> s2.segment
)
SELECT c_custkey, segment,
       TIMESTAMP '2024-01-01' AS valid_from,
       TIMESTAMP '2024-02-01' AS valid_to,
       false AS is_current
FROM snap1 WHERE c_custkey IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT c_custkey, segment, TIMESTAMP '2024-01-01', NULL, true
FROM snap1 WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT c_custkey, segment, TIMESTAMP '2024-02-01', NULL, true
FROM snap2
WHERE c_custkey % 5 = 0 OR c_custkey IN (SELECT c_custkey FROM changed)
""",
)
def customer_segment_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 historization replayed over two deterministic customer-segment
    snapshots (era 2 moves every 7th customer's segment and first observes
    every 5th customer): operators/scd.py closes changed versions at the
    batch timestamp, appends open ones, and leaves untouched keys alone.
    The oracle derives the identical history relationally — matching
    hashes certify open/close/insert semantics end to end."""
    from harvester_database_and_automation_spark.operators.scd import scd2_init, scd2_merge

    cust = load_table(spark, sf_dir, "customer")
    snap1 = cust.filter(F.col("c_custkey") % 5 != 0).select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    snap2 = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, "MOVED").otherwise(F.col("c_mktsegment")).alias("segment"),
    )
    h = scd2_init(snap1, "2024-01-01 00:00:00")
    return scd2_merge(h, snap2, ["c_custkey"], "2024-02-01 00:00:00")


# ---------------------------------------------------------------------------
# Distribution windows: ntile / percent_rank / cume_dist (W-family breadth).
# ---------------------------------------------------------------------------
@register(
    "segment_spend_quartiles",
    survey_ref="W2,A1",
    oracle="""
WITH spend AS (
  SELECT c.c_custkey, c.c_mktsegment,
         CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS spend_cents
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT c_custkey, c_mktsegment, spend_cents,
       CAST(ntile(4) OVER w AS INT)        AS quartile,
       round(percent_rank() OVER w, 6)     AS pct_rank,
       round(cume_dist() OVER w, 6)        AS cume
FROM spend
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY spend_cents DESC, c_custkey)
""",
)
def segment_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions per market segment: spend quartile
    (ntile), percentile rank, cumulative distribution. Spend is summed as
    exact integer cents so both engines rank identical values — a 1-ulp
    double-sum divergence would silently permute every downstream rank.
    Partitioned by segment: no global sort, the W2 shuffle shape."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    spend = (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.sum(cents).cast("bigint").alias("spend_cents"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("spend_cents").desc(), F.col("c_custkey"))
    return spend.select(
        "c_custkey",
        "c_mktsegment",
        "spend_cents",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Fuzzy alias resolution — operators/fuzzy.py registered over supplier.
# ---------------------------------------------------------------------------
@register(
    "supplier_alias_resolution",
    survey_ref="fuzzy-join,K7,J1",
    oracle="""
WITH aliases AS (
  SELECT s_suppkey AS alias_id,
         concat(substr(s_name, 1, s_suppkey % length(s_name)),
                substr(s_name, s_suppkey % length(s_name) + 2)) AS alias_name
  FROM supplier
)
SELECT a.alias_id, a.alias_name, s.s_suppkey, s.s_name,
       CAST(levenshtein(a.alias_name, s.s_name) AS INT) AS dist
FROM aliases a JOIN supplier s ON levenshtein(a.alias_name, s.s_name) <= 1
""",
)
def supplier_alias_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy alias resolution: every supplier name with one deterministic
    character deleted resolves back to the catalog within edit distance 1
    (digit-heavy names legitimately match several suppliers). Runs on the
    deletion-neighborhood equi-join (operators/fuzzy.py) — cost tracks key
    collisions; the oracle states the same predicate as a naive
    levenshtein join, so matching hashes prove the neighborhood candidate
    set is complete."""
    from harvester_database_and_automation_spark.operators.fuzzy import fuzzy_join_dist1

    sup = load_table(spark, sf_dir, "supplier")
    p = F.col("s_suppkey") % F.length("s_name")
    aliases = sup.select(
        F.col("s_suppkey").alias("alias_id"),
        F.concat(
            F.col("s_name").substr(F.lit(1), p),
            F.col("s_name").substr(p + 2, F.length("s_name")),
        ).alias("alias_name"),
    )
    catalog = sup.select("s_suppkey", "s_name")
    return fuzzy_join_dist1(aliases, catalog, "alias_name", "s_name").select(
        "alias_id", "alias_name", "s_suppkey", "s_name", "dist"
    )


# ---------------------------------------------------------------------------
# Method-comparison correlation study (SURVEY §5.5, investigate_qc_by_ct) —
# Pearson r from exact integer sums, one double expression at the end.
# ---------------------------------------------------------------------------
@register(
    "order_price_date_correlation",
    survey_ref="A1,math,§5.5",
    oracle="""
WITH d AS (
  SELECT o_orderpriority,
         CAST(datediff('day', TIMESTAMP '1990-01-01', o_orderdate) AS BIGINT) AS x,
         CAST(floor(o_totalprice) AS BIGINT) AS y
  FROM orders
),
s AS (
  SELECT o_orderpriority, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         -- keep the squared-moment sums in HUGEINT: sum(y*y) leaves
         -- int64 at ~3e7 rows per priority (y^2 ~ 3e11)
         sum(x::HUGEINT * y) AS sxy,
         sum(x::HUGEINT * x) AS sx2, sum(y::HUGEINT * y) AS sy2
  FROM d GROUP BY 1
)
-- NULLIF: zero variance in either coordinate (all orders of a priority
-- on one day / one price) makes r undefined — engines disagree on bare
-- /0.0 (DuckDB IEEE nan, Spark ANSI throws). Found by the drift guard.
SELECT o_orderpriority, n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0), 6)
         AS price_date_corr
FROM s
""",
)
def order_price_date_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of order value vs order date per priority — the
    method-comparison/QC-correlation study shape (SURVEY §5.5,
    investigate_qc_by_ct_value.R). Built-in corr() sums doubles in
    engine-specific order (ulp drift across engines); instead the five
    moments accumulate as EXACT integers (map-side partial agg; the
    squared-moment sums at 128-bit — decimal(38,0) / HUGEINT — since
    sum(y^2) leaves int64 around 3e7 rows per group) and one final double
    expression computes r identically on both sides — also the
    formulation that distributes: no second pass, no centering scan."""
    o = load_table(spark, sf_dir, "orders")
    x = F.expr("timestampdiff(DAY, TIMESTAMP_NTZ'1990-01-01 00:00:00', o_orderdate)").cast("bigint")
    y = F.floor(F.col("o_totalprice")).cast("bigint")
    s = (
        o.select("o_orderpriority", x.alias("x"), y.alias("y"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sx2"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("sy2"),
        )
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sx2, sy2 = (F.col(c).cast("double") for c in ("sxy", "sx2", "sy2"))
    # Zero variance in either coordinate => r undefined: emit NULL rather
    # than divide by zero (ANSI throws; oracle mirrors with NULLIF).
    denom = F.sqrt(nd * sx2 - sx * sx) * F.sqrt(nd * sy2 - sy * sy)
    r = F.when(denom != 0, (nd * sxy - sx * sy) / denom)
    return s.select("o_orderpriority", "n", F.round(r, 6).alias("price_date_corr"))


# ---------------------------------------------------------------------------
# Funnel analysis: ordered event-sequence conversion.
# ---------------------------------------------------------------------------
@register(
    "click_purchase_funnel",
    survey_ref="funnel,A1,J2,O4",
    oracle="""
WITH c AS (
  SELECT user_id, min(ts) AS first_click
  FROM events WHERE event_type = 'click' GROUP BY user_id
),
p AS (
  SELECT c.user_id, min(e.ts) AS first_purchase
  FROM c JOIN events e
    ON e.user_id = c.user_id AND e.event_type = 'purchase' AND e.ts >= c.first_click
  GROUP BY c.user_id
)
SELECT c.user_id, c.first_click, p.first_purchase,
       p.first_purchase IS NOT NULL AS converted
FROM c LEFT JOIN p USING (user_id)
""",
)
def click_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: each user's first click, then their first purchase
    at or after it — the ordered-sequence conversion shape every product
    analytics stack needs. Two keyed aggregations and a left join; both
    steps are min-aggregates so the plan is all partial-agg shuffles, and
    the output is timestamps + a flag (no float drift surface)."""
    e = load_table(spark, sf_dir, "events")
    c = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return c.join(p, "user_id", "left").select(
        "user_id",
        "first_click",
        "first_purchase",
        F.col("first_purchase").isNotNull().alias("converted"),
    )


@register(
    "null_safe_recode_join",
    survey_ref="P5,J9,J10,A1",
    oracle="""
WITH keyed AS (
  SELECT event_id, user_id, nullif(event_type, 'click') AS k FROM events
),
lookup AS (
  SELECT * FROM (VALUES (NULL, 'untracked_click'), ('view', 'impression'),
                        ('purchase', 'conversion'), ('signup', 'registration'))
       AS t(k, label)
)
SELECT COALESCE(l.label, 'unmapped') AS label,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM keyed e LEFT JOIN lookup l ON e.k IS NOT DISTINCT FROM l.k
GROUP BY COALESCE(l.label, 'unmapped')
""",
)
def null_safe_recode_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-matches-NULL lookup join — the semantic gap between R and SQL
    joins the reference silently relies on: dplyr joins match NA keys by
    default (na_matches = 'na'), so the R-side recode/lookup patterns
    (utility.R:324-357 coalesce_join; import_bag_meldeformular.R:26-92
    code->label maps over columns with NAs) keep NA rows paired, while a
    plain SQL equi-join drops them. Spark expresses the R semantics with
    `eqNullSafe` (<=>), certified against DuckDB's IS NOT DISTINCT FROM:
    the recoded NULL key ('click' events) must land in the 'untracked_click'
    bucket, not vanish, and unmapped codes fall through to a default.

    Scale shape: the lookup is a literal frame -> broadcast hash join with
    a null-safe key; the fact side never shuffles for the join, and the
    count-distinct agg is the usual two-level expand."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.expr("nullif(event_type, 'click')").alias("k")
    )
    lookup = F.broadcast(
        spark.createDataFrame(
            [
                (None, "untracked_click"),
                ("view", "impression"),
                ("purchase", "conversion"),
                ("signup", "registration"),
            ],
            "k string, label string",
        )
    )
    joined = e.join(lookup, e["k"].eqNullSafe(lookup["k"]), "left")
    return joined.groupBy(
        F.coalesce(lookup["label"], F.lit("unmapped")).alias("label")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct(e["user_id"]).cast("bigint").alias("n_users"),
    )


@register(
    "user_retention_cohorts",
    survey_ref="A1,A7,J1,date-family",
    oracle="""
WITH didx AS (
  SELECT user_id,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) AS d_idx
  FROM events
),
cohort AS (SELECT user_id, min(d_idx) AS cohort_idx FROM didx GROUP BY user_id),
activity AS (SELECT DISTINCT user_id, d_idx FROM didx),
sizes AS (SELECT cohort_idx, count(*) AS n_cohort FROM cohort GROUP BY cohort_idx),
cells AS (
  SELECT c.cohort_idx, a.d_idx - c.cohort_idx AS days_since,
         count(DISTINCT a.user_id) AS n_active
  FROM activity a JOIN cohort c USING (user_id)
  GROUP BY c.cohort_idx, a.d_idx - c.cohort_idx
)
SELECT CAST(DATE '1970-01-01' + ce.cohort_idx AS VARCHAR) AS cohort_date,
       CAST(ce.days_since AS INT)                   AS days_since,
       CAST(ce.n_active AS BIGINT)                  AS n_active,
       CAST(s.n_cohort AS BIGINT)                   AS n_cohort,
       round(ce.n_active * 1.0 / s.n_cohort, 6)     AS retention
FROM cells ce JOIN sizes s USING (cohort_idx)
""",
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention triangle — the engagement analysis every
    event warehouse serves: users grouped by first-active day, each later
    day's active fraction of the original cohort. Extends the reference's
    weekly activity reporting (gisaid.sql:80-87 weekly full-outer; %Y-%W
    bucketing in export_spsp_submission.R:316-320) to the cohort shape.

    Day arithmetic is a flat integer epoch-day index end to end — no
    interval math, no timezone exposure on the NTZ timestamps — so the
    triangle is integer-exact on both engines (the cohort day renders as
    an ISO string: pandas date-vs-timestamp dtypes otherwise differ); only the final retention
    ratio is float (IEEE division agrees). Plan: two partial-agg shuffles
    over (user, day) pairs plus a broadcast of the tiny cohort-size
    frame; event rows never shuffle twice."""
    e = load_table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    didx = e.select(
        "user_id", F.datediff(F.to_date("ts"), epoch).cast("int").alias("d_idx")
    )
    cohort = didx.groupBy("user_id").agg(F.min("d_idx").alias("cohort_idx"))
    activity = didx.distinct()
    sizes = cohort.groupBy("cohort_idx").agg(F.count(F.lit(1)).alias("n_cohort"))
    cells = (
        activity.join(cohort, "user_id")
        .groupBy("cohort_idx", (F.col("d_idx") - F.col("cohort_idx")).alias("days_since"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    out = cells.join(F.broadcast(sizes), "cohort_idx")
    return out.select(
        F.date_add(epoch, F.col("cohort_idx")).cast("string").alias("cohort_date"),
        F.col("days_since").cast("int").alias("days_since"),
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("n_cohort").cast("bigint").alias("n_cohort"),
        F.round(F.col("n_active") * 1.0 / F.col("n_cohort"), 6).alias("retention"),
    )


# Morton interleave of two 4-bit dims, written as explicit shift/mask terms
# so DuckDB replays operators/layout.zorder_value bit-for-bit.
_Z4_SQL = " | ".join(
    f"(((x >> {b}) & 1) << {2 * b}) | (((y >> {b}) & 1) << {2 * b + 1})"
    for b in range(4)
)


@register(
    "zorder_cell_stats",
    survey_ref="layout-zorder,A1,math",
    oracle=f"""
WITH dims AS (
  SELECT l_partkey % 16 AS x, l_suppkey % 16 AS y FROM lineitem
),
z AS (SELECT x, y, {_Z4_SQL} AS zv FROM dims)
SELECT CAST(zv // 16 AS INT)  AS z_cell,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(x) AS INT) AS min_x, CAST(max(x) AS INT) AS max_x,
       CAST(min(y) AS INT) AS min_y, CAST(max(y) AS INT) AS max_y
FROM z GROUP BY z_cell
""",
)
def zorder_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine certification of the Morton (Z-order) interleave that
    :func:`operators.layout.zorder_value` clusters writes by: bucket the
    fact table into a 16x16 grid, compute each row's 8-bit z-value with
    the SAME operator the writer uses, and report per 16-code z-cell the
    bounding box of the original dimensions. Every cell's (min,max) box
    is at most 4x4 — the locality guarantee that gives parquet row-group
    min/max pruning on BOTH filter columns at once (the multi-column
    b-tree replacement; SURVEY.md §4's layout-for-selectivity story).

    Plan shape: map-side integer bit math + one hash aggregation on a
    256-value key — no window, no skew, scan reads two columns."""
    from harvester_database_and_automation_spark.operators.layout import zorder_value

    li = load_table(spark, sf_dir, "lineitem")
    dims = li.select(
        (F.col("l_partkey") % 16).alias("x"), (F.col("l_suppkey") % 16).alias("y")
    )
    z = dims.withColumn("zv", zorder_value(["x", "y"], bits=4))
    return z.groupBy(F.expr("zv div 16").cast("int").alias("z_cell")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("x").cast("int").alias("min_x"),
        F.max("x").cast("int").alias("max_x"),
        F.min("y").cast("int").alias("min_y"),
        F.max("y").cast("int").alias("max_y"),
    )


@register(
    "value_drift_cdf",
    survey_ref="quality-drift,A1,J3,A8",
    oracle="""
WITH binned AS (
  SELECT least(255, greatest(0, CAST(floor(value / 2.5) AS INT))) AS bin,
         CASE WHEN CAST(strftime(ts, '%d') AS INT) <= 15 THEN 'a' ELSE 'b' END AS period
  FROM events
),
counts AS (
  SELECT bin,
         count(*) FILTER (period = 'a') AS c_a,
         count(*) FILTER (period = 'b') AS c_b
  FROM binned GROUP BY bin
),
tot AS (SELECT sum(c_a) AS t_a, sum(c_b) AS t_b FROM counts),
cdf AS (
  SELECT bin,
         CAST(c_a AS BIGINT) AS n_a,
         CAST(c_b AS BIGINT) AS n_b,
         sum(c_a) OVER (ORDER BY bin) * 1.0 / t_a AS cdf_a_raw,
         sum(c_b) OVER (ORDER BY bin) * 1.0 / t_b AS cdf_b_raw
  FROM counts, tot
)
SELECT bin, n_a, n_b,
       round(cdf_a_raw, 6) AS cdf_a,
       round(cdf_b_raw, 6) AS cdf_b,
       round(abs(cdf_a_raw - cdf_b_raw), 6) AS abs_diff
FROM cdf
""",
)
def value_drift_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detector (the monitoring stage a training-data
    pipeline runs between ingestion batches): bin the event value into
    256 fixed-width buckets, split the feed into two periods (first vs
    second half of the month), and emit both empirical CDFs per bin with
    their absolute gap — `max(abs_diff)` over the output IS the binned
    two-sample Kolmogorov-Smirnov statistic, and the full curve shows
    WHERE the distributions diverge.

    Scale shape: the CDF needs a global cumulative sum, but over the
    256-row binned frame, not the events — so instead of a
    single-partition window (banned by the plan audit) the prefix sum is
    a broadcast triangular self-join on bin <= bin: events reduce
    map-side to 256 rows, everything after is O(bins^2) = 32k pairs.
    The same plan drifts-checks a 100 TB feed: only bin counts shuffle."""
    e = load_table(spark, sf_dir, "events")
    binned = e.select(
        F.least(F.lit(255), F.greatest(F.lit(0), F.floor(F.col("value") / 2.5).cast("int"))).alias(
            "bin"
        ),
        F.when(F.dayofmonth("ts") <= 15, "a").otherwise("b").alias("period"),
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("period") == "a", 1)).alias("c_a"),
        F.count(F.when(F.col("period") == "b", 1)).alias("c_b"),
    )
    tot = counts.agg(
        F.sum("c_a").alias("t_a"), F.sum("c_b").alias("t_b")
    )
    prior = counts.select(F.col("bin").alias("pbin"), F.col("c_a").alias("pa"), F.col("c_b").alias("pb"))
    cum = (
        counts.join(F.broadcast(prior), F.col("pbin") <= F.col("bin"))
        .groupBy("bin", "c_a", "c_b")
        .agg(F.sum("pa").alias("cum_a"), F.sum("pb").alias("cum_b"))
    )
    cdf_a = F.col("cum_a") * 1.0 / F.col("t_a")
    cdf_b = F.col("cum_b") * 1.0 / F.col("t_b")
    return cum.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("c_a").cast("bigint").alias("n_a"),
        F.col("c_b").cast("bigint").alias("n_b"),
        F.round(cdf_a, 6).alias("cdf_a"),
        F.round(cdf_b, 6).alias("cdf_b"),
        F.round(F.abs(cdf_a - cdf_b), 6).alias("abs_diff"),
    )


@register(
    "event_value_mad_outliers",
    survey_ref="quality-outliers,W2,A1,A9",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
med AS (
  SELECT event_type, n, value AS med FROM ranked WHERE rn = (n + 1) // 2
),
dev AS (
  SELECT e.event_type, m.n, m.med, abs(e.value - m.med) AS d,
         row_number() OVER (PARTITION BY e.event_type
                            ORDER BY abs(e.value - m.med), e.event_id) AS rn
  FROM events e JOIN med m USING (event_type)
),
mad AS (SELECT event_type, n, med, d AS mad FROM dev WHERE rn = (n + 1) // 2)
SELECT m.event_type,
       CAST(m.n AS BIGINT) AS n,
       round(m.med, 6) AS med,
       round(m.mad, 6) AS mad,
       CAST(count(*) FILTER (abs(e.value - m.med) > 3 * m.mad) AS BIGINT) AS n_outliers
FROM events e JOIN mad m USING (event_type)
GROUP BY m.event_type, m.n, m.med, m.mad
""",
)
def event_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection via median absolute deviation: per event
    type, the (lower) median, the MAD, and how many events sit more than
    3 MADs out — the outlier gate that survives the heavy tails that
    break mean/stddev z-scores (`token_length_outliers` is the z-score
    variant; this is its robust sibling).

    Both order statistics are DISCRETE (row_number = (n+1) div 2 over a
    (value, event_id) total order), never interpolated — so med and mad
    are exact input values and the 3-MAD comparison evaluates the
    identical doubles on both engines; no percentile-interpolation float
    boundary exists anywhere. Plan: two per-type ranking windows over
    narrow (type, value, id) rows plus a broadcast of the per-type
    medians; with a handful of event types the extreme-scale variant
    reads the thresholds off a binned CDF (`value_drift_cdf`'s shape)
    instead of sorting per type."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    w_val = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w_val).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    med = ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type", "n", F.col("value").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("med"))
    )
    w_dev = Window.partitionBy("event_type").orderBy("d", "event_id")
    mad = (
        dev.withColumn("rn", F.row_number().over(w_dev))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", "n", "med", F.col("d").alias("mad"))
    )
    return (
        e.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n", "med", "mad")
        .agg(
            F.sum(
                (F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad")).cast("int")
            ).cast("bigint").alias("n_outliers")
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
        )
    )


@register(
    "daily_new_vs_returning",
    survey_ref="A1,A10,J1,quality-drift",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
first_seen AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id),
daily AS (
  SELECT ud.day,
         count(*) AS n_active,
         count(*) FILTER (f.first_day = ud.day) AS n_new
  FROM ud JOIN first_seen f USING (user_id)
  GROUP BY ud.day
),
cum AS (
  SELECT day, n_active, n_new,
         sum(n_new) OVER (ORDER BY day) AS n_cum
  FROM daily
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(n_active AS BIGINT) AS n_active,
       CAST(n_new AS BIGINT) AS n_new,
       CAST(n_active - n_new AS BIGINT) AS n_returning,
       CAST(n_cum AS BIGINT) AS n_cum_users
FROM cum
""",
)
def daily_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily engagement split: active users per day decomposed into
    first-ever-seen (new) vs returning, plus the running count of
    distinct users ever seen — the cumulative-distinct curve that naive
    `count(DISTINCT)`-per-growing-window computes quadratically. Here it
    falls out linearly: a user contributes to the cumulative curve only
    on their first day, so the curve is a prefix sum of per-day new-user
    counts.

    Scale shape: one distinct-reduce to (user, day) pairs, a min-agg per
    user, one join back on user_id (AQE-handled), a per-day aggregation —
    and the prefix sum runs over the ~30-row day frame via a broadcast
    triangular join, never a single-partition window over users. Days
    render as ISO strings (date-dtype parity)."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    first_seen = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = (
        ud.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.count(F.when(F.col("first_day") == F.col("day"), 1)).alias("n_new"),
        )
    )
    prior = daily.select(F.col("day").alias("pday"), F.col("n_new").alias("pnew"))
    cum = (
        daily.join(F.broadcast(prior), F.col("pday") <= F.col("day"))
        .groupBy("day", "n_active", "n_new")
        .agg(F.sum("pnew").alias("n_cum"))
    )
    return cum.select(
        F.col("day").cast("string").alias("day"),
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("n_new").cast("bigint").alias("n_new"),
        (F.col("n_active") - F.col("n_new")).cast("bigint").alias("n_returning"),
        F.col("n_cum").cast("bigint").alias("n_cum_users"),
    )


@register(
    "part_value_skyline",
    survey_ref="skyline,W2,A1,J6",
    oracle="""
WITH pf AS (SELECT p_retailprice AS price, max(p_size) AS ms FROM part GROUP BY 1),
r AS (
  SELECT price, ms,
         max(ms) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt,
         max(ms) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS le
  FROM pf
)
SELECT p.p_partkey, CAST(p.p_size AS INT) AS p_size,
       round(p.p_retailprice, 2) AS price
FROM part p JOIN r ON r.price = p.p_retailprice
WHERE NOT COALESCE(r.lt >= p.p_size, FALSE) AND NOT (r.le > p.p_size)
""",
)
def part_value_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) operator: the parts not dominated on
    (cheaper price, bigger size) — p is dominated iff some q is at most
    its price AND at least its size, strictly better in one. The classic
    multi-objective shortlist query relational engines lack as a
    primitive.

    Dominance reduces to two prefix maxima over the price axis:
    max_size over strictly-cheaper prices (lt) and over
    cheaper-or-equal (le); p survives iff lt < p.size and le <= p.size.
    The DuckDB oracle computes them with a global ordered window; the
    Spark plan CANNOT (single-partition window = banned), so it
    decomposes: aggregate to one row per distinct price, window WITHIN
    integer price buckets (partitioned, ordered, tie-free because rows
    are distinct prices), and stitch buckets with a broadcast triangular
    join over the ~100-row bucket-max frame — the two-level prefix-sum
    pattern (`value_drift_cdf`, `daily_new_vs_returning`) applied to a
    running max. Parts join back on price; everything that shuffles is
    (price, size) pairs."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_size", "p_retailprice")
    pf = (
        p.groupBy(F.col("p_retailprice").alias("price"))
        .agg(F.max("p_size").alias("ms"))
        .withColumn("bucket", F.floor("price").cast("long"))
    )
    w = Window.partitionBy("bucket").orderBy("price")
    in_bucket = pf.select(
        "price",
        "bucket",
        "ms",
        F.max("ms").over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("lt_in"),
        F.max("ms").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("le_in"),
    )
    bmax = pf.groupBy("bucket").agg(F.max("ms").alias("bms"))
    below = (
        bmax.select(F.col("bucket").alias("pb"), F.col("bms").alias("pms"))
        .join(F.broadcast(bmax), F.col("pb") < F.col("bucket"))
        .groupBy("bucket")
        .agg(F.max("pms").alias("below"))
    )
    r = (
        in_bucket.join(F.broadcast(below), "bucket", "left")
        .select(
            "price",
            F.greatest(F.coalesce("lt_in", F.lit(-1)), F.coalesce("below", F.lit(-1))).alias("lt"),
            F.greatest(F.col("le_in"), F.coalesce("below", F.lit(-1))).alias("le"),
        )
    )
    return (
        p.join(F.broadcast(r), p["p_retailprice"] == r["price"])
        .filter((F.col("lt") < F.col("p_size")) & (F.col("le") <= F.col("p_size")))
        .select(
            "p_partkey",
            F.col("p_size").cast("int").alias("p_size"),
            F.round("p_retailprice", 2).alias("price"),
        )
    )


@register(
    "user_longest_streak",
    survey_ref="gaps-islands,W2,A1",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
grouped AS (
  SELECT user_id, day,
         CAST(day - CAST('1970-01-01' AS DATE) AS BIGINT)
           - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM ud
),
streaks AS (
  SELECT user_id, grp, count(*) AS len FROM grouped GROUP BY user_id, grp
)
SELECT user_id,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(sum(len) AS BIGINT) AS n_active_days
FROM streaks GROUP BY user_id
""",
)
def user_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest run of CONSECUTIVE active
    days. The island key is the classic trick — epoch_day minus the
    per-user day rank is constant exactly within a consecutive run — so
    streaks fall out of two hash aggregations around one per-user ranking
    window over (user, day) pairs; no self-join, no sequence explosion.
    The engagement metric next to `daily_new_vs_returning`'s corpus view
    and `event_sessionization`'s intra-day gaps."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    epoch = F.lit("1970-01-01").cast("date")
    w = Window.partitionBy("user_id").orderBy("day")
    grouped = ud.select(
        "user_id",
        (F.datediff(F.col("day"), epoch).cast("long") - F.row_number().over(w)).alias("grp"),
    )
    streaks = grouped.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak"),
        F.sum("len").cast("bigint").alias("n_active_days"),
    )


@register(
    "users_covering_all_event_types",
    survey_ref="relational-division,A3,A8,J5",
    oracle="""
WITH types AS (SELECT count(DISTINCT event_type) AS n_types FROM events),
per_user AS (
  SELECT user_id, count(DISTINCT event_type) AS n_seen, count(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT u.user_id, CAST(u.n_seen AS BIGINT) AS n_seen,
       CAST(u.n_events AS BIGINT) AS n_events
FROM per_user u CROSS JOIN types t
WHERE u.n_seen = t.n_types
""",
)
def users_covering_all_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (the FOR ALL quantifier): users who have
    performed EVERY event type the system knows — the 'suppliers who
    stock all brands' query shape SQL lacks a primitive for. Expressed
    as count-distinct-equality against a broadcast universe count, the
    scale-stable form (the double-anti-join form re-shuffles the fact
    twice; this is two partial-agg passes and a 1-row broadcast)."""
    e = load_table(spark, sf_dir, "events")
    types = e.agg(F.countDistinct("event_type").alias("n_types"))
    per_user = e.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("n_seen"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        per_user.crossJoin(F.broadcast(types))
        .filter(F.col("n_seen") == F.col("n_types"))
        .select(
            "user_id",
            F.col("n_seen").cast("bigint").alias("n_seen"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )


@register(
    "monthly_revenue_growth",
    survey_ref="A1,J2,lag-shape,A7",
    oracle="""
WITH monthly AS (
  SELECT CAST(extract(year FROM o_orderdate) AS INT) * 12
           + CAST(extract(month FROM o_orderdate) AS INT) - 1 AS midx,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
         count(*) AS n_orders
  FROM orders GROUP BY midx
)
SELECT CAST(m.midx // 12 AS INT) AS year,
       CAST(m.midx % 12 + 1 AS INT) AS month,
       m.rev_cents,
       CAST(m.n_orders AS BIGINT) AS n_orders,
       p.rev_cents AS prev_rev_cents,
       round((m.rev_cents - p.rev_cents) * 1.0 / p.rev_cents, 6) AS mom_growth
FROM monthly m
LEFT JOIN monthly p ON p.midx = m.midx - 1
""",
)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: the lag(1) analytic computed
    WITHOUT a global ordered window — months flatten to an integer index
    and the previous month attaches by a broadcast self-join on
    midx−1 over the ~80-row monthly frame (the lag-via-join form every
    calendar analytic can use once the fact is reduced to its period
    grain). Revenue is summed in integer cents (the `_money2` discipline)
    so the monthly totals are hash-exact; only the growth ratio is
    float. First month reports NULL growth, preserved by the left join."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("midx")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias("rev_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    prev = monthly.select((F.col("midx") + 1).alias("midx"), F.col("rev_cents").alias("prev_rev_cents"))
    return (
        monthly.join(F.broadcast(prev), "midx", "left")
        .select(
            F.expr("midx div 12").cast("int").alias("year"),
            (F.col("midx") % 12 + 1).cast("int").alias("month"),
            F.col("rev_cents").cast("bigint").alias("rev_cents"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("prev_rev_cents").cast("bigint").alias("prev_rev_cents"),
            F.round(
                (F.col("rev_cents") - F.col("prev_rev_cents")) * 1.0 / F.col("prev_rev_cents"), 6
            ).alias("mom_growth"),
        )
    )


@register(
    "part_hierarchy_rollup",
    survey_ref="hierarchy-closure,iterative,J1,A1",
    oracle="""
WITH RECURSIVE anc(part, ancestor, depth) AS (
  SELECT p_partkey, p_partkey, 0 FROM part
  UNION ALL
  SELECT a.part, a.ancestor // 10, a.depth + 1
  FROM anc a WHERE a.ancestor >= 10
),
roots AS (
  SELECT part, ancestor AS root, depth
  FROM anc
  WHERE ancestor < 10
),
rev AS (
  SELECT l_partkey AS part,
         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM lineitem GROUP BY l_partkey
)
SELECT r.root,
       CAST(count(DISTINCT r.part) AS BIGINT) AS n_parts,
       CAST(max(r.depth) AS BIGINT) AS max_depth,
       CAST(COALESCE(sum(v.cents), 0) AS BIGINT) AS rev_cents
FROM roots r LEFT JOIN rev v ON v.part = r.part
GROUP BY r.root
""",
)
def part_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening + rollup (the bill-of-materials / org-chart
    closure): each part's ancestor chain under the synthetic parent
    relation parent = key div 10, walked to the root, then revenue rolled
    up to the root with the chain depth — the DIRECTED transitive-closure
    shape (`dup_connected_components` is the undirected one, and this one
    carries path depth, which contraction deliberately destroys).

    The chain has a closed form, so Spark needs no iteration: a key of
    ``d`` digits (``d >= 2``, i.e. ``key >= 10``) takes ``d - 1`` hops of
    ``div 10`` to reach its root, the leading digit ``key div 10^(d-1)``;
    a key below 10 is its own root at depth 0. One projection computes
    every (part, root, depth) triple, for any key width. The oracle keeps
    the recursive CTE, so the hash match certifies the closed form
    against the closure it replaces. Revenue aggregates per part FIRST
    (integer cents), so the closure join touches (part, root, depth)
    triples, never lineitem."""
    depth = "CASE WHEN part >= 10 THEN length(CAST(part AS STRING)) - 1 ELSE 0 END"
    roots = load_table(spark, sf_dir, "part").selectExpr("p_partkey AS part").selectExpr(
        "part", f"part div CAST(power(10, {depth}) AS BIGINT) AS root", f"{depth} AS depth"
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")).alias("cents")
    )
    return (
        roots.join(rev, "part", "left")
        .groupBy("root")
        .agg(
            F.countDistinct("part").cast("bigint").alias("n_parts"),
            F.max("depth").cast("bigint").alias("max_depth"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("rev_cents"),
        )
    )


@register(
    "event_transition_matrix",
    survey_ref="W2,A1,A7,markov",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
trans AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM ordered WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT from_type, sum(n) AS n_from FROM trans GROUP BY from_type)
SELECT t.from_type, t.to_type,
       CAST(t.n AS BIGINT) AS n,
       round(t.n * 1.0 / o.n_from, 6) AS p
FROM trans t JOIN tot o USING (from_type)
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: for every consecutive (event, next-event) pair, the count and
    the row-normalized transition probability — the clickstream model
    behind funnel diagnostics and next-action prediction baselines.

    One per-user `lead` window over (type, ts, id) triples — partitioned,
    never global — then two hash aggregations; the 25-cell matrix and its
    row totals broadcast. Probabilities are exact-int ratios."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ordered = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = ordered.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = trans.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return trans.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") * 1.0 / F.col("n_from"), 6).alias("p"),
    )


@register(
    "rolling_7day_active_users",
    survey_ref="A3,array-explode,A1,quality-drift",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
cover AS (
  SELECT DISTINCT ud.user_id, ud.day + CAST(u.o AS INT) AS cov_day
  FROM ud, unnest(generate_series(0, 6)) AS u(o)
)
SELECT CAST(c.cov_day AS VARCHAR) AS day,
       CAST(count(*) AS BIGINT) AS wau
FROM cover c, bounds b
WHERE c.cov_day BETWEEN b.d0 AND b.d1
GROUP BY c.cov_day
""",
)
def rolling_7day_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (WAU-by-day). COUNT
    DISTINCT does not decompose over sliding windows, so the scalable
    form inverts the problem: each (user, active-day) pair COVERS the 7
    report days it contributes to — explode to (user, covered-day),
    dedup, count. A bounded ×7 map-side expansion and two hash
    aggregations replace either a per-day re-scan (7× the IO) or a
    giant per-day distinct state. Report days clip to the observed
    range (broadcast 1-row bounds); days render as ISO strings."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    bounds = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cover = (
        ud.select(
            "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"), "day"
        )
        .select("user_id", F.date_add(F.col("day"), F.col("o")).alias("cov_day"))
        .distinct()
    )
    return (
        cover.crossJoin(F.broadcast(bounds))
        .filter(F.col("cov_day").between(F.col("d0"), F.col("d1")))
        .groupBy(F.col("cov_day").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("wau"))
    )


@register(
    "user_clamped_balance",
    survey_ref="W2,window-identity,A1",
    oracle="""
WITH flows AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT)
           * CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS delta
  FROM events
  WHERE event_type IN ('purchase', 'error')
),
pre AS (
  SELECT user_id, ts, event_id, delta,
         sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prefix
  FROM flows
),
runmin AS (
  SELECT user_id, delta, prefix,
         min(prefix) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS minpfx
  FROM pre
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_flows,
       CAST(sum(delta) - least(CAST(0 AS BIGINT), min(prefix)) AS BIGINT) AS final_balance_cents,
       CAST(max(prefix - least(CAST(0 AS BIGINT), minpfx)) AS BIGINT) AS peak_balance_cents
FROM runmin GROUP BY user_id
""",
)
def user_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running balance clamped at zero (a wallet that cannot go negative:
    purchases credit, errors debit, shortfalls are forgiven, not owed).
    Clamping looks inherently sequential -- each step depends on the
    clamped previous -- but the closed form
    ``clamped_t = prefix_t - min(0, min_{j<=t} prefix_j)`` turns it into
    TWO ordinary per-user running aggregates (running sum, then running
    min of it): the forgiven deficit is exactly the worst prefix low
    point so far. The plan is two partitioned windows and a hash agg --
    fully parallel across users -- where the naive formulation needs a
    per-key sequential fold (`applyInPandasWithState` territory). Flows
    are integer cents; everything is hash-exact."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    delta = F.floor(F.col("value") * 100 + 0.5).cast("long") * F.when(
        F.col("event_type") == "purchase", 1
    ).otherwise(-1)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    pre = e.select("user_id", "ts", "event_id", delta.alias("delta")).withColumn(
        "prefix", F.sum("delta").over(w)
    )
    runmin = pre.withColumn("minpfx", F.min("prefix").over(w))
    zero = F.lit(0).cast("long")
    return runmin.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_flows"),
        (F.sum("delta") - F.least(zero, F.min("prefix"))).cast("bigint").alias(
            "final_balance_cents"
        ),
        F.max(F.col("prefix") - F.least(zero, F.col("minpfx"))).cast("bigint").alias(
            "peak_balance_cents"
        ),
    )


@register(
    "ab_arm_zscores",
    survey_ref="A1,A2,stats,math",
    oracle="""
WITH arms AS (
  SELECT DISTINCT user_id, user_id % 2 AS arm FROM events
),
sizes AS (
  SELECT count(*) FILTER (arm = 0) AS n0, count(*) FILTER (arm = 1) AS n1 FROM arms
),
per_user AS (
  SELECT event_type, user_id, count(*) AS n_ev FROM events GROUP BY 1, 2
),
conv AS (
  SELECT p.event_type,
         count(CASE WHEN a.arm = 0 AND p.n_ev >= 14 THEN 1 END) AS c0,
         count(CASE WHEN a.arm = 1 AND p.n_ev >= 14 THEN 1 END) AS c1
  FROM per_user p JOIN arms a USING (user_id)
  GROUP BY p.event_type
)
SELECT event_type,
       CAST(c0 AS BIGINT) AS conv_a, CAST(c1 AS BIGINT) AS conv_b,
       round(c0 * 1.0 / n0, 6) AS rate_a,
       round(c1 * 1.0 / n1, 6) AS rate_b,
       -- NULLIF: a type with zero or all-converting users has zero pooled
       -- variance — z undefined; engines disagree on bare /0.0 (DuckDB
       -- IEEE inf, Spark ANSI throws). Found by the drift guard.
       round((c0 * 1.0 / n0 - c1 * 1.0 / n1)
             / NULLIF(sqrt(((c0 + c1) * 1.0 / (n0 + n1)) * (1 - (c0 + c1) * 1.0 / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 0), 6) AS z
FROM conv CROSS JOIN sizes
""",
)
def ab_arm_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per event type between deterministic
    experiment arms (user_id parity standing in for the assignment the
    split router produces): conversion = the user performed the event
    type at least 14 times (a heavy-usage conversion bar that keeps
    rates off the 0/1 boundary on the synthetic feed). The
    pooled-variance z statistic is the first gate
    an experimentation pipeline applies before shipping a treatment.

    Shape: the arm roster is a distinct-reduce of (user, arm); per-type
    converter counts dedupe map-side on (type, arm, user); arm sizes are
    a broadcast 1-row frame. The z formula is a fixed arithmetic tree
    over exact integers — sqrt is IEEE-exact, so both engines emit the
    identical double before the 6-decimal round."""
    e = load_table(spark, sf_dir, "events")
    arms = e.select("user_id", (F.col("user_id") % 2).alias("arm")).distinct()
    sizes = arms.agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n0"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n1"),
    )
    per_user = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n_ev"))
    conv = (
        per_user.join(arms, "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.when((F.col("arm") == 0) & (F.col("n_ev") >= 14), 1)).alias("c0"),
            F.count(F.when((F.col("arm") == 1) & (F.col("n_ev") >= 14), 1)).alias("c1"),
        )
    )
    p0 = F.col("c0") * 1.0 / F.col("n0")
    p1 = F.col("c1") * 1.0 / F.col("n1")
    pp = (F.col("c0") + F.col("c1")) * 1.0 / (F.col("n0") + F.col("n1"))
    # Zero pooled variance (no converters, or everyone converts) => z
    # undefined: emit NULL rather than divide by zero (ANSI throws; the
    # oracle mirrors with NULLIF). Caught by the drift guard.
    se = F.sqrt(pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    z = F.when(se != 0, (p0 - p1) / se)
    return conv.crossJoin(F.broadcast(sizes)).select(
        "event_type",
        F.col("c0").cast("bigint").alias("conv_a"),
        F.col("c1").cast("bigint").alias("conv_b"),
        F.round(p0, 6).alias("rate_a"),
        F.round(p1, 6).alias("rate_b"),
        F.round(z, 6).alias("z"),
    )


@register(
    "event_value_trend",
    survey_ref="A1,stats,math",
    oracle="""
WITH base AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
pts AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - d0 AS BIGINT) AS x,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
  FROM events CROSS JOIN base
),
m AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY event_type
),
sl AS (
  -- cross products at 128-bit: sx*sy ~ 5e5 * n^2 leaves int64 near
  -- n ~ 4-5M rows per event_type (Spark would wrap silently, DuckDB
  -- would error — engines diverge); HUGEINT here = decimal(38,0) there
  -- NULLIF guards the degenerate group (all points on one day =>
  -- zero variance in x): slope is undefined, and the engines disagree
  -- on bare /0.0 (DuckDB IEEE inf, Spark ANSI throws). Found by the
  -- oracle-drift guard's perturbed corpus.
  SELECT event_type, n, sx, sy,
         CAST(n::HUGEINT * sxy - sx::HUGEINT * sy AS DOUBLE)
           / NULLIF(CAST(n::HUGEINT * sxx - sx::HUGEINT * sx AS DOUBLE), 0) AS slope
  FROM m
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       round(slope, 6) AS slope_cents_per_day,
       round((sy - slope * sx) / n, 6) AS intercept_cents
FROM sl
""",
)
def event_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type least-squares trend of event value over time (cents/day
    slope + intercept) from INTEGER moments: x is rebased to
    days-since-corpus-start (small ints, no overflow at any scale) and y
    to cents, so n, Σx, Σy, Σxy, Σxx are exact; the cross products
    (n·Σxy − Σx·Σy etc.) widen to decimal(38,0) / HUGEINT before the
    subtraction — Σx·Σy ≈ 5e5·n² leaves int64 around 4-5M rows per
    event_type — so the only float ops are the two final divisions and
    both engines emit identical doubles at any scale factor.
    `order_price_date_correlation`'s Pearson r answers "is there a
    relationship"; this answers "how steep". One hash aggregation."""
    e = load_table(spark, sf_dir, "events")
    base = e.agg(F.min(F.to_date("ts")).alias("d0"))
    pts = e.crossJoin(F.broadcast(base)).select(
        "event_type",
        F.datediff(F.to_date("ts"), F.col("d0")).cast("long").alias("x"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("y"),
    )
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    dn, dsx, dsy, dsxy, dsxx = (
        F.col(c).cast("decimal(38,0)") for c in ("n", "sx", "sy", "sxy", "sxx")
    )
    # Degenerate group (all events on one day): zero x-variance makes the
    # slope undefined — emit NULL rather than divide by zero (ANSI mode
    # throws; the oracle mirrors with NULLIF). Caught by the drift guard.
    denom = (dn * dsxx - dsx * dsx).cast("double")
    slope = F.when(denom != 0, (dn * dsxy - dsx * dsy).cast("double") / denom)
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(slope, 6).alias("slope_cents_per_day"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias("intercept_cents"),
    )
