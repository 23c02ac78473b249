"""Physical-plan assertions: the scale properties SURVEY §4 promises.

These lock in the *plan shape*, not just result correctness: filters reach
the parquet scan, projections prune the read schema, small dims broadcast,
aggregations partial-aggregate before the shuffle. A regression here means
a query still passes its oracle but would fall over at 100 TB.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from harvester_database_and_automation_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def fmt_plan(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def pushed_filters(plan: str) -> str:
    return " ".join(re.findall(r"PushedFilters: \[[^\n]*", plan))


def count_nodes(plan: str, op: str) -> int:
    """Count physical operators by their numbered node headers (the
    formatted explain repeats each name again in the details section)."""
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, flags=re.MULTILINE))


def read_schemas(plan: str) -> str:
    return " ".join(re.findall(r"ReadSchema: [^\n]*", plan))


def test_filter_project_pushes_predicates_and_prunes(spark):
    plan = fmt_plan(spark, "filter_project")
    pushed = pushed_filters(plan)
    # Range, IN-list and BETWEEN all reach the scan.
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "In(l_returnflag" in pushed
    assert "GreaterThanOrEqual(l_quantity,10" in pushed
    # Untouched columns never leave the parquet footer.
    schemas = read_schemas(plan)
    for absent in ("l_partkey", "l_suppkey", "l_tax", "l_linestatus"):
        assert absent not in schemas, f"{absent} should be pruned from the scan"


def test_regional_revenue_broadcasts_dims(spark):
    plan = fmt_plan(spark, "regional_revenue")
    assert "BroadcastHashJoin" in plan, "small dims must broadcast, not shuffle"
    # The big sides (orders/lineitem-scale tables) must not be broadcast:
    # every broadcast exchange in this plan carries a dim-table column.
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 2


def test_pricing_summary_partial_aggregates(spark):
    plan = fmt_plan(spark, "pricing_summary")
    # Map-side partial + final aggregate around exactly one shuffle.
    assert count_nodes(plan, "HashAggregate") == 2
    assert count_nodes(plan, "Exchange") == 1
    assert "LessThanOrEqual(l_shipdate" in pushed_filters(plan)


def test_cosine_topk_broadcasts_query_side(spark):
    plan = fmt_plan(spark, "cosine_topk_bruteforce")
    # The tiny query set is broadcast; the reference side streams.
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # Both scans push their vec_id split predicate.
    pushed = pushed_filters(plan)
    assert "LessThan(vec_id,10)" in pushed and "GreaterThanOrEqual(vec_id,10)" in pushed


def test_embeddings_scans_prune_unused_label(spark):
    plan = fmt_plan(spark, "embedding_near_dup_pairs")
    assert "label" not in read_schemas(plan), "label is unused and must be pruned"


def test_rollup_expands_not_reaggregates(spark):
    plan = fmt_plan(spark, "customer_rollup_region_nation")
    # Spark implements rollup as one Expand + aggregation, not N unions.
    assert "Expand" in plan
    assert "Union" not in plan


def test_tfidf_document_frequency_is_not_a_word_window(spark):
    plan = fmt_plan(spark, "tfidf_top_terms")
    # Document frequency must come from a partial-aggregating groupBy, not
    # count().over(Window.partitionBy("word")) — a word-partitioned window
    # sends every occurrence of a hot word to one reducer (skew that grows
    # with corpus size). The only window allowed is the per-doc top-k rank.
    window_section = " ".join(re.findall(r"windowspecdefinition\([^\n]*", plan))
    assert not re.search(r"windowspecdefinition\(word#", window_section), (
        "df must not be a word-partitioned window"
    )
    assert count_nodes(plan, "Window") <= 1


def test_minhash_signatures_partial_aggregate(spark):
    plan = fmt_plan(spark, "minhash_lsh_candidates")
    # Signature generation must partial-aggregate (ships ≤16 values per doc
    # per task): every aggregation appears as a partial/final pair.
    n_agg = (
        count_nodes(plan, "HashAggregate")
        + count_nodes(plan, "SortAggregate")
        + count_nodes(plan, "ObjectHashAggregate")
    )
    assert n_agg % 2 == 0 and n_agg >= 2


def test_simhash_is_shuffle_free(spark):
    """SimHash is a pure per-document function: the plan must contain no
    shuffle at all (the only allowed exchange is the input fanout
    repartition) — a groupBy sneaking back in would ship per-token rows."""
    plan = fmt_plan(spark, "simhash_buckets")
    exchanges = count_nodes(plan, "Exchange")
    reparts = plan.count("REPARTITION_BY_NUM") + plan.count("ROUND_ROBIN")
    assert exchanges <= 1
    if exchanges == 1:
        assert reparts >= 1, "the single allowed exchange is the input fanout"


def test_asof_query_plan_is_join_free(spark):
    """The registered as-of query must run as union + ONE keyed window —
    a Join node here means the O(L*R) range-join encoding crept back."""
    plan = fmt_plan(spark, "purchase_last_click_asof")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert count_nodes(plan, node) == 0, node
    assert count_nodes(plan, "Window") == 1


def test_range_join_query_plan_is_equi_join(spark):
    """The bucketed range join must plan as a hash/sort-merge equi-join on
    the bucket id, never a nested loop over all event pairs."""
    plan = fmt_plan(spark, "event_concurrency_window")
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert count_nodes(plan, "CartesianProduct") == 0
    # any equi-join strategy qualifies (AQE broadcasts at tiny SF)
    n_equi = (
        count_nodes(plan, "SortMergeJoin")
        + count_nodes(plan, "ShuffledHashJoin")
        + count_nodes(plan, "BroadcastHashJoin")
    )
    assert n_equi >= 1


def test_heavy_hitters_candidate_join_is_broadcast(spark):
    """The exact pass must semi-join the corpus against the (tiny)
    candidate set as a broadcast — shuffling the corpus by word would
    reintroduce the full-vocabulary shuffle the sketch exists to avoid."""
    plan = fmt_plan(spark, "word_heavy_hitters")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_paragraph_dedup_joins_on_digest_not_text(spark):
    """The global-count join back to paragraphs must key on the md5 digest
    — paragraph text must never survive past the hash projection into a
    shuffle (at 100 TB the text column is the corpus itself)."""
    plan = fmt_plan(spark, "paragraph_dup_fraction")
    assert count_nodes(plan, "CartesianProduct") == 0
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0
    # every exchange below the final agg carries only (doc_id, h) or
    # (h, c) — the text column appears in no Exchange argument list
    exchange_args = " ".join(re.findall(r"Arguments: hashpartitioning\([^\n]*", plan))
    assert "text#" not in exchange_args, "paragraph text must not be a shuffle key"


def test_semantic_dedup_pairs_is_cell_colocated(spark):
    """SemDeDup's whole point: the pair comparison touches only vectors
    CO-LOCATED by cell, never an all-pairs product over the corpus. The
    plan shape is: cogrouped tree-descent assignment (FlatMapCoGroups) +
    per-cell grouped pair scan (FlatMapGroups) — no join node carries the
    pair fan-out, so shuffled bytes stay O(N)."""
    plan = fmt_plan(spark, "semantic_dedup_cells")
    assert count_nodes(plan, "CartesianProduct") == 0
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert "FlatMapCoGroupsInPandas" in plan  # seed-level assignment
    assert "FlatMapGroupsInPandas" in plan  # per-cell BLAS pair scan
    # bounded exchanges: corpus fan-out, the cogroup's two hash inputs,
    # the (tiny) seed-frame repartition, and the cell co-location shuffle
    # — crucially NONE of them carries a comparison fan-out, only rows.
    assert count_nodes(plan, "Exchange") <= 5


def test_pq_codebook_joins_are_broadcast(spark):
    """PQ encode + ADC: the codebook (8 subspaces x 10 codes) and the query
    block must broadcast — the only streamed side is the vector corpus.
    The encode is the `pq_recon` derived-table build; the ADC scan reads
    the published reconstructions."""
    from harvester_database_and_automation_spark.plans.embeddings import _pq_recon

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    encode = _pq_recon(spark, SF_DIR)._jdf.queryExecution().explainString(mode)
    assert count_nodes(encode, "CartesianProduct") == 0
    assert "BroadcastHashJoin" in encode
    plan = fmt_plan(spark, "pq_adc_topk")
    assert count_nodes(plan, "CartesianProduct") == 0
    assert "BroadcastExchange" in plan


def test_rolling_window_partitions_by_user(spark):
    """The RANGE-frame window must partition by user_id (one ordered scan
    per user partition), never funnel the fact through a global sort."""
    plan = fmt_plan(spark, "user_rolling_7day_value")
    spec = re.search(r"windowspecdefinition\(([^)]*)", plan)
    assert spec and spec.group(1).split(",")[0].strip().startswith("user_id"), (
        "window must be user_id-partitioned"
    )


def test_curation_funnel_bounds_corpus_scans(spark):
    """The funnel composes four stages but must not multiply corpus scans
    without bound: the documents fact may appear only for the flag
    projection, the exact-dedup aggregate, and the shingle derivation."""
    plan = fmt_plan(spark, "curation_funnel_report")
    assert count_nodes(plan, "CartesianProduct") == 0
    assert plan.count("documents.parquet") <= 4


def test_incremental_components_is_join_only(spark):
    """Both contractions (prior map + delta fold) must stay pure int-pair
    equi-joins/aggregations — any nested-loop node means the label joins
    regressed to a non-keyed plan."""
    plan = fmt_plan(spark, "incremental_dup_components")
    assert count_nodes(plan, "CartesianProduct") == 0
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0


def test_rollup_cascade_has_no_extra_fact_scans(spark):
    """Cascade levels must re-aggregate the level below: exactly one scan
    of the events fact per plan (the oracle-facing day query)."""
    plan = fmt_plan(spark, "event_rollup_cascade")
    assert plan.count("events.parquet") <= 1
    assert count_nodes(plan, "HashAggregate") >= 4  # partial+final per level


def test_published_partitioned_table_prunes_partitions(spark, tmp_path):
    """Hive-style partition pruning on the derived layer: a predicate on
    the partition column must reach the scan as a PartitionFilter (so at
    100 TB only the matching leaf directories are listed/read), never as
    a post-scan row filter over the full table."""
    from harvester_database_and_automation_spark.operators.publish import (
        publish_versioned,
        read_published,
    )

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).cast("string").alias("lang"),
    )
    table = str(tmp_path / "docs_by_lang")
    publish_versioned(df, table, partition_by=["lang"])

    got = read_published(spark, table).filter(F.col("lang") == "3")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = got._jdf.queryExecution().explainString(mode)
    m = re.search(r"PartitionFilters: \[[^\n]*", plan)
    assert m and "lang" in m.group(0), f"predicate must prune partitions: {plan}"
    # And the pruning is effective: only 1 of the 7 leaf dirs feeds rows.
    assert got.count() == df.filter(F.col("lang") == "3").count()


def test_chunk_manifest_is_shuffle_free(spark):
    """RAG chunking is a pure map (sequence+explode+substr+md5): zero
    exchanges of any kind — a 100 TB corpus chunks at scan speed."""
    plan = fmt_plan(spark, "doc_chunk_manifest")
    assert count_nodes(plan, "Exchange") == 0, plan
    assert "Generate" in plan  # the explode


def test_cooccurrence_lift_expands_pairs_map_side(spark):
    """The word-pair counts must come from the per-doc higher-order
    expansion, never a doc-keyed self-join of the incidence list — the
    join form re-shuffles the corpus-sized (doc, word) table twice."""
    plan = fmt_plan(spark, "word_cooccurrence_lift")
    assert "SortMergeJoin" not in plan, plan
    # Only broadcasts join the vocab marginals / doc-count scalar back on.
    assert count_nodes(plan, "BroadcastHashJoin") >= 1, plan


def test_zorder_cells_bound_both_dimensions(spark):
    """The locality guarantee behind z-order writes: every 16-code z-cell
    confines BOTH interleaved dimensions to a 4-wide range, so parquet
    row-group min/max stats prune on either filter column."""
    rows = QUERIES["zorder_cell_stats"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["max_x"] - r["min_x"] <= 3, r
        assert r["max_y"] - r["min_y"] <= 3, r


def test_drift_cdf_prefix_sum_is_over_binned_frame(spark):
    """The KS prefix sum must run over the 256-row binned frame (broadcast
    triangular join), never as a single-partition window over events."""
    plan = fmt_plan(spark, "value_drift_cdf")
    assert count_nodes(plan, "Window") == 0, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_prefix_filter_prunes_hot_shingles_from_candidates(spark):
    """PPJoin completeness with a smaller candidate set: the prefix frame
    must be strictly smaller than the full incidence list, and the
    candidate pairs a superset of the verified >= 0.5 output."""
    from harvester_database_and_automation_spark.plans.text import _shingles

    sf = "/root/testdata/sf0.01"
    full = _shingles(spark, sf).count()
    out = QUERIES["prefix_filter_jaccard_pairs"].fn(spark, sf)
    assert out.count() > 0
    # Re-derive the prefix size the query uses: strictly under half + 1.
    from pyspark.sql import Window as W

    sh = _shingles(spark, sf)
    df_tab = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(df_tab, "shingle").withColumn(
        "pos", F.row_number().over(W.partitionBy("doc_id").orderBy("df", "shingle"))
    ).withColumn("sz", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    prefix_n = ranked.filter(
        F.col("pos") <= F.col("sz") - F.expr("(sz + 1) div 2") + 1
    ).count()
    assert prefix_n < full * 0.6, (prefix_n, full)


def test_served_reads_prune_partitions(spark):
    """The serving store publishes its hub tables hive-partitioned by
    their natural key (lang / cell bucket) — the SURVEY §4 'partitioning
    replaces the ~90 indexes' claim. A keyed consumer read must show the
    predicate as a PARTITION filter on the scan (directories pruned at
    planning), not a row filter over a full scan."""
    from harvester_database_and_automation_spark.pipelines.derived import read_derived

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for table, col, value in [
        ("lineage_mutation_counts", "lang", F.lit("en")),
        ("doc_term_projection", "lang", F.lit("en")),
        ("semdedup_assign", "cell_bucket", F.lit(3)),
    ]:
        df = read_derived(spark, SF_DIR, table).filter(F.col(col) == value)
        plan = df._jdf.queryExecution().explainString(mode)
        m = re.search(rf"PartitionFilters: \[[^\]]*{col}", plan)
        assert m, f"{table}: {col} predicate did not reach PartitionFilters:\n{plan[:2000]}"
        # and the data filters must NOT re-apply it as a row filter
        assert not re.search(rf"PushedFilters: \[[^\]]*{col}", plan), table


def test_boilerplate_frame_states_subtree_once(spark):
    """source_boilerplate_fraction computes the per-source document
    frequency as a WINDOW over the single labeled frame (PLANS.md: the
    aggregate-joined-back form planned the scan + doc_id join three
    times — 16 exchanges, caught by the shuffle-BYTE audit). Lock in:
    one scan of the published shingle index, no SortMergeJoin of
    corpus-sized frames, and an exchange count at the algorithm's
    inherent minimum."""
    plan = fmt_plan(spark, "source_boilerplate_fraction")
    # one Scan parquet NODE over the published table — count scan node
    # headers whose detail block names the shingle_index path, not raw
    # substring occurrences (Location/details lines repeat the path a
    # version-dependent number of times)
    scan_blocks = [
        blk
        for blk in re.split(r"\n\n", plan)
        if re.match(r"^\(\d+\) Scan parquet", blk.lstrip()) and "shingle_index" in blk
    ]
    assert len(scan_blocks) == 1, f"shingle_index scanned more than once:\n{plan[:1500]}"
    assert count_nodes(plan, "Window") == 1
    assert count_nodes(plan, "Exchange") <= 6, plan[:1500]


def test_triage_rank_has_no_global_window(spark):
    """plate_triage_order certifies its ordering via the distributed id
    path (range repartition + per-partition offsets) — the plan must not
    contain a window at all (the oracle's row_number() OVER (ORDER BY)
    is DuckDB's single-threaded problem, not ours), and the group-level
    contains-flag window must be partitioned by the plate key."""
    plan = fmt_plan(spark, "plate_triage_order")
    # The rank column arrives via assign_global_ids (executed eagerly:
    # the returned frame is an RDD scan) — a regression back to
    # row_number().over(Window.orderBy(...)) would surface as a global
    # windowspecdefinition here instead.
    assert "windowspecdefinition" not in plan, plan[:1200]
    assert "Scan ExistingRDD" in plan, plan[:1200]


def test_concordance_cohort_is_semi_not_subtree(spark):
    """seq_method_concordance's EXISTS cohort must be a broadcast LEFT
    SEMI against the raw id list — the first cut derived the cohort from
    the enriched per_doc frame and Catalyst planned the whole K2
    calls/lineage subtree twice (exchange-storm flagged)."""
    plan = fmt_plan(spark, "seq_method_concordance")
    assert re.search(r"BroadcastHashJoin.*LeftSemi|LeftSemi.*BroadcastHashJoin", plan) or (
        "LeftSemi" in plan and "BroadcastExchange" in plan
    ), plan[:1200]
    # the variant-calls hub is read from the store: no variant-definition
    # cross join in the plan, one scan of the published table
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan[:1200]
    scans = [
        blk
        for blk in re.split(r"\n\n", plan)
        if re.match(r"^\(\d+\) Scan parquet", blk.lstrip()) and "variant_calls" in blk
    ]
    assert len(scans) == 1, plan[:1200]


def test_plan_audit_detectors_fire_on_planted_bad_plans(spark, tmp_path):
    """Negative control for scripts/audit_plans.py: every red-flag
    detector must go RED on a deliberately bad plan — a gate that has
    only ever been green proves nothing (round-10 gate-trust theme)."""
    import importlib.util
    import sys
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "audit_plans_script",
        Path(__file__).resolve().parent.parent / "scripts" / "audit_plans.py",
    )
    ap = importlib.util.module_from_spec(spec)
    sys.modules["audit_plans_script"] = ap
    spec.loader.exec_module(ap)

    # 1. Cartesian product: unconditioned join with broadcast disabled.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bad = spark.range(1000).crossJoin(spark.range(1000, numPartitions=4).withColumnRenamed("id", "id2"))
        assert "cartesian" in ap.plan_flags(spark, bad)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # 2. Global window: row_number over the whole frame, no partitionBy.
    from pyspark.sql import Window

    w = Window.orderBy("id")
    bad = spark.range(1000).withColumn("rn", F.row_number().over(w))
    assert "single-partition-window" in ap.plan_flags(spark, bad)

    # 3. Exchange storm: seven aggregations on distinct keys unioned.
    base = spark.range(1000).select(
        *[(F.col("id") % (i + 2)).alias(f"k{i}") for i in range(7)]
    )
    parts = [
        base.groupBy(f"k{i}").agg(F.count(F.lit(1)).alias("n")).select(
            F.col(f"k{i}").alias("k"), "n"
        )
        for i in range(7)
    ]
    bad = parts[0]
    for p in parts[1:]:
        bad = bad.unionByName(p)
    flags = ap.plan_flags(spark, bad)
    assert any(f.startswith("exchange-storm") for f in flags), flags

    # 4. No pushdown: a PUSHABLE predicate (bare column vs literal)
    #    stranded above a nondeterministic projection — Catalyst cannot
    #    push a filter below rand(), so `id > 50` is evaluated above the
    #    scan, whose PushedFilters line Spark 4 then omits ENTIRELY (the
    #    blind spot this planted case forced the detector to close: the
    #    old all-empty-lines check was unreachable).
    pq = str(tmp_path / "t.parquet")
    spark.range(100).select(F.col("id"), F.col("id").cast("string").alias("s")).write.parquet(pq)
    bad = (
        spark.read.parquet(pq)
        .withColumn("r", F.rand())
        .filter(F.col("id") > 50)
    )
    assert "no-pushdown" in ap.plan_flags(spark, bad)
    # ...while a purely computed (un-pushable) predicate stays exempt.
    ok = spark.read.parquet(pq).filter(
        F.coalesce(F.length("s") * 7 % 13, F.lit(0)) == 1
    )
    assert "no-pushdown" not in ap.plan_flags(spark, ok)

    # And the audited registry stays clean through the same detector
    # (spot-check one real query end-to-end via audit_one).
    assert ap.audit_one(spark, "filter_project", SF_DIR) == []


def test_stranded_detector_exempts_partition_pruned_scans():
    """A pushable atom served via PartitionFilters leaves PushedFilters
    legitimately empty — the stranded-pushdown detector must not red-flag
    a partition-pruned read (round-10 ADVICE). Crafted plan text drives
    the detector directly: the same plan WITHOUT the PartitionFilters
    line must still flag, proving the exemption is the only difference."""
    import importlib.util
    import sys
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "audit_plans_script2",
        Path(__file__).resolve().parent.parent / "scripts" / "audit_plans.py",
    )
    ap = importlib.util.module_from_spec(spec)
    sys.modules["audit_plans_script2"] = ap
    spec.loader.exec_module(ap)

    def plan(partition_filters_line: str) -> str:
        return (
            "== Physical Plan ==\n"
            "* Filter (3)\n"
            "+- * ColumnarToRow (2)\n"
            "   +- Scan parquet  (1)\n"
            "\n\n"
            "(1) Scan parquet \n"
            "Output [2]: [id#3L, p#5]\n"
            "Batched: true\n"
            "Location: InMemoryFileIndex [file:/t.parquet]\n"
            f"{partition_filters_line}"
            "ReadSchema: struct<id:bigint>\n"
            "\n"
            "(2) ColumnarToRow [codegen id : 1]\n"
            "Input [2]: [id#3L, p#5]\n"
            "\n"
            "(3) Filter [codegen id : 1]\n"
            "Input [2]: [id#3L, p#5]\n"
            "Condition : (p#5 > 2)\n"
            "\n"
        )

    pruned = plan("PartitionFilters: [isnotnull(p#5), (p#5 > 2)]\n")
    unpruned = plan("")
    empty_pruned = plan("PartitionFilters: []\n")
    assert not ap._stranded_pushable_predicate(pruned)
    assert ap._stranded_pushable_predicate(unpruned)
    assert ap._stranded_pushable_predicate(empty_pruned)
