"""Integration tests: feed-import DAG over two cycles; release cascade."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from harvester_database_and_automation_spark.operators.publish import current_version, read_published
from harvester_database_and_automation_spark.pipelines import build_release_plan, run_feed_import
from harvester_database_and_automation_spark.sources.quarantine import not_null

FEED_SCHEMA = T.StructType(
    [
        T.StructField("seq_id", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("sequence", T.StringType()),
        T.StructField("n_mut", T.IntegerType()),  # derived by annotate
    ]
)


def _write_feed(path, rows):
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _annotate(df):
    """Stand-in for the expensive alignment/mutation stage: count 'G's."""
    return df.withColumn(
        "n_mut", F.length("sequence") - F.length(F.regexp_replace("sequence", "G", ""))
    ).select(*[f.name for f in FEED_SCHEMA.fields])


def _run(spark, feed, table):
    return run_feed_import(
        spark,
        feed,
        table,
        FEED_SCHEMA,
        keys=["seq_id"],
        metadata_cols=["country"],
        payload_cols=["sequence"],
        checks={"country_required": not_null("country")},
        annotate=_annotate,
        required_fields={"seq_id", "sequence"},
    )


def test_feed_import_two_cycles(spark, tmp_path):
    feed1 = str(tmp_path / "feed1.jsonl")
    table = str(tmp_path / "seq_table")
    _write_feed(
        feed1,
        [
            {"seq_id": "a", "country": "CH", "sequence": "ACGG"},
            {"seq_id": "b", "country": "DE", "sequence": "TTTT"},
            {"seq_id": "c", "country": None, "sequence": "GGGG"},  # quarantined
        ],
    )
    rep1 = _run(spark, feed1, table)
    assert (rep1.version, rep1.n_insert, rep1.n_quarantined) == (1, 2, 1)
    assert rep1.n_annotated == 2
    t1 = {r["seq_id"]: r for r in read_published(spark, table).collect()}
    assert set(t1) == {"a", "b"} and t1["a"]["n_mut"] == 2

    # Cycle 2: a unchanged, b metadata-only change, d new, b'? no — drop
    # nothing yet... e deletes happen for rows absent from the feed.
    feed2 = str(tmp_path / "feed2.jsonl")
    _write_feed(
        feed2,
        [
            {"seq_id": "a", "country": "CH", "sequence": "ACGG"},   # unchanged
            {"seq_id": "b", "country": "FR", "sequence": "TTTT"},   # metadata only
            {"seq_id": "d", "country": "IT", "sequence": "GGGA"},   # insert
        ],
    )
    rep2 = _run(spark, feed2, table)
    assert rep2.version == 2
    assert (rep2.n_unchanged, rep2.n_metadata_changed, rep2.n_insert, rep2.n_delete) == (1, 1, 1, 0)
    # Annotation ran ONLY for the insert (the skip-reprocessing contract).
    assert rep2.n_annotated == 1
    t2 = {r["seq_id"]: r for r in read_published(spark, table).collect()}
    assert set(t2) == {"a", "b", "d"}
    assert t2["b"]["country"] == "FR"
    assert t2["b"]["n_mut"] == 0  # stored annotation kept, not recomputed
    assert t2["d"]["n_mut"] == 3


def test_feed_import_annotates_each_changed_row_once(spark, tmp_path):
    """The skip-reprocessing contract, counted where the work happens: the
    annotate stage sees each inserted or payload-changed row exactly once
    per cycle. An opaque mapInPandas stage (the run_fasta_tool shape) runs
    once per plan that reads it, so dropping the annotated cache would
    count rows three times (report count, then merge_delta's touched keys
    and union), and an action that races the cache fill can count rows
    twice."""
    seen = spark.sparkContext.accumulator(0)

    def count_g(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf.assign(n_mut=pdf["sequence"].str.count("G"))

    def annotate(df):
        return df.select(*FEED_SCHEMA.names).mapInPandas(count_g, FEED_SCHEMA)

    def cycle(name, rows):
        feed = str(tmp_path / name)
        _write_feed(feed, rows)
        before = seen.value
        rep = run_feed_import(
            spark, feed, str(tmp_path / "seq_table"), FEED_SCHEMA,
            keys=["seq_id"], metadata_cols=["country"], payload_cols=["sequence"],
            checks={"country_required": not_null("country")}, annotate=annotate,
        )
        return rep, seen.value - before

    cycle("feed1.jsonl", [
        {"seq_id": k, "country": "CH", "sequence": "ACGG"} for k in "abcde"
    ])
    rep2, n_seen = cycle("feed2.jsonl", [
        {"seq_id": "a", "country": "CH", "sequence": "ACGG"},  # unchanged
        {"seq_id": "b", "country": "FR", "sequence": "ACGG"},  # metadata only
        {"seq_id": "c", "country": "CH", "sequence": "GGGG"},  # payload changed
        {"seq_id": "d", "country": "CH", "sequence": "GGTT"},  # payload changed
        {"seq_id": "f", "country": "IT", "sequence": "GAGA"},  # insert
    ])  # e: delete
    assert (rep2.n_insert, rep2.n_payload_changed, rep2.n_delete) == (1, 2, 1)
    assert n_seen == rep2.n_insert + rep2.n_payload_changed == rep2.n_annotated
    t2 = {r["seq_id"]: r["n_mut"] for r in read_published(spark, str(tmp_path / "seq_table")).collect()}
    assert t2 == {"a": 2, "b": 2, "c": 4, "d": 2, "f": 2}


def test_feed_import_drift_aborts(spark, tmp_path):
    feed = str(tmp_path / "feed.jsonl")
    _write_feed(feed, [{"seq_id": "a", "country": "CH"}])  # no 'sequence'
    with pytest.raises(ValueError, match="drift"):
        _run(spark, feed, str(tmp_path / "tbl"))


def test_release_cascade_single_reason_and_report(spark):
    df = spark.createDataFrame(
        [
            # (ethid, consensus_n, batch, name)
            ("e1", 10, "b1", "s1"),      # release
            ("e1", 50, "b1", "s2"),      # duplicate (worse)
            ("e2", 999, "b1", "s3"),     # too many Ns
            ("e3", 10, "b2", "s4"),      # release
            ("e4", 998, "b2", "s5"),     # too many Ns -> b2 rate 0.5
        ],
        "ethid string, consensus_n int, batch string, sample_name string",
    )
    annotated, report = build_release_plan(
        df,
        key_col="ethid",
        quality_col="consensus_n",
        batch_col="batch",
        rules=[
            ("duplicate", F.col("duplicate_idx") > 1),
            ("too_many_n", F.col("consensus_n") > 500),
        ],
        tiebreak_col="sample_name",
    )
    reasons = {r["sample_name"]: r["reason"] for r in annotated.collect()}
    assert reasons == {
        "s1": "release",
        "s2": "duplicate",
        "s3": "too_many_n",
        "s4": "release",
        "s5": "too_many_n",
    }
    rep = {(r["batch"], r["reason"]): r["frac_batch"] for r in report.collect()}
    assert rep[("b1", "release")] == pytest.approx(1 / 3)
    assert rep[("b2", "too_many_n")] == pytest.approx(0.5)


def test_derived_layer_rebuild_dependency_order(spark, tmp_path):
    from harvester_database_and_automation_spark.operators.publish import current_version, read_published
    from harvester_database_and_automation_spark.pipelines.derived import LAYER, DerivedLayer

    out = str(tmp_path / "derived")
    versions = LAYER.rebuild(spark, "/root/testdata/sf0.001", out)
    assert set(versions) == set(LAYER.tables)
    assert all(v == 1 for v in versions.values())

    meta = read_published(spark, f"{out}/doc_public_meta")
    proj = read_published(spark, f"{out}/doc_term_projection")
    inten = read_published(spark, f"{out}/lang_term_intensity")
    # Layer 2 only contains best docs from layer 1.
    n_best = meta.filter("is_best").count()
    assert proj.select("doc_id").distinct().count() <= n_best
    # Rollup grand-total row equals the projection row count.
    total = inten.filter("gid = 3").collect()[0]["n"]
    assert total == proj.count()

    # Spine table: grand total equals the event count; no gaps in the spine.
    intensity = read_published(spark, f"{out}/daily_event_intensity")
    from harvester_database_and_automation_spark.catalog import load_table

    n_events = load_table(spark, "/root/testdata/sf0.001", "events").count()
    grand = intensity.filter("gid = 3").collect()[0]["n_events"]
    assert grand == n_events
    n_days = intensity.filter("day is not null and event_type is null").count()
    n_types = intensity.filter("day is not null and event_type is not null").select("event_type").distinct().count()
    assert intensity.count() == n_days * n_types + n_days + 1

    # Dashboard: both kinds present, bad-counts bounded by totals, buckets
    # follow the recode ('0-19', ..., '100+', 'Unknown').
    dash = read_published(spark, f"{out}/weekly_dashboard")
    kinds = {r["kind"] for r in dash.select("kind").distinct().collect()}
    assert kinds == {"event", "order"}
    assert dash.filter("n_bad > n").count() == 0
    buckets = {r["v_bucket"] for r in dash.select("v_bucket").distinct().collect()}
    assert buckets <= {"0-19", "20-39", "40-59", "60-79", "80-99", "100+", "Unknown"}

    # Lineage-mutation MV: labels restricted to the variant set + NONE,
    # every share a valid proportion.
    lmc = read_published(spark, f"{out}/lineage_mutation_counts")
    labels = {r["lineage"] for r in lmc.select("lineage").distinct().collect()}
    assert labels <= {"ALPHA", "BETA", "NONE"}
    assert lmc.filter("share <= 0 or share > 1").count() == 0

    # Second rebuild bumps every version (atomic swap per table).
    versions2 = LAYER.rebuild(spark, "/root/testdata/sf0.001", out)
    assert all(v == 2 for v in versions2.values())

    # Registry validation: unknown dependency rejected.
    layer = DerivedLayer()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown table"):

        @layer.register("x", depends_on=("nope",))
        def x(spark, sf_dir, deps):
            return None


def test_resequencing_decisions(spark):
    """≥10% improvement submits an update; less tombstones; unseen keys
    submit as new — the exact boundary is strict (<0.9x, not <=)."""
    from harvester_database_and_automation_spark.pipelines.release import (
        resequencing_decisions,
    )

    released = spark.createDataFrame(
        [("A", 100), ("A", 120), ("C", 40)], "sample string, n_count int"
    )
    incoming = spark.createDataFrame(
        [("A", 85), ("A", 90), ("A", 95), ("B", 50)], "sample string, n_count int"
    )
    out = {
        (r["sample"], r["n_count"]): r["decision"]
        for r in resequencing_decisions(released, incoming, "sample", "n_count").collect()
    }
    assert out == {
        ("A", 85): "submit_update",  # 85 < 0.9 * 100
        ("A", 90): "tombstone",      # strict boundary: 90 is not < 90
        ("A", 95): "tombstone",
        ("B", 50): "submit_new",
    }


def test_batch_completeness(spark):
    from harvester_database_and_automation_spark.pipelines.release import (
        batch_completeness,
    )

    expected = spark.createDataFrame(
        [("s1", "b1"), ("s2", "b1"), ("s3", "b2"), ("s4", "b2"), ("s5", "b2")],
        "sample string, batch string",
    )
    arrived = spark.createDataFrame([("s1",), ("s2",), ("s3",)], "sample string")
    out = {r["batch"]: r for r in batch_completeness(expected, arrived, "sample", "batch").collect()}
    assert (out["b1"]["n_expected"], out["b1"]["n_missing"], out["b1"]["is_complete"]) == (2, 0, True)
    assert (out["b2"]["n_arrived"], out["b2"]["n_missing"], out["b2"]["is_complete"]) == (1, 2, False)


def test_dedup_hub_tables_match_query_plans(spark, tmp_path):
    """The dedup hub rebuilt into a fresh root (shingles -> shingle index
    -> scored pairs -> component map) must reproduce exactly what the
    DuckDB oracle computes from raw text and what the query plans read
    from the serving store — materialization changes cost, never answers."""
    from harvester_database_and_automation_spark.pipelines.derived import LAYER
    from harvester_database_and_automation_spark.plans import QUERIES
    from harvester_database_and_automation_spark.testing import duckdb_connection

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "derived")
    LAYER.rebuild(spark, sf, out)

    from harvester_database_and_automation_spark.operators.publish import current_version, read_published

    pairs_tbl = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in read_published(spark, f"{out}/dup_pairs").collect()
    }
    con = duckdb_connection(sf)
    try:
        oracle = con.execute(QUERIES["ngram_jaccard_pairs"].oracle).fetchall()
    finally:
        con.close()
    oracle_pairs = {(a, b): j for a, b, j in oracle}
    assert pairs_tbl.keys() == oracle_pairs.keys()
    assert all(abs(pairs_tbl[k] - j) < 1e-6 for k, j in oracle_pairs.items())

    comp_tbl = {
        (r["doc_id"], r["component_id"])
        for r in read_published(spark, f"{out}/dup_components").collect()
    }
    comp_qry = {
        (r["doc_id"], r["component_id"])
        for r in QUERIES["incremental_dup_components"].fn(spark, sf).collect()
    }
    assert comp_tbl == comp_qry


def test_copurchase_edges_table_feeds_graph_queries(spark, tmp_path):
    """The published edge table must equal the edge frame the graph
    queries derive inline (same prune), so production jobs can swap the
    recompute for a read."""
    from harvester_database_and_automation_spark.operators.publish import current_version, read_published
    from harvester_database_and_automation_spark.pipelines.derived import LAYER

    out = str(tmp_path / "derived")
    LAYER.rebuild(spark, "/root/testdata/sf0.001", out)
    edges = read_published(spark, f"{out}/copurchase_edges")
    assert edges.filter("pa >= pb").count() == 0
    assert edges.filter("w < 2").count() == 0
    # Triangle counts from the published table match the inline query.
    from pyspark.sql import functions as F

    from harvester_database_and_automation_spark.plans.registry import QUERIES

    e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = edges.select(F.col("pa").alias("b"), F.col("pb").alias("c"))
    e3 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"]).count()
    inline = QUERIES["part_copurchase_triangles"].fn(spark, "/root/testdata/sf0.001")
    inline_total = inline.agg(F.sum("n_triangles")).collect()[0][0] or 0
    assert inline_total == 3 * tris  # each triangle counted once per vertex


def test_read_derived_serving_store(spark, tmp_path, monkeypatch):
    """The serving-store contract: first reader publishes (transitive
    deps included, each through the store), later readers scan the
    published version without bumping it, and an already-published
    version is authoritative (the concurrent-publisher fallback)."""
    import harvester_database_and_automation_spark.pipelines.derived as dv
    from harvester_database_and_automation_spark.operators.publish import (
        current_version,
        publish_versioned,
    )
    from harvester_database_and_automation_spark.oracle_cache import corpus_fingerprint

    monkeypatch.setattr(dv, "_SERVE_ROOT", str(tmp_path / "store"))
    sf = "/root/testdata/sf0.001"

    # First read publishes v1 of dup_pairs AND its dep shingle_index.
    pairs1 = dv.read_derived(spark, sf, "dup_pairs")
    root = dv._store_root(sf)
    pairs_dir = os.path.join(root, "dup_pairs")
    dep_dir = os.path.join(root, "shingle_index")
    assert current_version(pairs_dir) == 1
    assert current_version(dep_dir) == 1
    n1 = pairs1.count()

    # Second read serves the SAME published version — no rebuild, no bump.
    pairs2 = dv.read_derived(spark, sf, "dup_pairs")
    assert current_version(pairs_dir) == 1
    assert pairs2.count() == n1

    # The store root carries the code fingerprint of the running package.
    assert root.endswith(f"-{dv._code_fingerprint(dv._PKG_DIR)}")

    # Concurrent-publisher fallback: a table dir that already has a
    # published version is authoritative — read_derived must NOT overwrite
    # it (corpora are immutable, existence == freshness).
    sentinel_dir = os.path.join(root, "minhash_signatures")
    sentinel = spark.range(3).selectExpr("id AS doc_id")
    publish_versioned(sentinel, sentinel_dir)
    served = dv.read_derived(spark, sf, "minhash_signatures")
    assert current_version(sentinel_dir) == 1
    assert served.count() == 3 and served.columns == ["doc_id"]

    # Corpus fingerprint: a corpus REGENERATED at the same path (the
    # driver rewrites testdata each round) re-keys the store, so stale
    # published tables are never served for new data.
    fake = tmp_path / "corpus"
    fake.mkdir()
    (fake / "t.parquet").write_bytes(b"v1-bytes")
    fp1 = corpus_fingerprint(str(fake))
    dir_before = dv._store_root(str(fake))
    (fake / "t.parquet").write_bytes(b"regenerated-bytes")
    fp2 = corpus_fingerprint(str(fake))
    dir_after = dv._store_root(str(fake))
    assert fp1 != fp2
    # The serve directory itself must move with the regeneration — the
    # post-rewrite path carries the NEW fingerprint, not the old one.
    assert dir_before != dir_after
    assert fp1 in dir_before and fp2 in dir_after and fp1 not in dir_after

    # SAME-SIZE regeneration within the same wall-clock second must still
    # re-key (nanosecond mtimes; whole-second truncation aliased this).
    (fake / "t.parquet").write_bytes(b"regenerated-bytez")
    assert corpus_fingerprint(str(fake)) != fp2
    assert dv._store_root(str(fake)) != dir_after


def test_serving_key_covers_every_package_module(tmp_path, monkeypatch):
    """An edit to a helper no builder names (functions/genomics.py feeds
    the kernel tables through plans/kernels) re-keys the serving store;
    an unedited copy of the package keys the same as the original."""
    import shutil

    import harvester_database_and_automation_spark.pipelines.derived as dv

    sf = "/root/testdata/sf0.001"
    original = dv._store_root(sf)
    ignore = shutil.ignore_patterns("__pycache__")
    same = tmp_path / "same"
    edited = tmp_path / "edited"
    shutil.copytree(dv._PKG_DIR, same, ignore=ignore)
    shutil.copytree(dv._PKG_DIR, edited, ignore=ignore)
    with open(edited / "functions" / "genomics.py", "a") as fh:
        fh.write("\n# edited\n")

    monkeypatch.setattr(dv, "_PKG_DIR", str(same))
    assert dv._store_root(sf) == original
    monkeypatch.setattr(dv, "_PKG_DIR", str(edited))
    assert dv._store_root(sf) != original


def _corpus_copy(tmp_path):
    import shutil

    dst = tmp_path / "corpus"
    shutil.copytree("/root/testdata/sf0.001", dst)
    return str(dst)


def test_hub_consumers_leave_no_persisted_rdd(spark, tmp_path, monkeypatch):
    """Hub consumers read the derived-table store: materializing them
    adds no persisted RDD to the session (a session cache would pin every
    hub until the session ends). Compared by RDD id, not by count: the
    ContextCleaner may drop earlier tests' RDDs meanwhile."""
    import harvester_database_and_automation_spark.pipelines.derived as dv
    from harvester_database_and_automation_spark.plans import QUERIES

    monkeypatch.setattr(dv, "_SERVE_ROOT", str(tmp_path / "store"))
    sf = _corpus_copy(tmp_path)  # a path no earlier test has read
    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return {int(k) for k in jsc.getPersistentRDDs().keySet()}

    before = persisted()
    for name in ("k3_origin_estimator", "minhash_jaccard_calibration"):
        QUERIES[name].fn(spark, sf).write.mode("overwrite").format("noop").save()
    assert persisted() - before == set()


def test_hubs_rekey_on_same_path_regeneration(spark, tmp_path, monkeypatch):
    """A corpus rewritten in place within one session must not be served
    hubs built from the old files: K2 matches its oracle on the rewritten
    corpus (every row perturbed moves K2's result)."""
    import harvester_database_and_automation_spark.pipelines.derived as dv
    from harvester_database_and_automation_spark.oracle_cache import check_query_cached
    from harvester_database_and_automation_spark.testing import (
        duckdb_connection,
        perturb_corpus,
    )

    monkeypatch.setattr(dv, "_SERVE_ROOT", str(tmp_path / "store"))
    sf = _corpus_copy(tmp_path)

    def check():
        con = duckdb_connection(sf)
        try:
            res, _ = check_query_cached(spark, lambda: con, "k2_variant_caller", sf, None)
        finally:
            con.close()
        return res

    first = check()
    assert first.ok, str(first)
    perturb_corpus(sf, sf, all_rows=True)
    second = check()
    assert second.ok, str(second)


def test_run_release_cycle_two_cycles(spark, tmp_path):
    """End-to-end unit check of the §3.2 cycle runner on a hand-built
    corpus: completeness hold-back, in-cycle duplicate window, the fail
    cascade, both resequencing legs at their exact boundary (old=10:
    new=9 tombstones, new=8 updates), and versioned publish."""
    from harvester_database_and_automation_spark.pipelines.release import run_release_cycle

    table = str(tmp_path / "released")
    expected = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1), (10, 2), (11, 2)],
        "sample_id bigint, batch int",
    )
    rules = [
        ("duplicate", F.col("duplicate_idx") > 1),
        ("too_many_n", F.col("consensus_n") > 90),
    ]

    # Cycle 1: batch 1 incomplete (sample 4 missing); sample 1 has two
    # attempts; sample 2 fails too_many_n; samples 10/11 release at n=10.
    c1 = spark.createDataFrame(
        [(1, 1, 0, 30), (1, 2, 0, 37), (2, 1, 0, 95), (3, 1, 1, 20),
         (10, 1, 2, 10), (11, 1, 2, 10)],
        "sample_id bigint, attempt_id int, batch int, consensus_n int",
    )
    arrived1 = c1.select("sample_id").distinct()
    man1, held1, rep1 = run_release_cycle(
        spark, c1, expected, arrived1, table, rules,
        key="sample_id", quality_col="consensus_n", batch_col="batch",
        tiebreak_col="attempt_id",
    )
    rows1 = man1.collect()
    s1 = {(r["sample_id"], r["attempt_id"]): r["status"] for r in rows1}
    assert s1 == {(1, 1): "submit_new", (1, 2): "duplicate", (2, 1): "too_many_n",
                  (3, 1): "held_back", (10, 1): "submit_new", (11, 1): "submit_new"}
    # Failed rows keep their reason and carry no decision; decided rows
    # carry reason 'release' and their decision; held rows carry neither.
    rd1 = {(r["sample_id"], r["attempt_id"]): (r["reason"], r["decision"]) for r in rows1}
    assert rd1 == {(1, 1): ("release", "submit_new"), (1, 2): ("duplicate", None),
                   (2, 1): ("too_many_n", None), (3, 1): (None, None),
                   (10, 1): ("release", "submit_new"), (11, 1): ("release", "submit_new")}
    assert {r["duplicate_idx"] for r in man1.filter("status = 'held_back'").collect()} == {None}
    assert [r["sample_id"] for r in held1.collect()] == [3]
    assert rep1.version == 1 and rep1.n_held_back == 1 and rep1.n_submit_new == 3

    # Cycle 2: batch 1 completes (sample 4 arrives) so sample 3 releases;
    # sample 1 resequences with a >10% improvement (26 < 0.9*30 = 27; an
    # exactly-10% attempt would tombstone — the boundary is strict) and
    # samples 10/11 probe it at old=10: 9 is NOT < 0.9*10, 8 is.
    c2 = spark.createDataFrame(
        [(4, 1, 1, 50), (1, 2, 0, 26), (10, 2, 2, 9), (11, 2, 2, 8)],
        "sample_id bigint, attempt_id int, batch int, consensus_n int",
    )
    candidates2 = c2.unionByName(held1.select(*c2.columns))
    arrived2 = arrived1.unionByName(c2.select("sample_id")).distinct()
    man2, held2, rep2 = run_release_cycle(
        spark, candidates2, expected, arrived2, table, rules,
        key="sample_id", quality_col="consensus_n", batch_col="batch",
        tiebreak_col="attempt_id",
    )
    s2 = {r["sample_id"]: (r["status"], r["reason"], r["decision"]) for r in man2.collect()}
    assert s2 == {4: ("submit_new", "release", "submit_new"),
                  3: ("submit_new", "release", "submit_new"),
                  1: ("submit_update", "release", "submit_update"),
                  10: ("tombstone", "release", "tombstone"),
                  11: ("submit_update", "release", "submit_update")}
    assert held2.count() == 0
    assert rep2.version == 2 and rep2.n_tombstoned == 1 and rep2.n_submit_update == 2

    # The published table carries the updated metric, never tombstoned ones.
    final = {r["sample_id"]: r["consensus_n"] for r in read_published(spark, table).collect()}
    assert final == {1: 26, 3: 20, 4: 50, 10: 10, 11: 8}


def test_run_release_cycle_suspicious_batch_boundary(spark, tmp_path):
    """The report's <80% alert (export_spsp_submission.R:335-375): a batch
    releasing exactly 80% of its rows is not suspicious, one below is, and
    a held batch is never counted, however few of its rows would release.
    Tombstoned rows count as released."""
    from harvester_database_and_automation_spark.pipelines.release import run_release_cycle

    table = str(tmp_path / "released")
    # Batch 0: samples 1-5; batch 1: samples 6-7; batch 2: samples 8-9,
    # and sample 9 never arrives, so batch 2 is held.
    expected = spark.createDataFrame(
        [(s, 0) for s in range(1, 6)] + [(6, 1), (7, 1), (8, 2), (9, 2)],
        "sample_id bigint, batch int",
    )
    rules = [("duplicate", F.col("duplicate_idx") > 1), ("too_many_n", F.col("consensus_n") > 90)]
    schema = "sample_id bigint, attempt_id int, batch int, consensus_n int"

    arrived = expected.filter("sample_id <> 9").select("sample_id")

    def cycle(rows):
        cands = spark.createDataFrame(rows, schema)
        manifest, _held, report = run_release_cycle(
            spark, cands, expected, arrived, table, rules,
            key="sample_id", quality_col="consensus_n", batch_col="batch",
            tiebreak_col="attempt_id",
        )
        manifest.unpersist()
        return report

    # Batch 0 releases 4 of 5 rows (exactly 80%), batch 1 releases 1 of 2,
    # and held batch 2's only row would fail.
    rep1 = cycle(
        [(s, 1, 0, 10) for s in range(1, 5)]
        + [(5, 1, 0, 95), (6, 1, 1, 10), (7, 1, 1, 95), (8, 1, 2, 95)]
    )
    assert (rep1.n_candidates, rep1.n_held_back, rep1.n_failed, rep1.n_submit_new) == (8, 1, 2, 5)
    assert rep1.n_suspicious_batches == 1

    # Batch 0's released samples re-arrive no better: all four tombstone,
    # and a batch whose rows all tombstone is not suspicious.
    rep2 = cycle([(s, 2, 0, 10) for s in range(1, 5)])
    assert (rep2.n_tombstoned, rep2.n_suspicious_batches) == (4, 0)


def test_run_release_cycle_payload_cols(spark, tmp_path):
    """payload_cols: wide columns skip the cascade window and re-attach
    only to the accepted delta — published rows carry the RIGHT attempt's
    payload (the accepted (key, tiebreak) pair, not an arbitrary one)."""
    from pyspark.sql import functions as F

    from harvester_database_and_automation_spark.operators.publish import current_version, read_published
    from harvester_database_and_automation_spark.pipelines.release import run_release_cycle

    table = str(tmp_path / "released")
    expected = spark.createDataFrame([(1, 0), (2, 0)], "sample_id bigint, batch int")
    rules = [("duplicate", F.col("duplicate_idx") > 1)]
    # Sample 1 has two attempts with DIFFERENT payloads; the better one
    # (lower consensus_n) must be the published payload.
    c1 = spark.createDataFrame(
        [(1, 1, 0, 30, "SEQ-1-ATT-1"), (1, 2, 0, 20, "SEQ-1-ATT-2"), (2, 1, 0, 50, "SEQ-2")],
        "sample_id bigint, attempt_id int, batch int, consensus_n int, payload string",
    )
    man1, held1, rep1 = run_release_cycle(
        spark, c1, expected, c1.select("sample_id"), table, rules,
        key="sample_id", quality_col="consensus_n", batch_col="batch",
        tiebreak_col="attempt_id",
        released_cols=["sample_id", "consensus_n", "payload"],
        payload_cols=["payload"],
    )
    assert rep1.version == 1 and rep1.n_submit_new == 2
    pub = {r["sample_id"]: (r["consensus_n"], r["payload"])
           for r in read_published(spark, table).collect()}
    assert pub == {1: (20, "SEQ-1-ATT-2"), 2: (50, "SEQ-2")}
    # The cascade never saw the payload column: manifest rows carry it
    # only where the raw candidates do (held rows; none here).
    man_cols = set(man1.columns)
    assert "payload" in man_cols  # held leg unions it in (as NULL here)
    assert man1.filter("status <> 'held_back' AND payload IS NOT NULL").count() == 0

    # Cycle 2: a >=10% improvement updates and must swap in the NEW payload.
    c2 = spark.createDataFrame(
        [(1, 3, 0, 10, "SEQ-1-ATT-3")],
        "sample_id bigint, attempt_id int, batch int, consensus_n int, payload string",
    )
    man2, _h, rep2 = run_release_cycle(
        spark, c2, expected, c1.select("sample_id"), table, rules,
        key="sample_id", quality_col="consensus_n", batch_col="batch",
        tiebreak_col="attempt_id",
        released_cols=["sample_id", "consensus_n", "payload"],
        payload_cols=["payload"],
    )
    assert rep2.n_submit_update == 1
    pub2 = {r["sample_id"]: (r["consensus_n"], r["payload"])
            for r in read_published(spark, table).collect()}
    assert pub2 == {1: (10, "SEQ-1-ATT-3"), 2: (50, "SEQ-2")}


def test_run_release_cycle_rejects_inflating_payload_reattach(spark, tmp_path):
    """The accepted-key uniqueness gate runs pre-join; duplicate (key,
    tiebreak) CANDIDATE rows would re-introduce duplicate keys through the
    payload re-attach join after it (round-10 ADVICE). The post-join count
    must catch the inflation before the merge doubles published rows."""
    import pytest
    from pyspark.sql import functions as F

    from harvester_database_and_automation_spark.pipelines.release import run_release_cycle

    table = str(tmp_path / "released")
    expected = spark.createDataFrame([(1, 0)], "sample_id bigint, batch int")
    rules = [("duplicate", F.col("duplicate_idx") > 1)]
    # Two candidate rows share (sample_id=1, attempt_id=1): the window
    # dedups them to ONE accepted row (gate passes), but the (key,
    # tiebreak) payload join matches BOTH raw rows.
    c1 = spark.createDataFrame(
        [(1, 1, 0, 30, "PAYLOAD-A"), (1, 1, 0, 30, "PAYLOAD-B")],
        "sample_id bigint, attempt_id int, batch int, consensus_n int, payload string",
    )
    with pytest.raises(ValueError, match="re-attach"):
        run_release_cycle(
            spark, c1, expected, c1.select("sample_id"), table, rules,
            key="sample_id", quality_col="consensus_n", batch_col="batch",
            tiebreak_col="attempt_id",
            released_cols=["sample_id", "consensus_n", "payload"],
            payload_cols=["payload"],
        )


def test_run_release_cycle_rejects_duplicate_accepted_keys(spark, tmp_path):
    """Rules that fail to deduplicate (no duplicate_idx rule) must fail
    LOUDLY before the merge, not silently double published rows."""
    import pytest
    from pyspark.sql import functions as F

    from harvester_database_and_automation_spark.pipelines.release import run_release_cycle

    table = str(tmp_path / "released")
    expected = spark.createDataFrame([(1, 0)], "sample_id bigint, batch int")
    c1 = spark.createDataFrame(
        [(1, 1, 0, 30), (1, 2, 0, 20)],
        "sample_id bigint, attempt_id int, batch int, consensus_n int",
    )
    with pytest.raises(ValueError, match="duplicate"):
        run_release_cycle(
            spark, c1, expected, c1.select("sample_id"), table, [],
            key="sample_id", quality_col="consensus_n", batch_col="batch",
            tiebreak_col="attempt_id",
        )


def _persisted_ids(spark) -> set[int]:
    """Persisted RDD ids — compared as sets, not counts: the ContextCleaner
    may drop earlier tests' RDDs meanwhile."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.mark.parametrize("path", ["duplicate_keys", "payload_reattach"])
def test_run_release_cycle_error_paths_release_caches(spark, tmp_path, path):
    """Both hard-error exits of run_release_cycle leave the published
    marker and the session's persisted-RDD count where they were: the
    gates fail before the publish, and the cycle's caches (the manifest
    and the payload re-attach) are released on the error path, not only
    on success."""
    from harvester_database_and_automation_spark.pipelines.release import run_release_cycle

    table = str(tmp_path / "released")
    # Sample 1 (batch 0) releases in the first cycle; sample 2 (batch 1)
    # reaches the failing gate in the second.
    expected = spark.createDataFrame([(1, 0), (2, 1)], "sample_id bigint, batch int")
    dedup = [("duplicate", F.col("duplicate_idx") > 1)]
    if path == "duplicate_keys":
        schema = "sample_id bigint, attempt_id int, batch int, consensus_n int"
        c0 = [(1, 1, 0, 30)]
        # No duplicate_idx rule: both attempts of sample 2 are accepted.
        c1, rules, kwargs = [(2, 1, 1, 30), (2, 2, 1, 20)], [], {}
    else:
        schema = "sample_id bigint, attempt_id int, batch int, consensus_n int, payload string"
        c0 = [(1, 1, 0, 30, "PAYLOAD-1")]
        # Duplicate (key, tiebreak) rows pass the gate, then inflate the
        # payload re-attach join.
        c1, rules = [(2, 1, 1, 30, "PAYLOAD-A"), (2, 1, 1, 30, "PAYLOAD-B")], dedup
        kwargs = {
            "released_cols": ["sample_id", "consensus_n", "payload"],
            "payload_cols": ["payload"],
        }

    def cycle(rows, rules):
        cands = spark.createDataFrame(rows, schema)
        return run_release_cycle(
            spark, cands, expected, cands.select("sample_id"), table, rules,
            key="sample_id", quality_col="consensus_n", batch_col="batch",
            tiebreak_col="attempt_id", **kwargs,
        )

    manifest, _, _ = cycle(c0, dedup)
    manifest.unpersist()
    version = current_version(table)
    assert version is not None
    before = _persisted_ids(spark)
    with pytest.raises(ValueError, match="duplicate" if path == "duplicate_keys" else "re-attach"):
        cycle(c1, rules)
    assert current_version(table) == version
    assert _persisted_ids(spark) - before == set()


def test_run_release_cycle_success_leaves_only_the_manifest(spark, tmp_path):
    """A successful cycle leaves exactly one more persisted RDD, the
    returned manifest, and none once the caller unpersists it: every other
    cache, the payload re-attach included, is released before the return.
    Two cycles, so the second reads a published released table."""
    from harvester_database_and_automation_spark.pipelines.release import run_release_cycle

    table = str(tmp_path / "released")
    expected = spark.createDataFrame([(1, 0), (2, 0)], "sample_id bigint, batch int")
    schema = "sample_id bigint, attempt_id int, batch int, consensus_n int, payload string"
    for rows in ([(1, 1, 0, 30, "P-1"), (2, 1, 0, 50, "P-2")], [(1, 2, 0, 10, "P-1b")]):
        cands = spark.createDataFrame(rows, schema)
        before = _persisted_ids(spark)
        manifest, _held, _rep = run_release_cycle(
            spark, cands, expected, expected.select("sample_id"), table,
            [("duplicate", F.col("duplicate_idx") > 1)],
            key="sample_id", quality_col="consensus_n", batch_col="batch",
            tiebreak_col="attempt_id",
            released_cols=["sample_id", "consensus_n", "payload"],
            payload_cols=["payload"],
        )
        assert len(_persisted_ids(spark) - before) == 1
        manifest.unpersist()
        assert _persisted_ids(spark) - before == set()


def test_run_feed_import_success_leaves_no_persisted_rdd(spark, tmp_path):
    """A successful import, the first and a later one, leaves no persisted
    RDD behind: the parse, classified and annotated caches are all
    released before it returns."""
    table = str(tmp_path / "seq_table")
    feeds = [
        [{"seq_id": "a", "country": "CH", "sequence": "ACGG"}, {"seq_id": "b"}],
        [{"seq_id": "a", "country": "DE", "sequence": "GGGG"},
         {"seq_id": "c", "country": "CH", "sequence": "AC"}],
    ]
    for i, rows in enumerate(feeds):
        feed = str(tmp_path / f"feed{i}.jsonl")
        _write_feed(feed, rows)
        with open(feed, "a", encoding="utf-8") as fh:
            fh.write("{not json\n")
        before = _persisted_ids(spark)
        rep = _run(spark, feed, table)
        assert (rep.version, rep.n_corrupt, rep.n_quarantined) == (i + 1, 1, 1 - i)
        assert _persisted_ids(spark) - before == set()


def test_run_feed_import_error_path_releases_caches(spark, tmp_path):
    """An annotate stage that raises leaves the published marker and the
    session's persisted-RDD count where they were: nothing publishes, and
    the parse cache and the classified frame are released on the error
    path, not only on success."""
    table = str(tmp_path / "seq_table")
    feed1 = str(tmp_path / "feed1.jsonl")
    _write_feed(feed1, [{"seq_id": "a", "country": "CH", "sequence": "ACGG"}])
    assert _run(spark, feed1, table).version == 1
    feed2 = str(tmp_path / "feed2.jsonl")
    _write_feed(feed2, [{"seq_id": "a", "country": "CH", "sequence": "GGGG"}])

    def failing_annotate(df):
        raise RuntimeError("annotation tool crashed")

    before = _persisted_ids(spark)
    with pytest.raises(RuntimeError, match="annotation tool crashed"):
        run_feed_import(
            spark, feed2, table, FEED_SCHEMA,
            keys=["seq_id"], metadata_cols=["country"], payload_cols=["sequence"],
            checks={"country_required": not_null("country")},
            annotate=failing_annotate,
        )
    assert current_version(table) == 1
    assert _persisted_ids(spark) - before == set()


def test_xz_feed_roundtrip_releases_parse_cache_on_corrupt_line(spark, sf_dir, monkeypatch):
    """A corrupt line in the spool makes ``xz_feed_roundtrip`` raise, and
    the cached parse is released on that error path too."""
    from harvester_database_and_automation_spark.plans.external_integration import (
        xz_feed_roundtrip,
    )
    from harvester_database_and_automation_spark.sources import jsonl

    spool = jsonl.spool_xz_jsonl

    def spool_with_corrupt_line(xz_path, spool_dir, **kw):
        paths = spool(xz_path, spool_dir, **kw)
        with open(paths[-1], "ab") as fh:
            fh.write(b"{not json\n")
        return paths

    monkeypatch.setattr(jsonl, "spool_xz_jsonl", spool_with_corrupt_line)
    before = _persisted_ids(spark)
    with pytest.raises(ValueError, match="1 corrupt lines"):
        xz_feed_roundtrip(spark, sf_dir)
    assert _persisted_ids(spark) - before == set()


def test_http_fetch_roundtrip_releases_parse_cache_on_corrupt_line(spark, sf_dir, monkeypatch):
    """A corrupt line in the fetched file makes ``http_fetch_roundtrip``
    raise, and the cached parse is released on that error path too."""
    from harvester_database_and_automation_spark.plans.external_integration import (
        http_fetch_roundtrip,
    )
    from harvester_database_and_automation_spark.sources import http

    fetch = http.fetch_to_file

    def fetch_with_corrupt_line(url, dest, **kw):
        result = fetch(url, dest, **kw)
        with open(dest, "ab") as fh:
            fh.write(b"{not json\n")
        return result

    monkeypatch.setattr(http, "fetch_to_file", fetch_with_corrupt_line)
    before = _persisted_ids(spark)
    with pytest.raises(ValueError, match="1 corrupt lines"):
        http_fetch_roundtrip(spark, sf_dir)
    assert _persisted_ids(spark) - before == set()


def test_package_runs_no_thread_pool():
    """Every pipeline runs its Spark actions in program order on the
    caller's thread; no module under the package imports
    ``concurrent.futures`` or constructs a ``ThreadPoolExecutor``. The
    ROADMAP rule (aim 2) stands behind it: new concurrency needs a
    measured win and a soak test. A thread that serves a loopback endpoint,
    such as the ``http_fetch_roundtrip`` server thread, is not a pool and
    stays allowed."""
    import ast
    from pathlib import Path

    import harvester_database_and_automation_spark as pkg

    root = Path(pkg.__file__).parent
    offenders = []
    for p in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            elif isinstance(node, ast.Call):
                names = [getattr(node.func, "id", getattr(node.func, "attr", ""))]
            else:
                continue
            if any(n.startswith("concurrent") or n == "ThreadPoolExecutor" for n in names):
                offenders.append(f"{p.relative_to(root)}:{node.lineno}")
    assert offenders == []


def test_package_has_no_test_only_definitions():
    """Every top-level ``def``/``class`` in the package is used by name
    from non-test code: the package, ``scripts/``, ``perfbench/`` outside
    its tests, ``bench.py`` or ``__spark_entry__.py``. Registry entries
    (``@register``, ``@LAYER.register``) are the roots. A use inside the
    definition's own body does not count, and neither does a use inside
    another definition that fails the rule, so the scan repeats until it
    finds nothing new. Imports, ``__init__`` re-exports (``__all__``
    strings) and docstrings are not uses. ROADMAP aim 2: an operator that
    no certified path runs has no oracle behind it, so it is deleted
    rather than kept alive by its unit tests."""
    import ast
    from collections import defaultdict
    from pathlib import Path

    import harvester_database_and_automation_spark as pkg

    keep = {
        # The documented cleanup of a failed publish's orphan version
        # directory (publish_versioned docstring).
        "vacuum",
        # The recovery action of the versioned-directory marker protocol.
        "rollback",
        # The reference implementation tests/test_properties.py checks
        # group_quantiles_binned against.
        "group_quantiles_exact",
    }
    pkg_root = Path(pkg.__file__).parent
    repo = pkg_root.parent
    perfbench = repo / "perfbench"
    files = [
        *pkg_root.rglob("*.py"),
        *(repo / "scripts").rglob("*.py"),
        *(p for p in perfbench.rglob("*.py") if "tests" not in p.relative_to(perfbench).parts),
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]
    spans = {}  # (path, name) -> (first line, last line)
    uses = defaultdict(list)  # name -> [(path, line)]
    for path in files:
        tree = ast.parse(path.read_text(encoding="utf-8"))
        if path.is_relative_to(pkg_root):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and not any(
                    "register" in ast.unparse(d) for d in node.decorator_list
                ):
                    spans[(path, node.name)] = (node.lineno, node.end_lineno)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                uses[node.id].append((path, node.lineno))
            elif isinstance(node, ast.Attribute):
                uses[node.attr].append((path, node.lineno))

    def inside(key, path, line):
        first, last = spans[key]
        return key[0] == path and first <= line <= last

    dead: set = set()
    while True:
        newly = {
            key
            for key in spans.keys() - dead
            if all(
                inside(key, path, line) or any(inside(d, path, line) for d in dead)
                for path, line in uses[key[1]]
            )
        }
        if not newly:
            break
        dead |= newly
    found = sorted(f"{path.relative_to(repo)}::{name}" for path, name in dead)
    assert sorted(name for _, name in dead) == sorted(keep), found
