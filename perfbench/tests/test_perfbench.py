"""Tests of the benchmark's own machinery: the seeded churn generator, the
correctness checks that feed ``failed``, and job counting by id range.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import dataclasses
import filecmp
import os
import time

import churn
import workloads
from spans import Tracer, job_counter


def _feeds(corpus_dir: str, out: str, seed: int, days: int = 3) -> list[str]:
    model = churn.ChurnModel(corpus_dir, 2000, seed)
    return [model.next_day(out).feed_dir for _ in range(days)]


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    files = sorted(os.listdir(a))
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    return not (cmp.left_only or cmp.right_only or mismatch or errors)


def test_same_seed_gives_byte_identical_feeds(corpus_dir, tmp_path):
    a = _feeds(corpus_dir, str(tmp_path / "a"), seed=7)
    b = _feeds(corpus_dir, str(tmp_path / "b"), seed=7)
    assert all(_same_tree(x, y) for x, y in zip(a, b))


def test_different_seeds_give_different_feeds(corpus_dir, tmp_path):
    a = _feeds(corpus_dir, str(tmp_path / "a"), seed=7)
    b = _feeds(corpus_dir, str(tmp_path / "b"), seed=8)
    assert not any(_same_tree(x, y) for x, y in zip(a, b))


def test_planted_churn_covers_every_change_class(corpus_dir, tmp_path):
    model = churn.ChurnModel(corpus_dir, 2000, seed=3)
    day = model.next_day(str(tmp_path))
    f = day.feed
    assert min(f.n_insert, f.n_delete, f.n_metadata_changed, f.n_payload_changed,
               f.n_quarantined, f.n_corrupt) >= 1
    assert f.n_annotated == f.n_insert + f.n_payload_changed
    assert (f.n_quarantined + f.n_corrupt) / day.feed_rows < 0.05  # under the abort gate


def _ctx(spark, corpus_dir, tmp_path, seed=1, oracle=None):
    return workloads.Ctx(spark, corpus_dir, str(tmp_path), seed,
                         Tracer(spark, enabled=False), oracle)


def _daily(monkeypatch):
    wl = workloads.DailyCycles()
    monkeypatch.setattr(wl, "FEED_ROWS", 2000)
    return wl


def test_planted_counts_match_engine_reports(spark, corpus_dir, tmp_path, monkeypatch):
    wl = _daily(monkeypatch)
    ctx = _ctx(spark, corpus_dir, tmp_path)
    wl.prepare(ctx)
    wl.warm(ctx)
    for _ in range(2):
        wl.step(ctx)
    assert ctx.failures == []
    assert ctx.checks == wl.WARM_DAYS + 2
    assert all(0 < s < 0.1 for s in wl.annotated_share)


def test_wrong_report_count_is_a_failure(spark, corpus_dir, tmp_path, monkeypatch):
    wl = _daily(monkeypatch)
    ctx = _ctx(spark, corpus_dir, tmp_path)
    wl.prepare(ctx)
    wl.warm(ctx)
    assert ctx.failures == []
    real_next = wl.model.next_day

    def planted_wrong(out_dir):
        day = real_next(out_dir)
        feed = dataclasses.replace(day.feed, n_insert=day.feed.n_insert + 1)
        return dataclasses.replace(day, feed=feed)

    monkeypatch.setattr(wl.model, "next_day", planted_wrong)
    wl.step(ctx)
    assert len(ctx.failures) == 1 and "n_insert" in ctx.failures[0]


def test_wrong_result_digest_is_a_failure(spark, corpus_dir, tmp_path, monkeypatch):
    from harvester_database_and_automation_spark.oracle_cache import OracleCache

    name = "regional_revenue"
    oracle = OracleCache(str(tmp_path / "oracle"))
    loop = workloads.QueryLoop((name,))
    ctx = _ctx(spark, corpus_dir, tmp_path, oracle=oracle)
    loop.prepare(ctx)
    loop.warm(ctx)
    assert ctx.failures == []

    spec = workloads.QUERIES[name]
    wrong = dataclasses.replace(spec, fn=lambda s, d: spec.fn(s, d).limit(1))
    monkeypatch.setitem(workloads.QUERIES, name, wrong)
    loop.warm(ctx)
    assert len(ctx.failures) == 1 and name in ctx.failures[0]


def test_feed_import_jobs_counted_by_id_range(spark, corpus_dir, tmp_path, monkeypatch):
    """The import's thread pool submits jobs outside the caller's job
    group; the job-id range sees all of them."""
    wl = _daily(monkeypatch)
    ctx = _ctx(spark, corpus_dir, tmp_path)
    wl.prepare(ctx)
    wl.warm(ctx)
    day = wl.model.next_day(os.path.join(wl.root, "feeds"))

    from harvester_database_and_automation_spark.pipelines.feed_import import run_feed_import
    from harvester_database_and_automation_spark.sources.quarantine import not_null

    sc = spark.sparkContext
    jobs = job_counter(spark)
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("perfbench-test", "feed import")
    try:
        j0 = jobs()
        run_feed_import(
            spark, day.feed_dir, os.path.join(wl.root, "seq_table"), wl._schema(),
            keys=["doc_id"], metadata_cols=["src"], payload_cols=["payload"],
            checks={"src_required": not_null("src")}, annotate=wl._annotate(day.index),
            required_fields={"doc_id", "payload"},
        )
        j1 = jobs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # The status store is filled from the listener bus, asynchronously.
    deadline = time.monotonic() + 30
    while tracker.getJobInfo(j1 - 1) is None and time.monotonic() < deadline:
        time.sleep(0.05)
    grouped = set(tracker.getJobIdsForGroup("perfbench-test"))
    ungrouped = set(tracker.getJobIdsForGroup()) - ungrouped_before
    assert grouped | ungrouped == set(range(j0, j1))
    assert len(grouped) < j1 - j0  # the job group alone misses the pool's jobs


def test_metrics_match_benchmark_json():
    import json

    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
