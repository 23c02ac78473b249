"""The release rule-cascade — the Spark re-design of the SPSP submission
pipeline's core (SURVEY.md §3.2; database/R/export_spsp_submission.R:
142-375).

One DAG: per-key window dedup (duplicate_idx), a single when-cascade that
assigns exactly ONE release/fail reason per row (first matching rule
wins, as case_when does), and the per-batch QC rollup with frac_batch —
the aggregate-of-aggregate share (export_spsp_submission.R:308-329).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

REASON_RELEASE = "release"


def build_release_plan(
    df: DataFrame,
    key_col: str,
    quality_col: str,
    batch_col: str,
    rules: list[tuple[str, Column]],
    tiebreak_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Annotate rows with (duplicate_idx, reason) and build the QC report.

    ``rules`` is an ordered list of (fail_reason, predicate) — the first
    predicate that holds names the reason; rows matching none release.
    The duplicate_idx window (best quality first, deterministic tie-break)
    is available to the rules, so "is a worse duplicate" is itself a rule.

    Returns (annotated, report): annotated carries every input column plus
    duplicate_idx and reason; report aggregates count and frac_batch per
    (batch, reason).
    """
    order = [F.col(quality_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    annotated = df.withColumn("duplicate_idx", F.row_number().over(w))

    reason: Column = F.lit(REASON_RELEASE)
    for name, predicate in reversed(rules):
        reason = F.when(predicate, name).otherwise(reason)
    annotated = annotated.withColumn("reason", reason)

    batch_totals = Window.partitionBy(batch_col)
    report = (
        annotated.groupBy(batch_col, "reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("frac_batch", F.col("n") / F.sum("n").over(batch_totals))
    )
    return annotated, report


def resequencing_decisions(
    released: DataFrame,
    incoming: DataFrame,
    key: str,
    n_col: str,
    ratio: float = 0.9,
) -> DataFrame:
    """Resequencing gate (database/R/export_spsp_submission.R:427-516,
    acceptance rule at :476): a re-sequenced sample is submitted as an
    update only when its quality metric (consensus N-count — lower is
    better) improves on the best already-released attempt by at least
    ``1 - ratio`` (default ≥10%, i.e. ``new < 0.9 * best_old``); otherwise
    it is tombstoned into notes. Samples never released submit as new.

    Adds a ``decision`` column ∈ {submit_new, submit_update, tombstone};
    one broadcast-size aggregation of the released side, no payloads
    shuffled.
    """
    best = released.groupBy(key).agg(F.min(n_col).alias("_best_n"))
    out = incoming.join(best, key, "left")
    decision = (
        F.when(F.col("_best_n").isNull(), "submit_new")
        .when(F.col(n_col) < ratio * F.col("_best_n"), "submit_update")
        .otherwise("tombstone")
    )
    return out.withColumn("decision", decision).drop("_best_n")


@dataclass
class ReleaseCycleReport:
    """Run summary for one release cycle — the structured stand-in for the
    reference's email report (export_spsp_submission.R:308-420)."""

    version: int
    n_candidates: int
    n_held_back: int
    n_failed: int
    n_submit_new: int
    n_submit_update: int
    n_tombstoned: int
    n_suspicious_batches: int

    @property
    def n_released(self) -> int:
        return self.n_submit_new + self.n_submit_update


def run_release_cycle(
    spark: SparkSession,
    candidates: DataFrame,
    expected: DataFrame,
    arrived: DataFrame,
    table_dir: str,
    rules: list[tuple[str, Column]],
    key: str,
    quality_col: str,
    batch_col: str,
    tiebreak_col: str,
    released_cols: list[str] | None = None,
    payload_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame, ReleaseCycleReport]:
    """One cycle of the SPSP release pipeline (SURVEY.md §3.2, the `main`
    flow of database/R/export_spsp_submission.R:20-57), composed from the
    library stages in this module:

    1. ``batch_completeness`` (utility.R:1107-1144): candidates whose
       batch's expected sampleset has not fully ``arrived`` are HELD BACK
       this cycle (returned separately so the caller can re-enqueue them
       next cycle — the reference simply leaves them unreleased until the
       next run sees the complete batch).
    2. ``build_release_plan``: per-``key`` duplicate_idx window + the
       ordered fail-reason cascade (export_spsp_submission.R:244-273);
       rows matching no rule are release-eligible.
    3. ``resequencing_decisions`` (export_spsp_submission.R:427-516):
       eligible rows face the already-released table — never released →
       submit_new; ≥10% quality improvement on the best released attempt
       → submit_update; otherwise tombstone.
    4. Accepted rows (submit_new/submit_update) merge-upsert into the
       released table, published as the next atomic version (M4 — the
       reference stamps spsp_uploaded_at via record_spsp_submission.R).

    Returns ``(manifest, held_back, report)``. ``manifest`` is one row per
    candidate with ``duplicate_idx``, ``reason``, ``decision`` and a final
    ``status`` — a fail reason, a resequencing decision, or ``held_back``.
    Failed rows carry a NULL decision; held rows carry NULL
    duplicate_idx, reason and decision (they never entered the window).
    The manifest comes back cached: the caller unpersists it.
    ``held_back`` is the raw candidate rows to re-enqueue next cycle.

    ``released_cols`` names the columns the released table carries
    (default ``[key, quality_col]`` — the minimal resequencing state; a
    production corpus passes its full metadata+payload column list). The
    merge is payload-safe either way: :func:`merge_delta` anti-joins the
    stored table against a keys-only tombstone set, so released payloads
    never enter an exchange (the release leg of
    ``scripts/wide_row_audit.py`` measures this).

    ``payload_cols`` names wide candidate columns the ``rules`` do NOT
    read (the 30 KB consensus sequence). They are dropped BEFORE the
    cascade — the duplicate_idx window is a shuffle on ``key``, and
    letting payloads ride through it is exactly the payload-with-metadata
    exchange SURVEY §7 forbids — and re-attached only to the accepted
    delta by a (key, tiebreak) join the measured-delta broadcast hint
    keeps map-side. The re-attach identifies the accepted candidate row
    by ``(key, tiebreak_col)`` — the same pair the duplicate window's
    deterministic order already requires to be unique per candidate
    (duplicate ``(key, tiebreak)`` rows would make the window itself
    nondeterministic). With ``payload_cols`` set, the manifest's
    failed/decided rows carry NULL payload columns (held rows keep
    theirs: they re-enqueue as full candidates next cycle).

    Accepted keys must be UNIQUE when they reach the merge — normally the
    caller's ``rules`` include a ``duplicate_idx > 1`` rule so only the
    best attempt per key survives the cascade. Misconfigured rules are a
    hard error here (one count/distinct aggregation over the delta-sized
    accepted set), not silent row doubling in the published table. The
    same aggregation measures the accepted delta's key bytes, so the
    merge's anti-join is broadcast-HINTED at plan time whenever the delta
    is provably bounded (``operators.merge.fits_broadcast``) — AQE's own
    flip happens only after the stored side's map stage has written its
    shuffle output (operators/merge.py doctrine).

    Scale shape: completeness is two key-level aggregations (no payloads);
    the cascade is one window over (key) partitions plus a ``when`` chain;
    the resequencing gate joins against a key+metric aggregate of the
    released table — never its payloads; the merge streams the released
    table map-side past the hinted delta key set. The only driver-side
    results are one-row aggregates whatever the data size: the gate's
    stats, the re-attach count, and the report — a per-batch, then
    over-batches rollup of the cached manifest that returns ONE row.
    """
    from harvester_database_and_automation_spark.operators.merge import (
        fits_broadcast,
        key_bytes,
        merge_delta,
    )
    from harvester_database_and_automation_spark.operators.publish import (
        current_version,
        publish_versioned,
        read_published,
    )

    comp = batch_completeness(expected, arrived, key, batch_col)
    flagged = candidates.join(
        F.broadcast(comp.select(batch_col, "is_complete")), batch_col, "left"
    )
    complete = F.coalesce("is_complete", F.lit(False))
    held = flagged.filter(~complete).drop("is_complete")
    proc = flagged.filter(complete).drop("is_complete")
    if payload_cols:
        # Payload-skinny cascade: the duplicate_idx window shuffles on
        # key — keep the wide columns out of that exchange (docstring;
        # they re-attach to the accepted delta below).
        proc = proc.drop(*payload_cols)
    annotated, _ = build_release_plan(
        proc, key, quality_col, batch_col, rules, tiebreak_col=tiebreak_col
    )

    if released_cols is None:
        released_cols = [key, quality_col]
    if current_version(table_dir) is None:
        # Derive the empty table's schema from the candidates themselves
        # (round-9 ADVICE): a hardcoded type string breaks string-keyed
        # or differently-typed corpora on the first cycle's unionByName
        # under ANSI.
        released_cur = spark.createDataFrame([], candidates.select(*released_cols).schema)
    else:
        released_cur = read_published(spark, table_dir)

    # The one cached frame of the cycle: every candidate with its single
    # status. The gate, the merge and the report all read it; the gate's
    # aggregation fills it. Failed rows keep their reason and get a NULL
    # decision; held rows carry NULL duplicate_idx, reason and decision.
    manifest = (
        resequencing_decisions(released_cur, annotated, key, quality_col)
        .withColumn("decision", F.when(F.col("reason") == REASON_RELEASE, F.col("decision")))
        .withColumn("status", F.coalesce("decision", "reason"))
        .unionByName(held.withColumn("status", F.lit("held_back")), allowMissingColumns=True)
        .cache()
    )
    cached = [manifest]  # released in the one `finally` below, bar the manifest
    try:
        accepted = manifest.filter(F.col("decision").isin("submit_new", "submit_update"))
        # ONE delta-sized aggregation does three jobs: the loud uniqueness
        # gate (merge_delta doubles rows on duplicate keys — fail instead),
        # the measured delta count, and the delta's key-byte estimate that
        # decides the plan-time broadcast hint below.
        stats = accepted.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(key)).alias("n_keys"),
            F.coalesce(F.sum(key_bytes([key])), F.lit(0)).alias("key_bytes"),
        ).collect()[0]
        if stats["n"] != stats["n_keys"]:
            raise ValueError(
                f"run_release_cycle: accepted rows carry duplicate {key!r} values "
                f"({stats['n']} rows over {stats['n_keys']} keys) — the rules must "
                "fail worse duplicates (add a duplicate_idx > 1 rule) before rows "
                "reach the merge; merging would silently double published rows"
            )
        hint = fits_broadcast(stats["n"], stats["key_bytes"])
        to_release = accepted
        if payload_cols:
            # Re-attach payloads to the accepted delta only: the stored
            # payload frame streams map-side past the broadcast-hinted
            # accepted (key, tiebreak) pairs — the payload bytes' ONLY join
            # in the whole cycle, and it never enters an exchange.
            accepted = accepted.drop(*payload_cols)  # NULL in the manifest
            payloads = candidates.select(key, tiebreak_col, *payload_cols)
            to_release = payloads.join(
                F.broadcast(accepted) if hint else accepted,
                on=[key, tiebreak_col],
            ).cache()
            cached.append(to_release)
            # The uniqueness gate above ran PRE-join; duplicate (key,
            # tiebreak) candidate rows would re-inflate the delta HERE and
            # silently double published rows (round-10 ADVICE), and a
            # candidate row missing its payload twin would silently DROP an
            # accepted release. Both are hard errors: the re-attach must be
            # exactly 1:1 with the gated accepted set. One delta-sized count
            # against the cached join (the merge below re-reads it).
            n_attached = to_release.count()
            if n_attached != stats["n"]:
                raise ValueError(
                    f"run_release_cycle: payload re-attach changed the accepted "
                    f"delta from {stats['n']} to {n_attached} rows — candidate "
                    f"({key}, {tiebreak_col}) pairs must be unique and complete; "
                    "merging would corrupt the published table"
                )
        # Delta merge: the released table streams map-side past the accepted
        # key set — no full-outer exchange of the accumulated table. The hint
        # is plan-time because the delta is MEASURED above; AQE's own
        # broadcast flip comes only after the stored side's (potentially
        # payload-carrying) map stage already wrote shuffle output.
        merged = merge_delta(
            released_cur,
            to_release.select(*released_cols),
            [key],
            broadcast_touched=hint,
        )
        version = publish_versioned(merged, table_dir)

        # Every report field from one two-level rollup of the manifest: per
        # batch, then over the batches — one row reaches the driver. Held
        # rows carry a NULL reason, so a held batch (completeness is decided
        # per batch) has no cascade rows and is never suspicious.
        decision = F.col("decision")
        per_batch = manifest.groupBy(batch_col).agg(
            F.count(F.lit(1)).alias("n"),
            F.count("reason").alias("n_cascade"),
            F.count(decision).alias("n_decided"),  # submit_new/_update + tombstone
            *[F.count(F.when(decision == d, 1)).alias(d)
              for d in ("submit_new", "submit_update", "tombstone")],
        )
        rate = F.try_divide("n_decided", "n_cascade")
        totals = per_batch.agg(
            F.sum("n").alias("n_candidates"),
            F.sum(F.col("n") - F.col("n_cascade")).alias("n_held_back"),
            F.sum(F.col("n_cascade") - F.col("n_decided")).alias("n_failed"),
            F.sum("submit_new").alias("n_submit_new"),
            F.sum("submit_update").alias("n_submit_update"),
            F.sum("tombstone").alias("n_tombstoned"),
            # The reference's <80% alert (export_spsp_submission.R:335-375).
            F.count(F.when(rate < 0.8, 1)).alias("n_suspicious_batches"),
        ).first()
        report = ReleaseCycleReport(
            version=version, **{k: v or 0 for k, v in totals.asDict().items()}
        )
        # The returned manifest stays cached — the CALLER unpersists it
        # after consuming (release_export_replay does, after its TSV export).
        cached.remove(manifest)
    finally:
        for frame in reversed(cached):
            frame.unpersist()
    return manifest, held, report


def batch_completeness(
    expected: DataFrame,
    arrived: DataFrame,
    key: str,
    batch_col: str,
) -> DataFrame:
    """Batch-completeness reconciliation (database/R/utility.R:1107-1144):
    the release pipeline only ships batches whose expected sample list (the
    V-pipe sampleset) fully arrived. Per batch: expected/arrived/missing
    counts plus is_complete — missing keys come from one left-anti join of
    the expected list against arrivals."""
    exp_counts = expected.groupBy(batch_col).agg(F.count(F.lit(1)).alias("n_expected"))
    missing = expected.join(arrived.select(key), key, "left_anti")
    miss_counts = missing.groupBy(batch_col).agg(F.count(F.lit(1)).alias("n_missing"))
    return (
        exp_counts.join(miss_counts, batch_col, "left")
        .select(
            batch_col,
            "n_expected",
            F.coalesce("n_missing", F.lit(0)).alias("n_missing"),
        )
        .withColumn("n_arrived", F.col("n_expected") - F.col("n_missing"))
        .withColumn("is_complete", F.col("n_missing") == 0)
    )
