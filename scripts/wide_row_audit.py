#!/usr/bin/env python
"""Wide-row shuffle stress — WIDE_ROW_BYTES.json (r8 verdict stretch #7,
release leg added per r9 verdict ask #3).

The reference's genomes are ~30 KB text cells, and its risk register's
first rule is: never shuffle payloads with metadata (SURVEY §7;
refactoring_v3_schema.sql keeps sequences in their own table). This
audit PROVES the two write-path pipelines obey that rule as data, not
prose, by running each twice — once with ~60 B payloads, once with the
same rows padded to 30 KB — and recording per-cycle shuffle bytes from
the status API (`observe.measure`):

- **feed_import leg**: the two-cycle import DAG (insert/delete/metadata/
  payload/unchanged mix keyed on doc_id % 10, like feed_import_replay).
  Skinny shape = classify_changes (payloads hashed map-side, only the
  hash joins) + measured-delta broadcast hints + merge_delta.
- **release leg**: two release cycles (bulk release, then a steady-state
  mix of resequencing updates / tombstones / late inserts) with the
  30 KB consensus payload carried INTO the published released table.
  Skinny shape = run_release_cycle(payload_cols=...): the duplicate_idx
  window and the whole cascade run on skinny columns, payloads re-attach
  to the accepted delta via the broadcast-hinted (key, tiebreak) join,
  and merge_delta keeps stored payloads out of every exchange.
- **streaming_upsert leg** (round-10 verdict ask #3): two availableNow
  polls of stream_upsert_into_published — a bulk-backlog micro-batch,
  then a steady-state micro-batch of payload updates / metadata updates /
  late inserts merged against the published table. Skinny shape = the
  sink's measured micro-batch broadcast hint + merge_delta: the published
  payloads stream map-side past the batch's key set, and batch payloads
  ride file-read -> union -> publish without an exchange.

If a pipeline shuffles only keys + hashes + metadata, the steady-state
cycle's shuffle volume is the SAME at both widths and a tiny fraction of
the payload volume. A payload-proportional exchange anywhere in the hot
path makes the wide run's shuffle explode ~500x and fails the gate.

Cycle 1 is the bulk load; at this sf its delta key set still broadcasts,
so it too stays skinny — at a true 100 TB first run the semi-join
degrades to one sorted exchange of the feed, a one-off documented in
merge_delta's docstring. The GATE is on cycle 2, the shape every daily
run after the first has.

Usage: SPARK_GRAFT_SF_DIR=... python scripts/wide_row_audit.py
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

os.environ.setdefault("SPARK_UI", "1")

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from harvester_database_and_automation_spark import observe  # noqa: E402
from harvester_database_and_automation_spark.catalog import load_table  # noqa: E402
from harvester_database_and_automation_spark.pipelines.feed_import import run_feed_import  # noqa: E402
from harvester_database_and_automation_spark.pipelines.release import run_release_cycle  # noqa: E402
from harvester_database_and_automation_spark.plans.shared import cleanup_scratch, scratch_dir  # noqa: E402
from harvester_database_and_automation_spark.session import get_spark  # noqa: E402
from harvester_database_and_automation_spark.sources.quarantine import not_null  # noqa: E402
from scripts.release_gate import git_dirty, git_head  # noqa: E402

WIDE_BYTES = 30 * 1024
# Gates on the steady-state cycle, both relative to the payload volume
# (a raw wide/narrow ratio is unstable when the narrow baseline is
# framework-noise kilobytes): total shuffle must stay under 1% of the
# payload bytes, and widening payloads 500x must add under 0.5% — i.e.
# the exchanges move keys+hashes+metadata, not genomes. A single
# payload-carrying exchange fails both by ~two orders of magnitude.
GATE_PAYLOAD_FRAC = 0.01    # wide cycle-2 shuffle / wide payload volume
GATE_EXCESS_FRAC = 0.005    # (wide - narrow cycle-2 shuffle) / payload volume


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("wide-row-audit")
    head, dirty = git_head(), git_dirty()

    def measure(label: str, fn) -> dict:
        with observe.measure(spark, f"wide_row_audit:{label}") as m:
            fn()
        row = {
            "input_mb": round(m["input_bytes"] / 1e6, 2),
            "shuffle_write_mb": round(m["shuffle_write_bytes"] / 1e6, 2),
            "n_stages": m["stages"],
        }
        print(f"  {label}: {row}")
        return row

    # ---------------------------------------------------------------- feed
    feed_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("src", T.StringType()),
            T.StructField("payload", T.StringType()),
        ]
    )

    def feed_leg(wide: bool) -> dict:
        label = "wide" if wide else "narrow"
        root = scratch_dir(prefix=f"widerow_feed_{label}_")
        table = os.path.join(root, "tbl")
        base = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("source").alias("src"),
            F.regexp_replace(F.lower("text"), "[^a-z]", "").alias("payload"),
            (F.col("doc_id") % 10).alias("m0"),
        )
        if wide:
            base = base.withColumn("payload", F.rpad("payload", WIDE_BYTES, "acgtn"))
        f1 = os.path.join(root, "feed1")
        base.filter(F.col("m0") != 0).drop("m0").write.json(f1)
        f2 = os.path.join(root, "feed2")
        (
            base.filter(F.col("m0") != 1)
            .withColumn("src", F.when(F.col("m0") == 2, F.lit("UPDATED")).otherwise(F.col("src")))
            .withColumn(
                "payload",
                F.when(F.col("m0") == 3, F.concat("payload", F.lit("aaa"))).otherwise(
                    F.col("payload")
                ),
            )
            .drop("m0")
            .write.json(f2)
        )
        n_docs = base.count()
        print(f"feed/{label}: {n_docs} docs")
        cycles = {}
        for cyc, feed in (("cycle1_bulk_load", f1), ("cycle2_steady_state", f2)):
            cycles[cyc] = measure(
                f"feed/{label}/{cyc}",
                lambda f=feed: run_feed_import(
                    spark, f, table, feed_schema,
                    keys=["doc_id"], metadata_cols=["src"], payload_cols=["payload"],
                    checks={"src_required": not_null("src")},
                    required_fields={"doc_id", "payload"},
                ),
            )
        return {"n_docs": n_docs, **cycles}

    # ------------------------------------------------------------- release
    def release_leg(wide: bool) -> dict:
        label = "wide" if wide else "narrow"
        root = scratch_dir(prefix=f"widerow_rel_{label}_")
        table = os.path.join(root, "rel_tbl")
        base = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("bigint").alias("sample_id"),
            (F.col("doc_id") % 10).alias("m"),
            (F.col("doc_id") % 5).cast("int").alias("batch"),
            ((F.coalesce(F.length("text"), F.lit(0)) % 97) + 10).cast("int").alias("consensus_n"),
            F.regexp_replace(F.lower("text"), "[^a-z]", "").alias("payload"),
        )
        if wide:
            base = base.withColumn("payload", F.rpad("payload", WIDE_BYTES, "acgtn"))
        # Materialize the candidate feeds so candidate construction isn't
        # charged to the pipeline's shuffle accounting.
        cand_cols = ["sample_id", "batch", "consensus_n", "payload"]

        def write_cands(df, name):
            p = os.path.join(root, name)
            df.write.parquet(p)
            return p

        c1 = write_cands(
            base.filter(F.col("m") != 2)
            .select(*cand_cols, F.lit(1).cast("int").alias("attempt_id")),
            "c1",
        )
        # Cycle 2: m==0 resequences with a >=10% improvement (update),
        # m==1 resequences worse (tombstone), m==2 arrives late (new).
        c2 = write_cands(
            base.filter(F.col("m") == 0)
            .select(
                "sample_id", "batch",
                F.floor(F.col("consensus_n") / 2).cast("int").alias("consensus_n"),
                "payload", F.lit(2).cast("int").alias("attempt_id"),
            )
            .unionByName(
                base.filter(F.col("m") == 1).select(
                    "sample_id", "batch",
                    (F.col("consensus_n") + 5).cast("int").alias("consensus_n"),
                    "payload", F.lit(2).cast("int").alias("attempt_id"),
                )
            )
            .unionByName(
                base.filter(F.col("m") == 2).select(
                    *cand_cols, F.lit(1).cast("int").alias("attempt_id")
                )
            ),
            "c2",
        )
        expected = base.select("sample_id", "batch")
        arrived = base.select("sample_id")
        rules = [
            ("duplicate", F.col("duplicate_idx") > 1),
            ("too_many_n", F.col("consensus_n") > 90),
        ]
        n_docs = base.count()
        print(f"release/{label}: {n_docs} docs")
        def run_cycle(p):
            # run_release_cycle returns its manifest CACHED for the
            # caller; this audit reads only the status API, so release
            # it immediately (round-10 ADVICE: the leg leaked one cached
            # manifest per measured cycle into the shared session).
            manifest, _held, _report = run_release_cycle(
                spark, spark.read.parquet(p), expected, arrived, table, rules,
                key="sample_id", quality_col="consensus_n", batch_col="batch",
                tiebreak_col="attempt_id",
                released_cols=["sample_id", "consensus_n", "payload"],
                payload_cols=["payload"],
            )
            manifest.unpersist()

        cycles = {}
        for cyc, path in (("cycle1_bulk_release", c1), ("cycle2_steady_state", c2)):
            cycles[cyc] = measure(f"release/{label}/{cyc}", lambda p=path: run_cycle(p))
        return {"n_docs": n_docs, **cycles}

    # ---------------------------------------------------- streaming upsert
    def streaming_leg(wide: bool) -> dict:
        from harvester_database_and_automation_spark.streaming.ingest import spool_batches
        from harvester_database_and_automation_spark.streaming.upsert_sink import (
            stream_upsert_into_published,
        )

        label = "wide" if wide else "narrow"
        root = scratch_dir(prefix=f"widerow_stream_{label}_")
        feed = os.path.join(root, "feed")
        table = os.path.join(root, "pub_tbl")
        ckpt = os.path.join(root, "ckpt")
        base = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("source").alias("src"),
            F.regexp_replace(F.lower("text"), "[^a-z]", "").alias("payload"),
            (F.col("doc_id") % 10).alias("m0"),
        )
        if wide:
            base = base.withColumn("payload", F.rpad("payload", WIDE_BYTES, "acgtn"))

        def poll():
            stream_upsert_into_published(
                spark, feed, feed_schema, ckpt, table, keys=["doc_id"], fmt="json"
            )

        n_docs = base.count()
        print(f"streaming/{label}: {n_docs} docs")
        cycles = {}
        # Cycle 1 (bulk backlog): every doc except the late arrivals. One
        # file per micro-batch; the spool write is not part of a cycle.
        spool_batches(feed, [base.filter(F.col("m0") != 2).drop("m0")])
        cycles["cycle1_bulk_load"] = measure(f"streaming/{label}/cycle1_bulk_load", poll)
        # Cycle 2 (steady state): payload resubmissions (m0==3), metadata
        # updates (m0==4), late inserts (m0==2) — merged via the sink's
        # measured-hint merge_delta against the published table.
        b2 = (
            base.filter(F.col("m0").isin(2, 3, 4))
            .withColumn("src", F.when(F.col("m0") == 4, F.lit("UPDATED")).otherwise(F.col("src")))
            .withColumn(
                "payload",
                F.when(F.col("m0") == 3, F.concat("payload", F.lit("acg"))).otherwise(
                    F.col("payload")
                ),
            )
            .drop("m0")
        )
        spool_batches(feed, [b2])
        cycles["cycle2_steady_state"] = measure(
            f"streaming/{label}/cycle2_steady_state", poll
        )
        return {"n_docs": n_docs, **cycles}

    legs: dict[str, dict] = {}
    all_ok = True
    for leg_name, leg_fn in (("feed_import", feed_leg), ("release", release_leg),
                             ("streaming_upsert", streaming_leg)):
        results = {}
        for wide in (False, True):
            results["wide" if wide else "narrow"] = leg_fn(wide)
            cleanup_scratch()
        wide_payload_mb = results["wide"]["n_docs"] * WIDE_BYTES / 1e6
        c2_narrow = results["narrow"]["cycle2_steady_state"]["shuffle_write_mb"]
        c2_wide = results["wide"]["cycle2_steady_state"]["shuffle_write_mb"]
        payload_frac = c2_wide / wide_payload_mb if wide_payload_mb else float("inf")
        excess_frac = (c2_wide - c2_narrow) / wide_payload_mb if wide_payload_mb else float("inf")
        ok = payload_frac <= GATE_PAYLOAD_FRAC and excess_frac <= GATE_EXCESS_FRAC
        all_ok = all_ok and ok
        legs[leg_name] = {
            "results": results,
            "wide_payload_volume_mb": round(wide_payload_mb, 1),
            "cycle2_shuffle_payload_frac": round(payload_frac, 5),
            "cycle2_shuffle_excess_frac": round(excess_frac, 5),
            "ok": ok,
        }
        print(f"{leg_name}: cycle2 shuffle narrow {c2_narrow} MB, wide {c2_wide} MB; "
              f"payload volume {wide_payload_mb:.0f} MB (frac {payload_frac:.4f}, "
              f"excess {excess_frac:.4f}) -> {'OK' if ok else 'FAIL'}")

    out = {
        "git_head": head,
        "git_dirty": dirty,
        "sf_dir": sf_dir,
        "wide_payload_bytes_per_row": WIDE_BYTES,
        "gates": {
            "payload_frac_max": GATE_PAYLOAD_FRAC,
            "excess_frac_max": GATE_EXCESS_FRAC,
        },
        "legs": legs,
        "ok": all_ok,
        "check": "steady-state write cycles shuffle keys+hashes+metadata, not "
        "payloads: widening rows 500x adds <0.5% of payload volume to shuffle. "
        "feed_import = payload-skinny classify + measured-delta hints + merge_delta; "
        "release = payload-skinny cascade (payload_cols) + hinted re-attach + "
        "merge_delta; streaming_upsert = measured micro-batch hint + merge_delta "
        "(published payloads stream map-side past the batch key set)",
    }
    (Path(__file__).resolve().parent.parent / "WIDE_ROW_BYTES.json").write_text(
        json.dumps(out, indent=1) + "\n"
    )
    print(f"-> WIDE_ROW_BYTES.json ok={all_ok}")
    return 0 if all_ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
