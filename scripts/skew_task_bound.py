#!/usr/bin/env python
"""Measure the claim the skew family actually makes: NO STRAGGLER TASK.

`hot_band_pair_stress`'s oracle hash-match proves the salted self-join
loses/duplicates no pair; this script records the BOUND — max per-task
wall-clock and max join-group pair product — for the salted plan vs the
naive band self-join, under the same planted hot band (band -1 holds a
third of the corpus). Two measurements per scale factor:

- max_group_pairs: the largest join-group pair product, computed exactly
  from the block-size distribution (deterministic; the quantity the
  adaptive per-key salt bounds at ~hot_threshold^2 up to hash slack);
- max_task_ms: the longest completed task's executorRunTime across the
  stages of that run (`observe.measure`, from the Spark status API) —
  the direct straggler measurement.

The session disables auto-broadcast: at the corpus sizes this harness can
hold, Spark turns the naive self-join into a broadcast hash join, whose
probe rows spread the hot band evenly across input partitions — no
straggler, but also not the 100 TB regime, where neither side of a
corpus-scale self-join broadcasts and the hot band's whole pair product
lands in one shuffle partition's task. (AQE's skew split does not rescue
that task either: the hot partition is far under the 256 MB split
threshold, and a split would still pair each input chunk against the full
hot key.) Forcing the shuffle join measures the regime the operator
exists for.

Writes SKEW_TASK_BOUND.json. Run on an otherwise-idle box: foreign load
inflates task times. Usage: python scripts/skew_task_bound.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import os

os.environ.setdefault("SPARK_UI", "true")

from pyspark.sql import functions as F  # noqa: E402

from harvester_database_and_automation_spark.catalog import load_table  # noqa: E402
from harvester_database_and_automation_spark.observe import measure  # noqa: E402
from harvester_database_and_automation_spark.operators.skew import salted_self_pairs  # noqa: E402
from harvester_database_and_automation_spark.plans.shared import fanout  # noqa: E402
from harvester_database_and_automation_spark.session import get_spark  # noqa: E402

REPO = Path(__file__).resolve().parent.parent
SFS = {"sf0.1": "/root/testdata/sf0.1", "sf1": str(REPO / ".scaling" / "sf1")}
HOT_THRESHOLD = 100
MAX_SALT = 64


def _banded(spark, sf_dir):
    return fanout(
        load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "n_chars",
            F.when(F.col("doc_id") % 3 == 0, F.lit(-1))
            .otherwise(F.col("doc_id") % 97)
            .cast("long")
            .alias("band"),
        )
    )


def _agg(pairs):
    return pairs.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.when(F.abs(F.col("n_chars_a") - F.col("n_chars_b")) <= 5, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("n_close"),
    )


def _max_group_pairs_salted(d) -> int:
    freq = d.groupBy("band").agg(F.count(F.lit(1)).alias("kn"))
    ns = F.least(F.lit(MAX_SALT), F.ceil(F.col("kn") / F.lit(HOT_THRESHOLD))).cast("int")
    blocks = (
        d.join(freq.select("band", ns.alias("ns")), "band")
        .withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.col("ns")).cast("int"))
        .groupBy("band", "salt")
        .agg(F.count(F.lit(1)).alias("b"))
    ).collect()
    by_band: dict = {}
    for r in blocks:
        by_band.setdefault(r["band"], {})[r["salt"]] = r["b"]
    mx = 0
    for sizes in by_band.values():
        for i, bi in sizes.items():
            for j, bj in sizes.items():
                if i < j:
                    mx = max(mx, bi * bj)
                elif i == j:
                    mx = max(mx, bi * (bi - 1) // 2)
    return mx


def _max_group_pairs_unsalted(d) -> int:
    top = d.groupBy("band").agg(F.count(F.lit(1)).alias("kn")).agg(F.max("kn")).collect()[0][0]
    return top * (top - 1) // 2


def main() -> int:
    spark = get_spark(
        "skew-task-bound",
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )
    out: dict = {
        "workload": "hot_band_pair_stress profile: band -1 holds 1/3 of documents, rest uniform over 97 bands",
        "operator": f"salted_self_pairs(hot_threshold={HOT_THRESHOLD}, max_salt={MAX_SALT}) vs plain a.band=b.band AND a.id<b.id self-join",
        "metric": "max completed-task executorRunTime (ms, Spark UI REST) + exact max join-group pair product",
    }
    for label, sf_dir in SFS.items():
        if not Path(sf_dir).exists():
            continue
        d = _banded(spark, sf_dir).persist()
        d.count()
        naive = (
            d.select("band", F.col("doc_id").alias("doc_id_a"), F.col("n_chars").alias("n_chars_a"))
            .join(
                d.select("band", F.col("doc_id").alias("doc_id_b"), F.col("n_chars").alias("n_chars_b")),
                "band",
            )
            .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        )
        runs = {}
        for variant, pairs in (
            ("unsalted", naive),
            ("salted_adaptive", salted_self_pairs(d, ["band"], "doc_id", hot_threshold=HOT_THRESHOLD, max_salt=MAX_SALT)),
        ):
            # warm once so JIT/scan costs don't masquerade as skew
            _agg(pairs).write.mode("overwrite").format("noop").save()
            with measure(spark, f"skew_task_bound:{label}:{variant}") as m:
                _agg(pairs).write.mode("overwrite").format("noop").save()
            runs[variant] = {"max_task_ms": round(m["max_task_ms"], 1)}
        runs["unsalted"]["max_group_pairs"] = _max_group_pairs_unsalted(d)
        runs["salted_adaptive"]["max_group_pairs"] = _max_group_pairs_salted(d)
        runs["salted_adaptive"]["pair_bound_note"] = (
            f"adaptive bound ~hot_threshold^2 = {HOT_THRESHOLD ** 2} up to hash slack"
            f" (cap {MAX_SALT} salts)"
        )
        d.unpersist()
        out[label] = runs
        print(label, json.dumps(runs))
    sf1 = SFS.get("sf1")
    if sf1 and Path(sf1).exists():
        out["cc_contraction_sf1"] = measure_cc(spark, sf1)
        print("cc_contraction_sf1", json.dumps(out["cc_contraction_sf1"]))
    (REPO / "SKEW_TASK_BOUND.json").write_text(json.dumps(out, indent=1) + "\n")
    print("-> SKEW_TASK_BOUND.json")
    return 0


def measure_cc(spark, sf_dir: str) -> dict:
    """Straggler bound for the connected-components contraction under a
    planted mega-cluster: ONE component holding 1/3 of all documents
    (hierarchical stars of ~1000 under a root chain — linear edge count,
    low diameter, the shape an LSH dup family hands the clustering step),
    the rest isolated pairs. Control: the same edge COUNT as uniform
    isolated pairs. The alternating-star algorithm needs no salting —
    per-round work is min-aggregations (map-side combinable partials)
    plus equi-joins whose hot-key row count is the node DEGREE (bounded
    by the edge list), never a pair product — and this measures that
    claim per contraction round instead of assuming it."""
    from harvester_database_and_automation_spark.operators.components import (
        _large_star,
        _small_star,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    members = docs.filter(F.col("doc_id") % 3 == 0)
    # star edges: member -> base of its 3000-wide block; block roots -> 0
    stars = members.filter(F.col("doc_id") % 3000 != 0).select(
        F.col("doc_id").alias("u"), (F.col("doc_id") - F.col("doc_id") % 3000).alias("v")
    )
    roots = members.filter((F.col("doc_id") % 3000 == 0) & (F.col("doc_id") != 0)).select(
        F.col("doc_id").alias("u"), F.lit(0).cast("long").alias("v")
    )
    mega = stars.union(roots)
    others = docs.filter((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 2 == 0)).select(
        F.col("doc_id").alias("u"), (F.col("doc_id") + 1).alias("v")
    )
    planted = fanout(mega.union(others))
    uniform = fanout(
        docs.filter(F.col("doc_id") % 2 == 0).select(
            F.col("doc_id").alias("u"), (F.col("doc_id") + 1).alias("v")
        )
    )

    def run_rounds(edges) -> dict:
        cur = (
            edges.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        per_round: list[float] = []
        prev_sig = None
        for _ in range(30):
            with measure(spark, f"skew_task_bound:cc_round{len(per_round) + 1}") as m:
                cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
                row = cur.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
                ).first()
            per_round.append(round(m["max_task_ms"], 1))
            sig = (row["n"], row["h"])
            if sig == prev_sig:
                break
            prev_sig = sig
        return {
            "n_rounds": len(per_round),
            "max_task_ms_per_round": per_round,
            "max_task_ms": max(per_round),
        }

    out = {
        "workload": "1/3 of documents planted as ONE component (stars of ~1000 under a root chain), rest isolated pairs; control = same-size uniform pair list",
        "planted_mega_cluster": run_rounds(planted),
        "uniform_control": run_rounds(uniform),
        "note": "alternating-star contraction needs no salting: min-aggregations partial-aggregate map-side and the hot node's join fan-in is its DEGREE (edge-bounded), never a pair product; the mega-cluster bound should therefore track the uniform control",
    }
    return out


if __name__ == "__main__":
    sys.exit(main())
