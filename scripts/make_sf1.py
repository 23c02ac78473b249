#!/usr/bin/env python
"""Derive an sf1-scale corpus (10x sf0.1 = 100x sf0.01) for the scaling
curve, since the driver generates testdata only up to sf0.1.

NOT part of the pytest corpus. It exists so scripts/scaling.py 100x
can measure a 100x data step (SCALING_100x.json) instead of
extrapolating from the single 10x step in SCALING.json, and so
scripts/oracle.py can certify SF1_PANEL at that scale
(CORRECTNESS_SF1.json). Rows are derived from the driver's own sf0.1
tables by FK-consistent replication:

- every fact/entity table unions 10 copies with all surrogate keys
  offset by copy * (max_key + 1) per table — foreign keys stay valid and
  join fan-outs match the original distributions;
- region/nation stay single-copy (true dimensions: their cardinality
  does not grow with corpus size);
- document text gets a one-token per-copy suffix and embeddings a tiny
  first-component epsilon, so replication does not manufacture exact
  duplicates that would quadratically inflate the dedup familes'
  candidate pairs beyond anything a real 10x corpus would show;
- value columns (prices, quantities, timestamps, labels) are untouched,
  so value-distribution NDV grows only where keys grow — the realistic
  profile for a bigger corpus of the same generator.

Output: /root/repo/.scaling/sf1/<table>.parquet (gitignored, ~200 MB),
written with 8 files per big table so the scan splits like a real
multi-file corpus.

Usage: python scripts/make_sf1.py [out_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from harvester_database_and_automation_spark.catalog import load_table  # noqa: E402
from harvester_database_and_automation_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
COPIES = 10

# table -> (key columns to offset, columns referencing another table's key)
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", ("o_custkey", "customer", "c_custkey")],
    "lineitem": [
        ("l_orderkey", "orders", "o_orderkey"),
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
    ],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def main() -> int:
    out_root = sys.argv[1] if len(sys.argv) > 1 else str(
        Path(__file__).resolve().parent.parent / ".scaling" / "sf1"
    )
    spark = get_spark("make-sf1")

    # Per-table key strides (max + 1), computed once from the source.
    stride: dict[tuple[str, str], int] = {}
    for t, keys in KEYED.items():
        df = load_table(spark, SRC, t)
        for k in keys:
            col = k if isinstance(k, str) else k[0]
            if isinstance(k, str):
                stride[(t, col)] = int(df.agg(F.max(col)).first()[0]) + 1

    def offset(t: str, spec, copy_col):
        if isinstance(spec, str):
            s = stride[(t, spec)]
            return (F.col(spec) + copy_col * F.lit(s)).alias(spec)
        col, ref_t, ref_k = spec
        s = stride[(ref_t, ref_k)]
        return (F.col(col) + copy_col * F.lit(s)).alias(col)

    for t in ("region", "nation"):
        load_table(spark, SRC, t).write.mode("overwrite").parquet(f"{out_root}/{t}.parquet")
        print(f"{t}: dimension copied 1x")

    copies = spark.range(COPIES).select(F.col("id").alias("_copy"))
    for t, keys in KEYED.items():
        df = load_table(spark, SRC, t).crossJoin(F.broadcast(copies))
        keyed_cols = {k if isinstance(k, str) else k[0] for k in keys}
        exprs = []
        for name in [f.name for f in df.schema.fields if f.name != "_copy"]:
            if name in keyed_cols:
                spec = next(k for k in keys if (k if isinstance(k, str) else k[0]) == name)
                exprs.append(offset(t, spec, F.col("_copy")))
            elif t == "documents" and name == "text":
                exprs.append(
                    F.when(F.col("_copy") == 0, F.col("text"))
                    .otherwise(F.concat(F.col("text"), F.lit(" cp"), F.col("_copy")))
                    .alias("text")
                )
            elif t == "documents" and name == "n_chars":
                exprs.append(
                    (
                        F.col("n_chars")
                        + F.when(F.col("_copy") == 0, F.lit(0)).otherwise(
                            F.length(F.concat(F.lit(" cp"), F.col("_copy")))
                        )
                    ).alias("n_chars")
                )
            elif t == "embeddings" and name == "embedding":
                eps = F.col("_copy").cast("float") * F.lit(0.001).cast("float")
                exprs.append(
                    F.transform(
                        "embedding",
                        lambda x, i: F.when(i == 0, (x + eps).cast("float")).otherwise(x),
                    ).alias("embedding")
                )
            else:
                exprs.append(F.col(name))
        out = df.select(*exprs)
        n_files = 8 if t in ("lineitem", "orders", "events", "documents") else 2
        out.repartition(n_files).write.mode("overwrite").parquet(f"{out_root}/{t}.parquet")
        print(f"{t}: {COPIES}x -> {out_root}/{t}.parquet ({n_files} files)")
    print(f"done: {out_root}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
