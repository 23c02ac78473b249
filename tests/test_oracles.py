"""Every registered query must hash-match its DuckDB oracle (the same
contract the driver's correctness gate applies at sf=0.01; tests run the
small sf for speed)."""

from __future__ import annotations

import pytest

from harvester_database_and_automation_spark.oracle_cache import check_query_cached
from harvester_database_and_automation_spark.plans import QUERIES
from harvester_database_and_automation_spark.testing import duckdb_connection

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def con():
    con = duckdb_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, con, name):
    res, _ = check_query_cached(spark, lambda: con, name, SF_DIR, None)
    assert res.ok, str(res)


def test_ivf_recall_vs_bruteforce(spark):
    """IVF is approximate; quantify it: every IVF hit must be a true
    neighbor-candidate, and recall@3 against the exact top-3 should be
    high on the test corpus (cells are coarse at this scale)."""
    from harvester_database_and_automation_spark.plans import QUERIES

    sf = "/root/testdata/sf0.01"
    ivf = QUERIES["ivf_topk_probe"].fn(spark, sf).collect()
    got = {}
    for r in ivf:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    # Exact ground truth for the same query set, via the brute-force plan
    # shape (top-3 over all non-query vectors).
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from harvester_database_and_automation_spark.plans.embeddings import (
        _dot,
        _emb_with_norm,
        _query_sample,
    )

    e = _emb_with_norm(spark, sf)
    q = _query_sample(e, 64).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qv"), F.col("norm").alias("qn")
    )
    r = e.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("rv"), F.col("norm").alias("rn"))
    sims = (
        F.broadcast(q)
        .crossJoin(r)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", (_dot(F.col("qv"), F.col("rv")) / (F.col("qn") * F.col("rn"))).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    exact = sims.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3).collect()
    truth = {}
    for row in exact:
        truth.setdefault(row["query_id"], set()).add(row["neighbor_id"])

    assert set(got) == set(truth)  # every query answered
    hits = sum(len(got[q] & truth[q]) for q in truth)
    total = sum(len(truth[q]) for q in truth)
    recall = hits / total
    # The synthetic embeddings are cluster-free, so coarse quantization
    # can't shine; the bar is beating the random-cell baseline
    # (nprobe/n_cells = 2/8 = 0.25) by a clear margin. Measured ~0.47.
    assert recall >= 0.35, f"recall@3 at or below random-cell baseline: {recall:.2f}"
