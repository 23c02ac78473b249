from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]
# Spark's Python workers import the engine and the benchmark modules too.
os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH, os.environ.get("PYTHONPATH", "")])


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory) -> str:
    """The engine's sf0.001 test corpus where it exists, else the
    benchmark's own generator at that size."""
    from __spark_entry__ import SMOKE_SF_DIR

    if os.path.isdir(SMOKE_SF_DIR):
        return SMOKE_SF_DIR
    import corpus

    out = str(tmp_path_factory.mktemp("corpus") / "sf0.001")
    corpus.write_corpus(out, 0.001)
    return out


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from harvester_database_and_automation_spark.session import get_spark

    spark = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4)
    yield spark
    spark.stop()
