"""Query registry: every operator from SURVEY.md §2 exposed as a named
(spark_query, duckdb_oracle_sql) pair over the synthetic corpus.

Importing this package populates the registry; ``QUERIES`` keeps
registration order.
"""

from harvester_database_and_automation_spark.plans.registry import QUERIES, oracle_sql_map, queries_map

# Import for registration side effects.
from harvester_database_and_automation_spark.plans import relational  # noqa: E402,F401
from harvester_database_and_automation_spark.plans import text  # noqa: E402,F401
from harvester_database_and_automation_spark.plans import embeddings  # noqa: E402,F401
from harvester_database_and_automation_spark.plans import kernels  # noqa: E402,F401
from harvester_database_and_automation_spark.plans import multimodal  # noqa: E402,F401
from harvester_database_and_automation_spark.plans import governance  # noqa: E402,F401
from harvester_database_and_automation_spark.plans import curation  # noqa: E402,F401
from harvester_database_and_automation_spark.plans import streaming_replay  # noqa: E402,F401
from harvester_database_and_automation_spark.plans import external_integration  # noqa: E402,F401

__all__ = ["QUERIES", "queries_map", "oracle_sql_map"]
