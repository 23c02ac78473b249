"""Write-path + custom-join/rollup/sketch operators (SURVEY.md §2.10
M1-M6 and the beyond-reference families in ARCHITECTURE.md)."""

from harvester_database_and_automation_spark.operators.asof import asof_join
from harvester_database_and_automation_spark.operators.bloom import (
    bloom_might_contain,
    build_bloom,
)
from harvester_database_and_automation_spark.operators.fuzzy import fuzzy_join
from harvester_database_and_automation_spark.operators.rangejoin import bucketed_range_join
from harvester_database_and_automation_spark.operators.rollup_cascade import cascade_rollup
from harvester_database_and_automation_spark.operators.scd import scd2_init, scd2_merge
from harvester_database_and_automation_spark.operators.sketches import heavy_hitters_exact
from harvester_database_and_automation_spark.operators.merge import (
    apply_deletes,
    classify_changes,
    merge_delta,
)
from harvester_database_and_automation_spark.operators.skew import (
    salted_aggregate,
    salted_join,
    salted_self_pairs,
)
from harvester_database_and_automation_spark.operators.publish import (
    current_version,
    publish_versioned,
    read_published,
)
from harvester_database_and_automation_spark.operators.state import JobState

__all__ = [
    "asof_join",
    "bucketed_range_join",
    "bloom_might_contain",
    "build_bloom",
    "cascade_rollup",
    "fuzzy_join",
    "heavy_hitters_exact",
    "scd2_init",
    "scd2_merge",
    "merge_delta",
    "classify_changes",
    "apply_deletes",
    "publish_versioned",
    "read_published",
    "current_version",
    "JobState",
    "salted_join",
    "salted_aggregate",
    "salted_self_pairs",
]
