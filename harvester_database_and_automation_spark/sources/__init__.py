"""Typed readers/writers and row-validation (SURVEY.md §2.1, §2.2 P6)."""

from harvester_database_and_automation_spark.sources.fasta import read_fasta, write_fasta
from harvester_database_and_automation_spark.sources.http import fetch_to_file
from harvester_database_and_automation_spark.sources.excel import read_xlsx
from harvester_database_and_automation_spark.sources.jsonl import ParsedScan, check_field_drift, read_jsonl
from harvester_database_and_automation_spark.sources.quarantine import validate

__all__ = [
    "read_fasta",
    "write_fasta",
    "read_jsonl",
    "ParsedScan",
    "read_xlsx",
    "check_field_drift",
    "validate",
    "fetch_to_file",
]
