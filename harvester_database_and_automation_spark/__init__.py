"""PySpark-native analytics engine with the query and data-processing
capabilities of cevo-public/harvester-database-and-automation.

Brand-new, Spark-first implementation (DataFrame / SQL / Catalyst /
Structured Streaming). The reference defines WHAT is computed — the
operator repertoire, query semantics, and data model surveyed in
SURVEY.md — not how. Nothing here is a port of its C++/R/Java/Python
execution code.

Layout:
    session       SparkSession factory tuned for local[N] and cluster use
    catalog       typed loaders for the synthetic test corpus
    plans/        the query registry: named queries + DuckDB oracle SQL,
                  including the domain kernels K1-K11 (plans/kernels.py)
                  and the streaming replays (plans/streaming_replay.py)
    operators/    write path (merge, change router, deletes, versioned
                  publish, state gate), sketches, Bloom filters, as-of /
                  range / fuzzy joins, skew salting, external tools
    functions/    reusable column helpers (dates, recode, genomics, PII)
                  and the geo-rule UDF
    sources/      file-format readers/writers (FASTA, CSV/TSV, JSON-lines,
                  xlsx, JDBC, HTTP fetch, chunked export), quarantine,
                  multimodal columns
    streaming/    Structured Streaming operators and sinks
                  (Trigger.AvailableNow) and the replay spool
    pipelines/    feed import, release cycle and the derived-table layer
    observe       Spark status-API measurement of a block of work
    oracle_cache  persistent cache of DuckDB oracle results
    testing       the oracle-comparison harness the tests and scripts share
"""

__version__ = "0.1.0"
