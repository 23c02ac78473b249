"""The benchmark workloads. Each is a closed loop with one client: an
operation starts only after the previous one finished.

A workload has three phases, driven by ``run.py``:

- ``prepare(ctx)``: the seeded inputs (pure Python, part of set-up);
- ``warm(ctx)``: one untimed pass that JIT-compiles the plans, fills the
  serving store and checks every output for correctness;
- ``step(ctx)``: one timed operation; ``run.py`` calls it until the
  measuring window has passed and the current pass is complete.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from harvester_database_and_automation_spark.plans import QUERIES
from harvester_database_and_automation_spark.plans.shared import cleanup_scratch

# The analyst panel: a fixed sample of 10 of the 185 non-replay queries,
# drawn across the plan modules, plus the applyInPandasWithState ledger,
# one of the seven streaming replays. A pass over everything takes minutes
# at the benchmark corpus, which the benchmark's time budget cannot hold, so
# the sample keeps to queries whose first call and result digest stay near
# 1 s. It includes the serving-store queries (``*_served``), a file round
# trip (``sources``) and the k3/k4 task-sizing tail.
PANEL = (
    "regional_revenue",
    "part_hierarchy_rollup",
    "kmv_sketch_merge_served",
    "minhash_lsh_candidates_served",
    "k3_origin_estimator",
    "k4_priority_scorer",
    "lineage_mutation_counts_served",
    "ivf_probe_served",
    "knn_label_predict",
    "xz_feed_roundtrip",
    "streaming_stateful_ledger_replay",
)


@dataclass
class Ctx:
    spark: object
    corpus_dir: str
    work_dir: str
    seed: int
    tracer: object
    oracle: object  # oracle_cache.OracleCache
    failures: list[str] = field(default_factory=list)
    checks: int = 0


def _digest_check(ctx: Ctx, name: str) -> None:
    """Compare the query's canonical result digest with its DuckDB
    oracle digest (cached per corpus; DuckDB runs only on a cache miss)."""
    from harvester_database_and_automation_spark.oracle_cache import check_query_cached
    from harvester_database_and_automation_spark.testing import duckdb_connection

    ctx.checks += 1
    try:
        res, _hit = check_query_cached(
            ctx.spark, lambda: duckdb_connection(ctx.corpus_dir), name, ctx.corpus_dir, ctx.oracle
        )
    except Exception as exc:  # a raising query is a failed operation
        ctx.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
        return
    finally:
        cleanup_scratch()
    if not res.ok:
        ctx.failures.append(str(res)[:300])


class QueryLoop:
    """Runs registered queries in seed-shuffled rounds, each materialised
    to the ``noop`` sink. A pass is ROUNDS rounds."""

    # A round of the panel takes 5-16 s on 4 cores, with the host's load.
    # With a pass of one round, a run often timed a single round, and the
    # median's spread across seeds was 0.28.
    ROUNDS = 2

    def __init__(self, names: tuple[str, ...]):
        self.names = names
        self.order: list[str] = []
        self.pos = 0
        self.rng: random.Random | None = None

    def prepare(self, ctx: Ctx) -> None:
        self.rng = random.Random(ctx.seed)
        self.order = list(self.names)
        self.rng.shuffle(self.order)
        self.pos = 0
        self.rounds = 0
        self.log: list[tuple[str, float]] = []  # (query, seconds) per timed op
        self.warm_log: list[tuple[str, float]] = []

    def fill_oracle(self, corpus_dir: str, cache) -> None:
        """Store the DuckDB oracle digest of every query that has none
        for this corpus yet, so the warm pass never runs DuckDB."""
        from harvester_database_and_automation_spark.oracle_cache import corpus_fingerprint
        from harvester_database_and_automation_spark.testing import (
            canonical_rows,
            duckdb_connection,
        )

        fp = corpus_fingerprint(corpus_dir)
        missing = [QUERIES[n].oracle for n in self.names
                   if QUERIES[n].oracle is not None and cache.get(QUERIES[n].oracle, fp) is None]
        if not missing:
            return
        con = duckdb_connection(corpus_dir)
        try:
            for sql in missing:
                t0 = time.perf_counter()
                cols, rows = canonical_rows(con.execute(sql).df())
                cache.put(sql, fp, cols, rows, time.perf_counter() - t0)
        finally:
            con.close()

    def warm(self, ctx: Ctx) -> None:
        for name in self.order:
            t0 = time.perf_counter()
            _digest_check(ctx, name)
            self.warm_log.append((name, time.perf_counter() - t0))

    @property
    def pass_done(self) -> bool:
        return self.pos == 0 and self.rounds % self.ROUNDS == 0

    def step(self, ctx: Ctx) -> float:
        name = self.order[self.pos]
        self.pos += 1
        if self.pos == len(self.order):
            self.pos = 0
            self.rounds += 1
            self.rng.shuffle(self.order)
        spec = QUERIES[name]
        tr = ctx.tracer
        try:
            with tr.op_span(name):
                t0 = time.perf_counter()
                with tr.span("plans.build"):
                    df = spec.fn(ctx.spark, ctx.corpus_dir)
                with tr.span("plans.exec"):
                    df.write.mode("overwrite").format("noop").save()
                dt = time.perf_counter() - t0
            tr.drain_streaming()
        finally:
            cleanup_scratch()  # replay spools: outside the timed window
        self.log.append((name, dt))
        return dt


class DailyCycles:
    """K consecutive days against one published table: feed import,
    release cycle over the day's annotated rows, incremental refresh of
    the derived layer with seed-chosen dirty partitions."""

    FEED_ROWS = 10_000
    # Versions of the table published before day 1, so the timed days run
    # at a realistic version depth (cost that grows with the version count
    # shows in their times).
    PRIOR_VERSIONS = 8
    # Untimed days in the warm pass. Day times keep falling for the first
    # few days of a session (JIT); after one untimed day the first timed
    # day still ran 25% above the next ones.
    WARM_DAYS = 2
    DERIVED = "doc_term_projection"  # partitioned by lang
    LANGS = ("de", "en", "es", "fr", "zh")
    AWK = 'NR%2==1{n=substr($0,2)} NR%2==0{c=gsub(/a/,"a"); print n"\\t"c}'

    pass_done = True  # every cycle is a complete operation

    def prepare(self, ctx: Ctx) -> None:
        from churn import ChurnModel

        self.model = ChurnModel(ctx.corpus_dir, self.FEED_ROWS, ctx.seed, self.PRIOR_VERSIONS)
        self.rng = random.Random(ctx.seed + 1)
        self.root = os.path.join(ctx.work_dir, "cycles")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self.rows_done = 0
        self.annotated_share: list[float] = []  # useful-work ratio per timed day

    def warm(self, ctx: Ctx) -> None:
        import pandas as pd

        from harvester_database_and_automation_spark.operators.publish import (
            publish_versioned,
            read_published,
        )
        from harvester_database_and_automation_spark.pipelines.derived import LAYER

        spark = ctx.spark
        # The table the days start from, published as versions
        # 1..PRIOR_VERSIONS (the same rows and derived columns a first
        # import would publish).
        rows = self.model.initial_rows()
        initial = pd.DataFrame(
            {
                "doc_id": [k for k, _, _ in rows],
                "src": [s for _, s, _ in rows],
                "payload": [p for _, _, p in rows],
                "n_a": [p.count("a") for _, _, p in rows],
                "annotated_in": 0,
            }
        )
        initial_df = spark.createDataFrame(initial, self._schema())
        for _ in range(self.PRIOR_VERSIONS):
            publish_versioned(initial_df, os.path.join(self.root, "seq_table"))
        self.derived_root = os.path.join(self.root, "derived")
        LAYER.rebuild(ctx.spark, ctx.corpus_dir, self.derived_root, only={self.DERIVED})
        self.derived_rows = read_published(
            ctx.spark, os.path.join(self.derived_root, self.DERIVED)
        ).count()
        self.derived_version = 1
        for _ in range(self.WARM_DAYS):
            self._cycle(ctx)

    def step(self, ctx: Ctx) -> float:
        day, dt, feed_rep = self._cycle(ctx)
        self.rows_done += day.feed_rows
        self.annotated_share.append(feed_rep.n_annotated / day.feed_rows)
        return dt

    # ------------------------------------------------------------------
    def _schema(self):
        from pyspark.sql import types as T

        return T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("src", T.StringType()),
                T.StructField("payload", T.StringType()),
                T.StructField("n_a", T.IntegerType()),
                T.StructField("annotated_in", T.IntegerType()),
            ]
        )

    def _annotate(self, day: int):
        from pyspark.sql import Row
        from pyspark.sql import functions as F

        from harvester_database_and_automation_spark.operators.external import run_fasta_tool

        def parse_line(line: str):
            parts = line.split("\t")
            return Row(doc_id=int(parts[0]), n_a=int(parts[1])) if len(parts) == 2 else None

        cols = [f.name for f in self._schema().fields]

        def annotate(df):
            stats = run_fasta_tool(
                df.select(
                    F.col("doc_id").cast("string").alias("name"),
                    F.coalesce("payload", F.lit("")).alias("sequence"),
                ),
                ["awk", self.AWK],
                "doc_id long, n_a int",
                parse_line,
            )
            return (
                df.drop("n_a", "annotated_in")
                .join(stats, "doc_id")
                .withColumn("annotated_in", F.lit(day))
                .select(*cols)
            )

        return annotate

    def _steps(self, ctx: Ctx, day, dirty: list[str]):
        """The three timed steps of one day."""
        from pyspark.sql import functions as F

        from churn import DUP_ATTEMPT_OFFSET, N_BATCHES
        from harvester_database_and_automation_spark.operators.publish import read_published
        from harvester_database_and_automation_spark.pipelines.derived import LAYER
        from harvester_database_and_automation_spark.pipelines.feed_import import run_feed_import
        from harvester_database_and_automation_spark.pipelines.release import run_release_cycle
        from harvester_database_and_automation_spark.sources.quarantine import not_null

        spark, tr, d = ctx.spark, ctx.tracer, day.index
        table = os.path.join(self.root, "seq_table")
        released = os.path.join(self.root, "released")
        with tr.span("pipelines.run_feed_import", count_jobs=True):
            feed_rep = run_feed_import(
                spark, day.feed_dir, table, self._schema(),
                keys=["doc_id"], metadata_cols=["src"], payload_cols=["payload"],
                checks={"src_required": not_null("src")},
                annotate=self._annotate(d),
                required_fields={"doc_id", "payload"},
            )
        with tr.span("pipelines.run_release_cycle", count_jobs=True):
            todays = read_published(spark, table).filter(F.col("annotated_in") == d)
            first = todays.select(
                F.col("doc_id").alias("sample_id"),
                F.lit(d).alias("attempt_id"),
                (F.col("doc_id") % N_BATCHES).cast("int").alias("batch"),
                (F.col("n_a") % 97 + 10).cast("int").alias("consensus_n"),
                (F.length("payload") % 89 + 10).cast("int").alias("diag"),
            )
            worse = first.filter(F.col("sample_id").isin(list(day.dup_keys))).select(
                "sample_id",
                (F.col("attempt_id") + DUP_ATTEMPT_OFFSET).alias("attempt_id"),
                "batch",
                (F.col("consensus_n") + 5).alias("consensus_n"),
                "diag",
            )
            candidates = first.unionByName(worse)
            phantom = spark.createDataFrame(
                [(-1 - b, b) for b in day.phantom_batches], "sample_id long, batch int"
            )
            expected = first.select("sample_id", "batch").unionByName(phantom)
            rules = [
                ("duplicate", F.col("duplicate_idx") > 1),
                ("n_discrepancy", F.abs(F.col("consensus_n") - F.col("diag")) > 60),
                ("too_many_n", F.col("consensus_n") > 90),
            ]
            manifest, _held, rel_rep = run_release_cycle(
                spark, candidates, expected, first.select("sample_id"), released, rules,
                key="sample_id", quality_col="consensus_n", batch_col="batch",
                tiebreak_col="attempt_id",
            )
            manifest.unpersist()
        with tr.span("pipelines.rebuild_incremental", count_jobs=True):
            versions = LAYER.rebuild_incremental(
                spark, ctx.corpus_dir, self.derived_root,
                predicates={self.DERIVED: F.col("lang").isin(*dirty)},
            )
        return feed_rep, rel_rep, versions

    def _cycle(self, ctx: Ctx):
        from churn import counts_diff
        from harvester_database_and_automation_spark.operators.publish import read_published

        spark, tr = ctx.spark, ctx.tracer
        day = self.model.next_day(os.path.join(self.root, "feeds"))
        d = day.index
        table = os.path.join(self.root, "seq_table")
        released = os.path.join(self.root, "released")
        dirty = sorted(self.rng.sample(self.LANGS, 2))

        with tr.op_span(f"day{d}"):
            t0 = time.perf_counter()
            feed_rep, rel_rep, versions = self._steps(ctx, day, dirty)
            dt = time.perf_counter() - t0

        # Correctness, outside the timed window.
        ctx.checks += 1
        self.derived_version += 1
        problems = counts_diff(day.feed, feed_rep) + counts_diff(day.release, rel_rep)
        if versions.get(self.DERIVED) != self.derived_version:
            problems.append(f"derived version {versions} != {self.derived_version}")
        n_pub = read_published(spark, table).count()
        n_rel = read_published(spark, released).count()
        n_der = read_published(spark, os.path.join(self.derived_root, self.DERIVED)).count()
        if (n_pub, n_rel, n_der) != (day.published_rows, day.released_rows, self.derived_rows):
            problems.append(
                f"rows published/released/derived {(n_pub, n_rel, n_der)} != planted "
                f"{(day.published_rows, day.released_rows, self.derived_rows)}"
            )
        if problems:
            ctx.failures.append(f"day {d}: " + "; ".join(problems))
        return day, dt, feed_rep


def make(name: str):
    if name == "serve_panel":
        return QueryLoop(PANEL)
    if name == "daily_cycles":
        return DailyCycles()
    raise ValueError(f"unknown workload {name!r}")
