"""The derived-table cascade — Spark re-design of the cov-spectrum
materialized-view layer (SURVEY.md §3.3; database/sql/spectrum/
sequences_gisaid_api_based.sql:22-521, refreshes.sql:3-36).

The reference refreshes 8 materialized views after every ingest. Here a
derived table is a named function over the base corpus plus previously
built derived tables; ``rebuild`` walks the registry in dependency order
and atomically publishes each via the versioned-directory swap — readers
of table N never see a state where N is newer than its inputs unless the
build completed. ``read_derived`` serves the same tables to queries from
a store keyed by corpus content and the package's code, laid out and
published by the same build step as ``rebuild``.
"""

from __future__ import annotations

import functools
import hashlib
import os
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from harvester_database_and_automation_spark.catalog import load_table
from harvester_database_and_automation_spark.operators.publish import (
    current_version,
    partition_leaves,
    publish_incremental,
    publish_versioned,
    read_published,
)
from harvester_database_and_automation_spark.oracle_cache import corpus_fingerprint


@dataclass(frozen=True)
class DerivedTable:
    name: str
    build: Callable[[SparkSession, str, dict[str, DataFrame]], DataFrame]
    depends_on: tuple[str, ...] = ()
    partition_by: tuple[str, ...] = ()


@dataclass
class DerivedLayer:
    tables: dict[str, DerivedTable] = field(default_factory=dict)

    def register(
        self,
        name: str,
        depends_on: tuple[str, ...] = (),
        partition_by: tuple[str, ...] = (),
    ):
        def deco(fn):
            if name in self.tables:
                raise ValueError(f"duplicate derived table {name!r}")
            for dep in depends_on:
                if dep not in self.tables:
                    raise ValueError(f"{name!r} depends on unknown table {dep!r}")
            self.tables[name] = DerivedTable(name, fn, depends_on, partition_by)
            return fn

        return deco

    def _build(self, spark: SparkSession, sf_dir: str, out_root: str, name: str) -> DataFrame:
        """Plan table ``name`` over the corpus at ``sf_dir``, reading each
        dependency's version published under ``out_root``."""
        spec = self.tables[name]
        deps = {d: read_published(spark, os.path.join(out_root, d)) for d in spec.depends_on}
        return spec.build(spark, sf_dir, deps)

    def _publish(self, spark: SparkSession, sf_dir: str, out_root: str, name: str) -> int:
        """Build table ``name`` and publish it as the next version of
        ``out_root/<name>``; returns that version."""
        return publish_versioned(
            self._build(spark, sf_dir, out_root, name),
            os.path.join(out_root, name),
            partition_by=list(self.tables[name].partition_by) or None,
        )

    def rebuild(
        self,
        spark: SparkSession,
        sf_dir: str,
        out_root: str,
        only: set[str] | None = None,
    ) -> dict[str, int]:
        """Build every derived table in registration order, publishing each
        atomically. ``register`` rejects a dependency registered later, so
        that order is a dependency order. Returns {table: version}. ``only``
        scopes the walk to the named tables plus their transitive deps
        (a partial refresh — e.g. the parity certification rebuilds just
        the partitioned tables it compares)."""
        wanted: set[str] | None = None
        if only is not None:
            wanted = set()
            stack = list(only)
            while stack:
                n = stack.pop()
                if n in wanted:
                    continue
                wanted.add(n)
                stack.extend(self.tables[n].depends_on)

        return {
            name: self._publish(spark, sf_dir, out_root, name)
            for name in self.tables
            if wanted is None or name in wanted
        }

    def rebuild_incremental(
        self, spark: SparkSession, sf_dir: str, out_root: str, predicates: dict[str, Column]
    ) -> dict[str, int]:
        """Rebuild ONLY the partitions matching each table's predicate —
        the SURVEY.md §4 incremental-maintenance design: the build stays the
        same declarative full-table plan, filtered down to the dirty
        partitions (Catalyst pushes the key condition into the scans), and
        ``publish_incremental`` carries every other partition over to the
        new version without rewriting it.

        Tables absent from ``predicates`` are untouched; listed tables must
        have been registered with ``partition_by`` and published before.
        Listed tables rebuild in registration order, so a listed table
        reads the fresh version of a listed dependency.

        The predicate SELECTS DIRTY PARTITIONS, it does not filter rows: a
        partition is dirty when any row matching the predicate lands in it,
        in the new build OR in the prior published version (null keys
        included). Every dirty partition is rewritten with all the rows the
        full build puts there, or dropped when the build no longer produces
        it, so for every dirty partition the result equals a full rebuild.
        """
        for name in predicates:
            if not self.tables[name].partition_by:
                raise ValueError(f"{name!r} has no partition_by; register one to rebuild incrementally")

        versions: dict[str, int] = {}
        for name in self.tables:
            if name not in predicates:
                continue
            table_dir = os.path.join(out_root, name)
            pcols = list(self.tables[name].partition_by)
            full = self._build(spark, sf_dir, out_root, name)
            keys = full.filter(predicates[name]).select(*pcols)
            if current_version(table_dir) is not None:
                prior = read_published(spark, table_dir)
                keys = keys.unionByName(prior.filter(predicates[name]).select(*pcols))
            # Bounded by construction: at most one tuple per leaf directory of
            # the prior version plus one per partition the new version writes,
            # the two sets publish_incremental lists on the driver anyway.
            dirty = [tuple(r) for r in keys.distinct().collect()]
            versions[name] = publish_incremental(
                full.filter(_key_in(pcols, dirty)),
                table_dir,
                partition_by=pcols,
                drop_partitions=partition_leaves(dirty, pcols),
            )
        return versions


def _key_in(pcols: list[str], keys: list[tuple]) -> Column:
    """Null-safe membership of the partition columns in ``keys``. One
    column stays a plain ``isin`` (pushed to parquet as ``In``), plus
    ``IS NULL`` when a null key was collected; several columns compare
    one struct, whose ``IN`` treats null fields as equal."""
    if len(pcols) == 1:
        values = [k[0] for k in keys if k[0] is not None]
        cond = F.col(pcols[0]).isin(values)
        return cond | F.col(pcols[0]).isNull() if len(values) < len(keys) else cond
    return F.struct(*pcols).isin(
        [F.struct(*(F.lit(v).alias(c) for c, v in zip(pcols, k))) for k in keys]
    )


# ---------------------------------------------------------------------------
# The demo cascade over the synthetic corpus — same shapes as the spectrum
# layer: conformed union + window dedup -> projection -> spine rollup.
# ---------------------------------------------------------------------------
LAYER = DerivedLayer()


@LAYER.register("doc_public_meta")
def doc_public_meta(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 1 — conformed, deduplicated document metadata (the
    spectrum_sequence_public_meta analog: union of sources, best-per-key
    window dedup, release-aware naming)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .withColumn("is_best", F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars", "is_best")
    )


@LAYER.register("doc_term_projection", depends_on=("doc_public_meta",), partition_by=("lang",))
def doc_term_projection(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 2 — long-format term table for best docs only (the mutation
    projection analog: explode from the deduped layer, not the raw feed)."""
    docs = load_table(spark, sf_dir, "documents")
    best = deps["doc_public_meta"].filter("is_best").select("doc_id")
    return (
        docs.join(best, "doc_id", "left_semi")
        .select("doc_id", "lang", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.length("term") >= 6)
    )


@LAYER.register("lang_term_intensity", depends_on=("doc_term_projection",))
def lang_term_intensity(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 3 — rollup counts per (lang, term) with totals row (the
    date-spine × country intensity rollup analog)."""
    terms = deps["doc_term_projection"]
    # grouping_id (0=detail, 1=lang subtotal, 3=grand total) distinguishes
    # subtotal markers from genuinely-null group values — a null-lang data
    # row must neither be dropped nor collide with the grand-total row.
    return terms.rollup("lang", "term").agg(
        F.count(F.lit(1)).alias("n"), F.grouping_id().cast("int").alias("gid")
    )


@LAYER.register("weekly_dashboard")
def weekly_dashboard(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """The dashboard_main_view analog (init.sql:783-948): two sources
    conformed and unioned (cases+tests there; events+orders here), value
    binning (the age-group recode), and conditional aggregation per
    (iso-week, kind, bucket)."""
    from harvester_database_and_automation_spark.functions.recode import age_group

    ev = load_table(spark, sf_dir, "events").select(
        F.lit("event").alias("kind"),
        F.col("user_id").alias("subject"),
        F.col("ts").alias("t"),
        F.col("value").alias("v"),
        (F.col("event_type") == "error").alias("is_bad"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit("order").alias("kind"),
        F.col("o_custkey").alias("subject"),
        F.col("o_orderdate").alias("t"),
        (F.col("o_totalprice") / 1000).alias("v"),
        (F.col("o_orderstatus") == "F").alias("is_bad"),
    )
    unioned = ev.unionByName(orders)
    return (
        unioned.groupBy(
            F.expr("extract(YEAROFWEEK FROM t)").cast("int").alias("yr"),
            F.weekofyear("t").cast("int").alias("wk"),
            "kind",
            age_group(F.col("v"), width=20, top=100).alias("v_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("is_bad"), 1).otherwise(0)).alias("n_bad"),
            F.countDistinct("subject").alias("n_subjects"),
        )
    )


@LAYER.register("daily_event_intensity")
def daily_event_intensity(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 4 — zero-filled date-spine × event-type counts with rollup
    subtotals: the spectrum_sequence_intensity table itself
    (sequences_gisaid_api_based.sql:384-427). Same plan as the
    ``intensity_spine_rollup`` registered query, published as a table so
    downstream dashboards read the materialization, not the recompute."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"), "event_type"
    )
    bounds = ev.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    daily = ev.groupBy("day", "event_type").agg(F.count(F.lit(1)).alias("n"))
    filled = (
        spine.crossJoin(F.broadcast(types))
        .join(daily, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )
    return filled.rollup("day", "event_type").agg(
        F.sum("n").alias("n_events"), F.grouping_id().cast("int").alias("gid")
    )


# ---------------------------------------------------------------------------
# Hub tables — every intermediate that more than one registered query reads
# (shingles, signatures, scored pairs, index frames, mutation triples) is a
# derived table here, built by a plain builder in its plan module and read
# with ``read_derived``. This is the only way a hub is shared between
# queries: the store re-keys on corpus content and package code, and a
# parquet scan holds no executor memory between queries. Hubs built over
# another hub take it from ``deps``, so ``rebuild(out_root)`` stays
# self-contained.
# ---------------------------------------------------------------------------
@LAYER.register("shingles")
def shingles(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 6 — distinct 3-word shingles per document (doc_id, shingle):
    the text-bearing hub the decontamination, prefix-filter and MinHash
    queries read."""
    from harvester_database_and_automation_spark.plans.text import _shingles

    return _shingles(spark, sf_dir)


@LAYER.register("shingle_index", depends_on=("shingles",))
def shingle_index(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 7 — (doc_id, shingle_digest): the inverted-index hub of the
    dedup family, digests only so the table never carries text."""
    return deps["shingles"].select("doc_id", F.md5("shingle").alias("shingle_digest"))


@LAYER.register("minhash_signatures", depends_on=("shingles",))
def minhash_signatures(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 7 — per-doc 16-component MinHash signature table (what a
    dedup service keys its LSH banding off between ingests)."""
    from harvester_database_and_automation_spark.plans.text import _minhash_sigs

    return _minhash_sigs(deps["shingles"])


@LAYER.register("minhash_calib_matched", depends_on=("minhash_signatures",))
def minhash_calib_matched(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 8 — LSH candidate pairs with their matching-component count
    (doc_a, doc_b, n_sig_match), the scored-pair frame the MinHash
    calibration reads in four branches."""
    from harvester_database_and_automation_spark.plans.text import _minhash_calib_matched

    return _minhash_calib_matched(deps["minhash_signatures"])


@LAYER.register("dup_pairs", depends_on=("shingle_index",))
def dup_pairs(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 8 — scored near-dup pairs (Jaccard >= 0.1, unrounded) built
    from the PUBLISHED shingle index: the inverted-index self-join reads
    digests only. Downstream thresholds slice this table (pair report at
    0.1, clustering edges and the prefix filter's verification at 0.5)."""
    sh = deps["shingle_index"]
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle_digest") == F.col("b.shingle_digest"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") * 1.0 / (F.col("s1.sz") + F.col("s2.sz") - F.col("n_common"))
    return (
        inter.join(sizes.alias("s1"), F.col("doc_a") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("doc_b") == F.col("s2.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.1)
    )


@LAYER.register("dup_components", depends_on=("dup_pairs",))
def dup_components(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 9 — the published (doc_id, component_id) map over the 0.5
    edge slice of dup_pairs; the table `incremental_components` maintains
    between full rebuilds."""
    from harvester_database_and_automation_spark.operators.components import (
        alternating_star_components,
    )

    edges = deps["dup_pairs"].filter(F.col("jaccard") >= 0.5).select("doc_a", "doc_b")
    labels = alternating_star_components(edges, src="doc_a", dst="doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(labels, docs.doc_id == labels.node, "left").select(
        "doc_id", F.coalesce("component_id", "doc_id").alias("component_id")
    )


@LAYER.register("simhash32_sig")
def simhash32_sig(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 6 — per-doc 32-bit SimHash signatures (doc_id, simhash32).
    Besides sharing the fold, the published scan is a pushdown barrier:
    join-inferred null checks on the band key cannot re-inline the fold
    below the fan-out."""
    from harvester_database_and_automation_spark.plans.text import _simhash32_sig

    return _simhash32_sig(spark, sf_dir)


@LAYER.register("simhash64_sig")
def simhash64_sig(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 6 — per-doc 64-bit SimHash signatures as two 32-bit words
    (doc_id, lo, hi); the same pushdown barrier as ``simhash32_sig``."""
    from harvester_database_and_automation_spark.plans.text import _simhash64_sig

    return _simhash64_sig(spark, sf_dir)


@LAYER.register("winnow_fingerprints")
def winnow_fingerprints(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 6 — the winnow fingerprint frame (doc_id, block, fp): the
    inverted-index input of the substring-overlap dedup signal. A dedup
    service persists fingerprints per ingest and pairs against the stored
    table."""
    from harvester_database_and_automation_spark.plans.text import _winnow_fps

    return _winnow_fps(spark, sf_dir)


@LAYER.register("ivf_index")
def ivf_index(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 6 — the ANN inverted file (vec_id, cid, sim, rk): per-vector
    centroid similarities with assignment rank, the table a vector store
    rebuilds only when centroids move."""
    from harvester_database_and_automation_spark.plans.embeddings import _ivf_ranked

    return _ivf_ranked(spark, sf_dir)


@LAYER.register("pq_recon")
def pq_recon(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 6 — per-vector PQ reconstructions (vec_id, rv): the decode of
    the stored 8-byte PQ codes against the broadcast codebook. In a vector
    store the codes table is the persisted artifact; publishing the decoded
    frame serves the flat and the IVF-composed ADC scans the same way."""
    from harvester_database_and_automation_spark.plans.embeddings import _pq_recon

    return _pq_recon(spark, sf_dir)


@LAYER.register("mutation_table")
def mutation_table(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 6 — the exploded (doc_id, pos, base) mutation triple table,
    the hub of the kernel family. The reference MATERIALIZES exactly this
    relation (consensus_sequence_mutation_nucleotide, init.sql:403-410)
    and rebuilds it per ingest; every kernel query reads it from here."""
    from harvester_database_and_automation_spark.plans.kernels import _mutations

    return _mutations(spark, sf_dir)


@LAYER.register("mutation_sets", depends_on=("mutation_table",))
def mutation_sets(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 7 — per-doc sorted int-encoded mutation sets (doc_id, mset),
    the pivot K3 and K4 compute set distances on."""
    from harvester_database_and_automation_spark.plans.kernels import _mutation_sets

    return _mutation_sets(deps["mutation_table"])


@LAYER.register("variant_calls")
def variant_calls(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 6 — per-(doc, variant) defining-site counts (doc_id, variant,
    n_confirmed, n_unknown, n_sites): K2's call table, which the lineage
    spectrum and the concordance report label documents from."""
    from harvester_database_and_automation_spark.plans.kernels import _variant_calls

    return _variant_calls(spark, sf_dir)


@LAYER.register(
    "lineage_mutation_counts",
    depends_on=("mutation_table", "variant_calls"),
    partition_by=("lang",),
)
def lineage_mutation_counts_table(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 7 — the spectrum_pangolin_lineage_mutation MV family
    (sequences_gisaid_api_based.sql:435-471): mutation counts + share per
    (lang, lineage, mutation). Materializing it here is what collapses the
    registered query's recompute exchanges into a single build per ingest —
    exactly why the reference keeps these as materialized views."""
    from harvester_database_and_automation_spark.plans.kernels import (
        _lineage_mutation_counts,
    )

    return _lineage_mutation_counts(
        spark, sf_dir, deps["mutation_table"], deps["variant_calls"]
    )


@LAYER.register("kmv_sketches")
def kmv_sketches(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 6 — per-segment KMV sketches: the 64 smallest key hashes per
    order-priority segment, ≤64 (segment, hv) rows each. Mergeability is
    the point of the sketch: any union of segments is estimable from the
    published 64-double rows alone, no raw re-scan — so a sketch service
    maintains exactly this table per ingest. Top-64 per segment is a
    TWO-LEVEL bounded window (per (segment, hash-sub-bucket) top-64, then
    per segment over the ≤64·256 survivors) so no task ever sorts a
    segment's full distinct-key set; the global per-segment top-64 is
    preserved exactly because every global winner survives its
    sub-bucket's local cut."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    keys = o.select(
        F.col("o_orderpriority").alias("segment"), "o_custkey"
    ).distinct()
    hv = (
        F.expr("cast(conv(substr(md5(cast(o_custkey as string)), 1, 15), 16, 10) as bigint)")
        / F.lit(1152921504606846976).cast("double")
    )
    hashed = keys.select("segment", hv.alias("hv"))
    sub = F.pmod(F.crc32(F.col("hv").cast("string")), F.lit(256))
    w1 = Window.partitionBy("segment", "sub").orderBy("hv")
    lvl1 = (
        hashed.withColumn("sub", sub)
        .withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") <= 64)
        .drop("rk", "sub")
    )
    w2 = Window.partitionBy("segment").orderBy("hv")
    return (
        lvl1.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= 64)
        .drop("rk")
    )


@LAYER.register("semdedup_assign", partition_by=("cell_bucket",))
def semdedup_assign(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 6 — the SemDeDup cell assignment (vec_id, cell, vec, norm,
    cell_bucket): the three-level tree-descent assignment runs once per
    ingest and the within-cell pair scan (`semantic_dedup_served`) reads
    the published frame — the assignment cost moves off the query path.
    Published partitioned by a 16-way cell bucket (cells hash-folded so
    the partition count stays constant as k = N/250 grows): a dedup
    review that re-scores churned cells scans only their buckets, and
    the incremental rebuild path can overwrite per bucket — the same
    partitioning-replaces-indexes serving shape as the lang-partitioned
    tables (SURVEY §4)."""
    from harvester_database_and_automation_spark.plans.embeddings import (
        _semdedup_members,
    )

    return _semdedup_members(spark, sf_dir).withColumn(
        "cell_bucket", F.pmod(F.col("cell"), F.lit(16)).cast("int")
    )


@LAYER.register("copurchase_edges")
def copurchase_edges(spark: SparkSession, sf_dir: str, deps) -> DataFrame:
    """Layer 6 — the weighted part co-purchase edge list (pa < pb, weight
    = co-occurring orders, pruned at weight >= 2): the graph hub that
    `part_copurchase_pagerank` and `part_copurchase_triangles` read.
    Published, the basket pair expansion (the expensive map-side step)
    runs once per ingest; rank/triangle jobs read int pairs."""
    from harvester_database_and_automation_spark.plans.text import _copurchase_edges

    return _copurchase_edges(spark, sf_dir)


# ---------------------------------------------------------------------------
# Serving store: consumers read the MAINTAINED derived table, they do not
# recompute it. This is the deployment shape every "materialized in
# production" claim in scripts/audit_plans.py makes — the reference's MV
# serving layer (sequences_gisaid_api_based.sql:22-113 is read, not
# rebuilt, per query) — made real for registered queries: the first
# reader of a (corpus, table) pair publishes it once via the versioned
# protocol; every later plan is a parquet scan of the published version.
# ---------------------------------------------------------------------------
_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SERVE_ROOT = os.path.join(os.path.dirname(_PKG_DIR), ".derived")


@functools.cache
def _code_fingerprint(pkg_dir: str) -> str:
    """sha256 over every ``.py`` file under ``pkg_dir`` (relative path and
    bytes, in path order). A table's output depends on helpers anywhere
    in the package (catalog, shared fan-out, functions), so only the whole
    package is a key that cannot miss an input."""
    h = hashlib.sha256()
    root = Path(pkg_dir)
    for p in sorted(root.rglob("*.py")):
        data = p.read_bytes()
        h.update(f"{p.relative_to(root).as_posix()}\0{len(data)}\0".encode())
        h.update(data)
    return h.hexdigest()[:16]


def _store_root(sf_dir: str) -> str:
    """The store's ``out_root`` for the corpus at ``sf_dir`` under the
    running code: ``<corpus tag>-<corpus fp>-<code fp>``."""
    tag = os.path.abspath(sf_dir).strip(os.sep).replace(os.sep, "__")
    return os.path.join(
        _SERVE_ROOT, f"{tag}-{corpus_fingerprint(sf_dir)}-{_code_fingerprint(_PKG_DIR)}"
    )


def read_derived(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read derived table ``name`` for the corpus at ``sf_dir`` from the
    published serving store, building and publishing it (and its
    transitive deps, each from the PUBLISHED layer below) once per
    (corpus content, package code). The store is laid out like a
    ``rebuild`` output, ``<store root>/<table>``, where the root is keyed
    by a corpus fingerprint (file sizes + mtimes — a corpus regenerated at
    the same path re-keys) AND a sha256 over every ``.py`` file of the
    package, so existence of a published version IS the freshness check.
    The cost of that key: any edit to the package rebuilds each table
    once per corpus, on its first read. This is the only tier that shares
    a hub between queries, so each consumer pays one parquet read of the
    published table, and a cold store publishes each hub once."""
    root = _store_root(sf_dir)
    table_dir = os.path.join(root, name)
    try:
        return read_published(spark, table_dir)
    except FileNotFoundError:
        pass
    for dep in LAYER.tables[name].depends_on:
        read_derived(spark, sf_dir, dep)  # publishes the dep if absent
    try:
        LAYER._publish(spark, sf_dir, root, name)
    except Exception:
        # Only a concurrent publisher winning the version directory is
        # recoverable (its marker is authoritative — read what it
        # published). Any other publish failure (disk full, schema error,
        # interrupted write) leaves NO current version; re-raising here
        # keeps the root cause instead of a misleading FileNotFoundError
        # from the follow-up read.
        if current_version(table_dir) is None:
            raise
    return read_published(spark, table_dir)
