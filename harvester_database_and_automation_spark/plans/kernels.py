"""Domain compute kernels (SURVEY.md §2.9) exercised as oracle-checked
queries. The genomics kernels operate on a deterministic pseudo-sequence
derived from each document (its ACGT letters), so the SAME algorithm the
reference runs on genomes is verified end-to-end against the SQL oracle on
the shared corpus. The reusable column functions live in
``functions/genomics.py`` and the K6 rule rewriter in ``functions/geo.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from harvester_database_and_automation_spark.catalog import load_table
from harvester_database_and_automation_spark.functions.genomics import pseudo_sequence
from harvester_database_and_automation_spark.plans.registry import register
from harvester_database_and_automation_spark.pipelines.derived import read_derived
from harvester_database_and_automation_spark.plans.shared import QHASH_SQL, fanout, qhash

# Pseudo-genome: the document's ACGT letters, uppercased (deterministic,
# same expression both engines).
_SEQ_SQL = "upper(regexp_replace(text, '[^acgt]', '', 'g'))"

# Inline variant definitions: (variant, 1-based position, expected base) —
# the variant_mutation_nucleotide shape (/root/reference/database/init.sql:477-483).
_VARIANT_DEFS = [
    ("ALPHA", 1, "A"),
    ("ALPHA", 2, "T"),
    ("ALPHA", 4, "G"),
    ("ALPHA", 6, "C"),
    ("ALPHA", 8, "T"),
    ("BETA", 1, "T"),
    ("BETA", 3, "A"),
    ("BETA", 5, "A"),
    ("BETA", 7, "G"),
    ("BETA", 9, "A"),
]
_VARIANT_VALUES_SQL = ", ".join(f"('{v}', {p}, '{b}')" for v, p, b in _VARIANT_DEFS)


# Shared CTE fragments for the mutation-set kernels (K1/K3/K4): reference
# genome = pseudo-sequence of doc 0; mutations = first-60-position diffs
# vs the reference, skipping masked sites {3, 7} (the ext_problematic_site
# contract, /root/reference/database/init.sql:969-974) and non-ACGT bases.
_MASKED_SITES = (3, 7)
_SEQ_WINDOW = 60

_MUTS_CTES = f"""
seqs AS (SELECT doc_id, {_SEQ_SQL} AS seq FROM documents),
ref AS (SELECT seq AS refseq FROM seqs WHERE doc_id = 0),
muts AS (
  SELECT s.doc_id, i AS pos, substr(s.seq, i, 1) AS base
  FROM seqs s CROSS JOIN ref r,
       unnest(generate_series(1, {_SEQ_WINDOW})) AS u(i)
  WHERE i <= least(length(s.seq), length(r.refseq))
    AND substr(s.seq, i, 1) <> substr(r.refseq, i, 1)
    AND substr(s.seq, i, 1) IN ('A','C','G','T')
    AND substr(r.refseq, i, 1) IN ('A','C','G','T')
    AND i NOT IN {_MASKED_SITES}
),
mut_sizes AS (
  SELECT s.doc_id, count(m.pos) AS sz
  FROM seqs s LEFT JOIN muts m ON s.doc_id = m.doc_id
  GROUP BY s.doc_id
)
"""


def _mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, pos, base) mutation triple table mirroring
    _MUTS_CTES' ``muts`` — the builder of the ``mutation_table`` derived
    table, the hub of the kernel family (the reference materializes it as
    consensus_sequence_mutation_nucleotide, init.sql:403-410).

    K1 — nucleotide mutation finder (general/NucleotideMutationFinder.java:
    76-117): aligned sequence vs broadcast reference, masked sites skipped,
    non-ACGT skipped, (position, base) diffs emitted. Expressed as
    explode(sequence) + filters — pure codegen, no UDF.
    """
    docs = load_table(spark, sf_dir, "documents")
    seqs = fanout(docs.select("doc_id", "text")).select(
        "doc_id", pseudo_sequence("text").alias("seq")
    )
    ref = seqs.filter(F.col("doc_id") == 0).select(F.col("seq").alias("refseq"))
    site = F.substring(F.col("seq"), F.col("pos"), 1)
    ref_site = F.substring(F.col("refseq"), F.col("pos"), 1)
    return (
        seqs.crossJoin(F.broadcast(ref))
        .select("doc_id", "seq", "refseq", F.explode(F.sequence(F.lit(1), F.lit(_SEQ_WINDOW))).alias("pos"))
        .filter(F.col("pos") <= F.least(F.length("seq"), F.length("refseq")))
        .filter(site != ref_site)
        .filter(site.isin("A", "C", "G", "T") & ref_site.isin("A", "C", "G", "T"))
        .filter(~F.col("pos").isin(*_MASKED_SITES))
        .select("doc_id", "pos", site.alias("base"))
    )


def _mutation_sets(muts: DataFrame) -> DataFrame:
    """Per-doc sorted int-encoded mutation set (doc_id, mset), encoding
    pos*256 + base codepoint — the builder of the ``mutation_sets``
    derived table over the published mutation triples."""
    enc = (F.col("pos") * 256 + F.ascii("base")).cast("int")
    return muts.groupBy("doc_id").agg(F.array_sort(F.collect_list(enc)).alias("mset"))


# FIXED-SIZE doc samples (shared.qhash): a modulus predicate (doc_id % m)
# makes the sample corpus-PROPORTIONAL, which turns the (query x
# reference) pair scan into O(N^2) — the full-registry 100x curve
# measured K3/K4 at 30-42x for 10x data on exactly that shape.
def _doc_sample_sql(n: int) -> str:
    """DuckDB CTE body: the ``n`` doc_ids with the smallest portable hash."""
    return (
        "SELECT doc_id FROM ("
        "  SELECT doc_id, row_number() OVER "
        f"(ORDER BY {QHASH_SQL.format(id='doc_id')}, doc_id) AS qrk"
        "   FROM documents"
        f") t WHERE qrk <= {n}"
    )


def _pair_distances(spark: SparkSession, sf_dir: str, n_queries: int, r_cols):
    """Mutation-set distance |A| + |B| - 2|A∩B| of every reference doc to
    each of a FIXED-SIZE hash-sampled query batch (``n_queries`` docs —
    the bounded shape of the reference's actual workloads: a curated
    focal set in priorities_from_database.py, a per-day import batch in
    OriginCountryEstimator — so cost is O(N·batch), never O(N²)).

    Each doc's mutation set is aggregated ONCE into a sorted int-encoded
    array (pos*256 + base codepoint); the query batch is a bounded
    broadcast and the per-pair distance is
    size+size-2*size(array_intersect) — distances are exact integers, so
    this is free to differ structurally from the SQL oracle. No muts-muts
    shuffle join, no recomputation of the mutation subtree per use, and
    genome strings never enter a shuffle (SURVEY.md §7 risk register).
    """
    # K3 and K4 both pivot on the per-doc mutation set, read from the
    # `mutation_sets` derived table (itself built from the published
    # `mutation_table`). K3/K4's oracles replay the derivation from raw
    # text, so what they certify is the publish + read round trip.
    msets = read_derived(spark, sf_dir, "mutation_sets")
    docs = load_table(spark, sf_dir, "documents")
    base = docs.join(msets, "doc_id", "left").withColumn(
        "mset", F.coalesce(F.col("mset"), F.array().cast("array<int>"))
    )
    qids = (
        docs.select("doc_id")
        .withColumn("_qh", qhash(F.col("doc_id")))
        .orderBy("_qh", "doc_id")
        .limit(n_queries)
        .drop("_qh")
    )
    q = base.join(F.broadcast(qids), "doc_id").select(
        F.col("doc_id").alias("qid"), F.col("mset").alias("qset")
    )
    r = fanout(
        base.join(F.broadcast(qids), "doc_id", "left_anti").select(
            F.col("doc_id").alias("rid"), *r_cols, F.col("mset").alias("rset")
        )
    )
    return (
        F.broadcast(q)
        .crossJoin(r)
        .withColumn(
            "dist",
            F.size("qset") + F.size("rset") - 2 * F.size(F.array_intersect("qset", "rset")),
        )
        .drop("qset", "rset")
    )


@register(
    "k1_mutation_finder",
    survey_ref="K1,A1",
    oracle=f"""
WITH {_MUTS_CTES}
SELECT pos, base, count(*) AS n_seqs
FROM muts
GROUP BY pos, base
""",
)
def k1_mutation_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 — nucleotide mutation finder, aggregated to the per-site mutation
    spectrum (position, base, #sequences). The exploded long-format mutation
    table is the same shape as consensus_sequence_mutation_nucleotide
    (/root/reference/database/init.sql:403-410)."""
    muts = read_derived(spark, sf_dir, "mutation_table")
    return muts.groupBy("pos", "base").agg(F.count(F.lit(1)).alias("n_seqs"))


_K3_VOTES_SQL = """
pairs AS (
  SELECT q.doc_id AS qid, r.doc_id AS rid, r.lang, r.doc_id % 5 AS fold,
         sq.sz + sr.sz - 2 * coalesce(i.n_common, 0) AS dist
  FROM qsample q
  CROSS JOIN (SELECT doc_id, lang FROM documents
              WHERE doc_id NOT IN (SELECT doc_id FROM qsample)) r
  JOIN mut_sizes sq ON sq.doc_id = q.doc_id
  JOIN mut_sizes sr ON sr.doc_id = r.doc_id
  LEFT JOIN (
    SELECT a.doc_id AS qid, b.doc_id AS rid, count(*) AS n_common
    FROM muts a JOIN muts b ON a.pos = b.pos AND a.base = b.base
    WHERE a.doc_id IN (SELECT doc_id FROM qsample)
      AND b.doc_id NOT IN (SELECT doc_id FROM qsample)
    GROUP BY 1, 2
  ) i ON i.qid = q.doc_id AND i.rid = r.doc_id
),
nn AS (
  SELECT qid, fold, lang,
         row_number() OVER (PARTITION BY qid, fold ORDER BY dist, rid) AS rk
  FROM pairs
),
votes AS (SELECT qid, lang, count(*) AS n_votes FROM nn WHERE rk = 1 GROUP BY 1, 2)
"""


@register(
    "k3_origin_estimator",
    survey_ref="K3,J8,W2,A1",
    oracle=f"""
WITH {_MUTS_CTES},
qsample AS ({_doc_sample_sql(60)}),
{_K3_VOTES_SQL.strip()},
best AS (
  SELECT qid, lang, n_votes,
         row_number() OVER (PARTITION BY qid ORDER BY n_votes DESC, lang) AS rk
  FROM votes
)
SELECT qid AS doc_id,
       CASE WHEN n_votes >= 3 THEN lang ELSE 'UNDECIDED' END AS origin_lang,
       CAST(n_votes AS BIGINT) AS n_votes
FROM best WHERE rk = 1
""",
)
def k3_origin_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 — 1-NN origin estimation (origincountry/OriginCountryEstimator.
    java:91-186, 230-271): mutation-set distance of each query sequence to
    5 deterministic reference folds (doc_id % 5 in place of the random
    subsample), nearest neighbor per fold votes its lang, majority >= 3/5
    decides, else UNDECIDED. Random tie-breaks become (dist, rid) ordering
    so the oracle agrees bit-for-bit. The query side is a FIXED 60-doc
    hash sample — the reference estimates origins for a bounded per-run
    batch of new sequences, so cost is O(N·batch); the earlier modulus
    split made both sides corpus-proportional (an O(N²) scan the 100x
    curve measured at 42x for 10x data)."""
    votes = _k3_fold_votes(spark, sf_dir)
    wv = Window.partitionBy("qid").orderBy(F.col("n_votes").desc(), F.col("lang"))
    return (
        votes.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select(
            F.col("qid").alias("doc_id"),
            F.when(F.col("n_votes") >= 3, F.col("lang")).otherwise("UNDECIDED").alias("origin_lang"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
        )
    )


def _k3_fold_votes(spark: SparkSession, sf_dir: str):
    """K3's per-(query, lang) fold votes — the gisaid_sequence_close_country
    analog (10 close-country estimates per strain there; 5 deterministic
    fold NNs here). Shared by the estimator itself and its consumer
    rollup `close_country_majority`."""
    pairs = _pair_distances(spark, sf_dir, 60, [F.col("lang")]).withColumn(
        "fold", F.col("rid") % 5
    )
    w = Window.partitionBy("qid", "fold").orderBy("dist", "rid")
    nn = pairs.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return nn.groupBy("qid", "lang").agg(F.count(F.lit(1)).alias("n_votes"))


@register(
    "close_country_majority",
    survey_ref="K3,A1,A7,J1",
    oracle=f"""
WITH {{muts_ctes}},
qsample AS ({{qsample}}),
{{votes}},
majority AS (
  SELECT qid, lang FROM votes WHERE n_votes >= 3
),
strat AS (
  SELECT d.source, m.lang AS origin_lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM majority m JOIN documents d ON d.doc_id = m.qid
  GROUP BY 1, 2
)
SELECT s.source, s.origin_lang, s.n_docs,
       round(s.n_docs * 1.0 / t.total, 6) AS share
FROM strat s
JOIN (SELECT source, sum(n_docs) AS total FROM strat GROUP BY source) t
  ON t.source = s.source
""".format(muts_ctes=_MUTS_CTES, qsample=_doc_sample_sql(60), votes=_K3_VOTES_SQL.strip()),
)
def close_country_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The K3 CONSUMER rollup — the reference's close-country analysis
    (database/sql/close_country_analysis.sql:2-37, 39-91): keep only
    query sequences whose estimates reach an ABSOLUTE majority (>= 6 of
    10 close-country draws there; >= 3 of 5 fold NNs here — at most one
    winner per query by construction), then roll the winners up per
    stratum with a share-of-stratum denominator (the month-share pattern
    of lines 68-91; `source` plays the month stratum — the synthetic
    corpus carries no date column). Composes K3's vote frame with the A7
    share pattern: everything downstream of the vote frame is
    dimension-sized (60 queries x <=5 langs), so the rollup adds two
    broadcast-scale aggregations to the K3 plan, nothing
    corpus-proportional."""
    votes = _k3_fold_votes(spark, sf_dir)
    majority = votes.filter(F.col("n_votes") >= 3).select("qid", "lang")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    strat = (
        F.broadcast(majority).join(docs, majority.qid == docs.doc_id)
        .groupBy("source", F.col("lang").alias("origin_lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    # Share denominator as a window over the GROUPED frame, not a second
    # aggregate joined back: a groupBy+join would duplicate the whole K3
    # vote subtree in the plan (two corpus passes); the window reuses the
    # one strat subtree and partitions a dimension-sized frame.
    w_tot = Window.partitionBy("source")
    return strat.select(
        "source",
        "origin_lang",
        "n_docs",
        F.round(F.col("n_docs") * 1.0 / F.sum("n_docs").over(w_tot), 6).alias("share"),
    )


@register(
    "k4_priority_scorer",
    survey_ref="K4,W2,A1",
    oracle=f"""
WITH {_MUTS_CTES},
qsample AS ({_doc_sample_sql(40)}),
pairs AS (
  SELECT c.doc_id AS rid, c.n_chars, f.doc_id AS qid,
         sc.sz + sf.sz - 2 * coalesce(i.n_common, 0) AS dist
  FROM (SELECT doc_id, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM qsample)) c
  CROSS JOIN qsample f
  JOIN mut_sizes sc ON sc.doc_id = c.doc_id
  JOIN mut_sizes sf ON sf.doc_id = f.doc_id
  LEFT JOIN (
    SELECT a.doc_id AS qid, b.doc_id AS rid, count(*) AS n_common
    FROM muts a JOIN muts b ON a.pos = b.pos AND a.base = b.base
    WHERE a.doc_id IN (SELECT doc_id FROM qsample)
      AND b.doc_id NOT IN (SELECT doc_id FROM qsample)
    GROUP BY 1, 2
  ) i ON i.qid = f.doc_id AND i.rid = c.doc_id
),
closest AS (
  SELECT rid, n_chars, qid AS closest_focal, dist,
         row_number() OVER (PARTITION BY rid ORDER BY dist, qid) AS rk
  FROM pairs
),
ranked AS (
  SELECT rid, n_chars, closest_focal, dist,
         row_number() OVER (PARTITION BY closest_focal ORDER BY dist, rid) AS crowd_rank
  FROM closest WHERE rk = 1
)
SELECT rid AS doc_id, closest_focal, CAST(dist AS BIGINT) AS min_dist,
       -dist - CAST(0.01 AS DOUBLE) * (n_chars % 10)
             - CAST(0.1 AS DOUBLE) * (crowd_rank - 1) AS priority
FROM ranked
""",
)
def k4_priority_scorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 — genetic priority scorer (database/python/priorities_from_
    database.py:29-119, 230-262): each context sequence scored by
    -(min SNP distance to the focal set) with a quality penalty (n_chars%10
    standing in for the N-count) and a crowding penalty of -0.1 per rank
    among contexts sharing the same closest focal sequence. The sparse
    matrix products become the mutation-set intersection join. The focal
    set is a FIXED 40-doc hash sample — focal sets in the reference are
    small user-curated variant lists, so every context is scored against
    a bounded batch (O(N·batch); the earlier modulus split was O(N²),
    measured at 30x for 10x data on the 100x curve)."""
    pairs = _pair_distances(spark, sf_dir, 40, [F.col("n_chars")])
    wc = Window.partitionBy("rid").orderBy("dist", "qid")
    closest = (
        pairs.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") == 1)
        .select("rid", "n_chars", F.col("qid").alias("closest_focal"), "dist")
    )
    wr = Window.partitionBy("closest_focal").orderBy("dist", "rid")
    ranked = closest.withColumn("crowd_rank", F.row_number().over(wr))
    priority = (
        -F.col("dist")
        - F.lit(0.01).cast("double") * (F.col("n_chars") % 10)
        - F.lit(0.1).cast("double") * (F.col("crowd_rank") - 1)
    )
    return ranked.select(
        F.col("rid").alias("doc_id"),
        "closest_focal",
        F.col("dist").cast("bigint").alias("min_dist"),
        priority.alias("priority"),
    )


@register(
    "k7_alias_resolver",
    survey_ref="K7,P3,J1",
    oracle="""
WITH aliases AS (
  SELECT * FROM (VALUES ('AY', 'B.1.617.2'), ('BA', 'B.1.1.529'), ('XD', 'X.4')) AS a(alias, full_name)
),
lin AS (
  SELECT doc_id,
         (CASE doc_id % 4 WHEN 0 THEN 'AY' WHEN 1 THEN 'BA' WHEN 2 THEN 'QQ' ELSE 'zz' END)
           || '.' || (doc_id % 3) || '.' || (n_chars % 5) AS lineage
  FROM documents
),
resolved AS (
  SELECT l.doc_id, l.lineage,
         regexp_matches(l.lineage, '^[A-Z]{1,2}(\\.[0-9]{1,3})*$') AS is_valid,
         coalesce(a.full_name || substr(l.lineage, length(split_part(l.lineage, '.', 1)) + 1),
                  l.lineage) AS full_lineage
  FROM lin l
  LEFT JOIN aliases a ON split_part(l.lineage, '.', 1) = a.alias
)
SELECT lineage, full_lineage, is_valid, count(*) AS n_docs
FROM resolved
GROUP BY lineage, full_lineage, is_valid
""",
)
def k7_alias_resolver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 — pango-style alias resolution (pangolineage/PangolinLineage
    AliasImporter.java:47-195): validity regex [A-Z]{1,2}(\\.[0-9]{1,3})*,
    alias prefix expanded to the full name via a broadcast dim join
    (alias 'BA' + '.1.2' -> 'B.1.1.529.1.2'), unknown prefixes pass
    through unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    aliases = spark.createDataFrame(
        [("AY", "B.1.617.2"), ("BA", "B.1.1.529"), ("XD", "X.4")], "alias string, full_name string"
    )
    prefix = (
        F.when(F.col("doc_id") % 4 == 0, "AY")
        .when(F.col("doc_id") % 4 == 1, "BA")
        .when(F.col("doc_id") % 4 == 2, "QQ")
        .otherwise("zz")
    )
    lin = docs.select(
        "doc_id",
        F.concat_ws(
            ".", prefix, (F.col("doc_id") % 3).cast("string"), (F.col("n_chars") % 5).cast("string")
        ).alias("lineage"),
    )
    head = F.split_part(F.col("lineage"), F.lit("."), F.lit(1))
    resolved = (
        lin.join(F.broadcast(aliases), head == F.col("alias"), "left")
        .select(
            "lineage",
            F.col("lineage").rlike(r"^[A-Z]{1,2}(\.[0-9]{1,3})*$").alias("is_valid"),
            F.coalesce(
                F.concat(F.col("full_name"), F.expr("substr(lineage, length(split_part(lineage, '.', 1)) + 1)")),
                F.col("lineage"),
            ).alias("full_lineage"),
        )
    )
    return resolved.groupBy("lineage", "full_lineage", "is_valid").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "k11_read_distribution",
    survey_ref="K11,A2",
    oracle=f"""
WITH seqs AS (SELECT doc_id, {_SEQ_SQL} AS seq FROM documents),
by_pos AS (
  SELECT i AS pos, substr(seq, i, 1) AS base
  FROM seqs, unnest(generate_series(1, 20)) AS u(i)
  WHERE i <= length(seq)
)
SELECT pos,
       CAST(sum(CASE WHEN base = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a_count,
       CAST(sum(CASE WHEN base = 'C' THEN 1 ELSE 0 END) AS BIGINT) AS c_count,
       CAST(sum(CASE WHEN base = 'G' THEN 1 ELSE 0 END) AS BIGINT) AS g_count,
       CAST(sum(CASE WHEN base = 'T' THEN 1 ELSE 0 END) AS BIGINT) AS t_count
FROM by_pos
GROUP BY pos
""",
)
def k11_read_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K11 — read-distribution inspector (database/R/utility.R:208-258):
    per-position A/C/G/T counts across the corpus, as a conditional-agg
    pivot over the first 20 sites."""
    docs = load_table(spark, sf_dir, "documents")
    seqs = docs.select(pseudo_sequence("text").alias("seq"))
    by_pos = (
        seqs.select(F.explode(F.sequence(F.lit(1), F.lit(20))).alias("pos"), "seq")
        .filter(F.col("pos") <= F.length("seq"))
        .select("pos", F.substring(F.col("seq"), F.col("pos"), 1).alias("base"))
    )
    def cnt(b: str):
        return F.sum(F.when(F.col("base") == b, 1).otherwise(0)).cast("bigint")

    return by_pos.groupBy("pos").agg(
        cnt("A").alias("a_count"), cnt("C").alias("c_count"),
        cnt("G").alias("g_count"), cnt("T").alias("t_count"),
    )


@register(
    "a11_mean_hamming",
    survey_ref="A11,J7,A1",
    oracle=f"""
WITH qsample AS ({_doc_sample_sql(120)}),
seqs AS (
  SELECT doc_id, lang, substr({_SEQ_SQL}, 1, 30) AS s
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM qsample) AND length({_SEQ_SQL}) >= 30
),
pairs AS (
  SELECT a.lang, a.doc_id AS da, b.doc_id AS db,
         (SELECT count(*) FROM unnest(generate_series(1, 30)) AS u(i)
          WHERE substr(a.s, i, 1) <> substr(b.s, i, 1)) AS hamming
  FROM seqs a JOIN seqs b ON a.lang = b.lang AND a.doc_id < b.doc_id
)
SELECT lang, count(*) AS n_pairs, round(avg(hamming), 6) AS mean_hamming
FROM pairs
GROUP BY lang
""",
)
def a11_mean_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — mean pairwise Hamming distance per group (database/R/
    utility.R:306-313, phangorn::dist.hamming): sampled sequences self-join
    within lang, per-pair distance via a higher-order count over the first
    30 sites, then group mean. The analysis sample is a FIXED 120-doc hash
    draw — a distance MATRIX is quadratic in its sample by definition, so
    the sample must be bounded (the reference hands phangorn a bounded
    alignment, never the whole warehouse); the earlier doc_id % 17 sample
    grew with the corpus and took the pair count quadratic with it."""
    docs = load_table(spark, sf_dir, "documents")
    seq = pseudo_sequence("text")
    qids = (
        docs.select("doc_id")
        .withColumn("_qh", qhash(F.col("doc_id")))
        .orderBy("_qh", "doc_id")
        .limit(120)
        .drop("_qh")
    )
    seqs = (
        docs.join(F.broadcast(qids), "doc_id")
        .select("doc_id", "lang", F.substring(seq, 1, 30).alias("s"))
        .filter(F.length(seq) >= 30)
    )
    from harvester_database_and_automation_spark.functions.genomics import hamming

    a = seqs.select(F.col("lang"), F.col("doc_id").alias("da"), F.col("s").alias("sa"))
    b = seqs.select(F.col("lang").alias("lang_b"), F.col("doc_id").alias("db"), F.col("s").alias("sb"))
    pairs = (
        a.join(b, (F.col("lang") == F.col("lang_b")) & (F.col("da") < F.col("db")))
        .select("lang", hamming("sa", "sb", 30).alias("hamming"))
    )
    return pairs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_pairs"), F.round(F.avg("hamming"), 6).alias("mean_hamming")
    )


def _variant_calls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, variant) defining-site classification — the shared core of
    K2 and the lineage-spectrum MV (which labels each doc with its best
    call). The builder of the ``variant_calls`` derived table, the analog
    of the reference's variant call tables."""
    docs = load_table(spark, sf_dir, "documents")
    seqs = fanout(docs.select("doc_id", "text")).select(
        "doc_id", pseudo_sequence("text").alias("seq")
    )
    defs = spark.createDataFrame(_VARIANT_DEFS, "variant string, pos int, base string")
    site = F.substring(F.col("seq"), F.col("pos"), 1)
    return (
        seqs.crossJoin(F.broadcast(defs))
        .groupBy("doc_id", "variant")
        .agg(
            F.sum(F.when(site == F.col("base"), 1).otherwise(0)).cast("bigint").alias("n_confirmed"),
            F.sum(F.when(site == "", 1).otherwise(0)).cast("bigint").alias("n_unknown"),
            F.count(F.lit(1)).alias("n_sites"),
        )
    )


@register(
    "k2_variant_caller",
    survey_ref="K2,J7,A2",
    oracle=f"""
WITH seqs AS (SELECT doc_id, {_SEQ_SQL} AS seq FROM documents),
defs AS (SELECT * FROM (VALUES {_VARIANT_VALUES_SQL}) AS v(variant, pos, base)),
calls AS (
  SELECT doc_id, variant,
         CAST(sum(CASE WHEN substr(seq, pos, 1) = base THEN 1 ELSE 0 END) AS BIGINT) AS n_confirmed,
         CAST(sum(CASE WHEN substr(seq, pos, 1) = '' THEN 1 ELSE 0 END) AS BIGINT)   AS n_unknown,
         count(*) AS n_sites
  FROM seqs CROSS JOIN defs
  GROUP BY doc_id, variant
)
SELECT variant,
       CAST(sum(CASE WHEN n_confirmed >= 0.8 * n_sites THEN 1 ELSE 0 END) AS BIGINT) AS n_called,
       CAST(sum(n_confirmed) AS BIGINT) AS total_confirmed,
       CAST(sum(n_unknown) AS BIGINT)   AS total_unknown
FROM calls
GROUP BY variant
""",
)
def k2_variant_caller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 — the 80%-rule SQL variant caller: classify each defining site by
    substr(seq, pos, 1), call the variant when confirmed sites reach 80% of
    the definition (database/sql/consensus_sequence.sql:21-72; GISAID
    version gisaid.sql:170-254). crossJoin(sequences, defs) + conditional
    agg, with the small definition table broadcast."""
    calls = read_derived(spark, sf_dir, "variant_calls")
    return calls.groupBy("variant").agg(
        F.sum(F.when(F.col("n_confirmed") >= 0.8 * F.col("n_sites"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_called"),
        F.sum("n_confirmed").cast("bigint").alias("total_confirmed"),
        F.sum("n_unknown").cast("bigint").alias("total_unknown"),
    )


@register(
    "k5_frameshift_detector",
    survey_ref="K5",
    oracle="""
WITH gapped AS (
  SELECT doc_id,
         '0-' || (n_chars % 7) || ',' || (n_chars % 11) || '-' || (n_chars % 11 + n_chars % 5) AS gaps
  FROM documents
)
SELECT doc_id, gaps,
       len(list_filter(string_split(gaps, ','),
                       g -> (split_part(g, '-', 2)::INT - split_part(g, '-', 1)::INT) % 3 <> 0)) > 0
         AS has_frameshift
FROM gapped
""",
)
def k5_frameshift_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 — frameshift detector: a gaps string "a-b,c-d" has a frameshift
    iff any (b-a) % 3 != 0 (database/R/utility.R:264-300). Pure higher-order
    functions (split → exists), no UDF. The gaps strings are derived
    deterministically from n_chars so both engines see identical input."""
    docs = load_table(spark, sf_dir, "documents")
    gaps = F.concat_ws(
        "",
        F.lit("0-"),
        (F.col("n_chars") % 7).cast("string"),
        F.lit(","),
        (F.col("n_chars") % 11).cast("string"),
        F.lit("-"),
        (F.col("n_chars") % 11 + F.col("n_chars") % 5).cast("string"),
    )
    from harvester_database_and_automation_spark.functions.genomics import has_frameshift

    return docs.select("doc_id", gaps.alias("gaps")).select(
        "doc_id", "gaps", has_frameshift("gaps").alias("has_frameshift")
    )


@register(
    "k8_mention_miner",
    survey_ref="K8,J1",
    oracle="""
WITH vocab AS (SELECT * FROM (VALUES ('customer'), ('window'), ('column'), ('stream'), ('vector')) AS v(term)),
mentions AS (
  SELECT DISTINCT doc_id, word AS term
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{6,}')) AS word FROM documents) t
)
SELECT m.term, count(*) AS n_docs
FROM mentions m JOIN vocab v ON m.term = v.term
GROUP BY m.term
""",
)
def k8_mention_miner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 — regex mention mining joined against a known vocabulary: extract
    candidate tokens, inner-join the dictionary, count mentioning docs
    (the pubmed lineage miner, database/sql/pubmed_init.sql:41-57)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = spark.createDataFrame(
        [("customer",), ("window",), ("column",), ("stream",), ("vector",)], "term string"
    )
    mentions = (
        docs.select(
            "doc_id", F.explode(F.expr("regexp_extract_all(text, '([a-z]{6,})', 1)")).alias("term")
        )
        .distinct()
    )
    return (
        mentions.join(F.broadcast(vocab), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "k9_condition_classifier",
    survey_ref="K9,P4",
    oracle="""
WITH flags AS (
  SELECT doc_id,
         CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS is_spark,
         CASE WHEN text LIKE '%stream%' THEN 1 ELSE 0 END AS is_stream,
         CASE WHEN text LIKE '%vector%' THEN 1 ELSE 0 END AS is_vector
  FROM documents
)
SELECT doc_id,
       CASE
         WHEN is_spark + is_stream + is_vector > 1 THEN 'NO_UNIQUE_ASSIGNMENT'
         WHEN is_spark = 1  THEN 'SPARK'
         WHEN is_stream = 1 THEN 'STREAM'
         WHEN is_vector = 1 THEN 'VECTOR'
         ELSE 'UNCLASSIFIED'
       END AS condition
FROM flags
""",
)
def k9_condition_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 — rule-class classifier with ambiguity detection: each rule is a
    pattern flag; >1 matching rule → NO_UNIQUE_ASSIGNMENT
    (database/python/extract_sample_conditions.py:38-103)."""
    docs = load_table(spark, sf_dir, "documents")
    is_spark = F.when(F.col("text").like("%spark%"), 1).otherwise(0)
    is_stream = F.when(F.col("text").like("%stream%"), 1).otherwise(0)
    is_vector = F.when(F.col("text").like("%vector%"), 1).otherwise(0)
    flags = docs.select(
        "doc_id", is_spark.alias("is_spark"), is_stream.alias("is_stream"), is_vector.alias("is_vector")
    )
    condition = (
        F.when(F.col("is_spark") + F.col("is_stream") + F.col("is_vector") > 1, "NO_UNIQUE_ASSIGNMENT")
        .when(F.col("is_spark") == 1, "SPARK")
        .when(F.col("is_stream") == 1, "STREAM")
        .when(F.col("is_vector") == 1, "VECTOR")
        .otherwise("UNCLASSIFIED")
    )
    return flags.select("doc_id", condition.alias("condition"))


@register(
    "k6_geo_rules",
    survey_ref="K6",
    # The fixpoint rewriting is iterative per row, but THIS rule set's
    # closure is small and deterministic (GeoLocationMapper.java:20-131
    # semantics; unit-tested in tests/test_geo.py), so the expected
    # rewrites are precomputed into a golden CASE expression: de chains
    # through Deutsch to (Europe, Germany); fr/zh map directly; src0
    # normalizes to source-zero regardless of country; everything else is
    # untouched (region stays 'unknown').
    oracle="""
SELECT CASE WHEN lang IN ('de', 'fr') THEN 'Europe'
            WHEN lang = 'zh' THEN 'Asia'
            ELSE 'unknown' END AS region,
       CASE WHEN lang = 'de' THEN 'Germany'
            WHEN lang = 'fr' THEN 'France'
            WHEN lang = 'zh' THEN 'China'
            ELSE lang END AS country,
       CASE WHEN source = 'src0' THEN 'source-zero' ELSE source END AS division,
       count(*) AS n_docs
FROM documents
GROUP BY 1, 2, 3
""",
)
def k6_geo_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 — geo-location rule rewriting (gisaid/GeoLocationMapper.java:
    20-131) applied to tuples derived from the documents table: lang acts
    as the country field, source as the division. The rule set includes a
    wildcard rule and a 2-step chain so the fixpoint loop is exercised.
    Unit-level semantics are covered by tests/test_geo.py; here the rows
    pass through the broadcast-rules pandas UDF and aggregate."""
    from harvester_database_and_automation_spark.functions.geo import GeoRule, geo_rewrite_udf

    rules = [
        # Chain: de -> Deutsch -> Germany (two rounds to fixpoint).
        GeoRule(("*", "de", "*", "*"), ("*", "Deutsch", "*", "*")),
        GeoRule(("*", "Deutsch", "*", "*"), ("Europe", "Germany", "*", "*")),
        GeoRule(("*", "fr", "*", "*"), ("Europe", "France", "*", "*")),
        GeoRule(("*", "zh", "*", "*"), ("Asia", "China", "*", "*")),
        # Division normalization independent of country.
        GeoRule(("*", "*", "src0", "*"), ("*", "*", "source-zero", "*")),
    ]
    docs = load_table(spark, sf_dir, "documents")
    udf = geo_rewrite_udf(rules)
    resolved = docs.select(
        udf(F.lit("unknown"), F.col("lang"), F.col("source"), F.lit("")).alias("g")
    ).select("g.*")
    return resolved.groupBy("region", "country", "division").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "k10_base_frequency",
    survey_ref="K10,A1",
    oracle=f"""
SELECT base, count(*) AS n
FROM (SELECT unnest(regexp_extract_all({_SEQ_SQL}, '.')) AS base FROM documents) t
GROUP BY base
""",
)
def k10_base_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 — base-frequency profiler: per-character counts across all
    sequences (database/sql/gisaid.sql:160-166) via explode of the
    character array."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.expr("regexp_extract_all(upper(regexp_replace(text, '[^acgt]', '')), '(.)', 1)")).alias("base")
        )
        .groupBy("base")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# Shared by `lineage_mutation_counts` (the K1 x K2 + share-of-group
# composition over the published hub tables) and
# `lineage_mutation_counts_served` (reads the MAINTAINED derived table):
# the oracle always replays the full derivation from raw text.
_LINEAGE_MUTATION_ORACLE = f"""
WITH {_MUTS_CTES},
defs AS (SELECT * FROM (VALUES {_VARIANT_VALUES_SQL}) AS v(variant, pos, base)),
calls AS (
  SELECT s.doc_id, d.variant,
         sum(CASE WHEN substr(s.seq, d.pos, 1) = d.base THEN 1 ELSE 0 END) AS n_confirmed,
         count(*) AS n_sites
  FROM seqs s CROSS JOIN defs d
  GROUP BY s.doc_id, d.variant
),
lineage AS (
  SELECT doc_id,
         min(struct_pack(a := -n_confirmed, b := variant))
           FILTER (WHERE n_confirmed >= 0.8 * n_sites) AS pick
  FROM calls GROUP BY doc_id
),
doc_lineage AS (
  SELECT d.doc_id, d.lang, coalesce(struct_extract(l.pick, 'b'), 'NONE') AS lineage
  FROM documents d LEFT JOIN lineage l ON d.doc_id = l.doc_id
),
group_sizes AS (SELECT lang, lineage, count(*) AS n_group FROM doc_lineage GROUP BY 1, 2),
mut_counts AS (
  SELECT dl.lang, dl.lineage, m.pos, m.base, count(*) AS n_seqs
  FROM muts m JOIN doc_lineage dl ON m.doc_id = dl.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT mc.lang, mc.lineage, mc.pos, mc.base,
       CAST(mc.n_seqs AS BIGINT) AS n_seqs,
       round(mc.n_seqs * 1.0 / g.n_group, 6) AS share
FROM mut_counts mc JOIN group_sizes g ON mc.lang = g.lang AND mc.lineage = g.lineage
"""


@register(
    "lineage_mutation_counts",
    survey_ref="K1,K2,A1,A7,J1,J2",
    oracle=_LINEAGE_MUTATION_ORACLE,
)
def lineage_mutation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutation counts per (lang, lineage, mutation) with share-of-group —
    the spectrum_pangolin_lineage_mutation[_nucleotide] MV family
    (database/sql/spectrum/sequences_gisaid_api_based.sql:435-471), with the
    K2 80%-rule call standing in for the pangolin lineage label: each doc's
    lineage is its best confirmed variant (most confirmed sites, tie-break
    variant name; 'NONE' when nothing reaches 80%).

    Composition of K1 (mutation table) x K2 (variant call) + the A7
    share-of-total join, over the published ``mutation_table`` and
    ``variant_calls`` derived tables; the oracle recomputes both from raw
    text.
    """
    return _lineage_mutation_counts(
        spark,
        sf_dir,
        read_derived(spark, sf_dir, "mutation_table"),
        read_derived(spark, sf_dir, "variant_calls"),
    )


def _lineage_mutation_counts(
    spark: SparkSession, sf_dir: str, muts: DataFrame, calls: DataFrame
) -> DataFrame:
    """`lineage_mutation_counts` over given mutation-triple and
    variant-call frames — shared with the derived table of that name,
    which passes its published dependencies."""
    lineage = calls.groupBy("doc_id").agg(
        F.min(
            F.when(
                F.col("n_confirmed") >= 0.8 * F.col("n_sites"),
                F.struct((-F.col("n_confirmed")).alias("a"), F.col("variant").alias("b")),
            )
        ).alias("pick")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    doc_lineage = docs.join(lineage, "doc_id", "left").select(
        "doc_id", "lang", F.coalesce(F.col("pick.b"), F.lit("NONE")).alias("lineage")
    )
    group_sizes = doc_lineage.groupBy("lang", "lineage").agg(F.count(F.lit(1)).alias("n_group"))
    mut_counts = (
        muts.join(doc_lineage, "doc_id")
        .groupBy("lang", "lineage", "pos", "base")
        .agg(F.count(F.lit(1)).alias("n_seqs"))
    )
    return mut_counts.join(group_sizes, ["lang", "lineage"]).select(
        "lang",
        "lineage",
        "pos",
        "base",
        F.col("n_seqs").cast("bigint").alias("n_seqs"),
        F.round(F.col("n_seqs") * 1.0 / F.col("n_group"), 6).alias("share"),
    )


@register(
    "lineage_mutation_counts_served",
    survey_ref="K1,K2,A1,A7,J1,J2",
    oracle=_LINEAGE_MUTATION_ORACLE,
)
def lineage_mutation_counts_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MV-cascade serving read: the spectrum_pangolin_lineage_mutation
    analog as users actually consume it — a scan of the MAINTAINED
    `lineage_mutation_counts` derived table (pipelines/derived.py
    `read_derived`, lang-partitioned, rebuilt/incrementally maintained
    per ingest — the reference's refreshes.sql:3-36 cadence), ZERO
    derivation exchanges in the plan. The oracle replays the full
    K1 x K2 + share-of-group derivation from raw text, so the publish +
    read round-trip is hash-certified; `lineage_mutation_counts` stays
    registered as the certification of the composition over the
    published hub tables."""
    t = read_derived(spark, sf_dir, "lineage_mutation_counts")
    return t.select("lang", "lineage", "pos", "base", "n_seqs", "share")


@register(
    "lineage_common_mutations",
    survey_ref="K1,A8,A5,J5",
    oracle=f"""
WITH {_MUTS_CTES},
cohort AS (
  SELECT d.doc_id FROM documents d
  WHERE d.lang = 'de'
    AND EXISTS (SELECT 1 FROM muts m WHERE m.doc_id = d.doc_id)
),
tot AS (SELECT count(*) AS n_cohort FROM cohort)
SELECT m.pos, m.base,
       CAST(count(*) AS BIGINT) AS n_seqs,
       round(count(*) * 1.0 / t.n_cohort, 6) AS proportion
FROM cohort c
JOIN muts m ON c.doc_id = m.doc_id
CROSS JOIN tot t
GROUP BY m.pos, m.base, t.n_cohort
HAVING count(*) * 1.0 / t.n_cohort >= 0.2
""",
)
def lineage_common_mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The common mutations of a lineage — database/sql/
    gisaid_mutations.sql:15-34: restrict to the lineage's sequences that
    HAVE mutation rows (the EXISTS gate), count each (position, base)
    mutation, and keep those carried by >= 20% of the cohort, with the
    cohort size as a scalar-subquery denominator (A8).

    Production shape: the mutation triples come from the MAINTAINED
    `mutation_table` (the reference queries the materialized
    gisaid_sequence_mutation_nucleotide directly); the cohort size is
    counted from the SAME joined frame (a doc is in the cohort iff it has
    >= 1 mutation row, so distinct doc_id over the join IS the EXISTS
    cohort — no second pass over documents), and the 1-row total
    broadcasts onto the <= |positions|x4 count frame. The oracle replays
    the mutation derivation from raw text, keeping the publish + read
    round-trip hash-certified."""
    muts = read_derived(spark, sf_dir, "mutation_table")
    lineage_docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "de")
        .select("doc_id")
    )
    joined = muts.join(lineage_docs, "doc_id")
    tot = joined.agg(F.countDistinct("doc_id").alias("n_cohort"))
    counts = joined.groupBy("pos", "base").agg(F.count(F.lit(1)).alias("n_raw"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter(F.col("n_raw") * 1.0 / F.col("n_cohort") >= 0.2)
        .select(
            "pos",
            "base",
            F.col("n_raw").cast("bigint").alias("n_seqs"),
            F.round(F.col("n_raw") * 1.0 / F.col("n_cohort"), 6).alias("proportion"),
        )
    )


# The variant-defining mutation panel of the omicron detector — the
# (position, base) analog of the S-gene substitution list in
# database/sql/omicron_analysis.sql:14-19 (phe-genomics variant_definitions).
_PANEL_DEFS = [(2, "T"), (5, "A"), (9, "A"), (11, "C"), (13, "G"), (17, "T")]
_PANEL_VALUES_SQL = ", ".join(f"({p}, '{b}')" for p, b in _PANEL_DEFS)


@register(
    "variant_panel_detection",
    survey_ref="K1,A5,U2,J2,P3",
    oracle=f"""
WITH {_MUTS_CTES},
panel AS (SELECT * FROM (VALUES {_PANEL_VALUES_SQL}) AS p(pos, base)),
hits AS (
  SELECT m.doc_id
  FROM muts m JOIN panel p ON m.pos = p.pos AND m.base = p.base
  GROUP BY m.doc_id
  HAVING count(*) >= 2
),
detected AS (
  SELECT doc_id FROM hits
  UNION
  SELECT doc_id FROM documents WHERE lang LIKE 'd%'
)
SELECT d.doc_id, d.lang, d.source, d.n_chars,
       CAST(coalesce(s.sz, 0) AS BIGINT) AS n_muts
FROM detected t
JOIN documents d ON d.doc_id = t.doc_id
LEFT JOIN mut_sizes s ON s.doc_id = d.doc_id
""",
)
def variant_panel_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The is-the-new-variant-in-our-data detector — database/sql/
    omicron_analysis.sql:1-34: sequences carrying >= 2 mutations from a
    fixed defining panel (IN-list join + HAVING), UNION'd with sequences
    whose lineage label already matches the variant's pattern (the
    'B.1.1.529%'/'BA%' LIKE branch, lang here), then enriched back against
    the master table with a LEFT JOIN to the per-doc mutation load (the
    nextclade-data hop).

    Scale shape: the panel is a 6-row broadcast VALUES frame, the
    band-hit HAVING runs as a partial-agg over the panel join's output
    (rows ∝ panel hits, not corpus), the union dedups doc ids only, and
    the mutation-load LEFT JOIN aggregates the served `mutation_table`
    once. Every join is on doc_id — AQE broadcasts the detected set when
    small and falls back to shuffle when a real outbreak makes it big."""
    muts = read_derived(spark, sf_dir, "mutation_table")
    docs = load_table(spark, sf_dir, "documents")
    panel = spark.createDataFrame(_PANEL_DEFS, "pos int, base string")
    hits = (
        muts.join(F.broadcast(panel), ["pos", "base"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= 2)
        .select("doc_id")
    )
    by_lineage = docs.filter(F.col("lang").like("d%")).select("doc_id")
    detected = hits.union(by_lineage).distinct()
    sizes = muts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        detected.join(docs.select("doc_id", "lang", "source", "n_chars"), "doc_id")
        .join(sizes, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.coalesce(F.col("sz"), F.lit(0)).cast("bigint").alias("n_muts"),
        )
    )


_ALPHA_VALUES_SQL = ", ".join(
    f"({p}, '{b}')" for v, p, b in _VARIANT_DEFS if v == "ALPHA"
)

_AGE_BIN_SQL = """CASE
  WHEN age < 10 THEN '0-9' WHEN age < 20 THEN '10-19' WHEN age < 30 THEN '20-29'
  WHEN age < 40 THEN '30-39' WHEN age < 50 THEN '40-49' WHEN age < 60 THEN '50-59'
  WHEN age < 70 THEN '60-69' WHEN age < 80 THEN '70-79' ELSE '80+' END"""


@register(
    "variant_outcome_contingency",
    survey_ref="K2,J11,A2,P4,J2",
    oracle=f"""
WITH {_MUTS_CTES},
adefs AS (SELECT * FROM (VALUES {_ALPHA_VALUES_SQL}) AS v(pos, base)),
flags AS (
  SELECT s.doc_id, coalesce(h.n_hit, 0) >= 0.8 * (SELECT count(*) FROM adefs) AS voc
  FROM mut_sizes s
  LEFT JOIN (
    SELECT m.doc_id, count(*) AS n_hit
    FROM muts m JOIN adefs a ON m.pos = a.pos AND m.base = a.base
    GROUP BY m.doc_id
  ) h ON h.doc_id = s.doc_id
),
unique_cs AS (
  SELECT CAST(floor(d.doc_id / 2) AS BIGINT) AS ethid,
         min(struct_pack(a := s.sz, b := d.doc_id, c := d.n_chars,
                         d := d.source, e := f.voc)) AS pick
  FROM documents d
  JOIN mut_sizes s ON s.doc_id = d.doc_id
  JOIN flags f ON f.doc_id = d.doc_id
  GROUP BY 1
),
samples AS (
  SELECT struct_extract(pick, 'e') AS voc,
         struct_extract(pick, 'c') >= 150 AS hospitalized,
         struct_extract(pick, 'd') = 'src3' AS dead,
         struct_extract(pick, 'c') % 90 AS age
  FROM unique_cs
)
SELECT {_AGE_BIN_SQL} AS age_group,
       CAST(count(*) AS BIGINT) AS total,
       CAST(sum(CASE WHEN hospitalized AND voc THEN 1 ELSE 0 END) AS BIGINT)         AS voc_hospitalized,
       CAST(sum(CASE WHEN NOT hospitalized AND voc THEN 1 ELSE 0 END) AS BIGINT)     AS voc_not_hospitalized,
       CAST(sum(CASE WHEN hospitalized AND NOT voc THEN 1 ELSE 0 END) AS BIGINT)     AS not_voc_hospitalized,
       CAST(sum(CASE WHEN NOT hospitalized AND NOT voc THEN 1 ELSE 0 END) AS BIGINT) AS not_voc_not_hospitalized,
       CAST(sum(CASE WHEN dead AND voc THEN 1 ELSE 0 END) AS BIGINT)                 AS voc_dead,
       CAST(sum(CASE WHEN NOT dead AND voc THEN 1 ELSE 0 END) AS BIGINT)             AS voc_not_dead,
       CAST(sum(CASE WHEN dead AND NOT voc THEN 1 ELSE 0 END) AS BIGINT)             AS not_voc_dead,
       CAST(sum(CASE WHEN NOT dead AND NOT voc THEN 1 ELSE 0 END) AS BIGINT)         AS not_voc_not_dead
FROM samples
GROUP BY 1
""",
)
def variant_outcome_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant-vs-outcome contingency by age band — database/sql/
    b117_analysis.sql:1-62: flag each sequence as the variant when it
    carries >= 80% of the variant's defining mutations (the same rule K2
    certifies, here over the served mutation triples with the panel size
    as a scalar subquery), dedup to ONE sequence per patient entity
    keeping the fewest-mutations row with id tie-break (the fewest-Ns
    NOT-EXISTS argmin of b117_analysis.sql:17-23, expressed as the J11
    min-struct so no per-entity window or self-join runs), derive the
    outcome booleans with COALESCE'd defaults, and report the 2x2x2
    contingency counts per age band via conditional sums.

    Entity/outcome stand-ins (documented, deterministic): patient entity
    := floor(doc_id / 2) (two sequencing attempts per patient),
    hospitalized := n_chars >= 150, dead := source = 'src3', age :=
    n_chars % 90 binned by decade — same expressions both engines.

    Scale shape: the argmin dedup is a single map-side-combinable
    min-struct aggregation keyed by entity (no window sort, no
    NOT-EXISTS self-join), the variant flag joins the served
    `mutation_table` against a 5-row broadcast panel, and the final
    contingency is a 9-group conditional agg."""
    muts = read_derived(spark, sf_dir, "mutation_table")
    docs = load_table(spark, sf_dir, "documents")
    adefs = spark.createDataFrame(
        [(p, b) for v, p, b in _VARIANT_DEFS if v == "ALPHA"], "pos int, base string"
    )
    n_defs = len([1 for v, _, _ in _VARIANT_DEFS if v == "ALPHA"])
    hitc = (
        muts.join(F.broadcast(adefs), ["pos", "base"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    sizes = muts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_mut"))
    scored = (
        docs.select("doc_id", "n_chars", "source")
        .join(sizes, "doc_id", "left")
        .join(hitc, "doc_id", "left")
        .select(
            F.floor(F.col("doc_id") / 2).cast("bigint").alias("ethid"),
            F.struct(
                F.coalesce(F.col("n_mut"), F.lit(0)).alias("a"),
                F.col("doc_id").alias("b"),
                F.col("n_chars").alias("c"),
                F.col("source").alias("d"),
                (F.coalesce(F.col("n_hit"), F.lit(0)) >= 0.8 * n_defs).alias("e"),
            ).alias("row"),
        )
    )
    picked = scored.groupBy("ethid").agg(F.min("row").alias("pick"))
    age = F.col("pick.c") % 90
    samples = picked.select(
        F.col("pick.e").alias("voc"),
        (F.col("pick.c") >= 150).alias("hospitalized"),
        (F.col("pick.d") == "src3").alias("dead"),
        F.when(age < 10, "0-9")
        .when(age < 20, "10-19")
        .when(age < 30, "20-29")
        .when(age < 40, "30-39")
        .when(age < 50, "40-49")
        .when(age < 60, "50-59")
        .when(age < 70, "60-69")
        .when(age < 80, "70-79")
        .otherwise("80+")
        .alias("age_group"),
    )

    def cell(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)

    voc, hosp, dead = F.col("voc"), F.col("hospitalized"), F.col("dead")
    return samples.groupBy("age_group").agg(
        F.count(F.lit(1)).alias("total"),
        cell(hosp & voc, "voc_hospitalized"),
        cell(~hosp & voc, "voc_not_hospitalized"),
        cell(hosp & ~voc, "not_voc_hospitalized"),
        cell(~hosp & ~voc, "not_voc_not_hospitalized"),
        cell(dead & voc, "voc_dead"),
        cell(~dead & voc, "voc_not_dead"),
        cell(dead & ~voc, "not_voc_dead"),
        cell(~dead & ~voc, "not_voc_not_dead"),
    )


@register(
    "seq_method_concordance",
    survey_ref="A4,K2,J5,A2",
    oracle=f"""
WITH {_MUTS_CTES},
defs AS (SELECT * FROM (VALUES {_VARIANT_VALUES_SQL}) AS v(variant, pos, base)),
calls AS (
  SELECT s.doc_id, d.variant,
         sum(CASE WHEN substr(s.seq, d.pos, 1) = d.base THEN 1 ELSE 0 END) AS n_confirmed,
         count(*) AS n_sites
  FROM seqs s CROSS JOIN defs d
  GROUP BY s.doc_id, d.variant
),
lineage AS (
  SELECT doc_id,
         min(struct_pack(a := -n_confirmed, b := variant))
           FILTER (WHERE n_confirmed >= 0.8 * n_sites) AS pick
  FROM calls GROUP BY doc_id
),
per_doc AS (
  SELECT d.doc_id,
         CAST(floor(d.doc_id / 2) AS BIGINT) AS ethid,
         CASE WHEN d.doc_id % 2 = 0 THEN 'pacbioNormalized'
              ELSE 'pacbioNotNormalized' END AS seq_method,
         coalesce(struct_extract(l.pick, 'b'), 'NONE') AS lineage,
         s.sz AS n_ins,
         d.source
  FROM documents d
  JOIN mut_sizes s ON s.doc_id = d.doc_id
  LEFT JOIN lineage l ON l.doc_id = d.doc_id
),
cohort AS (SELECT DISTINCT ethid FROM per_doc WHERE source = 'src2')
SELECT p.ethid,
       string_agg(p.lineage, ', ' ORDER BY p.seq_method) AS lineage_assignments,
       string_agg(CAST(p.n_ins AS VARCHAR), ', ' ORDER BY p.seq_method) AS insertions,
       string_agg(p.seq_method, ', ' ORDER BY p.seq_method) AS seq_methods,
       CAST(sum(p.n_ins) AS BIGINT) > 0 AS some_method_has_insertion
FROM per_doc p JOIN cohort c ON c.ethid = p.ethid
GROUP BY p.ethid
""",
)
def seq_method_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PacBio-vs-Illumina concordance report — database/sql/
    fgcz_pacbio_experiment.sql:48-95: classify each consensus by its
    sequencing method, restrict to entities touched by the experiment
    batch (the pacbio_test view's EXISTS-or-batch cohort), and report one
    row per patient entity with the per-method lineage assignments and
    insertion counts as ORDERED string_aggs (ordered by a different
    column than the aggregated one — A4) plus the
    some_method_has_insertion boolean flag the experiment was judged by.

    Stand-ins (deterministic, both engines): entity := floor(doc_id/2),
    method := doc_id parity, lineage := K2's best 80%-rule call ('NONE'
    when nothing reaches 80%), insertion count := the doc's mutation
    load from the served `mutation_table`, experiment batch := source
    'src2'.

    Scale shape: the lineage call reads K2's published `variant_calls`
    table, so the variant-definition cross join is not in the plan; the
    EXISTS cohort is a LEFT SEMI against the broadcast batch id list,
    derived from the raw table rather than from per_doc (a
    per_doc-derived cohort would state the K2 calls subtree twice — the
    audit's exchange-storm rule caught that in the first cut);
    string_aggs are collect_list + array_sort over per-entity groups of
    exactly two rows, so no group ever exceeds the method count."""
    muts = read_derived(spark, sf_dir, "mutation_table")
    docs = load_table(spark, sf_dir, "documents")
    calls = read_derived(spark, sf_dir, "variant_calls")
    lineage = calls.groupBy("doc_id").agg(
        F.min(
            F.when(
                F.col("n_confirmed") >= 0.8 * F.col("n_sites"),
                F.struct((-F.col("n_confirmed")).alias("a"), F.col("variant").alias("b")),
            )
        ).alias("pick")
    )
    sizes = muts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_mut"))
    per_doc = (
        docs.select("doc_id", "source")
        .join(sizes, "doc_id", "left")
        .join(lineage, "doc_id", "left")
        .select(
            F.floor(F.col("doc_id") / 2).cast("bigint").alias("ethid"),
            F.when(F.col("doc_id") % 2 == 0, "pacbioNormalized")
            .otherwise("pacbioNotNormalized")
            .alias("seq_method"),
            F.coalesce(F.col("pick.b"), F.lit("NONE")).alias("lineage"),
            F.coalesce(F.col("n_mut"), F.lit(0)).alias("n_ins"),
            "source",
        )
    )
    # The cohort predicate touches only (doc_id, source): derive it from
    # the raw table, NOT from per_doc — a per_doc-derived cohort states
    # the whole K2 calls/lineage subtree a second time and Catalyst plans
    # it twice (the audit's exchange-storm flag caught exactly that). The
    # EXISTS lands as a LEFT SEMI against the raw id list (no distinct
    # aggregation needed — semi ignores duplicates by definition), with
    # the batch-sized cohort broadcast like the reference's subquery.
    cohort = docs.filter(F.col("source") == "src2").select(
        F.floor(F.col("doc_id") / 2).cast("bigint").alias("c_ethid")
    )
    def agg_by_method(col):
        return F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("seq_method").alias("k"), col.alias("v")))),
                lambda s: s["v"],
            ),
            ", ",
        )

    return (
        per_doc.join(F.broadcast(cohort), F.col("ethid") == F.col("c_ethid"), "left_semi")
        .groupBy("ethid")
        .agg(
            agg_by_method(F.col("lineage")).alias("lineage_assignments"),
            agg_by_method(F.col("n_ins").cast("string")).alias("insertions"),
            agg_by_method(F.col("seq_method")).alias("seq_methods"),
            (F.sum("n_ins") > 0).alias("some_method_has_insertion"),
        )
    )


@register(
    "feed_reconciliation",
    survey_ref="§5.3,J9,P3,A2",
    oracle=f"""
WITH seqs AS (
  SELECT doc_id, lang,
         CASE WHEN length({_SEQ_SQL}) >= 8
              THEN substr({_SEQ_SQL}, 1, 2) || 'N' || substr({_SEQ_SQL}, 4, 3)
                   || 'N' || substr({_SEQ_SQL}, 8)
              ELSE {_SEQ_SQL} END AS mseq
  FROM documents
),
feed AS (
  SELECT 'FEED/' || doc_id || '/2021' AS feed_id,
         CASE WHEN doc_id % 37 = 0 THEN reverse(mseq) ELSE lower(mseq) END AS feed_seq
  FROM seqs
),
joined AS (
  SELECT s.lang,
         CASE WHEN replace(replace(lower(f.feed_seq), 'n', ''), '-', '')
                 = replace(replace(lower(s.mseq), 'n', ''), '-', '')
              THEN 1 ELSE 0 END AS ok
  FROM feed f JOIN seqs s ON split_part(f.feed_id, '/', 2) = CAST(s.doc_id AS VARCHAR)
)
SELECT lang,
       CAST(count(*) AS BIGINT)          AS n_total,
       CAST(sum(ok) AS BIGINT)           AS n_seq_match,
       CAST(count(*) - sum(ok) AS BIGINT) AS n_seq_mismatch
FROM joined GROUP BY lang
""",
)
def feed_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation query (the de-facto integration tests of SURVEY §5.3):
    our sequences vs the external feed's copy, joined by parsing the id back
    out of the feed identifier (the ETHID parse-back + sequence-equality-
    modulo-'-'/'n' compare of database/sql/gisaid_our_sequences.sql:1-67),
    rolled up to agreement counts per lang.

    The feed side is derived deterministically (lowercased, reversed for
    doc_id % 37 == 0 to inject disagreements), so both engines see the same
    two 'sources'. The join is a real expression join on the parsed id —
    the reconciliation shape — not a by-construction row identity.
    """
    docs = load_table(spark, sf_dir, "documents")
    seqs = fanout(docs.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", pseudo_sequence("text").alias("seq")
    )
    masked = F.when(
        F.length("seq") >= 8,
        F.expr("concat(substr(seq, 1, 2), 'N', substr(seq, 4, 3), 'N', substr(seq, 8))"),
    ).otherwise(F.col("seq"))
    ours = seqs.select("doc_id", "lang", masked.alias("mseq"))
    feed = ours.select(
        F.concat(F.lit("FEED/"), F.col("doc_id").cast("string"), F.lit("/2021")).alias("feed_id"),
        F.when(F.col("doc_id") % 37 == 0, F.reverse("mseq")).otherwise(F.lower("mseq")).alias("feed_seq"),
    )

    def norm(c):
        return F.replace(F.replace(F.lower(c), F.lit("n"), F.lit("")), F.lit("-"), F.lit(""))

    joined = feed.join(
        ours, F.expr("split_part(feed_id, '/', 2)") == F.col("doc_id").cast("string")
    )
    ok = F.when(norm(F.col("feed_seq")) == norm(F.col("mseq")), 1).otherwise(0)
    return joined.select("lang", ok.alias("ok")).groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("ok").cast("bigint").alias("n_seq_match"),
        (F.count(F.lit(1)) - F.sum("ok")).cast("bigint").alias("n_seq_mismatch"),
    )
