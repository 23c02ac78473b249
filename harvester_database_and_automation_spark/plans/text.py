"""Text-analysis + deduplication queries over the ``documents`` table —
the training-data-pipeline operator family (token statistics, language
heuristics, quality scoring, fingerprinting, exact and near dedup).

Near-dup machinery is expressed relationally (explode → join → agg) so the
same plan scales on a cluster: shingle/minhash generation is an embarrassing
map, candidate generation is an equi-join on (band, signature) — no
all-pairs comparison ever materializes except among verified candidates.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from harvester_database_and_automation_spark.catalog import load_table
from harvester_database_and_automation_spark.plans.registry import register
from harvester_database_and_automation_spark.pipelines.derived import read_derived
from harvester_database_and_automation_spark.plans.shared import fanout

# Shared CTE: distinct 3-word shingles per document (dedup unit of the
# MinHash/Jaccard family). DuckDB arrays are 1-based.
_SHINGLES_SQL = """
  SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) t,
       unnest(generate_series(1, len(words) - 2)) AS u(i)
"""


_fanout = fanout  # shared split-aware repartition (plans/shared.py)


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-word shingles per doc, via higher-order functions (no UDF).

    Hub of the dedup family (Jaccard pairs, connected components,
    MinHash/LSH all start here): the ``shingles`` derived table builds it
    once per corpus and consumers read it with ``read_derived``."""
    docs = _fanout(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # Guard sub-shingle documents BEFORE the sequence: Spark's
    # sequence(0, n-3) runs DESCENDING for n < 3 and the resulting
    # slice(words, 0, 3) is a runtime error — a 2-token document
    # would kill the whole dedup family, where the oracle's
    # generate_series is simply empty (same trap as cdc_chunk_stats).
    return (
        docs.filter(F.size(F.split("text", " ")) >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(split(text, ' ')) - 3),"
                    " i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3)))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )


@register(
    "doc_token_stats",
    survey_ref="text-analysis",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT)            AS n_tokens,
       CAST(length(text) AS BIGINT)                         AS n_chars_actual,
       round(length(replace(text, ' ', '')) * 1.0
             / len(string_split(text, ' ')), 6)             AS avg_token_len
FROM documents
""",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + char statistics per document."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return docs.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        F.round(F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) * 1.0 / n_tokens, 6).alias(
            "avg_token_len"
        ),
    )


@register(
    "doc_quality_score",
    survey_ref="text-analysis,P4",
    oracle="""
SELECT doc_id,
       round(least(1.0, len(string_split(text, ' ')) / 100.0) * 0.6
             + (len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))
                * 1.0 / len(string_split(text, ' '))) * 0.4, 6) AS quality,
       CASE
         WHEN len(string_split(text, ' ')) < 30 THEN 'short'
         WHEN len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) = 0 THEN 'no_stopwords'
         ELSE 'ok'
       END AS quality_class
FROM documents
""",
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length score + stopword ratio, with a
    rule-cascade class — the release rule-cascade shape
    (database/R/export_spsp_submission.R:244-273)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tokens = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin("the", "a")))
    quality = F.round(
        F.least(F.lit(1.0), n_tokens / 100.0) * 0.6 + (n_stop * 1.0 / n_tokens) * 0.4, 6
    )
    quality_class = (
        F.when(n_tokens < 30, "short")
        .when(n_stop == 0, "no_stopwords")
        .otherwise("ok")
    )
    return docs.select("doc_id", quality.alias("quality"), quality_class.alias("quality_class"))


@register(
    "doc_lang_guess",
    survey_ref="text-analysis,P4,A2",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang,
         CASE
           WHEN len(list_filter(string_split(text, ' '), w -> w = 'the')) >= 3 THEN 'en'
           WHEN len(list_filter(string_split(text, ' '), w -> w = 'data')) >= 3 THEN 'de'
           ELSE 'und'
         END AS lang_guess
  FROM documents
)
SELECT lang, lang_guess, count(*) AS n
FROM scored
GROUP BY lang, lang_guess
""",
)
def doc_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-frequency language-ID heuristic cross-tabbed against the
    labelled lang column (the classification-vs-truth reconciliation shape,
    database/sql/gisaid.sql:169-254)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    guess = (
        F.when(F.size(F.filter(words, lambda w: w == "the")) >= 3, "en")
        .when(F.size(F.filter(words, lambda w: w == "data")) >= 3, "de")
        .otherwise("und")
    )
    return (
        docs.select("lang", guess.alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "doc_top_words",
    survey_ref="text-analysis,O1",
    oracle="""
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
GROUP BY word
ORDER BY n DESC, word
LIMIT 20
""",
)
def doc_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency ranking (deterministic tie-break)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(20)
    )


@register(
    "doc_fingerprint_exact_dedup",
    survey_ref="dedup-exact,A10",
    oracle="""
SELECT md5(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fingerprint,
       min(doc_id)      AS keep_doc_id,
       count(*)         AS n_copies
FROM documents
GROUP BY 1
""",
)
def doc_fingerprint_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy keeping the smallest id — the
    content-hash change-detection family (BatchProcessingWorker.java:214-297)
    applied as dedup. Scales as a single hash aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    # ASCII-only case fold via translate: Unicode lower() diverges between
    # engines on full-vs-simple case mappings (Spark lower('\u0130') is a
    # 2-codepoint string, DuckDB's is 1), which would split/merge different
    # duplicate groups per engine on non-ASCII text.
    return (
        docs.groupBy(F.md5(F.translate("text", "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")).alias("fingerprint"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# GPT-2-style pre-tokenizer: contraction suffixes, space-prefixed letter /
# digit runs, space-prefixed punctuation runs, residual whitespace. Kept to
# the syntax subset Java regex (Spark) and RE2 (DuckDB) tokenize
# IDENTICALLY — no lookahead, no \p classes ('' doubles the quote for SQL).
# \s is spelled out as an explicit class: Java's \s includes vertical tab
# \x0B, RE2's does not - the explicit [ \t\n\v\f\r] (identical in both
# syntaxes) removes the one divergence in this otherwise-common subset.
_BPE_WS = r" \t\n\v\f\r"
_BPE_PAT = rf"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9{_BPE_WS}]+|[{_BPE_WS}]+"


@register(
    "bpe_token_stats",
    survey_ref="text-analysis,tokenizer",
    oracle=rf"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_PAT.replace("'", "''")}')) AS INT)
         AS n_bpe_tokens,
       round(length(text) * 1.0
             / len(regexp_extract_all(text, '{_BPE_PAT.replace("'", "''")}')), 6)
         AS chars_per_bpe_token
FROM documents
""",
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style token counting: the GPT-2 pre-tokenizer regex (the
    split BPE merges run inside) next to the whitespace count — the pair
    of numbers a training-data budget is planned in. chars/token is the
    compression-rate proxy used to convert corpus bytes to token budgets.

    Both engines run the SAME pattern; the regex is restricted to the
    syntax subset where Java regex and RE2 produce identical leftmost-first
    tokenizations (verified by the hash gate). Pure map work — the 100 TB
    plan is a full-speed scan with one tiny aggregate nowhere."""
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0)))
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("int").alias("n_ws_tokens"),
        n_bpe.cast("int").alias("n_bpe_tokens"),
        F.round(F.length("text") * 1.0 / n_bpe, 6).alias("chars_per_bpe_token"),
    )


@register(
    "paragraph_dup_fraction",
    survey_ref="dedup-paragraph,J1,A1",
    oracle="""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
para AS (
  SELECT doc_id,
         md5(array_to_string(w[(i - 1) * 20 + 1 : least(i * 20, len(w))], ' ')) AS h
  FROM words, unnest(generate_series(1, CAST(ceil(len(w) / 20.0) AS BIGINT))) AS u(i)
),
counts AS (SELECT h, count(*) AS c FROM para GROUP BY h)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_para,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS dup_frac
FROM para JOIN counts USING (h)
GROUP BY doc_id
""",
)
def paragraph_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup at paragraph granularity (the MassiveText /
    Gopher repetition filter): chunk each document into consecutive 20-word
    paragraphs, hash them, and report per document how many of its
    paragraphs appear anywhere else in the corpus.

    Scale shape: chunking is a map-side explode; the global paragraph
    count is one hash aggregation on the 128-bit digest (uniform keys, no
    skew) and the join back to paragraphs is an equi-join on the same
    digest — paragraph text never re-shuffles, only (doc_id, hash) pairs
    do. Documents whose dup_frac exceeds a policy threshold would be
    dropped or trimmed by the downstream curation pass."""
    docs = _fanout(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    para = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, int(ceil(size(split(text, ' ')) / 20.0))),"
                " i -> md5(concat_ws(' ', slice(split(text, ' '), (i - 1) * 20 + 1, 20))))"
            )
        ).alias("h"),
    )
    counts = para.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    return (
        para.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_para"),
            F.sum((F.col("c") > 1).cast("int")).cast("bigint").alias("n_dup"),
            F.round(F.sum((F.col("c") > 1).cast("int")) * 1.0 / F.count(F.lit(1)), 6).alias(
                "dup_frac"
            ),
        )
    )


_ROLL_TERMS_SQL = " + ".join(
    f"CAST(ascii(substr(text, pos + {i}, 1)) AS BIGINT) * {31 ** (7 - i)}" for i in range(8)
)


@register(
    "doc_winnow_fingerprints",
    survey_ref="dedup-rolling-hash,A1",
    oracle=f"""
WITH windows AS (
  SELECT doc_id, unnest(generate_series(1, length(text) - 7)) AS pos, text
  FROM documents
  WHERE length(text) >= 8
), hashed AS (
  SELECT doc_id, (pos - 1) // 16 AS block,
         ({_ROLL_TERMS_SQL}) % 1000000007 AS h
  FROM windows
)
SELECT doc_id, CAST(block AS INT) AS block, CAST(min(h) AS BIGINT) AS fp
FROM hashed GROUP BY doc_id, block
""",
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints from a Karp-Rabin rolling hash:
    degree-7 polynomial hash (base 31, mod 1e9+7) over every 8-char
    window, then the minimum hash per 16-window block — the
    MOSS/winnowing selection that makes fingerprint count proportional to
    document length / block size, not to length.

    Integer-valued throughout, so Spark and the oracle agree exactly on
    any plan. Scale shape: the explode is map-side (no shuffle until the
    per-(doc, block) min, which partial-aggregates), and documents hash
    independently — embarrassingly parallel over doc partitions. Read
    from the ``winnow_fingerprints`` derived table; the oracle replays the
    fingerprinting from raw text, so the publish + read round trip is
    hash-certified.
    """
    return read_derived(spark, sf_dir, "winnow_fingerprints")


def _winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnow fingerprint frame (doc_id, block, fp) — the builder of
    the ``winnow_fingerprints`` derived table."""
    docs = _fanout(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= 8)
    )
    windows = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - 7)).alias("pos"),
    )
    h = sum(
        F.ascii(F.col("text").substr(F.col("pos") + F.lit(i), F.lit(1))).cast("bigint")
        * F.lit(31 ** (7 - i))
        for i in range(8)
    ) % F.lit(1_000_000_007)
    hashed = windows.select(
        "doc_id",
        ((F.col("pos") - 1) / 16).cast("int").alias("block"),
        h.alias("h"),
    )
    return hashed.groupBy("doc_id", "block").agg(F.min("h").alias("fp"))


@register(
    "substring_overlap_pairs",
    survey_ref="dedup-substring,J1,A1",
    oracle=f"""
WITH windows AS (
  SELECT doc_id, unnest(generate_series(1, length(text) - 7)) AS pos, text
  FROM documents
  WHERE length(text) >= 8
), hashed AS (
  SELECT doc_id, (pos - 1) // 16 AS block,
         ({{roll}}) % 1000000007 AS h
  FROM windows
), fps AS (
  SELECT doc_id, block, min(h) AS fp FROM hashed GROUP BY doc_id, block
), dfp AS (SELECT DISTINCT doc_id, fp FROM fps),
sizes AS (SELECT doc_id, count(*) AS n_fps FROM dfp GROUP BY doc_id),
pairable AS (
  SELECT fp FROM dfp GROUP BY fp HAVING count(*) BETWEEN 2 AND 64
),
pruned AS (SELECT dfp.doc_id, dfp.fp FROM dfp JOIN pairable USING (fp)),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b, CAST(s.n_shared AS BIGINT) AS n_shared,
       CAST(sa.n_fps AS BIGINT) AS n_fps_a, CAST(sb.n_fps AS BIGINT) AS n_fps_b,
       round(s.n_shared * 1.0 / least(sa.n_fps, sb.n_fps), 6) AS containment
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b
WHERE s.n_shared >= 3 AND s.n_shared * 2 >= least(sa.n_fps, sb.n_fps)
""".format(roll=_ROLL_TERMS_SQL),
)
def substring_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim substring-overlap candidates across documents — the
    ExactSubstr-style dedup signal ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022) at fingerprinting cost.
    Selection here is BLOCK-MIN fingerprinting (the min-hash window per
    fixed 16-window block), a probabilistic relative of MOSS winnowing,
    NOT the sliding-window scheme — so the classic "any shared run of
    w+k-1 chars shares a fingerprint" guarantee does not strictly hold
    when the copies are aligned differently mod the block size (a
    non-passage window can win a straddled block's min). In exchange the
    selection is a pure map (no sliding self-comparison), and a copied
    passage spanning B blocks still collides with probability rising
    rapidly in B; pairs with >= 3 shared fingerprints AND containment
    >= 0.5 of the smaller document's set are the candidates. Fingerprints
    in more than 64 documents are df-pruned before pairing (stop-phrase
    windows — no dedup signal, unbounded join buckets).

    Scale shape: an inverted-index equi-join on the fingerprint value over
    the MAINTAINED `winnow_fingerprints` derived table (pipelines/
    derived.py `read_derived` — fingerprinting runs once per ingest, the
    pair search scans the published table; this oracle replays the
    fingerprinting from raw text, so publish + read is hash-certified)
    — cost tracks fingerprint-bucket collisions, never
    |docs|²; text itself never enters the join."""
    dfp = read_derived(spark, sf_dir, "winnow_fingerprints").select("doc_id", "fp").distinct()
    sizes = dfp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fps"))
    # Document-frequency pruning before the self-join: a fingerprint in a
    # single doc can't pair, and one in >64 docs is stop-phrase noise
    # whose bucket alone would expand to >2k pairs — without this cut the
    # hot buckets cost 14s at sf0.1 (1.6s with it), and at corpus scale
    # they're the unbounded term. Denominators (n_fps) stay unpruned.
    pairable = (
        dfp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df").between(2, 64))
        .select("fp")
    )
    pruned = dfp.join(pairable, "fp")
    a = pruned.select(F.col("doc_id").alias("doc_a"), "fp")
    b = pruned.select(F.col("doc_id").alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fps").alias("n_fps_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fps").alias("n_fps_b"))
    # sizes is one row per corpus DOCUMENT — linear in the corpus, so it
    # must NOT be broadcast-hinted (unlike vocab/dim-sized frames); the
    # surviving pair set is small, so AQE picks the right strategy.
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        # containment >= 0.5, evaluated in integer arithmetic (2*shared >=
        # min fp count) so no float boundary separates the engines; common
        # stop-phrase fingerprints make low-containment pairs ubiquitous
        # noise (1.8M pairs at sf0.1 for the raw n_shared >= 3 cut).
        .filter(F.col("n_shared") * 2 >= F.least("n_fps_a", "n_fps_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("n_fps_a").cast("bigint").alias("n_fps_a"),
            F.col("n_fps_b").cast("bigint").alias("n_fps_b"),
            F.round(
                F.col("n_shared") * 1.0 / F.least("n_fps_a", "n_fps_b"), 6
            ).alias("containment"),
        )
    )


@register(
    "ngram_jaccard_pairs",
    survey_ref="dedup-near,J1,A1",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common * 1.0 / (s1.sz + s2.sz - n_common), 6) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = doc_a
JOIN sizes s2 ON s2.doc_id = doc_b
WHERE n_common * 1.0 / (s1.sz + s2.sz - n_common) >= 0.1
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle Jaccard near-dup pairs, read from the MAINTAINED
    ``dup_pairs`` derived table (itself built from the published
    ``shingle_index`` — pipelines/derived.py): the serving shape the
    allow-list's "materialized in production" claim described, now the
    actual registered plan — a published-parquet scan plus the rounding
    projection, zero recompute exchanges. The inverted-index self-join
    (the candidate join only touches docs sharing a shingle, never all
    pairs) runs once per ingest in the LAYER publish; the oracle replays
    the full derivation from raw text, so the publish + read round-trip
    is itself hash-certified. Reference analog: the MV serving layer,
    sequences_gisaid_api_based.sql:22-113 / refreshes.sql:3-36."""
    pairs = read_derived(spark, sf_dir, "dup_pairs")
    return pairs.select("doc_a", "doc_b", F.round(F.col("jaccard"), 6).alias("jaccard"))


@register(
    "dup_connected_components",
    survey_ref="dedup-cc,J1,J6,A1,W2",
    oracle=f"""
WITH RECURSIVE
sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT doc_a AS u, doc_b AS v
  FROM inter
  JOIN sizes s1 ON s1.doc_id = doc_a
  JOIN sizes s2 ON s2.doc_id = doc_b
  WHERE n_common * 1.0 / (s1.sz + s2.sz - n_common) >= 0.5
),
sym AS (SELECT e.u, e.v FROM edges e UNION SELECT e.v AS u, e.u AS v FROM edges e),
reach(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, s.v FROM reach r JOIN sym s ON s.u = r.node
),
comp AS (SELECT src AS doc_id, min(node) AS component_id FROM reach GROUP BY src)
-- canonical-doc election as ONE window pass so `comp` is referenced once:
-- DuckDB 1.0 inlines a non-recursive CTE per reference (AS MATERIALIZED is
-- not honored inside WITH RECURSIVE lists), and the former comp-join-canon
-- form re-ran the whole 113M-row pair chain twice — out-of-disk at sf1.
SELECT doc_id, component_id, keep_doc_id, doc_id <> keep_doc_id AS is_duplicate
FROM (
  SELECT c.doc_id, c.component_id,
         first_value(c.doc_id) OVER (
           PARTITION BY c.component_id
           ORDER BY length(d.text) DESC, c.doc_id) AS keep_doc_id
  FROM comp c JOIN documents d USING (doc_id)
) t
""",
)
def dup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: Jaccard pairs (>= 0.5) → transitive closure via
    alternating large-star/small-star contraction → canonical-doc election
    (longest text, tie-break smallest id) per cluster.

    This is the step the pair-producing plans feed at scale: O(log n)
    rounds of int-pair joins, then one window per component — no genome/
    text payload ever enters the contraction shuffles. The DuckDB oracle
    computes the same closure with a recursive CTE.
    """
    from harvester_database_and_automation_spark.operators.components import (
        alternating_star_components,
    )

    # Only (doc_id, length) ever shuffles — the text payload stays in the scan.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("doc_len")
    )
    edges = read_derived(spark, sf_dir, "dup_pairs").filter("jaccard >= 0.5").select("doc_a", "doc_b")
    labels = alternating_star_components(edges, src="doc_a", dst="doc_b")
    comp = (
        docs.join(labels, docs.doc_id == labels.node, "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("component_id"),
            "doc_len",
        )
        .localCheckpoint(eager=True)  # reused twice below (window + join-back)
    )
    w = Window.partitionBy("component_id").orderBy(F.col("doc_len").desc(), F.col("doc_id"))
    canon = (
        comp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("component_id", F.col("doc_id").alias("keep_doc_id"))
    )
    return comp.join(canon, "component_id").select(
        "doc_id",
        "component_id",
        "keep_doc_id",
        (F.col("doc_id") != F.col("keep_doc_id")).alias("is_duplicate"),
    )


@register(
    "shingle_novelty_by_source",
    survey_ref="text-analysis,dedup-near,A1,A7",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
first_seen AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle),
per_doc AS (
  SELECT s.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM sh s JOIN first_seen f ON f.shingle = s.shingle
  GROUP BY s.doc_id
)
SELECT d.source,
       CAST(count(*) AS BIGINT)        AS n_docs,
       CAST(sum(p.n_shingles) AS BIGINT) AS total_shingles,
       CAST(sum(p.n_novel) AS BIGINT)    AS novel_shingles,
       round(sum(p.n_novel) * 1.0 / sum(p.n_shingles), 6) AS novelty_ratio
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY d.source
""",
)
def shingle_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity metric: per source, the fraction of each document's
    distinct 3-gram shingles first introduced by that document (first
    occurrence = lowest doc_id). A source whose novelty ratio collapses is
    re-crawling content the corpus already has — the signal used to
    down-weight or stop a feed before dedup pays for it.

    Reads the MAINTAINED `shingle_index` derived table (pipelines/
    derived.py `read_derived`): the explode + distinct runs once per
    ingest in the LAYER publish, and every operation here is
    digest-equality (min-aggregate on the shingle key joined back by the
    same key — the paragraph-dedup shape), so the md5 projection changes
    nothing; the oracle replays the derivation from raw text, keeping
    publish + read hash-certified. Integer-exact throughout except the
    final per-source ratio (one division, both engines)."""
    sh = read_derived(spark, sf_dir, "shingle_index").withColumnRenamed(
        "shingle_digest", "shingle"
    )
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        per_doc.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_shingles").cast("bigint").alias("total_shingles"),
            F.sum("n_novel").cast("bigint").alias("novel_shingles"),
            F.round(F.sum("n_novel") * 1.0 / F.sum("n_shingles"), 6).alias("novelty_ratio"),
        )
    )


@register(
    "incremental_dup_components",
    survey_ref="dedup-cc-incremental,J1,A1",
    oracle=f"""
WITH RECURSIVE
sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT doc_a AS u, doc_b AS v
  FROM inter
  JOIN sizes s1 ON s1.doc_id = doc_a
  JOIN sizes s2 ON s2.doc_id = doc_b
  WHERE n_common * 1.0 / (s1.sz + s2.sz - n_common) >= 0.5
),
sym AS (SELECT e.u, e.v FROM edges e UNION SELECT e.v AS u, e.u AS v FROM edges e),
reach(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, s.v FROM reach r JOIN sym s ON s.u = r.node
)
SELECT src AS doc_id, min(node) AS component_id FROM reach GROUP BY src
""",
)
def incremental_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental dup-cluster maintenance path, certified against the
    full closure: contract only the PRIOR corpus's edges (both endpoints
    doc_id < 250) into a component map, then fold the remaining pairs in
    via `operators.components.incremental_components` — which contracts
    just the root-translated NEW edges, never re-touching the historical
    edge list. The oracle computes the whole-corpus transitive closure
    from scratch; matching hashes prove per-ingest maintenance cost can
    track feed churn (the new pairs) instead of corpus size, the
    ARCHITECTURE.md 100 TB promise, with zero drift from a full rebuild."""
    from harvester_database_and_automation_spark.operators.components import (
        alternating_star_components,
        incremental_components,
    )

    split_at = 250
    edges = read_derived(spark, sf_dir, "dup_pairs").filter("jaccard >= 0.5").select("doc_a", "doc_b")
    prior = edges.filter(F.col("doc_b") < split_at)
    delta = edges.filter(F.col("doc_b") >= split_at)
    prior_map = alternating_star_components(prior, src="doc_a", dst="doc_b")
    updated = incremental_components(prior_map, delta, src="doc_a", dst="doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(updated, docs.doc_id == updated.node, "left").select(
        "doc_id", F.coalesce("component_id", "doc_id").alias("component_id")
    )


# Universal-hash permutation family for MinHash: v_h = (a_h*m + b_h) mod P
# over a single 32-bit base hash m per shingle (first 8 md5 hex chars).
# One md5 per shingle instead of 16 — the md5 was ~the whole map-side cost.
# a_h < 2^24 and m < 2^32 keep a_h*m + b_h < 2^57: no 64-bit overflow in
# either engine. Constants are fixed (not runtime-random) so the Spark side
# and the DuckDB oracle share them via this module.
_MINHASH_P = 4294967311  # prime > 2^32
_CALIB_SAMPLE_PER_BUCKET = 40  # exact-Jaccard pairs per signature-match bucket
_MINHASH_PERMS = [(h * 613651 + 100003, h * 368041 + 15485863) for h in range(16)]
_MINHASH_PERMS_SQL = ", ".join(
    f"({h}, {a}::BIGINT, {b}::BIGINT)" for h, (a, b) in enumerate(_MINHASH_PERMS)
)


def _minhash_sigs(shingles: DataFrame) -> DataFrame:
    """Per-doc 16-component MinHash signature (doc_id, m0..m15) over the
    shingle frame — the builder of the ``minhash_signatures`` derived
    table: all 16 minhashes are min-aggregates of ONE groupBy over the
    shingle base hash, so partial (map-side) aggregation ships at most 16
    values per doc per task — the shape that survives a 100 TB corpus."""
    sh = shingles.withColumn(
        "m", F.expr("cast(conv(substr(md5(shingle), 1, 8), 16, 10) as bigint)")
    )
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("m") + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"m{h}")
            for h, (a, b) in enumerate(_MINHASH_PERMS)
        ]
    )


def _lsh_candidates(sigs: DataFrame) -> DataFrame:
    """LSH banding (4 bands x 4 rows) over a signature frame: the
    distinct doc pairs agreeing on any band signature."""
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.md5(F.concat_ws(",", *[F.col(f"m{band * 4 + i}") for i in range(4)])).alias("band_sig"),
        )
        for band in range(4)
    ]
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _minhash_calib_matched(sigs: DataFrame) -> DataFrame:
    """LSH candidate pairs scored by their count of matching signature
    components (doc_a, doc_b, n_sig_match) — the builder of the
    ``minhash_calib_matched`` derived table. The calibration reads it in
    four branches (sample windows, bucket totals and the sample's two
    exact-Jaccard probes), so it is published rather than replayed per
    branch: at scale it is the scored-pair table a dedup service keeps
    anyway (narrow int triples)."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), *[F.col(f"m{h}").alias(f"a{h}") for h in range(16)])
    sb = sigs.select(F.col("doc_id").alias("doc_b"), *[F.col(f"m{h}").alias(f"b{h}") for h in range(16)])
    return (
        _lsh_candidates(sigs)
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            sum((F.col(f"a{h}") == F.col(f"b{h}")).cast("int") for h in range(16))
            .cast("int")
            .alias("n_sig_match"),
        )
    )


# Shared oracle CTE chain: per-doc per-permutation minhash, band signatures,
# and the LSH candidate pairs.
_MINHASH_CANDS_SQL = f"""
based AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS m FROM sh
),
perms(h, a, b) AS (VALUES {{perms}}),
hashes AS (
  SELECT doc_id, h, min((a * m + b) % {_MINHASH_P}) AS minhash
  FROM based, perms
  GROUP BY doc_id, h
),
bands AS (
  SELECT doc_id, h // 4 AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h)) AS band_sig
  FROM hashes
  GROUP BY doc_id, h // 4
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
"""


@register(
    "minhash_jaccard_calibration",
    survey_ref="dedup-minhash,A1,A7,J8",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
{_MINHASH_CANDS_SQL.format(perms=_MINHASH_PERMS_SQL).strip().lstrip()},
match AS (
  SELECT c.doc_a, c.doc_b,
         CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS INT) AS n_sig_match
  FROM cands c
  JOIN hashes sa ON sa.doc_id = c.doc_a
  JOIN hashes sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
  GROUP BY 1, 2
),
ph AS (
  SELECT doc_a, doc_b, n_sig_match,
         ((((doc_a % 1000000007) * 1000003 + (doc_b % 1000000007)) % 1000000007)
          * 2654435761) % 1000000007 AS ph
  FROM match
),
samp AS (
  SELECT doc_a, doc_b, n_sig_match FROM (
    SELECT *, row_number() OVER (
      PARTITION BY n_sig_match ORDER BY ph, doc_a, doc_b) AS rk
    FROM ph
  ) t WHERE rk <= {_CALIB_SAMPLE_PER_BUCKET}
),
totals AS (SELECT n_sig_match, CAST(count(*) AS BIGINT) AS n_pairs FROM match GROUP BY 1),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT s.doc_a, s.doc_b, count(*) AS n_common
  FROM samp s
  JOIN sh a ON a.doc_id = s.doc_a
  JOIN sh b ON b.doc_id = s.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
sampj AS (
  SELECT s.n_sig_match,
         COALESCE(i.n_common, 0) * 1.0
           / (s1.sz + s2.sz - COALESCE(i.n_common, 0)) AS j
  FROM samp s
  LEFT JOIN inter i ON i.doc_a = s.doc_a AND i.doc_b = s.doc_b
  JOIN sizes s1 ON s1.doc_id = s.doc_a
  JOIN sizes s2 ON s2.doc_id = s.doc_b
)
SELECT t.n_sig_match, t.n_pairs,
       CAST(count(*) AS BIGINT) AS n_sampled,
       round(avg(j), 6) AS avg_jaccard
FROM sampj sj JOIN totals t USING (n_sig_match)
GROUP BY 1, 2
""",
)
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: per signature-match count (the
    sketch's Jaccard estimate bucket, matching components / 16), the TOTAL
    candidate-pair count and the average TRUE shingle Jaccard of a FIXED
    40-pair hash-drawn sample (_CALIB_SAMPLE_PER_BUCKET) — the measurement
    that justifies the sketch's band/row configuration before switching
    dedup to it at scale (the same certify-the-approximation discipline
    as `ivf_recall_at_3`).

    Bounded by design: a calibration curve is a statistical claim per
    bucket, so exact ground truth is computed for a CONSTANT number of
    pairs per bucket (portable-hash order — DuckDB draws the identical
    sample), never for the full candidate set. The former version scored
    every candidate pair against the full inverted-index Jaccard frame,
    which made a certification query output-bound on dup-heavy corpora
    (10x tail 11.62 at derived sf1); the sampled exact joins touch
    ~17 buckets x 40 pairs regardless of corpus size. The per-bucket top-k is TWO-LEVEL (per (bucket, hash-sub) then
    per bucket over the <=64k survivors) so no task ever sorts a whole
    bucket's candidate set; the global per-bucket sample is preserved
    exactly because every global winner survives its sub-bucket cut."""
    matched = read_derived(spark, sf_dir, "minhash_calib_matched")
    pair_hash = (
        (
            (F.col("doc_a") % F.lit(1_000_000_007)) * F.lit(1_000_003)
            + (F.col("doc_b") % F.lit(1_000_000_007))
        )
        % F.lit(1_000_000_007)
        * F.lit(2_654_435_761)
    ) % F.lit(1_000_000_007)
    hashed = matched.withColumn("ph", pair_hash)
    s_cap = _CALIB_SAMPLE_PER_BUCKET
    w1 = Window.partitionBy("n_sig_match", "sub").orderBy("ph", "doc_a", "doc_b")
    lvl1 = (
        hashed.withColumn("sub", F.pmod(F.col("ph"), F.lit(64)))
        .withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") <= s_cap)
        .drop("rk", "sub")
    )
    w2 = Window.partitionBy("n_sig_match").orderBy("ph", "doc_a", "doc_b")
    # <=17 buckets (n_sig_match is 0..16) x 40 rows: collect the sample so
    # the three consuming branches read a local relation, not three
    # replays of the windows — a bounded driver action that pins nothing.
    sample = (
        lvl1.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= s_cap)
        .select("doc_a", "doc_b", "n_sig_match")
    )
    sample = spark.createDataFrame(sample.collect(), sample.schema)
    totals = matched.groupBy("n_sig_match").agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))

    # Exact Jaccard for the sampled pairs ONLY: prune the shingle frame to
    # the <=2 x 17 x sample docs first (broadcast semi-join), then the
    # intersection join touches sample-proportional rows, not the corpus.
    sh = read_derived(spark, sf_dir, "shingles")
    docs_needed = (
        sample.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    )
    sh_s = sh.join(F.broadcast(docs_needed), "doc_id", "left_semi")
    sizes = sh_s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        F.broadcast(sample)
        .join(sh_s.alias("a"), F.col("a.doc_id") == F.col("doc_a"))
        .join(
            sh_s.alias("b"),
            (F.col("b.doc_id") == F.col("doc_b")) & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.coalesce(F.col("n_common"), F.lit(0)) * 1.0 / (
        F.col("s1.sz") + F.col("s2.sz") - F.coalesce(F.col("n_common"), F.lit(0))
    )
    sampj = (
        sample.join(inter, ["doc_a", "doc_b"], "left")
        .join(F.broadcast(sizes.alias("s1")), F.col("doc_a") == F.col("s1.doc_id"))
        .join(F.broadcast(sizes.alias("s2")), F.col("doc_b") == F.col("s2.doc_id"))
        .select("n_sig_match", jac.alias("j"))
    )
    return (
        sampj.groupBy("n_sig_match")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.round(F.avg("j"), 6).alias("avg_jaccard"),
        )
        .join(totals, "n_sig_match")
        .select("n_sig_match", "n_pairs", "n_sampled", "avg_jaccard")
    )


_MINHASH_LSH_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
based AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS m FROM sh
),
perms(h, a, b) AS (VALUES {_MINHASH_PERMS_SQL}),
hashes AS (
  SELECT doc_id, h, min((a * m + b) % {_MINHASH_P}) AS minhash
  FROM based, perms
  GROUP BY doc_id, h
),
bands AS (
  SELECT doc_id, h // 4 AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h)) AS band_sig
  FROM hashes
  GROUP BY doc_id, h // 4
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
"""


@register(
    "minhash_lsh_candidates_served", survey_ref="dedup-minhash,J1,A4", oracle=_MINHASH_LSH_SQL
)
@register("minhash_lsh_candidates", survey_ref="dedup-minhash,J1,A4", oracle=_MINHASH_LSH_SQL)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 universal-hash permutations over one md5-derived base
    hash) + LSH banding (4 bands x 4 rows): candidate pairs are docs
    agreeing on any band signature.

    This is the 100TB-scale dedup path: signature generation is a map-side
    explode+agg, candidate generation an equi-join on (band, signature) —
    cost is proportional to collisions, not to |docs|^2. The signatures
    are read from the ``minhash_signatures`` derived table; the oracle
    replays their derivation from raw text, so the publish + read
    round-trip is hash-certified. ``minhash_lsh_candidates_served`` names
    the same plan as the serving-layer entry of the bench panels (the MV
    serving layer, refreshes.sql:3-36).
    """
    return _lsh_candidates(read_derived(spark, sf_dir, "minhash_signatures"))


@register(
    "simhash_buckets",
    survey_ref="dedup-simhash",
    oracle="""
WITH tok AS (
  SELECT DISTINCT doc_id, word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) t
),
bits AS (
  SELECT doc_id, b,
         CASE WHEN sum(CASE WHEN ((strpos('0123456789abcdef',
                                          substr(md5(word), 1 + b // 4, 1)) - 1)
                                  >> (b % 4)) & 1 = 1 THEN 1 ELSE -1 END) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM tok, unnest(generate_series(0, 15)) AS u(b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(bit * (1 << b)) AS BIGINT) AS simhash16
FROM bits
GROUP BY doc_id
""",
)
def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document from token md5 bits — majority vote per
    bit position over the token set, assembled into an integer bucket key.

    SimHash is a pure per-document function, so the whole computation is
    map-side — ZERO shuffles at any scale. Per distinct token (distinct
    within a doc is doc-local: ``array_distinct``), one md5 whose first
    four hex chars decode to the 16-bit mask (bit b = nibble (b div 4),
    bit (b % 4) inside it → byte-reversed hex = little-endian nibbles,
    hence ``conv(reverse(...), 16, 10)``). A single ``aggregate`` fold
    with an array accumulator counts set bits per position; the majority
    rule is ``2*cnt >= n`` (vote sum = 2*cnt - n >= 0)."""
    docs = _fanout(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select(
        "doc_id",
        F.expr(
            """
            cast(aggregate(
              zip_with(
                aggregate(
                  transform(array_distinct(split(text, ' ')),
                            w -> cast(conv(reverse(substr(md5(w), 1, 4)), 16, 10) as int)),
                  array_repeat(0, 16),
                  (acc, m) -> zip_with(acc, sequence(0, 15),
                                       (a, b) -> a + ((m >> b) & 1))),
                sequence(0, 15),
                (cnt, b) -> if(2 * cnt >= size(array_distinct(split(text, ' '))),
                               shiftleft(1, b), 0)),
              0, (x, y) -> x + y) as bigint)
            """
        ).alias("simhash16"),
    )


# A 32-bit SimHash as a reusable oracle CTE — same construction as the
# 16-bit simhash_buckets oracle, doubled width so a Hamming radius is a
# meaningful filter (radius 1 on 16 bits saturates: half the corpus pairs).
_SIMHASH32_SQL = """
  SELECT doc_id,
         CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS simhash32
  FROM (
    SELECT doc_id, b,
           CASE WHEN sum(CASE WHEN ((strpos('0123456789abcdef',
                                            substr(md5(word), 1 + b // 4, 1)) - 1)
                                    >> (b % 4)) & 1 = 1 THEN 1 ELSE -1 END) >= 0
                THEN 1 ELSE 0 END AS bit
    FROM (SELECT DISTINCT doc_id, word
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) t) tok,
         unnest(generate_series(0, 31)) AS u(b)
    GROUP BY doc_id, b
  ) bits
  GROUP BY doc_id
"""


def _simhash32_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-bit SimHash (doc_id, simhash32) — the builder of the
    ``simhash32_sig`` derived table, the signature table a production
    dedup service maintains. Reading the published table also keeps
    join-inferred IsNotNull(band_val) checks from inlining the whole
    signature fold below the fanout repartition (measured as a
    single-task re-evaluation of the fold per join side): the parquet
    scan is a pushdown barrier."""
    docs = _fanout(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select(
        "doc_id",
        F.expr(
            """
            aggregate(
              zip_with(
                aggregate(
                  transform(array_distinct(split(text, ' ')),
                            w -> cast(conv(reverse(substr(md5(w), 1, 8)), 16, 10) as bigint)),
                  array_repeat(0L, 32),
                  (acc, m) -> zip_with(acc, sequence(0, 31),
                                       (a, b) -> a + ((m >> b) & 1))),
                sequence(0, 31),
                (cnt, b) -> if(2 * cnt >= size(array_distinct(split(text, ' '))),
                               shiftleft(cast(1 as bigint), b), cast(0 as bigint))),
              cast(0 as bigint), (x, y) -> x + y)
            """
        ).alias("simhash32"),
    )


@register(
    "simhash_hamming_pairs",
    survey_ref="dedup-simhash,J1,A1",
    oracle=f"""
WITH sig AS ({_SIMHASH32_SQL}),
bands AS (
  SELECT doc_id, b AS band, (simhash32 >> (b * 16)) & 65535 AS band_val
  FROM sig, unnest(generate_series(0, 1)) AS u(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.simhash32, sb.simhash32)) AS INT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE bit_count(xor(sa.simhash32, sb.simhash32)) <= 1
""",
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-radius near-dup search over a 32-bit SimHash: pairs of
    documents whose signatures differ in at most ONE bit, found via the
    pigeonhole banding — split the signature into two 16-bit bands;
    Hamming distance <= 1 guarantees at least one band is identical, so
    candidates come from an equi-join on (band, band_val) and only
    candidates pay the exact bit_count(xor) verification.

    This is the third member of the banded-candidate family (MinHash
    bands for Jaccard, IVF cells for cosine, signature bands for
    Hamming): comparison cost tracks band-bucket occupancy, never |docs|².
    At production signature widths (64/128-bit), bands widen and buckets
    thin; the plan is unchanged. The signature itself is the
    simhash_buckets construction at double width — still a zero-shuffle
    per-document fold."""
    sig = read_derived(spark, sf_dir, "simhash32_sig")
    bands = sig.select(
        "doc_id",
        "simhash32",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("band"),
    ).select(
        "doc_id",
        "simhash32",
        "band",
        F.expr("shiftright(simhash32, band * 16) & 65535").alias("band_val"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash32").alias("sa"), "band", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash32").alias("sb"), "band", "band_val"
    )
    # Hamming filter BEFORE the dedup: the exact bit_count(xor) check is
    # a per-row expression, while distinct is a shuffle — on a corpus
    # with hot band buckets (similar docs share band values, Σ|bucket|²
    # candidate rows) filtering first shrinks the distinct's input by
    # the radius selectivity. Same output set either way.
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(hamming <= 1)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .distinct()
    )


def _simhash64_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 64-bit SimHash as two 32-bit words (doc_id, lo, hi) — the
    builder of the ``simhash64_sig`` derived table; its published scan
    is the same pushdown barrier as `_simhash32_sig`'s."""
    docs = _fanout(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    cnts = docs.select(
        "doc_id",
        F.expr(
            """
            aggregate(
              transform(
                transform(array_distinct(split(text, ' ')), w -> md5(w)),
                h -> struct(
                  cast(conv(reverse(substr(h, 1, 8)), 16, 10) as bigint) as lo,
                  cast(conv(reverse(substr(h, 9, 8)), 16, 10) as bigint) as hi)),
              array_repeat(cast(0 as bigint), 64),
              (acc, m) -> zip_with(acc, sequence(0, 63),
                                   (a, b) -> a + if(b < 32, shiftright(m.lo, b) & 1,
                                                    shiftright(m.hi, b - 32) & 1)))
            """
        ).alias("cnts"),
        F.expr("size(array_distinct(split(text, ' ')))").alias("n_tok"),
    )
    word = (
        "aggregate(zip_with(slice(cnts, {start}, 32), sequence(0, 31),"
        " (c, b) -> if(2 * c >= n_tok, shiftleft(cast(1 as bigint), b), cast(0 as bigint))),"
        " cast(0 as bigint), (x, y) -> x + y)"
    )
    return cnts.select(
        "doc_id",
        F.expr(word.format(start=1)).alias("lo"),
        F.expr(word.format(start=33)).alias("hi"),
    )


@register(
    "simhash64_hamming_pairs",
    survey_ref="dedup-simhash,J1,A1",
    oracle="""
WITH bits AS (
  SELECT doc_id, b,
         CASE WHEN sum(CASE WHEN ((strpos('0123456789abcdef',
                                          substr(md5(word), 1 + b // 4, 1)) - 1)
                                  >> (b % 4)) & 1 = 1 THEN 1 ELSE -1 END) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM (SELECT DISTINCT doc_id, word
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) t) tok,
       unnest(generate_series(0, 63)) AS u(b)
  GROUP BY doc_id, b
), sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo,
         CAST(sum(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi
  FROM bits GROUP BY doc_id
), bands AS (
  SELECT doc_id, lo, hi, b AS band,
         CASE b WHEN 0 THEN lo & 65535 WHEN 1 THEN (lo >> 16) & 65535
                WHEN 2 THEN hi & 65535 ELSE (hi >> 16) & 65535 END AS band_val
  FROM sig, unnest(generate_series(0, 3)) AS u(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.lo, sb.lo)) + bit_count(xor(sa.hi, sb.hi)) AS INT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE bit_count(xor(sa.lo, sb.lo)) + bit_count(xor(sa.hi, sb.hi)) <= 3
""",
)
def simhash64_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-width SimHash near-dup search: 64-bit signatures, four
    16-bit pigeonhole bands, Hamming radius <= 3 — the band-widening move
    the 32-bit query's docstring promises (`simhash_hamming_pairs`),
    certified here: at 64 bits, 4 bands of 16 bits guarantee any pair
    within distance 3 shares at least one identical band, and random
    16-bit band collisions thin as 1/65536 of the pair space, so
    candidate cost keeps tracking true near-dups as the corpus grows.

    The signature is stored as TWO 32-bit words (lo, hi) rather than one
    64-bit integer: bit 63 of an int64 is the sign bit, and DuckDB
    rejects `1::BIGINT << 63` (signed overflow) where Spark wraps — the
    word-array layout sidesteps the divergence and is how >64-bit
    signatures lay out anyway. Same zero-shuffle per-document majority
    fold as the narrower variants, one 64-slot count array per doc."""
    sig = read_derived(spark, sf_dir, "simhash64_sig")
    bands = sig.select(
        "doc_id", "lo", "hi", F.explode(F.expr("sequence(0, 3)")).alias("band")
    ).withColumn(
        "band_val",
        F.expr(
            "case band when 0 then lo & 65535 when 1 then shiftright(lo, 16) & 65535"
            " when 2 then hi & 65535 else shiftright(hi, 16) & 65535 end"
        ),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("lo").alias("la"), F.col("hi").alias("ha"),
        "band", "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("lo").alias("lb"), F.col("hi").alias("hb"),
        "band", "band_val",
    )
    # Filter-then-distinct, as in simhash_hamming_pairs: the per-row
    # hamming check runs on the raw band-join output so the dedup
    # shuffle only carries pairs inside the radius, not every hot-bucket
    # collision (measured 3.9M collision rows -> ~10x smaller distinct).
    hamming = F.bit_count(F.col("la").bitwiseXOR(F.col("lb"))) + F.bit_count(
        F.col("ha").bitwiseXOR(F.col("hb"))
    )
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(hamming <= 3)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .distinct()
    )


@register(
    "author_position_bridge",
    survey_ref="A1,A2,A3,O1",
    oracle="""
WITH bridge AS (
  SELECT doc_id, i AS position, words[i] AS author
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) t,
       unnest(generate_series(1, least(3, len(words)))) AS u(i)
)
SELECT author,
       CAST(count(*) AS BIGINT)                                   AS n_mentions,
       CAST(count(DISTINCT doc_id) AS BIGINT)                     AS n_docs,
       CAST(sum(CASE WHEN position = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first
FROM bridge GROUP BY author
""",
)
def author_position_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered bridge-table modeling: the rxiv_article__rxiv_author bridge
    keeps an explicit ``position`` column (init.sql:1162-1190), and the
    author-ranking queries unnest comma-lists (gisaid.sql:21-31). Here the
    first three tokens of each doc stand in as its 'authors': posexplode
    preserves list order as the position, then counts mentions, distinct
    docs, and first-author appearances per author."""
    docs = load_table(spark, sf_dir, "documents")
    bridge = docs.select(
        "doc_id",
        F.posexplode(F.slice(F.split("text", " "), 1, 3)).alias("position", "author"),
    )
    return bridge.groupBy("author").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mentions"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("position") == 0, 1).otherwise(0)).cast("bigint").alias("n_first"),
    )


@register(
    "tfidf_top_terms",
    survey_ref="text-analysis,A7,A8,W2",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT word, count(*) AS dfq FROM tf GROUP BY 1),
total AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word, tf.tf * ln(total.n * 1.0 / dfreq.dfq) AS score
  FROM tf JOIN dfreq USING (word) CROSS JOIN total
),
ranked AS (
  SELECT doc_id, word, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rk
  FROM scored
)
SELECT doc_id, word, round(score, 6) AS tfidf, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the training-data 'what is this
    document about' signal. TF and document frequency are two hash
    aggregations; the corpus size joins in as a broadcast scalar (the A8
    denominator shape); ranking is a per-doc window. Ties rank
    deterministically by word; rounding happens after ranking so both
    engines order identical doubles."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # One shuffle, reused twice: partition by doc_id up front, then BOTH
    # the (doc_id, word) groupBy and the per-doc ranking window are
    # satisfied by that partitioning (doc_id is a subset of the groupBy
    # keys; the window partitions by exactly doc_id) — no re-shuffle of
    # the tf table anywhere downstream.
    tok = docs.repartition("doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # Document frequency as its own groupBy: partial (map-side) aggregation
    # collapses hot words ("the"-class tokens) before the shuffle, so no
    # single reducer ever sees a word's full occurrence list. A
    # count-over-Window.partitionBy("word") here would send every
    # occurrence of a hot word to one partition — a skew that gets
    # strictly worse with corpus size. The result is vocab-sized — which
    # GROWS with the corpus (heap-law sublinear, but "a few hundred MB"
    # for natural text and more for noisy web crawl), so no broadcast
    # hint: AQE sees the actual post-agg size at runtime and picks
    # broadcast when it fits, sort-merge when it does not — the same rule
    # `prefix_filter_jaccard_pairs` established for corpus-derived frames.
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("dfq"))
    total = load_table(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id", "word", (F.col("tf") * F.log(F.col("n") * 1.0 / F.col("dfq"))).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", F.round("score", 6).alias("tfidf"), "rk")
    )


@register(
    "benchmark_decontamination",
    survey_ref="pipeline-decontam,J2,A1",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
eval_grams AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 41 = 0),
corpus AS (
  SELECT s.doc_id, count(*) AS n_shingles,
         CAST(sum(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
  FROM sh s LEFT JOIN eval_grams e ON s.shingle = e.shingle
  WHERE s.doc_id % 41 <> 0
  GROUP BY s.doc_id
)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, n_overlap,
       round(n_overlap * 1.0 / n_shingles, 6) AS overlap_frac,
       n_overlap * 1.0 / n_shingles >= 0.2 AS contaminated
FROM corpus
""",
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data decontamination: per corpus document, the fraction of
    its 3-gram shingles that also appear anywhere in the held-out benchmark
    set (docs with doc_id % 41 == 0 standing in for an eval suite); docs
    over the 20% overlap threshold are flagged for removal.

    Scale shape: benchmark suites are tiny relative to a training corpus,
    so the distinct eval-gram set is broadcast and the overlap count is a
    map-side broadcast left join + groupBy — the corpus is scanned exactly
    once and no shingle list ever shuffles by shingle key.
    """
    sh = read_derived(spark, sf_dir, "shingles")
    is_eval = F.col("doc_id") % 41 == 0
    eval_grams = sh.filter(is_eval).select("shingle").distinct().withColumn("hit", F.lit(1))
    corpus = (
        sh.filter(~is_eval)
        .join(F.broadcast(eval_grams), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_overlap"),
        )
    )
    frac = F.col("n_overlap") * 1.0 / F.col("n_shingles")
    return corpus.select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        "n_overlap",
        F.round(frac, 6).alias("overlap_frac"),
        (frac >= 0.2).alias("contaminated"),
    )


# The bloom oracle rebuilds the exact same 4096-bit / 4-hash bitset the
# Spark operator builds (operators/bloom.py): double hashing from the two
# md5 halves, h2 forced odd; word w = p // 32, mask = 1 << (p % 32)
# (32-bit words in BIGINT slots: DuckDB rejects 1::BIGINT << 63 as overflow).
# The split-md5 double-hash convention shared by operators/bloom.py and
# operators/sketches.py (h1 = first 15 hex chars, h2 = chars 17-31 forced
# odd). ONE template, parameterized by key column — the bloom and CMS
# oracles both instantiate it, so a change here cannot leave one stale.
_SPLIT_MD5_HASH_SQL = """
  SELECT {cols} {key},
         ('0x' || substr(md5({key}), 1, 15))::BIGINT AS h1,
         (('0x' || substr(md5({key}), 17, 15))::BIGINT | 1) AS h2
  FROM {src}
"""


def _split_md5_sql(key: str, cols: str, src: str) -> str:
    return _SPLIT_MD5_HASH_SQL.format(key=key, cols=cols, src=src)


@register(
    "bloom_decontamination",
    survey_ref="pipeline-decontam,bloom-prefilter,J5,A2",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
eval_grams AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 41 = 0),
hp AS ({_split_md5_sql("shingle", cols="", src="eval_grams")}),
pos AS (
  SELECT DISTINCT (h1 + i * h2) % 4096 AS p
  FROM hp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i)
),
words AS (
  SELECT p // 32 AS w, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
  FROM pos GROUP BY 1
),
probes AS (
  SELECT DISTINCT d.source, s.shingle
  FROM sh s JOIN documents d ON d.doc_id = s.doc_id
  WHERE s.doc_id % 41 <> 0
),
pp AS ({_split_md5_sql("shingle", cols="source,", src="probes")}),
probed AS (
  SELECT source, shingle,
         bool_and(COALESCE(w.bits, 0) & (1::BIGINT << CAST(q.p % 32 AS INT)) <> 0) AS candidate
  FROM (
    SELECT source, shingle, (h1 + i * h2) % 4096 AS p
    FROM pp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i)
  ) q
  LEFT JOIN words w ON w.w = q.p // 32
  GROUP BY source, shingle
),
labeled AS (
  SELECT pr.source, pr.candidate, (e.shingle IS NOT NULL) AS hit
  FROM probed pr LEFT JOIN eval_grams e ON e.shingle = pr.shingle
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(CASE WHEN candidate THEN 1 ELSE 0 END) AS BIGINT) AS bloom_candidates,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits,
       CAST(sum(CASE WHEN candidate AND NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
       CAST(sum(CASE WHEN hit AND NOT candidate THEN 1 ELSE 0 END) AS BIGINT) AS false_negatives,
       round(sum(CASE WHEN candidate AND NOT hit THEN 1 ELSE 0 END) * 1.0
             / nullif(count(*) - sum(CASE WHEN hit THEN 1 ELSE 0 END), 0), 6) AS fp_rate
FROM labeled GROUP BY source
""",
)
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination, certifying the semi-join
    reduction in ``operators/bloom.py``: build a 4096-bit filter over the
    eval suite's distinct shingles, probe every corpus (source, shingle)
    through the broadcast bitset, and report per source the candidate
    count vs the exact hit count — false_negatives is structurally 0 (the
    Bloom guarantee the oracle certifies bit-for-bit) and fp_rate is the
    wasted-join fraction the m/k sizing bought.

    Scale shape: this is how a 100 TB corpus avoids shuffling its full
    shingle set against a benchmark key list — the filter is ~1 KB
    broadcast to every scan task, misses die map-side, and only the
    candidate sliver (hits + fp) pays the exact semi-join. The reference's
    in-process HashSet membership checks
    (gisaid/GisaidApiImporter.java:230-239) are the single-node ancestor
    of this pattern."""
    from harvester_database_and_automation_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom,
    )

    sh = read_derived(spark, sf_dir, "shingles")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    is_eval = F.col("doc_id") % 41 == 0
    eval_grams = sh.filter(is_eval).select("shingle").distinct()
    probes = (
        sh.filter(~is_eval).join(docs, "doc_id").select("source", "shingle").distinct()
    )
    bloom = build_bloom(eval_grams, "shingle")
    cand = (
        probes.crossJoin(F.broadcast(bloom))
        .withColumn("candidate", bloom_might_contain(F.col("bits"), "shingle"))
        .drop("bits")
    )
    labeled = cand.join(
        F.broadcast(eval_grams.withColumn("hit", F.lit(True))), "shingle", "left"
    ).select("source", "candidate", F.coalesce(F.col("hit"), F.lit(False)).alias("hit"))
    b = lambda c: F.sum(c.cast("int")).cast("bigint")  # noqa: E731
    agg = labeled.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        b(F.col("candidate")).alias("bloom_candidates"),
        b(F.col("hit")).alias("exact_hits"),
        b(F.col("candidate") & ~F.col("hit")).alias("false_positives"),
        b(F.col("hit") & ~F.col("candidate")).alias("false_negatives"),
    )
    return agg.withColumn(
        "fp_rate",
        F.round(
            F.col("false_positives")
            * 1.0
            / F.nullif((F.col("n_probes") - F.col("exact_hits")).cast("double"), F.lit(0.0)),
            6,
        ),
    )


@register(
    "corpus_mix_sample",
    survey_ref="pipeline-mixing,J8,W2",
    oracle="""
WITH targets AS (
  SELECT * FROM (VALUES ('en', 40), ('zh', 20), ('es', 20), ('de', 15), ('fr', 10), ('pt', 5))
       AS t(lang, quota)
),
hashed AS (
  SELECT d.doc_id, d.lang, t.quota,
         ((d.doc_id % 1000003) * (2654435761 % 1000003)) % 1000003 AS h
  FROM documents d JOIN targets t ON d.lang = t.lang
),
ranked AS (
  SELECT doc_id, lang, quota,
         row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS sample_rank
  FROM hashed
)
SELECT doc_id, lang, CAST(sample_rank AS INT) AS sample_rank
FROM ranked WHERE sample_rank <= quota
""",
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: draw a deterministic per-language quota sample so the
    training mix hits target proportions (quotas here are a literal dim;
    in production they come from the mixing config). The multiplicative
    hash gives a shuffled-but-reproducible order within each stratum —
    the J8 stratified-sample shape pointed at pipeline mixing.

    Scale shape: quota dim is broadcast; the only shuffle is the per-lang
    window, and a skewed stratum ('en'-class) can switch to the boolean
    top-k pattern (W3) since quota ≪ stratum size.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    targets = spark.createDataFrame(
        [("en", 40), ("zh", 20), ("es", 20), ("de", 15), ("fr", 10), ("pt", 5)],
        "lang string, quota int",
    )
    hashed = docs.join(F.broadcast(targets), "lang").select(
        "doc_id", "lang", "quota", (((F.col("doc_id") % 1000003) * (2654435761 % 1000003)) % 1000003).alias("h")
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        hashed.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= F.col("quota"))
        .select("doc_id", "lang", F.col("sample_rank").cast("int").alias("sample_rank"))
    )


@register(
    "word_heavy_hitters",
    survey_ref="sketch-heavyhitters,A1,A8",
    oracle="""
WITH words AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
tot AS (SELECT count(*) AS n FROM words)
SELECT word, count(*) AS n_occurrences
FROM words, tot
GROUP BY word, tot.n
HAVING count(*) * 200 >= tot.n
""",
)
def word_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi=1/200 heavy-hitter tokens via the distributed Misra-Gries
    candidate pass (operators/sketches.py): per-partition 400-counter
    summaries bound the candidate set, then only candidates are counted
    exactly — the shuffle never carries the full distinct vocabulary. The
    oracle is the plain HAVING formulation; matching hashes certify the
    sketch pass loses no true heavy hitter."""
    from harvester_database_and_automation_spark.operators.sketches import heavy_hitters_exact

    docs = _fanout(load_table(spark, sf_dir, "documents").select("text"))
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    return heavy_hitters_exact(words, "word", 200)


# Count-Min oracle rebuilds the exact (4 x 1024) counter grid the Spark
# operator builds (operators/sketches.py): same split-md5 double hash as
# the Bloom filter, counters summed per (row j, column pos).
@register(
    "cms_word_frequency",
    survey_ref="sketch-frequency,A1,O1",
    oracle=f"""
WITH words AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
top AS (
  SELECT word, count(*) AS true_count FROM words
  GROUP BY word ORDER BY true_count DESC, word LIMIT 20
),
wh AS ({_split_md5_sql("word", cols="", src="words")}),
cells AS (
  SELECT j, (h1 + j * h2) % 1024 AS pos, count(*) AS c
  FROM wh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)
  GROUP BY 1, 2
),
ph AS ({_split_md5_sql("word", cols="true_count,", src="top")}),
est AS (
  SELECT word, true_count, min(COALESCE(c.c, 0)) AS cms_estimate
  FROM (
    SELECT word, true_count, j, (h1 + j * h2) % 1024 AS pos
    FROM ph CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)
  ) q
  LEFT JOIN cells c ON c.j = q.j AND c.pos = q.pos
  GROUP BY word, true_count
)
SELECT word,
       CAST(true_count AS BIGINT)               AS true_count,
       CAST(cms_estimate AS BIGINT)             AS cms_estimate,
       CAST(cms_estimate - true_count AS BIGINT) AS overcount
FROM est
""",
)
def cms_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch certified against exact counts: build
    the (4 x 1024) counter grid over every token occurrence, estimate the
    top-20 words' frequencies from it, and report the overcount — which
    the sketch guarantees is never negative (a hash-matched oracle row
    with overcount >= 0 for every word IS the no-undercount certificate).

    Completes the sketch suite: Bloom (membership), KMV (cardinality),
    Misra-Gries (heavy-hitter candidates), CMS (per-key frequency). Scale
    shape: the grid is a fixed 4096-cell mergeable summary — per-segment
    grids ADD cell-wise, so 100 TB maintains per-partition sketches and
    merges, while the raw token stream never shuffles (only (j, pos)
    pairs do)."""
    from harvester_database_and_automation_spark.operators.sketches import (
        count_min_cells,
        count_min_estimate,
    )

    # The token stream feeds the truth ranking AND the grid: each branch
    # re-reads the scan through a map-only explode, cheaper than
    # materializing every token occurrence.
    docs = _fanout(load_table(spark, sf_dir, "documents").select("text"))
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    top = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("word").asc())
        .limit(20)
    )
    cells = count_min_cells(words, "word", width=1024, depth=4)
    est = count_min_estimate(cells, top, "word", width=1024, depth=4)
    return est.select(
        "word",
        F.col("true_count").cast("bigint").alias("true_count"),
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("true_count")).cast("bigint").alias("overcount"),
    )


@register(
    "doc_repetition_stats",
    survey_ref="text-analysis,A1,P4",
    oracle="""
WITH bigrams AS (
  SELECT doc_id, words[i] || ' ' || words[i+1] AS bigram
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) t,
       unnest(generate_series(1, len(words) - 1)) AS u(i)
),
per AS (SELECT doc_id, bigram, count(*) AS n FROM bigrams GROUP BY doc_id, bigram)
SELECT doc_id,
       CAST(sum(n) AS BIGINT)                       AS n_bigrams,
       CAST(count(*) AS BIGINT)                     AS n_distinct_bigrams,
       CAST(max(n) AS BIGINT)                       AS top_bigram_n,
       round(max(n) * 1.0 / sum(n), 6)              AS top_bigram_frac,
       round(1.0 - count(*) * 1.0 / sum(n), 6)      AS dup_bigram_frac,
       CASE WHEN max(n) * 1.0 / sum(n) > 0.04 THEN 'repetitive' ELSE 'ok' END
                                                    AS repetition_class
FROM per
GROUP BY doc_id
""",
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality rules (the Gopher-style "fraction
    of characters in the most common n-gram" filters a pretraining corpus
    runs before training): per document, the total/distinct bigram counts,
    the most frequent bigram's share, the duplicate-bigram fraction, and a
    keep/drop class on the 4% top-bigram threshold.

    Two partial-aggregating groupBys on doc-local keys — (doc_id, bigram)
    cardinality grows with the corpus, not with any hot key, so the plan
    has no skew at 100 TB; bigram generation itself is a pure HOF map."""
    docs = _fanout(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # size >= 2 guard: sequence(0, n-2) runs DESCENDING for 1-token docs
    # (the _shingles trap); the oracle's generate_series is empty there.
    bigrams = docs.filter(F.size(F.split("text", " ")) >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(split(text, ' ')) - 2),"
                " i -> concat_ws(' ', slice(split(text, ' '), i + 1, 2)))"
            )
        ).alias("bigram"),
    )
    per = bigrams.groupBy("doc_id", "bigram").count()
    agg = per.groupBy("doc_id").agg(
        F.sum("count").cast("bigint").alias("n_bigrams"),
        F.count("*").cast("bigint").alias("n_distinct_bigrams"),
        F.max("count").cast("bigint").alias("top_bigram_n"),
    )
    top_frac = F.col("top_bigram_n") * 1.0 / F.col("n_bigrams")
    return agg.select(
        "doc_id",
        "n_bigrams",
        "n_distinct_bigrams",
        "top_bigram_n",
        F.round(top_frac, 6).alias("top_bigram_frac"),
        F.round(1.0 - F.col("n_distinct_bigrams") * 1.0 / F.col("n_bigrams"), 6).alias(
            "dup_bigram_frac"
        ),
        F.when(top_frac > 0.04, "repetitive").otherwise("ok").alias("repetition_class"),
    )


@register(
    "train_shard_manifest",
    survey_ref="S7,A1,train-export",
    oracle="""
WITH hashed AS (
  SELECT doc_id,
         ((((doc_id % 4294967296) // 65536) * 2654435761 % 4294967296) * 65536 + (doc_id % 65536) * 2654435761) % 4294967296 AS h,
         len(string_split(text, ' '))       AS n_tokens
  FROM documents
)
SELECT CAST(h % 16 AS INT)            AS shard,
       CAST(count(*) AS BIGINT)       AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)  AS total_tokens,
       CAST(min(h) AS BIGINT)         AS min_hash,
       CAST(max(h) AS BIGINT)         AS max_hash,
       CAST(arg_min(doc_id, h) AS BIGINT) AS first_doc
FROM hashed
GROUP BY h % 16
""",
)
def train_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment for training-data export: Knuth
    multiplicative hash of the doc id (injective for ids < 2^32, so the
    within-shard hash order is a stable pseudo-random shuffle), docs
    bucketed into 16 shards, with per-shard token budgets and the hash
    range the shard covers. The same manifest drives
    ``DataFrameWriter.partitionBy("shard")`` at export time — one pass,
    one 16-key aggregate, no data-dependent skew because the hash
    equidistributes ids."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hashed = docs.select(
        "doc_id",
        F.expr(
            "((((doc_id % 4294967296) div 65536) * 2654435761 % 4294967296) * 65536"
            " + (doc_id % 65536) * 2654435761) % 4294967296"
        ).alias("h"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    return (
        hashed.groupBy((F.col("h") % 16).cast("int").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("h").cast("bigint").alias("min_hash"),
            F.max("h").cast("bigint").alias("max_hash"),
            F.min_by("doc_id", "h").cast("bigint").alias("first_doc"),
        )
    )


@register(
    "doc_unicode_sanitation",
    survey_ref="text-analysis,P6,A2",
    oracle=r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(text) - length(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))
            AS BIGINT) AS n_control,
       CAST(length(text) - length(regexp_replace(text, '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g'))
            AS BIGINT) AS n_zero_width,
       CAST(length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) AS BIGINT) AS n_non_ascii,
       length(regexp_replace(text, '\x{FFFD}', '', 'g')) < length(text) AS has_replacement_char,
       CAST(length(trim(regexp_replace(text, ' +', ' ', 'g'))) AS BIGINT) AS n_chars_collapsed
FROM documents
""",
)
def doc_unicode_sanitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode sanitation profile — the cleanup gate a pretraining corpus
    runs before tokenization: per document, counts of control characters,
    zero-width characters (ZWSP/ZWNJ/ZWJ/BOM), non-ASCII characters, the
    U+FFFD replacement-char flag (mojibake / broken decoding upstream),
    and the length after whitespace collapsing. Extends the reference's
    row-content validation family (P6 — utility.R:755-814's enum/type
    sanity, viollier/parser.py:84-131's format checks) to the character
    level.

    All counts are length-difference arithmetic over regexp_replace with
    character-class patterns chosen to behave identically under Java
    regex and RE2 (DuckDB needs the 'g' flag; Spark replaces globally by
    default). One map pass, no shuffle at all — the scan's row count is
    the plan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = F.length("text")

    def removed(pattern: str):
        return (n - F.length(F.regexp_replace("text", pattern, ""))).cast("bigint")

    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_chars"),
        removed(r"[\x00-\x08\x0B\x0C\x0E-\x1F]").alias("n_control"),
        removed(r"[\x{200B}-\x{200D}\x{FEFF}]").alias("n_zero_width"),
        F.length(F.regexp_replace("text", r"[\x00-\x7F]", "")).cast("bigint").alias("n_non_ascii"),
        (F.length(F.regexp_replace("text", "�", "")) < n).alias("has_replacement_char"),
        F.length(F.trim(F.regexp_replace("text", " +", " "))).cast("bigint").alias(
            "n_chars_collapsed"
        ),
    )


@register(
    "prefix_filter_jaccard_pairs",
    survey_ref="dedup-near,J1,W2,A1",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common * 1.0 / (s1.sz + s2.sz - n_common), 6) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = doc_a
JOIN sizes s2 ON s2.doc_id = doc_b
WHERE n_common * 1.0 / (s1.sz + s2.sz - n_common) >= 0.5
""",
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix filtering: candidates come ONLY from each
    document's prefix — its (sz - ceil(t*sz) + 1) globally-RAREST
    shingles under a canonical (document-frequency, shingle) order — yet
    the result is provably every pair with Jaccard >= 0.5. The oracle
    computes the same pairs from the full inverted index, so the value
    hash certifies the prefix filter's completeness, not just its output.

    This is the candidate generator that beats plain df-pruned
    inverted-index joins at scale: hot shingles almost never appear in
    any prefix (they sort last), so the quadratic buckets vanish without
    a correctness-losing frequency cap. Plan: one df aggregation joined
    back (AQE-chosen strategy — the vocab-sized df table is unbounded,
    so no broadcast hint), a per-doc ranking window over compact
    (doc, shingle-df) rows, the prefix-only self-join, then exact
    verification against the published ``dup_pairs`` table."""
    sh = read_derived(spark, sf_dir, "shingles")
    df_tab = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # No broadcast hint on df_tab: the per-shingle document-frequency
    # table grows with the corpus vocabulary — an unbounded frame that
    # would pin the driver at 100 TB. AQE picks broadcast while it is
    # actually small and shuffles when it is not.
    ranked = (
        sh.join(df_tab, "shingle")
        .withColumn("pos", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "shingle")))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    # Jaccard t=0.5 prefix bound: sz - ceil(sz/2) + 1, all-integer.
    prefix = ranked.filter(F.col("pos") <= F.col("sz") - F.expr("(sz + 1) div 2") + 1).select(
        "doc_id", "shingle"
    )
    a, b = prefix.alias("pa"), prefix.alias("pb")
    cands = (
        a.join(b, (F.col("pa.shingle") == F.col("pb.shingle")) & (F.col("pa.doc_id") < F.col("pb.doc_id")))
        .select(F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = read_derived(spark, sf_dir, "dup_pairs").filter("jaccard >= 0.5")
    return cands.join(verified, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


@register(
    "word_cooccurrence_lift",
    survey_ref="text-analysis,J1,A1,A8",
    oracle="""
WITH dw AS (
  SELECT DISTINCT doc_id, w AS word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
),
n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
wc AS (SELECT word, count(*) AS n_w FROM dw GROUP BY word),
pairs AS (
  SELECT a.word AS w1, b.word AS w2, count(*) AS n12
  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.word < b.word
  GROUP BY 1, 2
)
SELECT w1, w2, CAST(n12 AS BIGINT) AS n12,
       round(n12 * 1.0 * n / (c1.n_w * 1.0 * c2.n_w), 6) AS lift
FROM pairs
JOIN wc c1 ON c1.word = w1
JOIN wc c2 ON c2.word = w2
CROSS JOIN n_docs
WHERE n12 >= 5
""",
)
def word_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level word-pair association (lift = P(w1,w2)/(P(w1)P(w2)),
    the exp of PMI — reported as the raw ratio so no libm `ln` sits in the
    hash-compared output): which terms co-occur more than independence
    predicts. The collocation/association miner of a text-analytics stack,
    kept support-filtered (pair in >= 5 docs).

    Scale shape: there is NO self-join — each document's distinct-word
    array expands to its ordered pairs map-side (a higher-order double
    transform; cost is sum of per-doc vocab^2, not corpus^2, and pair
    partials combine before the one groupBy shuffle); marginals are a
    vocab-sized broadcast; the doc total is a broadcast scalar. Lift is a
    ratio of small exact ints in double math — engine-identical."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ws_expr = F.expr("array_sort(array_distinct(filter(split(text, ' '), w -> w <> '')))")
    # Only the quadratic pair expansion needs the fanout; the marginal and
    # doc-count branches are linear scans and skip the repartition.
    arr = _fanout(base).select("doc_id", ws_expr.alias("ws"))
    n_docs = base.agg(F.countDistinct("doc_id").alias("n"))
    wc = (
        base.select(F.explode(ws_expr).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    pair_structs = F.expr(
        "flatten(transform(ws, (w1, i) ->"
        " transform(slice(ws, i + 2, size(ws)), w2 -> struct(w1, w2))))"
    )
    pairs = (
        arr.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n12"))
        .filter(F.col("n12") >= 5)
    )
    c1 = wc.select(F.col("word").alias("w1"), F.col("n_w").alias("n_w1"))
    c2 = wc.select(F.col("word").alias("w2"), F.col("n_w").alias("n_w2"))
    return (
        pairs.join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            F.col("n12").cast("bigint").alias("n12"),
            F.round(F.col("n12") * 1.0 * F.col("n") / (F.col("n_w1") * 1.0 * F.col("n_w2")), 6).alias(
                "lift"
            ),
        )
    )


@register(
    "cdc_chunk_stats",
    survey_ref="dedup-cdc,W2,array-explode,A1",
    oracle="""
WITH pos AS (
  SELECT doc_id, text, length(text) AS len, u.i
  FROM documents, unnest(generate_series(8, length(text))) AS u(i)
),
bounds AS (
  SELECT doc_id, text, len, i
  FROM pos
  WHERE ('0x' || substr(md5(substr(text, i - 7, 8)), 1, 8))::BIGINT % 64 = 0
),
all_bounds AS (
  SELECT doc_id, text, len, i FROM bounds
  UNION ALL
  SELECT doc_id, text, length(text), length(text) FROM documents
),
chunks AS (
  SELECT doc_id, text, len, i AS chunk_end,
         COALESCE(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS chunk_start
  FROM all_bounds
)
SELECT doc_id,
       CAST(chunk_start AS BIGINT) AS chunk_start,
       CAST(chunk_end - chunk_start AS INT) AS chunk_len,
       md5(substr(text, chunk_start + 1, chunk_end - chunk_start)) AS chunk_md5
FROM chunks
WHERE chunk_end > chunk_start
""",
)
def cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS boundary trick): a chunk
    boundary falls AFTER position i wherever the hash of the trailing
    8-char window is 0 mod 64 — so inserting or deleting text shifts only
    the chunks it touches, and every other chunk keeps its md5. This is
    the dedup unit that catches SHIFTED duplicate content, which
    fixed-stride chunking (`doc_chunk_manifest`) structurally cannot.

    Expected chunk length is geometric with mean 64; the doc end always
    closes the last chunk. Boundary detection replays bit-for-bit in both
    engines (md5 of the window, top 32 bits mod 64 — same split-md5
    convention as the bloom/CMS hashes). Scale shape: the per-position
    expansion is a map-side explode (cost O(bytes), the price any CDC
    scanner pays), boundaries collapse to a tiny per-doc set, and the
    chunk assembly is a per-doc lag window over boundary rows only —
    document text never shuffles; at 100 TB this runs as a scan-speed
    pass exactly like the fixed-stride manifest."""
    docs = _fanout(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # Guard len >= 8 before the sequence: Spark's sequence(8, stop) runs
    # DESCENDING when stop < 8 (DuckDB's generate_series is empty), which
    # would invent boundaries for sub-window documents.
    pos = docs.filter(F.length("text") >= 8).select(
        "doc_id",
        "text",
        F.length("text").alias("len"),
        F.explode(F.sequence(F.lit(8), F.length("text"))).alias("i"),
    )
    win_hash = F.expr("cast(conv(substr(md5(substr(text, i - 7, 8)), 1, 8), 16, 10) as bigint)")
    bounds = pos.filter(win_hash % 64 == 0).select("doc_id", "text", "len", "i")
    doc_end = docs.select(
        "doc_id", "text", F.length("text").alias("len"), F.length("text").alias("i")
    )
    all_bounds = bounds.unionByName(doc_end)
    w = Window.partitionBy("doc_id").orderBy("i")
    chunks = all_bounds.select(
        "doc_id",
        "text",
        F.col("i").alias("chunk_end"),
        F.coalesce(F.lag("i").over(w), F.lit(0)).alias("chunk_start"),
    ).filter(F.col("chunk_end") > F.col("chunk_start"))
    chunk_txt = F.expr("substr(text, chunk_start + 1, chunk_end - chunk_start)")
    return chunks.select(
        "doc_id",
        F.col("chunk_start").cast("bigint").alias("chunk_start"),
        (F.col("chunk_end") - F.col("chunk_start")).cast("int").alias("chunk_len"),
        F.md5(chunk_txt).alias("chunk_md5"),
    )



def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted oriented co-purchase edges (pa < pb, w = co-occurring
    orders, pruned at w >= 2) — the ONE definition of the graph that
    PageRank and triangle counting consume, through the
    ``copurchase_edges`` derived table this builds. Basket pair expansion
    is map-side (per-order distinct array, double higher-order
    transform); the prune kills hot-pair tails before the graph exists."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    pair_structs = F.expr(
        "flatten(transform(parts, (a, i) ->"
        " transform(slice(parts, i + 2, size(parts)), b -> struct(a, b))))"
    )
    return (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("pa"), F.col("p.b").alias("pb"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
    )


# 3 unrolled fixed-point PageRank iterations for the DuckDB oracle.
_PR_ITER_SQL = """
r{n} AS (
  SELECT e.dst AS part, 150000 + (85 * sum(r{p}.rank // d.deg)) // 100 AS rank
  FROM edges e
  JOIN r{p} ON r{p}.part = e.src
  JOIN deg d ON d.part = e.src
  GROUP BY e.dst
)"""


@register(
    "part_copurchase_pagerank",
    survey_ref="graph-pagerank,iterative,J1,A1",
    oracle=f"""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
),
pairs AS (
  SELECT u.a AS pa, v.b AS pb
  FROM baskets, unnest(parts) AS u(a), unnest(parts) AS v(b)
  WHERE u.a < v.b
),
wedges AS (
  SELECT pa, pb, count(*) AS w FROM pairs GROUP BY pa, pb HAVING count(*) >= 2
),
edges AS (
  SELECT pa AS src, pb AS dst FROM wedges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM wedges
),
deg AS (SELECT src AS part, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT part, CAST(1000000 AS BIGINT) AS rank FROM deg),
{_PR_ITER_SQL.format(n=1, p=0)},
{_PR_ITER_SQL.format(n=2, p=1)},
{_PR_ITER_SQL.format(n=3, p=2)}
SELECT r3.part, CAST(r3.rank AS BIGINT) AS rank, CAST(d.deg AS BIGINT) AS deg
FROM r3 JOIN deg d USING (part)
""",
)
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts are linked when
    bought together in >= 2 orders) — the iterative-propagation family
    beyond connected components: 3 damped rounds of rank flowing along
    edges. All arithmetic is FIXED-POINT integer (ranks scaled by 1e6,
    contribution = rank div degree, damping = 150000 + 85*sum div 100),
    so the result is bit-exact on both engines — float PageRank would
    hash-differently under Spark's nondeterministic partial-sum order.

    Scale shape: basket pair expansion is map-side (per-order distinct
    array, higher-order double transform — same pattern as
    `word_cooccurrence_lift`); the weight-2 prune kills the hot-pair
    tail before the graph materializes; each iteration is one join on
    src plus one partial-agg groupBy on dst — the degree frame and edge
    list are reused across rounds (at 100 TB: localCheckpoint the edge
    frame once, as `operators/components.py` does per contraction
    round). Cost per round ∝ edges, rounds fixed at 3."""
    wedges = read_derived(spark, sf_dir, "copurchase_edges")
    edges = wedges.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionByName(
        wedges.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    ).localCheckpoint()
    deg = edges.groupBy(F.col("src").alias("part")).agg(F.count(F.lit(1)).alias("deg")).localCheckpoint()
    ranks = deg.select("part", F.lit(1000000).cast("bigint").alias("rank"))
    # Measured variant note: materializing (src, dst, deg) once and
    # broadcasting the rank frame per round was 1.6x SLOWER here — the
    # wide checkpoint write outweighs the per-round join it saves. The
    # checkpointed narrow edge list + sort-merge per round wins locally;
    # both formulations carry the same per-round single-shuffle bound.
    esrc = edges.join(deg.select(F.col("part").alias("src"), "deg"), "src")
    for _ in range(3):
        contrib = esrc.join(
            ranks.select(F.col("part").alias("src"), "rank"), "src"
        ).select("dst", F.expr("rank div deg").alias("c"))
        ranks = contrib.groupBy(F.col("dst").alias("part")).agg(
            (F.lit(150000) + F.expr("(85 * sum(c)) div 100")).cast("bigint").alias("rank")
        )
    return ranks.join(deg, "part").select(
        "part", F.col("rank").cast("bigint").alias("rank"), F.col("deg").cast("bigint").alias("deg")
    )


@register(
    "part_copurchase_triangles",
    survey_ref="graph-triangles,J1,A1",
    oracle="""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
),
pairs AS (
  SELECT u.a AS pa, v.b AS pb
  FROM baskets, unnest(parts) AS u(a), unnest(parts) AS v(b)
  WHERE u.a < v.b
),
edges AS (
  SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2
),
tris AS (
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM edges e1
  JOIN edges e2 ON e2.pa = e1.pb
  JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
),
per_node AS (
  SELECT part, count(*) AS n_triangles FROM (
    SELECT a AS part FROM tris
    UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris
  ) GROUP BY part
)
SELECT part, CAST(n_triangles AS BIGINT) AS n_triangles FROM per_node
""",
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation counts on the co-purchase graph — the
    clustering-structure metric (a node's triangles measure how
    interconnected its neighborhood is; the basis of clustering
    coefficients and spam/anomaly heuristics).

    Uses the ORIENTED edge representation (a < b only): each triangle
    {a<b<c} materializes exactly once as (a→b, b→c, a→c), so the count
    needs no post-hoc dedup and the join never explodes around
    high-degree hubs the way undirected wedge enumeration does — the
    standard distributed-triangle trick. Two equi-joins on int pairs plus
    one union-explode aggregation; the weight-2 prune bounds the edge
    list before any join."""
    edges = read_derived(spark, sf_dir, "copurchase_edges").select("pa", "pb")
    e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = edges.select(F.col("pa").alias("b"), F.col("pb").alias("c"))
    e3 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = (
        tris.select(F.col("a").alias("part"))
        .unionByName(tris.select(F.col("b").alias("part")))
        .unionByName(tris.select(F.col("c").alias("part")))
    )
    return nodes.groupBy("part").agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


@register(
    "bpe_first_merges",
    survey_ref="text-analysis,tokenizer-prep,A1,O1",
    oracle="""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
bigrams AS (
  SELECT substr(w, u.i, 2) AS pair
  FROM words, unnest(generate_series(1, length(w) - 1)) AS u(i)
  WHERE length(w) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM bigrams GROUP BY pair
ORDER BY n DESC, pair
LIMIT 10
""",
)
def bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training prep: the corpus's most frequent adjacent
    character pairs inside words — exactly the candidates byte-pair
    encoding would merge first. `bpe_token_stats` counts tokens under a
    FIXED tokenizer; this is the first step of TRAINING one, and at a
    real corpus scale it is the iteration bottleneck BPE trainers
    distribute (count pairs → merge → recount).

    Plan: per-word position explode (map-side, bounded by corpus bytes),
    one hash aggregation on the tiny pair space, top-10 via sort+limit —
    `TakeOrderedAndProject`, no global window."""
    docs = _fanout(load_table(spark, sf_dir, "documents").select("text"))
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    bigrams = words.select(
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"), "w"
    ).select(F.expr("substr(w, i, 2)").alias("pair"))
    return (
        bigrams.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(10)
    )


@register(
    "hot_band_pair_stress",
    survey_ref="dedup-banding,skew-mitigation,J7,A1",
    oracle="""
WITH d AS (
  SELECT doc_id, n_chars,
         CAST(CASE WHEN doc_id % 3 = 0 THEN -1 ELSE doc_id % 97 END AS BIGINT) AS band
  FROM documents
)
SELECT a.band AS band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN abs(a.n_chars - b.n_chars) <= 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_close
FROM d a JOIN d b ON a.band = b.band AND a.doc_id < b.doc_id
GROUP BY a.band
""",
)
def hot_band_pair_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-stress certification for the banded self-join family: a
    PLANTED hot band (one-third of the corpus shares band -1, the
    stop-phrase-band / boilerplate-shingle profile; the rest spread over
    97 uniform bands) is pair-enumerated through
    `operators/skew.salted_self_pairs` and aggregated per band.

    Uniform synthetic data never exercises this failure mode: a straight
    band equi-join runs the hot band's ENTIRE quadratic pair product in
    one task, and AQE's skew splitter cannot divide it (it splits input
    rows, not one key's pair product — the hot-key reality of the
    reference's country/date-skewed `gisaid_api_sequence` feed,
    init.sql:284-337). The salted operator decomposes each hot key into a
    triangular grid of ceil(kn/hot_threshold) salt groups — the salt
    count ADAPTS to the key's frequency, so the join key becomes
    (band, block_i, block_j) and each task works ~hot_threshold^2 pairs
    no matter how hot the band grows (a fixed salt count would leave the
    per-task product quadratic in the band's size) — the mitigation is
    visible in the plan as the explode + 3-column join key. Results are
    salt-invariant, so the ORACLE is the plain a.id < b.id self-join:
    the hash match certifies that salting loses no pair and
    double-counts none."""
    from harvester_database_and_automation_spark.operators.skew import salted_self_pairs

    d = _fanout(
        load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "n_chars",
            F.when(F.col("doc_id") % 3 == 0, F.lit(-1))
            .otherwise(F.col("doc_id") % 97)
            .cast("long")
            .alias("band"),
        )
    )
    pairs = salted_self_pairs(d, ["band"], "doc_id", hot_threshold=100, max_salt=64)
    return pairs.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.when(F.abs(F.col("n_chars_a") - F.col("n_chars_b")) <= 5, F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("n_close"),
    )
