"""LLM-pipeline operators, round 3: sampling, TF-IDF, per-source caps,
PII scrubbing, repetition signals.

Extends plans/northstar.py with the corpus-curation passes a training-data
pipeline runs between dedup and packing. Same determinism rules (md5-prefix
hashes, integer-exact ratios with a single IEEE division, explicit
tie-breaks) so every query is DuckDB-oracle checkable bit-for-bit.

Scale notes are per query; the common theme: every pass is a single scan
with expression-only per-row work, and every shuffle is keyed on content
(term, source, fingerprint) with map-side partial aggregation — no global
sorts, no driver collects, no UDFs.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions import vectors as V
from ..operators import similarity as SIM
from ..operators.dedup import (
    JACCARD_THRESHOLD,
    band_rows,
    blocked_pairs,
    jaccard_pairs,
    shingle_sets,
)
from .catalog import _register, _spread, _t
from .northstar import (
    _NEAR_CORPUS_SQL,
    _PACK_TOKENS,
    _SQL_BASE_HASHES,
    _SQL_LANG_BEST,
    _SQL_LANG_CASE,
    _SQL_LANG_COUNTS,
    _SQL_SHINGLES,
    _SQL_TOKS,
    _near_corpus,
    _near_dup_oracle,
    _sql_md5_long,
    _sql_minhash,
    q_near_dup_pairs,
)

# ===========================================================================
# Deterministic hash-stratified sampling
# ===========================================================================
# Per-stratum keep-rate in percent. A training mix typically over-samples
# high-resource/high-quality strata; rates here are arbitrary but fixed.
_STRATA_RATES = {"en": 50, "fr": 25}
_STRATA_DEFAULT = 10


@_register(
    "docs_stratified_sample",
    f"""
    SELECT doc_id, lang, source,
           CAST({_sql_md5_long("'strat:' || CAST(doc_id AS VARCHAR)")} % 100
                AS INTEGER) AS bucket
    FROM documents
    WHERE {_sql_md5_long("'strat:' || CAST(doc_id AS VARCHAR)")} % 100
          < CASE lang WHEN 'en' THEN 50 WHEN 'fr' THEN 25 ELSE 10 END
    """,
    "Deterministic stratified sampling: keep a per-language rate (en 50%, "
    "fr 25%, rest 10%) by hashing the stable doc_id into a [0,100) bucket "
    "(md5-prefix, domain-separated). Unlike sampleBy, replay-stable across "
    "retries/engines — the property an exactly-once ingest needs. Pure "
    "scan+filter: no shuffle, predicate evaluated in whole-stage codegen",
    reference="[NORTH-STAR] training-mix subsampling; hash idiom as "
    "functions/text.md5_long",
    tags=("sampling", "northstar"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(
        TX.md5_long(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    rate = F.lit(_STRATA_DEFAULT)
    for lang, pct in _STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return docs.filter(bucket < rate).select(
        "doc_id", "lang", "source", bucket.cast("int").alias("bucket")
    )


# ===========================================================================
# TF-IDF top terms per document
# ===========================================================================
@_register(
    "docs_tfidf_top_terms",
    f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM tok),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
    "Top-3 TF-IDF terms per document. idf is the rational surrogate N/df "
    "instead of ln(N/df): same ranking (ln is monotone), but integer-exact "
    "numerator + one IEEE division is bit-deterministic cross-engine, "
    "which libm ln is not. Shuffles: (doc,term) tf agg and term df agg, "
    "both map-side combined; corpus size N joins in as a broadcast cross "
    "join of a provably 1-row aggregate (the scalar-subquery idiom, "
    "plan-gate allowlisted like scalar_subquery_watermark)",
    reference="[NORTH-STAR] text analysis; token idiom as explode_tokens_with_pos",
    tags=("text", "northstar"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    terms = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id", "term", "tf", "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"))
            .alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rn")
    )


# ===========================================================================
# Per-source document cap (domain-balanced dedup)
# ===========================================================================
_DOMAIN_CAP = 20

_SQL_QUALITY = f"""
      SELECT doc_id, source,
             CAST(
               (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN (CASE WHEN length(text) > 0
                            THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                                 / length(text) ELSE 0.0 END) <= 0.2 THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN n_tokens > 0
                       AND CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / n_tokens
                           BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN n_tokens > 0
                       AND CAST(c_en AS DOUBLE) / n_tokens >= 0.01 THEN 0.25 ELSE 0.0 END)
             AS DOUBLE) AS quality_score
      FROM (SELECT doc_id, source, text, len(toks) AS n_tokens,
                   {_SQL_LANG_COUNTS["en"]} AS c_en
            FROM (SELECT doc_id, source, text, {_SQL_TOKS} AS toks FROM documents))
"""


@_register(
    "docs_domain_cap",
    f"""
    WITH scored AS ({_SQL_QUALITY})
    SELECT doc_id, source, quality_score, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY quality_score DESC, doc_id) AS rn
      FROM scored
    ) WHERE rn <= {_DOMAIN_CAP}
    """,
    f"Domain balancing: keep at most {_DOMAIN_CAP} documents per source, "
    "highest quality_score first (doc_id tie-break) — the cap that stops a "
    "single crawled domain from dominating a training mix. One shuffle on "
    "source; per-source top-N is a bounded window (rank then filter), "
    "never a global sort",
    reference="[NORTH-STAR] corpus curation; quality fragment as docs_quality_filter",
    tags=("dedup", "sampling", "northstar"),
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: quality_score fans tokens(text) into several interpreted-HOF
    # terms — tokenize once behind a barrier (same fix and measurement
    # as docs_quality_filter).
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", "source", "text", TX.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    scored = base.select(
        "doc_id",
        "source",
        TX.quality_score_from(F.col("text"), F.col("toks")).alias(
            "quality_score"
        ),
    )
    w = Window.partitionBy("source").orderBy(F.desc("quality_score"), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _DOMAIN_CAP)
        .select("doc_id", "source", "quality_score", "rn")
    )


# ===========================================================================
# PII scrubbing (regex redaction with counts)
# ===========================================================================
# RE2-compatible (no lookahead/backrefs) so Spark's Java regex and DuckDB's
# RE2 agree; both greedy-leftmost on these shapes.
_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"


@_register(
    "docs_pii_scrub",
    f"""
    WITH pii AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' cc admin@example.org' ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
           regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
    FROM pii
    """,
    "PII redaction pass: match emails and phone numbers, replace with "
    "typed placeholders, count redactions per document. The corpus has no "
    "natural PII, so deterministic synthetic contacts are appended "
    "in-query (same convention as the dedup corpora) — the scrub operates "
    "on real text + injected PII. All-match replacement both engines "
    "(Spark default, DuckDB 'g'); patterns are RE2-safe. Pure per-row "
    "expressions in one scan — zero shuffles",
    reference="[NORTH-STAR] corpus cleaning; regex determinism rules as "
    "clean_ts (P9) and regex_extract_fields",
    tags=("text", "northstar"),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call +1-555-"),
        F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" cc admin@example.org"))
        .otherwise(F.lit("")),
    )
    t = docs.select("doc_id", pii.alias("t"))
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_EMAIL_RE), F.lit(0)))
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PHONE_RE), F.lit(0)))
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("scrubbed"),
    )


# ===========================================================================
# Repetition / boilerplate signals (Gopher-style)
# ===========================================================================
@_register(
    "docs_repetition_signals",
    f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    base AS (
      SELECT doc_id, toks, len(toks) AS n, len(list_distinct(toks)) AS nd
      FROM tok WHERE len(toks) >= 2
    ),
    grams AS (
      SELECT doc_id, n, nd,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM base
    ),
    cnt AS (SELECT doc_id, n, nd, gram, count(*) AS c
            FROM grams GROUP BY doc_id, n, nd, gram),
    top AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY c DESC, gram) AS rn FROM cnt)
    SELECT doc_id,
           CAST(n AS INTEGER) AS n_tokens,
           CAST(n - nd AS DOUBLE) / n AS dup_token_frac,
           gram AS top_bigram,
           c AS top_bigram_cnt,
           CAST(c AS DOUBLE) / (n - 1) AS top_bigram_frac
    FROM top WHERE rn = 1
    """,
    "Gopher-style repetition signals per document: duplicate-token "
    "fraction (1 - distinct/total, expression-only via array_distinct) and "
    "the most frequent word bigram with its fraction of all bigrams "
    "(explode -> count -> per-doc top-1 window, smallest-gram tie-break). "
    "High values flag boilerplate/spam for the quality filter. The bigram "
    "shuffle is keyed (doc_id, gram) with map-side combine; ratios are "
    "single IEEE divisions of exact integers",
    reference="[NORTH-STAR] quality signals (Gopher/C4 repetition rules)",
    tags=("text", "northstar"),
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # r16: toks behind a barrier — the size/filter/array_distinct fan-out
    # plus the bigram slices re-ran the inlined tokenize per reference
    # (same interpreted-HOF CSE gap as docs_quality_filter).
    base = (
        docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
        .localCheckpoint(eager=False)
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 2)
        .withColumn("nd", F.size(F.array_distinct("toks")))
    )
    grams = base.select(
        "doc_id",
        "n",
        "nd",
        F.explode(
            F.zip_with(
                F.expr("slice(toks, 1, n - 1)"),
                F.expr("slice(toks, 2, n - 1)"),
                lambda x, y: F.concat(x, F.lit(" "), y),
            )
        ).alias("gram"),
    )
    cnt = grams.groupBy("doc_id", "n", "nd", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("c"), "gram")
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            ((F.col("n") - F.col("nd")).cast("double") / F.col("n"))
            .alias("dup_token_frac"),
            F.col("gram").alias("top_bigram"),
            F.col("c").alias("top_bigram_cnt"),
            (F.col("c").cast("double") / (F.col("n") - 1)).alias("top_bigram_frac"),
        )
    )


# ===========================================================================
# Edit-distance verification (string-similarity tier between exact and
# token-set dedup)
# ===========================================================================
_EDIT_PREFIX = 60


@_register(
    "docs_edit_distance_verify",
    f"""
    WITH variants AS (
      SELECT doc_id, regexp_replace(text, 'a', '@', 'g') AS var_text
      FROM documents WHERE doc_id % 4 = 0
    )
    SELECT d.doc_id,
           levenshtein(substring(d.text, 1, {_EDIT_PREFIX}),
                       substring(v.var_text, 1, {_EDIT_PREFIX})) AS edit_dist,
           CAST(levenshtein(substring(d.text, 1, {_EDIT_PREFIX}),
                            substring(v.var_text, 1, {_EDIT_PREFIX})) AS DOUBLE)
             / {_EDIT_PREFIX} AS edit_frac
    FROM documents d JOIN variants v USING (doc_id)
    """,
    "Edit-distance verify: Levenshtein between candidate pairs, bounded to "
    f"a {_EDIT_PREFIX}-char prefix so per-pair cost is O(prefix^2) however "
    "long the documents are — the standard guard before running edit "
    "distance at corpus scale. Pairs here are deterministic in-query "
    "variants (every 4th doc, 'a'->'@' substitutions) equi-joined on "
    "doc_id, so the operator cost is the distance itself, not pair "
    "generation (that is the LSH blockers' job)",
    reference="[NORTH-STAR] fuzzy dedup verification tier; variant "
    "convention as docs_exact_dedup",
    tags=("dedup", "text", "northstar"),
)
def q_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    variants = docs.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id", F.regexp_replace("text", "a", "@").alias("var_text")
    )
    paired = docs.select("doc_id", "text").join(variants, "doc_id")
    dist = F.levenshtein(
        F.substring("text", 1, _EDIT_PREFIX), F.substring("var_text", 1, _EDIT_PREFIX)
    )
    return paired.select(
        "doc_id",
        dist.alias("edit_dist"),
        (dist.cast("double") / _EDIT_PREFIX).alias("edit_frac"),
    )


# ===========================================================================
# C4-style line-level dedup statistics
# ===========================================================================
_LINE_TOKS = 10


@_register(
    "docs_line_dedup_stats",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
    ),
    tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
    chunked AS (
      SELECT doc_id,
             list_transform(range(0, (len(toks) + {_LINE_TOKS - 1}) // {_LINE_TOKS}),
                            i -> array_to_string(toks[(i*{_LINE_TOKS}+1):(i*{_LINE_TOKS}+{_LINE_TOKS})], ' ')) AS lines
      FROM tok
    ),
    exploded AS (
      SELECT doc_id, generate_subscripts(lines, 1) - 1 AS pos,
             md5(unnest(lines)) AS line_hash
      FROM chunked
    ),
    ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY line_hash
                                ORDER BY doc_id, pos) AS rn
      FROM exploded
    )
    SELECT doc_id,
           COUNT(*) AS n_lines,
           COUNT(*) FILTER (WHERE rn > 1) AS n_dup_lines,
           CAST(COUNT(*) FILTER (WHERE rn > 1) AS DOUBLE) / COUNT(*) AS dup_line_frac
    FROM ranked
    GROUP BY doc_id
    """,
    "C4-style line-level dedup statistics: documents are split into "
    f"{_LINE_TOKS}-token 'lines' (the corpus has no newlines; fixed token "
    "windows are the deterministic equivalent), each line keeps only its "
    "globally-first occurrence ((doc_id, pos) order), and every document "
    "reports how much of it was duplicated elsewhere. The corpus gains "
    "in-query exact-copy variants (the dedup-suite convention) so the "
    "dup signal is real. Scale shape: one explode, one shuffle keyed on "
    "line_hash (first-occurrence window), one keyed re-agg — exactly how "
    "C4's line dedup runs on a cluster",
    reference="[NORTH-STAR] C4 line-level dedup; corpus convention as "
    "docs_exact_dedup",
    tags=("dedup", "text", "northstar"),
)
def q_line_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    # size(toks) > 0: a zero-token doc would hit Spark's descending
    # sequence(0, -1) = [0, -1] and emit two phantom empty lines where
    # the oracle's range(0, 0) emits none. Token barrier BEFORE the
    # filter: pushdown would otherwise duplicate the tokenize into the
    # Filter node (CollapseProject gate).
    tok = (
        corpus.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
        .localCheckpoint(eager=False)
        .filter(F.size("toks") > 0)
    )
    chunked = tok.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, ((size(toks) + {_LINE_TOKS - 1}) div {_LINE_TOKS}) - 1), "
            f"i -> array_join(slice(toks, i*{_LINE_TOKS}+1, {_LINE_TOKS}), ' '))"
        ).alias("lines"),
    )
    exploded = chunked.select(
        "doc_id", F.posexplode("lines").alias("pos", "line")
    ).select("doc_id", "pos", F.md5("line").alias("line_hash"))
    w = Window.partitionBy("line_hash").orderBy("doc_id", "pos")
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(F.col("rn") > 1, 1)).alias("n_dup_lines"),
        (
            F.count(F.when(F.col("rn") > 1, 1)).cast("double") / F.count(F.lit(1))
        ).alias("dup_line_frac"),
    )


# ===========================================================================
# Int8 scalar quantization of embeddings
# ===========================================================================
@_register(
    "embedding_quantize_int8",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> greatest(-127, least(127, CAST(round(x * 127) AS INTEGER)))) AS qv
      FROM embeddings
    )
    SELECT vec_id,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS l1_q,
           CAST(len(list_filter(qv, x -> x != 0)) AS INTEGER) AS nnz,
           md5(array_to_string(qv, ',')) AS q_sig
    FROM q
    """,
    "Int8 scalar quantization of the embedding column (x -> clamp(round("
    "x*127))): the 4x compression step before an ANN index ships to "
    "serving. Outputs are integer-exact (L1 norm, nonzero count) plus an "
    "md5 signature of the full quantized vector, so the whole codebook is "
    "verified value-for-value without emitting a nested column (driver "
    "comparator constraint). Pure per-row expressions, zero shuffles; "
    "both engines round half-away-from-zero",
    reference="[NORTH-STAR] vector compression for similarity serving",
    tags=("similarity", "northstar"),
)
def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.round(x * 127).cast("int"))
        ),
    )
    q = emb.select("vec_id", qv.alias("qv"))
    return q.select(
        "vec_id",
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("l1_q"),
        F.size(F.filter("qv", lambda x: x != 0)).alias("nnz"),
        F.md5(F.array_join(F.transform("qv", lambda x: x.cast("string")), ","))
        .alias("q_sig"),
    )


# ===========================================================================
# Iterative algorithm tier: k-means (assign -> exact update -> reassign)
# ===========================================================================
_KM_K = 8
_KM_SCALE = 1_000_000
_KM_NPROBE = 4  # IVF cells probed per query


def _km_assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, argmin squared-L2 with cid tie-break.

    dist^2 = |x|^2 - 2 x.c + |c|^2; every dot is the same sequential fold
    in both engines (V.dot == DuckDB list_dot_product bit-for-bit), so the
    argmin is cross-engine deterministic. Broadcast the K-row centroid
    side; one map-side-combined groupBy per vector — no corpus shuffle.

    r16 (guide §1.2 "don't compute things you throw away"): the |x|^2 and
    |c|^2 terms are invariant per row / per centroid, but written inline
    they were re-evaluated for every (row, centroid) PAIR — 2 of the 3
    interpreted fold dots per pair were redundant. Hoisting them into
    projections below the join (per-row once, per-centroid once on the
    K-row broadcast side) leaves one dot per pair. The summed expression
    ((xx - 2*x.c) + cc) is unchanged term-for-term, so d is bit-identical
    and the argmin unchanged."""
    e2 = e.withColumn("_xx", V.dot(F.col("x"), F.col("x")))
    c2 = cents.withColumn("_cc", V.dot(F.col("cv"), F.col("cv")))
    d = F.col("_xx") - 2 * V.dot(F.col("x"), F.col("cv")) + F.col("_cc")
    return (
        e2.join(F.broadcast(c2))
        .groupBy("vec_id")
        .agg(F.min_by("cid", F.struct(d.alias("d"), F.col("cid").alias("c"))).alias("cid"))
    )


def _km_sql_assign(src_e: str, src_c: str) -> str:
    return f"""
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             (list_dot_product(e.x, e.x) - 2*list_dot_product(e.x, c.cv)
              + list_dot_product(c.cv, c.cv)), c.cid) AS rn
    FROM {src_e} e CROSS JOIN {src_c} c) WHERE rn = 1
"""


def _km_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _spread(spark, _t(spark, sf_dir, "embeddings"))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("x"))
        .localCheckpoint(eager=False)
    )


def _km_trained_centroids(e: DataFrame) -> DataFrame:
    """One k-means update from the deterministic init: assign, then the
    exact scaled-long mean — the trained codebook q_kmeans_2iter reassigns
    against and the IVF-PQ queries use as their coarse quantizer."""
    c1 = e.filter(F.col("vec_id").between(0, _KM_K - 1)).select(
        F.col("vec_id").alias("cid"), F.col("x").alias("cv")
    )
    a1 = _km_assign(e, c1)
    comp = (
        e.join(a1, "vec_id")
        .select("cid", F.posexplode("x").alias("pos0", "v"))
        .select("cid", (F.col("pos0") + 1).alias("pos"), "v")
    )
    sums = comp.groupBy("cid", "pos").agg(
        F.sum(F.round(F.col("v") * _KM_SCALE).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        sums.select(
            "cid",
            F.struct("pos", (F.col("s").cast("double") / F.col("n") / _KM_SCALE).alias("m")).alias("pm"),
        )
        .groupBy("cid")
        .agg(
            F.transform(F.array_sort(F.collect_list("pm")), lambda s: s.m).alias("cv")
        )
    )


@_register(
    "embedding_kmeans_2iter",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    c1 AS (SELECT vec_id AS cid, x AS cv FROM e WHERE vec_id BETWEEN 0 AND {_KM_K - 1}),
    a1 AS ({_km_sql_assign("e", "c1")}),
    comp AS (
      SELECT a1.cid, generate_subscripts(e.x, 1) AS pos, unnest(e.x) AS v
      FROM e JOIN a1 USING (vec_id)
    ),
    sums AS (
      SELECT cid, pos, SUM(CAST(round(v * {_KM_SCALE}) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM comp GROUP BY cid, pos
    ),
    c2 AS (
      SELECT cid, list(CAST(s AS DOUBLE) / n / {_KM_SCALE} ORDER BY pos) AS cv
      FROM sums GROUP BY cid
    ),
    a2 AS ({_km_sql_assign("e", "c2")})
    SELECT a2.cid, COUNT(*) AS n_members,
           CAST(SUM(a2.vec_id) AS BIGINT) AS member_id_sum
    FROM a2 GROUP BY a2.cid
    ORDER BY cid
    """,
    "Iterative algorithm tier: two k-means passes (deterministic K=8 init "
    "from low-id vectors, argmin-L2 assign, centroid update, reassign) "
    "with per-cluster membership checksums. The update uses scaled-long "
    "component sums (exact integer math) then exactly two IEEE divisions, "
    "so the recomputed centroids — and hence the second assignment — are "
    "bit-identical cross-engine: an iterative ML loop held to the same "
    "oracle bar as the relational queries. Scale shape per iteration: "
    "broadcast K centroids (no corpus shuffle) for assignment; centroid "
    "update shuffles K*dim component partials, not vectors",
    reference="[NORTH-STAR] iterative algorithms (k-means for IVF codebook "
    "training — embedding_topk_ivf consumes exactly such a codebook)",
    tags=("similarity", "northstar", "iterative"),
)
def q_kmeans_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _km_load(spark, sf_dir)
    a2 = _km_assign(e, _km_trained_centroids(e))
    return (
        a2.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("vec_id").alias("member_id_sum"),
        )
        .orderBy("cid")
    )


# ===========================================================================
# Benchmark decontamination — n-gram overlap against an eval set
# ===========================================================================
_DECON_N = 8  # 8-gram overlap, the common contamination test granularity
_DECON_SLICE_START = 6  # benchmark excerpt: tokens 6..21 (1-based, 16 toks)
_DECON_SLICE_LEN = 16


def _sql_ngrams(src: str, n: int) -> str:
    gram = " || ' ' || ".join(f"{src}[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len({src}) >= {n} THEN "
        f"list_transform(range(1, len({src}) - {n - 2}), i -> {gram}) "
        f"ELSE [] END"
    )


def _decon_inputs(spark: SparkSession, sf_dir: str):
    """Shared inputs for the decontamination family: tokenized corpus behind
    a projection barrier + the distinct benchmark gram-hash set (tiny,
    broadcast at the join sites)."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # Projection barrier: without it CollapseProject inlines the tokenize
    # expression into every element_at inside the shingle lambda (8 per gram
    # x grams per doc => O(tokens^2) re-tokenization per document). Measured
    # 10x at sf0.01. Same guard as every gram query in northstar.py.
    toks = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    return toks, _decon_bench_grams(toks)


def _decon_bench_grams(toks: DataFrame):
    """Distinct benchmark gram-hash set from a materialized (doc_id, toks)
    frame — every 13th doc's 16-token excerpt, 8-gram hashed."""
    bench_grams = (
        toks.filter(F.col("doc_id") % 13 == 0)
        .select(
            TX.shingles(
                F.slice(F.col("toks"), _DECON_SLICE_START, _DECON_SLICE_LEN),
                _DECON_N,
            ).alias("bg")
        )
        .select(F.explode("bg").alias("g"))
        .select(TX.md5_long(F.col("g")).alias("gh"))
        .distinct()
    )
    return bench_grams


@_register(
    "docs_decontaminate",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    bench AS (
      SELECT list_slice(toks, {_DECON_SLICE_START},
                        {_DECON_SLICE_START + _DECON_SLICE_LEN - 1}) AS btoks
      FROM toks WHERE doc_id % 13 = 0
    ),
    bgrams AS (
      SELECT DISTINCT {_sql_md5_long('g')} AS gh
      FROM (SELECT unnest({_sql_ngrams('btoks', _DECON_N)}) AS g FROM bench)
    ),
    dgrams AS (
      SELECT doc_id, list_distinct({_sql_ngrams('toks', _DECON_N)}) AS gs
      FROM toks
    ),
    d2 AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM dgrams),
    hits AS (
      SELECT doc_id, max(n_grams) AS n_grams,
             CAST(count(*) AS BIGINT) AS n_contaminated
      FROM d2
      WHERE {_sql_md5_long('g')} IN (SELECT gh FROM bgrams)
      GROUP BY doc_id
    )
    SELECT doc_id, n_contaminated, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_contaminated AS DOUBLE) / n_grams AS contaminated_frac
    FROM hits
    """,
    "Benchmark decontamination: flag training documents sharing any word "
    f"{_DECON_N}-gram with an eval-set excerpt corpus (here: a 16-token "
    "slice of every 13th document, the standard overlap test from GPT-3 "
    "appendix C / PaLM). The benchmark gram set is tiny and broadcast; the "
    "corpus side is one scan -> explode distinct grams -> broadcast semi "
    "join -> per-doc count, so 100 TB cost is the gram explode (bounded by "
    "corpus token count) with no shuffle of document text. Hashes are "
    "md5-prefix longs, exact in both engines",
    reference="[NORTH-STAR] train/test overlap decontamination (GPT-3 §C, PaLM §8)",
    tags=("dedup", "northstar", "decontamination"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks, bench_grams = _decon_inputs(spark, sf_dir)
    return decontaminate_from(toks, bench_grams)


def decontaminate_from(toks: DataFrame, bench_grams: DataFrame) -> DataFrame:
    """Decontamination counts from a materialized (doc_id, toks) frame and a
    benchmark gram-hash set (broadcast at the semi join)."""
    dgrams = toks.select(
        "doc_id",
        F.array_distinct(TX.shingles(F.col("toks"), _DECON_N)).alias("gs"),
    ).select(
        "doc_id",
        F.size("gs").alias("n_grams"),
        F.explode("gs").alias("g"),
    )
    hits = (
        dgrams.withColumn("gh", TX.md5_long(F.col("g")))
        .join(F.broadcast(bench_grams), "gh", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count(F.lit(1)).alias("n_contaminated"),
        )
    )
    return hits.select(
        "doc_id",
        "n_contaminated",
        F.col("n_grams").cast("long").alias("n_grams"),
        (F.col("n_contaminated").cast("double") / F.col("n_grams")).alias(
            "contaminated_frac"
        ),
    )


@_register(
    "docs_decontaminate_span",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    bench AS (
      SELECT list_slice(toks, {_DECON_SLICE_START},
                        {_DECON_SLICE_START + _DECON_SLICE_LEN - 1}) AS btoks
      FROM toks WHERE doc_id % 13 = 0
    ),
    bgrams AS (
      SELECT DISTINCT {_sql_md5_long('g')} AS gh
      FROM (SELECT unnest({_sql_ngrams('btoks', _DECON_N)}) AS g FROM bench)
    ),
    dgrams AS (SELECT doc_id, {_sql_ngrams('toks', _DECON_N)} AS gs FROM toks),
    d2 AS (
      SELECT doc_id,
             unnest(range(1, len(gs) + 1)) AS pos,
             unnest(gs) AS g
      FROM dgrams
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_hits,
           min(pos) AS first_contaminated_pos,
           max(pos) AS last_contaminated_pos,
           min_by(g, pos) AS first_contaminated_gram
    FROM d2
    WHERE {_sql_md5_long('g')} IN (SELECT gh FROM bgrams)
    GROUP BY doc_id
    """,
    "Decontamination span variant: instead of just flagging a contaminated "
    "document, locate WHERE the contamination sits — per-doc first/last "
    f"contaminated {_DECON_N}-gram position (1-based token index) plus the "
    "first offending gram via min_by, so a cleaning pass can excise the "
    "span instead of dropping the whole document. Positions ride the "
    "existing posexplode — same single corpus scan, same broadcast semi "
    "join, same one groupBy-doc_id shuffle as docs_decontaminate; no new "
    "shuffle. Position is unique per row within a doc, so min_by is "
    "deterministic in both engines",
    reference="[NORTH-STAR] train/test overlap decontamination (GPT-3 §C, "
    "PaLM §8) — span localization extension",
    tags=("dedup", "northstar", "decontamination"),
)
def q_decontaminate_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks, bench_grams = _decon_inputs(spark, sf_dir)
    dgrams = toks.select(
        "doc_id", TX.shingles(F.col("toks"), _DECON_N).alias("gs")
    ).select("doc_id", F.posexplode("gs").alias("pos0", "g"))
    return (
        dgrams.withColumn("gh", TX.md5_long(F.col("g")))
        .join(F.broadcast(bench_grams), "gh", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            (F.min("pos0") + 1).cast("long").alias("first_contaminated_pos"),
            (F.max("pos0") + 1).cast("long").alias("last_contaminated_pos"),
            F.min_by("g", "pos0").alias("first_contaminated_gram"),
        )
    )


# ===========================================================================
# Cross-document duplicated-span detection (exact substring dedup)
# ===========================================================================
_SPAN_N = 8  # span granularity: a shared 8-gram marks a duplicated region


@_register(
    "docs_dup_spans",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(range(1, len(gs) + 1)) AS pos,
             {_sql_md5_long('unnest(gs)')} AS gh
      FROM (SELECT doc_id, {_sql_ngrams('toks', _SPAN_N)} AS gs FROM toks)
    ),
    dup AS (
      SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) > 1
    ),
    dpos AS (SELECT doc_id, pos FROM grams WHERE gh IN (SELECT gh FROM dup)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {_SPAN_N} THEN 0 ELSE 1 END AS brk
      FROM dpos
    ),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS gid
      FROM isl
    ),
    spans AS (
      SELECT doc_id, gid, min(pos) AS s, max(pos) + {_SPAN_N} - 1 AS e
      FROM grp GROUP BY doc_id, gid
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_dup_spans,
             CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT a.doc_id, a.n_dup_spans, a.dup_tokens,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(a.dup_tokens AS DOUBLE) / len(t.toks) AS dup_frac
    FROM agg a JOIN toks t ON a.doc_id = t.doc_id
    """,
    "Exact substring dedup, span-level (Lee et al. 2021, 'Deduplicating "
    "Training Data Makes Language Models Better'): find maximal token spans "
    f"shared verbatim across documents. Grams of {_SPAN_N} tokens are "
    "hashed and positioned (posexplode); a gram occurring in >1 distinct "
    "doc marks its span duplicated; overlapping/adjacent marks merge into "
    "maximal spans via gaps-and-islands (lag + running sum window). 100 TB "
    "shape: one shuffle keyed on gram hash O(grams) with partial "
    "count-distinct, an equi semi join back (no broadcast assumption), one "
    "window shuffle keyed on doc_id — never all-pairs, no document text "
    "shuffled. The suffix-array of the paper is replaced by gram blocking: "
    "spans shorter than the gram width are missed by construction, spans "
    ">= one gram are found exactly",
    reference="[NORTH-STAR] exact substring dedup (Lee et al. 2021 §4); "
    "complements docs_exact_dedup (whole-doc) and docs_near_dup_pairs "
    "(similarity)",
    tags=("dedup", "northstar", "window"),
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # Same projection barrier as every gram query (see _decon_inputs).
    toks = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    grams = (
        toks.select(
            "doc_id", F.posexplode(TX.shingles(F.col("toks"), _SPAN_N)).alias("pos0", "g")
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            TX.md5_long(F.col("g")).alias("gh"),
        )
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh")
    )
    dpos = grams.join(dup, "gh", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= _SPAN_N, 0).otherwise(1)
    grp = dpos.withColumn("brk", brk).withColumn(
        "gid", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = grp.groupBy("doc_id", "gid").agg(
        F.min("pos").alias("s"), (F.max("pos") + _SPAN_N - 1).alias("e")
    )
    agg = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
    )
    return agg.join(
        toks.select("doc_id", F.size("toks").cast("long").alias("n_tokens")),
        "doc_id",
    ).select(
        "doc_id",
        "n_dup_spans",
        "dup_tokens",
        "n_tokens",
        (F.col("dup_tokens").cast("double") / F.col("n_tokens")).alias("dup_frac"),
    )


# ===========================================================================
# Near-duplicate clustering — pairs -> connected components -> canonical doc
# ===========================================================================
_CC_MAX_ITERS = 20  # safety bound; min-label propagation needs O(diameter)


def _clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_near_dup_oracle()}),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    reach(src, lbl) AS (
      SELECT src, src FROM (SELECT DISTINCT src FROM edges)
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.src = e.dst
    ),
    lab AS (SELECT src AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY src)
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM lab
    """


@_register(
    "docs_near_dup_clusters",
    _clusters_oracle(),
    "Dedup clustering: the MinHash-LSH verified pair graph collapsed into "
    "connected components, giving each near-duplicate group a canonical "
    "representative (min doc_id) — the step that turns pairwise similarity "
    "into keep/drop decisions. Engine side is distributed min-label "
    "propagation: each round joins labels across edges, takes the "
    "neighborhood minimum, and checks a single-row convergence aggregate; "
    f"rounds are O(graph diameter), bounded at {_CC_MAX_ITERS}, with a "
    "lineage barrier per round. 100 TB shape: every round is one equi "
    "shuffle join on doc_id over the EDGE set (LSH-bounded, orders of "
    "magnitude smaller than the corpus); no all-pairs, no driver "
    "materialization beyond the 1-row convergence count. Docs in no pair "
    "are singletons and excluded by construction. Oracle: recursive-CTE "
    "transitive closure, exact",
    reference="[NORTH-STAR] near-dup clustering (MMDS ch.3; "
    "large-star/small-star Kiveris'14 is the same fixpoint, fewer rounds)",
    tags=("dedup", "northstar", "iterative"),
)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q_near_dup_pairs(spark, sf_dir).select("a_id", "b_id")
    return near_dup_clusters_from(pairs)


def near_dup_clusters_from(pairs: DataFrame, algo=None) -> DataFrame:
    """Connected-components clustering over an (a_id, b_id) pair frame.

    ``algo`` defaults to min-label propagation (right for small-diameter
    LSH graphs); pass ``connected_components_star`` for the O(log n)
    variant."""
    from ..operators.graph import connected_components

    comp = (algo or connected_components)(
        pairs, src="a_id", dst="b_id", max_iters=_CC_MAX_ITERS
    )
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


@_register(
    "docs_near_dup_clusters_star",
    _clusters_oracle(),
    "docs_near_dup_clusters computed by the alternating large-star/"
    "small-star algorithm (Kiveris et al., SoCC'14) instead of min-label "
    "propagation: each round rewires every node toward its neighborhood "
    "minimum, collapsing even a diameter-n chain in O(log n) rounds (15 "
    "rounds for a 10k chain, property-tested) where propagation needs "
    "O(n). Same exact recursive-CTE oracle — both variants must produce "
    "identical components. On LSH pair graphs (tiny diameter) min-label "
    "needs fewer rounds, so the base query keeps it; this is the variant "
    "a 100 TB deployment switches to when the pair graph's diameter is "
    "unknown or adversarial",
    reference="[NORTH-STAR] connected components in MapReduce and beyond "
    "(Kiveris'14 large-star/small-star); operators/graph.py",
    tags=("dedup", "northstar", "iterative"),
)
def q_near_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components_star

    pairs = q_near_dup_pairs(spark, sf_dir).select("a_id", "b_id")
    return near_dup_clusters_from(pairs, algo=connected_components_star)


@_register(
    "docs_dedup_keep_best",
    f"""
    WITH clus AS ({_clusters_oracle()}),
    corpus AS ({_NEAR_CORPUS_SQL}),
    scored AS (
      SELECT c.doc_id, c.cluster_id,
             CAST(length(d.text) AS BIGINT) AS n_chars,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY length(d.text) DESC, c.doc_id) AS rn
      FROM clus c JOIN corpus d ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id, n_chars, rn = 1 AS keep
    FROM scored
    """,
    "The keep/drop decision that closes the dedup loop: near-dup clusters "
    "joined with a per-doc quality proxy (text length, computed from the "
    "SAME corpus the pairs were mined from so every clustered doc — "
    "including synthetic members absent from the documents table — gets a "
    "decision), keeping exactly one representative per cluster (highest "
    "quality, doc_id tie-break via row_number). The window runs over "
    "O(clustered docs) partitioned by cluster_id, and the corpus join is "
    "equi on doc_id; no text shuffles past its length projection. At 100 TB "
    "the drop list this emits is what the next pipeline stage anti-joins "
    "against (insert-if-absent shape, J6)",
    reference="[NORTH-STAR] dedup keep-best (MMDS ch.3 canonicalization); "
    "composes docs_near_dup_clusters + the near-dup corpus",
    tags=("dedup", "northstar", "window"),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = q_near_dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    corpus = _near_corpus(spark, sf_dir).select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    return dedup_keep_best_from(clusters, corpus)


def dedup_keep_best_from(clusters: DataFrame, corpus_chars: DataFrame) -> DataFrame:
    """Keep/drop decision from (doc_id, cluster_id) clusters and a
    (doc_id, n_chars) quality-proxy frame."""
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    return (
        clusters.join(corpus_chars, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", "cluster_id", "n_chars", (F.col("rn") == 1).alias("keep"))
    )


# ===========================================================================
# Leakage-safe train/val/test split — hash the dedup UNIT, not the doc (r8)
# ===========================================================================
_SPLIT_TRAIN_PCT = 90
_SPLIT_VAL_PCT = 95  # [0,90) train, [90,95) val, [95,100) test


def _sql_split_label(bucket: str) -> str:
    return (
        f"CASE WHEN {bucket} < {_SPLIT_TRAIN_PCT} THEN 'train' "
        f"WHEN {bucket} < {_SPLIT_VAL_PCT} THEN 'val' ELSE 'test' END"
    )


@_register(
    "docs_leakage_safe_split",
    f"""
    WITH clus AS ({_clusters_oracle()}),
    u AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS unit_id
      FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id
    ),
    b AS (
      SELECT doc_id, unit_id,
             {_sql_md5_long("'split:' || CAST(unit_id AS VARCHAR)")} % 100 AS ub,
             {_sql_md5_long("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS db
      FROM u
    )
    SELECT doc_id, unit_id,
           {_sql_split_label('ub')} AS split,
           {_sql_split_label('ub')} <> {_sql_split_label('db')} AS would_leak
    FROM b
    """,
    "Leakage-safe train/val/test split (90/5/5): the split hash is taken "
    "over the near-dup CLUSTER id (the dedup unit), not the doc id, so "
    "every member of a near-duplicate group lands in the same split by "
    "construction — the guard against eval contamination that a naive "
    "per-doc hash silently violates (would_leak marks exactly the docs a "
    "naive split would scatter across splits: measurable leak rate, not a "
    "guess). Singletons hash as themselves (COALESCE, no cluster lookup "
    "miss penalty). Deterministic md5-prefix buckets, domain-separated "
    "('split:'), replay-stable across retries and engines. 100 TB shape: "
    "the cluster frame is O(docs in >=1 near-dup pair) — corpus-scale on "
    "duplicate-heavy crawls, so it is NEVER broadcast (explicit "
    "shuffle_hash on the cluster side; the same statically-misplanned "
    "broadcast class the 100x scale tier caught on the bigram LM join); "
    "one equi shuffle on doc_id, then pure codegen hashing — no further "
    "shuffle",
    reference="[NORTH-STAR] dedup-aware split hygiene (GPT-3 appendix C / "
    "Dodge'21 C4 contamination); composes docs_near_dup_clusters",
    tags=("sampling", "dedup", "northstar"),
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    clusters = q_near_dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    unit = docs.join(clusters.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("unit_id")
    )

    def bucket(col: Column) -> Column:
        return F.pmod(
            TX.md5_long(F.concat(F.lit("split:"), col.cast("string"))),
            F.lit(100),
        )

    def label(b: Column) -> Column:
        return (
            F.when(b < _SPLIT_TRAIN_PCT, "train")
            .when(b < _SPLIT_VAL_PCT, "val")
            .otherwise("test")
        )

    ub = label(bucket(F.col("unit_id")))
    db = label(bucket(F.col("doc_id")))
    return unit.select(
        "doc_id",
        "unit_id",
        ub.alias("split"),
        (ub != db).alias("would_leak"),
    )


# ===========================================================================
# Incremental dedup — the new crawl increment against the existing corpus
# ===========================================================================
_INC_BATCH_MOD = "% 5 = 4"  # ~20% of the near corpus plays the increment


@_register(
    "docs_incremental_dedup",
    f"""
    WITH pairs AS ({_near_dup_oracle()}),
    corpus AS ({_NEAR_CORPUS_SQL}),
    batch AS (SELECT doc_id FROM corpus WHERE doc_id {_INC_BATCH_MOD}),
    partners AS (
      SELECT p.a_id AS doc_id, p.b_id AS pid FROM pairs p
      WHERE p.a_id {_INC_BATCH_MOD}
      UNION ALL
      SELECT p.b_id AS doc_id, p.a_id AS pid FROM pairs p
      WHERE p.b_id {_INC_BATCH_MOD}
    ),
    elig AS (
      SELECT doc_id, pid FROM partners
      WHERE pid < doc_id OR NOT (pid {_INC_BATCH_MOD})
    ),
    dec AS (
      SELECT doc_id, min(pid) AS matched_id,
             CAST(count(*) AS BIGINT) AS n_matches
      FROM elig GROUP BY doc_id
    )
    SELECT b.doc_id, d.matched_id IS NOT NULL AS is_dup, d.matched_id,
           COALESCE(d.n_matches, 0) AS n_matches
    FROM batch b LEFT JOIN dec d ON d.doc_id = b.doc_id
    """,
    "Incremental dedup: per-document keep/drop decisions for a new crawl "
    "increment (~20% of the corpus by deterministic doc_id rule) against "
    "the EXISTING corpus plus lower-id members of its own batch — the "
    "production shape where dedup runs per-increment forever, not as a "
    "full-corpus recompute. A batch doc is dropped if any verified "
    "near-dup partner is a base doc (always eligible) or an earlier batch "
    "doc (doc_id order = arrival order within the increment); matched_id "
    "is the smallest eligible partner, n_matches the eligible-partner "
    "count. 100 TB shape: the base corpus's LSH band table is a PERSISTED "
    "index bucketed by band_key (band_rows in operators/dedup.py; "
    "write/probe with a zero-Exchange index side pinned by "
    "tests/test_dedup_index.py) — each increment computes signatures for "
    "ITS OWN docs only and probes the index, so per-increment cost is "
    "O(batch + collisions), never O(corpus)",
    reference="[NORTH-STAR] incremental corpus dedup (the per-snapshot "
    "CommonCrawl curation loop); composes docs_near_dup_pairs",
    tags=("dedup", "northstar"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The pair frame is consumed twice (both partner directions) — lazy
    # barrier so LSH banding + verification run once.
    pairs = (
        q_near_dup_pairs(spark, sf_dir)
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )

    def in_batch(c: Column) -> Column:
        return (c % 5) == 4

    batch = (
        _near_corpus(spark, sf_dir)
        .select("doc_id")
        .filter(in_batch(F.col("doc_id")))
    )
    partners = (
        pairs.filter(in_batch(F.col("a_id")))
        .select(F.col("a_id").alias("doc_id"), F.col("b_id").alias("pid"))
        .unionByName(
            pairs.filter(in_batch(F.col("b_id"))).select(
                F.col("b_id").alias("doc_id"), F.col("a_id").alias("pid")
            )
        )
    )
    elig = partners.filter(
        (F.col("pid") < F.col("doc_id")) | ~in_batch(F.col("pid"))
    )
    dec = elig.groupBy("doc_id").agg(
        F.min("pid").alias("matched_id"),
        F.count(F.lit(1)).alias("n_matches"),
    )
    return batch.join(dec, "doc_id", "left").select(
        "doc_id",
        F.col("matched_id").isNotNull().alias("is_dup"),
        "matched_id",
        F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
    )


# ===========================================================================
# End-to-end curation funnel — the whole pipeline as one declarative plan
# ===========================================================================
def _curation_funnel_oracle() -> str:
    from .catalog import REGISTRY as _REG

    quality_sql = _REG["docs_quality_filter"].oracle
    keep_best_sql = _REG["docs_dedup_keep_best"].oracle
    decon_sql = _REG["docs_decontaminate"].oracle
    return f"""
    WITH q AS ({quality_sql}),
    kb AS ({keep_best_sql}),
    drop_dup AS (SELECT doc_id FROM kb WHERE NOT keep AND doc_id < 1000000),
    cont AS (SELECT doc_id FROM ({decon_sql})),
    s1 AS (SELECT doc_id FROM documents),
    s2 AS (SELECT doc_id FROM s1 WHERE doc_id IN (SELECT doc_id FROM q)),
    s3 AS (SELECT doc_id FROM s2
           WHERE doc_id NOT IN (SELECT doc_id FROM drop_dup)),
    s4 AS (SELECT doc_id FROM s3
           WHERE doc_id NOT IN (SELECT doc_id FROM cont))
    SELECT stage_idx, stage, n_docs FROM (
      SELECT 1 AS stage_idx, 'total' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs FROM s1
      UNION ALL SELECT 2, 'lang_quality', CAST(count(*) AS BIGINT) FROM s2
      UNION ALL SELECT 3, 'near_dup_kept', CAST(count(*) AS BIGINT) FROM s3
      UNION ALL SELECT 4, 'decontaminated', CAST(count(*) AS BIGINT) FROM s4
    )
    """


@_register(
    "docs_curation_funnel",
    _curation_funnel_oracle(),
    "The whole training-data curation pipeline as ONE declarative plan: "
    "corpus -> C4-style language/quality filter -> near-dup keep-best drop "
    "list (LSH pairs -> connected components -> canonical survivor) -> "
    "benchmark decontamination, with surviving document counts per stage — "
    "the funnel dashboard every corpus build reports. Each stage is an "
    "independently oracle-verified catalog query composed by semi/anti "
    "joins on doc_id; Catalyst sees the full pipeline and schedules stages "
    "that share nothing in parallel. At 100 TB the successive anti joins "
    "shrink monotonically and nothing but doc_id crosses stage boundaries",
    reference="[NORTH-STAR] curation pipeline composition (C4 appendix A / "
    "RefinedWeb fig.2 funnel reporting); composes docs_quality_filter, "
    "docs_dedup_keep_best, docs_decontaminate",
    tags=("northstar", "dedup", "text"),
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, quality, drop_dup, cont = _curation_stage_sets(spark, sf_dir)
    s2 = docs.join(quality, "doc_id", "left_semi").localCheckpoint(eager=False)
    s3 = s2.join(drop_dup, "doc_id", "left_anti").localCheckpoint(eager=False)
    s4 = s3.join(cont, "doc_id", "left_anti")

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"), "n_docs"
        )

    return (
        stage(1, "total", docs)
        .unionByName(stage(2, "lang_quality", s2))
        .unionByName(stage(3, "near_dup_kept", s3))
        .unionByName(stage(4, "decontaminated", s4))
    )


def _curation_stage_sets(spark: SparkSession, sf_dir: str):
    """Shared stage sets for the curation funnel family: (all docs,
    quality survivors, near-dup drops, contaminated docs) — each a
    materialized doc_id frame computed exactly once."""
    from .northstar import near_dup_pairs_from, quality_filter_from

    # ONE corpus scan + ONE tokenize, materialized, feeds every stage:
    # quality reads (text, toks), decontamination reads toks, and the
    # near-dup pipeline reads toks (documents part) + the re-tokenized
    # synthetic 1/7 tail. Previously each stage re-read and re-tokenized
    # the corpus independently (~sum-of-parts cost, 8.8s at sf0.1). At
    # 100 TB the checkpoint becomes a persisted tokenized intermediate
    # table — the standard shape for multi-stage curation runs.
    shared = (
        _spread(spark, _t(spark, sf_dir, "documents"))
        .select("doc_id", "text", TX.tokens(F.col("text")).alias("toks"))
        .localCheckpoint(eager=False)
    )
    # Each stage's survivor/drop set is doc_id-only and tiny relative to the
    # corpus; materializing them (projection barrier) means the quality
    # pass, the LSH->components->keep-best pipeline, and the decontamination
    # pass each run ONCE even though the four funnel counts reference them
    # in nested combinations.
    quality = (
        quality_filter_from(shared).select("doc_id").localCheckpoint(eager=False)
    )
    synth = (
        shared.filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.regexp_replace("text", r"\s+\S+\s*$", "").alias("text"),
        )
        .select("doc_id", "text", TX.tokens(F.col("text")).alias("toks"))
        .localCheckpoint(eager=False)
    )
    corpus = shared.unionByName(synth)  # the near-dup mining corpus
    clusters = near_dup_clusters_from(
        near_dup_pairs_from(corpus.select("doc_id", "toks")).select("a_id", "b_id")
    ).select("doc_id", "cluster_id")
    drop_dup = (
        dedup_keep_best_from(
            clusters,
            corpus.select(
                "doc_id", F.length("text").cast("long").alias("n_chars")
            ),
        )
        .filter((~F.col("keep")) & (F.col("doc_id") < 1000000))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    shared_toks = shared.select("doc_id", "toks")
    cont = (
        decontaminate_from(shared_toks, _decon_bench_grams(shared_toks))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    docs = shared.select("doc_id")
    return docs, quality, drop_dup, cont


# ===========================================================================
# Token bigram LM counts — conditional next-token probabilities
# ===========================================================================
_BIGRAM_MIN_COUNT = 5


@_register(
    "docs_token_bigram_lm",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    big AS (
      SELECT unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
             unnest(list_slice(toks, 2, len(toks))) AS w2
      FROM toks WHERE len(toks) >= 2
    ),
    c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2),
    t AS (
      SELECT w1, w2, c12,
             CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
             CAST(c12 AS DOUBLE) / sum(c12) OVER (PARTITION BY w1) AS p
      FROM c
    )
    SELECT w1, w2, c12, c1, p FROM t WHERE c12 >= {_BIGRAM_MIN_COUNT}
    """,
    "Corpus bigram language-model counts: token bigrams via two shifted "
    "array slices zipped per document (no self-join, no posexplode "
    "round-trip), conditional probability p(w2|w1) = c12/c1 with c1 as a "
    "window sum over the already-aggregated bigram table. 100 TB shape: "
    "one explode bounded by corpus token count, one map-combined shuffle "
    "on (w1, w2), then a window over O(distinct bigrams) — the classic "
    "count-based LM/tokenizer-analysis pass. Division is a single IEEE op "
    "on exact integers, cross-engine stable",
    reference="[NORTH-STAR] n-gram LM statistics (token analysis tier, "
    "alongside docs_tfidf_top_terms and token_count_rollup)",
    tags=("northstar", "text", "window"),
)
def q_token_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # Same projection barrier as every gram query: the token array feeds
    # both slices, the zip, and the length filter.
    toks = (
        docs.select(TX.tokens(F.col("text")).alias("toks"))
        .localCheckpoint(eager=False)
        .filter(F.size("toks") >= 2)
    )
    big = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("toks"), 1, F.size("toks") - 1).alias("w1"),
                F.slice(F.col("toks"), 2, F.size("toks") - 1).alias("w2"),
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    w = Window.partitionBy("w1")
    t = c.select(
        "w1",
        "w2",
        "c12",
        F.sum("c12").over(w).alias("c1"),
        (F.col("c12").cast("double") / F.sum("c12").over(w)).alias("p"),
    )
    return t.filter(F.col("c12") >= _BIGRAM_MIN_COUNT)


# ===========================================================================
# Data-mix reweighting — per-language sampling weights toward a target mix
# ===========================================================================
_MIX_CAP = 5.0  # max upsampling multiplier


@_register(
    "docs_mix_weights",
    f"""
    WITH t AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_langs FROM t)
    SELECT lang, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / total AS token_share,
           least({_MIX_CAP},
                 (1.0 / n_langs) / (CAST(n_tokens AS DOUBLE) / total)) AS weight
    FROM t CROSS JOIN tot
    """,
    "Training-mix reweighting: per-language token shares and the sampling "
    "weight that moves the mix toward a uniform target, capped at "
    f"{_MIX_CAP}x upsampling (the DoReMi/data-mixture bookkeeping pass). "
    "Token counting is a pure projection; the aggregate is 5 rows, and the "
    "1-row total joins back by broadcast cross join - at 100 TB this is "
    "one scan. Weight arithmetic is a fixed chain of IEEE ops on "
    "integer-exact counts, so both engines agree bit-for-bit",
    reference="[NORTH-STAR] data-mixture weighting (DoReMi arXiv:2305.10429 bookkeeping)",
    tags=("northstar", "curation"),
)
def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(TX.tokens(F.col("text")))).cast("long").alias("n_tokens"),
    )
    tot = t.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total")
    return t.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        F.least(F.lit(_MIX_CAP), (F.lit(1.0) / F.col("n_langs")) / share).alias(
            "weight"
        ),
    )


# ===========================================================================
# Heavy-hitter tokens — Misra-Gries sketch + exact recount (r6)
# ===========================================================================
# φ = 1/_HH_PHI_DEN of the token stream. Sketch capacity must satisfy
# capacity + 1 >= _HH_PHI_DEN for the superset guarantee; 64 > 50 leaves
# margin. On this corpus (31-word vocab) the sketch never needs to prune —
# the pruning path and the superset guarantee are property-tested on a
# crafted Zipf corpus in tests/test_sketch.py, where capacity << vocab.
_HH_PHI_DEN = 50
_HH_CAPACITY = 64


@_register(
    "docs_token_heavy_hitters",
    f"""
    WITH toks AS (SELECT {_SQL_TOKS} AS toks FROM documents),
    flat AS (SELECT unnest(toks) AS token FROM toks),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM flat)
    SELECT token,
           CAST(count(*) AS BIGINT) AS freq,
           CAST(count(*) AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM tot) AS share
    FROM flat GROUP BY token
    HAVING count(*) * {_HH_PHI_DEN} > (SELECT n FROM tot)
    """,
    "Heavy-hitter tokens (frequency > 1/50 of the stream), computed EXACTLY "
    "via a two-phase sketch: per-partition Misra-Gries summaries (bounded "
    "memory, one scan, candidates guaranteed a superset of every item over "
    "N/(capacity+1)) -> broadcast semi-join recount of only the candidates "
    "-> exact integer threshold freq*50 > N. 100 TB shape: the recount "
    "shuffle is bounded by O(partitions x capacity) candidates, never by "
    "vocabulary size — the full-vocab groupBy the oracle runs is exactly "
    "the shuffle this plan avoids. share = freq/N is one IEEE division on "
    "exact integers",
    reference="[NORTH-STAR] corpus token analysis (Misra-Gries 1982; "
    "mergeable-summaries PODS'12); no reference counterpart",
    tags=("northstar", "text", "sketch"),
)
def q_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import misra_gries_candidates

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # One tokenize, checkpointed: the stream feeds the sketch pass, the
    # total count, and the recount pass.
    flat = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
        .localCheckpoint(eager=False)
    )
    cands = (
        misra_gries_candidates(flat, "token", _HH_CAPACITY)
        .select("token")
        .distinct()
    )
    tot = flat.agg(F.count(F.lit(1)).alias("n"))
    return (
        flat.join(F.broadcast(cands), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("freq") * _HH_PHI_DEN > F.col("n"))
        .select(
            "token",
            "freq",
            (F.col("freq").cast("double") / F.col("n").cast("double")).alias(
                "share"
            ),
        )
    )


# ===========================================================================
# Per-document bigram plausibility — LM-based fluency scoring (r6)
# ===========================================================================
_PLAUS_FX = 1_000_000_000  # fixed-point scale for per-bigram probabilities


@_register(
    "docs_bigram_plausibility",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    big AS (
      SELECT doc_id,
             unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
             unnest(list_slice(toks, 2, len(toks))) AS w2
      FROM toks WHERE len(toks) >= 2
    ),
    c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2),
    lm AS (
      SELECT w1, w2,
             CAST(c12 AS DOUBLE) / sum(c12) OVER (PARTITION BY w1) AS p
      FROM c
    ),
    scored AS (
      SELECT b.doc_id,
             CAST(round(lm.p * {_PLAUS_FX}) AS BIGINT) AS p_fx
      FROM big b JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(p_fx) AS DOUBLE) / ({_PLAUS_FX}.0 * count(*)) AS mean_p
    FROM scored GROUP BY doc_id
    """,
    "Per-document fluency score under the corpus's own bigram LM: mean "
    "conditional probability p(w_i | w_i-1) over the document's bigrams — "
    "the model-free stand-in for the KenLM-perplexity filter of "
    "CCNet-style curation (log-space perplexity is the standard variant; "
    "mean probability is used here because p = c12/c1 is a division of "
    "exact integers, bit-identical cross-engine, where log() is "
    "libm-dependent). Per-bigram p is fixed-pointed to 1e-9 before the "
    "per-doc sum so the aggregate is exact integer math; one final IEEE "
    "division. 100 TB shape: one tokenize (checkpointed, feeds LM build "
    "AND scoring), one map-combined shuffle on (w1,w2) to build the LM, "
    "one equi join of doc bigrams to the LM keyed on (w1,w2) — the LM is "
    "O(distinct bigrams), NOT assumed broadcastable — then a per-doc "
    "aggregation",
    reference="[NORTH-STAR] LM-based quality filtering (CCNet "
    "arXiv:1911.00359 perplexity filter, count-based stand-in); composes "
    "docs_token_bigram_lm",
    tags=("northstar", "text", "window", "join"),
)
def q_bigram_plausibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    big = (
        docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1).alias("w1"),
                    F.slice(F.col("toks"), 2, F.size("toks") - 1).alias("w2"),
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .localCheckpoint(eager=False)  # one bigram stream feeds LM + scoring
    )
    c = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    lm = c.select(
        "w1",
        "w2",
        (
            F.col("c12").cast("double")
            / F.sum("c12").over(Window.partitionBy("w1"))
        ).alias("p"),
    )
    # The LM is O(distinct bigrams) — vocabulary-sized, NEVER broadcastable
    # (Catalyst has no stats for the windowed aggregate and statically
    # picked BroadcastHashJoin; at the 100x scale point that broadcast
    # OOM-killed the query — caught by scripts/scale_curve.py --100x).
    # shuffle_hash: both sides shuffle on (w1, w2) — balanced keys since
    # the build side has ONE row per distinct bigram — and the huge probe
    # stream avoids the two sorts an SMJ would pay.
    scored = big.join(lm.hint("shuffle_hash"), ["w1", "w2"]).select(
        "doc_id",
        F.round(F.col("p") * F.lit(_PLAUS_FX)).cast("long").alias("p_fx"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.sum("p_fx").cast("double")
            / (F.lit(float(_PLAUS_FX)) * F.count(F.lit(1)))
        ).alias("mean_p"),
    )


# ===========================================================================
# Weighted sampling (r6) — EXECUTE the mix-reweighting plan: sample each
# language at probability weight/cap via deterministic hash buckets, making
# docs_mix_weights an end-to-end pass instead of a report.
# ===========================================================================
_WSAMPLE_BUCKETS = 10_000


@_register(
    "docs_weighted_sample",
    f"""
    WITH t AS (
      SELECT lang, CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_langs FROM t),
    w AS (
      SELECT lang,
             least({_MIX_CAP},
                   (1.0 / n_langs) / (CAST(n_tokens AS DOUBLE) / total)) AS weight
      FROM t CROSS JOIN tot
    )
    SELECT d.doc_id, d.lang, w.weight,
           CAST({_sql_md5_long("'wsamp:' || CAST(d.doc_id AS VARCHAR)")}
                % {_WSAMPLE_BUCKETS} AS BIGINT) AS bucket
    FROM documents d JOIN w ON d.lang = w.lang
    WHERE CAST({_sql_md5_long("'wsamp:' || CAST(d.doc_id AS VARCHAR)")}
               % {_WSAMPLE_BUCKETS} AS DOUBLE)
          < w.weight * ({_WSAMPLE_BUCKETS} / {_MIX_CAP})
    """,
    "Executable mix-reweighting: per-language sampling weights (the "
    "docs_mix_weights chain) applied as keep-probability weight/cap via "
    "deterministic md5 hash buckets — replay-stable across retries and "
    "engines, unlike rand()-based sampling. The weight table is 5 rows "
    "(per-language aggregate) broadcast onto one corpus scan; the hash "
    "bucket is domain-separated from the stratified-sample hash. Weight "
    "arithmetic is the same integer-exact IEEE chain as docs_mix_weights, "
    "so the keep decision is bit-identical cross-engine",
    reference="[NORTH-STAR] data-mixture execution (DoReMi "
    "arXiv:2305.10429); composes docs_mix_weights + docs_stratified_sample "
    "idioms",
    tags=("northstar", "curation", "sampling"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.groupBy("lang").agg(
        F.sum(F.size(TX.tokens(F.col("text")))).cast("long").alias("n_tokens")
    )
    tot = t.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total")
    w = (
        t.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.least(
                F.lit(_MIX_CAP), (F.lit(1.0) / F.col("n_langs")) / share
            ).alias("weight"),
        )
    )
    bucket = F.pmod(
        TX.md5_long(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string"))),
        F.lit(_WSAMPLE_BUCKETS),
    )
    return (
        docs.join(F.broadcast(w), "lang")
        .withColumn("bucket", bucket.cast("long"))
        .filter(
            F.col("bucket").cast("double")
            < F.col("weight") * F.lit(_WSAMPLE_BUCKETS / _MIX_CAP)
        )
        .select("doc_id", "lang", "weight", "bucket")
    )


# ===========================================================================
# Training-order curriculum interleave (r8) — stride scheduling. Emit the
# corpus in a deterministic order where each language appears at its
# mix-weight rate (the docs_mix_weights chain): doc r of language L is
# scheduled at virtual time (2r-1)/(2*w_L), i.e. languages with larger
# weights recur more often, uniformly spread — the data-ordering pass a
# training pipeline runs after mixing weights are chosen and before
# sequence packing. Integerized as vkey = (2r-1)*round(FX/w_L) so both
# engines compare exact BIGINTs.
# ===========================================================================
_ORDER_FX = 1_000_000  # fixed-point scale for the integer stride round(FX/w)
_ORDER_HEAD = 500  # emitted prefix of the global training order


@_register(
    "docs_training_order",
    f"""
    WITH t AS (
      SELECT lang, CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_langs FROM t),
    w AS (
      SELECT lang,
             CAST(round({_ORDER_FX} / least({_MIX_CAP},
                  (1.0 / n_langs) / (CAST(n_tokens AS DOUBLE) / total)))
                  AS BIGINT) AS inv_w
      FROM t CROSS JOIN tot
    ),
    ranked AS (
      SELECT d.doc_id, d.lang, w.inv_w,
             {_sql_md5_long("'order:' || CAST(d.doc_id AS VARCHAR)")} AS tie,
             CAST(row_number() OVER (
               PARTITION BY d.lang
               ORDER BY {_sql_md5_long("'order:' || CAST(d.doc_id AS VARCHAR)")},
                        d.doc_id) AS BIGINT) AS lang_rank
      FROM documents d JOIN w ON d.lang = w.lang
    )
    SELECT doc_id, lang, lang_rank,
           (2 * lang_rank - 1) * inv_w AS vkey
    FROM ranked
    ORDER BY vkey, tie, doc_id
    LIMIT {_ORDER_HEAD}
    """,
    "Curriculum/training-order interleave via stride scheduling "
    "(Waldspurger '95): per-language mix weights (the docs_mix_weights "
    "chain, capped toward uniform) become integer strides "
    f"round({_ORDER_FX}/w); doc r of language L gets virtual time "
    "vkey=(2r-1)*stride, and sorting by vkey interleaves languages at "
    "exactly their weight rates (per-language counts in any prefix are "
    "within 1 of w_L-proportional) — deterministic, replay-stable data "
    "ordering for training, the pass between mix weighting and sequence "
    "packing. The per-language rank is computed WITHOUT a per-language "
    "single-reducer window: range-partition by (lang, md5-tie), take "
    "partition-local positions from monotonically_increasing_id behind a "
    "checkpoint barrier, and add per-(lang,partition) offsets from a "
    "bounded n_langs x n_partitions count table (broadcast by "
    "construction) — ONE corpus shuffle total, the distributed-enumeration "
    "idiom a 100 TB global ORDER BY needs. The emitted head is "
    "TakeOrderedAndProject (per-partition top-k, driver merge); the full "
    "ordering in production is a repartitionByRange(vkey) sorted write",
    reference="[NORTH-STAR] training-data ordering (stride scheduling, "
    "Waldspurger & Weihl OSDI'95; data-mixture execution per DoReMi "
    "arXiv:2305.10429); composes docs_mix_weights",
    tags=("northstar", "curation", "sampling"),
)
def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    keyed = _curriculum_keyed(spark, docs)
    return (
        keyed.orderBy("vkey", "tie", "doc_id")
        .limit(_ORDER_HEAD)
        .select("doc_id", "lang", "lang_rank", "vkey")
    )


def _curriculum_keyed(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The stride-scheduled curriculum keying shared by docs_training_order
    and docs_packing_efficiency: per-language mix weights -> integer
    strides -> (doc_id, lang, tie, lang_rank, vkey) with the distributed
    per-language enumeration (no per-language single-reducer window)."""
    t = docs.groupBy("lang").agg(
        F.sum(F.size(TX.tokens(F.col("text")))).cast("long").alias("n_tokens")
    )
    tot = t.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total")
    w = t.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.round(
            F.lit(_ORDER_FX)
            / F.least(F.lit(_MIX_CAP), (F.lit(1.0) / F.col("n_langs")) / share)
        )
        .cast("long")
        .alias("inv_w"),
    )
    tie = TX.md5_long(F.concat(F.lit("order:"), F.col("doc_id").cast("string")))
    base = docs.select("doc_id", "lang", tie.alias("tie"))
    # Distributed per-language enumeration: range partitioning makes each
    # (lang, pid) group a CONTIGUOUS, sorted run, so the partition-local
    # position from monotonically_increasing_id minus the group's min plus
    # the cumulated counts of earlier partitions IS the global per-language
    # rank — no per-language window (single reducer at 100 TB), no second
    # corpus Exchange. The barrier pins pid/mid for both downstream uses.
    nparts = spark.sparkContext.defaultParallelism
    part = (
        base.repartitionByRange(nparts, "lang", "tie", "doc_id")
        .sortWithinPartitions("lang", "tie", "doc_id")
        .select(
            "*",
            F.spark_partition_id().alias("pid"),
            F.monotonically_increasing_id().alias("mid"),
        )
        .localCheckpoint(eager=False)
    )
    grp = part.groupBy("lang", "pid").agg(
        F.min("mid").alias("mid0"), F.count(F.lit(1)).alias("c")
    )
    off_w = (
        Window.partitionBy("lang")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # O(n_langs x n_partitions) rows — bounded by construction, broadcast.
    offsets = grp.select(
        "lang",
        "pid",
        "mid0",
        F.coalesce(F.sum("c").over(off_w), F.lit(0)).alias("off"),
    )
    ranked = part.join(F.broadcast(offsets), ["lang", "pid"]).select(
        "doc_id",
        "lang",
        "tie",
        (F.col("off") + F.col("mid") - F.col("mid0") + 1)
        .cast("long")
        .alias("lang_rank"),
    )
    return ranked.join(F.broadcast(w), "lang").select(
        "doc_id",
        "lang",
        "lang_rank",
        ((2 * F.col("lang_rank") - 1) * F.col("inv_w")).alias("vkey"),
        "tie",
    )


# ===========================================================================
# SemDeDup (r6): semantic dedup via cluster-blocked cosine — assign
# normalized embeddings to codebook cells, compare pairs ONLY within a
# cell, drop the higher-id member of any pair above the similarity
# threshold. The quadratic term is bounded by cell size (pick K so cells
# stay O(corpus/K)); no all-pairs join exists anywhere in the plan.
# ===========================================================================
_SEM_TAU = 0.99
# Floor of the DATA-DERIVED cell count. SemDeDup's quadratic term is
# O(cell_size^2) per cell, so a pinned K collapses at scale (K=8 put ~690
# vectors per cell at sf0.1: ~1.9M pairwise dots, 12.3 s benched); the
# two-level codebook below grows K with n instead.
_SEM_K_MIN = 16


# ===========================================================================
# Product quantization + ADC recall: the memory-bound half of IVF-PQ.
# Split each vector into M subspaces, quantize each subspace to a small
# codebook, score candidates by Asymmetric Distance Computation — the sum
# of precomputed query-to-centroid subspace distances — and measure
# recall@10 against the exact L2 scan. Fixed-point (1e-6) subspace
# distances make the ADC sum exact integer math, so ranking ties and the
# recall number are bit-identical cross-engine.
#
# Real PQ training per Jegou'11 section V (r7): an INDEPENDENT k-means per
# subquantizer — two assign/update rounds over each subspace's subvectors
# (exact scaled-long component means, so the trained codebooks are
# bit-identical cross-engine). Measured recall ladder at
# sf0.01: 0.3 training-free -> 0.4 after one round -> 0.5 after two (the
# same before/after discipline as the IVF 0.5 -> 0.9 trained pair). An
# earlier r7 attempt that just SLICED the full-vector k-means centroids
# into subspaces measured 0.3 — no better than training-free, which is
# exactly why PQ trains per subquantizer.
# ===========================================================================
_PQ_M = 4          # subspaces
_PQ_SUB = 16       # dims per subspace (64 / 4)
_PQ_K = 8          # codes per subspace codebook
_PQ_SCALE = 1_000_000


def _pq_sql_sub_assign(src_c: str) -> str:
    """Per-(vec_id, m) argmin over a (m, c, cs) subspace codebook."""
    return f"""
  SELECT vec_id, m, c FROM (
    SELECT s.vec_id, s.m, c.c,
           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
             (list_dot_product(s.xs, s.xs) - 2*list_dot_product(s.xs, c.cs)
              + list_dot_product(c.cs, c.cs)), c.c) AS rn
    FROM subs s JOIN {src_c} c ON c.m = s.m) WHERE rn = 1
"""


def _pq_sql_subs_rows() -> str:
    return " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, x[{m * _PQ_SUB + 1}:{(m + 1) * _PQ_SUB}] AS xs FROM e"
        for m in range(_PQ_M)
    )


def _pq_sql_upd(src_a: str) -> str:
    """Exact scaled-long per-(m, c) component means over a (vec_id, m, c)
    assignment — one subspace k-means update round (shared by the trained-PQ
    recall oracle and the IVF-PQ top-k oracle)."""
    return f"""
      SELECT m, c, list(CAST(s AS DOUBLE) / n / {_KM_SCALE} ORDER BY pos) AS cs
      FROM (
        SELECT comp.m, comp.c, comp.pos,
               SUM(CAST(round(comp.v * {_KM_SCALE}) AS BIGINT)) AS s,
               COUNT(*) AS n
        FROM (
          SELECT s.m AS m, a.c AS c,
                 generate_subscripts(s.xs, 1) AS pos, unnest(s.xs) AS v
          FROM subs s JOIN {src_a} a ON a.vec_id = s.vec_id AND a.m = s.m
        ) comp
        GROUP BY comp.m, comp.c, comp.pos
      ) GROUP BY m, c
    """


def _pq_trained_oracle() -> str:
    subs_rows = _pq_sql_subs_rows()
    upd = _pq_sql_upd

    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    subs AS ({subs_rows}),
    c1 AS (SELECT m, vec_id AS c, xs AS cs FROM subs WHERE vec_id < {_PQ_K}),
    a1 AS ({_pq_sql_sub_assign("c1")}),
    c2 AS ({upd("a1")}),
    a2 AS ({_pq_sql_sub_assign("c2")}),
    cents AS ({upd("a2")}),
    qs AS (SELECT m, xs AS qsub FROM subs WHERE vec_id = 0),
    centd AS (
      SELECT c.m, c.c, c.cs,
             CAST(round((list_dot_product(q.qsub, q.qsub)
                         - 2*list_dot_product(q.qsub, c.cs)
                         + list_dot_product(c.cs, c.cs)) * {_PQ_SCALE})
                  AS BIGINT) AS qd_fp
      FROM cents c JOIN qs q ON q.m = c.m
    ),
    assign AS (
      SELECT vec_id, m, qd_fp FROM (
        SELECT s.vec_id, s.m, cd.qd_fp,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 (list_dot_product(s.xs, s.xs) - 2*list_dot_product(s.xs, cd.cs)
                  + list_dot_product(cd.cs, cd.cs)), cd.c) AS rn
        FROM subs s JOIN centd cd ON cd.m = s.m) WHERE rn = 1
    ),
    adc AS (
      SELECT vec_id, CAST(SUM(qd_fp) AS BIGINT) AS adc_fp
      FROM assign GROUP BY vec_id
    ),
    pq10 AS (SELECT vec_id FROM adc ORDER BY adc_fp, vec_id LIMIT 10),
    qfull AS (SELECT x AS qx FROM e WHERE vec_id = 0),
    exact10 AS (
      SELECT e.vec_id FROM e CROSS JOIN qfull
      ORDER BY round(list_dot_product(e.x, e.x) - 2*list_dot_product(e.x, qx)
                     + list_dot_product(qx, qx), 6), e.vec_id
      LIMIT 10
    )
    SELECT CAST(10 AS INTEGER) AS k,
           CAST(count(*) AS BIGINT) AS hits,
           CAST(count(*) AS DOUBLE) / 10 AS recall_at_10
    FROM exact10 WHERE vec_id IN (SELECT vec_id FROM pq10)
    """


def _pq_subs(e: DataFrame) -> DataFrame:
    """Corpus sliced into (vec_id, m, xs) subvectors behind a projection
    barrier — feeds the training rounds AND the encode pass (shared by the
    trained-PQ recall query and the IVF-PQ top-k composition).

    r16: also carries ``_xx`` = |xs|^2, computed ONCE per subvector row
    inside the barrier. Every assign/encode argmin downstream needs it per
    candidate PAIR; inline it was re-evaluated K times per row (guide
    §1.2). Consumers pair it with a ``_cc`` = |cs|^2 column on the
    codebook side via _PQ_D2H — term-for-term the same expression as
    _pq_sub_d2_sql, so distances stay bit-identical."""
    return (
        e.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.slice(
                                F.col("x"), m * _PQ_SUB + 1, _PQ_SUB
                            ).alias("xs"),
                        )
                        for m in range(_PQ_M)
                    ]
                )
            ).alias("s"),
        )
        .select("vec_id", "s.m", "s.xs")
        .withColumn("_xx", V.dot(F.col("xs"), F.col("xs")))
        .localCheckpoint(eager=False)
    )


def _dot_sql(a: str, b: str) -> str:
    """SQL-string twin of V.dot — the same sequential-fold tree, parsed
    JVM-side in one call instead of ~12 py4j round-trips."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        f"(acc, x) -> acc + x)"
    )


def _pq_sub_d2_sql(x: str, c: str) -> str:
    return f"({_dot_sql(x, x)} - 2 * {_dot_sql(x, c)} + {_dot_sql(c, c)})"


# Hoisted-norm variant (r16): same three terms in the same order, with the
# two pair-invariant dots read from materialized columns (_xx from
# _pq_subs, _cc from _cc_side) instead of re-folded per candidate pair.
_PQ_D2H = f"(_xx - 2 * {_dot_sql('xs', 'cs')} + _cc)"


def _cc_side(cb: DataFrame) -> DataFrame:
    """Codebook side with its |cs|^2 hoisted (K rows — negligible)."""
    return cb.withColumn("_cc", V.dot(F.col("cs"), F.col("cs")))


def _pq_train_round(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """One per-subspace k-means round: broadcast-argmin assignment (the
    subvector rides through the min_by struct, so no join-back to subs),
    then exact scaled-long component means per (m, c) as _PQ_SUB scalar
    long sums — an element-wise aggregate instead of a posexplode that
    would amplify rows x16 (measured 4.2 -> 3.4 s at sf0.1 for the whole
    query, r7). Identical math to the oracle's generate_subscripts form:
    per-index SUM(round(v*S)) and one IEEE division each."""
    a = (
        subs.join(F.broadcast(_cc_side(cb)), "m")
        .groupBy("vec_id", "m")
        .agg(
            F.expr(
                f"min_by(struct(c, xs), "
                f"struct({_PQ_D2H} as d, c as cc))"
            ).alias("mm")
        )
    )
    assigned = a.select(
        "m", F.col("mm.c").alias("c"), F.col("mm.xs").alias("xs")
    )
    # The _PQ_SUB per-component aggregates and the rebuild array are
    # emitted as SQL strings (one JVM parse each) rather than nested
    # Column calls: the Column form costs ~6 py4j round-trips per
    # component per round of pure driver time (same finding as
    # operators/similarity.signature_col, measured ~0.5 s per training
    # round at sf0.1). The parsed trees — round, cast long, sum, then
    # exactly one IEEE division per component — are identical.
    sums = assigned.groupBy("m", "c").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(
                f"sum(cast(round(element_at(xs, {i + 1}) * {_KM_SCALE}) "
                f"as bigint))"
            ).alias(f"s{i}")
            for i in range(_PQ_SUB)
        ],
    )
    mean_arr = ", ".join(
        f"cast(s{i} as double) / n / {_KM_SCALE}" for i in range(_PQ_SUB)
    )
    return sums.select("m", "c", F.expr(f"array({mean_arr})").alias("cs"))


def _pq_trained_cents(subs: DataFrame, rounds: int = 2) -> DataFrame:
    """Trained per-subquantizer codebooks: deterministic low-id init, then
    ``rounds`` assign/update passes (Jegou'11 section V)."""
    cents = subs.filter(F.col("vec_id") < _PQ_K).select(
        "m", F.col("vec_id").alias("c"), F.col("xs").alias("cs")
    )
    for _ in range(rounds):
        cents = _pq_train_round(subs, cents).localCheckpoint(eager=False)
    return cents


def _pq_centd(subs: DataFrame, cents: DataFrame) -> DataFrame:
    """The query's ADC distance table: fixed-point (1e-6) squared-L2 from
    the query subvector to every codebook entry — M x K rows, broadcast."""
    qs = subs.filter(F.col("vec_id") == 0).select(
        "m", F.col("xs").alias("qsub")
    )
    qd = (
        V.dot(F.col("qsub"), F.col("qsub"))
        - 2 * V.dot(F.col("qsub"), F.col("cs"))
        + V.dot(F.col("cs"), F.col("cs"))
    )
    return (
        cents.join(F.broadcast(qs), "m")
        .select(
            "m",
            "c",
            "cs",
            F.round(qd * _PQ_SCALE).cast("long").alias("qd_fp"),
            V.dot(F.col("cs"), F.col("cs")).alias("_cc"),  # r16 hoist
        )
        .localCheckpoint(eager=False)
    )


def _pq_adc_scores(cand_subs: DataFrame, centd: DataFrame) -> DataFrame:
    """Encode + ADC-score candidate subvectors: per-(vec_id, m) argmin code
    picks the precomputed query distance, then the exact long sum across M
    subspaces (no float accumulation-order hazard)."""
    assign = (
        cand_subs.join(F.broadcast(centd), "m")
        .groupBy("vec_id", "m")
        .agg(
            F.expr(
                f"min_by(qd_fp, "
                f"struct({_PQ_D2H} as d, c as c))"
            ).alias("qd_fp")
        )
    )
    return assign.groupBy("vec_id").agg(F.sum("qd_fp").alias("adc_fp"))


@_register(
    "embedding_pq_adc_recall_trained",
    _pq_trained_oracle(),
    "PQ with TRAINED subspace codebooks, measured: an independent "
    "k-means per subquantizer (Jegou'11 section V) — two assign/update "
    "rounds over each subspace's subvectors, exact scaled-long "
    "component means so the trained codebooks are bit-identical "
    "cross-engine — in place of training-free low-id codebooks; ADC "
    "scoring and recall@10 against the exact scan. Measured ladder at sf0.01: 0.3 training-"
    "free -> 0.4 (one round) -> 0.5 (two rounds); slicing the FULL-"
    "vector k-means centroids instead measured 0.3 — no gain, which is "
    "why PQ trains per subquantizer. Scale shape: each training round "
    "shuffles M*K*subdim component partials (codebook-sized, never "
    "corpus-sized), codebooks broadcast, encode is one scan, top-k is "
    "TakeOrderedAndProject",
    reference="[NORTH-STAR] PQ codebook training (Jegou'11 section V: "
    "k-means per subquantizer)",
    tags=("similarity", "northstar", "iterative"),
)
def q_pq_adc_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _km_load(spark, sf_dir)
    subs = _pq_subs(e)
    cents = _pq_trained_cents(subs)
    centd = _pq_centd(subs, cents)
    adc = _pq_adc_scores(subs, centd)
    pq10 = adc.orderBy("adc_fp", "vec_id").limit(10).select("vec_id")
    # r16: |qx|^2 hoisted into the 1-row broadcast (same order, bit-same).
    qfull = e.filter(F.col("vec_id") == 0).select(
        F.col("x").alias("qx"), V.dot(F.col("x"), F.col("x")).alias("_qq")
    )
    ed2 = (
        V.dot(F.col("x"), F.col("x"))
        - 2 * V.dot(F.col("x"), F.col("qx"))
        + F.col("_qq")
    )
    exact10 = (
        e.join(F.broadcast(qfull))
        .select("vec_id", F.round(ed2, 6).alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return exact10.join(pq10, "vec_id", "semi").agg(
        F.lit(10).alias("k"),
        F.count(F.lit(1)).alias("hits"),
        (F.count(F.lit(1)).cast("double") / 10).alias("recall_at_10"),
    )



# ===========================================================================
# Context-window chunking (r6): split each document into overlapping
# token windows — the packing-adjacent stage that turns long documents
# into training-context-sized pieces with deterministic provenance
# (doc_id, chunk_idx, token span, content signature).
# ===========================================================================
_CHUNK_LEN = 64
_CHUNK_STRIDE = 56  # 8-token overlap between consecutive chunks


@_register(
    "docs_chunk_windows",
    f"""
    WITH toks AS (
      SELECT doc_id, {{toks}} AS toks FROM documents
    ),
    starts AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) + 1, {_CHUNK_STRIDE}))
             AS start_tok
      FROM toks WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST((start_tok - 1) / {_CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           CAST(start_tok AS INTEGER) AS start_tok,
           CAST(least(start_tok + {_CHUNK_LEN} - 1, len(toks)) AS INTEGER)
             AS end_tok,
           CAST(len(toks[start_tok:least(start_tok + {_CHUNK_LEN} - 1, len(toks))])
                AS INTEGER) AS n_tokens,
           md5(array_to_string(
                 toks[start_tok:least(start_tok + {_CHUNK_LEN} - 1, len(toks))],
                 ' ')) AS chunk_sig
    FROM starts
    """.format(toks=_SQL_TOKS),
    f"Sliding context-window chunking: each document becomes {_CHUNK_LEN}-"
    f"token windows at stride {_CHUNK_STRIDE} (8-token overlap so no "
    "training example straddles a hard boundary blind), with token-span "
    "provenance and an md5 content signature per chunk — the unit the "
    "packing stage (docs_sequence_packing) and dedup passes consume "
    "downstream. One scan, tokenize once behind a projection barrier, "
    "explode over per-doc start offsets; per-row expression work only, "
    "shuffle-free — at 100 TB this is embarrassingly parallel and the "
    "output keys (doc_id, chunk_idx) keep lineage exact",
    reference="[NORTH-STAR] context-window chunking for LLM training "
    "(pairs with docs_sequence_packing)",
    tags=("text", "northstar"),
)
def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    starts = toks.filter(F.size("toks") > 0).select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(_CHUNK_STRIDE))
        ).alias("start_tok"),
    )
    chunk = F.slice(F.col("toks"), F.col("start_tok"), _CHUNK_LEN)
    return starts.select(
        "doc_id",
        ((F.col("start_tok") - 1) / _CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.col("start_tok").cast("int").alias("start_tok"),
        F.least(
            F.col("start_tok") + _CHUNK_LEN - 1, F.size("toks")
        ).cast("int").alias("end_tok"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_sig"),
    )


# ===========================================================================
# Hashed linear quality classifier (r6): fastText-style scoring — hashed
# unigram + bigram features, a broadcast-free weight lookup via the
# hashing trick (the weight IS a hash-derived fixed-point value, so no
# weight table ships anywhere), exact integer feature sums.
# ===========================================================================
def _clf_w_sql(feat: str, salt: str) -> str:
    hashed = _sql_md5_long("'" + salt + ":' || " + feat)
    return f"(({hashed}) % 2001 - 1000)"


@_register(
    "docs_quality_classifier_score",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, {{toks}} AS toks FROM documents
    ),
    feats AS (
      SELECT doc_id, lang,
             CAST(len(toks) AS BIGINT) AS n_toks,
             CAST(COALESCE(list_sum(list_transform(toks,
                    t -> {_clf_w_sql('t', 'qw')})), 0) AS BIGINT) AS uni_sum,
             CAST(COALESCE(list_sum(list_transform(
                    CASE WHEN len(toks) >= 2
                         THEN list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i+1])
                         ELSE [] END,
                    b -> {_clf_w_sql('b', 'qw2')})), 0) AS BIGINT) AS bi_sum
      FROM toks
    )
    SELECT doc_id, lang, n_toks, uni_sum, bi_sum,
           CASE WHEN n_toks > 0
                THEN CAST(uni_sum + bi_sum AS DOUBLE) / n_toks
                ELSE 0.0 END AS score,
           (uni_sum + bi_sum > 0) AS is_good
    FROM feats
    """.format(toks=_SQL_TOKS),
    "Model-based quality filtering via the hashing trick: a fastText-"
    "style linear classifier where each unigram/bigram feature's weight "
    "is derived from a domain-separated md5 hash (fixed-point in "
    "[-1.000, 1.000] at 1e-3) — standing in for trained weights with "
    "the exact same plan shape. Feature sums are exact long arithmetic "
    "(order-free), the per-doc score is ONE IEEE division, and the "
    "keep/drop decision compares integers so it is bit-exact. The real "
    "deployment swaps the hash for a broadcast weight map lookup "
    "(hashing-trick models need no vocabulary at all — the weight "
    "vector is indexed by hash, which is why fastText scales); either "
    "way the pass is one scan, zero shuffles, zero UDFs",
    reference="[NORTH-STAR] model-based quality scoring (fastText-style "
    "linear classifier with hashed n-gram features, Joulin'16)",
    tags=("text", "northstar"),
)
def q_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", TX.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    feats = classifier_features(toks, "doc_id", "lang")
    total = F.col("uni_sum") + F.col("bi_sum")
    return feats.select(
        "doc_id",
        "lang",
        "n_toks",
        "uni_sum",
        "bi_sum",
        "score",
        (total > 0).alias("is_good"),
    )


def classifier_features(toks: DataFrame, *keep: str) -> DataFrame:
    """Hashed-linear feature sums + score over a frame carrying ``toks``;
    ``keep`` columns pass through. Shared by the classifier score, the
    AUC evaluation, and the per-source calibration queries."""

    def w(col, salt):
        return TX.md5_long(F.concat(F.lit(salt + ":"), col)) % 2001 - 1000

    bigrams = F.when(
        F.size("toks") >= 2,
        F.zip_with(
            F.slice(F.col("toks"), 1, F.size("toks") - 1),
            F.slice(F.col("toks"), 2, F.size("toks") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = toks.select(
        *keep,
        F.size("toks").cast("long").alias("n_toks"),
        F.aggregate(
            F.transform(F.col("toks"), lambda t: w(t, "qw")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("uni_sum"),
        F.aggregate(
            F.transform(bigrams, lambda b: w(b, "qw2")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("bi_sum"),
    )
    total = F.col("uni_sum") + F.col("bi_sum")
    return feats.withColumn(
        "score",
        F.when(F.col("n_toks") > 0, total.cast("double") / F.col("n_toks"))
        .otherwise(F.lit(0.0)),
    )


# ===========================================================================
# BPE merge training, two rounds (r6): the tokenizer-training loop as a
# distributed program. Each round: (1) count adjacent symbol pairs across
# the corpus (map-combined shuffle, O(distinct pairs)); (2) pick the top
# pair deterministically (count DESC, pair ASC — a 1-row TakeOrdered);
# (3) apply the merge greedily left-to-right without overlap (the "a a a"
# -> "a+a a" rule), which distributes as per-doc windows: candidate
# positions, gaps-and-islands run ids, odd-parity positions merge;
# (4) rebuild token arrays and recount. All counts are exact integers and
# the greedy-application parity rule is engine-independent, so two full
# BPE iterations are held to the bit-exact oracle bar.
# ===========================================================================
def _bpe_round_sql(src: str, r: int) -> str:
    return f"""
    pairs_{r} AS (
      SELECT t.l AS l, t.r AS r, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(list_transform(range(1, len(toks)),
               i -> struct_pack(l := toks[i], r := toks[i+1]))) AS t
        FROM {src} WHERE len(toks) >= 2)
      GROUP BY t.l, t.r
    ),
    top_{r} AS MATERIALIZED (
      SELECT l, r, cnt FROM pairs_{r} ORDER BY cnt DESC, l, r LIMIT 1),
    cand_{r} AS (
      SELECT p.doc_id, p.pos, p.tok, t.l, t.r, t.cnt,
             (p.tok = t.l AND COALESCE(lead(p.tok) OVER
                (PARTITION BY p.doc_id ORDER BY p.pos), '') = t.r) AS cand
      FROM (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
                   unnest(toks) AS tok FROM {src}) p
      CROSS JOIN top_{r} t
    ),
    isl_{r} AS (
      SELECT *, CASE WHEN cand THEN pos - row_number() OVER
                (PARTITION BY doc_id, cand ORDER BY pos) END AS run_id
      FROM cand_{r}
    ),
    mrk_{r} AS (
      SELECT *, cand AND (row_number() OVER
                (PARTITION BY doc_id, run_id ORDER BY pos) % 2 = 1) AS m
      FROM isl_{r}
    ),
    nxt_{r} AS (
      SELECT doc_id, pos,
             CASE WHEN m THEN tok || '+' || r ELSE tok END AS new_tok,
             NOT COALESCE(lag(m) OVER
                (PARTITION BY doc_id ORDER BY pos), false) AS keep
      FROM mrk_{r}
    ),
    out_{r} AS MATERIALIZED (
      SELECT doc_id, list(new_tok ORDER BY pos) AS toks
      FROM nxt_{r} WHERE keep GROUP BY doc_id
    )"""
    # ^ MATERIALIZED on out_{r} (and the 1-row top_{r}) is a pure
    # optimization fence: each round's output is referenced three times
    # downstream (next round's pair count + candidate stream + the
    # tokens_after scalar subquery), so without it DuckDB inlines the
    # chain and re-evaluates round r-1 exponentially as rounds compose —
    # 548 s at 8 rounds vs 0.6 s materialized, identical results.


_BPE_ORACLE = f"""
    WITH toks0 AS (
      SELECT doc_id, {{toks}} AS toks FROM documents
    ),
    {_bpe_round_sql('toks0', 1)},
    {_bpe_round_sql('out_1', 2)}
    SELECT 1 AS round, t.l AS left_tok, t.r AS right_tok, t.cnt AS pair_count,
           (SELECT CAST(SUM(len(toks)) AS BIGINT) FROM out_1) AS tokens_after
    FROM top_1 t
    UNION ALL
    SELECT 2, t.l, t.r, t.cnt,
           (SELECT CAST(SUM(len(toks)) AS BIGINT) FROM out_2)
    FROM top_2 t
    """.format(toks=_SQL_TOKS)


def _bpe_oracle_rounds(n: int) -> str:
    """The composed WITH-clause chain for n training rounds (the CTE chain
    composes round-over-round; tests/test_bpe_nround.py runs it at n=8)."""
    return ",\n    ".join(
        _bpe_round_sql("toks0" if r == 1 else f"out_{r - 1}", r)
        for r in range(1, n + 1)
    )


def bpe_train(toks0: DataFrame, rounds: int):
    """N-round BPE trainer (r7 verdict #4): returns (encoded corpus,
    [1-row top-merge DataFrame per round, in application order]).

    Per-round cost is structurally FLAT: one exact pair-count shuffle
    (O(distinct pairs), map-combined) + one doc-partitioned window pass
    to apply the 1-row broadcast merge; each round's output is
    localCheckpointed so lineage (and plan size) stays bounded at any N.
    The honest limiter is the DRIVER-SYNCHRONOUS round loop — each top
    pick is a 1-row action barrier, exactly like sequential BPE trainers;
    scripts/bpe_round_curve.py measures the per-round marginal cost."""
    outs, tops = [], []
    cur = toks0
    for _ in range(rounds):
        cur, top = _bpe_round(cur)
        outs.append(cur)
        tops.append(top)
    return outs, tops


def bpe_encode_frozen(toks0: DataFrame, merges) -> DataFrame:
    """Apply a FROZEN merge list (training output) to a corpus: the
    production encode path — per-doc window passes only, no pair-count
    shuffles (the merges are already chosen). Bit-identical to the
    trainer's final state on the training corpus by construction
    (pinned by tests/test_bpe_nround.py)."""
    cur = toks0
    for top in merges:
        cur = bpe_apply_merge(cur, top)
    return cur


def _bpe_round(toks_df: DataFrame):
    """One BPE round on (doc_id, toks): returns (merged toks_df, 1-row
    merge-info df with l, r, cnt)."""
    n = F.size("toks")
    pairs = (
        toks_df.filter(n >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("toks"), 1, n - 1),
                    F.slice(F.col("toks"), 2, n - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p")
        )
        .groupBy("p.l", "p.r")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).localCheckpoint(eager=False)
    return bpe_apply_merge(toks_df, top), top


def bpe_apply_merge(toks_df: DataFrame, top: DataFrame) -> DataFrame:
    """Greedy non-overlapping application of the 1-row (l, r) merge to
    every (doc_id, toks) row — factored out of the round so the run-parity
    window logic is property-testable against a sequential reference
    (tests/test_properties.py)."""
    pos = toks_df.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    # EVERY window below shares (partitionBy doc_id, orderBy pos): the
    # greedy-application chain costs ONE shuffle of the exploded token
    # stream, not one per analytic. The oracle's equivalent
    # gaps-and-islands form ((doc,cand)/(doc,run_id) partitions) computes
    # the same merge set; this formulation replaces per-run row_number
    # parity with offset-from-running-run-start parity so no window needs
    # a partition key other than doc_id. Measured 8.4 s -> see BENCH.
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    wrun = wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cand_df = pos.join(F.broadcast(top)).withColumn(
        "cand",
        (F.col("tok") == F.col("l"))
        & (F.coalesce(F.lead("tok").over(wdoc), F.lit("")) == F.col("r")),
    )
    runs = cand_df.withColumn(
        "run_start",
        F.col("cand") & ~F.coalesce(F.lag("cand").over(wdoc), F.lit(False)),
    ).withColumn(
        "run_start_pos",
        F.max(F.when(F.col("run_start"), F.col("pos"))).over(wrun),
    )
    mrk = runs.withColumn(
        "m",
        F.col("cand") & ((F.col("pos") - F.col("run_start_pos")) % 2 == 0),
    )
    nxt = mrk.select(
        "doc_id",
        "pos",
        F.when(F.col("m"), F.concat_ws("+", F.col("tok"), F.col("r")))
        .otherwise(F.col("tok"))
        .alias("new_tok"),
        (~F.coalesce(F.lag("m").over(wdoc), F.lit(False))).alias("keep"),
    )
    merged = (
        nxt.filter("keep")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", F.col("new_tok").alias("t")))
                ),
                lambda s: s.t,
            ).alias("toks")
        )
        .localCheckpoint(eager=True)
    )
    # ^ eager: round 2's pair count, candidate explode, and the token
    # recount all read this; materializing ends round 1's window lineage.
    return merged


@_register(
    "docs_bpe_top_merges",
    _BPE_ORACLE,
    "Two rounds of BPE merge training run as a distributed program: "
    "exact corpus-wide adjacent-pair counts (one map-combined shuffle, "
    "O(distinct pairs)), a deterministic top-merge pick (count DESC, "
    "pair ASC — 1-row TakeOrdered broadcast), and GREEDY NON-OVERLAPPING "
    "merge application distributed as per-doc windows (candidate flags, "
    "gaps-and-islands run ids, odd-parity-in-run positions merge — the "
    "exact 'a a a' -> 'a+a a' left-to-right rule). Output: per round, "
    "the chosen pair, its count, and the corpus token total after "
    "applying it — all exact integers. At 100 TB: per-round cost is one "
    "pair-count shuffle plus doc-partitioned window work (BPE's "
    "sequential greedy rule only ever needs per-document ordering, so "
    "parallelism is per-doc); the merge table itself stays a broadcast. "
    "This is the merges.txt producer whose consumer-side twin is the "
    "bpe_ish token counter in functions/text.py",
    reference="[NORTH-STAR] tokenizer training (BPE, Sennrich'16) — the "
    "iterative-algorithm tier alongside embedding_kmeans_2iter",
    tags=("text", "northstar", "iterative"),
)
def q_bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    toks0 = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    outs, tops = bpe_train(toks0, 2)
    rows = []
    for rnd, out, top in ((1, outs[0], tops[0]), (2, outs[1], tops[1])):
        after = out.agg(F.sum(F.size("toks")).cast("long").alias("tokens_after"))
        rows.append(
            top.join(F.broadcast(after)).select(
                F.lit(rnd).alias("round"),
                F.col("l").alias("left_tok"),
                F.col("r").alias("right_tok"),
                F.col("cnt").alias("pair_count"),
                "tokens_after",
            )
        )
    return rows[0].unionByName(rows[1])


# ===========================================================================
# BPE encode-apply (r7): the consumer half of the tokenizer story. The
# training query emits merges.txt; this one APPLIES the trained merges
# back to every document and emits the per-doc encoding record
# (before/after token counts, compression ratio, content signature of
# the encoded stream) — the operation a training-data pipeline runs over
# the full corpus once a tokenizer is frozen. Same two training rounds
# (bit-identical picks), then a per-doc projection of the final state.
# ===========================================================================
@_register(
    "docs_bpe_encode",
    f"""
    WITH toks0 AS (
      SELECT doc_id, {{toks}} AS toks FROM documents
    ),
    {_bpe_round_sql('toks0', 1)},
    {_bpe_round_sql('out_1', 2)}
    SELECT t.doc_id,
           CAST(len(t.toks) AS INTEGER) AS n_tokens_orig,
           CAST(COALESCE(len(o.toks), len(t.toks)) AS INTEGER)
             AS n_tokens_encoded,
           CAST(len(t.toks) - COALESCE(len(o.toks), len(t.toks)) AS INTEGER)
             AS n_merges_applied,
           md5(array_to_string(COALESCE(o.toks, t.toks), ' ')) AS encoded_sig
    FROM toks0 t LEFT JOIN out_2 o USING (doc_id)
    """.format(toks=_SQL_TOKS),
    "BPE ENCODE — the apply side of docs_bpe_top_merges: train the same "
    "two merge rounds (exact pair counts, deterministic top pick), then "
    "emit every document's encoding record — original vs encoded token "
    "counts, merges applied, and an md5 signature of the encoded token "
    "stream (the artifact a downstream packing/dedup stage keys on). "
    "Documents the greedy window pass drops (zero tokens after "
    "tokenize) fall back to their original stream via a left join, so "
    "the output covers the corpus exactly once. At 100 TB the trained "
    "merge table is a broadcast and encoding is per-doc window work — "
    "the same scale shape as training, minus the pair-count shuffles "
    "once the merges are frozen",
    reference="[NORTH-STAR] tokenizer application (Sennrich'16 BPE "
    "encode); completes docs_bpe_top_merges' train -> apply pair",
    tags=("text", "northstar", "iterative"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    toks0 = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    outs, _ = bpe_train(toks0, 2)
    enc = outs[-1].select("doc_id", F.col("toks").alias("enc_toks"))
    n0 = F.size("toks")
    n1 = F.size(F.coalesce(F.col("enc_toks"), F.col("toks")))
    return toks0.join(enc, "doc_id", "left").select(
        "doc_id",
        n0.cast("int").alias("n_tokens_orig"),
        n1.cast("int").alias("n_tokens_encoded"),
        (n0 - n1).cast("int").alias("n_merges_applied"),
        F.md5(
            F.array_join(F.coalesce(F.col("enc_toks"), F.col("toks")), " ")
        ).alias("encoded_sig"),
    )


# ===========================================================================
# Two-level SemDeDup (r6): the documented path below the flat codebook's
# O(n^1.5). Coarse codebook of C = ceil(sqrt(K)) super-cells (the first C
# centroids double as super-centroids, so every super-cell contains at
# least its own centroid); vectors coarse-assign to a super-cell (n*C
# dots) then fine-assign ONLY among that super-cell's centroids
# (n*K/C average dots) — total assignment ~ n*2*sqrt(K) vs the flat n*K.
# Within-cell dedup is unchanged. The hierarchical assignment is a
# deterministic rule (argmin with id tie-breaks at both levels), so the
# oracle mirrors it exactly rather than approximating it.
# ===========================================================================
_SEM_ROUTE_SCALE = 1_000_000  # fixed-point routing quantum (1e-6)
# Driver-collect budget for the semdedup codebook (K rows x dim doubles).
# K = n^(2/3) stays tiny through every tested scale (3.4 MB at the 100x
# corpus) but reaches ~512 MB at n = 1e9 vectors; above this budget the
# query switches to the two-pass shuffle-by-super-cell assignment (the r8
# shape) in which no driver-side collect grows with n (r9 verdict #8 —
# previously this escape existed only as a comment).
_SEM_CODEBOOK_MAX_BYTES = 256 << 20


def _sem_d2q(a: Column, b: Column) -> Column:
    """Quantized squared L2 between two array<double> columns: the engine-
    side twin of the kernel path's ``_route_fp`` (floor(d2*1e6 + 0.5) as
    int64, so a last-ulp float difference cannot flip a route except
    exactly at a 1e-6 quantum boundary — same residual the kernel has)."""
    d2 = V.dot(a, a) - 2 * V.dot(a, b) + V.dot(b, b)
    return F.floor(d2 * _SEM_ROUTE_SCALE + F.lit(0.5)).cast("long")


def _semdedup_assign_two_pass(normed: DataFrame, k: int, c: int) -> DataFrame:
    """Two-level assignment with NO driver-side codebook: route via
    broadcast of the C = ceil(sqrt(K)) super-centroids (C stays <= ~1000
    at n = 1e9 — genuinely tiny), then shuffle BOTH the vectors and the
    K-row codebook by super-cell id and argmin within the slice. Two
    corpus shuffles (groupBy vec_id x2) + one codebook shuffle instead of
    the kernel path's zero — the price of never holding K rows in one
    place. Tie-breaks mirror the kernel exactly: smallest quantized d2,
    then smallest centroid id (min_by over a (d, id) struct == first
    argmin over an id-sorted codebook)."""
    cents = normed.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("vn").alias("cvn")
    )
    supers = normed.filter(F.col("vec_id") < c).select(
        F.col("vec_id").alias("sid"), F.col("vn").alias("svn")
    )

    def _route(df, id_col, vec_col):
        d = _sem_d2q(F.col(vec_col), F.col("svn"))
        return (
            df.join(F.broadcast(supers))
            .groupBy(id_col)
            .agg(
                F.min_by(
                    "sid", F.struct(d.alias("d"), F.col("sid").alias("t"))
                ).alias("sid"),
                F.any_value(vec_col).alias(vec_col),
            )
        )

    cent_routed = _route(cents, "cid", "cvn")
    vec_routed = _route(normed, "vec_id", "vn")
    d_fine = _sem_d2q(F.col("vn"), F.col("cvn"))
    # shuffle_hash, not broadcast: the codebook side is an unbounded
    # corpus-derived aggregate — exactly the statically-misplanned
    # broadcast class the 100x tier caught twice (r8).
    return (
        vec_routed.join(cent_routed.hint("shuffle_hash"), "sid")
        .groupBy("vec_id")
        .agg(
            F.min_by(
                "cid", F.struct(d_fine.alias("d"), F.col("cid").alias("t"))
            ).alias("cid"),
            F.any_value("vn").alias("vn"),
        )
        .select("vec_id", "cid", "vn")
    )


def _sem2_oracle() -> str:
    return f"""
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(embedding::DOUBLE[], x -> x * 1.01) AS v
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    normed AS (
      SELECT vec_id, list_transform(v, x -> x / n) AS vn
      FROM (SELECT *, sqrt(list_dot_product(v, v)) AS n FROM corpus)
    ),
    kv AS (
      -- K = ceil(n^(2/3)) computed EXACTLY in integers: pow/cbrt are not
      -- correctly-rounded, so a float ceil could differ by 1 between
      -- engines at integer boundaries; instead take a float guess k0 and
      -- resolve the true smallest k with k^3 >= n^2 by integer compares
      -- (robust to k0 off by +/-2).
      SELECT greatest({_SEM_K_MIN}, kx) AS k,
             CAST(ceil(sqrt(CAST(greatest({_SEM_K_MIN}, kx) AS DOUBLE))) AS BIGINT) AS c
      FROM (
        SELECT CASE WHEN (k0-1)*(k0-1)*(k0-1) >= nn THEN k0-1
                    WHEN k0*k0*k0 >= nn THEN k0
                    WHEN (k0+1)*(k0+1)*(k0+1) >= nn THEN k0+1
                    ELSE k0+2 END AS kx
        FROM (SELECT CAST(pow(CAST(nn AS DOUBLE), 1.0/3.0) AS BIGINT) AS k0, nn
              FROM (SELECT CAST(count(*) AS BIGINT)*CAST(count(*) AS BIGINT) AS nn
                    FROM corpus))
      )
    ),
    cents AS (
      SELECT vec_id AS cid, vn AS cv FROM normed CROSS JOIN kv
      WHERE vec_id < kv.k
    ),
    supers AS (
      SELECT vec_id AS sid, vn AS sv FROM normed CROSS JOIN kv
      WHERE vec_id < kv.c
    ),
    -- Routing distances are FIXED-POINT (round(d2 * 1e6) as BIGINT, id
    -- tie-break): the engine side evaluates them with BLAS (summation
    -- order differs from a sequential fold), so the argmin must compare
    -- quantized integers or a last-ulp difference could flip a route.
    cent_super AS (
      SELECT cid, cv, sid FROM (
        SELECT c.cid, c.cv, s.sid,
               row_number() OVER (PARTITION BY c.cid ORDER BY
                 CAST(round((list_dot_product(c.cv, c.cv) - 2*list_dot_product(c.cv, s.sv)
                  + list_dot_product(s.sv, s.sv)) * {_SEM_ROUTE_SCALE}.0) AS BIGINT), s.sid) AS rn
        FROM cents c CROSS JOIN supers s) WHERE rn = 1
    ),
    coarse AS (
      SELECT vec_id, sid FROM (
        SELECT e.vec_id, s.sid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 CAST(round((list_dot_product(e.vn, e.vn) - 2*list_dot_product(e.vn, s.sv)
                  + list_dot_product(s.sv, s.sv)) * {_SEM_ROUTE_SCALE}.0) AS BIGINT), s.sid) AS rn
        FROM normed e CROSS JOIN supers s) WHERE rn = 1
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, cs.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 CAST(round((list_dot_product(e.vn, e.vn) - 2*list_dot_product(e.vn, cs.cv)
                  + list_dot_product(cs.cv, cs.cv)) * {_SEM_ROUTE_SCALE}.0) AS BIGINT), cs.cid) AS rn
        FROM normed e
        JOIN coarse co ON co.vec_id = e.vec_id
        JOIN cent_super cs ON cs.sid = co.sid) WHERE rn = 1
    ),
    cells AS (
      SELECT a.vec_id, a.cid, n.vn
      FROM assign a JOIN normed n ON n.vec_id = a.vec_id
    ),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM cells a JOIN cells b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.vn, b.vn), 6) >= {_SEM_TAU}
    )
    SELECT c.vec_id, c.cid,
           (c.vec_id IN (SELECT vec_id FROM dups)) AS is_dup
    FROM cells c
    """


@_register(
    "embedding_semdedup_2level",
    _sem2_oracle(),
    "Two-level SemDeDup at its measured equilibrium: a FINE codebook of "
    "K = ceil(n^(2/3)) cells with hierarchical assignment — C = "
    "ceil(sqrt(K)) super-cells route each vector (n*C dots), the fine "
    "argmin runs only over that super-cell's centroids (n*K/C average), "
    "~2n*sqrt(K) total — and the within-cell pairwise pass executed as a "
    "per-cell Arrow/BLAS Gram kernel (operators/similarity."
    "cell_pairwise_dups). K ~ n^(2/3) is the point where the O(n^2/K) "
    "pairwise term and the ~2n*sqrt(K) assignment term grow at the same "
    "O(n^(4/3)) rate (r8's K = 4*sqrt(n) left pairwise growing n^(3/2): "
    "the 0.98 segment exponent at 10->100x was exactly that term "
    "arriving); the rule is computed in EXACT integer arithmetic "
    "(smallest k with k^3 >= n^2) on both engines so no pow ulp can "
    "skew K. The kernel is a physical-plan substitution, NOT a "
    "semantics change: exact float64 dots, same HALF_UP round-6 "
    "compare, same higher-id-is-dup rule — so unlike the PQ-ADC "
    "candidate route (the other documented escape) there is NO recall "
    "trade and the oracle stays the plain exact self-join. It wins by "
    "shuffling the cell table once (groupBy cid) instead of twice "
    "(self-join sides), materializing zero candidate pair rows, and "
    "running the O(cell^2) dots as fused dgemm instead of interpreted "
    "aggregate(zip_with) lambdas (~20x/pair); Gram blocks are row-"
    "chunked to <=32 MB so a concentrated cell cannot OOM. The super-"
    "centroids are the first C centroids themselves, so every "
    "super-cell contains >= 1 centroid by construction. Both argmin "
    "levels use explicit (distance, id) tie-breaks, so the route — and "
    "therefore the cell table and the dup set — is a deterministic "
    "function the oracle mirrors exactly. The coarse argmin carries vn "
    "through the aggregate, so the whole two-level assignment costs ONE "
    "corpus shuffle; all small sides stay broadcasts",
    reference="[NORTH-STAR] hierarchical quantization routing (IVF "
    "coarse quantizer, Jegou'11) applied to SemDeDup (Abbas'23)",
    tags=("dedup", "similarity", "northstar"),
)
def q_embedding_semdedup_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    corpus = emb.unionByName(
        emb.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform(F.col("v"), lambda x: x * 1.01).alias("v"),
        )
    )
    normed = (
        corpus.withColumn("n", V.norm(F.col("v")))
        .select(
            "vec_id",
            F.transform(F.col("v"), lambda x: x / F.col("n")).alias("vn"),
        )
        .localCheckpoint(eager=False)
    )
    # K = ceil(n^(2/3)) — the equilibrium where the O(n^2/K) within-cell
    # pairwise term and the ~2n*sqrt(K) hierarchical-assignment term grow
    # at the same O(n^(4/3)) rate (r8 used K = 4*sqrt(n), which leaves
    # pairwise growing n^(3/2) — the measured 0.98 segment exponent at
    # 10->100x was that term arriving on schedule). Computed EXACTLY in
    # integers (smallest k with k^3 >= n^2), mirroring the oracle's CASE
    # ladder, so no pow ulp can skew K. The count materializes the lazy
    # normed checkpoint, which every later job then reuses.
    n = normed.count()
    if n == 0:
        # Empty corpus: the codebook collect below would yield a
        # shape-(0,) matrix and _route_fp's einsum would throw at
        # plan-build time (r9 verdict #1). Empty partitions and
        # truncated tables are routine at 100 TB — degrade to the
        # empty result with the exact output schema instead.
        return normed.select(
            "vec_id",
            F.lit(0).cast("long").alias("cid"),
            F.lit(False).alias("is_dup"),
        )
    nn = n * n
    k0 = int(round(nn ** (1.0 / 3.0))) + 2
    while (k0 - 1) ** 3 >= nn:
        k0 -= 1
    k = max(_SEM_K_MIN, k0)
    c = math.isqrt(k)
    c += 1 if c * c < k else 0
    # Codebook collect: K = n^(2/3) rows of dim doubles — 3.4 MB at the
    # 100x corpus, ~512 MB at n = 1e9 vectors. Holding the codebook in
    # one place is inherent to k-means-family structures (same bound as
    # the broadcast the join-based form used); past the driver-collect
    # budget the query switches IN CODE to the two-pass form (shuffle by
    # super-cell, join each sid's codebook slice — the r8 shape), so no
    # driver collect here grows unbounded with n (r9 verdict #8).
    dim = len(normed.select("vn").head()[0])
    if k * dim * 8 > _SEM_CODEBOOK_MAX_BYTES:
        cells = _semdedup_assign_two_pass(normed, k, c).localCheckpoint(
            eager=False
        )
    else:
        crows = sorted(
            normed.filter(F.col("vec_id") < k).collect(),
            key=lambda r: r.vec_id,
        )
        cid_arr = np.array([r.vec_id for r in crows], dtype=np.int64)
        cmat = np.array([r.vn for r in crows], dtype=np.float64)
        smask = cid_arr < c
        sid_arr, smat = cid_arr[smask], cmat[smask]

        def _route_fp(x_mat, c_mat):
            """Fixed-point squared-L2 matrix: round(d2 * 1e6) as int64.
            BLAS sums in a different order than the oracle's sequential
            fold, so routing compares QUANTIZED integers (with id
            tie-breaks via first-argmin over id-sorted codebooks) — a
            last-ulp float difference can never flip a route."""
            xx = np.einsum("ij,ij->i", x_mat, x_mat)
            cc = np.einsum("ij,ij->i", c_mat, c_mat)
            d2 = xx[:, None] - 2.0 * (x_mat @ c_mat.T) + cc[None, :]
            return np.floor(d2 * _SEM_ROUTE_SCALE + 0.5).astype(np.int64)

        # Centroid->super routing computed driver-side (K x C, tiny).
        cent_sid = sid_arr[np.argmin(_route_fp(cmat, smat), axis=1)]
        bc = spark.sparkContext.broadcast(
            (cid_arr, cmat, cent_sid, sid_arr, smat)
        )

        def _assign(batches):
            import numpy as np  # noqa: PLC0415 — worker-side import
            import pandas as pd  # noqa: PLC0415

            cid_a, cmat_a, cent_sid_a, sid_a, smat_a = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                x_mat = np.stack(pdf["vn"].to_numpy()).astype(np.float64)
                route = sid_a[np.argmin(_route_fp(x_mat, smat_a), axis=1)]
                cid_out = np.empty(len(pdf), dtype=np.int64)
                for s in np.unique(route):
                    rmask = route == s
                    cmask = cent_sid_a == s
                    sub = _route_fp(x_mat[rmask], cmat_a[cmask])
                    cid_out[rmask] = cid_a[cmask][np.argmin(sub, axis=1)]
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "cid": cid_out,
                        "vn": pdf["vn"],
                    }
                )

        # Two-level assignment as a PURE MAP (r9): coarse route n*C dots
        # + fine argmin over the routed super-cell's ~K/C centroids, both
        # as Arrow-batched BLAS against the broadcast codebook. The r8
        # form exploded n*C (and n*K/C) joined rows each carrying the
        # 64-double vector through broadcast-join + min_by — at the 100x
        # corpus that interpreted explosion was the query's dominant term
        # once the pairwise kernel landed. Zero shuffles here; the
        # groupBy(cid) in the dup kernel below is the query's ONLY corpus
        # shuffle.
        cells = normed.mapInPandas(
            _assign, schema="vec_id long, cid long, vn array<double>"
        ).localCheckpoint(eager=False)  # lazy barrier (r6 verdict #1)
    # Within-cell pairwise pass as the BLAS Gram kernel (r8 verdict #1):
    # exact same dup set as the cid self-join (round-6 HALF_UP compare),
    # one cid shuffle instead of two join sides, zero materialized pair
    # rows. Cells are disjoint, so emitted ids are already unique.
    dups = SIM.cell_pairwise_dups(cells, _SEM_TAU)
    return (
        cells.select("vec_id", "cid")
        .join(dups.withColumn("is_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
        )
    )


# ===========================================================================
# Bloom-filter decontamination (r6): the compressed-membership variant of
# docs_decontaminate. The broadcast gram SET works while the eval set is
# small; at 100 TB the eval corpus's distinct grams can run to billions,
# and the scalable form is a Bloom filter — fixed bits, zero false
# negatives, a known false-positive tax. Built here from deterministic
# md5-derived bit positions (not the JVM's internal bloom), so DuckDB
# computes the IDENTICAL filter and the oracle verifies the whole thing —
# false positives included — bit-for-bit, alongside the exact counts so
# the FP tax is a measured column.
# ===========================================================================
_BLOOM_M = 16384  # bits
_BLOOM_K = 3      # hash functions


def _bloom_oracle() -> str:
    def pos(i: int, gh: str) -> str:
        h = f"md5('bf{i}:' || CAST({gh} AS VARCHAR))"
        return f"(('0x' || substring({h}, 1, 15))::BIGINT % {_BLOOM_M})"

    bench_pos = " UNION ALL ".join(
        f"SELECT {pos(i, 'gh')} AS p FROM bench" for i in range(_BLOOM_K)
    )
    gram_flag = " AND ".join(
        f"{pos(i, 'gh')} IN (SELECT p FROM bits)" for i in range(_BLOOM_K)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    bench AS (
      SELECT DISTINCT ('0x' || substring(md5(g), 1, 15))::BIGINT AS gh FROM (
        SELECT unnest({_sql_ngrams(f'toks[{_DECON_SLICE_START}:{_DECON_SLICE_START + _DECON_SLICE_LEN - 1}]', _DECON_N)}) AS g
        FROM toks WHERE doc_id % 13 = 0)
    ),
    bits AS (SELECT DISTINCT p FROM ({bench_pos})),
    dgrams AS (
      SELECT doc_id, n_grams,
             ('0x' || substring(md5(g), 1, 15))::BIGINT AS gh
      FROM (
        SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM (
          SELECT doc_id,
                 list_distinct({_sql_ngrams('toks', _DECON_N)}) AS gs
          FROM toks))
    ),
    flagged AS (
      SELECT doc_id, n_grams, gh,
             ({gram_flag}) AS bloom_hit,
             gh IN (SELECT gh FROM bench) AS exact_hit
      FROM dgrams
    )
    SELECT doc_id,
           CAST(max(n_grams) AS BIGINT) AS n_grams,
           CAST(count(*) FILTER (bloom_hit) AS BIGINT) AS n_hit_bloom,
           CAST(count(*) FILTER (exact_hit) AS BIGINT) AS n_hit_exact,
           CAST(count(*) FILTER (bloom_hit AND NOT exact_hit) AS BIGINT)
             AS n_false_pos
    FROM flagged
    GROUP BY doc_id
    HAVING count(*) FILTER (bloom_hit) > 0
    """


@_register(
    "docs_decontaminate_bloom",
    _bloom_oracle(),
    f"Decontamination through a {_BLOOM_M}-bit / {_BLOOM_K}-hash Bloom "
    "filter instead of the broadcast gram set: benchmark grams set bits "
    "(distinct positions, a tiny broadcast), corpus grams are flagged "
    "when ALL their positions are set — zero false negatives by "
    "construction, and the false-positive tax is REPORTED per doc "
    "(n_hit_bloom vs n_hit_exact vs n_false_pos) rather than assumed. "
    "Bit positions are domain-separated md5 hashes, so the filter is a "
    "pure deterministic function both engines compute identically — the "
    "oracle verifies the Bloom behavior itself, FPs included. At 100 TB "
    "the eval set's distinct grams outgrow any broadcastable set; "
    f"{_BLOOM_M} bits here stand in for the gigabit filter that still "
    "ships to every executor while the exact set cannot — same plan "
    "shape as docs_decontaminate (one corpus scan, map-side membership, "
    "one aggregate), different memory ceiling",
    reference="[NORTH-STAR] Bloom-filter membership at scale (pairs with "
    "docs_decontaminate's broadcast-set form and the runtime bloom-join "
    "pruning proven in tests/test_runtime_bloom_filter.py)",
    tags=("dedup", "northstar", "quality"),
)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks, bench_grams = _decon_inputs(spark, sf_dir)

    def pos(i: int):
        return TX.md5_long(
            F.concat(F.lit(f"bf{i}:"), F.col("gh").cast("string"))
        ) % _BLOOM_M

    bits = (
        bench_grams.select(
            F.explode(F.array(*[pos(i) for i in range(_BLOOM_K)])).alias("p")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    bench_set = bench_grams.withColumn("exact_hit", F.lit(True))
    dgrams = (
        toks.select(
            "doc_id",
            F.array_distinct(TX.shingles(F.col("toks"), _DECON_N)).alias("gs"),
        )
        .select(
            "doc_id",
            F.size("gs").alias("n_grams"),
            F.explode("gs").alias("g"),
        )
        .withColumn("gh", TX.md5_long(F.col("g")))
    )
    bitset = bits.withColumn("set_", F.lit(True))
    flagged = dgrams
    for i in range(_BLOOM_K):
        flagged = (
            flagged.withColumn("p", pos(i))
            .join(
                F.broadcast(bitset.withColumnRenamed("set_", f"s{i}")),
                "p",
                "left",
            )
            .drop("p")
        )
    bloom_hit = None
    for i in range(_BLOOM_K):
        c = F.col(f"s{i}").isNotNull()
        bloom_hit = c if bloom_hit is None else (bloom_hit & c)
    flagged = flagged.withColumn("bloom_hit", bloom_hit).join(
        F.broadcast(bench_set), "gh", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.max("n_grams").cast("long").alias("n_grams"),
            F.sum(F.col("bloom_hit").cast("long")).alias("n_hit_bloom"),
            F.sum(
                F.coalesce(F.col("exact_hit"), F.lit(False)).cast("long")
            ).alias("n_hit_exact"),
            F.sum(
                (
                    F.col("bloom_hit")
                    & ~F.coalesce(F.col("exact_hit"), F.lit(False))
                ).cast("long")
            ).alias("n_false_pos"),
        )
        .filter(F.col("n_hit_bloom") > 0)
    )


# ===========================================================================
# Positional inverted index + phrase search (r6). The retrieval primitive a
# corpus store needs next to ANN: exact phrase lookup. The token posting
# list (doc_id, pos, term) IS the inverted index; a phrase match is an
# equi self-join of the two terms' postings on (doc_id, adjacent pos) —
# a hash join on the index, never a LIKE scan over raw text. At 100 TB
# the posting table is the persisted intermediate (partitioned by term
# bucket); each phrase query touches only its terms' postings.
# ===========================================================================
_PHRASE = ("vector", "window")


@_register(
    "docs_phrase_search",
    f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    posting AS (
      SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
             unnest(toks) AS term
      FROM tok
    )
    SELECT a.doc_id, count(*) AS n_hits,
           CAST(min(a.pos) AS INTEGER) AS first_pos
    FROM posting a JOIN posting b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.term = '{_PHRASE[0]}' AND b.term = '{_PHRASE[1]}'
    GROUP BY a.doc_id
    """,
    f"Exact phrase search ('{_PHRASE[0]} {_PHRASE[1]}') via a positional "
    "inverted index: posexplode builds (doc_id, pos, term) postings, the "
    "phrase is an equi join of the first term's postings with the second "
    "term's shifted by one position, grouped to per-doc hit counts. Both "
    "posting branches push their term filter into the scan side, so the "
    "join sides are each O(df(term)), not O(corpus); the join is a hash "
    "join on (doc_id, pos) — the plan-gate-enforced alternative to a "
    "BNLJ LIKE '%phrase%' scan. first_pos is the 0-based token offset of "
    "the earliest occurrence",
    reference="[NORTH-STAR] corpus retrieval tier; token idiom as "
    "explode_tokens_with_pos",
    tags=("text", "search", "northstar"),
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    # One tokenize pass: keep only the phrase's terms' postings, then
    # split — without the barrier each branch re-tokenizes the corpus.
    posting = (
        docs.select(
            "doc_id",
            F.posexplode(TX.tokens(F.col("text"))).alias("pos", "term"),
        )
        .filter(F.col("term").isin(*_PHRASE))
        .localCheckpoint(eager=False)
    )
    a = posting.filter(F.col("term") == _PHRASE[0]).select("doc_id", "pos")
    b = posting.filter(F.col("term") == _PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("pos").cast("int").alias("first_pos"),
        )
    )


# ===========================================================================
# CCNet-style boilerplate strip (r6): a line that repeats across >= 2
# DISTINCT documents of the SAME source is boilerplate (nav bars, footers,
# cookie banners in a real crawl); every doc is returned with its kept-line
# stats and an md5 signature of the cleaned text, so the strip itself is
# verified content-for-content, not just counted. Differs from
# docs_line_dedup_stats (global first-occurrence ranking): the predicate
# here is per-source document frequency, and the output is the CLEANED doc.
# ===========================================================================
@_register(
    "docs_strip_boilerplate",
    f"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, source, text
      FROM documents WHERE doc_id % 3 = 0
    ),
    tok AS (SELECT doc_id, source, {_SQL_TOKS} AS toks FROM corpus),
    chunked AS (
      SELECT doc_id, source,
             list_transform(range(0, (len(toks) + {_LINE_TOKS - 1}) // {_LINE_TOKS}),
                            i -> array_to_string(toks[(i*{_LINE_TOKS}+1):(i*{_LINE_TOKS}+{_LINE_TOKS})], ' ')) AS lines
      FROM tok
    ),
    lines AS (
      SELECT doc_id, source, generate_subscripts(lines, 1) - 1 AS pos,
             unnest(lines) AS line
      FROM chunked
    ),
    boiler AS (
      SELECT source, md5(line) AS line_hash FROM lines
      GROUP BY source, md5(line)
      HAVING count(DISTINCT doc_id) >= 2
    ),
    flagged AS (
      SELECT l.doc_id, l.pos, l.line,
             b.line_hash IS NOT NULL AS is_boiler
      FROM lines l LEFT JOIN boiler b
        ON l.source = b.source AND md5(l.line) = b.line_hash
    )
    SELECT doc_id, count(*) AS n_lines,
           count(*) FILTER (WHERE NOT is_boiler) AS n_kept,
           md5(coalesce(string_agg(line, ' ' ORDER BY pos)
                          FILTER (WHERE NOT is_boiler), '')) AS kept_sig
    FROM flagged GROUP BY doc_id
    """,
    "Per-source boilerplate removal (CCNet-shaped): fixed-token 'lines' "
    "whose hash appears in >= 2 distinct docs of the same source are "
    "dropped; each doc reports total/kept line counts plus an md5 of the "
    "kept lines rejoined in original position order — the cleaned "
    "content is hash-verified end-to-end. Corpus gains the dedup-suite "
    "exact-copy tail so the boilerplate signal is real. Scale shape: one "
    "explode, one (source, line_hash) map-combined aggregate for the "
    "frequency table, one keyed left join back (no broadcast assumption "
    "on the boilerplate set), one keyed re-agg — shuffle is O(lines), "
    "the same plan CCNet runs per-shard on a crawl",
    reference="[NORTH-STAR] CCNet/C4 boilerplate filtering; corpus "
    "convention as docs_line_dedup_stats",
    tags=("dedup", "text", "northstar"),
)
def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text"
    )
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "source", "text"
        )
    )
    # size(toks) > 0: a zero-token doc would hit Spark's descending
    # sequence(0, -1) = [0, -1] and emit two phantom empty lines where
    # the oracle's range(0, 0) emits none.
    tok = corpus.select(
        "doc_id", "source", TX.tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") > 0)
    chunked = tok.select(
        "doc_id",
        "source",
        F.expr(
            f"transform(sequence(0, ((size(toks) + {_LINE_TOKS - 1}) div {_LINE_TOKS}) - 1), "
            f"i -> array_join(slice(toks, i*{_LINE_TOKS}+1, {_LINE_TOKS}), ' '))"
        ).alias("lines"),
    )
    # Materialization barrier: `lines` feeds BOTH the frequency table and
    # the join-back side — without it each consumer re-tokenizes and
    # re-explodes the corpus (the CollapseProject gate pins this).
    lines = (
        chunked.select(
            "doc_id", "source", F.posexplode("lines").alias("pos", "line")
        )
        .withColumn("line_hash", F.md5("line"))
        .localCheckpoint(eager=False)
    )
    boiler = (
        lines.groupBy("source", "line_hash")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("source", "line_hash", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(boiler, ["source", "line_hash"], "left")
    kept = F.when(F.col("is_boiler").isNull(), F.struct("pos", "line"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(kept).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda x: x["line"]
                ),
                " ",
            )
        ).alias("kept_sig"),
    )


# ===========================================================================
# Gopher-style quality rules (r6): the published rule battery (Rae et al.,
# public) as named per-rule flags — word count bounds, mean word length
# band, alphabetic-token fraction, stopword presence — so downstream mixes
# can filter on individual rules, not just a scalar score (which
# docs_quality_filter / docs_quality_classifier_score already cover).
# ===========================================================================
_GQ_STOP = ("the", "a", "of", "and", "to", "in", "is", "it")


@_register(
    "docs_gopher_quality",
    f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
               / len(toks) AS mean_word_len,
             CAST(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
                  AS DOUBLE) / len(toks) AS alpha_frac,
             len(list_filter(toks,
                 t -> list_contains({list(_GQ_STOP)}, t))) AS n_stop_hits
      FROM tok WHERE len(toks) > 0
    )
    SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, mean_word_len,
           alpha_frac, CAST(n_stop_hits AS INTEGER) AS n_stop_hits,
           n_tokens BETWEEN 50 AND 100000 AS ok_n_tokens,
           mean_word_len BETWEEN 3 AND 10 AS ok_mean_word_len,
           alpha_frac >= 0.8 AS ok_alpha,
           n_stop_hits >= 2 AS ok_stopwords,
           (n_tokens BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3 AND 10)
             AND alpha_frac >= 0.8 AND n_stop_hits >= 2 AS passes
    FROM m
    """,
    "Gopher rule battery as named flags: token-count bounds [50, 1e5], "
    "mean word length in [3, 10], alphabetic-token fraction >= 0.8, and "
    ">= 2 English stopword hits, plus the conjunction. Pure codegen'd "
    "array expressions over one tokenize — zero shuffles, zero UDFs; "
    "ratios are single IEEE divisions of integer-exact numerators so "
    "both engines emit identical bits. Complements the scalar "
    "quality-score tier: mixes can now condition on WHICH rule failed",
    reference="[NORTH-STAR] Gopher (Rae et al. 2021) quality heuristics, "
    "public; scalar tier at docs_quality_filter",
    tags=("text", "quality", "northstar"),
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    toks = TX.tokens(F.col("text"))
    # Token barrier (family convention): without it predicate pushdown +
    # CollapseProject inline the tokenizer into BOTH the size() filter
    # and the stats projection — two regex-split passes per row.
    m = (
        docs.select(
            "doc_id",
            toks.alias("toks"),
        )
        .localCheckpoint(eager=False)
        .filter(F.size("toks") > 0)
    )
    stop_arr = F.array(*[F.lit(w) for w in _GQ_STOP])
    m = m.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (
            F.aggregate(
                F.transform("toks", lambda t: F.length(t)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.size("toks")
        ).alias("mean_word_len"),
        (
            F.size(
                F.filter("toks", lambda t: t.rlike("^[a-z]+$"))
            ).cast("double")
            / F.size("toks")
        ).alias("alpha_frac"),
        F.size(
            F.filter("toks", lambda t: F.array_contains(stop_arr, t))
        ).alias("n_stop_hits"),
    )
    ok_n = F.col("n_tokens").between(50, 100000)
    ok_mwl = F.col("mean_word_len").between(3, 10)
    ok_alpha = F.col("alpha_frac") >= 0.8
    ok_stop = F.col("n_stop_hits") >= 2
    return m.select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        "alpha_frac",
        "n_stop_hits",
        ok_n.alias("ok_n_tokens"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stopwords"),
        (ok_n & ok_mwl & ok_alpha & ok_stop).alias("passes"),
    )


# ===========================================================================
# Triangle counting on the near-dup graph (r6): graph analytics beyond
# connected components. Per-doc triangle counts are the numerator of the
# local clustering coefficient — high-triangle docs sit in densely
# mutually-similar groups (template families), a stronger signal than
# pairwise similarity alone. Engine uses the degree-ordered orientation
# (Suri & Vassilvitskii MapReduce triangle counting, public): every edge
# points from the lower-(degree, id) endpoint to the higher, so each
# wedge is generated at its LOWEST-degree vertex — the hub node of a
# skewed graph never fans out its O(deg^2) wedges.
# ===========================================================================
def _triangles_oracle() -> str:
    return f"""
    WITH pairs AS ({_near_dup_oracle()}),
    e AS (SELECT a_id AS u, b_id AS v FROM pairs),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT doc_id, count(*) AS n_triangles
    FROM (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ) t
    GROUP BY doc_id
    """


@_register(
    "docs_near_dup_triangles",
    _triangles_oracle(),
    "Per-doc triangle counts over the MinHash-LSH verified near-dup "
    "graph: wedges are generated from each edge's lower-(degree, id) "
    "endpoint and closed by probing the oriented edge set — each "
    "triangle is enumerated exactly once, and the degree ordering caps "
    "wedge fan-out at the hub nodes, the property that keeps the plan "
    "alive on power-law graphs at 100 TB (id-ordered wedges would "
    "square the hub degree). Three shuffles total: degree count over "
    "O(edges), wedge self-join keyed on the pivot vertex, closing probe "
    "keyed on the (v, w) pair. Oracle enumerates a < b < c triples "
    "exactly — orientation schemes differ, the triangle SET is "
    "identical",
    reference="[NORTH-STAR] Suri & Vassilvitskii WWW'11 degree-ordered "
    "triangle counting; pair graph as docs_near_dup_pairs",
    tags=("dedup", "graph", "northstar"),
)
def q_near_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q_near_dup_pairs(spark, sf_dir).select("a_id", "b_id")
    return triangle_counts_from(pairs)


def triangle_counts_from(pairs: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over an (a_id, b_id) undirected edge
    frame (each edge once, a_id != b_id). Degree-ordered wedge generation;
    property-tested against brute force in tests/test_graph.py."""
    # Degrees over the undirected edge set (one map-combined aggregate).
    deg = (
        pairs.select(F.col("a_id").alias("id"))
        .unionByName(pairs.select(F.col("b_id").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        pairs.join(deg.withColumnsRenamed({"id": "a_id", "deg": "da"}), "a_id")
        .join(deg.withColumnsRenamed({"id": "b_id", "deg": "db"}), "b_id")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a_id") < F.col("b_id"))
    )
    oriented = e.select(
        F.when(lower_first, F.col("a_id")).otherwise(F.col("b_id")).alias("src"),
        F.when(lower_first, F.col("b_id")).otherwise(F.col("a_id")).alias("dst"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
    ).localCheckpoint(eager=False)
    # Wedges at the pivot (lowest-rank) vertex; enforce rank(v) < rank(w)
    # so each unordered wedge appears once.
    w1 = oriented.select(
        F.col("src").alias("pivot"),
        F.col("dst").alias("v"),
        F.col("dst_deg").alias("v_deg"),
    )
    w2 = oriented.select(
        F.col("src").alias("pivot"),
        F.col("dst").alias("w"),
        F.col("dst_deg").alias("w_deg"),
    )
    wedges = w1.join(w2, "pivot").filter(
        (F.col("v_deg") < F.col("w_deg"))
        | ((F.col("v_deg") == F.col("w_deg")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).select("pivot", "v", "w")
    verts = (
        tri.select(F.col("pivot").alias("doc_id"))
        .unionByName(tri.select(F.col("v").alias("doc_id")))
        .unionByName(tri.select(F.col("w").alias("doc_id")))
    )
    return verts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_triangles"))


# ===========================================================================
# Classifier evaluation tier (r6): rank-sum AUC of the hashed-linear
# quality score, per language. Distributed AUC needs no sort of the full
# corpus into one place: ranks come from a PARTITIONED window (per-lang),
# and the Mann-Whitney U statistic is exact integer arithmetic — the
# pattern that evaluates a filter model on a 100 TB corpus without a
# global sort (per-shard/stratum AUC, aggregated).
# ===========================================================================
_AUC_LABEL_SQL = "length(source) = 4"  # src0..src9 vs src10..src19


@_register(
    "docs_quality_auc_by_lang",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, source, {_SQL_TOKS} AS toks FROM documents
    ),
    feats AS (
      SELECT doc_id, lang, source,
             CAST(len(toks) AS BIGINT) AS n_toks,
             CAST(COALESCE(list_sum(list_transform(toks,
                    t -> {_clf_w_sql('t', 'qw')})), 0) AS BIGINT) AS uni_sum,
             CAST(COALESCE(list_sum(list_transform(
                    CASE WHEN len(toks) >= 2
                         THEN list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i+1])
                         ELSE [] END,
                    b -> {_clf_w_sql('b', 'qw2')})), 0) AS BIGINT) AS bi_sum
      FROM toks
    ),
    scored AS (
      SELECT doc_id, lang, {_AUC_LABEL_SQL} AS label,
             CASE WHEN n_toks > 0
                  THEN CAST(uni_sum + bi_sum AS DOUBLE) / n_toks
                  ELSE 0.0 END AS score
      FROM feats
    ),
    rk AS (
      SELECT lang, label,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score, doc_id) AS rn
      FROM scored
    ),
    agg AS (
      SELECT lang,
             CAST(count(*) FILTER (WHERE label) AS BIGINT) AS n_pos,
             CAST(count(*) FILTER (WHERE NOT label) AS BIGINT) AS n_neg,
             CAST(SUM(CASE WHEN label THEN rn END) AS BIGINT)
               AS pos_rank_sum
      FROM rk GROUP BY lang
    )
    SELECT lang, n_pos, n_neg, pos_rank_sum,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CAST(pos_rank_sum - n_pos * (n_pos + 1) // 2 AS DOUBLE)
               / (n_pos * n_neg)
           END AS auc
    FROM agg
    """,
    "Mann-Whitney rank-sum AUC of the hashed-linear quality score "
    "against a held-out split label (short-named sources vs long), "
    "computed per language: ranks from a lang-PARTITIONED window (never "
    "a global sort — the plan-gate-compliant way to rank a corpus), U "
    "statistic in exact long arithmetic, AUC as one IEEE division. "
    "Ties are broken by doc_id so both engines rank identically. This "
    "is the evaluation loop for filter models: per-stratum AUC at "
    "corpus scale with one shuffle (rank) and one aggregate",
    reference="[NORTH-STAR] filter-model evaluation (Mann-Whitney U, "
    "public); score as docs_quality_classifier_score",
    tags=("text", "quality", "northstar"),
)
def q_quality_auc_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    score_df = q_quality_classifier_score(spark, sf_dir).select(
        "doc_id", "lang", "score"
    )
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    scored = score_df.join(src, "doc_id").select(
        "doc_id",
        "lang",
        (F.length("source") == 4).alias("label"),
        "score",
    )
    w = Window.partitionBy("lang").orderBy("score", "doc_id")
    rk = scored.select(
        "lang", "label", F.row_number().over(w).alias("rn")
    )
    agg = rk.groupBy("lang").agg(
        F.count(F.when(F.col("label"), 1)).alias("n_pos"),
        F.count(F.when(~F.col("label"), 1)).alias("n_neg"),
        F.sum(F.when(F.col("label"), F.col("rn"))).alias("pos_rank_sum"),
    )
    # Exact LONG arithmetic for U (n*(n+1) is even, so DIV 2 is exact):
    # the double-division form loses ulps once n_pos*(n_pos+1) passes
    # 2^53 — exactly the corpus scale this query claims exactness at.
    u = F.col("pos_rank_sum") - F.expr("n_pos * (n_pos + 1) DIV 2")
    return agg.select(
        "lang",
        "n_pos",
        "n_neg",
        "pos_rank_sum",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            u.cast("double") / (F.col("n_pos") * F.col("n_neg")),
        ).alias("auc"),
    )


# ===========================================================================
# Per-source quantile calibration (r6): raw classifier scores are not
# comparable across domains (each crawl source has its own score
# distribution); the standard fix is a within-source quantile transform.
# percent_rank + decile per source — all windows partitioned.
# ===========================================================================
@_register(
    "docs_quality_calibrated",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_SQL_TOKS} AS toks FROM documents
    ),
    feats AS (
      SELECT doc_id, source,
             CAST(len(toks) AS BIGINT) AS n_toks,
             CAST(COALESCE(list_sum(list_transform(toks,
                    t -> {_clf_w_sql('t', 'qw')})), 0) AS BIGINT) AS uni_sum,
             CAST(COALESCE(list_sum(list_transform(
                    CASE WHEN len(toks) >= 2
                         THEN list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i+1])
                         ELSE [] END,
                    b -> {_clf_w_sql('b', 'qw2')})), 0) AS BIGINT) AS bi_sum
      FROM toks
    ),
    scored AS (
      SELECT doc_id, source,
             CASE WHEN n_toks > 0
                  THEN CAST(uni_sum + bi_sum AS DOUBLE) / n_toks
                  ELSE 0.0 END AS score
      FROM feats
    )
    SELECT doc_id, source, score,
           percent_rank() OVER (PARTITION BY source
                                ORDER BY score, doc_id) AS pct_rank,
           CAST(ntile(10) OVER (PARTITION BY source
                                ORDER BY score, doc_id) AS INTEGER)
             AS decile
    FROM scored
    """,
    "Within-source quantile calibration of the classifier score: "
    "percent_rank and decile over a source-PARTITIONED window make "
    "scores comparable across domains with different score "
    "distributions — the normalization step before a single global "
    "keep-threshold is applied to a multi-domain corpus. doc_id "
    "tie-break gives both engines identical rank sequences; "
    "percent_rank is one IEEE division of exact ranks. One shuffle on "
    "source, window state bounded per source partition",
    reference="[NORTH-STAR] per-domain score calibration; score as "
    "docs_quality_classifier_score",
    tags=("text", "quality", "sampling", "northstar"),
)
def q_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "source", TX.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    scored = classifier_features(toks, "doc_id", "source").select(
        "doc_id", "source", "score"
    )
    win = Window.partitionBy("source").orderBy("score", "doc_id")
    return scored.select(
        "doc_id",
        "source",
        "score",
        F.percent_rank().over(win).alias("pct_rank"),
        F.ntile(10).over(win).cast("int").alias("decile"),
    )


# ===========================================================================
# Cross-source contamination matrix (r6): pairwise trigram overlap between
# sources — the corpus-level audit that finds mirror sites, syndicated
# content, and benchmark bleed BETWEEN crawl domains before any per-doc
# dedup runs. The join key is the gram hash (shuffle O(distinct grams)),
# and the per-gram fan-out is bounded by the number of sources carrying
# that gram — the df-cap convention from the winnowing index applies when
# source count is large.
# ===========================================================================
_OVERLAP_N = 3


@_register(
    "sources_gram_overlap_matrix",
    f"""
    WITH tok AS (SELECT source, {_SQL_TOKS} AS toks FROM documents),
    grams AS (SELECT source, {_sql_ngrams('toks', _OVERLAP_N)} AS gs FROM tok),
    gd AS (
      SELECT DISTINCT source, {_sql_md5_long('g')} AS gh
      FROM (SELECT source, unnest(gs) AS g FROM grams)
    ),
    tot AS (SELECT source, count(*) AS n FROM gd GROUP BY source),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS c
      FROM gd a JOIN gd b ON a.gh = b.gh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(c AS BIGINT) AS shared_grams,
           CAST(c AS DOUBLE) / (ta.n + tb.n - c) AS jaccard
    FROM shared
    JOIN tot ta ON ta.source = source_a
    JOIN tot tb ON tb.source = source_b
    """,
    "Pairwise source-level trigram overlap: distinct (source, gram-hash) "
    "postings self-joined on the hash, counted per source pair, with "
    "per-source totals joined back for an exact Jaccard. One tokenize "
    "behind a projection barrier, gram set distinct'd once and reused "
    "for both the totals and the pair join; shuffle is O(distinct "
    "grams) and per-gram pair fan-out is bounded by sources-per-gram. "
    "The matrix is the triage view ABOVE document dedup: a hot "
    "(source_a, source_b) cell says where mirror/syndication dedup "
    "should focus",
    reference="[NORTH-STAR] corpus-level contamination audit; gram "
    "idiom as docs_decontaminate",
    tags=("dedup", "text", "northstar"),
)
def q_sources_gram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # Projection barrier (CollapseProject guard, as the gram family).
    toks = docs.select(
        "source", TX.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    gd = (
        toks.select(
            "source",
            F.explode(TX.shingles(F.col("toks"), _OVERLAP_N)).alias("g"),
        )
        .select("source", TX.md5_long(F.col("g")).alias("gh"))
        .distinct()
        .localCheckpoint(eager=False)  # reused: totals + both join sides
    )
    tot = gd.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = gd.select(F.col("source").alias("source_a"), "gh")
    b = gd.select(F.col("source").alias("source_b"), "gh")
    # The per-source distinct-gram table is vocabulary-sized — NEVER
    # broadcastable (the localCheckpoint hides stats, so Catalyst would
    # statically broadcast one self-join side: broadcast OOM at the 100x
    # corpus, caught by scripts/smoke_100x.py — the same class as the
    # bigram LM join). shuffle_hash: both sides hash on gh, build side has
    # <= #sources rows per gram.
    shared = (
        a.join(b.hint("shuffle_hash"), "gh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    out = (
        shared.join(
            tot.withColumnsRenamed({"source": "source_a", "n": "na"}),
            "source_a",
        )
        .join(
            tot.withColumnsRenamed({"source": "source_b", "n": "nb"}),
            "source_b",
        )
    )
    return out.select(
        "source_a",
        "source_b",
        "shared_grams",
        (
            F.col("shared_grams").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared_grams"))
        ).alias("jaccard"),
    )


# ===========================================================================
# Per-doc curation audit (r6): the provenance inverse of the funnel —
# WHICH stage dropped each document. The counts query answers "how much
# survived"; this answers the data-governance question "why is doc X not
# in the training set", per doc, in one pass over the same materialized
# stage sets.
# ===========================================================================
def _curation_audit_oracle() -> str:
    from .catalog import REGISTRY as _REG

    quality_sql = _REG["docs_quality_filter"].oracle
    keep_best_sql = _REG["docs_dedup_keep_best"].oracle
    decon_sql = _REG["docs_decontaminate"].oracle
    return f"""
    WITH q AS ({quality_sql}),
    kb AS ({keep_best_sql}),
    drop_dup AS (SELECT doc_id FROM kb WHERE NOT keep AND doc_id < 1000000),
    cont AS (SELECT doc_id FROM ({decon_sql}))
    SELECT d.doc_id,
           CASE
             WHEN d.doc_id NOT IN (SELECT doc_id FROM q)
               THEN 'drop_quality'
             WHEN d.doc_id IN (SELECT doc_id FROM drop_dup)
               THEN 'drop_near_dup'
             WHEN d.doc_id IN (SELECT doc_id FROM cont)
               THEN 'drop_contaminated'
             ELSE 'kept'
           END AS verdict
    FROM documents d
    """


@_register(
    "docs_curation_audit",
    _curation_audit_oracle(),
    "Per-document curation provenance: every corpus doc labeled with the "
    "FIRST stage that rejected it (drop_quality -> drop_near_dup -> "
    "drop_contaminated) or 'kept' — the lineage record a data-governance "
    "audit needs next to the funnel's survivor counts. Same one-scan/"
    "one-tokenize materialized stage sets as docs_curation_funnel (the "
    "three stage frames compute once and LEFT-join back as doc_id "
    "booleans); verdict is a CASE over three tiny join flags, so the "
    "audit costs one extra keyed join pass, not a pipeline re-run",
    reference="[NORTH-STAR] curation lineage; stage sets as "
    "docs_curation_funnel",
    tags=("dedup", "text", "northstar", "pipeline"),
)
def q_curation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, quality, drop_dup, cont = _curation_stage_sets(spark, sf_dir)
    flagged = (
        docs.join(
            quality.withColumn("q_ok", F.lit(True)), "doc_id", "left"
        )
        .join(drop_dup.withColumn("is_dup", F.lit(True)), "doc_id", "left")
        .join(cont.withColumn("is_cont", F.lit(True)), "doc_id", "left")
    )
    return flagged.select(
        "doc_id",
        F.when(F.col("q_ok").isNull(), F.lit("drop_quality"))
        .when(F.col("is_dup").isNotNull(), F.lit("drop_near_dup"))
        .when(F.col("is_cont").isNotNull(), F.lit("drop_contaminated"))
        .otherwise(F.lit("kept"))
        .alias("verdict"),
    )


# ===========================================================================
# Shard plan (r6): the training-shard layout contract as an oracle-paired
# query — per-shard membership counts and XOR key fingerprints for the
# hash-stable assignment operators/shards.py writes. Putting the plan
# under the driver gate means the shard CONTRACT (md5-derived assignment,
# mergeable fingerprint) is verified cross-engine, not just exercised.
# ===========================================================================
_N_SHARDS = 8


@_register(
    "docs_shard_plan",
    f"""
    WITH assigned AS (
      SELECT doc_id,
             CAST(({_sql_md5_long("CAST(doc_id AS VARCHAR)")}) % {_N_SHARDS}
                  AS INTEGER) AS shard
      FROM documents
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc,
           bit_xor({_sql_md5_long("CAST(doc_id AS VARCHAR)")})
             AS key_fingerprint
    FROM assigned GROUP BY shard
    """,
    f"The {_N_SHARDS}-way training-shard plan for the corpus: stable "
    "md5-derived assignment (shard layout is a cross-engine contract — "
    "xxhash64/hash would pin it to one engine's implementation), with "
    "per-shard counts and mergeable bit_xor key fingerprints — exactly "
    "what operators/shards.write_sharded records in its _MANIFEST and "
    "validate_manifest re-derives. One map-combined aggregate; the "
    "write path adds only the partitionBy",
    reference="[NORTH-STAR] training-data export; writer at "
    "operators/shards.py, fingerprint idiom as orders_partition_fingerprint",
    tags=("sampling", "northstar", "pipeline"),
)
def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.shards import assign_shard

    docs = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id")
    assigned = docs.select(
        "doc_id", assign_shard(F.col("doc_id"), _N_SHARDS).alias("shard")
    )
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.bit_xor(
            TX.md5_long(F.col("doc_id").cast("string"))
        ).alias("key_fingerprint"),
    )


# ===========================================================================
# IVF x PQ (r8, r7 verdict #2): the production ANN composition the ladder
# (exact -> LSH -> IVF -> trained-IVF -> PQ -> trained-PQ) builds toward.
# The trained coarse quantizer routes the query to its nprobe nearest
# cells; trained per-subquantizer PQ codebooks ADC-score ONLY the vectors
# in those cells (IVFADC, Jegou'11 section III) — candidate scoring cost
# drops from O(n) to ~O(n * nprobe / K) while both codebooks stay
# broadcast-sized. Every stage reuses the measured components verbatim
# (coarse codebook == embedding_kmeans_2iter's, PQ codebooks ==
# embedding_pq_adc_recall_trained's), so the recall ladder extends one
# rung with nothing re-derived; tests/test_ivfpq.py banks recall@10 vs
# the exact scan and vs flat trained-PQ at the same codebooks.
# ===========================================================================
def _ivfpq_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    c1 AS (SELECT vec_id AS cid, x AS cv FROM e WHERE vec_id BETWEEN 0 AND {_KM_K - 1}),
    a1 AS ({_km_sql_assign("e", "c1")}),
    comp AS (
      SELECT a1.cid, generate_subscripts(e.x, 1) AS pos, unnest(e.x) AS v
      FROM e JOIN a1 USING (vec_id)
    ),
    sums AS (
      SELECT cid, pos, SUM(CAST(round(v * {_KM_SCALE}) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM comp GROUP BY cid, pos
    ),
    c2 AS (
      SELECT cid, list(CAST(s AS DOUBLE) / n / {_KM_SCALE} ORDER BY pos) AS cv
      FROM sums GROUP BY cid
    ),
    cells AS ({_km_sql_assign("e", "c2")}),
    qx AS (SELECT x AS qx FROM e WHERE vec_id = 0),
    qc AS (
      SELECT cid AS cell FROM (
        SELECT c2.cid,
               row_number() OVER (ORDER BY
                 (list_dot_product(qx.qx, qx.qx) - 2*list_dot_product(qx.qx, c2.cv)
                  + list_dot_product(c2.cv, c2.cv)), c2.cid) AS rn
        FROM c2 CROSS JOIN qx) WHERE rn <= {_KM_NPROBE}
    ),
    subs AS ({_pq_sql_subs_rows()}),
    pc1 AS (SELECT m, vec_id AS c, xs AS cs FROM subs WHERE vec_id < {_PQ_K}),
    pa1 AS ({_pq_sql_sub_assign("pc1")}),
    pc2 AS ({_pq_sql_upd("pa1")}),
    pa2 AS ({_pq_sql_sub_assign("pc2")}),
    pcents AS ({_pq_sql_upd("pa2")}),
    qs AS (SELECT m, xs AS qsub FROM subs WHERE vec_id = 0),
    centd AS (
      SELECT c.m, c.c, c.cs,
             CAST(round((list_dot_product(q.qsub, q.qsub)
                         - 2*list_dot_product(q.qsub, c.cs)
                         + list_dot_product(c.cs, c.cs)) * {_PQ_SCALE})
                  AS BIGINT) AS qd_fp
      FROM pcents c JOIN qs q ON q.m = c.m
    ),
    cand AS (
      SELECT vec_id, cid AS cell FROM cells
      WHERE cid IN (SELECT cell FROM qc)
    ),
    assign AS (
      SELECT vec_id, m, qd_fp FROM (
        SELECT s.vec_id, s.m, cd.qd_fp,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 (list_dot_product(s.xs, s.xs) - 2*list_dot_product(s.xs, cd.cs)
                  + list_dot_product(cd.cs, cd.cs)), cd.c) AS rn
        FROM subs s
        JOIN cand ON cand.vec_id = s.vec_id
        JOIN centd cd ON cd.m = s.m) WHERE rn = 1
    ),
    adc AS (
      SELECT vec_id, CAST(SUM(qd_fp) AS BIGINT) AS adc_fp
      FROM assign GROUP BY vec_id
    )
    SELECT a.vec_id, cand.cell, a.adc_fp
    FROM adc a JOIN cand USING (vec_id)
    ORDER BY a.adc_fp, a.vec_id LIMIT 10
    """


@_register(
    "embedding_ivfpq_topk",
    _ivfpq_oracle(),
    f"IVF-PQ top-k (IVFADC): the production ANN operator composed from "
    f"the measured ladder parts — the trained coarse quantizer "
    f"(embedding_kmeans_2iter's exact one-update codebook, K={_KM_K}) "
    f"routes the query to its {_KM_NPROBE} nearest cells, and trained "
    f"per-subquantizer PQ codebooks ({_PQ_M}x{_PQ_K} codes, "
    "embedding_pq_adc_recall_trained's exact training) ADC-score only "
    "the vectors assigned to those cells. Fixed-point (1e-6) subspace "
    "distances keep the ADC sum exact long arithmetic, so the top-10 "
    "set (tie-break adc_fp, vec_id) is bit-identical cross-engine. "
    "Scale shape: both codebooks and the query distance table broadcast "
    "(K + M*K rows); cell assignment is one map-side-combined aggregate; "
    "the probe semi-join prunes candidates to ~nprobe/K of the corpus "
    "BEFORE any encode/ADC work (at warehouse scale the cell id is a "
    "partition column, turning the prune into partition pruning); "
    "encode+score is one scan of the pruned set, never touching raw "
    "vectors at query time in a deployed index; top-k is "
    "TakeOrderedAndProject. Recall@10 vs the exact scan and vs flat "
    "trained-PQ at the same codebooks is banked in tests/test_ivfpq.py",
    reference="[NORTH-STAR] IVFADC (Jegou'11 'Product Quantization for "
    "Nearest Neighbor Search' section III); composes "
    "embedding_kmeans_2iter's coarse codebook with "
    "embedding_pq_adc_recall_trained's codebooks",
    tags=("similarity", "northstar", "iterative"),
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _km_load(spark, sf_dir)
    coarse = _km_trained_centroids(e).localCheckpoint(eager=False)
    cells = _km_assign(e, coarse)
    qx = e.filter(F.col("vec_id") == 0).select(F.col("x").alias("qx"))
    dq = (
        V.dot(F.col("qx"), F.col("qx"))
        - 2 * V.dot(F.col("qx"), F.col("cv"))
        + V.dot(F.col("cv"), F.col("cv"))
    )
    qc = (
        coarse.join(F.broadcast(qx))
        .select("cid", dq.alias("d"))
        .orderBy("d", "cid")
        .limit(_KM_NPROBE)
        .select(F.col("cid").alias("cell"))
    )
    cand = (
        cells.select("vec_id", F.col("cid").alias("cell"))
        .join(F.broadcast(qc), "cell", "semi")
        .localCheckpoint(eager=False)  # reused: subs restriction + cell join
    )
    subs = _pq_subs(e)
    cents = _pq_trained_cents(subs)
    centd = _pq_centd(subs, cents)
    cand_subs = subs.join(cand.select("vec_id"), "vec_id")
    adc = _pq_adc_scores(cand_subs, centd)
    top10 = adc.orderBy("adc_fp", "vec_id").limit(10)
    return F.broadcast(top10).join(cand, "vec_id").select(
        "vec_id", "cell", "adc_fp"
    )


# ===========================================================================
# Incremental index maintenance (r10): assign a NEW vector batch to the
# cells of a codebook trained on HISTORY ONLY — no retraining — and
# near-dup the batch against in-cell history. This is the write path of
# the persisted IVF index (operators/ann_index.py): history's assignment
# stands in for the persisted cell layout; the batch pays K broadcast
# dots per vector plus one within-cell candidate join, never a corpus
# re-shuffle or a training pass.
# ===========================================================================
def _km_sql_assign_q(src_e: str, src_c: str) -> str:
    """Quantized variant of _km_sql_assign (round(d2 * 1e6) BIGINT, cid
    tie-break): the engine side routes with BLAS, whose summation order
    differs from the oracle's sequential fold, so the argmin must compare
    fixed-point integers — the semdedup-2level routing convention."""
    return f"""
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             CAST(round((list_dot_product(e.x, e.x) - 2*list_dot_product(e.x, c.cv)
              + list_dot_product(c.cv, c.cv)) * {_SEM_ROUTE_SCALE}.0) AS BIGINT), c.cid) AS rn
    FROM {src_e} e CROSS JOIN {src_c} c) WHERE rn = 1
"""


def _inc_index_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    hist AS MATERIALIZED (SELECT vec_id, x FROM e WHERE vec_id % 10 <> 9),
    batch AS MATERIALIZED (
      SELECT vec_id, x FROM e WHERE vec_id % 10 = 9
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(x, v -> v * 1.01) AS x
      FROM e WHERE vec_id % 10 = 0
    ),
    kv AS (
      -- K = max({_KM_K}, ceil(|hist|^(2/3))) computed EXACTLY in integers
      -- (smallest k with k^3 >= n^2 — the semdedup equilibrium ladder):
      -- a pinned K collapses at scale, and since r10's routing is BLAS
      -- (O(n*K) dgemm, nearly free to grow) while the within-cell dup
      -- join is interpreted O(b*n/K), the right K is the largest the
      -- codebook bound allows — n^(2/3) keeps candidates O(b*n^(1/3))
      -- and the codebook collect at K*dim doubles.
      SELECT greatest({_KM_K},
               CASE WHEN (k0-1)*(k0-1)*(k0-1) >= nn THEN k0-1
                    WHEN k0*k0*k0 >= nn THEN k0
                    WHEN (k0+1)*(k0+1)*(k0+1) >= nn THEN k0+1
                    ELSE k0+2 END) AS k
      FROM (SELECT CAST(pow(CAST(nn AS DOUBLE), 1.0/3.0) AS BIGINT) AS k0, nn
            FROM (SELECT CAST(count(*) AS BIGINT)*CAST(count(*) AS BIGINT) AS nn
                  FROM hist))
    ),
    c1 AS (SELECT vec_id AS cid, x AS cv FROM hist CROSS JOIN kv
           WHERE vec_id < kv.k),
    a1 AS ({_km_sql_assign_q("hist", "c1")}),
    comp AS (
      SELECT a1.cid, generate_subscripts(h.x, 1) AS pos, unnest(h.x) AS v
      FROM hist h JOIN a1 USING (vec_id)
    ),
    sums AS (
      SELECT cid, pos, SUM(CAST(round(v * {_KM_SCALE}) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM comp GROUP BY cid, pos
    ),
    c2 AS MATERIALIZED (
      SELECT cid, list(CAST(s AS DOUBLE) / n / {_KM_SCALE} ORDER BY pos) AS cv
      FROM sums GROUP BY cid
    ),
    hcells AS ({_km_sql_assign_q("hist", "c2")}),
    bcells AS MATERIALIZED ({_km_sql_assign_q("batch", "c2")}),
    hn AS (
      SELECT vec_id, list_transform(x, v -> v / n) AS vn
      FROM (SELECT *, sqrt(list_dot_product(x, x)) AS n FROM hist)
    ),
    bn AS (
      SELECT vec_id, list_transform(x, v -> v / n) AS vn
      FROM (SELECT *, sqrt(list_dot_product(x, x)) AS n FROM batch)
    ),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM bcells b
      JOIN hcells h ON b.cid = h.cid
      JOIN bn ON bn.vec_id = b.vec_id
      JOIN hn ON hn.vec_id = h.vec_id
      WHERE round(list_dot_product(bn.vn, hn.vn), 6) >= {_SEM_TAU}
    )
    SELECT b.vec_id, b.cid,
           (b.vec_id IN (SELECT vec_id FROM dups)) AS is_dup
    FROM bcells b
    """


def _incr_assign_two_pass(
    vectors: DataFrame, codebook: DataFrame, carry: str
) -> DataFrame:
    """Over-budget escape for the incremental index's codebook collects
    (r11 verdict #6): assignment against a codebook DATAFRAME with no
    K-row driver collect. Only the C = ceil(sqrt(K)) smallest-id
    centroids are broadcast as super-centroids (C <= ~1000 even at
    n = 1e9); every vector AND every centroid routes to its nearest
    super, then both sides shuffle by super id and the fine argmin runs
    within the slice — the hierarchical form semdedup-2level and the
    faiss coarse quantizer use, with the same quantized tie-breaks as
    the BLAS kernel (_sem_d2q; min_by (d, id) == first argmin over an
    id-sorted codebook). DOCUMENTED DIVERGENCE from the under-budget
    flat route: a vector whose flat-nearest centroid lies outside its
    routed super-cell gets its in-super nearest instead — the standard
    IVF coarse-routing approximation. Above the budget (K*dim*8 >
    _SEM_CODEBOOK_MAX_BYTES, ~3.3e8 rows at dim 64) a flat n*K route is
    ~n^(5/3) dots and infeasible regardless of where the codebook
    lives, so hierarchical IS the production regime there; the oracle
    pins the flat semantics at verification scale, where the escape
    never triggers. ``vectors`` carries (vec_id, x [, carry]); routing
    is always on x, ``carry`` rides through untouched."""
    k = codebook.count()
    c = math.isqrt(k)
    c += 1 if c * c < k else 0
    supers = F.broadcast(
        codebook.orderBy("cid")
        .limit(c)
        .select(F.col("cid").alias("sid"), F.col("cv").alias("sv"))
    )

    def _coarse(df, id_col, vec_col, extra):
        d = _sem_d2q(F.col(vec_col), F.col("sv"))
        aggs = [
            F.min_by(
                "sid", F.struct(d.alias("d"), F.col("sid").alias("t"))
            ).alias("sid"),
            F.any_value(vec_col).alias(vec_col),
            *[F.any_value(e).alias(e) for e in extra],
        ]
        return df.join(supers).groupBy(id_col).agg(*aggs)

    cb_r = _coarse(codebook, "cid", "cv", [])
    vec_r = _coarse(
        vectors, "vec_id", "x", [] if carry == "x" else [carry]
    )
    d_fine = _sem_d2q(F.col("x"), F.col("cv"))
    # shuffle_hash, not broadcast: the codebook side is an unbounded
    # corpus-derived aggregate (the statically-misplanned broadcast
    # class the 100x tier caught twice, r8).
    return (
        vec_r.join(cb_r.hint("shuffle_hash"), "sid")
        .groupBy("vec_id")
        .agg(
            F.min_by(
                "cid", F.struct(d_fine.alias("d"), F.col("cid").alias("t"))
            ).alias("cid"),
            F.any_value(carry).alias(carry),
        )
        .select("vec_id", "cid", carry)
    )


@_register(
    "embedding_incremental_index",
    _inc_index_oracle(),
    "Incremental ANN-index maintenance: a new vector batch (the held-out "
    "tenth of the corpus plus planted scaled copies, which keep cosine "
    "exactly 1.0) is assigned to the cells of a k-means codebook trained "
    "on HISTORY ONLY — one exact assign/update pass "
    "(embedding_kmeans_2iter's arithmetic) with a DATA-DERIVED "
    "K = max(8, ceil(|history|^(2/3))) computed by the same exact-integer "
    "k^3 >= n^2 ladder as the semdedup K rule, never re-run on the batch — "
    "then near-dup'd against in-cell history vectors (round-6 cosine >= "
    "0.99, the SemDeDup threshold). This is the arrival path of a "
    "production vector index: history's assignment stands in for the "
    "persisted cell-partitioned layout (operators/ann_index.py is the "
    "build side with add_to_ivfpq_index as this query's persisted twin; "
    "tests/test_ivfpq_index.py pins layout, probe, and add), and the "
    "batch pays K broadcast dots per vector + one within-cell "
    "batch-x-history join — no corpus re-shuffle, no retraining. "
    "Normalized vectors are carried THROUGH the argmin aggregate (min_by "
    "struct), so each side is assigned in one pass; the in-cell join "
    "explicitly hints shuffle_hash on the history side — a corpus-derived "
    "aggregate must never be statically broadcast (the r8 100x lesson). "
    "Scale shape: routing is Arrow/BLAS mapInPandas against the "
    "broadcast codebook (quantized fixed-point argmin, so a BLAS-vs-fold "
    "ulp can never flip a route — the oracle quantizes identically), so "
    "growing K is nearly free, and K = n^(2/3) keeps the interpreted "
    "within-cell candidate term at O(batch x n^(1/3)) — the r10 first "
    "cut (pinned K=8, interpreted keyless-broadcast routing) measured "
    "592 s at 100x vs 33 s final (1x/10x/100x = 3.0/4.6/33.3 s, fit3 "
    "exponent 0.52; what remains is the exact one-update k-means "
    "training, which exists in-query for oracle verifiability — "
    "production probes the PERSISTED codebooks via ann_index and pays "
    "none of it); past _SEM_CODEBOOK_MAX_BYTES (~3.3e8 rows at dim 64) "
    "both K-row codebook collects switch IN CODE to the collect-free "
    "hierarchical two-pass form, the same escape semdedup-2level ships",
    reference="[NORTH-STAR] incremental IVF maintenance (faiss add-"
    "after-train); composes embedding_kmeans_2iter training + SemDeDup "
    "in-cell dedup; build-side twin of operators/ann_index.py",
    tags=("similarity", "dedup", "northstar", "iterative"),
)
def q_embedding_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _km_load(spark, sf_dir)
    hist = e.filter(F.col("vec_id") % 10 != 9)
    batch = e.filter(F.col("vec_id") % 10 == 9).unionByName(
        e.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform(F.col("x"), lambda v: v * 1.01).alias("x"),
        )
    )
    # K = max(_KM_K, ceil(n^(2/3))) — data-derived, exact-integer (the
    # integer ladder below mirrors the oracle's CASE ladder): a pinned K
    # would put n/K vectors per cell and the batch-vs-history candidate
    # term would grow O(b*n); n^(2/3)-K is the BLAS-era equilibrium the
    # semdedup family re-derived when routing moved to Arrow kernels
    # (r10 — the sqrt-K balance shifts once assignment is ~100x cheaper
    # per n*K term than the candidate join). The count also materializes
    # the lazy corpus checkpoint for every later job.
    n_hist = hist.count()
    if n_hist == 0:
        # No history -> no centroids -> the oracle's bcells is empty, so
        # the result is empty (and the codebook collect below would build
        # a shape-(0,) matrix — the semdedup r9 lesson).
        return batch.select(
            "vec_id",
            F.lit(0).cast("long").alias("cid"),
            F.lit(False).alias("is_dup"),
        ).limit(0)
    # Smallest k with k^3 >= n^2 (exact integers, mirrors the oracle's
    # CASE ladder — the same K = ceil(n^(2/3)) equilibrium semdedup uses).
    nn = n_hist * n_hist
    k0 = int(round(nn ** (1.0 / 3.0))) + 2
    while (k0 - 1) ** 3 >= nn:
        k0 -= 1
    k = max(_KM_K, k0)

    def _codebook(rows):
        rows = sorted(rows, key=lambda r: r[0])
        return (
            np.array([r[0] for r in rows], dtype=np.int64),
            np.array([list(r[1]) for r in rows], dtype=np.float64),
        )

    def _route(bc, carry: str):
        """Arrow/BLAS nearest-centroid routing (the semdedup-2level
        kernel shape): quantized fixed-point argmin with cid tie via
        first-argmin over the id-sorted codebook, so a BLAS-vs-fold ulp
        can never flip a route; the ``carry`` column rides through
        untouched (its values stay exact-fold Spark arithmetic)."""

        def fn(batches):
            import numpy as np  # noqa: PLC0415 — worker-side import
            import pandas as pd  # noqa: PLC0415

            cid_a, cmat = bc.value
            cc = np.einsum("ij,ij->i", cmat, cmat)
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["x"].to_numpy()).astype(np.float64)
                xx = np.einsum("ij,ij->i", x, x)
                d2 = xx[:, None] - 2.0 * (x @ cmat.T) + cc[None, :]
                q = np.floor(d2 * _SEM_ROUTE_SCALE + 0.5).astype(np.int64)
                out = {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": cid_a[np.argmin(q, axis=1)],
                    carry: pdf[carry],
                }
                yield pd.DataFrame(out)

        return fn

    # Training pass: route history against the K-row init codebook, then
    # the exact scaled-long centroid update engine-side. The codebook
    # collect is K = ceil(n^(2/3)) rows of dim doubles — ~3.4 MB at the
    # 100x corpus but ~512 MB at n = 1e9 (r11 verdict #6: the old
    # comment claimed sqrt-K/16 MB and hid a real driver-memory risk) —
    # so past _SEM_CODEBOOK_MAX_BYTES BOTH collects below switch IN CODE
    # to the collect-free hierarchical form (_incr_assign_two_pass). The
    # r10 first cut executed these n*K dots as keyless-broadcast
    # interpreted zip_with folds — measured 592 s at the 100x corpus, a
    # whisker under the watchdog; the BLAS form is the same fix
    # semdedup-2level shipped in r9.
    dim = len(hist.select("x").head().x)
    over_budget = k * dim * 8 > _SEM_CODEBOOK_MAX_BYTES
    if over_budget:
        a1x = _incr_assign_two_pass(
            hist,
            hist.filter(F.col("vec_id") < k).select(
                F.col("vec_id").alias("cid"), F.col("x").alias("cv")
            ),
            "x",
        )
    else:
        bc1 = spark.sparkContext.broadcast(
            _codebook(
                [
                    (r.vec_id, r.x)
                    for r in hist.filter(F.col("vec_id") < k).collect()
                ]
            )
        )
        a1x = hist.mapInPandas(
            _route(bc1, "x"), schema="vec_id long, cid long, x array<double>"
        )
    comp = a1x.select("cid", F.posexplode("x").alias("pos0", "v")).select(
        "cid", (F.col("pos0") + 1).alias("pos"), "v"
    )
    sums = comp.groupBy("cid", "pos").agg(
        F.sum(F.round(F.col("v") * _KM_SCALE).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    cents = (
        sums.select(
            "cid",
            F.struct(
                "pos",
                (F.col("s").cast("double") / F.col("n") / _KM_SCALE).alias(
                    "m"
                ),
            ).alias("pm"),
        )
        .groupBy("cid")
        .agg(
            F.transform(F.array_sort(F.collect_list("pm")), lambda s: s.m)
            .alias("cv")
        )
    )
    def _normed(df: DataFrame) -> DataFrame:
        # Normalized vector rides through the route untouched; vn itself
        # is exact-fold Spark arithmetic (the round-6 dup compare depends
        # on its exact values), only the ROUTING is quantized.
        return df.withColumn("n", V.norm(F.col("x"))).select(
            "vec_id",
            "x",
            F.transform(F.col("x"), lambda v: v / F.col("n")).alias("vn"),
        )

    if over_budget:
        # Same K*dim*8 bound as bc1: the trained codebook has one row per
        # surviving init centroid — route against it hierarchically
        # instead of collecting it (r11 verdict #6).
        cents = cents.localCheckpoint(eager=False)  # reused by b and h

        def _assign_carry(df: DataFrame) -> DataFrame:
            return _incr_assign_two_pass(_normed(df), cents, "vn")

    else:
        bc2 = spark.sparkContext.broadcast(
            _codebook([(r.cid, r.cv) for r in cents.collect()])
        )

        def _assign_carry(df: DataFrame) -> DataFrame:
            return _normed(df).mapInPandas(
                _route(bc2, "vn"),
                schema="vec_id long, cid long, vn array<double>",
            )

    b = _assign_carry(batch).localCheckpoint(eager=False)  # reused twice
    h = _assign_carry(hist)
    dups = (
        b.alias("b")
        .join(h.hint("shuffle_hash").alias("h"), "cid")
        .filter(F.round(V.dot(F.col("b.vn"), F.col("h.vn")), 6) >= _SEM_TAU)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        b.select("vec_id", "cid")
        .join(dups.withColumn("is_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
        )
    )


# ===========================================================================
# Streaming index ingest-dedup semantics (r12): the oracle-verifiable twin
# of streaming/vector_index.VectorIndexMaintainer.ingest_batch. The
# maintainer classifies every arriving vector as replayed (vec_id already
# indexed — the T3 idempotence contract), dup_hist (PQ-identical to an
# indexed vector at the codebook's resolution), dup_batch (loses the
# in-batch min-vec_id race for its quantization key), or added. Until now
# that contract was pytest-pinned only; this query states it end-to-end —
# train both codebooks on HISTORY ONLY, encode the batch with them, and
# classify — so DuckDB verifies every accept decision bit-for-bit. The
# production twin prunes the history side to the batch's cells and probes
# a persisted layout (measured: flat 3.4 s/batch ingest and 1.3 s probes
# across 24 increments at the 100x corpus, scripts/ivfpq_index_results.
# json); this spec pays full-scan training in-query so the oracle can
# check it, exactly as embedding_ivfpq_topk does for the probe side.
# ===========================================================================
def _vec_train_hist_ctes() -> str:
    """Shared oracle CTE block (r16, banked r17 twin): k-means coarse +
    PQ codebook training on the PHYSICAL history and the history
    encoding (hcell/hcode). Used verbatim by both vector ingest twins —
    the codebooks belong to the index and are NOT retrained by deletes,
    so the tombstone twin trains on the same physical frame and applies
    the live projection only in its guards."""
    return f"""c1 AS (SELECT vec_id AS cid, x AS cv FROM hist
           WHERE vec_id BETWEEN 0 AND {_KM_K - 1}),
    a1 AS ({_km_sql_assign("hist", "c1")}),
    comp AS (
      SELECT a1.cid, generate_subscripts(h.x, 1) AS pos, unnest(h.x) AS v
      FROM hist h JOIN a1 USING (vec_id)
    ),
    sums AS (
      SELECT cid, pos, SUM(CAST(round(v * {_KM_SCALE}) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM comp GROUP BY cid, pos
    ),
    c2 AS MATERIALIZED (
      SELECT cid, list(CAST(s AS DOUBLE) / n / {_KM_SCALE} ORDER BY pos) AS cv
      FROM sums GROUP BY cid
    ),
    subs AS MATERIALIZED (
      {" UNION ALL ".join(
          f"SELECT vec_id, {m} AS m, "
          f"x[{m * _PQ_SUB + 1}:{(m + 1) * _PQ_SUB}] AS xs FROM hist"
          for m in range(_PQ_M)
      )}
    ),
    pc1 AS (SELECT m, vec_id AS c, xs AS cs FROM subs WHERE vec_id < {_PQ_K}),
    pa1 AS ({_pq_sql_sub_assign("pc1")}),
    pc2 AS ({_pq_sql_upd("pa1")}),
    pa2 AS ({_pq_sql_sub_assign("pc2")}),
    pcents AS MATERIALIZED ({_pq_sql_upd("pa2")}),
    hcell AS ({_km_sql_assign("hist", "c2")}),
    hassign AS ({_pq_sql_sub_assign("pcents")}),
    hcode AS (SELECT vec_id, string_agg(CAST(c AS VARCHAR), ',' ORDER BY m)
                       AS codes
              FROM hassign GROUP BY vec_id)"""


def _vec_batch_enc_ctes() -> str:
    """Shared oracle CTE block: encode the arriving batch with the
    trained codebooks (bsubs/bcell/bcode/benc)."""
    bsubs_rows = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, "
        f"x[{m * _PQ_SUB + 1}:{(m + 1) * _PQ_SUB}] AS xs FROM batch"
        for m in range(_PQ_M)
    )
    return f"""bsubs AS MATERIALIZED ({bsubs_rows}),
    bcell AS ({_km_sql_assign("batch", "c2")}),
    bassign AS (
      SELECT vec_id, m, c FROM (
        SELECT s.vec_id, s.m, c.c,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 (list_dot_product(s.xs, s.xs) - 2*list_dot_product(s.xs, c.cs)
                  + list_dot_product(c.cs, c.cs)), c.c) AS rn
        FROM bsubs s JOIN pcents c ON c.m = s.m) WHERE rn = 1
    ),
    bcode AS (SELECT vec_id, string_agg(CAST(c AS VARCHAR), ',' ORDER BY m)
                       AS codes
              FROM bassign GROUP BY vec_id),
    benc AS MATERIALIZED (
      SELECT b.vec_id, bcell.cid AS cell,
             CAST(bcell.cid AS VARCHAR) || '_' || bcode.codes AS qk
      FROM batch b JOIN bcell ON bcell.vec_id = b.vec_id
      JOIN bcode ON bcode.vec_id = b.vec_id
    )"""


def _ingest_dedup_oracle() -> str:
    batch_rows = """
  SELECT CAST(vec_id AS BIGINT) AS vec_id, x FROM e WHERE vec_id % 10 = 9
  UNION ALL SELECT CAST(0 AS BIGINT), x FROM e WHERE vec_id = 0
  UNION ALL SELECT CAST(2000000 AS BIGINT), x FROM e WHERE vec_id = 10
  UNION ALL SELECT CAST(2000001 AS BIGINT), x FROM e WHERE vec_id = 9
  UNION ALL SELECT CAST(2000002 AS BIGINT), x FROM e WHERE vec_id = 9
"""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    hist AS MATERIALIZED (SELECT vec_id, x FROM e WHERE vec_id % 10 <> 9),
    batch AS MATERIALIZED ({batch_rows}),
    {_vec_train_hist_ctes()},
    hkeys AS (
      SELECT DISTINCT CAST(hcell.cid AS VARCHAR) || '_' || hcode.codes AS qk
      FROM hcell JOIN hcode USING (vec_id)
    ),
    {_vec_batch_enc_ctes()},
    cls AS MATERIALIZED (
      SELECT benc.vec_id, benc.cell, benc.qk,
             benc.vec_id IN (SELECT vec_id FROM hist) AS is_replay,
             benc.qk IN (SELECT qk FROM hkeys) AS in_hist
      FROM benc
    ),
    reps AS (
      SELECT qk, min(vec_id) AS rep FROM cls
      WHERE NOT is_replay AND NOT in_hist GROUP BY qk
    )
    SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
           CASE WHEN c.is_replay THEN 'replayed'
                WHEN c.in_hist THEN 'dup_hist'
                WHEN c.vec_id = r.rep THEN 'added'
                ELSE 'dup_batch' END AS status
    FROM cls c LEFT JOIN reps r ON r.qk = c.qk
    """


def _vec_encode(
    df: DataFrame, df_subs: DataFrame, coarse: DataFrame, pcents: DataFrame
) -> DataFrame:
    """Encode ``df`` with the trained codebooks: (vec_id, cell, qk) where
    qk is the maintainer's quantization key. Shared by both vector ingest
    twins (r16); codebooks broadcast (K + M*K rows)."""
    cells = _km_assign(df, coarse)
    codes = (
        df_subs.join(F.broadcast(_cc_side(pcents)), "m")
        .groupBy("vec_id", "m")
        .agg(
            F.expr(
                f"min_by(c, struct({_PQ_D2H} as d, "
                "c as c))"
            ).alias("code")
        )
        .groupBy("vec_id")
        .agg(
            F.concat_ws(
                ",",
                F.expr(
                    "transform(array_sort(collect_list(struct(m, code)))"
                    ", s -> cast(s.code as string))"
                ),
            ).alias("codes")
        )
    )
    return cells.join(codes, "vec_id").select(
        "vec_id",
        F.col("cid").cast("long").alias("cell"),
        F.concat_ws("_", F.col("cid"), F.col("codes")).alias("qk"),
    )


@_register(
    "embedding_index_ingest_dedup",
    _ingest_dedup_oracle(),
    "Streaming index ingest-dedup classification: train coarse "
    f"(K={_KM_K}, exact one-update k-means) and PQ ({_PQ_M}x{_PQ_K}, "
    "two exact rounds) codebooks on HISTORY ONLY, encode an arriving "
    "batch (the held-out tenth plus planted arrivals: a replayed id, a "
    "PQ-identical clone of an indexed vector, and an in-batch clone "
    "pair), and classify every row exactly as the streaming maintainer "
    "does — replayed (id already indexed), dup_hist ((cell, codes) "
    "collides with an indexed vector), dup_batch (loses the in-batch "
    "min-vec_id race for its key), added. The quantization IS the dedup "
    "identity (no raw-vector history), and replay idempotence is "
    "anti-join-by-id (T3). Scale shape: codebooks broadcast (K + M*K "
    "rows); the id and key guards join with shuffle_hash hints (both "
    "sides corpus-derived — never statically broadcast); the production "
    "twin additionally prunes the history side to the batch's cell set "
    "(streaming/vector_index.py, measured flat at the 100x corpus)",
    reference="[NORTH-STAR] faiss add-after-train ingest; SURVEY §2.7 M3 "
    "insert-ignore / §2.9 T3 exactly-once-by-idempotence applied to the "
    "ANN tier; spec twin of streaming/vector_index.ingest_batch",
    tags=("similarity", "dedup", "northstar", "iterative"),
)
def q_index_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _km_load(spark, sf_dir)
    hist = e.filter(F.col("vec_id") % 10 != 9).localCheckpoint(eager=False)

    def plant(src_id: int, new_id: int) -> DataFrame:
        return e.filter(F.col("vec_id") == src_id).select(
            F.lit(new_id).cast("long").alias("vec_id"), "x"
        )

    batch = (
        e.filter(F.col("vec_id") % 10 == 9)
        .unionByName(plant(0, 0))              # replayed id
        .unionByName(plant(10, 2_000_000))     # PQ-identical to indexed
        .unionByName(plant(9, 2_000_001))      # in-batch clone pair of 9
        .unionByName(plant(9, 2_000_002))
        .localCheckpoint(eager=False)
    )
    coarse = _km_trained_centroids(hist).localCheckpoint(eager=False)
    hsubs = _pq_subs(hist)
    pcents = _pq_trained_cents(hsubs).localCheckpoint(eager=False)
    hkeys = _vec_encode(hist, hsubs, coarse, pcents).select("qk").distinct()
    benc = _vec_encode(
        batch, _pq_subs(batch), coarse, pcents
    ).localCheckpoint(eager=False)
    # shuffle_hash on both guards: the id set and the key set are
    # corpus-derived aggregates — the statically-misplanned broadcast
    # class the 100x tier caught twice (r8).
    cls = (
        benc.join(
            hist.select("vec_id")
            .withColumn("_r", F.lit(True))
            .hint("shuffle_hash"),
            "vec_id",
            "left",
        )
        .join(
            hkeys.withColumn("_h", F.lit(True)).hint("shuffle_hash"),
            "qk",
            "left",
        )
        .localCheckpoint(eager=False)  # reused: reps + final classify
    )
    reps = (
        cls.filter(F.col("_r").isNull() & F.col("_h").isNull())
        .groupBy("qk")
        .agg(F.min("vec_id").alias("rep"))
    )
    # shuffle_hash: reps is O(distinct batch keys) — batch-derived, so at
    # a corpus-scale micro-batch it must never be statically broadcast.
    return cls.join(reps.hint("shuffle_hash"), "qk", "left").select(
        "vec_id",
        "cell",
        F.when(F.col("_r").isNotNull(), "replayed")
        .when(F.col("_h").isNotNull(), "dup_hist")
        .when(F.col("vec_id") == F.col("rep"), "added")
        .otherwise("dup_batch")
        .alias("status"),
    )


# ===========================================================================
# Vector-tier tombstone-aware ingest classification (r16, BANKED for r17):
# the vector analog of docs_tombstone_ingest — the oracle-paired spec twin
# of streaming/vector_index.ingest_batch against an index with LIVE
# tombstones (delete_vectors). Codebooks are NOT retrained by deletes, so
# training stays on the PHYSICAL history; the guards see the LIVE
# projection: the id guard excludes tombstoned ids (a dead id re-sent
# passes it) and the quantized-key guard excludes dead rows' keys (dead
# content no longer blocks) — EXCEPT where another live vector shares the
# key at PQ resolution, in which case the arrival still dup_hist-blocks
# and the tombstone stays: the PQ-resolution collision property the r15
# 100x wave replay documented (ivfpq_index_results.json:
# sf100x_tombstone_wave). Registration planned for r17 (retiring
# distinct_users_exact from the r14-green cohort); verified every session
# by tests/test_preregistered.py until then.
# ===========================================================================
# Indexed ids whose delete is live (planted): 2 and 5 quantize to keys
# UNIQUE among history at both sf0.001 and sf0.01 (verified at bank time),
# so their deltas are deterministic at the driver's SF; 0's key is unique
# at sf0.001 but PQ-COLLIDES with a live vector at sf0.01 — planted
# deliberately so the driver-checked result also exercises the collision
# property (resurrection blocked, tombstone stays).
_VEC_TOMBSTONED = (0, 2, 5)


def _embedding_tombstone_ingest_oracle() -> str:
    dead = ", ".join(str(i) for i in _VEC_TOMBSTONED)
    batch_rows = """
  SELECT CAST(vec_id AS BIGINT) AS vec_id, x FROM e WHERE vec_id % 10 = 9
  UNION ALL SELECT CAST(0 AS BIGINT), x FROM e WHERE vec_id = 0
  UNION ALL SELECT CAST(2 AS BIGINT), x FROM e WHERE vec_id = 2
  UNION ALL SELECT CAST(1 AS BIGINT), x FROM e WHERE vec_id = 1
  UNION ALL SELECT CAST(3000001 AS BIGINT), x FROM e WHERE vec_id = 10
  UNION ALL SELECT CAST(3000002 AS BIGINT), x FROM e WHERE vec_id = 5
  UNION ALL SELECT CAST(3000003 AS BIGINT), x FROM e WHERE vec_id = 9
"""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    hist AS MATERIALIZED (SELECT vec_id, x FROM e WHERE vec_id % 10 <> 9),
    batch AS MATERIALIZED ({batch_rows}),
    {_vec_train_hist_ctes()},
    hkeys AS (
      SELECT DISTINCT CAST(hcell.cid AS VARCHAR) || '_' || hcode.codes AS qk
      FROM hcell JOIN hcode USING (vec_id)
      WHERE vec_id NOT IN ({dead})
    ),
    {_vec_batch_enc_ctes()},
    cls AS MATERIALIZED (
      SELECT benc.vec_id, benc.cell, benc.qk,
             benc.vec_id IN (SELECT vec_id FROM hist
                             WHERE vec_id NOT IN ({dead})) AS is_replay,
             benc.qk IN (SELECT qk FROM hkeys) AS in_hist
      FROM benc
    ),
    reps AS (
      SELECT qk, min(vec_id) AS rep FROM cls
      WHERE NOT is_replay AND NOT in_hist GROUP BY qk
    )
    SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
           CASE WHEN c.is_replay THEN 'replayed'
                WHEN c.in_hist THEN 'dup_hist'
                WHEN c.vec_id = r.rep THEN
                  CASE WHEN c.vec_id IN ({dead})
                       THEN 'resurrected' ELSE 'added' END
                ELSE 'dup_batch' END AS status
    FROM cls c LEFT JOIN reps r ON r.qk = c.qk
    """


def q_embedding_tombstone_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Planted scenario (history = vec_id%10 != 9, tombstoned = vec ids
    0, 2, 5): the batch re-sends tombstoned vec 2 under its id
    (RESURRECTED — the id guard sees the live projection, and the
    maintainer's accept cancels the tombstone; were it live this would
    be `replayed`), tombstoned vec 0 under its id (resurrected at
    sf0.001; at sf0.01 a LIVE vector shares its PQ key, so the arrival
    dup_hist-blocks and the tombstone stays — the quantization IS the
    identity, the collision property the r15 100x wave replay
    documented), live vec 1 (replayed), live vec 10's embedding under
    id 3000001 (dup_hist — its key is live), TOMBSTONED vec 5's
    embedding under id 3000002 (ADDED — the dead key no longer blocks),
    and an in-batch clone of held-out vec 9 (dup_batch, loses the
    min-id race). Same joins and shuffle_hash reasoning as
    embedding_index_ingest_dedup; the only deltas are the live-history
    projections in the two guards plus the resurrected branch — exactly
    the deltas delete_vectors makes in the maintainer (the live id guard
    and the live quantized-key set, streaming/vector_index.py
    ingest_batch), with the tombstone cancellation surfaced as its own
    status because the maintainer counts it separately (n_resurrected).

    Spec twin of streaming/vector_index.ingest_batch under
    delete_vectors tombstones; SURVEY §2.9 T3 exactly-once-by-idempotence
    under deletes at the ANN tier; reference contract
    /root/reference/apps/spark_app/flight_stream.py:33-36."""
    e = _km_load(spark, sf_dir)
    hist = e.filter(F.col("vec_id") % 10 != 9).localCheckpoint(eager=False)

    def plant(src_id: int, new_id: int) -> DataFrame:
        return e.filter(F.col("vec_id") == src_id).select(
            F.lit(new_id).cast("long").alias("vec_id"), "x"
        )

    batch = (
        e.filter(F.col("vec_id") % 10 == 9)
        .unionByName(plant(0, 0))     # tombstoned; PQ-collides at sf0.01
        .unionByName(plant(2, 2))     # tombstoned id -> resurrected
        .unionByName(plant(1, 1))     # live id -> replayed
        .unionByName(plant(10, 3_000_001))     # live key, new id
        .unionByName(plant(5, 3_000_002))      # DEAD key, new id
        .unionByName(plant(9, 3_000_003))      # in-batch clone of 9
        .localCheckpoint(eager=False)
    )
    coarse = _km_trained_centroids(hist).localCheckpoint(eager=False)
    hsubs = _pq_subs(hist)
    pcents = _pq_trained_cents(hsubs).localCheckpoint(eager=False)
    # Live projections: a 2-element planted fixture set, so isin is a
    # constant predicate, not a wave-sized literal (the store's own wave
    # path is join-based — partstore.split_resurrections).
    dead = list(_VEC_TOMBSTONED)
    live_ids = hist.select("vec_id").filter(~F.col("vec_id").isin(dead))
    hkeys = (
        _vec_encode(hist, hsubs, coarse, pcents)
        .filter(~F.col("vec_id").isin(dead))
        .select("qk")
        .distinct()
    )
    benc = _vec_encode(
        batch, _pq_subs(batch), coarse, pcents
    ).localCheckpoint(eager=False)
    # shuffle_hash on both guards: corpus-derived sides, never statically
    # broadcast (same reasoning as embedding_index_ingest_dedup).
    cls = (
        benc.join(
            live_ids.withColumn("_r", F.lit(True)).hint("shuffle_hash"),
            "vec_id",
            "left",
        )
        .join(
            hkeys.withColumn("_h", F.lit(True)).hint("shuffle_hash"),
            "qk",
            "left",
        )
        .localCheckpoint(eager=False)  # reused: reps + final classify
    )
    reps = (
        cls.filter(F.col("_r").isNull() & F.col("_h").isNull())
        .groupBy("qk")
        .agg(F.min("vec_id").alias("rep"))
    )
    return cls.join(reps.hint("shuffle_hash"), "qk", "left").select(
        "vec_id",
        "cell",
        F.when(F.col("_r").isNotNull(), "replayed")
        .when(F.col("_h").isNotNull(), "dup_hist")
        .when(
            (F.col("vec_id") == F.col("rep"))
            & F.col("vec_id").isin(dead),
            "resurrected",
        )
        .when(F.col("vec_id") == F.col("rep"), "added")
        .otherwise("dup_batch")
        .alias("status"),
    )


# ===========================================================================
# Text-tier ingest-dedup classification (r12 verdict #2): the oracle-paired
# spec twin of streaming/corpus.CorpusStore.ingest_batch, exactly as
# embedding_index_ingest_dedup is the twin of the vector maintainer. The
# dedup identity is the text's md5-prefix fingerprint (the same
# cross-engine hash every batch dedup query uses); the classification
# mirrors the maintainer's collapse-first order: a row that loses the
# in-batch min-doc_id race for its fingerprint is dup_batch BEFORE any
# history check (the maintainer classifies only representatives), then the
# representative is replayed (doc_id already accepted — the T3 replay
# contract, ids content-immutable), dup_hist (fingerprint accepted under
# another id), else accepted.
# ===========================================================================
from ..streaming.corpus import (  # noqa: E402
    _DEFAULT_BUCKETS as _CORPUS_N_BUCKETS,
    _token_frame,
)
# imported, not copied: the twin's bucket column must stay the production
# partition key even if the store default is retuned


def _docs_ingest_dedup_oracle() -> str:
    fp = _sql_md5_long("text")
    return f"""
    WITH hist AS MATERIALIZED (
      SELECT doc_id, {fp} AS fp FROM documents WHERE doc_id % 10 != 9
    ),
    batch AS MATERIALIZED (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id, {fp} AS fp FROM documents WHERE doc_id % 10 = 9
        UNION ALL
        SELECT doc_id, {fp} FROM documents WHERE doc_id = 0
        UNION ALL
        SELECT 9000001, {fp} FROM documents WHERE doc_id = 1
        UNION ALL
        SELECT 9000002, {fp} FROM documents WHERE doc_id = 9
      )
    ),
    reps AS (SELECT fp, min(doc_id) AS rep FROM batch GROUP BY fp)
    SELECT b.doc_id,
           CAST(((b.fp % {_CORPUS_N_BUCKETS}) + {_CORPUS_N_BUCKETS})
                % {_CORPUS_N_BUCKETS} AS BIGINT) AS bucket,
           CASE WHEN b.doc_id != r.rep THEN 'dup_batch'
                WHEN b.doc_id IN (SELECT doc_id FROM hist) THEN 'replayed'
                WHEN b.fp IN (SELECT fp FROM hist) THEN 'dup_hist'
                ELSE 'accepted' END AS status
    FROM batch b JOIN reps r ON r.fp = b.fp
    """


@_register(
    "docs_ingest_dedup",
    _docs_ingest_dedup_oracle(),
    "Streaming corpus ingest-dedup classification: fingerprint an "
    "arriving document batch (the held-out tenth plus planted arrivals: "
    "a replayed doc_id, a history text under a new id, and an in-batch "
    "clone of a batch doc) and classify every row exactly as the "
    "streaming corpus store does — dup_batch (loses the in-batch "
    "min-doc_id race for its fingerprint; checked FIRST because the "
    "maintainer collapses to one representative per fingerprint before "
    "any history join), replayed (doc_id already accepted — T3 "
    "idempotence, no ledger), dup_hist (text accepted under another "
    "id), accepted. Also returns the fingerprint-hash bucket — the "
    "partition key the production twin's history anti-join prunes to "
    "(a literal bucket IN (...) static PartitionFilter over the "
    "append-only docs layout). Scale shape: rep choice is one "
    "map-combined aggregation; the id and fingerprint guards join with "
    "shuffle_hash hints (both sides corpus-derived — never statically "
    "broadcast); per-batch cost in the production twin is O(batch "
    "buckets) read + O(batch) written, never O(corpus)",
    reference="spec twin of streaming/corpus.CorpusStore.ingest_batch "
    "(r12 verdict #1/#2); SURVEY §2.7 M3 insert-ignore / §2.9 T3 "
    "exactly-once-by-idempotence applied to the document tier; reference "
    "contract /root/reference/apps/spark_app/flight_stream.py:33-36",
    tags=("dedup", "northstar", "streaming-twin"),
)
def q_docs_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    fp = TX.md5_long(F.col("text"))

    def plant(src_id: int, new_id: int) -> DataFrame:
        return d.filter(F.col("doc_id") == src_id).select(
            F.lit(new_id).cast("long").alias("doc_id"), fp.alias("fp")
        )

    batch = (
        d.filter(F.col("doc_id") % 10 == 9)
        .select("doc_id", fp.alias("fp"))
        .unionByName(plant(0, 0))            # replayed id (0 is history)
        .unionByName(plant(1, 9_000_001))    # history text, new id
        .unionByName(plant(9, 9_000_002))    # in-batch clone pair of 9
        # Same-(doc_id, text) re-sends WITHIN one batch collapse to one
        # logical row before classification (r13 ADVICE, low): without
        # this the twin would emit two identical rep rows where the store
        # counts the extra copy in n_dup_batch — the oracle dedupes the
        # same way, so the per-row universes agree by construction.
        .dropDuplicates(["doc_id", "fp"])
        .localCheckpoint(eager=False)        # reused: reps + classify
    )
    hist = (
        d.filter(F.col("doc_id") % 10 != 9)
        .select("doc_id", fp.alias("fp"))
        .localCheckpoint(eager=False)        # reused: id guard + fp guard
    )
    reps = batch.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    # shuffle_hash on all three guards: reps is batch-derived and the two
    # history projections are corpus-derived — at a corpus-scale
    # micro-batch none may be statically broadcast (the misplanned-
    # broadcast class the 100x tier caught twice, r8). The production
    # twin additionally prunes the history side to the batch's
    # fingerprint-bucket partitions (streaming/corpus._pruned_history).
    return (
        batch.join(reps.hint("shuffle_hash"), "fp", "left")
        .join(
            hist.select("doc_id")
            .withColumn("_id", F.lit(True))
            .hint("shuffle_hash"),
            "doc_id",
            "left",
        )
        .join(
            hist.select("fp")
            .distinct()
            .withColumn("_fp", F.lit(True))
            .hint("shuffle_hash"),
            "fp",
            "left",
        )
        .select(
            "doc_id",
            F.pmod(F.col("fp"), F.lit(_CORPUS_N_BUCKETS))
            .cast("long")
            .alias("bucket"),
            F.when(F.col("doc_id") != F.col("rep"), "dup_batch")
            .when(F.col("_id").isNotNull(), "replayed")
            .when(F.col("_fp").isNotNull(), "dup_hist")
            .otherwise("accepted")
            .alias("status"),
        )
    )


# ===========================================================================
# Near-dup tier ingest classification (banked in r13, REGISTERED in r14
# when the reserved window slot opened — see COVERAGE.md "Next catalog
# addition"): the oracle-paired spec twin of
# streaming/corpus.NearDupCorpusStore.ingest_batch, extending
# docs_ingest_dedup's exact-tier classification with the near_dup status.
# Classification precedence mirrors the store exactly: the exact tier
# first (dup_batch / replayed / dup_hist — same joins as
# docs_ingest_dedup), then among exact survivors a doc is near_dup if it
# loses an in-batch verified pair (lowest doc_id wins) or verifies
# against ANY history doc (MinHash-LSH banding, 3-token shingles, 8
# minhashes, 4 bands x 2 rows, exact distinct-shingle Jaccard >= 0.5 —
# the batch detector's own parameters, so the accepted-corpus invariant
# is checkable by running docs_near_dup_pairs over the store).
# ===========================================================================
def _near_dup_drops(batch: DataFrame, hist: DataFrame) -> DataFrame:
    """(doc_id, _nd) for the batch docs of two (doc_id, text) frames that
    lose an in-batch verified pair (the lowest doc_id wins) or verify
    against ANY history doc: the near-dup tier of
    NearDupCorpusStore.ingest_batch, built from the same operators/dedup
    functions the store calls, so spec fidelity is by construction.

    ONE tagged shingle->minhash->band pipeline serves both sides (r16,
    guide §1.2 / §2.4): the per-row values are pure functions of text,
    the id sets are disjoint (a batch id present in history classifies
    'replayed' and never reaches the near tier), and the tag filters
    recover exactly the two per-side frames with half the barriers (each
    is a full Catalyst pass)."""
    tagged = batch.withColumn("_side", F.lit("b")).unionByName(
        hist.withColumn("_side", F.lit("h"))
    )
    shin_all = shingle_sets(_token_frame(tagged, ("_side",)), carry=("_side",))
    bands_all = band_rows(shin_all, carry=("_side",)).localCheckpoint(
        eager=False
    )

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.filter(F.col("_side") == tag).drop("_side")

    shin, hshin = side(shin_all, "b"), side(shin_all, "h")
    bands, hbands = side(bands_all, "b"), side(bands_all, "h")
    blocks = ("band_idx", "band_key")
    drop_in = jaccard_pairs(
        blocked_pairs(bands, "doc_id", blocks), shin, shin, JACCARD_THRESHOLD
    ).select(F.col("b_id").alias("doc_id"))
    drop_h = jaccard_pairs(
        blocked_pairs(bands, "doc_id", blocks, other=hbands),
        shin,
        hshin,
        JACCARD_THRESHOLD,
    ).select(F.col("a_id").alias("doc_id"))
    return drop_in.unionByName(drop_h).distinct().withColumn("_nd", F.lit(True))


def _sql_band_rows(mh_cte: str) -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(CAST(mh{2 * b} AS VARCHAR) || '_' || "
        f"CAST(mh{2 * b + 1} AS VARCHAR)) AS band_key FROM {mh_cte}"
        for b in range(4)
    )


def _docs_near_dup_ingest_oracle() -> str:
    fp = _sql_md5_long("text")
    mh_cols = ", ".join(f"{_sql_minhash(s)} AS mh{s}" for s in range(8))
    jac = "CAST(inter AS DOUBLE) / (na + nb - inter)"
    return f"""
    WITH hist AS MATERIALIZED (
      SELECT doc_id, text, {fp} AS fp FROM documents WHERE doc_id % 10 != 9
    ),
    batch AS MATERIALIZED (
      SELECT DISTINCT doc_id, text, fp FROM (
        SELECT doc_id, text, {fp} AS fp FROM documents WHERE doc_id % 10 = 9
        UNION ALL SELECT doc_id, text, {fp} FROM documents WHERE doc_id = 0
        UNION ALL SELECT 9000001, text, {fp} FROM documents WHERE doc_id = 1
        UNION ALL SELECT 9000002, text, {fp} FROM documents WHERE doc_id = 9
        UNION ALL SELECT 9000004, text || ' zq',
                         {_sql_md5_long("text || ' zq'")}
          FROM documents WHERE doc_id = 2
        UNION ALL SELECT 9000005, text || ' zq',
                         {_sql_md5_long("text || ' zq'")}
          FROM documents WHERE doc_id = 9
      )
    ),
    reps AS (SELECT fp, min(doc_id) AS rep FROM batch GROUP BY fp),
    excls AS MATERIALIZED (
      SELECT b.doc_id, b.text,
             CASE WHEN b.doc_id != r.rep THEN 'dup_batch'
                  WHEN b.doc_id IN (SELECT doc_id FROM hist) THEN 'replayed'
                  WHEN b.fp IN (SELECT fp FROM hist) THEN 'dup_hist'
             END AS ex_status
      FROM batch b JOIN reps r ON r.fp = b.fp
    ),
    exact_ok AS (SELECT doc_id, text FROM excls WHERE ex_status IS NULL),
    btok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM exact_ok),
    bshin AS MATERIALIZED (
      SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh FROM btok),
    bhsh AS (SELECT doc_id, {_SQL_BASE_HASHES} AS hs FROM bshin),
    bmh AS (SELECT doc_id, {mh_cols} FROM bhsh),
    bbands AS MATERIALIZED ({_sql_band_rows("bmh")}),
    htok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM hist),
    hshin AS MATERIALIZED (
      SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh FROM htok),
    hhsh AS (SELECT doc_id, {_SQL_BASE_HASHES} AS hs FROM hshin),
    hmh AS (SELECT doc_id, {mh_cols} FROM hhsh),
    hbands AS MATERIALIZED ({_sql_band_rows("hmh")}),
    cand_in AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bbands a JOIN bbands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    drop_in AS (
      SELECT DISTINCT b_id AS doc_id FROM (
        SELECT c.b_id,
               len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
               len(sa.sh) AS na, len(sb.sh) AS nb
        FROM cand_in c
        JOIN bshin sa ON sa.doc_id = c.a_id
        JOIN bshin sb ON sb.doc_id = c.b_id
      ) WHERE {jac} >= 0.5
    ),
    cand_h AS (
      SELECT DISTINCT a.doc_id AS a_id, h.doc_id AS b_id
      FROM bbands a JOIN hbands h
        ON a.band_idx = h.band_idx AND a.band_key = h.band_key
    ),
    drop_h AS (
      SELECT DISTINCT a_id AS doc_id FROM (
        SELECT c.a_id,
               len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
               len(sa.sh) AS na, len(sb.sh) AS nb
        FROM cand_h c
        JOIN bshin sa ON sa.doc_id = c.a_id
        JOIN hshin sb ON sb.doc_id = c.b_id
      ) WHERE {jac} >= 0.5
    ),
    dropped AS (SELECT doc_id FROM drop_in UNION SELECT doc_id FROM drop_h)
    SELECT e.doc_id,
           COALESCE(e.ex_status,
                    CASE WHEN e.doc_id IN (SELECT doc_id FROM dropped)
                         THEN 'near_dup' ELSE 'accepted' END) AS status
    FROM excls e
    """


@_register(
    "docs_near_dup_ingest",
    _docs_near_dup_ingest_oracle(),
    "Streaming near-dup corpus ingest classification: the oracle-paired "
    "spec twin of NearDupCorpusStore.ingest_batch, extending "
    "docs_ingest_dedup's exact tier with the near_dup status. The exact "
    "tier classifies first (dup_batch / replayed / dup_hist — identical "
    "joins); among exact survivors a doc is near_dup if it loses an "
    "in-batch verified pair (lowest doc_id wins) or verifies against ANY "
    "history doc via MinHash-LSH banding (3-token shingles, 8 minhashes, "
    "4 bands x 2 rows) confirmed by exact distinct-shingle Jaccard >= "
    "0.5 — the batch detector's own parameters, so the accepted-corpus "
    "invariant is checkable by running docs_near_dup_pairs over the "
    "store. The planted batch exercises all five statuses. Scale shape: "
    "candidates come from band-bucket equi-joins (never all-pairs); the "
    "history side is band-pruned in the production twin "
    "(corpus._pruned_bands); all corpus-derived join sides are "
    "shuffle_hash-hinted, never statically broadcast",
    reference="spec twin of streaming/corpus.NearDupCorpusStore."
    "ingest_batch (r13 verdict #1); SURVEY §2.9 T3 "
    "exactly-once-by-idempotence + [NORTH-STAR] near-dedup applied to "
    "streaming ingest; reference contract "
    "/root/reference/apps/spark_app/flight_stream.py:33-36",
    tags=("dedup", "northstar", "streaming-twin"),
)
def q_docs_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    fp = TX.md5_long(F.col("text"))

    def plant(src_id: int, new_id: int, suffix: str | None = None) -> DataFrame:
        text = (
            F.concat(F.col("text"), F.lit(suffix))
            if suffix
            else F.col("text")
        )
        return d.filter(F.col("doc_id") == src_id).select(
            F.lit(new_id).cast("long").alias("doc_id"), text.alias("text")
        )

    batch = (
        d.filter(F.col("doc_id") % 10 == 9)
        .unionByName(plant(0, 0))                 # replayed id
        .unionByName(plant(1, 9_000_001))         # history text, new id
        .unionByName(plant(9, 9_000_002))         # in-batch exact clone
        .unionByName(plant(2, 9_000_004, " zq"))  # near-dup of history
        .unionByName(plant(9, 9_000_005, " zq"))  # in-batch near-dup
        .withColumn("fp", fp)
        # Same-(doc_id, text) re-sends collapse to one logical row before
        # classification — same contract (and reason) as
        # docs_ingest_dedup; rows sharing (doc_id, fp) are fully
        # identical, so which copy survives is immaterial.
        .dropDuplicates(["doc_id", "fp"])
        .localCheckpoint(eager=False)
    )
    hist = (
        d.filter(F.col("doc_id") % 10 != 9)
        .withColumn("fp", fp)
        .localCheckpoint(eager=False)
    )
    reps = batch.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    # Exact tier: identical joins (and shuffle_hash reasoning) as
    # docs_ingest_dedup; ex_status is NULL for exact survivors.
    excls = (
        batch.join(reps.hint("shuffle_hash"), "fp", "left")
        .join(
            hist.select("doc_id")
            .withColumn("_id", F.lit(True))
            .hint("shuffle_hash"),
            "doc_id",
            "left",
        )
        .join(
            hist.select("fp")
            .distinct()
            .withColumn("_fp", F.lit(True))
            .hint("shuffle_hash"),
            "fp",
            "left",
        )
        .select(
            "doc_id",
            "text",
            F.when(F.col("doc_id") != F.col("rep"), "dup_batch")
            .when(F.col("_id").isNotNull(), "replayed")
            .when(F.col("_fp").isNotNull(), "dup_hist")
            .alias("ex_status"),
        )
        .localCheckpoint(eager=False)  # reused: near tier + final classify
    )
    exact_ok = excls.filter(F.col("ex_status").isNull()).select(
        "doc_id", "text"
    )
    dropped = _near_dup_drops(exact_ok, hist.select("doc_id", "text"))
    # shuffle_hash: dropped is corpus-derived (candidate near-dups) — at a
    # corpus-scale micro-batch it must never be statically broadcast.
    return excls.join(dropped.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id",
        F.coalesce(
            F.col("ex_status"),
            F.when(F.col("_nd").isNotNull(), "near_dup").otherwise(
                "accepted"
            ),
        ).alias("status"),
    )


# ===========================================================================
# Tombstone-aware ingest classification (banked r14, registered r15):
# the oracle-paired spec twin of CorpusStore ingest AGAINST A STORE WITH
# LIVE TOMBSTONES (r14's delete support, streaming/corpus.delete_docs).
# Classification is docs_ingest_dedup's with one change — the spec change
# deletes make: history is the LIVE set (physical minus tombstoned ids),
# so a tombstoned id re-sent is ACCEPTED again (the twin of the store's
# tombstone-cancelling resurrection), and dead content arriving under a
# new id is ACCEPTED (a dead fingerprint no longer blocks).
# ===========================================================================
def _docs_tombstone_ingest_oracle() -> str:
    fp = _sql_md5_long("text")
    return f"""
    WITH hist AS MATERIALIZED (
      SELECT doc_id, {fp} AS fp FROM documents WHERE doc_id % 10 != 9
    ),
    tombs AS (SELECT doc_id FROM hist WHERE doc_id % 100 = 0),
    live AS MATERIALIZED (
      SELECT * FROM hist WHERE doc_id NOT IN (SELECT doc_id FROM tombs)
    ),
    batch AS MATERIALIZED (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id, {fp} AS fp FROM documents WHERE doc_id % 10 = 9
        UNION ALL
        SELECT doc_id, {fp} FROM documents WHERE doc_id = 0
        UNION ALL
        SELECT doc_id, {fp} FROM documents WHERE doc_id = 1
        UNION ALL
        SELECT 9000001, {fp} FROM documents WHERE doc_id = 2
        UNION ALL
        SELECT 9000002, {fp} FROM documents WHERE doc_id = 100
        UNION ALL
        SELECT 9000003, {fp} FROM documents WHERE doc_id = 9
      )
    ),
    reps AS (SELECT fp, min(doc_id) AS rep FROM batch GROUP BY fp)
    SELECT b.doc_id,
           CAST(((b.fp % {_CORPUS_N_BUCKETS}) + {_CORPUS_N_BUCKETS})
                % {_CORPUS_N_BUCKETS} AS BIGINT) AS bucket,
           CASE WHEN b.doc_id != r.rep THEN 'dup_batch'
                WHEN b.doc_id IN (SELECT doc_id FROM live) THEN 'replayed'
                WHEN b.fp IN (SELECT fp FROM live) THEN 'dup_hist'
                ELSE 'accepted' END AS status
    FROM batch b JOIN reps r ON r.fp = b.fp
    """


@_register(
    "docs_tombstone_ingest",
    _docs_tombstone_ingest_oracle(),
    "Tombstone-aware streaming ingest classification: the oracle-paired "
    "spec twin of CorpusStore.ingest_batch against a store with LIVE "
    "tombstones (delete_docs). Same joins as docs_ingest_dedup with the "
    "one delta deletes make — history is the LIVE projection (physical "
    "minus tombstoned ids, the exact shape _pruned_history feeds after a "
    "delete), so a tombstoned id re-sent is ACCEPTED (the twin of the "
    "store's tombstone-cancelling resurrection) and dead content under a "
    "new id is ACCEPTED (a dead fingerprint no longer blocks). The "
    "planted batch pins both delete-specific outcomes plus replayed / "
    "dup_hist / dup_batch. Scale shape: two hash-partitioned equi-joins "
    "on the batch keyspace; corpus-derived sides shuffle_hash-hinted, "
    "never statically broadcast; the anti-join against tombstones costs "
    "nothing in delete-free stores (plan-pinned in test_tombstones.py)",
    reference="spec twin of streaming/corpus.CorpusStore.ingest_batch "
    "with delete_docs tombstones (r14); SURVEY §2.9 T3 exactly-once-by-"
    "idempotence under deletes; reference contract "
    "/root/reference/apps/spark_app/flight_stream.py:33-36",
    tags=("dedup", "northstar", "streaming-twin", "tombstone"),
)
def q_docs_tombstone_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted scenario (history = doc_id%10 != 9, tombstoned = every
    100th history doc): the batch re-sends tombstoned doc 0 (ACCEPTED —
    the resurrection twin; were it live this would be `replayed`), live
    doc 1 (replayed), live doc 2's text under id 9000001 (dup_hist),
    TOMBSTONED doc 100's text under id 9000002 (ACCEPTED — dead content
    no longer blocks; were 100 live this would be `dup_hist`), and an
    in-batch clone of doc 9 (dup_batch). Same joins and shuffle_hash
    reasoning as docs_ingest_dedup; the only delta is the live-history
    projection, exactly the delta delete_docs makes in
    CorpusStore._pruned_history."""
    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    fp = TX.md5_long(F.col("text"))

    def plant(src_id: int, new_id: int) -> DataFrame:
        return d.filter(F.col("doc_id") == src_id).select(
            F.lit(new_id).cast("long").alias("doc_id"), fp.alias("fp")
        )

    batch = (
        d.filter(F.col("doc_id") % 10 == 9)
        .select("doc_id", fp.alias("fp"))
        .unionByName(plant(0, 0))            # tombstoned id -> accepted
        .unionByName(plant(1, 1))            # live id -> replayed
        .unionByName(plant(2, 9_000_001))    # live text, new id -> dup_hist
        .unionByName(plant(100, 9_000_002))  # DEAD text, new id -> accepted
        .unionByName(plant(9, 9_000_003))    # in-batch clone -> dup_batch
        .dropDuplicates(["doc_id", "fp"])
        .localCheckpoint(eager=False)
    )
    hist = d.filter(F.col("doc_id") % 10 != 9).select("doc_id", fp.alias("fp"))
    # The live-history projection: physical minus tombstoned ids — the
    # exact shape CorpusStore._pruned_history feeds classification after
    # delete_docs, minus the bucket prune the production twin adds.
    live = hist.filter(F.col("doc_id") % 100 != 0).localCheckpoint(
        eager=False
    )
    reps = batch.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    return (
        batch.join(reps.hint("shuffle_hash"), "fp", "left")
        .join(
            live.select("doc_id")
            .withColumn("_id", F.lit(True))
            .hint("shuffle_hash"),
            "doc_id",
            "left",
        )
        .join(
            live.select("fp")
            .distinct()
            .withColumn("_fp", F.lit(True))
            .hint("shuffle_hash"),
            "fp",
            "left",
        )
        .select(
            "doc_id",
            F.pmod(F.col("fp"), F.lit(_CORPUS_N_BUCKETS))
            .cast("long")
            .alias("bucket"),
            F.when(F.col("doc_id") != F.col("rep"), "dup_batch")
            .when(F.col("_id").isNotNull(), "replayed")
            .when(F.col("_fp").isNotNull(), "dup_hist")
            .otherwise("accepted")
            .alias("status"),
        )
    )


# ===========================================================================
# Curated streaming ingest classification (BANKED FOR r16 REGISTRATION —
# see COVERAGE.md "Next catalog addition"): the oracle-paired spec twin
# of the FULL curated streaming policy — NearDupCorpusStore with
# streaming/curation's gates wired in, against a store with live
# tombstones. Composes every streaming contract in the catalog:
# decontamination prefilter (gates-first: a contaminated doc never
# reaches fingerprinting), quality+language accept gate, then the exact
# tier (dup_batch / replayed / dup_hist), the near-dup band tier, and
# the tombstone live-history projection (a tombstoned id resurrects; a
# dead fingerprint and dead band rows no longer block). Deliberately NOT
# @_register-ed this round: the registry is at the 150/150 rotation
# ceiling and the r16 window slot requires a retirement from the
# r13-green cohort (the cohort due by window staleness — see COVERAGE.md
# r16 pre-plan; the earlier distinct_users_exact suggestion is stale:
# that query re-greened in r14). Until registration it is
# oracle-verified every session by tests/test_preregistered.py.
# ===========================================================================
_CURATED_T1 = (
    "the quick brown fox jumps over the lazy dog and runs far away from home"
)
_CURATED_T2 = (
    "a small boat sails on the wide blue sea while the wind blows gently "
    "to the north"
)
_CURATED_T3 = (
    "an old clock ticks on the stone wall as the rain falls softly outside "
    "in the night"
)
_CURATED_T4 = (
    "bright stars shine over the quiet village while children sleep and "
    "dream of tomorrow"
)
_CURATED_T5 = (
    "seven geese fly across the cold grey sky before the winter storm "
    "arrives each year"
)
_CURATED_BAD = "zz zz zz"  # 3 'und' tokens: fails the quality+lang gate
_CURATED_TOMBSTONED = (8_000_001, 8_000_003)  # H1 (T1) and H3 (T4) are dead


def _sql_gate_ok(src: str) -> str:
    """(doc_id, ok) for a (doc_id, text) relation: the streaming curation
    accept gate — quality_score >= 0.75 AND lang_id = 'en', the exact
    predicate of docs_quality_filter / streaming.curation.quality_accept."""
    counts = ", ".join(
        f"{sql} AS c_{lg}" for lg, sql in _SQL_LANG_COUNTS.items()
    )
    return f"""
      SELECT doc_id,
             (CAST(
               (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN (CASE WHEN length(text) > 0
                            THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                                 / length(text) ELSE 0.0 END) <= 0.2 THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN n_tokens > 0
                       AND CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / n_tokens
                           BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN n_tokens > 0
                       AND CAST(c_en AS DOUBLE) / n_tokens >= 0.01 THEN 0.25 ELSE 0.0 END)
             AS DOUBLE) >= 0.75 AND {_SQL_LANG_CASE} = 'en') AS ok
      FROM (SELECT *, {_SQL_LANG_BEST} AS best FROM (
            SELECT doc_id, text, len(toks) AS n_tokens, {counts}
            FROM (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM {src})))
    """


def _sql_contaminated(src: str) -> str:
    """Distinct doc_ids of a (doc_id, text) relation sharing any word
    8-gram with the ``bgrams`` benchmark set (docs_decontaminate's test,
    as the streaming prefilter's drop set)."""
    return f"""
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id,
               unnest(list_distinct({_sql_ngrams("toks", _DECON_N)})) AS g
        FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM {src})
      ) WHERE {_sql_md5_long("g")} IN (SELECT gh FROM bgrams)
    """


def _docs_curated_ingest_oracle() -> str:
    fp = _sql_md5_long("text")
    mh_cols = ", ".join(f"{_sql_minhash(s)} AS mh{s}" for s in range(8))
    jac = "CAST(inter AS DOUBLE) / (na + nb - inter)"
    t1, t2, t3, t4, t5 = (
        _CURATED_T1,
        _CURATED_T2,
        _CURATED_T3,
        _CURATED_T4,
        _CURATED_T5,
    )
    dead = ", ".join(str(i) for i in _CURATED_TOMBSTONED)
    return f"""
    WITH bench AS (
      SELECT list_slice({_SQL_TOKS}, {_DECON_SLICE_START},
                        {_DECON_SLICE_START + _DECON_SLICE_LEN - 1}) AS btoks
      FROM documents WHERE doc_id % 13 = 0
    ),
    bgrams AS MATERIALIZED (
      SELECT DISTINCT {_sql_md5_long("g")} AS gh
      FROM (SELECT unnest({_sql_ngrams("btoks", _DECON_N)}) AS g FROM bench)
    ),
    hraw AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 != 9),
    hok AS ({_sql_gate_ok("hraw")}),
    hcont AS ({_sql_contaminated("hraw")}),
    hcur AS (
      SELECT doc_id, text FROM hraw
      WHERE doc_id IN (SELECT doc_id FROM hok WHERE ok)
        AND doc_id NOT IN (SELECT doc_id FROM hcont)
      UNION ALL SELECT 8000001, '{t1}'
      UNION ALL SELECT 8000002, '{t2}'
      UNION ALL SELECT 8000003, '{t4}'
      UNION ALL SELECT 8000004, '{t5}'
    ),
    live AS MATERIALIZED (
      SELECT doc_id, text, {fp} AS fp FROM hcur
      WHERE doc_id NOT IN ({dead})
    ),
    braw AS MATERIALIZED (
      SELECT DISTINCT doc_id, text, fp FROM (
        SELECT doc_id, text, {fp} AS fp FROM documents WHERE doc_id % 10 = 9
        UNION ALL SELECT 8000001, '{t1}', {_sql_md5_long(f"'{t1}'")}
        UNION ALL SELECT 8000002, '{t2}', {_sql_md5_long(f"'{t2}'")}
        UNION ALL SELECT 9000001, '{t5}', {_sql_md5_long(f"'{t5}'")}
        UNION ALL SELECT 9000002, '{t4}', {_sql_md5_long(f"'{t4}'")}
        UNION ALL SELECT 9000003, '{t2} zq', {_sql_md5_long(f"'{t2} zq'")}
        UNION ALL SELECT 9000004, '{t3}', {_sql_md5_long(f"'{t3}'")}
        UNION ALL SELECT 9000005, '{t3}', {_sql_md5_long(f"'{t3}'")}
        UNION ALL SELECT 9000006, '{_CURATED_BAD}',
                         {_sql_md5_long(f"'{_CURATED_BAD}'")}
        UNION ALL SELECT 9000007, text, {fp} FROM documents WHERE doc_id = 0
      )
    ),
    bok AS ({_sql_gate_ok("braw")}),
    bcont AS ({_sql_contaminated("braw")}),
    surv AS MATERIALIZED (
      SELECT doc_id, text, fp FROM braw
      WHERE doc_id NOT IN (SELECT doc_id FROM bcont)
        AND doc_id IN (SELECT doc_id FROM bok WHERE ok)
    ),
    reps AS (SELECT fp, min(doc_id) AS rep FROM surv GROUP BY fp),
    excls AS MATERIALIZED (
      SELECT b.doc_id, b.text,
             CASE WHEN b.doc_id != r.rep THEN 'dup_batch'
                  WHEN b.doc_id IN (SELECT doc_id FROM live) THEN 'replayed'
                  WHEN b.fp IN (SELECT fp FROM live) THEN 'dup_hist'
             END AS ex_status
      FROM surv b JOIN reps r ON r.fp = b.fp
    ),
    exact_ok AS (SELECT doc_id, text FROM excls WHERE ex_status IS NULL),
    btok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM exact_ok),
    bshin AS MATERIALIZED (
      SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh FROM btok),
    bhsh AS (SELECT doc_id, {_SQL_BASE_HASHES} AS hs FROM bshin),
    bmh AS (SELECT doc_id, {mh_cols} FROM bhsh),
    bbands AS MATERIALIZED ({_sql_band_rows("bmh")}),
    htok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM live),
    hshin AS MATERIALIZED (
      SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh FROM htok),
    hhsh AS (SELECT doc_id, {_SQL_BASE_HASHES} AS hs FROM hshin),
    hmh AS (SELECT doc_id, {mh_cols} FROM hhsh),
    hbands AS MATERIALIZED ({_sql_band_rows("hmh")}),
    cand_in AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bbands a JOIN bbands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    drop_in AS (
      SELECT DISTINCT b_id AS doc_id FROM (
        SELECT c.b_id,
               len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
               len(sa.sh) AS na, len(sb.sh) AS nb
        FROM cand_in c
        JOIN bshin sa ON sa.doc_id = c.a_id
        JOIN bshin sb ON sb.doc_id = c.b_id
      ) WHERE {jac} >= 0.5
    ),
    cand_h AS (
      SELECT DISTINCT a.doc_id AS a_id, h.doc_id AS b_id
      FROM bbands a JOIN hbands h
        ON a.band_idx = h.band_idx AND a.band_key = h.band_key
    ),
    drop_h AS (
      SELECT DISTINCT a_id AS doc_id FROM (
        SELECT c.a_id,
               len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
               len(sa.sh) AS na, len(sb.sh) AS nb
        FROM cand_h c
        JOIN bshin sa ON sa.doc_id = c.a_id
        JOIN hshin sb ON sb.doc_id = c.b_id
      ) WHERE {jac} >= 0.5
    ),
    dropped AS (SELECT doc_id FROM drop_in UNION SELECT doc_id FROM drop_h)
    SELECT b.doc_id,
           CASE WHEN b.doc_id IN (SELECT doc_id FROM bcont)
                THEN 'contaminated'
                WHEN b.doc_id NOT IN (SELECT doc_id FROM bok WHERE ok)
                THEN 'rejected'
                ELSE COALESCE(e.ex_status,
                     CASE WHEN b.doc_id IN (SELECT doc_id FROM dropped)
                          THEN 'near_dup' ELSE 'accepted' END)
           END AS status
    FROM braw b LEFT JOIN excls e ON e.doc_id = b.doc_id
    """


@_register(
    "docs_curated_ingest",
    _docs_curated_ingest_oracle(),
    "Curated streaming ingest classification: the oracle-paired spec twin "
    "of the FULL curated policy composed in the store's own gates-first "
    "order — decontamination prefilter, quality+lang accept gate, exact "
    "fingerprint tier, near-dup band tier, and the tombstone live-history "
    "projection — SEVEN statuses (contaminated / rejected / dup_batch / "
    "replayed / dup_hist / near_dup / accepted), each pinned by a planted "
    "row including both tombstone deltas (a tombstoned id re-sent is "
    "ACCEPTED/resurrected; dead content under a new id is ACCEPTED). "
    "Built from NearDupCorpusStore's own tier functions + "
    "streaming/curation's gate definitions (curated_store_gates), so "
    "spec fidelity is by construction. Scale shape: gates are per-row "
    "codegen before any join; band/fingerprint tiers are "
    "hash-partitioned equi-joins on the batch keyspace; corpus-derived "
    "sides shuffle_hash-hinted, never statically broadcast; bench-gram "
    "decon side is a broadcast HASH join on gh (bounded gram set)",
    reference="spec twin of streaming/corpus.NearDupCorpusStore."
    "ingest_batch under curated_store_gates + delete_docs tombstones "
    "(banked r15, registered r16); "
    "SURVEY §2.9 T3 exactly-once-by-idempotence composed with the "
    "curation policy; reference contract "
    "/root/reference/apps/spark_app/flight_stream.py:33-36",
    tags=("dedup", "northstar", "streaming-twin", "tombstone", "curation"),
)
def q_docs_curated_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted scenario: curated history = the quality+decon-gated 90%
    slice plus four synthetic accepted docs (T1/T2/T4/T5), of which T1
    and T4's ids are TOMBSTONED. The batch re-sends tombstoned T1 under
    its id (ACCEPTED — resurrection), live T2 under its id (replayed),
    live T5's text under a new id (dup_hist), DEAD T4's text under a new
    id (ACCEPTED — dead content no longer blocks), an appended-token
    near-copy of live T2 (near_dup), an in-batch clone pair of T3
    (accepted + dup_batch), a gate-failing text (rejected), and a copy
    of benchmark-excerpt doc 0 (contaminated — the prefilter runs
    FIRST, so a contaminated doc never reaches fingerprinting, exactly
    the store's gates-first order). Built from the store's own tier
    functions plus streaming/curation's gate definitions, so spec
    fidelity is by construction."""
    from ..streaming.curation import quality_accept  # noqa: PLC0415

    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    fp = TX.md5_long(F.col("text"))

    toks_all = d.select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    bench = _decon_bench_grams(toks_all).localCheckpoint(eager=False)

    hist_plant_rows = [
        (8_000_001, _CURATED_T1),
        (8_000_002, _CURATED_T2),
        (8_000_003, _CURATED_T4),
        (8_000_004, _CURATED_T5),
    ]
    batch_plant_rows = [
        (8_000_001, _CURATED_T1),          # tombstoned id -> accepted
        (8_000_002, _CURATED_T2),          # live id -> replayed
        (9_000_001, _CURATED_T5),          # live text, new id -> dup_hist
        (9_000_002, _CURATED_T4),          # DEAD text, new id -> accepted
        (9_000_003, _CURATED_T2 + " zq"),  # near-copy of live -> near_dup
        (9_000_004, _CURATED_T3),          # fresh -> accepted
        (9_000_005, _CURATED_T3),          # in-batch clone -> dup_batch
        (9_000_006, _CURATED_BAD),         # gate fail -> rejected
    ]
    # Plant-id class invariant (r17, ADVICE): the batch's corpus slice is
    # doc_id % 10 == 9 and its tokens come from the toks_all barrier; the
    # plants must therefore occupy the COMPLEMENT class (id % 10 != 9) so
    # the `btoks` rebuild below (braw.filter(% 10 != 9) tokenized inline)
    # is exactly "everything not already tokenized in toks_all".
    _plant_ids = [i for i, _ in hist_plant_rows + batch_plant_rows] + [9_000_007]
    if any(i % 10 == 9 for i in _plant_ids):
        raise ValueError("plant id in the corpus-batch class (doc_id % 10 == 9)")
    hist_plants = spark.createDataFrame(hist_plant_rows, "doc_id long, text string")
    batch_plants = spark.createDataFrame(batch_plant_rows, "doc_id long, text string")

    hist_raw = d.filter(F.col("doc_id") % 10 != 9)
    # r16: the history slice of the tokenized corpus is a doc_id FILTER on
    # toks_all (same id universe), not a semi join — one plan node, no
    # join build (guide §2.4).
    htoks = toks_all.filter(F.col("doc_id") % 10 != 9)
    hcont = decontaminate_from(htoks, bench).select("doc_id")
    live = (
        hist_raw.filter(quality_accept(hist_raw))
        .join(hcont.hint("shuffle_hash"), "doc_id", "left_anti")
        .unionByName(hist_plants)
        .filter(~F.col("doc_id").isin(list(_CURATED_TOMBSTONED)))
        .withColumn("fp", fp)
        .localCheckpoint(eager=False)
    )

    braw = (
        d.filter(F.col("doc_id") % 10 == 9)
        .unionByName(batch_plants)
        .unionByName(
            d.filter(F.col("doc_id") == 0).select(
                F.lit(9_000_007).cast("long").alias("doc_id"), "text"
            )  # benchmark-excerpt copy -> contaminated
        )
        .withColumn("fp", fp)
        .dropDuplicates(["doc_id", "fp"])
        .localCheckpoint(eager=False)
    )
    # r16: the corpus slice of the batch re-reads its tokens from the
    # toks_all barrier (one tokenize of the corpus total); only the 9
    # plant rows (texts not in the corpus frame) tokenize inline over
    # the braw checkpoint. Same per-row values, one fewer Catalyst
    # barrier and no second tokenize of the batch slice.
    # r17 (ADVICE): the inline-tokenize slice is the EXACT complement of
    # the toks_all slice (doc_id % 10 != 9) instead of the 8M magic
    # number; the plant-id class check above guarantees equivalence.
    btoks = toks_all.filter(F.col("doc_id") % 10 == 9).unionByName(
        braw.filter(F.col("doc_id") % 10 != 9).select(
            "doc_id", TX.tokens(F.col("text")).alias("toks")
        )
    )
    bcont = (
        decontaminate_from(btoks, bench)
        .select("doc_id")
        .withColumn("_cont", F.lit(True))
    )
    # Gates-first, in the store's order: prefilter (decon) drops before
    # the accept Column is even evaluated; the twin classifies instead.
    # r16: the barrier moved from `surv` to `gated` — gated feeds the
    # final classification AND the survivor tier, so checkpointing it
    # evaluates the decon prefilter join ONCE instead of twice; surv is
    # a plain filter over the cached frame.
    gated = (
        braw.join(bcont.hint("shuffle_hash"), "doc_id", "left")
        .withColumn("_ok", quality_accept(braw))
        .localCheckpoint(eager=False)
    )
    surv = gated.filter(F.col("_cont").isNull() & F.col("_ok"))

    reps = surv.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    excls = (
        surv.join(reps.hint("shuffle_hash"), "fp", "left")
        .join(
            live.select("doc_id")
            .withColumn("_id", F.lit(True))
            .hint("shuffle_hash"),
            "doc_id",
            "left",
        )
        .join(
            live.select("fp")
            .distinct()
            .withColumn("_fp", F.lit(True))
            .hint("shuffle_hash"),
            "fp",
            "left",
        )
        .select(
            "doc_id",
            "text",
            F.when(F.col("doc_id") != F.col("rep"), "dup_batch")
            .when(F.col("_id").isNotNull(), "replayed")
            .when(F.col("_fp").isNotNull(), "dup_hist")
            .alias("ex_status"),
        )
        .localCheckpoint(eager=False)
    )
    exact_ok = excls.filter(F.col("ex_status").isNull()).select(
        "doc_id", "text"
    )
    dropped = _near_dup_drops(exact_ok, live.select("doc_id", "text"))
    return (
        gated.join(
            excls.select("doc_id", "ex_status").hint("shuffle_hash"),
            "doc_id",
            "left",
        )
        .join(dropped.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_cont").isNotNull(), "contaminated")
            .when(~F.col("_ok"), "rejected")
            .when(F.col("ex_status").isNotNull(), F.col("ex_status"))
            .when(F.col("_nd").isNotNull(), "near_dup")
            .otherwise("accepted")
            .alias("status"),
        )
    )


# ===========================================================================
# Packing efficiency under the curriculum order (r10): compose
# docs_training_order's stride-scheduled global order with
# docs_sequence_packing's contiguous-bin model and measure what the
# interleave costs in document fragmentation — the number a training team
# reads before choosing concat-then-chunk packing over per-doc padding.
# ===========================================================================
def _packing_eff_oracle() -> str:
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, lang, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
             {_sql_md5_long("'order:' || CAST(doc_id AS VARCHAR)")} AS tie
      FROM documents
    ),
    t AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lt
          FROM tok GROUP BY lang),
    tot AS (SELECT CAST(sum(lt) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_langs FROM t),
    w AS (
      SELECT lang,
             CAST(round({_ORDER_FX} / least({_MIX_CAP},
                  (1.0 / n_langs) / (CAST(lt AS DOUBLE) / total)))
                  AS BIGINT) AS inv_w
      FROM t CROSS JOIN tot
    ),
    keyed AS (
      SELECT tok.doc_id, tok.lang, tok.n_tokens, tok.tie,
             (2 * CAST(row_number() OVER (PARTITION BY tok.lang
                       ORDER BY tok.tie, tok.doc_id) AS BIGINT) - 1)
             * w.inv_w AS vkey
      FROM tok JOIN w USING (lang)
    ),
    pref AS MATERIALIZED (
      SELECT *, CAST(sum(n_tokens) OVER (ORDER BY vkey, tie, doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                AS prefix_before
      FROM keyed
    ),
    g AS (SELECT CAST((sum(n_tokens) + {_PACK_TOKENS - 1}) // {_PACK_TOKENS}
                      AS BIGINT) AS n_bins,
                 CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM pref)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS lang_tokens,
           CAST(sum(CASE WHEN n_tokens > 0
                          AND prefix_before // {_PACK_TOKENS}
                              <> (prefix_before + n_tokens - 1)
                                 // {_PACK_TOKENS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
           n_bins,
           CAST(total_tokens AS DOUBLE) / (n_bins * {_PACK_TOKENS})
             AS fill_ratio
    FROM pref CROSS JOIN g
    GROUP BY lang, n_bins, total_tokens
    """


@_register(
    "docs_packing_efficiency",
    _packing_eff_oracle(),
    f"Packing efficiency of the curriculum order: documents are laid out "
    "in docs_training_order's stride-scheduled GLOBAL order (vkey, tie, "
    f"doc_id), concatenated, and chunked into {_PACK_TOKENS}-token bins "
    "(docs_sequence_packing's contiguous model); per language this "
    "reports how many documents the chunking splits across a bin "
    "boundary, plus the global bin count and fill ratio — the "
    "fragmentation cost of interleaving languages at mix-weight rates, "
    "measured before anyone trains on it. The global prefix sum is "
    "computed WITHOUT a global window: repartitionByRange on the order "
    "key, partition-local running sums behind a checkpoint barrier, and "
    "per-partition token offsets from a bounded n_partitions-row "
    "aggregate (broadcast) — the same distributed-enumeration idiom as "
    "docs_training_order, here summing tokens instead of counting rows. "
    "The only unpartitioned window runs over that bounded aggregate "
    "(n_partitions rows), never the corpus. ONE corpus shuffle for the "
    "range partitioning (+1 for the doc_id token join); at 100 TB the "
    "same plan writes the packed order as a repartitionByRange sorted "
    "write with bins as a derived column",
    reference="[NORTH-STAR] training-batch assembly: stride scheduling "
    "(Waldspurger '95) x sequence packing; composes docs_training_order "
    "+ docs_sequence_packing",
    tags=("northstar", "curation", "window", "text"),
)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    keyed = _curriculum_keyed(spark, docs)
    tok = docs.select(
        "doc_id", TX.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    k2 = keyed.join(tok, "doc_id")
    nparts = spark.sparkContext.defaultParallelism
    part = (
        k2.repartitionByRange(nparts, "vkey", "tie", "doc_id")
        .sortWithinPartitions("vkey", "tie", "doc_id")
        .select("*", F.spark_partition_id().alias("pid"))
        .localCheckpoint(eager=False)
    )
    wloc = (
        Window.partitionBy("pid")
        .orderBy("vkey", "tie", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = part.withColumn(
        "local_pref",
        (F.sum("n_tokens").over(wloc) - F.col("n_tokens")).cast("long"),
    )
    grp = part.groupBy("pid").agg(
        F.sum("n_tokens").cast("long").alias("ptok")
    )
    # Unpartitioned window over the BOUNDED per-partition aggregate
    # (n_partitions rows) — post-aggregation by construction.
    offw = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = grp.select(
        "pid",
        F.coalesce(F.sum("ptok").over(offw), F.lit(0))
        .cast("long")
        .alias("off"),
    )
    pref = loc.join(F.broadcast(offsets), "pid").withColumn(
        "prefix_before", (F.col("off") + F.col("local_pref")).cast("long")
    )
    split = (F.col("n_tokens") > 0) & (
        F.floor(F.col("prefix_before") / _PACK_TOKENS)
        != F.floor(
            (F.col("prefix_before") + F.col("n_tokens") - 1) / _PACK_TOKENS
        )
    )
    totals = pref.agg(
        F.floor((F.sum("n_tokens") + (_PACK_TOKENS - 1)) / _PACK_TOKENS)
        .cast("long")
        .alias("n_bins"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    return (
        pref.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("lang_tokens"),
            F.sum(split.cast("int")).cast("long").alias("n_split_docs"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "lang_tokens",
            "n_split_docs",
            "n_bins",
            (
                F.col("total_tokens").cast("double")
                / (F.col("n_bins") * _PACK_TOKENS)
            ).alias("fill_ratio"),
        )
    )


# ===========================================================================
# Cross-snapshot corpus dedup drift (r10): the orders_snapshot_diff CDC
# pattern applied to the documents table's DEDUP IDENTITY — per content
# fingerprint, how the duplicate structure moved between two corpus
# snapshots (a crawl refresh): new content, vanished content, and
# fingerprints whose duplicate multiplicity grew or shrank.
# ===========================================================================
def _snapshot_drift_oracle() -> str:
    return rf"""
    WITH v1 AS (
      SELECT {_sql_md5_long("'fp:' || text")} AS fp,
             CAST(count(*) AS BIGINT) AS n1
      FROM documents WHERE doc_id % 5 <> 4 GROUP BY 1
    ),
    v2src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN regexp_replace(text, '\s+\S+\s*$', '')
                  ELSE text END AS text
      FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text
      FROM documents WHERE doc_id % 11 = 0
    ),
    v2 AS (
      SELECT {_sql_md5_long("'fp:' || text")} AS fp,
             CAST(count(*) AS BIGINT) AS n2
      FROM v2src GROUP BY 1
    )
    SELECT CASE WHEN v1.fp IS NULL THEN 'new_content'
                WHEN v2.fp IS NULL THEN 'vanished'
                WHEN n2 > n1 THEN 'dup_grown'
                WHEN n2 < n1 THEN 'dup_shrunk'
                ELSE 'stable' END AS change_type,
           CAST(count(*) AS BIGINT) AS n_fingerprints,
           CAST(sum(COALESCE(n2, 0) - COALESCE(n1, 0)) AS BIGINT)
             AS docs_delta
    FROM v1 FULL OUTER JOIN v2 ON v1.fp = v2.fp
    GROUP BY 1
    """


@_register(
    "docs_snapshot_dedup_drift",
    _snapshot_drift_oracle(),
    "Cross-snapshot corpus dedup drift: two corpus versions derive "
    "deterministically from documents (v1 = 80% pre-refresh slice; v2 = "
    "the refresh, where every 7th doc's tail token changed and every "
    "11th doc gained an exact duplicate), each snapshot collapses to "
    "(content fingerprint, multiplicity), and ONE keyed full outer join "
    "classifies every fingerprint as new_content / vanished / dup_grown "
    "/ dup_shrunk / stable with the net document delta per class — the "
    "dedup-identity twin of orders_snapshot_diff, and the audit a "
    "curation pipeline runs between crawls to see whether duplication "
    "is accumulating faster than content. Scale shape: each snapshot "
    "shuffles O(distinct fingerprints) after map-side partial counts "
    "(never raw docs), the diff join is keyed on the fingerprint, and "
    "the output is 5 rows; md5-prefix fingerprints (not xxhash64) keep "
    "both engines hash-identical",
    reference="SURVEY.md §2.7 M7 read-side complement on documents; "
    "[NORTH-STAR] CDC/snapshot reconciliation x exact dedup; pairs with "
    "orders_snapshot_diff (plans/relational_ext.py)",
    tags=("dedup", "cdc", "northstar"),
)
def q_snapshot_dedup_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    fp = TX.md5_long(F.concat(F.lit("fp:"), F.col("text")))
    v1 = (
        docs.filter(F.col("doc_id") % 5 != 4)
        .select(fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n1"))
    )
    mutated = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.regexp_replace("text", r"\s+\S+\s*$", ""),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    copies = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    v2 = (
        mutated.unionByName(copies)
        .select(fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    j = v1.withColumnRenamed("fp", "fp1").join(
        v2.withColumnRenamed("fp", "fp2"),
        F.col("fp1") == F.col("fp2"),
        "full_outer",
    )
    change = (
        F.when(F.col("fp1").isNull(), "new_content")
        .when(F.col("fp2").isNull(), "vanished")
        .when(F.col("n2") > F.col("n1"), "dup_grown")
        .when(F.col("n2") < F.col("n1"), "dup_shrunk")
        .otherwise("stable")
    )
    return (
        j.select(
            change.alias("change_type"),
            (
                F.coalesce(F.col("n2"), F.lit(0))
                - F.coalesce(F.col("n1"), F.lit(0))
            ).alias("delta"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum("delta").cast("long").alias("docs_delta"),
        )
    )
