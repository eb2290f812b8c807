"""North-star catalog: LLM-training-data pipeline operators.

Deduplication (exact, minhash-LSH + jaccard verify, simhash), similarity
search (brute-force and LSH-bucketed top-k cosine, near-dup pairs), text
analysis (tokens, quality, language-ID, fingerprints) and multimodal column
plumbing — each as a (Spark builder, DuckDB oracle) pair on the driver's
``documents`` / ``embeddings`` tables.

None of this exists in the reference (SURVEY.md §2.11: the space is empty);
it extends the engine per BASELINE.json's north star. Determinism rules are
the same as catalog.py: md5-prefix hashes (cross-engine), integer ratio
arithmetic, explicit tie-breaks. The test corpora contain no natural
duplicates, so dup-detection queries derive deterministic variants in-query
(exact copies / last-token-truncated / component-perturbed) — the operator
pipeline is identical to what would run on a raw corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions import vectors as V
from ..operators.dedup import (
    JACCARD_THRESHOLD,
    N_MINHASH,
    band_rows,
    blocked_pairs,
    jaccard_pairs,
    shingle_sets,
)
from .catalog import _register, _spread, _t

# ---------------------------------------------------------------------------
# Shared SQL fragments (DuckDB dialect)
# ---------------------------------------------------------------------------
_SQL_TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t != '')"
_SQL_SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) "
    "ELSE [] END"
)


def _sql_md5_long(expr: str) -> str:
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


_SQL_BASE_HASHES = (
    "list_transform(sh, s -> ('0x' || substring(md5(s), 1, 8))::BIGINT)"
)


def _sql_minhash(seed: int) -> str:
    a, b = TX.MINHASH_COEFFS[seed]
    return f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {TX.MINHASH_PRIME}))"


# Above this many candidate pairs, verify joins fall back to shuffle joins:
# a broadcast of an unbounded candidate set is a driver/executor memory cliff
# at 100 TB corpus sizes with high duplicate rates.
_BROADCAST_CAND_LIMIT = 2_000_000


def _broadcast_if_small(df: DataFrame, limit: int | None = None) -> DataFrame:
    """Broadcast a candidate set only when it is provably small.

    The caller must pass a materialized (checkpointed) DataFrame so the
    count() probe does not recompute the candidate join. Above ``limit``
    (module-level _BROADCAST_CAND_LIMIT when None, so it is tunable) the
    plain DataFrame is returned and Spark plans a shuffle join instead —
    same results, no memory cliff.
    """
    if limit is None:
        limit = _BROADCAST_CAND_LIMIT
    return F.broadcast(df) if df.count() <= limit else df

# ===========================================================================
# Exact dedup — hash-groupBy on a canonical fingerprint
# ===========================================================================
_EXACT_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
"""


@_register(
    "docs_exact_dedup",
    f"""
    WITH corpus AS ({_EXACT_CORPUS_SQL})
    SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM corpus
    GROUP BY 1
    """,
    "Exact near-canonical dedup: normalize -> md5 fingerprint -> hash "
    "groupBy keeping the smallest id. Shuffle is O(distinct fingerprints) "
    "with map-side partial aggregation; the canonical scale path for exact "
    "dedup at 100 TB",
    reference="[NORTH-STAR] generalizes A1 (load_warehouse.py:210-213) to content keys",
    tags=("dedup", "northstar"),
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return (
        corpus.select("doc_id", TX.fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ===========================================================================
# Text statistics / quality / language-ID
# ===========================================================================
def _sql_stop_count(words: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, t -> list_contains([{arr}], t)))"


_SQL_LANG_COUNTS = {lg: _sql_stop_count(ws) for lg, ws in TX.STOPWORDS.items()}
_SQL_LANG_BEST = "greatest(" + ", ".join(f"c_{lg}" for lg in TX.LANG_ORDER) + ")"
_SQL_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN best > 0 AND c_{lg} = best THEN '{lg}'" for lg in TX.LANG_ORDER
    )
    + " ELSE 'und' END"
)


@_register(
    "docs_text_stats",
    f"""
    WITH tok AS (
      SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
    ),
    cnt AS (
      SELECT *,
             len(toks) AS n_tokens,
             {", ".join(f"{sql} AS c_{lg}" for lg, sql in _SQL_LANG_COUNTS.items())}
      FROM tok
    ),
    best AS (SELECT *, {_SQL_LANG_BEST} AS best FROM cnt)
    SELECT doc_id,
           n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
           CASE WHEN length(text) > 0
                THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                     / length(text)
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN n_tokens > 0
                THEN CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / n_tokens
                ELSE 0.0 END AS mean_token_len,
           CASE WHEN n_tokens > 0 THEN CAST(c_en AS DOUBLE) / n_tokens ELSE 0.0 END
             AS stopword_ratio_en,
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
           AS DOUBLE) AS quality_score,
           {_SQL_LANG_CASE} AS lang_pred
    FROM best
    """,
    "Per-document text analysis: whitespace + BPE-ish token counts, "
    "punctuation ratio, mean token length, stopword ratio, composite quality "
    "score, stopword-argmax language ID — all single-pass codegen'd "
    "expressions, no UDFs",
    reference="[NORTH-STAR] text analysis ops; no reference counterpart",
    tags=("text", "northstar"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 (guide §1.2): the stat fan-out referenced tokens(text) ~50x in
    # one projection. Catalyst inlines the tokenize into each reference
    # and the references sit inside interpreted higher-order functions,
    # which runtime codegen CSE does NOT reach — so every row paid ~50
    # split+filter passes (measured 10x on the quality-filter shape).
    # Tokenize ONCE behind a barrier; every stat reads the materialized
    # array via the *_from variants. Same expressions, same values.
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", "text", TX.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    t, toks = F.col("text"), F.col("toks")
    return base.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        TX.bpe_ish_token_count(t).alias("n_bpe_tokens"),
        TX.punct_ratio(t).alias("punct_ratio"),
        F.when(
            F.size(toks) > 0,
            F.length(F.regexp_replace(t, r"\s+", "")).cast("double") / F.size(toks),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_token_len"),
        TX.stopword_ratio_from(toks, "en").alias("stopword_ratio_en"),
        TX.quality_score_from(t, toks).alias("quality_score"),
        TX.lang_id_from(toks).alias("lang_pred"),
    )


@_register(
    "docs_lang_confusion",
    f"""
    WITH tok AS (SELECT lang, {_SQL_TOKS} AS toks FROM documents),
    cnt AS (
      SELECT lang,
             {", ".join(f"{sql} AS c_{lg}" for lg, sql in _SQL_LANG_COUNTS.items())}
      FROM tok
    ),
    best AS (SELECT *, {_SQL_LANG_BEST} AS best FROM cnt)
    SELECT lang AS lang_true, {_SQL_LANG_CASE} AS lang_pred, count(*) AS n
    FROM best GROUP BY 1, 2
    """,
    "Language-ID confusion matrix vs the labeled lang column",
    reference="[NORTH-STAR]",
    tags=("text", "northstar", "A6"),
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: lang_id references the token array once per language counter
    # (x4 langs x hits+best), all inside interpreted HOFs that re-run the
    # inlined tokenize per reference — tokenize once behind a barrier
    # (same fix and measurement as q_text_stats).
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = docs.select(
        F.col("lang").alias("lang_true"),
        TX.tokens(F.col("text")).alias("toks"),
    ).localCheckpoint(eager=False)
    return (
        toks.select("lang_true", TX.lang_id_from(F.col("toks")).alias("lang_pred"))
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "docs_quality_filter",
    f"""
    WITH tok AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
    cnt AS (
      SELECT *, len(toks) AS n_tokens,
             {", ".join(f"{sql} AS c_{lg}" for lg, sql in _SQL_LANG_COUNTS.items())}
      FROM tok
    ),
    best AS (SELECT *, {_SQL_LANG_BEST} AS best FROM cnt),
    scored AS (
      SELECT doc_id, n_tokens,
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
             AS DOUBLE) AS quality_score,
             {_SQL_LANG_CASE} AS lang_pred
      FROM best
    )
    SELECT doc_id, n_tokens, quality_score
    FROM scored
    WHERE quality_score >= 0.75 AND lang_pred = 'en'
    """,
    "The corpus-cleaning pass every LLM data pipeline runs: keep documents "
    "scoring >= 0.75 on the composite quality heuristic AND language-ID'd "
    "as English. Pure codegen'd filter over one scan — at 100 TB this is "
    "the cheap pre-pass that shrinks everything downstream",
    reference="[NORTH-STAR] C4-style quality+language filtering composed from text ops",
    tags=("text", "northstar"),
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: the toks projection used to be left collapsible ("collapses
    # back into the scan — same single-pass plan"); measured, that
    # single-Project form re-ran the inlined tokenize per HOF reference
    # (~19 copies) because codegen CSE does not reach interpreted HOF
    # subtrees: 1.58 -> 0.18 s exec at sf0.1 with the barrier.
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return quality_filter_from(
        docs.select(
            "doc_id", "text", TX.tokens(F.col("text")).alias("toks")
        ).localCheckpoint(eager=False)
    )


def quality_filter_from(docs_toks: DataFrame) -> DataFrame:
    """Quality+language filter over a (doc_id, text, toks) frame.

    Standalone the toks projection collapses back into the scan (same
    single-pass plan as inlining ``tokens(text)`` everywhere); fed a
    localCheckpoint'ed frame (docs_curation_funnel) the token-dependent
    terms read the materialized array instead of re-splitting the text.
    """
    t, toks = F.col("text"), F.col("toks")
    scored = docs_toks.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        TX.quality_score_from(t, toks).alias("quality_score"),
        TX.lang_id_from(toks).alias("lang_pred"),
    )
    return scored.filter(
        (F.col("quality_score") >= 0.75) & (F.col("lang_pred") == "en")
    ).select("doc_id", "n_tokens", "quality_score")


_PACK_TOKENS = 512


@_register(
    "docs_sequence_packing",
    f"""
    WITH tok AS (
      SELECT doc_id, source, CAST(len({_SQL_TOKS}) AS INTEGER) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS prefix_before
      FROM tok
    )
    SELECT source, prefix_before // {_PACK_TOKENS} AS bin,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c
    GROUP BY 1, 2
    """,
    f"Sequence packing for LLM training: contiguous {_PACK_TOKENS}-token "
    "bins via a windowed prefix sum, packed WITHIN each source shard "
    "(PARTITION BY source) so the window never degenerates into one global "
    "partition — the scale-correct form of greedy contiguous packing",
    reference="[NORTH-STAR] training-batch sequence packing as a windowed prefix sum",
    tags=("text", "window", "northstar"),
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", "source", TX.token_count(F.col("text")).alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = tok.withColumn(
        "prefix_before", (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    )
    return (
        c.withColumn("bin", F.floor(F.col("prefix_before") / _PACK_TOKENS))
        .groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ===========================================================================
# MinHash signatures + LSH near-dup pairs with exact-jaccard verification
# ===========================================================================
_NEAR_CORPUS_SQL = r"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             regexp_replace(text, '\s+\S+\s*$', '') AS text
      FROM documents WHERE doc_id % 7 = 0
"""


def _near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.regexp_replace("text", r"\s+\S+\s*$", "").alias("text"),
        )
    )


@_register(
    "docs_minhash_signatures",
    f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    shin AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM tok),
    hsh AS (SELECT doc_id, {_SQL_BASE_HASHES} AS hs FROM shin)
    {" UNION ALL ".join(
        f"SELECT doc_id, {s} AS seed, {_sql_minhash(s)} AS minhash FROM hsh"
        for s in range(N_MINHASH)
    )}
    """,
    f"MinHash signatures ({N_MINHASH} permutations, md5-derived hash "
    "family) over word-trigram shingles, exploded to (doc_id, seed, minhash). "
    "Documents with <3 tokens get NULL signatures",
    reference="[NORTH-STAR] MinHash (Broder'97) on Spark higher-order functions",
    tags=("dedup", "northstar", "bench"),
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # Barrier between tokenize and shingling (r12): shingles() references
    # its token array 3x PER GRAM via element_at, so an inline
    # tokens(text) re-runs the split per reference (CollapseProject) —
    # measured 11.9 s -> 5.3 s for this stage at the 10x corpus.
    toks = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    df = toks.select(
        "doc_id", TX.shingles(F.col("toks"), 3).alias("sh")
    ).select("doc_id", TX.shingle_base_hashes(F.col("sh")).alias("hs"))
    pairs = F.array(
        *[
            F.struct(
                F.lit(s).alias("seed"),
                TX.minhash_from_hashes(F.col("hs"), s).alias("minhash"),
            )
            for s in range(N_MINHASH)
        ]
    )
    return df.select("doc_id", F.explode(pairs).alias("u")).select(
        "doc_id", F.col("u.seed").alias("seed"), F.col("u.minhash").alias("minhash")
    )


def _near_dup_oracle() -> str:
    mh_cols = ", ".join(f"{_sql_minhash(s)} AS mh{s}" for s in range(N_MINHASH))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(CAST(mh{2*b} AS VARCHAR) || '_' || CAST(mh{2*b+1} AS VARCHAR)) AS band_key "
        f"FROM mh"
        for b in range(N_MINHASH // 2)
    )
    return f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
    shin AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM tok),
    hsh AS (SELECT doc_id, {_SQL_BASE_HASHES} AS hs FROM shin),
    mh AS (SELECT doc_id, {mh_cols} FROM hsh),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.a_id, c.b_id,
             len(list_filter(list_distinct(sa.sh), x -> list_contains(sb.sh, x))) AS inter,
             len(list_distinct(sa.sh)) AS na,
             len(list_distinct(sb.sh)) AS nb
      FROM cand c
      JOIN shin sa ON sa.doc_id = c.a_id
      JOIN shin sb ON sb.doc_id = c.b_id
    )
    SELECT a_id, b_id,
           round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
    FROM verified
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
    """


@_register(
    "docs_near_dup_pairs",
    _near_dup_oracle(),
    "MinHash-LSH near-duplicate detection: banded signatures (4 bands x 2 "
    "rows) bucket candidates — only same-bucket pairs are compared — then "
    "exact trigram-Jaccard verification >= 0.5. The self-join is on "
    "(band_idx, band_key), so shuffle volume is O(candidates), never "
    "O(n^2): the standard 100 TB near-dup plan",
    reference="[NORTH-STAR] MinHash-LSH (Leskovec MMDS ch.3) as DataFrame ops",
    tags=("dedup", "northstar"),
)
def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _spread(spark, _near_corpus(spark, sf_dir))
    return near_dup_pairs_from(
        corpus.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    )


def near_dup_pairs_from(corpus_toks: DataFrame) -> DataFrame:
    """MinHash-LSH verified near-dup pairs over a (doc_id, toks) frame.

    Standalone the toks projection collapses into the scan (identical plan
    to inlining the tokenizer); docs_curation_funnel feeds a materialized
    token frame so the corpus is tokenized exactly once across stages.
    """
    shin = shingle_sets(corpus_toks)
    # Lazy barrier: materialized once at first use (still a single band
    # join however many consumers), without forcing a separate
    # driver-synchronous job at construction time.
    cand = blocked_pairs(
        band_rows(shin), "doc_id", ("band_idx", "band_key")
    ).localCheckpoint(eager=False)
    # Candidates are normally orders of magnitude smaller than the corpus
    # (that is the point of LSH): broadcast them so the shingle table streams
    # through both joins without shuffling — but only below the size guard
    # (_broadcast_if_small), since a high-dup-rate corpus can produce a
    # candidate set too large to broadcast.
    return jaccard_pairs(_broadcast_if_small(cand), shin, shin, JACCARD_THRESHOLD)


# SQL twin of TX.char_gram_hashes' polynomial gram code (r12): exact
# BIGINT arithmetic in both engines — normalized chars are < GRAM_BASE,
# so the polynomial is an injective encoding of the 5-gram; the
# multiplicative mix spreads the ordering for winnowing's window minima.
_SQL_GRAM_CODE = (
    f"(ascii(substring(t, i, 1))::BIGINT"
    f" + {TX.GRAM_BASE} * ascii(substring(t, i+1, 1))::BIGINT"
    f" + {TX.GRAM_BASE**2} * ascii(substring(t, i+2, 1))::BIGINT"
    f" + {TX.GRAM_BASE**3} * ascii(substring(t, i+3, 1))::BIGINT"
    f" + {TX.GRAM_BASE**4} * ascii(substring(t, i+4, 1))::BIGINT)"
)
_SQL_GRAM_HASH = (
    f"((({_SQL_GRAM_CODE} * {TX.GRAM_MIX_A1}) % {TX.GRAM_MIX_P1})"
    f" * {TX.GRAM_MIX_SHIFT}"
    f" + ({_SQL_GRAM_CODE} * {TX.GRAM_MIX_A2}) % {TX.GRAM_MIX_P2})"
)


# ===========================================================================
# Winnowing rolling-hash fingerprints (Schleimer SIGMOD'03)
# ===========================================================================
@_register(
    "docs_winnow_fingerprints",
    f"""
    WITH t AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(t) >= {TX.WINNOW_K} THEN
               list_transform(range(1, len(t) - {TX.WINNOW_K} + 2),
                 i -> {_SQL_GRAM_HASH})
             ELSE [] END AS hs
      FROM t
    ),
    w AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(hs) - {TX.WINNOW_W} + 1, least(len(hs), 1)) + 1),
               j -> list_min(hs[j:j+{TX.WINNOW_W - 1}]))) AS fps
      FROM g
    )
    SELECT doc_id, unnest(fps) AS fp FROM w
    """,
    f"Winnowing document fingerprints: exact polynomial gram code per char "
    f"{TX.WINNOW_K}-gram (injective over normalized text, multiplicatively "
    "mixed; replaced the md5-per-position pass that was 94 of the family's "
    "133 s at the 100x corpus — both engines state the identical integer "
    "function, r12), "
    f"distinct minima of every {TX.WINNOW_W}-window of the rolling hash sequence. "
    f"Guarantees a shared fingerprint for any common substring of length >= "
    f"{TX.WINNOW_K + TX.WINNOW_W - 1}; per-row expression work only (no shuffle "
    "until the downstream fingerprint groupBy)",
    reference="[NORTH-STAR] winnowing local fingerprinting (Schleimer et al. SIGMOD'03)",
    tags=("dedup", "fingerprint", "northstar"),
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # Barriers between the three per-row passes (normalize -> gram hashes ->
    # window minima): each stage's column is referenced many times by the
    # next stage's lambda, and CollapseProject would otherwise inline and
    # re-run the whole upstream expression per reference.
    normed = docs.select(
        "doc_id", TX.normalized_text(F.col("text")).alias("t")
    ).localCheckpoint(eager=False)
    hashed = normed.select(
        "doc_id", TX.char_gram_hashes(F.col("t")).alias("hs")
    ).localCheckpoint(eager=False)
    return hashed.select(
        "doc_id", F.explode(TX.winnow_mins(F.col("hs"))).alias("fp")
    )


# Winnow-blocked char-n-gram Jaccard near-dup: a second, independent
# near-dup method (the brief's "n-gram Jaccard") using the winnowing index
# as the blocking scheme instead of MinHash bands. Fingerprints appearing in
# more than _WINNOW_MAX_DF docs are dropped from blocking (inverted-index
# stopword capping): a popular 5-gram with a small hash would otherwise
# create a hot bucket and O(df^2) candidates at corpus scale.
_WINNOW_MAX_DF = 50
_NGRAM_JACCARD_THRESHOLD = 0.6


@_register(
    "docs_ngram_jaccard_pairs",
    f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    t AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM corpus
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(t) >= {TX.WINNOW_K} THEN
               list_transform(range(1, len(t) - {TX.WINNOW_K} + 2),
                 i -> {_SQL_GRAM_HASH})
             ELSE [] END AS hs
      FROM t
    ),
    gd AS (SELECT doc_id, list_distinct(hs) AS ghs FROM g),
    w AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(hs) - {TX.WINNOW_W} + 1, least(len(hs), 1)) + 1),
               j -> list_min(hs[j:j+{TX.WINNOW_W - 1}]))) AS fps
      FROM g
    ),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM w),
    rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {_WINNOW_MAX_DF}),
    fpr AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp)),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM fpr a JOIN fpr b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    v AS (
      SELECT c.a_id, c.b_id,
             len(list_filter(ga.ghs, x -> list_contains(gb.ghs, x))) AS inter,
             len(ga.ghs) AS na, len(gb.ghs) AS nb
      FROM cand c
      JOIN gd ga ON ga.doc_id = c.a_id
      JOIN gd gb ON gb.doc_id = c.b_id
    )
    SELECT a_id, b_id,
           round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
    FROM v
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {_NGRAM_JACCARD_THRESHOLD}
    """,
    f"Char-{TX.WINNOW_K}-gram Jaccard near-duplicates (exact polynomial gram "
    "codes, r12) blocked on the "
    "winnowing fingerprint index (pairs sharing a document-frequency-capped "
    f"fingerprint, df <= {_WINNOW_MAX_DF}); exact distinct-gram Jaccard >= "
    f"{_NGRAM_JACCARD_THRESHOLD} verify. Independent of the MinHash-LSH "
    "method: substring-level blocking with inverted-index stopword capping",
    reference="[NORTH-STAR] n-gram Jaccard dedup; winnowing-as-index (Schleimer SIGMOD'03 s.5)",
    tags=("dedup", "fingerprint", "northstar"),
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _spread(spark, _near_corpus(spark, sf_dir))
    normed = corpus.select(
        "doc_id", TX.normalized_text(F.col("text")).alias("t")
    ).localCheckpoint(eager=False)
    hashed = normed.select(
        "doc_id", TX.char_gram_hashes(F.col("t")).alias("hs")
    ).localCheckpoint(eager=False)
    # Candidate generation as ONE groupBy(fp) with in-group pair expansion
    # (r12): the earlier rare-filter + fpr self-join consumed the exploded
    # fp frame three ways, which needed either a re-run of the winnow pass
    # per consumer (the pre-r12 cost) or a stored barrier (whose ~16 B x
    # n_fps checkpoint pinned most of an 8 g driver heap at the 100x
    # corpus and failed broadcast builds). Grouping to df-capped id lists
    # instead consumes fp ONCE inline — no barrier, two fewer shuffles
    # (the rare join and the fp self-join fold into the one groupBy), and
    # the df cap bounds each group's expansion at C(50,2) pairs, so no
    # hot-bucket blowup is reachable (the same inverted-index stopword
    # capping as before, identical candidate set).
    fpg = (
        hashed.select(
            "doc_id", F.explode(TX.winnow_mins(F.col("hs"))).alias("fp")
        )
        .groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= _WINNOW_MAX_DF))
    )
    pairs = F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "b -> struct(a as a_id, b as b_id))))"
    )
    cand = (
        fpg.select(F.explode(pairs).alias("p"))
        .select("p.a_id", "p.b_id")
        .dropDuplicates()
        .localCheckpoint(eager=True)  # materialize once: reused by count + joins
    )
    # Distinct-gram sets ONLY for candidate docs (r12): the verify join
    # touches O(|cand|) documents, a few 1e4 at the 100x corpus, so
    # computing (and, pre-r12, CHECKPOINTING) array_distinct over all
    # n documents stored a second corpus-scale frame for nothing — at
    # 100x the normed+hashed+grams barriers together overran the 8 g
    # driver heap and made even a 1 MB candidate broadcast build fail.
    cand_ids = (
        cand.select(F.col("a_id").alias("doc_id"))
        .unionByName(cand.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    grams = (
        hashed.join(cand_ids, "doc_id", "semi")
        .select("doc_id", F.array_distinct("hs").alias("sh"))
        .localCheckpoint(eager=False)  # small: candidate docs only
    )
    return jaccard_pairs(
        _broadcast_if_small(cand), grams, grams, _NGRAM_JACCARD_THRESHOLD
    )


# ===========================================================================
# SimHash — fully relational (explode tokens x bit positions, re-aggregate)
# ===========================================================================
_SIMHASH_BITS = 48  # 48-bit hash: < 2^53, so FP division by 2^b is exact


def _simhash_df(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, simhash): the 48-bit SimHash fold.

    One md5 per token occurrence, then a single higher-order aggregate
    accumulating all 48 signed bit counters per document — no explode, no
    shuffle amplification. The hamming-banded pair extraction
    (docs_simhash_near_dup_pairs) blocks on these signatures.
    """
    hs = F.transform(
        TX.tokens(F.col("text")),
        lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long"),
    )
    bit_seq = F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))
    zero = F.array_repeat(F.lit(0).cast("long"), _SIMHASH_BITS)

    def bit_of(h, b):  # exact: h < 2^48, division by 2^b exact in double
        return (F.floor(h / F.pow(F.lit(2.0), b)).cast("long") % 2) == 1

    # barrier: keep the md5 pass out of the (otherwise inlined) fold exprs
    h_col = docs.select("doc_id", hs.alias("hs")).localCheckpoint(eager=False)
    counters = F.aggregate(
        F.col("hs"),
        zero,
        lambda acc, h: F.zip_with(
            acc, bit_seq, lambda a, b: a + F.when(bit_of(h, b), 1).otherwise(-1)
        ),
    )
    out = h_col.select("doc_id", counters.alias("cnt"))
    packed = F.aggregate(
        F.zip_with(
            F.col("cnt"),
            bit_seq,
            lambda c, b: F.when(c >= 0, F.pow(F.lit(2.0), b).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return out.select("doc_id", packed.alias("simhash"))


# ===========================================================================
# SimHash near-dup pairs — Manku-style multi-block candidate keys
# ===========================================================================
_SIMHASH_BLOCKS = 6  # 6 blocks x 8 bits over the 48-bit hash
_SIMHASH_HAM_T = 3  # report pairs at hamming distance <= 3


def _simhash_pairs_oracle() -> str:
    # Brute-force statement of the semantics: ALL pairs at hamming <= T.
    # The Spark plan's blocking is lossless for this threshold (pigeonhole:
    # <= 3 flipped bits leave >= 3 of the 6 blocks untouched, so some
    # 3-block combination is clean), so the oracle need not mirror it.
    return f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    tok AS (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM corpus),
    h AS (
      SELECT doc_id, ('0x' || substring(md5(tok), 1, 12))::BIGINT AS h FROM tok
    ),
    c AS (
      SELECT doc_id, b.bit,
             CASE WHEN (h // CAST(power(2, b.bit) AS BIGINT)) % 2 = 1
                  THEN 1 ELSE -1 END AS contrib
      FROM h CROSS JOIN (SELECT unnest(range(0, {_SIMHASH_BITS})) AS bit) b
    ),
    s AS (SELECT doc_id, bit, sum(contrib) AS s FROM c GROUP BY 1, 2),
    sh AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s >= 0 THEN CAST(power(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      FROM s GROUP BY doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_HAM_T}
    """


@_register(
    "docs_simhash_near_dup_pairs",
    _simhash_pairs_oracle(),
    "Third independent near-dup method (after MinHash-LSH and winnowed "
    "n-gram Jaccard): SimHash hamming-ball pair extraction with Manku-style "
    "blocking (WWW'07). The 48-bit signature splits into 6 8-bit blocks; "
    "each doc emits C(6,3)=20 candidate keys (every 3-block combination, a "
    "24-bit key), and pairs sharing any key are verified with "
    "bit_count(xor) <= 3. Pigeonhole makes the blocking LOSSLESS at this "
    "threshold, so the oracle states pure brute-force semantics while the "
    "plan joins on 24-bit keys: shuffle O(colliding pairs) with ~2^24 "
    "buckets per combination, never O(n^2) — wider keys + more tables is "
    "exactly how the web-scale dedup tiers its memory at 100 TB",
    reference="[NORTH-STAR] Manku/Jain/Das Sarma WWW'07 simhash dedup as DataFrame ops",
    tags=("dedup", "northstar", "bench"),
)
def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itertools import combinations

    corpus = _spread(spark, _near_corpus(spark, sf_dir))
    # Materialize the signatures once: reused by the 20-way key explode and
    # by both sides of the verify join.
    sh = _simhash_df(corpus).localCheckpoint(eager=True)

    def block(i: int):
        return F.shiftright(F.col("simhash"), 8 * i).bitwiseAND(F.lit(255))

    combos = list(combinations(range(_SIMHASH_BLOCKS), 3))
    keys = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("combo"),
                        (
                            block(i) * 65536 + block(j) * 256 + block(k)
                        ).alias("key"),
                    )
                    for ci, (i, j, k) in enumerate(combos)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.combo", "b.key")
    cand = blocked_pairs(keys, "doc_id", ("combo", "key")).localCheckpoint(
        eager=True  # materialized: size probe + verify join
    )
    sa = sh.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_sim"))
    sb = sh.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_sim"))
    ham = F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim"))).cast("long")
    return (
        _broadcast_if_small(cand)
        .join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", ham.alias("hamming"))
        .filter(F.col("hamming") <= _SIMHASH_HAM_T)
    )


# ===========================================================================
# Similarity search over embeddings
# ===========================================================================
_TOPK_ORACLE = """
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    )
    SELECT vec_id,
           round(
             list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))), 6) AS sim
    FROM embeddings, q
    ORDER BY sim DESC, vec_id
    LIMIT 10
"""


@_register(
    "embedding_topk_cosine",
    _TOPK_ORACLE,
    "Brute-force exact top-k cosine to a query vector (vec_id 0). One "
    "corpus scan, per-partition top-k heap (TakeOrderedAndProject), no "
    "shuffle of the data — the correct exact baseline at any scale",
    reference="[NORTH-STAR] similarity search; PAPERS.md EDBT'20/ICDE'21 top-k",
    tags=("similarity", "northstar", "bench"),
)
def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import topk_cosine

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return topk_cosine(emb, qvec, k=10)


# Banded hyperplane LSH for embedding near-dup blocking: B independent
# bands of P planes each (disjoint plane families via plane_offset). A pair
# is a candidate if it collides in ANY band. Near-dups at cosine >= 0.99
# (angle ~8.1 deg) collide per band with p ~ (1 - theta/pi)^p_eff, and
# scale-variant copies (same direction) collide in every band by
# construction.
#
# r8 scale fix (caught by scripts/smoke_100x.py: 600 s watchdog TIMEOUT at
# the 100x corpus): a FIXED plane count means a FIXED bucket count, so
# bucket occupancy — and the per-bucket pairwise candidate volume — grows
# as O(n^2 / 2^P). Every vector now computes a 16-plane signature, and the
# bucket is its first p_eff bits (a signature prefix is itself a valid
# hyperplane-LSH bucket), where p_eff grows with the corpus so buckets hold
# ~_EMB_TARGET_BUCKET vectors: candidate volume stays O(n), not O(n^2).
# p_eff derives from count(*) through an INTEGER CASE ladder (no libm —
# log2 could round differently across engines). The oracle applies it as
# the power-of-two divisor shift_div = 2^(16 - p_eff) on a full 16-plane
# signature; the Spark side reads the count first (a bounded footer-backed
# scalar that shapes expression ARITY only) and computes just the first
# p_eff planes per band — bit-identical buckets at p_eff/16 of the
# plane-dot cost (the divide-a-16-plane-signature form benched 2.5x
# slower at sf0.1). Recall trade is explicit: per-band collision
# 0.955^p_eff at theta = 8.1 deg -> 4-band recall 0.99 at p_eff=8 (small
# corpora, the pre-r8 behavior) sliding to 0.94 at p_eff=15; exact copies
# are unaffected (they collide at any p_eff).
_EMB_DIM = 64
_EMB_BANDS = 4
_EMB_PLANES = 16  # signature width; effective planes = 16 - log2(shift_div)
_EMB_SEED = 42
_EMB_TARGET_BUCKET = 8
# (corpus-size ceiling, divisor): n <= 8 * 2^p_eff  ->  div = 2^(16 - p_eff)
_EMB_SHIFT_LADDER = [(2048, 256), (4096, 128), (8192, 64), (16384, 32),
                     (32768, 16), (65536, 8), (131072, 4), (262144, 2)]
_EMB_SHIFT_FLOOR = 1  # >= 8 * 2^15 vectors: all 16 bits


def _emb_shift_sql() -> str:
    arms = " ".join(
        f"WHEN n <= {ceil} THEN {div}" for ceil, div in _EMB_SHIFT_LADDER
    )
    return f"CASE {arms} ELSE {_EMB_SHIFT_FLOOR} END"


def _emb_near_dup_oracle() -> str:
    from ..operators.similarity import _hyperplane

    band_rows = []
    for band in range(_EMB_BANDS):
        terms = []
        for p in range(_EMB_PLANES):
            comps = ", ".join(
                repr(c) for c in _hyperplane(_EMB_DIM, band * _EMB_PLANES + p, _EMB_SEED)
            )
            bit = 1 << (_EMB_PLANES - 1 - p)
            terms.append(
                f"(CASE WHEN list_dot_product(vn, [{comps}]::DOUBLE[]) >= 0 "
                f"THEN {bit} ELSE 0 END)"
            )
        band_rows.append(
            f"SELECT vec_id, {band} AS band_idx, {' + '.join(terms)} AS bucket FROM normed"
        )
    bands_sql = " UNION ALL ".join(band_rows)
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
    sd AS (
      SELECT {_emb_shift_sql()} AS shift_div
      FROM (SELECT count(*) AS n FROM corpus)
    ),
    bands0 AS ({bands_sql}),
    bands AS (
      SELECT vec_id, band_idx, bucket // sd.shift_div AS bucket
      FROM bands0 CROSS JOIN sd
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.bucket = b.bucket
       AND a.vec_id < b.vec_id
    ),
    sims AS (
      SELECT c.a_id, c.b_id, round(list_dot_product(na.vn, nb.vn), 6) AS sim
      FROM cand c
      JOIN normed na ON na.vec_id = c.a_id
      JOIN normed nb ON nb.vec_id = c.b_id
    )
    SELECT a_id, b_id, sim FROM sims WHERE sim >= 0.99
    """


@_register(
    "embedding_near_dup_pairs",
    _emb_near_dup_oracle(),
    f"Embedding-cosine near-duplicate pairs blocked on banded hyperplane "
    f"LSH buckets ({_EMB_BANDS} bands x 16-plane signatures, bucket = the "
    "signature's first p_eff bits where p_eff grows with corpus size via "
    "an integer CASE ladder — no libm): bucket occupancy stays "
    f"~{_EMB_TARGET_BUCKET} vectors at ANY corpus size, so the (band, "
    "bucket) self-join's candidate volume is O(n), never O(n^2/2^P) on a "
    "fixed bucket count (the r8 100x smoke caught exactly that blowup: "
    "600 s watchdog timeout, fixed to seconds); exact cosine >= 0.99 "
    "verify; recall slide documented at the ladder definition",
    reference="[NORTH-STAR] embedding near-dup via SimHash-LSH (Charikar'02)",
    tags=("dedup", "similarity", "northstar"),
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import signature_col

    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    corpus = emb.unionByName(
        emb.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform(F.col("v"), lambda x: x * 1.01).alias("v"),
        )
    )
    # Normalize once per ROW (O(n) lambda work), so the O(pairs) verify side
    # is a single dot product per pair. Barrier: vn feeds B*P bucket
    # expressions plus both verify-join sides — without it CollapseProject
    # re-derives the normalization per reference.
    normed = (
        corpus.withColumn("n", V.norm(F.col("v")))
        .select("vec_id", F.transform(F.col("v"), lambda x: x / F.col("n")).alias("vn"))
        .localCheckpoint(eager=False)
    )
    # p_eff from the corpus count via the same ladder as the oracle's
    # shift_div (2^(16 - p_eff)). The count shapes the EXPRESSION ARITY
    # only — a prefix of a hyperplane signature is itself the bucket, so
    # computing just the first p_eff planes of each band is bit-identical
    # to the oracle's 16-plane signature // shift_div while doing p_eff/16
    # of the per-vector plane-dot work (the r8 ladder landed as a post-
    # signature divide and benched 2.5x slower at sf0.1 for exactly this
    # reason: 64 interpreted lambda dots per vector where 10 suffice).
    # Driver-side count is a bounded scalar that only steers plan shape —
    # the same adaptivity AQE applies to join strategies — and costs a
    # footer-backed scan of one id column, not a data collect.
    n_corpus = corpus.count()
    div = _EMB_SHIFT_FLOOR
    for ceil_, d in _EMB_SHIFT_LADDER:
        if n_corpus <= ceil_:
            div = d
            break
    p_eff = _EMB_PLANES - (div.bit_length() - 1)
    bands = (
        normed.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(band).alias("band_idx"),
                            signature_col(
                                "vn",
                                _EMB_DIM,
                                p_eff,
                                _EMB_SEED,
                                plane_offset=band * _EMB_PLANES,
                            ).alias("bucket"),
                        )
                        for band in range(_EMB_BANDS)
                    ]
                )
            ).alias("bb"),
        )
        .select("vec_id", "bb.band_idx", "bb.bucket")
        .localCheckpoint(eager=True)
    )
    # ^ EAGER barrier before the self-join, measured 3x (5.1s -> 1.5s at
    # sf0.1): left fused, both join children re-evaluate the 32
    # higher-order-function plane dots inside the exchange stage (lambda
    # evaluation is interpreted, not codegen'd); materializing the tiny
    # (vec_id, band, bucket) table first makes the join a pure long-key
    # shuffle. A lazy checkpoint does NOT help here — it materializes
    # within the join job's stages and pays the same fused cost.
    cand = blocked_pairs(bands, "vec_id", ("band_idx", "bucket")).localCheckpoint(
        eager=True  # materialize once: reused by count + joins
    )
    na = normed.select(F.col("vec_id").alias("a_id"), F.col("vn").alias("a_vn"))
    nb = normed.select(F.col("vec_id").alias("b_id"), F.col("vn").alias("b_vn"))
    sims = (
        _broadcast_if_small(cand)
        .join(na, "a_id")
        .join(nb, "b_id")
        .select("a_id", "b_id", F.round(V.dot(F.col("a_vn"), F.col("b_vn")), 6).alias("sim"))
    )
    return sims.filter(F.col("sim") >= 0.99)


def _lsh_topk_oracle() -> str:
    from ..operators.similarity import _hyperplane

    n_planes, dim, seed = 8, 64, 42
    plane_dots = []
    for p in range(n_planes):
        comps = ", ".join(repr(c) for c in _hyperplane(dim, p, seed))
        plane_dots.append(f"list_dot_product(v, [{comps}]::DOUBLE[])")
    bucket_expr = " + ".join(
        f"(CASE WHEN {plane_dots[p]} >= 0 THEN {1 << (n_planes - 1 - p)} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (SELECT vec_id, v, {bucket_expr} AS bucket FROM e),
    q AS (SELECT v AS qv, bucket AS qbucket FROM sig WHERE vec_id = 0)
    SELECT vec_id,
           round(list_dot_product(v, qv)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
    FROM sig, q
    WHERE bucket = qbucket
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """


@_register(
    "embedding_topk_lsh",
    _lsh_topk_oracle(),
    "Approximate top-k cosine via random-hyperplane LSH: 8 deterministic "
    "hyperplanes bucket the corpus (256 buckets); only the query's bucket "
    "is ranked exactly. At scale the bucket is a partition key, so a probe "
    "prunes ~255/256 of the scan",
    reference="[NORTH-STAR] SimHash-LSH for vectors (Charikar'02)",
    tags=("similarity", "northstar"),
)
def q_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import topk_cosine_lsh

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return topk_cosine_lsh(emb, qvec, k=10, n_planes=8, seed=42)


_IVF_CENT_LO, _IVF_CENT_HI, _IVF_NPROBE = 1, 16, 4


@_register(
    "embedding_topk_ivf",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    normed AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
      FROM e
    ),
    cent AS (
      SELECT vec_id AS cid, vn AS cvn FROM normed
      WHERE vec_id BETWEEN {_IVF_CENT_LO} AND {_IVF_CENT_HI}
    ),
    q AS (SELECT vn AS qvn FROM normed WHERE vec_id = 0),
    asg AS (
      SELECT vec_id, vn, cid,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY list_dot_product(vn, cvn) DESC, cid) AS rn
      FROM normed CROSS JOIN cent
    ),
    cells AS (SELECT vec_id, vn, cid AS cell FROM asg WHERE rn = 1),
    qc AS (
      SELECT cell FROM (
        SELECT cid AS cell,
               row_number() OVER (
                 ORDER BY list_dot_product(cvn, qvn) DESC, cid) AS rn
        FROM cent CROSS JOIN q)
      WHERE rn <= {_IVF_NPROBE}
    )
    SELECT vec_id, round(list_dot_product(vn, qvn), 6) AS sim
    FROM cells JOIN qc USING (cell) CROSS JOIN q
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """,
    f"Approximate top-k cosine via an IVF coarse quantizer: {_IVF_CENT_HI} "
    "deterministic centroids, nearest-centroid assignment (argmax over a "
    f"broadcast codebook, no corpus shuffle), query probes its {_IVF_NPROBE} "
    "closest cells and ranks exactly within them. With cell as a write-time "
    "partition key a probe prunes (K - n_probe)/K of the scan — the second "
    "ANN scale path next to LSH. Plan note: the BroadcastNestedLoopJoins "
    "here are the intentional keyless cross joins against the 16-row "
    "codebook / 1-row query — bounded broadcasts, the correct physical plan",
    reference="[NORTH-STAR] IVF/inverted-file ANN (Jegou'11 structure, training-free codebook)",
    tags=("similarity", "northstar"),
)
def q_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import topk_cosine_ivf

    emb = _t(spark, sf_dir, "embeddings")
    return topk_cosine_ivf(
        emb,
        query_id=0,
        k=10,
        centroid_id_range=(_IVF_CENT_LO, _IVF_CENT_HI),
        n_probe=_IVF_NPROBE,
    )


# ===========================================================================
# Multimodal audio: REAL binary decode (r6). PCM is codec-free — 16-bit
# little-endian samples need numpy, not ffmpeg — so this stage actually
# decodes its binary column and computes
# real signal features (per-frame energy, zero-crossing rate). The
# payloads are synthesized from an integer pseudo-signal so the oracle
# can recompute every feature exactly in SQL: the decode is real, the
# signal is deterministic.
# ===========================================================================
_PCM_N = 1024          # samples per clip
_PCM_FRAME = 256       # samples per analysis frame
_PCM_SCHEMA = "vec_id long, pcm binary"
_PCM_OUT_SCHEMA = "vec_id long, frame_idx int, energy long, zero_crossings int"


def _pcm_synth(batches):
    """Encode stage: integer pseudo-signal -> 16-bit LE PCM bytes.
    sample_i = ((seed * i) % 65536) - 32768 for i in 1.._PCM_N — exactly
    reproducible in SQL, packable as int16 without rounding."""
    import numpy as np
    import pandas as pd

    i = None
    for pdf in batches:
        if i is None:
            i = np.arange(1, _PCM_N + 1, dtype=np.int64)
        payloads = [
            (((int(seed) * i) % 65536) - 32768).astype("<i2").tobytes()
            for seed in pdf["vec_id"]
        ]
        yield pd.DataFrame({"vec_id": pdf["vec_id"], "pcm": payloads})


def _pcm_features(batches):
    """Decode stage — REAL: np.frombuffer on the binary column, framed
    energy (sum of squares, exact int64) and zero-crossing counts
    (adjacent-sample sign products, within-frame only)."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        ids, frames, energies, zcs = [], [], [], []
        for vec_id, buf in zip(pdf["vec_id"], pdf["pcm"]):
            s = np.frombuffer(bytes(buf), dtype="<i2").astype(np.int64)
            for f in range(len(s) // _PCM_FRAME):
                fr = s[f * _PCM_FRAME : (f + 1) * _PCM_FRAME]
                ids.append(vec_id)
                frames.append(f)
                energies.append(int((fr * fr).sum()))
                zcs.append(int(((fr[:-1] * fr[1:]) < 0).sum()))
        yield pd.DataFrame(
            {
                "vec_id": ids,
                "frame_idx": frames,
                "energy": energies,
                "zero_crossings": zcs,
            }
        )


@_register(
    "multimodal_pcm_frame_energy",
    f"""
    WITH seeds AS (SELECT vec_id FROM embeddings),
    idx AS (SELECT unnest(range(1, {_PCM_N + 1})) AS i),
    samples AS (
      SELECT vec_id, i, ((vec_id * i) % 65536) - 32768 AS s
      FROM seeds CROSS JOIN idx
    ),
    framed AS (
      SELECT vec_id, CAST((i - 1) // {_PCM_FRAME} AS INTEGER) AS frame_idx,
             i, s
      FROM samples
    ),
    adj AS (
      SELECT vec_id, frame_idx, s,
             lead(s) OVER (PARTITION BY vec_id, frame_idx ORDER BY i) AS s2
      FROM framed
    )
    SELECT vec_id, frame_idx,
           CAST(SUM(s * s) AS BIGINT) AS energy,
           CAST(count(*) FILTER (WHERE s * s2 < 0) AS INTEGER)
             AS zero_crossings
    FROM adj GROUP BY vec_id, frame_idx
    """,
    "Multimodal audio with a REAL decode: 16-bit LE PCM payloads are "
    "synthesized from an integer pseudo-signal (encode mapInPandas), "
    "then a second Arrow-batched mapInPandas np.frombuffer-decodes the "
    "opaque binary column and computes per-frame energy (exact int64 "
    "sum of squares) and zero-crossing counts — the feature-extraction "
    "shape speech pipelines run at corpus scale. Unlike the image/video "
    "stubs (PIL/ffmpeg env-blocked), PCM needs no codec library, so "
    "this path exercises true bytes->signal->features end-to-end; the "
    "oracle recomputes every feature from the closed-form signal in "
    "SQL. Zero shuffles on the engine side — both stages are "
    "partition-local Arrow passes",
    reference="[NORTH-STAR] multimodal columns — codec-free audio tier; "
    "stubbed image/video tier above (env blocker in COVERAGE.md)",
    tags=("multimodal", "northstar", "pandas-udf"),
)
def q_multimodal_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).select("vec_id")
    pcm = emb.mapInPandas(_pcm_synth, schema=_PCM_SCHEMA)
    return pcm.mapInPandas(_pcm_features, schema=_PCM_OUT_SCHEMA)


# ===========================================================================
# Multimodal image: REAL binary decode via PPM (r7, r6 verdict #2). Like
# PCM, binary PPM (P6) is codec-free: an ASCII header ("P6\n<w> <h>\n255\n")
# followed by raw interleaved RGB bytes — decoding needs header parsing +
# np.frombuffer, no PIL. The payloads are synthesized from an integer
# pseudo-image so the oracle recomputes every pixel statistic exactly in
# SQL: the decode (header parse included — width/height are READ FROM THE
# BYTES, not re-derived from the seed) is real, the pixels deterministic.
# ===========================================================================
_PPM_SCHEMA = "vec_id long, ppm binary"
_PPM_OUT_SCHEMA = (
    "vec_id long, width int, height int, sum_r long, sum_g long, "
    "sum_b long, strided_sum_r long, bright_r int"
)


def _ppm_synth(batches):
    """Encode stage: integer pseudo-image -> binary PPM (P6). Geometry
    w = 16 + vec_id%13, h = 8 + vec_id%7; pixel byte at flat index j is
    (vec_id*7 + j*11) % 256 — exactly reproducible in SQL."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        payloads = []
        for seed in pdf["vec_id"]:
            s = int(seed)
            w, h = 16 + s % 13, 8 + s % 7
            j = np.arange(w * h * 3, dtype=np.int64)
            px = ((s * 7 + j * 11) % 256).astype(np.uint8)
            payloads.append(f"P6\n{w} {h}\n255\n".encode("ascii") + px.tobytes())
        yield pd.DataFrame({"vec_id": pdf["vec_id"], "ppm": payloads})


def _ppm_stats(batches):
    """Decode stage — REAL: parse the PPM header from the bytes (magic,
    width, height, maxval — whitespace-delimited per the netpbm spec),
    np.frombuffer + reshape the pixel block, then exact per-channel sums,
    a stride-2 downsample sum (resize-by-striding evidence) and a bright-
    pixel count on the red channel."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        rows = {k: [] for k in (
            "vec_id", "width", "height", "sum_r", "sum_g", "sum_b",
            "strided_sum_r", "bright_r",
        )}
        for vec_id, buf in zip(pdf["vec_id"], pdf["ppm"]):
            raw = bytes(buf)
            # Header parse: 4 whitespace-delimited tokens, then ONE
            # whitespace byte, then the pixel block.
            tokens, pos = [], 0
            while len(tokens) < 4:
                while pos < len(raw) and raw[pos : pos + 1].isspace():
                    pos += 1
                start = pos
                while pos < len(raw) and not raw[pos : pos + 1].isspace():
                    pos += 1
                if start == pos:  # ran off the end: truncated header
                    raise ValueError(
                        f"truncated PPM header after {tokens!r}"
                    )
                tokens.append(raw[start:pos])
            pos += 1  # the single whitespace after maxval
            if tokens[0] != b"P6" or int(tokens[3]) != 255:
                raise ValueError(f"not an 8-bit P6 PPM: {tokens!r}")
            w, h = int(tokens[1]), int(tokens[2])
            img = (
                np.frombuffer(raw, dtype=np.uint8, count=w * h * 3, offset=pos)
                .reshape(h, w, 3)
                .astype(np.int64)
            )
            rows["vec_id"].append(vec_id)
            rows["width"].append(w)
            rows["height"].append(h)
            rows["sum_r"].append(int(img[:, :, 0].sum()))
            rows["sum_g"].append(int(img[:, :, 1].sum()))
            rows["sum_b"].append(int(img[:, :, 2].sum()))
            rows["strided_sum_r"].append(int(img[::2, ::2, 0].sum()))
            rows["bright_r"].append(int((img[:, :, 0] >= 128).sum()))
        yield pd.DataFrame(rows)


@_register(
    "multimodal_ppm_pixel_stats",
    """
    WITH seeds AS (
      SELECT vec_id,
             16 + (vec_id % 13) AS w,
             8 + (vec_id % 7) AS h
      FROM embeddings
    ),
    px AS (
      SELECT vec_id, w, h, unnest(range(0, w * h * 3)) AS j
      FROM seeds
    ),
    v AS (
      SELECT vec_id, w, h,
             (vec_id * 7 + j * 11) % 256 AS p,
             j % 3 AS c,
             (j // 3) % w AS x,
             (j // 3) // w AS y
      FROM px
    )
    SELECT vec_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(SUM(p) FILTER (WHERE c = 0) AS BIGINT) AS sum_r,
           CAST(SUM(p) FILTER (WHERE c = 1) AS BIGINT) AS sum_g,
           CAST(SUM(p) FILTER (WHERE c = 2) AS BIGINT) AS sum_b,
           CAST(SUM(p) FILTER (WHERE c = 0 AND x % 2 = 0 AND y % 2 = 0)
                AS BIGINT) AS strided_sum_r,
           CAST(COUNT(*) FILTER (WHERE c = 0 AND p >= 128) AS INTEGER)
             AS bright_r
    FROM v GROUP BY vec_id
    """,
    "Multimodal image with a REAL decode: binary PPM (P6) payloads are "
    "synthesized from an integer pseudo-image (encode mapInPandas), then "
    "a second Arrow-batched mapInPandas parses the netpbm header FROM "
    "THE BYTES (magic/width/height/maxval — geometry is read, not "
    "re-derived from the seed), np.frombuffer-decodes the RGB block and "
    "computes exact per-channel sums, a stride-2 downsample sum (the "
    "resize-by-striding path) and a red-channel bright-pixel count. "
    "PPM needs no codec library, so — like the PCM audio tier — this "
    "path exercises true bytes->pixels->features end-to-end where "
    "PIL/ffmpeg remain env-blocked; the oracle recomputes every "
    "statistic from the closed-form pixel function in SQL. Zero "
    "shuffles: both stages are partition-local Arrow passes; at 100 TB "
    "the decode parallelizes per-file with no data movement",
    reference="[NORTH-STAR] multimodal columns — codec-free image tier "
    "(r7); completes PCM audio (real) + PPM image (real) + video "
    "(md5-stub, env-blocked ffmpeg, COVERAGE.md)",
    tags=("multimodal", "northstar", "pandas-udf"),
)
def q_multimodal_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).select("vec_id")
    ppm = emb.mapInPandas(_ppm_synth, schema=_PPM_SCHEMA)
    return ppm.mapInPandas(_ppm_stats, schema=_PPM_OUT_SCHEMA)


# ===========================================================================
# Multimodal video: REAL container decode via Y4M (r7). YUV4MPEG2 is the
# codec-free video format — an ASCII stream header, a "FRAME\n" marker
# before each frame, then raw planar YUV420 bytes — so container parsing,
# frame iteration, strided frame sampling and plane decoding are all real
# numpy work, no ffmpeg. Payloads come from an integer pseudo-video so the
# oracle recomputes every per-frame statistic exactly; with this the whole
# multimodal tier (audio PCM / image PPM / video Y4M) runs true
# bytes->signal decodes, and only COMPRESSED codecs remain env-blocked.
# ===========================================================================
_Y4M_SCHEMA = "vec_id long, y4m binary"
_Y4M_OUT_SCHEMA = (
    "vec_id long, frame_idx int, width int, height int, sum_y long, "
    "sum_u long, sum_v long, bright_y int"
)
_Y4M_FRAME_STRIDE = 2  # sample every 2nd frame
_Y4M_MAX_FRAMES = 4    # cap sampled frames per clip


def _y4m_synth(batches):
    """Encode stage: integer pseudo-video -> YUV4MPEG2 bytes. Geometry
    w = 8 + 2*(vec_id%5), h = 8 (420 needs even dims); n_frames =
    3 + vec_id%4; frame byte at planar offset p of frame f is
    (vec_id*13 + f*17 + p*5) % 256 — closed form for the oracle."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        payloads = []
        for seed in pdf["vec_id"]:
            s = int(seed)
            w, h, n_frames = 8 + 2 * (s % 5), 8, 3 + s % 4
            fb = w * h * 3 // 2  # Y plane + quarter-size U and V
            p = np.arange(fb, dtype=np.int64)
            chunks = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n".encode("ascii")]
            for f in range(n_frames):
                chunks.append(b"FRAME\n")
                chunks.append(((s * 13 + f * 17 + p * 5) % 256).astype(np.uint8).tobytes())
            payloads.append(b"".join(chunks))
        yield pd.DataFrame({"vec_id": pdf["vec_id"], "y4m": payloads})


def _y4m_frame_stats(batches):
    """Decode stage — REAL: parse the YUV4MPEG2 stream header from the
    bytes (W/H/C420 tags per the y4m spec), walk the FRAME markers,
    np.frombuffer each frame's planar YUV420 block, sample every
    _Y4M_FRAME_STRIDE-th frame up to _Y4M_MAX_FRAMES, and compute exact
    per-plane sums plus a bright-luma pixel count."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        rows = {k: [] for k in (
            "vec_id", "frame_idx", "width", "height", "sum_y", "sum_u",
            "sum_v", "bright_y",
        )}
        for vec_id, buf in zip(pdf["vec_id"], pdf["y4m"]):
            raw = bytes(buf)
            nl = raw.index(b"\n")
            header = raw[:nl].split(b" ")
            if header[0] != b"YUV4MPEG2":
                raise ValueError(f"not a y4m stream: {header[0]!r}")
            tags = {t[:1]: t[1:] for t in header[1:]}
            if tags.get(b"C", b"420") not in (b"420", b"420jpeg", b"420mpeg2"):
                raise ValueError(f"unsupported chroma: {tags[b'C']!r}")
            w, h = int(tags[b"W"]), int(tags[b"H"])
            ysz, csz = w * h, (w // 2) * (h // 2)
            fb = ysz + 2 * csz
            pos, f = nl + 1, 0
            while pos < len(raw):
                if raw[pos : pos + 6] != b"FRAME\n":
                    raise ValueError(f"bad frame marker at {pos}")
                pos += 6
                if f % _Y4M_FRAME_STRIDE == 0 and (
                    f // _Y4M_FRAME_STRIDE < _Y4M_MAX_FRAMES
                ):
                    frame = np.frombuffer(
                        raw, dtype=np.uint8, count=fb, offset=pos
                    ).astype(np.int64)
                    y, u, v = (
                        frame[:ysz],
                        frame[ysz : ysz + csz],
                        frame[ysz + csz :],
                    )
                    rows["vec_id"].append(vec_id)
                    rows["frame_idx"].append(f)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["sum_y"].append(int(y.sum()))
                    rows["sum_u"].append(int(u.sum()))
                    rows["sum_v"].append(int(v.sum()))
                    rows["bright_y"].append(int((y >= 128).sum()))
                pos += fb
                f += 1
        yield pd.DataFrame(rows)


@_register(
    "multimodal_y4m_frame_luma",
    f"""
    WITH seeds AS (
      SELECT vec_id,
             8 + 2 * (vec_id % 5) AS w,
             8 AS h,
             3 + (vec_id % 4) AS n_frames
      FROM embeddings
    ),
    frames AS (
      SELECT vec_id, w, h, unnest(range(0, n_frames)) AS f
      FROM seeds
    ),
    sampled AS (
      SELECT * FROM frames
      WHERE f % {_Y4M_FRAME_STRIDE} = 0
        AND f // {_Y4M_FRAME_STRIDE} < {_Y4M_MAX_FRAMES}
    ),
    px AS (
      SELECT vec_id, w, h, f, unnest(range(0, (w * h * 3) // 2)) AS p
      FROM sampled
    ),
    v AS (
      SELECT vec_id, w, h, f, p,
             (vec_id * 13 + f * 17 + p * 5) % 256 AS b,
             CASE WHEN p < w * h THEN 0
                  WHEN p < w * h + (w * h) // 4 THEN 1
                  ELSE 2 END AS plane
      FROM px
    )
    SELECT vec_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(SUM(b) FILTER (WHERE plane = 0) AS BIGINT) AS sum_y,
           CAST(SUM(b) FILTER (WHERE plane = 1) AS BIGINT) AS sum_u,
           CAST(SUM(b) FILTER (WHERE plane = 2) AS BIGINT) AS sum_v,
           CAST(COUNT(*) FILTER (WHERE plane = 0 AND b >= 128) AS INTEGER)
             AS bright_y
    FROM v GROUP BY vec_id, f
    """,
    "Multimodal video with a REAL decode: YUV4MPEG2 payloads (the "
    "codec-free video container — ASCII stream header, FRAME markers, "
    "raw planar YUV420) are synthesized from an integer pseudo-video, "
    "then an Arrow-batched mapInPandas parses the stream header FROM "
    "THE BYTES (W/H/C420 tags), walks the FRAME markers, samples every "
    f"{_Y4M_FRAME_STRIDE}nd frame capped at {_Y4M_MAX_FRAMES}, "
    "np.frombuffer-decodes each sampled frame's Y/U/V planes and "
    "computes exact per-plane sums plus a bright-luma count — container "
    "parse, frame iteration, strided sampling and plane split are all "
    "real work, the shape a video-curation pipeline runs before any "
    "model. With PCM audio and PPM image this completes a fully-REAL "
    "multimodal tier; r16 extends it to a first COMPRESSED codec "
    "(stdlib-zlib PNG, banked below for the r18 window), so only "
    "DCT/entropy codecs (JPEG, real video — ffmpeg, env-blocked) remain "
    "stubbed. Zero shuffles: both stages are partition-local Arrow "
    "passes",
    reference="[NORTH-STAR] multimodal columns — codec-free video tier "
    "(r7); the md5 stubs above now stand in for DCT/entropy codecs only "
    "(PNG is real as of r16, q_multimodal_png below)",
    tags=("multimodal", "northstar", "pandas-udf"),
)
def q_multimodal_y4m(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).select("vec_id")
    y4m = emb.mapInPandas(_y4m_synth, schema=_Y4M_SCHEMA)
    return y4m.mapInPandas(_y4m_frame_stats, schema=_Y4M_OUT_SCHEMA)


# ===========================================================================
# Multimodal image, COMPRESSED codec: REAL PNG decode via stdlib zlib
# (r16, banked for the r18 window — COVERAGE.md r18 rotation pre-plan).
# The "compressed codecs are env-blocked" line held because PIL/ffmpeg are
# absent — but PNG's compression is DEFLATE (stdlib zlib) and its
# integrity checks are CRC-32 (zlib.crc32), so a complete non-interlaced
# 8-bit RGB decode needs no codec library at all. functions/codecs.py
# implements both directions: the encoder applies a different scanline
# filter per row (y % 5, so every payload exercises all five reversals —
# None/Sub/Up/Average/Paeth) and splits the DEFLATE stream across
# multiple IDAT chunks; the decoder walks chunks verifying every CRC,
# validates IHDR, reassembles IDAT, inflates, reverses the filters and
# only then computes pixel statistics. Filtering and DEFLATE are
# lossless, so the oracle recomputes every statistic from the closed-form
# pixel function — the compression round-trip is exactly what the decode
# must undo. The decoder is additionally validated against a real
# libpng-encoded file where one is present (tests/test_png_codec.py).
# With this, the env-blocked stub line retreats to codecs that genuinely
# need external libraries (JPEG's DCT/entropy coding, real video codecs).
# ===========================================================================
_PNG_SCHEMA = "vec_id long, png binary"
_PNG_OUT_SCHEMA = (
    "vec_id long, width int, height int, sum_r long, sum_g long, "
    "sum_b long, bright_r int, filter_sum int"
)


def _png_synth(batches):
    """Encode stage: integer pseudo-image -> REAL PNG bytes (stdlib zlib
    DEFLATE, per-chunk CRC-32, per-row filters y % 5, multi-IDAT).
    Geometry w = 8 + vec_id%9, h = 5 + vec_id%5 (h >= 5, so all five
    filter types appear in every payload); pixel byte at flat index j is
    (vec_id*13 + j*17) % 256 — exactly reproducible in SQL."""
    import numpy as np
    import pandas as pd

    from ..functions.codecs import png_encode

    for pdf in batches:
        payloads = []
        for seed in pdf["vec_id"]:
            s = int(seed)
            w, h = 8 + s % 9, 5 + s % 5
            j = np.arange(w * h * 3, dtype=np.int64)
            px = ((s * 13 + j * 17) % 256).astype(np.uint8).reshape(h, w, 3)
            payloads.append(png_encode(px))
        yield pd.DataFrame({"vec_id": pdf["vec_id"], "png": payloads})


def _png_pixel_stats(batches):
    """Decode stage — REAL compressed-codec work: signature check, chunk
    walk with CRC-32 verification on every chunk, IHDR validation,
    multi-IDAT reassembly, zlib inflate, reversal of all five scanline
    filters; then exact per-channel sums, a red-channel bright-pixel
    count, and the sum of the per-row filter bytes READ FROM THE INFLATED
    STREAM (pinning that the filters actually varied on the wire)."""
    import pandas as pd

    from ..functions.codecs import png_decode

    for pdf in batches:
        rows = {k: [] for k in (
            "vec_id", "width", "height", "sum_r", "sum_g", "sum_b",
            "bright_r", "filter_sum",
        )}
        for vec_id, buf in zip(pdf["vec_id"], pdf["png"]):
            img, filters, _n_idat = png_decode(bytes(buf))
            px = img.astype("int64")
            h, w = px.shape[0], px.shape[1]
            rows["vec_id"].append(vec_id)
            rows["width"].append(w)
            rows["height"].append(h)
            rows["sum_r"].append(int(px[:, :, 0].sum()))
            rows["sum_g"].append(int(px[:, :, 1].sum()))
            rows["sum_b"].append(int(px[:, :, 2].sum()))
            rows["bright_r"].append(int((px[:, :, 0] >= 128).sum()))
            rows["filter_sum"].append(int(sum(filters)))
        yield pd.DataFrame(rows)


def _multimodal_png_oracle() -> str:
    """DuckDB twin: the closed-form pixel function, per-channel sums and
    the filter-byte sum (rows carry filter y % 5, so the sum over rows is
    pure geometry). Attached at registration (r18 pre-plan); until then
    tests/test_preregistered.py runs the compare every session."""
    return """
    WITH seeds AS (
      SELECT vec_id,
             8 + (vec_id % 9) AS w,
             5 + (vec_id % 5) AS h
      FROM embeddings
    ),
    px AS (
      SELECT vec_id, w, h, unnest(range(0, w * h * 3)) AS j
      FROM seeds
    ),
    v AS (
      SELECT vec_id, w, h,
             (vec_id * 13 + j * 17) % 256 AS p,
             j % 3 AS c
      FROM px
    ),
    fs AS (
      SELECT vec_id, CAST(SUM(y % 5) AS INTEGER) AS filter_sum
      FROM (SELECT vec_id, unnest(range(0, h)) AS y FROM seeds)
      GROUP BY vec_id
    )
    SELECT v.vec_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(SUM(p) FILTER (WHERE c = 0) AS BIGINT) AS sum_r,
           CAST(SUM(p) FILTER (WHERE c = 1) AS BIGINT) AS sum_g,
           CAST(SUM(p) FILTER (WHERE c = 2) AS BIGINT) AS sum_b,
           CAST(COUNT(*) FILTER (WHERE c = 0 AND p >= 128) AS INTEGER)
             AS bright_r,
           MAX(fs.filter_sum) AS filter_sum
    FROM v JOIN fs ON v.vec_id = fs.vec_id
    GROUP BY v.vec_id
    """


def q_multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banked for r18 (not registered — the 150-slot rotation ceiling is
    fully used; COVERAGE.md names the r18 slot). Same two-stage shape as
    the PPM/Y4M tiers: encode mapInPandas, then a decode mapInPandas that
    does the full compressed-codec read. Zero shuffles — both stages are
    partition-local Arrow passes; at 100 TB the decode parallelizes
    per-file with no data movement."""
    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).select("vec_id")
    png = emb.mapInPandas(_png_synth, schema=_PNG_SCHEMA)
    return png.mapInPandas(_png_pixel_stats, schema=_PNG_OUT_SCHEMA)


# ===========================================================================
# Multimodal audio, COMPRESSED codec: REAL IMA ADPCM decode (r16; r19
# bank candidate — COVERAGE.md). The audio counterpart of the PNG tier:
# IMA/DVI ADPCM (WAV format 0x11) packs each sample into a 4-bit nibble
# against an adaptive predictor + 89-entry step table. The decode is a
# genuine per-sample state machine over REAL packed bytes
# (functions/codecs.adpcm_ima_decode), and the oracle is the novel part:
# DuckDB simulates the SAME state machine exactly with a RECURSIVE CTE —
# 64 recursion steps carrying (predictor, step_index) per clip, the two
# IMA spec tables as list literals — so a lossy-toward-input but
# deterministic codec still gets an exact value-hash compare. Payload
# nibbles are synthesized directly from a closed form (the decode is the
# work under test; there is no encode stage to hide behind).
# ===========================================================================
_ADPCM_N = 64  # samples per clip (and the oracle's recursion depth)
_ADPCM_SCHEMA = "vec_id long, adpcm binary"
_ADPCM_OUT_SCHEMA = (
    "vec_id long, n_samples int, final_predictor int, final_index int, "
    "sum_abs long, max_sample int, min_sample int"
)


def _adpcm_synth(batches):
    """Encode stage: closed-form header + nibbles -> packed IMA payload.
    header predictor = ((vec_id*997) % 65536) - 32768, step index =
    vec_id % 89, nibble j = (vec_id*7 + j*3) % 16, low nibble first."""
    import struct as _struct

    import pandas as pd

    for pdf in batches:
        payloads = []
        for seed in pdf["vec_id"]:
            s = int(seed)
            nibs = [(s * 7 + j * 3) % 16 for j in range(_ADPCM_N)]
            body = bytearray()
            for j in range(0, _ADPCM_N, 2):
                body.append(nibs[j] | (nibs[j + 1] << 4))
            payloads.append(
                _struct.pack("<hBH", ((s * 997) % 65536) - 32768, s % 89,
                             _ADPCM_N) + bytes(body)
            )
        yield pd.DataFrame({"vec_id": pdf["vec_id"], "adpcm": payloads})


def _adpcm_features(batches):
    """Decode stage — REAL compressed-audio work: header parse, nibble
    unpack, the full adaptive predictor/step-index walk, clamping; then
    exact aggregate features of the decoded signal."""
    import pandas as pd

    from ..functions.codecs import adpcm_ima_decode

    for pdf in batches:
        rows = {k: [] for k in (
            "vec_id", "n_samples", "final_predictor", "final_index",
            "sum_abs", "max_sample", "min_sample",
        )}
        for vec_id, buf in zip(pdf["vec_id"], pdf["adpcm"]):
            samples, pred, idx = adpcm_ima_decode(bytes(buf))
            s = samples.astype("int64")
            rows["vec_id"].append(vec_id)
            rows["n_samples"].append(len(s))
            rows["final_predictor"].append(pred)
            rows["final_index"].append(idx)
            rows["sum_abs"].append(int(abs(s).sum()))
            rows["max_sample"].append(int(s.max()))
            rows["min_sample"].append(int(s.min()))
        yield pd.DataFrame(rows)


def _multimodal_adpcm_oracle() -> str:
    """DuckDB twin: the IMA state machine run EXACTLY, per clip, by a
    recursive CTE — j counts decoded samples, each step computes the
    nibble from the closed form, indexes the spec tables (list
    literals), applies the magnitude/sign/clamp arithmetic and the index
    walk, and the final SELECT aggregates the decoded rows."""
    steps = ", ".join(str(v) for v in [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
        37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
        157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
        544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
        1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
        4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
        12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
        29794, 32767,
    ])
    return f"""
    WITH RECURSIVE st AS (
      SELECT vec_id,
             0 AS j,
             CAST(((vec_id * 997) % 65536) - 32768 AS BIGINT) AS pred,
             CAST(vec_id % 89 AS BIGINT) AS idx
      FROM embeddings
      UNION ALL
      SELECT vec_id, j,
             CASE WHEN (nib & 8) != 0
                  THEN GREATEST(-32768, LEAST(32767, pred - diff))
                  ELSE GREATEST(-32768, LEAST(32767, pred + diff))
             END AS pred,
             GREATEST(0, LEAST(88,
               idx + [-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8][nib + 1]
             )) AS idx
      FROM (
        SELECT vec_id, j, pred, idx, nib,
               (step // 8)
                 + CASE WHEN (nib & 1) != 0 THEN step // 4 ELSE 0 END
                 + CASE WHEN (nib & 2) != 0 THEN step // 2 ELSE 0 END
                 + CASE WHEN (nib & 4) != 0 THEN step ELSE 0 END AS diff
        FROM (
          SELECT vec_id, j + 1 AS j, pred, idx,
                 (vec_id * 7 + j * 3) % 16 AS nib,
                 [{steps}][idx + 1] AS step
          FROM st WHERE j < {_ADPCM_N}
        ) s1
      ) s2
    )
    SELECT vec_id,
           CAST({_ADPCM_N} AS INTEGER) AS n_samples,
           CAST(max_by(pred, j) AS INTEGER) AS final_predictor,
           CAST(max_by(idx, j) AS INTEGER) AS final_index,
           CAST(SUM(ABS(pred)) AS BIGINT) AS sum_abs,
           CAST(MAX(pred) AS INTEGER) AS max_sample,
           CAST(MIN(pred) AS INTEGER) AS min_sample
    FROM st WHERE j >= 1
    GROUP BY vec_id
    """


def q_multimodal_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r19 bank candidate (not registered; the r17 and r18 window slots
    are already committed — COVERAGE.md). Same two-stage multimodal
    shape: synth mapInPandas, then a decode mapInPandas doing the full
    compressed-audio state machine. Zero shuffles, partition-local."""
    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).select("vec_id")
    pcm = emb.mapInPandas(_adpcm_synth, schema=_ADPCM_SCHEMA)
    return pcm.mapInPandas(_adpcm_features, schema=_ADPCM_OUT_SCHEMA)
