"""Empirical scale curve for the heavy dedup/graph queries (r5 verdict #3).

Synthesizes a 10x corpus from sf0.1 and times the four heavy queries at 1x
and 10x, reporting the scaling exponent alpha = log10(t10/t1) per query
(alpha ~ 1.0 = linear; > 1 super-linear). Results land in
scripts/scale_curve_results.json and the COVERAGE.md scale notes.

The 10x synthesis preserves the statistical shape instead of inflating it:

- documents: 10 copies with re-keyed doc_ids (copy k -> doc_id + k*1e7);
  copies k>0 get every token salted with a per-copy suffix, so WITHIN a
  copy the near-dup/dup-span structure is byte-identical to the original
  while ACROSS copies documents share no tokens, grams, or shingles — the
  duplicate density stays constant as the corpus grows (a plain 10x
  self-union would instead make every doc a 10-way exact duplicate and
  square the pair count, which is a different workload).
- embeddings: 10 copies with re-keyed vec_ids; copies k>0 flip the sign of
  dimension d iff xxhash64(k*64 + d) is even — a DISTINCT pseudo-random
  sign pattern per copy. Any fixed per-copy pattern preserves every
  intra-copy cosine exactly (sign^2 = 1); distinct patterns decorrelate
  copies from each other (cross-copy cosine ~ N(0, 1/sqrt(dim))), so the
  near-dup pair count scales ~10x, not ~100x. (r8 fix: the original rule
  flipped d iff (d+1)*k % 3 == 0, which has only THREE distinct patterns
  over k mod 3 — copies within a class were mutually EXACT duplicates,
  inflating cross-copy dup density ~70x over the constant-density claim;
  caught when the fixed LSH query returned 7.06M pairs at 100x. All
  embedding rows in scale_curve_results.json are re-measured on the
  corrected corpus.)

Run: python scripts/scale_curve.py            (writes /tmp/flightframe_scale)
     python scripts/scale_curve.py --100x     (r7 verdict #3: the 100x tier)

The --100x tier (r8) exists because a 2-point curve cannot separate fixed
per-job overhead from the true slope — at sf0.1 overhead flatters every
exponent. It times the four steepest queries on a 100-copy corpus (same
shape-preserving salt/flip rules, built via one explode instead of 100
unions) and fits the 3-point exponent by least squares on log t vs log s,
plus the overhead-free 10x->100x segment exponent, merging both into
scale_curve_results.json.
"""

from __future__ import annotations

import json
import math
import pathlib
import statistics
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from real_time_flight_data_pipeline_spark.plans.catalog import REGISTRY
from real_time_flight_data_pipeline_spark.session import get_spark
from real_time_flight_data_pipeline_spark.sources.parquet import load_table

BASE = "/root/testdata/sf0.1"
WORK = pathlib.Path("/tmp/flightframe_scale")
COPIES = 10
QUERIES = [
    "docs_near_dup_clusters",
    "docs_dedup_keep_best",
    "docs_dup_spans",
    "embedding_near_dup_pairs",
    # r6: the salted copies grow the LM vocab and bigram stream ~10x — the
    # right stress for the bigram join and the sketch's candidate sets.
    "docs_bigram_plausibility",
    "docs_token_heavy_hitters",
    # r7 (r6 verdict #1): the hierarchical-assignment SemDeDup must be ON
    # the curve — its whole reason to exist is winning at scale (the flat
    # codebook's banked alpha is 0.65 in scale_curve_results.json);
    # docs_bpe_top_merges should track the token stream ~linearly.
    "embedding_semdedup_2level",
    "docs_bpe_top_merges",
    # r7: the encode-apply twin — same training rounds plus the per-doc
    # projection; should track the token stream ~linearly like training.
    "docs_bpe_encode",
    # r6c: graph analytics on the pair graph (triangles scale with wedge
    # count — degree-ordered, so bounded by edges at constant dup
    # density) and the source-level overlap matrix (shuffle O(distinct
    # grams); salted copies multiply the gram vocabulary ~10x while the
    # source count stays fixed).
    "docs_near_dup_triangles",
    "sources_gram_overlap_matrix",
    # r6c: the full multi-stage composition — quality + LSH/CC dedup +
    # decontamination sharing one tokenize. Its curve bounds the whole
    # curation pipeline, not just single operators.
    "docs_curation_funnel",
    # r10: the incremental-index arrival path — sqrt-K training + BLAS
    # routing + within-cell batch-vs-history dup join; its first cut
    # (pinned K, interpreted dots) measured 592 s at 100x, so this query
    # stays ON the curve to keep the fix measured.
    "embedding_incremental_index",
    # r12 (r11 verdict #5): the three linear-floor heavies join the
    # curve — 351/152/141 s at the r10 100x smoke with no curve entry.
    # ngram_jaccard and winnow got the shared-fp barrier + doubling
    # sliding-min first; minhash's floor is the 16-permutation min scan.
    "docs_ngram_jaccard_pairs",
    "docs_winnow_fingerprints",
    "docs_minhash_signatures",
]
N_RUNS = 3
# r7 verdict #3: the steepest 1x/10x exponents get a third point at 100x.
# Only these four — the flat tier's cheap queries would measure overhead.
QUERIES_100X = [
    "docs_bigram_plausibility",   # alpha 0.68 at 10x
    "embedding_semdedup_2level",   # alpha 0.53 (the production regime)
    "docs_curation_funnel",        # alpha 0.42 (bounds the whole pipeline)
    # r8: watchdog-timeout at the first 100x smoke (fixed bucket count ->
    # O(n^2) candidates); on the curve to keep the fix measured.
    "embedding_near_dup_pairs",
    # r10: 592 s at its first 100x smoke (pinned K + interpreted routing);
    # the sqrt-K + BLAS fix needs its three-point exponent on record.
    "embedding_incremental_index",
    # r12 (r11 verdict #5): the linear-floor heavies' third point.
    "docs_ngram_jaccard_pairs",
    "docs_winnow_fingerprints",
    "docs_minhash_signatures",
]
N_RUNS_100X = 2  # the heaviest queries take minutes per run at 100x


def build_corpus_100x(spark) -> None:
    """100 shape-preserving copies via ONE explode (a 100-branch union
    would bloat the plan): same per-copy token salt / sign-flip rules as
    build_corpora, so duplicate density and intra-copy cosines are
    preserved while copies stay decorrelated."""
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    k = F.col("k")
    d100 = docs.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(99))).alias("k")
    )
    salted = F.when(k == 0, F.col("text")).otherwise(
        F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), r"\s+"),
                lambda t: F.concat(t, F.lit("_"), k.cast("string")),
            ),
        )
    )
    d100 = d100.select(
        (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
        salted.alias("text"),
        "lang",
        "source",
        F.length(salted).alias("n_chars"),
    )
    e100 = emb.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(99))).alias("k")
    )
    e100 = e100.select(
        (F.col("vec_id") + k * 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(
                (k > 0) & (F.pmod(F.xxhash64(k * 64 + i), 2) == 0), -x
            ).otherwise(x),
        ).alias("embedding"),
        "label",
    )
    (WORK / "sf100x").mkdir(parents=True, exist_ok=True)
    d100.repartition(64).write.mode("overwrite").parquet(
        str(WORK / "sf100x" / "documents.parquet")
    )
    e100.repartition(64).write.mode("overwrite").parquet(
        str(WORK / "sf100x" / "embeddings.parquet")
    )


_KEY_OFF = 10_000_000  # per-copy key offset; every sf0.1 key is < 10M


def build_relational_100x(spark) -> None:
    """100 shape-preserving copies of the events/TPC-H tier (r9 verdict
    next-#3: 82 of 147 queries had no 100x point — the static-broadcast
    defect class was caught twice in the docs tier ONLY because that tier
    had a third point). Facts and mid-size dims grow 100x with re-keyed
    ids so per-key group sizes, join fan-outs, and referential integrity
    are preserved: copy k's orders reference copy k's customers, so a
    customer still has ~10 orders, a user still has ~67 events — only the
    table cardinality grows (a naive fact-only 100x would instead give
    every customer 100x the orders, a different workload). nation/region
    stay fixed (they do not scale in TPC-H either). Copy 0 keeps original
    keys and strings, so literal-key probes still hit; unique-ish name
    strings are salted per copy so distinct-by-name shapes hold. Event
    timestamps are left unchanged: 100x rows in the same window models
    higher throughput, which is the scale axis the stream queries face."""
    out = WORK / "sf100x"
    out.mkdir(parents=True, exist_ok=True)
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )  # INT96 carries no stats -> no time-range pruning downstream
    k = F.col("k")
    plan = {
        # table: (key cols re-keyed +k*OFF, string cols salted per copy)
        "customer": (("c_custkey",), ("c_name",), 8),
        "supplier": (("s_suppkey",), ("s_name",), 2),
        "part": (("p_partkey",), ("p_name",), 8),
        "orders": (("o_orderkey", "o_custkey"), (), 32),
        "lineitem": (("l_orderkey", "l_partkey", "l_suppkey"), (), 64),
        "events": (("event_id", "user_id"), (), 32),
    }
    for name, (key_cols, salt_cols, parts) in plan.items():
        df = load_table(spark, BASE, name)
        sel = []
        for c in df.columns:
            if c in key_cols:
                sel.append((F.col(c) + k * _KEY_OFF).alias(c))
            elif c in salt_cols:
                sel.append(
                    F.when(k == 0, F.col(c))
                    .otherwise(F.concat(F.col(c), F.lit("_"), k.cast("string")))
                    .alias(c)
                )
            else:
                sel.append(F.col(c))
        (
            df.select("*", F.explode(F.sequence(F.lit(0), F.lit(99))).alias("k"))
            .select(sel)
            .repartition(parts)
            .write.mode("overwrite")
            .parquet(str(out / f"{name}.parquet"))
        )
    for name in ("nation", "region"):  # fixed-size dims: verbatim
        load_table(spark, BASE, name).write.mode("overwrite").parquet(
            str(out / f"{name}.parquet")
        )


def fit_exponent(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of log10(t) on log10(scale)."""
    xs = [math.log10(s) for s, _ in points]
    ys = [math.log10(t) for _, t in points]
    mx, my = statistics.mean(xs), statistics.mean(ys)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )


def run_100x_tier(spark, out: pathlib.Path, run_list: list[str]) -> None:
    results = json.loads(out.read_text())  # 100x extends the 1x/10x rows
    missing = [q for q in run_list if q not in results]
    if missing:
        sys.exit(f"run the 1x/10x sweep first for {missing}")
    build_corpus_100x(spark)
    for name in run_list:
        REGISTRY[name].builder(spark, BASE).write.format(
            "noop"
        ).mode("overwrite").save()  # codegen warmup (BASE == the 1x corpus)
        runs = []
        for _ in range(N_RUNS_100X):
            t0 = time.perf_counter()
            REGISTRY[name].builder(spark, str(WORK / "sf100x")).write.format(
                "noop"
            ).mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        row = results[name]
        row["sf100x"] = round(statistics.median(runs), 3)
        row["sf100x_runs"] = [round(r, 3) for r in runs]
        row["exponent_10_100"] = round(
            math.log10(row["sf100x"] / row["sf10x"]), 3
        )
        row["exponent_fit3"] = round(
            fit_exponent(
                [(1, row["sf1x"]), (10, row["sf10x"]), (100, row["sf100x"])]
            ),
            3,
        )
        print(
            f"{name}: 1x={row['sf1x']}s 10x={row['sf10x']}s "
            f"100x={row['sf100x']}s alpha(10->100)={row['exponent_10_100']} "
            f"alpha(fit3)={row['exponent_fit3']}",
            flush=True,
        )
        out.write_text(json.dumps(results, indent=1))  # survive partial runs
    print(f"wrote {out}")


def build_corpora(spark) -> None:
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    (WORK / "sf1x").mkdir(parents=True, exist_ok=True)
    docs.write.mode("overwrite").parquet(str(WORK / "sf1x" / "documents.parquet"))
    emb.write.mode("overwrite").parquet(str(WORK / "sf1x" / "embeddings.parquet"))

    doc_parts = []
    emb_parts = []
    for k in range(COPIES):
        if k == 0:
            doc_parts.append(docs)
            emb_parts.append(emb)
            continue
        salted_text = F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), r"\s+"),
                lambda t: F.concat(t, F.lit(f"_{k}")),
            ),
        )
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
                salted_text.alias("text"),
                "lang",
                "source",
                F.length(salted_text).alias("n_chars"),
            )
        )
        flipped = F.transform(
            F.col("embedding"),
            lambda x, i: F.when(
                F.pmod(F.xxhash64(F.lit(k) * 64 + i), 2) == 0, -x
            ).otherwise(x),
        )
        emb_parts.append(
            emb.select(
                (F.col("vec_id") + k * 10_000_000).alias("vec_id"),
                flipped.alias("embedding"),
                "label",
            )
        )
    d10 = doc_parts[0]
    for p in doc_parts[1:]:
        d10 = d10.unionByName(p)
    e10 = emb_parts[0]
    for p in emb_parts[1:]:
        e10 = e10.unionByName(p)
    (WORK / "sf10x").mkdir(parents=True, exist_ok=True)
    d10.repartition(32).write.mode("overwrite").parquet(
        str(WORK / "sf10x" / "documents.parquet")
    )
    e10.repartition(32).write.mode("overwrite").parquet(
        str(WORK / "sf10x" / "embeddings.parquet")
    )


def main() -> None:
    # Optional argv subset: re-measure just the named queries and MERGE
    # into the existing results file (full sweeps take ~25 min; a tuning
    # loop on one query shouldn't pay for all of them).
    argv = sys.argv[1:]
    tier100 = "--100x" in argv
    argv = [a for a in argv if a != "--100x"]
    valid = QUERIES_100X if tier100 else QUERIES
    unknown = sorted(set(argv) - set(valid))
    if unknown:  # a typo must not silently trigger the full 25-min sweep
        sys.exit(f"unknown curve queries {unknown}; choose from {valid}")
    subset = list(dict.fromkeys(argv))  # order-preserving dedup
    run_list = subset or valid
    spark = get_spark(app_name="flightframe-scale-curve")
    if tier100:
        out = pathlib.Path(__file__).resolve().parent / "scale_curve_results.json"
        run_100x_tier(spark, out, run_list)
        return
    build_corpora(spark)
    # Warmup (codegen/classloading) on the small corpus.
    for name in run_list:
        REGISTRY[name].builder(spark, str(WORK / "sf1x")).write.format(
            "noop"
        ).mode("overwrite").save()
    out = pathlib.Path(__file__).resolve().parent / "scale_curve_results.json"
    results: dict[str, dict] = {}
    if subset and out.exists():
        results = json.loads(out.read_text())
    for name in run_list:
        row: dict = {}
        for tag in ("sf1x", "sf10x"):
            runs = []
            for _ in range(N_RUNS):
                t0 = time.perf_counter()
                REGISTRY[name].builder(spark, str(WORK / tag)).write.format(
                    "noop"
                ).mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            row[tag] = round(statistics.median(runs), 3)
            row[f"{tag}_runs"] = [round(r, 3) for r in runs]
        row["exponent"] = round(
            math.log10(row["sf10x"] / row["sf1x"]), 3
        )
        results[name] = row
        print(
            f"{name}: 1x={row['sf1x']}s 10x={row['sf10x']}s "
            f"alpha={row['exponent']}",
            flush=True,
        )
    out.write_text(json.dumps(results, indent=1))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
