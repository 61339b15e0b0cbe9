"""N-gram language-model quality scoring (the CCNet signal).

CCNet (Wenzek et al., LREC 2020) ranks crawl text by perplexity under a
small LM trained on a trusted corpus and keeps the low-perplexity head —
the single most-used model-based quality filter in public web-corpus
pipelines (CCNet, RedPajama, FineWeb ablations). This module is that
signal re-expressed as pure DataFrame algebra so it runs distributed and
has an exact DuckDB oracle twin:

- :func:`train_ngram_lm` — Laplace-smoothed word-bigram model: unigram
  and bigram count tables built with explode → groupBy (map-side partial
  aggregation; the only shuffles carry (gram, count) pairs, never text).
  The published pipelines use a KenLM 5-gram over SentencePiece pieces;
  the bigram-over-words form keeps identical pipeline shape and an
  oracle-checkable definition — the model tables slot a KenLM export in
  unchanged on a real cluster.
- :func:`ngram_logprob` — scores documents by average per-gram log
  probability ``ln((c(w1 w2) + 1) / (c(w1) + V))``: explode bigrams
  (slim: id + gram, text stays in the scan), two BROADCAST joins against
  the model tables, one groupBy(id). Log-probs are quantized to x10000
  fixed-point BEFORE summing so the aggregate is integer — deterministic
  under any partitioning and engine (float sums are association-order
  dependent; integer sums are not).

Scale notes: model size is the lever — ``min_count`` prunes the long
tail at the scan (a filter, no extra pass) and ``top_k`` caps the
broadcast tables; the deterministic top-k rank (count desc, gram asc)
sorts only the already-pruned model table, which is vocabulary-sized,
not corpus-sized. Scoring adds one shuffle (the per-doc aggregate of
(id, bigint) partial sums). Unseen grams cost the Laplace floor
``ln(1 / (c(w1) + V))``; words outside the unigram table back off to
``ln(1 / V)``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.functions.hashing import shingles, tokens


def _top_k(counts: DataFrame, key: str, top_k: int | None) -> DataFrame:
    if top_k is None:
        return counts
    w = Window.orderBy(F.desc("c"), F.asc(key))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_k)
        .drop("__rn")
    )


def train_ngram_lm(docs: DataFrame, text_col: str = "text",
                   min_count: int = 2,
                   top_k: int | None = None) -> tuple[DataFrame, DataFrame]:
    """Count tables ``(w, c)`` and ``(g, c)`` for the bigram model.

    ``min_count`` drops grams seen fewer times (scan-side filter — the
    100 TB lever); ``top_k`` then keeps the most frequent survivors with
    a deterministic tie-break (count desc, gram asc). Returns
    (unigrams, bigrams).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    toks = tokens(text_col)
    uni = (
        docs.selectExpr(f"explode({toks}) AS w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
    )
    big = (
        docs.selectExpr(f"explode({shingles(toks, 2)}) AS g")
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
    )
    return _top_k(uni, "w", top_k), _top_k(big, "g", top_k)


def ngram_logprob(docs: DataFrame, unigrams: DataFrame, bigrams: DataFrame,
                  id_col: str = "doc_id",
                  text_col: str = "text",
                  vocab_size: int | None = None) -> DataFrame:
    """Per-document average bigram log-probability, x10000 fixed-point.

    Output: (id, n_grams, sum_lp_x10000, avg_lp_x10000) — higher is
    more model-like text (CCNet keeps the high-avg head). Documents with
    fewer than 2 tokens have no bigrams: n_grams = 0 and NULL scores
    (unscorable, not "bad" — filter policy decides).

    ``vocab_size`` skips the model-table count when the caller already
    knows |V| (the persisted-model job reads it from the meta sidecar).
    """
    # scalar audit aggregate, model-table sized; checkpoint first so the
    # |V| count and the broadcast build below share one materialization
    # of the training aggregation instead of running it twice
    if vocab_size is None:
        unigrams = unigrams.localCheckpoint(eager=True)
        v = unigrams.count()
    else:
        v = vocab_size
    grams = docs.select(
        F.col(id_col),
        F.expr(f"explode({shingles(tokens(text_col), 2)})").alias("g"),
    ).withColumn("w1", F.substring_index("g", " ", 1))
    uni_m = F.broadcast(
        unigrams.select(F.col("w").alias("w1"), F.col("c").alias("c_uni"))
    )
    big_m = F.broadcast(
        bigrams.select(F.col("g"), F.col("c").alias("c_big"))
    )
    lp = F.log(
        (F.coalesce(F.col("c_big"), F.lit(0)) + F.lit(1)).cast("double")
        / (F.coalesce(F.col("c_uni"), F.lit(0)) + F.lit(v)).cast("double")
    )
    scored = (
        grams.join(big_m, "g", "left")
        .join(uni_m, "w1", "left")
        .select(
            F.col(id_col),
            F.floor(lp * 10000 + F.lit(0.5)).cast("bigint").alias("lp_q"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lp_q").alias("sum_lp_x10000"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0))
            .cast("bigint")
            .alias("n_grams"),
            F.col("sum_lp_x10000"),
            F.expr("sum_lp_x10000 div n_grams").alias("avg_lp_x10000"),
        )
        .orderBy(id_col)
    )


def perplexity_filter(docs: DataFrame, unigrams: DataFrame,
                      bigrams: DataFrame, min_avg_lp_x10000: int,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      vocab_size: int | None = None) -> DataFrame:
    """Keep documents whose average log-prob clears the floor (CCNet's
    head/middle cut). Unscorable documents (no bigrams) are kept — they
    are length-gated elsewhere (Gopher word-count rule), and dropping on
    "no evidence" would silently erase short valid text."""
    scores = ngram_logprob(docs, unigrams, bigrams, id_col, text_col,
                           vocab_size=vocab_size)
    keep = scores.filter(
        F.col("avg_lp_x10000").isNull()
        | (F.col("avg_lp_x10000") >= min_avg_lp_x10000)
    ).select(id_col)
    return docs.join(keep, id_col, "semi")


def score_cut_points(scores: DataFrame,
                     fractions: tuple[float, ...] = (1 / 3, 2 / 3),
                     score_col: str = "avg_lp_x10000",
                     accuracy: int = 10_000) -> list[int]:
    """Percentile cut points over the score distribution (CCNet derives
    its head/middle/tail cuts from a scored sample exactly like this).

    One ``percentile_approx`` pass collecting ``len(fractions)`` ints —
    the approximate-quantile sketch is the 100 TB path (an exact
    quantile needs a global sort); freeze the returned cuts and feed
    them to :func:`perplexity_buckets` as literals so the bucket
    assignment itself is exact, reproducible, and engine-checkable.
    NULL (unscorable) rows are excluded from the distribution.
    """
    row = (
        scores.filter(F.col(score_col).isNotNull())
        .agg(F.percentile_approx(score_col, list(fractions), accuracy))
        .collect()[0][0]
    )
    if row is None:
        raise ValueError("no scored rows to derive cut points from")
    return [int(v) for v in row]


def perplexity_buckets(scores: DataFrame, head_min_x10000: int,
                       middle_min_x10000: int,
                       score_col: str = "avg_lp_x10000") -> DataFrame:
    """CCNet's head/middle/tail corpus structuring from FROZEN literal
    cuts: ``head`` at score ≥ head_min (most model-like / lowest
    perplexity), ``middle`` at ≥ middle_min, else ``tail``; NULL scores
    (no bigrams) become ``unscored`` — real booleans downstream, never
    NULL CASE fallthrough.

    A literal CASE in the scan projection — zero shuffle, zero join,
    content-stable across reruns/reshards (the stratified_sample
    posture). Downstream mixes then sample per bucket (CCNet trains on
    head+middle; tail is kept for ablations, not deleted).
    """
    if head_min_x10000 < middle_min_x10000:
        raise ValueError(
            f"head cut {head_min_x10000} must be >= middle cut "
            f"{middle_min_x10000} (scores: higher = more model-like)"
        )
    s = F.col(score_col)
    return scores.withColumn(
        "lm_bucket",
        F.when(s.isNull(), F.lit("unscored"))
        .when(s >= F.lit(int(head_min_x10000)), F.lit("head"))
        .when(s >= F.lit(int(middle_min_x10000)), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


# ---------------------------------------------------------------------------
# persisted-model job forms (the part a production curation pass runs:
# train once on a trusted corpus, score every crawl snapshot against it)
# ---------------------------------------------------------------------------

_META_NAME = "lm_meta.json"


def lm_write_model(unigrams: DataFrame, bigrams: DataFrame,
                   out_dir: str) -> dict:
    """Persist the model: unigrams/ + bigrams/ parquet and a meta sidecar
    carrying |V| (so scoring never re-counts) and the table row counts.

    The tables are vocabulary-sized, not corpus-sized — single-file
    coalesce keeps the scoring job's broadcast read one file per table.
    """
    uni_path = os.path.join(out_dir, "unigrams")
    big_path = os.path.join(out_dir, "bigrams")
    unigrams.coalesce(1).write.mode("overwrite").parquet(uni_path)
    bigrams.coalesce(1).write.mode("overwrite").parquet(big_path)
    spark = unigrams.sparkSession
    v = spark.read.parquet(uni_path).count()
    n_big = spark.read.parquet(big_path).count()
    meta = {"vocab_size": v, "n_bigrams": n_big,
            "laplace": 1, "order": 2, "quantize": 10000}
    with open(os.path.join(out_dir, _META_NAME), "w") as f:
        json.dump(meta, f)
    return meta


def lm_read_model(spark: SparkSession,
                  model_dir: str) -> tuple[DataFrame, DataFrame, dict]:
    with open(os.path.join(model_dir, _META_NAME)) as f:
        meta = json.load(f)
    uni = spark.read.parquet(os.path.join(model_dir, "unigrams"))
    big = spark.read.parquet(os.path.join(model_dir, "bigrams"))
    return uni, big, meta


def run_lm_train_job(spark: SparkSession, corpus_path: str, out_dir: str,
                     text_col: str = "text", min_count: int = 2,
                     top_k: int | None = None) -> dict:
    """Train on a trusted-corpus parquet and persist the model tables."""
    docs = spark.read.parquet(corpus_path)
    uni, big = train_ngram_lm(docs, text_col=text_col,
                              min_count=min_count, top_k=top_k)
    return lm_write_model(uni, big, out_dir)


def run_lm_score_job(spark: SparkSession, corpus_path: str, model_dir: str,
                     out_path: str | None = None,
                     id_col: str = "doc_id", text_col: str = "text",
                     min_avg_lp_x10000: int | None = None,
                     bucket_cuts: tuple[int, int] | None = None) -> dict:
    """Score a corpus against a persisted model; optionally write either
    the score table (no floor), the filtered corpus (with floor), or —
    with ``bucket_cuts`` = (head_min, middle_min) — the score table
    plus CCNet head/middle/tail assignment and its per-bucket counts."""
    if min_avg_lp_x10000 is not None and bucket_cuts is not None:
        raise ValueError("floor and bucket_cuts are mutually exclusive "
                         "(a floor IS a two-bucket cut)")
    docs = spark.read.parquet(corpus_path)
    uni, big, meta = lm_read_model(spark, model_dir)
    buckets = None
    if min_avg_lp_x10000 is None:
        out = ngram_logprob(docs, uni, big, id_col=id_col,
                            text_col=text_col,
                            vocab_size=meta["vocab_size"])
        if bucket_cuts is not None:
            out = perplexity_buckets(out, bucket_cuts[0], bucket_cuts[1])
    else:
        out = perplexity_filter(docs, uni, big, min_avg_lp_x10000,
                                id_col=id_col, text_col=text_col,
                                vocab_size=meta["vocab_size"])
    if out_path is not None:
        out.write.mode("overwrite").parquet(out_path)
        out = spark.read.parquet(out_path)
    elif bucket_cuts is not None:
        out = out.persist()  # count + bucket histogram, one compute
    n = out.count()
    if bucket_cuts is not None:
        buckets = {
            r["lm_bucket"]: r["n"]
            for r in out.groupBy("lm_bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    res = {"rows": n, "vocab_size": meta["vocab_size"],
           "filtered": min_avg_lp_x10000 is not None,
           "out": out_path}
    if buckets is not None:
        res["buckets"] = buckets
    return res
