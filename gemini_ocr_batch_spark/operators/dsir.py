"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023).

The published method picks pretraining data that *distributionally*
matches a trusted target corpus: featurize every document as hashed
n-gram bucket counts, fit two smoothed bucket distributions — p̂ from
the trusted corpus, q̂ from the raw pool — weight each raw document by
its log importance ratio ``Σ_grams ln(p̂_bucket / q̂_bucket)``, then
sample without replacement with Gumbel-top-k over the weights. It is
the selection step used by several public LLM data pipelines where the
bigram-LM score (:mod:`operators.lm`) is the *quality* step; the two
compose (quality-floor first, DSIR-match second).

Spark-first shape, all exact-oracle checkable:

- buckets come from the repo's cross-engine ``h60`` md5 hash (same
  bytes in DuckDB) — NOT Spark's ``hash()`` (Murmur3 seeds differ by
  engine and version, which would make the picked set unverifiable);
- the bucket count tables shuffle only ``(bucket, count)`` pairs and
  have at most ``n_buckets`` rows — the per-bucket log-ratio table is
  a broadcast, never a shuffle;
- per-gram log-ratios are quantized to x10000 fixed-point BEFORE the
  per-document sum, so scores are integer sums — identical under any
  partitioning, retry, or engine;
- Gumbel keys derive from ``h60(id)`` uniforms, not engine RNG — the
  resampled set is a pure function of content, reproducible across
  reruns and reshards (same argument as sampling.py's hash sampling).

Reference parity: the reference has no distribution-matching selection
(its scanner keeps whole key ranges, src/scanner.py:60-77); this is
part of the beyond-reference training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.functions.hashing import h60, shingles, tokens
from gemini_ocr_batch_spark.operators.util import spread_small_input

_BUCKETS = 10_000
_Q = 10_000  # fixed-point scale for log-ratios and Gumbel keys


def _grams(text_col: str):
    """Unigrams + bigrams as one array (the DSIR feature set)."""
    toks = tokens(text_col)
    return F.expr(f"concat({toks}, {shingles(toks, 2)})")


def _bucket_stream(docs: DataFrame, id_cols: list[str], text_col: str,
                   n_buckets: int, salt: str) -> DataFrame:
    """(*id_cols, bucket) — one hashed-gram row per uni/bigram.

    The gram → bucket hash runs INSIDE the array (``transform`` over the
    gram array), so the explode emits 8-byte ints, never gram strings —
    the ``_doc_shingle_hashes`` discipline (r7: measured lower GC
    pressure and ~15% less explode wall than string explode + hash).
    The token array is projected into its own column first so the
    ``split`` runs once per row instead of once per expression mention
    inside the shingle chain, and ``spread_small_input`` parallelizes
    the few-split local sources (single-row-group parquet planned N
    splits but executed on ONE task — the whole r6 dsir_weights bench
    line was that serialization; no-op at production split counts).
    """
    toks = spread_small_input(docs).select(
        *id_cols, F.expr(tokens(text_col)).alias("__toks")
    )
    grams = F.expr(f"concat(__toks, {shingles('__toks', 2)})")
    buckets = F.transform(
        grams, lambda g: h60(F.concat(g, F.lit(salt))) % n_buckets
    )
    return toks.select(*id_cols, F.explode(buckets).alias("bucket"))


def hashed_bucket_counts(docs: DataFrame, text_col: str = "text",
                         n_buckets: int = _BUCKETS,
                         salt: str = "dsir") -> DataFrame:
    """(bucket, c) counts of hashed uni+bigram features over a corpus.

    One explode + one groupBy; the shuffle carries (bucket, partial
    count) with at most ``n_buckets`` distinct keys — map-side combine
    collapses it to executor-count × n_buckets rows regardless of
    corpus size.
    """
    return (
        _bucket_stream(docs, [], text_col, n_buckets, salt)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _log_ratio_fused(spark: SparkSession, counts: DataFrame,
                     n_buckets: int) -> DataFrame:
    """Ratio table from ONE fused (bucket, pc, qc) count table — the
    ``trusted_pred`` path computes p̂ and q̂ in a single aggregation
    over the gram stream, so this builder needs one checkpoint, one
    totals collect, and one densify join where the two-table form needs
    two of each (r7: each extra model-sized job is ~0.2-0.3 s of fixed
    scheduling cost at local scale)."""
    counts = counts.localCheckpoint(eager=True)
    row = counts.agg(F.sum("pc"), F.sum("qc")).collect()[0]
    p_tot, q_tot = int(row[0] or 0), int(row[1] or 0)
    all_b = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    joined = all_b.join(counts, "bucket", "left")
    lr = F.log(
        (F.coalesce(F.col("pc"), F.lit(0)) + F.lit(1)).cast("double")
        / F.lit(float(p_tot + n_buckets))
    ) - F.log(
        (F.coalesce(F.col("qc"), F.lit(0)) + F.lit(1)).cast("double")
        / F.lit(float(q_tot + n_buckets))
    )
    return joined.select(
        "bucket",
        F.floor(lr * _Q + F.lit(0.5)).cast("bigint").alias("lr_q"),
    )


def _log_ratio_table(spark: SparkSession, p_counts: DataFrame,
                     q_counts: DataFrame, n_buckets: int) -> DataFrame:
    """Per-bucket quantized log importance ratio, densified over all
    buckets (a gram can hash into a bucket unseen in either corpus —
    both Laplace floors apply there, a nonzero constant)."""
    # Materialize the model-sized (≤ n_buckets rows) count tables once:
    # each is consumed twice (the total below + the densify join), and
    # without the checkpoint both corpus-wide explode+groupBy passes
    # would re-run when the output materializes.
    p_counts = p_counts.localCheckpoint(eager=True)
    q_counts = q_counts.localCheckpoint(eager=True)
    # scalar audit aggregates over model-sized tables (≤ n_buckets rows)
    p_tot = p_counts.agg(F.sum("c")).collect()[0][0] or 0
    q_tot = q_counts.agg(F.sum("c")).collect()[0][0] or 0
    all_b = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    joined = (
        all_b.join(p_counts.withColumnRenamed("c", "pc"), "bucket", "left")
        .join(q_counts.withColumnRenamed("c", "qc"), "bucket", "left")
    )
    lr = F.log(
        (F.coalesce(F.col("pc"), F.lit(0)) + F.lit(1)).cast("double")
        / F.lit(float(p_tot + n_buckets))
    ) - F.log(
        (F.coalesce(F.col("qc"), F.lit(0)) + F.lit(1)).cast("double")
        / F.lit(float(q_tot + n_buckets))
    )
    return joined.select(
        "bucket",
        F.floor(lr * _Q + F.lit(0.5)).cast("bigint").alias("lr_q"),
    )


def dsir_log_weights(raw: DataFrame, trusted: DataFrame | None,
                     id_col: str = "doc_id", text_col: str = "text",
                     n_buckets: int = _BUCKETS,
                     salt: str = "dsir",
                     trusted_text_col: str | None = None,
                     trusted_pred: Column | None = None) -> DataFrame:
    """Per-document quantized log importance weight.

    Output: (id, n_grams, logw_x10000); higher = more trusted-like.
    Documents with no grams (null/empty text) get n_grams = 0 and NULL
    logw (unscorable — resampling ranks them last, filters decide).

    ``trusted`` is the target corpus as its own DataFrame; when the
    target is a SUBSET of ``raw`` selected by a predicate over the id
    column (the common "trusted = flagged slice of the pool" shape),
    pass ``trusted_pred`` instead (a Column over ``id_col`` only) and
    ``trusted=None`` — p̂ then derives from the same materialized gram
    stream as q̂ and scoring, and the corpus is tokenized+hashed ONCE
    instead of 2.2× (r7: the md5 gram hash is the dominant cost; one
    pass at sf1.0 measured ~0.7 s vs ~10 s for the old three-pass
    single-task shape).

    Scale notes: the (id, bucket) gram stream is materialized once with
    ``localCheckpoint`` — slim 16-byte rows, O(corpus grams), spilled
    to executor-local disk by its MEMORY_AND_DISK storage — and feeds
    the q̂ bucket counts (map-side combine, ≤ n_buckets keys), the p̂
    counts (with ``trusted_pred``), and the scoring join against the
    BROADCAST ratio table (≤ n_buckets rows); the per-doc aggregation
    of (id, bigint) partial sums is the only corpus-sized shuffle, and
    text never leaves the scan.
    """
    spark = raw.sparkSession
    if (trusted is None) == (trusted_pred is None):
        raise ValueError("pass exactly one of trusted / trusted_pred")
    db = _bucket_stream(raw, [id_col], text_col, n_buckets, salt)
    db = db.localCheckpoint(eager=True)
    if trusted_pred is not None:
        # p̂ and q̂ in ONE aggregation over the gram stream: qc counts
        # every gram row, pc only those whose id satisfies the predicate
        counts = db.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("qc"),
            F.sum(
                F.when(trusted_pred, F.lit(1)).otherwise(F.lit(0))
            ).alias("pc"),
        )
        ratio = F.broadcast(_log_ratio_fused(spark, counts, n_buckets))
    else:
        # the two corpora routinely name their text column differently
        # (e.g. a curated crawl's `extracted_text` vs a reference set's
        # `text`) — trusted_text_col defaults to the raw side's name
        p = hashed_bucket_counts(trusted, trusted_text_col or text_col,
                                 n_buckets, salt)
        q = db.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
        ratio = F.broadcast(_log_ratio_table(spark, p, q, n_buckets))
    scored = (
        db.join(ratio, "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lr_q").alias("logw_x10000"),
        )
    )
    # one row per id even if the pool carries duplicate id rows (a
    # crawl with revisits): grams from all copies pool into the one
    # weight above, and the distinct here is an ids-only slim shuffle —
    # without it a duplicated id could occupy two top-k slots downstream
    return (
        raw.select(id_col).distinct()
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0))
            .cast("bigint")
            .alias("n_grams"),
            F.col("logw_x10000"),
        )
        .orderBy(id_col)
    )


def gumbel_key(logw_col, id_col, salt: str = "gumbel"):
    """Quantized Gumbel perturbation for top-k sampling ∝ exp(logw).

    u = (h60(id‖salt) % 10000 + 0.5) / 10000 ∈ (0, 1) strictly, so
    -ln(-ln(u)) is finite; quantized x10000 and ADDED to the quantized
    log-weight — integer keys, fully deterministic, engine-exact.
    """
    u = (
        (h60(F.concat(id_col.cast("string"), F.lit(salt))) % _Q)
        .cast("double") + F.lit(0.5)
    ) / F.lit(float(_Q))
    g = -F.log(-F.log(u))
    return logw_col + F.floor(g * _Q + F.lit(0.5)).cast("bigint")


def dsir_resample(raw: DataFrame, trusted: DataFrame, k: int,
                  id_col: str = "doc_id", text_col: str = "text",
                  n_buckets: int = _BUCKETS, salt: str = "dsir",
                  gumbel_salt: str = "gumbel",
                  trusted_text_col: str | None = None) -> DataFrame:
    """Gumbel-top-k selection of ``k`` raw documents ∝ exp(logw).

    Returns (id, logw_x10000, gumbel_key) for the picked set — a keys
    table the caller semi-joins against the corpus (slim rows through
    the top-k, text stays where it is). Unscorable documents (NULL
    logw) are excluded — they carry no distributional evidence, and
    the Gopher length gate already owns the too-short policy.

    Scale notes: the ranking is a global TakeOrderedAndProject over
    (id, two bigints) — no full sort, no text movement; ties broken by
    id for cross-run stability.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = dsir_log_weights(raw, trusted, id_col, text_col, n_buckets, salt,
                         trusted_text_col=trusted_text_col)
    keyed = w.filter(F.col("logw_x10000").isNotNull()).select(
        id_col,
        "logw_x10000",
        gumbel_key(F.col("logw_x10000"), F.col(id_col), gumbel_salt)
        .alias("gumbel_key"),
    )
    return keyed.orderBy(
        F.desc("gumbel_key"), F.asc(id_col)
    ).limit(k)
