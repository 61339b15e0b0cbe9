"""Benchmark decontamination: flag training documents that overlap an
evaluation set.

The published procedure (GPT-3 appx. C; PaLM §7; FLAN/Chinchilla variants)
is n-gram collision: a training document is contaminated if it shares at
least ``min_overlap`` distinct word n-grams (n≈8-13) with any benchmark
document.  The reference repo has no analog — this is a training-data
operator the 100 TB pipeline needs before any corpus ships to a trainer.

Spark-first shape (the asymmetry is the whole design):

- The BENCHMARK side is small by construction (eval sets are 10²-10⁵
  documents).  Its distinct shingle set is hashed to 60-bit bigints and
  **broadcast**, so the corpus-side probe is a map-side hash join — the
  10 TB of document text never shuffles, and no shuffle exchange exists
  on the corpus side at all until the (id, count) partial aggregate.
- The CORPUS side explodes to (id, shingle-hash) pairs — slim bigints,
  text stays in the scan — and the per-document overlap count is a
  partial-agg-friendly ``groupBy(id).count()`` over the join survivors,
  which is tiny (only contaminated grams survive the semi-probe).
- Output re-joins to the corpus by id (keys-only broadcast of the hit
  table when it is small, which it is unless the corpus IS the
  benchmark), never by text.

DuckDB oracle: the same shingle CTE construction both sides (md5-prefix
h60 hashing is engine-portable) — see __spark_entry__._decontaminate
oracle for the exact twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.functions.hashing import h60, shingles, tokens


def benchmark_shingle_set(benchmark: DataFrame, n: int = 8,
                          text_col: str = "text") -> DataFrame:
    """Distinct 60-bit shingle hashes of the benchmark corpus (one
    ``sh`` bigint column) — the broadcast side of :func:`decontaminate`.

    Precompute and persist this once per benchmark release; every corpus
    sweep then reuses it without re-tokenizing the eval set.
    """
    return (
        benchmark.selectExpr(
            f"explode(array_distinct({shingles(tokens(text_col), n)}))"
            " AS shingle"
        )
        .select(h60(F.col("shingle")).alias("sh"))
        .distinct()
    )


def run_decontamination_job(spark, extracted_dir: str, benchmark_path: str,
                            out_dir: str, n: int = 8, min_overlap: int = 1,
                            bench_text_col: str = "text") -> dict:
    """The decontamination sweep over a finished extraction run: flag
    every success row against a benchmark parquet, write the flags table
    (url, n_overlap_grams, contaminated), return audit counts.

    Scale notes: same posture as the curate job — the flags table carries
    (url, bigint, bool) only; a trainer excludes contaminated urls with a
    keys-only anti-join against it, so the corpus itself is never
    rewritten here.  The audit counts are one 1-row collect.
    """
    import os

    from gemini_ocr_batch_spark.job import read_extracted

    rows = read_extracted(spark, extracted_dir)
    bench = spark.read.parquet(benchmark_path)
    flags = decontaminate(
        rows, bench, n=n, min_overlap=min_overlap,
        id_col="url", text_col="extracted_text",
        bench_text_col=bench_text_col,
    )
    flags_path = os.path.join(out_dir, "decontam_flags")
    flags.write.mode("overwrite").parquet(flags_path)
    flags_saved = spark.read.parquet(flags_path)
    audit = flags_saved.agg(
        F.count(F.lit(1)).alias("input_rows"),
        F.sum(F.col("contaminated").cast("int")).alias("contaminated"),
        F.sum("n_overlap_grams").alias("total_overlap_grams"),
    ).collect()[0]
    return {
        "input_rows": int(audit["input_rows"]),
        "contaminated": int(audit["contaminated"] or 0),
        "clean": int(audit["input_rows"]) - int(audit["contaminated"] or 0),
        "total_overlap_grams": int(audit["total_overlap_grams"] or 0),
        "flags_path": flags_path,
    }


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                  min_overlap: int = 1, id_col: str = "doc_id",
                  text_col: str = "text",
                  bench_text_col: str = "text") -> DataFrame:
    """(id, n_overlap_grams, contaminated) per corpus document.

    ``contaminated`` = shares ≥ ``min_overlap`` DISTINCT word ``n``-grams
    with the benchmark.  Documents shorter than ``n`` tokens carry zero
    grams and are never flagged (nothing to collide).
    """
    bench = benchmark_shingle_set(benchmark, n, bench_text_col)
    doc_grams = docs.select(
        F.col(id_col),
        F.expr(
            f"explode(array_distinct({shingles(tokens(text_col), n)}))"
        ).alias("shingle"),
    ).select(id_col, h60(F.col("shingle")).alias("sh"))
    hits = (
        doc_grams.join(F.broadcast(bench), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap_grams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_overlap_grams"), F.lit(0))
            .cast("bigint")
            .alias("n_overlap_grams"),
            (
                F.coalesce(F.col("n_overlap_grams"), F.lit(0))
                >= F.lit(int(min_overlap))
            ).alias("contaminated"),
        )
        .orderBy(id_col)
    )
