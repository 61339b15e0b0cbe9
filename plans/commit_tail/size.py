"""Time the extraction job's commit tail on an N-row synthetic call.

    python plans/commit_tail/size.py --rows 3000000 --work /tmp/tail
    python plans/commit_tail/size.py --rows 3000000 --work /tmp/tail \
        --repo /path/to/other/checkout        # the same call on other code

The kernel is replaced by a synthetic attempts frame (``--rows`` first
attempts, ``--fail-share`` of them failing all ``3`` attempts), so the call
runs only the job's own staged write and commit tail. Two calls go into
one out dir: the first merges into a fresh checkpoint, the second merges
the same keys again under a new run_id. For each call it prints one JSON
line: the job's ``phase_secs`` (``lineage``, ``merge``, ``failures`` are
the tail), their sum as ``tail_s``, and the peak RSS so far of the Python
driver and of the Spark JVM (VmHWM, MB). Only ``run_extraction_job`` and
``job.extract_attempts`` are used, so any checkout with them can be timed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def _hwm_mb(pid: int | str = "self") -> float | None:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return round(int(line.split()[1]) / 1024, 1)
    except OSError:
        pass
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, required=True,
                    help="first-attempt rows in the staged call")
    ap.add_argument("--work", required=True, help="scratch dir (wiped)")
    ap.add_argument("--repo", default=os.path.join(
        os.path.dirname(__file__), "..", ".."),
        help="checkout whose gemini_ocr_batch_spark is timed")
    ap.add_argument("--fail-share", type=float, default=0.05)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.repo))

    from pyspark.sql import functions as F

    import gemini_ocr_batch_spark.job as job
    from gemini_ocr_batch_spark.schemas import EXTRACTED_SCHEMA
    from gemini_ocr_batch_spark.session import get_spark

    spark = get_spark(app_name="commit_tail_size",
                      master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    every = max(1, round(1 / args.fail_share)) if args.fail_share else 0
    bad = (F.col("id") % every == 0) if every else F.lit(False)
    first = spark.range(args.rows, numPartitions=4 * args.cpus).select(
        F.concat(F.lit("https://example.org/p/"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") % 86400)
        .alias("warc_ts"),
        F.when(~bad, F.lit("alpha beta gamma")).alias("extracted_text"),
        F.lit(None).cast(EXTRACTED_SCHEMA["spans"].dataType).alias("spans"),
        F.lit("html").alias("content_kind"),
        F.lit("synthetic").alias("extractor_version"),
        F.when(bad, F.lit("DecodeError")).alias("error_type"),
        F.when(bad, F.lit("UnicodeDecodeError: synthetic"))
        .alias("error_message"),
        F.when(bad, F.repeat(F.lit("x"), 240)).alias("input_sample"),
        F.spark_partition_id().alias("partition_id"),
        (F.lit(1000) + F.col("id") % 5000).alias("bytes_in"),
        F.lit(100_000).cast("long").alias("kernel_ns"),
        F.lit(0).alias("attempt"),
    )
    failed = first.filter(F.col("error_type").isNotNull())
    attempts = first.unionByName(
        failed.withColumn("attempt", F.lit(1))).unionByName(
        failed.withColumn("attempt", F.lit(2)))
    job.extract_attempts = lambda *a, **k: attempts

    jvm = spark.sparkContext._gateway.proc
    pages = spark.createDataFrame(
        [("https://example.org/seed", None, b"")], "url string, "
        "warc_ts timestamp, html binary")
    shutil.rmtree(args.work, ignore_errors=True)
    out = os.path.join(args.work, "out")
    for call in ("fresh", "again"):
        res = job.run_extraction_job(spark, pages, out, run_id=call)
        tail = sum(res.phase_secs.get(k, 0.0)
                   for k in ("lineage", "merge", "failures"))
        print(json.dumps({
            "call": call, "rows": res.extracted_rows,
            "failed_rows": res.failed_rows, "passes": res.passes,
            "phase_secs": res.phase_secs, "tail_s": round(tail, 3),
            "driver_hwm_mb": _hwm_mb(),
            "jvm_hwm_mb": _hwm_mb(jvm.pid) if jvm else None,
        }), flush=True)
    spark.stop()
    shutil.rmtree(args.work, ignore_errors=True)


if __name__ == "__main__":
    main()
