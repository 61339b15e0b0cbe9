"""Capture the executed plan of a resumed extraction call's kernel input.

    python plans/frontier/capture.py --work /tmp/fr --out after.txt
    python plans/frontier/capture.py --work /tmp/fr --out before.txt \
        --repo /path/to/other/checkout        # the same call on other code

Extracts 380 generated pages into a fresh out dir, then resumes over all
400 (20 new keys). The resumed call's ``extract_attempts`` frame (the
frontier with its attempt budget, salted or not, and the kernel) is kept,
collected once more after the call, and its final (post-AQE) plan written
to ``--out``, with the checkout's and work dir's paths elided. The plan
shows how often the call reads the checkpoint: its ``Scan parquet`` nodes
over ``<work>/out/checkpoint`` and the broadcasts that feed the joins.
Only ``run_extraction_job`` and ``job.extract_attempts`` are used, so any
checkout with them can be captured.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True, help="scratch dir (wiped)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--repo", default=os.path.join(
        os.path.dirname(__file__), "..", ".."),
        help="checkout whose gemini_ocr_batch_spark is captured")
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [repo] + [p for p in [os.environ.get("PYTHONPATH")] if p])

    import gemini_ocr_batch_spark.job as job
    from gemini_ocr_batch_spark.datagen import (
        generate_rows,
        write_pages_parquet,
    )
    from gemini_ocr_batch_spark.session import get_spark

    spark = get_spark(app_name="plan_capture", master="local[4]",
                      shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    work = os.path.abspath(args.work)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rows = generate_rows(400, seed=7)
    write_pages_parquet(rows[:380], os.path.join(work, "base.parquet"))
    write_pages_parquet(rows, os.path.join(work, "all.parquet"))
    out = os.path.join(work, "out")
    job.run_extraction_job(
        spark, spark.read.parquet(os.path.join(work, "base.parquet")), out,
        run_id="base")

    frames = []
    real = job.extract_attempts

    def keep(*a, **k):
        frames.append(real(*a, **k))
        return frames[-1]

    job.extract_attempts = keep
    job.run_extraction_job(
        spark, spark.read.parquet(os.path.join(work, "all.parquet")), out,
        run_id="resume")
    job.extract_attempts = real
    frame = frames[-1]
    frame.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(
        frame._jdf.queryExecution(), "formatted")
    with open(args.out, "w") as f:
        f.write(plan.replace(work, "<work>").replace(repo, "<repo>"))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
