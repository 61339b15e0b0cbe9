"""Capture the optimized plan of ``curation_flags`` (``ordered=False``, as
the curate job writes it).

    python plans/curate_driver/capture.py --sf /path/to/sf0.001 --out plan.txt
    python plans/curate_driver/capture.py --sf ... --out before.txt \
        --repo /path/to/other/checkout

The plan is printed with expression ids removed and the input directory
elided, so captures of two checkouts diff cleanly. The first line counts ``split(`` and ``zip_with(`` — how often
a row's token split and shingle chain appear in the plan.
"""

from __future__ import annotations

import argparse
import os
import re
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True, help="dir with documents.parquet")
    ap.add_argument("--out", required=True)
    ap.add_argument("--repo", default=os.path.join(
        os.path.dirname(__file__), "..", ".."),
        help="checkout whose package is captured")
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.repo))

    from gemini_ocr_batch_spark.operators.webtext import curation_flags
    from gemini_ocr_batch_spark.session import get_spark

    spark = get_spark(app_name="plan_capture", master="local[2]",
                      shuffle_partitions=2)
    docs = spark.read.parquet(os.path.join(args.sf, "documents.parquet"))
    plan = curation_flags(docs, ordered=False)._jdf.queryExecution() \
        .optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "", plan).replace(
        os.path.abspath(args.sf), "<sf>")
    # the tokenizer's whitespace class is raw characters; print it escaped
    plan = plan.replace("[ \t\n\x0b\f\r]+", r"[ \t\n\x0b\f\r]+")
    with open(args.out, "w") as f:
        f.write(f"split( x{plan.count('split(')}, "
                f"zip_with( x{plan.count('zip_with(')}\n{plan}\n")
    spark.stop()


if __name__ == "__main__":
    main()
