"""Capture the executed plans of one ``near_dedup_keep_list`` call.

    python plans/components/capture.py --sf /path/to/sf0.001 --out plan.txt

Components materialize every round through ``localCheckpoint``, so the
plan of the returned frame shows only the last step.  This records, in
order, the final (post-AQE) plan of every frame the call checkpoints,
then the plan of the collected keep-list.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", ".."))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True, help="dir with documents.parquet")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from gemini_ocr_batch_spark.operators.dedup import near_dedup_keep_list
    from gemini_ocr_batch_spark.session import get_spark

    spark = get_spark(app_name="plan_capture", master="local[4]",
                      shuffle_partitions=4)

    def explain(df) -> str:
        # the input directory is elided so captures compare across hosts
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).replace(os.path.abspath(args.sf), "<sf>")

    docs = spark.read.parquet(os.path.join(args.sf, "documents.parquet"))
    frame = type(docs)  # the concrete DataFrame class the operators get
    plans: list[str] = []
    checkpoint = frame.localCheckpoint

    def recording_checkpoint(self, eager=True, storageLevel=None):
        out = checkpoint(self, eager, storageLevel)
        plans.append(explain(self))
        return out

    frame.localCheckpoint = recording_checkpoint
    keep = near_dedup_keep_list(docs)
    keep.collect()
    frame.localCheckpoint = checkpoint
    with open(args.out, "w") as f:
        for i, p in enumerate(plans, 1):
            f.write(f"==== localCheckpoint {i} of {len(plans)} ====\n{p}\n")
        f.write(f"==== keep-list (collect) ====\n{explain(keep)}\n")
    spark.stop()


if __name__ == "__main__":
    main()
