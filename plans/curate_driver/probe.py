"""Driver-side cost of one curate call: py4j round trips by package call
site, Spark jobs, and the flags-stage time.

    python plans/curate_driver/probe.py --work /tmp/cd --seed 1 --calls 5
    python plans/curate_driver/probe.py --work /tmp/cd --repo /other/checkout

Set-up generates the benchmark's ``curate`` corpus for ``--seed``
(``perfbench/gen.py``) and extracts it once with ``run_extraction_job``.
A curate call is what the benchmark times: ``run_curation_job`` over the
extracted run, then ``near_dedup_keep_list`` over the kept corpus,
written out. After one warm-up call, each of ``--calls`` calls prints one
JSON line:

- ``wall_s``: the call's wall time;
- ``py4j_trips`` / ``py4j_s``: round trips from Python to the JVM and
  their summed time; ``py4j_small_s`` sums only trips under 20 ms (the
  expression building and bookkeeping; the rest are Spark actions);
- ``jobs``: Spark jobs the call started (its job group);
- ``by_site``: trips per innermost ``gemini_ocr_batch_spark`` frame
  (``module:function``), largest first.

A last line holds the medians and ``flags_s``: the median time of a noop
write of ``curation_flags(ordered=False)`` over the extracted rows, timed
``--calls`` times after one warm-up (the benchmark's ``webtext.flags_s``
layer). ``--repo`` times the same calls on another checkout.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "gemini_ocr_batch_spark"


class TripCounter:
    """Wraps py4j's ``send_command``: counts and times each round trip and
    attributes it to the innermost frame inside the package."""

    def __init__(self) -> None:
        from py4j.clientserver import ClientServerConnection

        self.cls = ClientServerConnection
        self.orig = ClientServerConnection.send_command
        self.reset()
        counter = self

        def send_command(conn, command, *a, **kw):
            t = time.perf_counter()
            try:
                return counter.orig(conn, command, *a, **kw)
            finally:
                counter.record(time.perf_counter() - t)

        ClientServerConnection.send_command = send_command

    def reset(self) -> None:
        self.trips = 0
        self.secs = 0.0
        self.small_secs = 0.0
        self.sites: collections.Counter = collections.Counter()

    def record(self, dt: float) -> None:
        self.trips += 1
        self.secs += dt
        if dt < 0.02:
            self.small_secs += dt
        f = sys._getframe(2)
        site = "<outside package>"
        while f is not None:
            path = f.f_code.co_filename
            if f"{os.sep}{PKG}{os.sep}" in path:
                mod = path.rsplit(f"{os.sep}{PKG}{os.sep}", 1)[1]
                site = f"{mod[:-3].replace(os.sep, '.')}:{f.f_code.co_name}"
                break
            f = f.f_back
        self.sites[site] += 1

    def restore(self) -> None:
        self.cls.send_command = self.orig


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True, help="scratch dir (wiped)")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--calls", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--repo", default=os.path.join(HERE, "..", ".."),
                    help="checkout whose package is timed")
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [repo] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    shutil.rmtree(args.work, ignore_errors=True)
    inputs = os.path.join(args.work, "inputs")
    subprocess.run(
        [sys.executable, os.path.join(repo, "perfbench", "gen.py"),
         "--workload", "curate", "--seed", str(args.seed), "--out", inputs],
        check=True, capture_output=True)

    from gemini_ocr_batch_spark.job import read_extracted, run_extraction_job
    from gemini_ocr_batch_spark.operators.dedup import near_dedup_keep_list
    from gemini_ocr_batch_spark.operators.webtext import (
        curation_flags,
        run_curation_job,
    )
    from gemini_ocr_batch_spark.session import get_spark

    spark = get_spark(app_name="curate_driver", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    extracted = os.path.join(args.work, "extracted")
    run_extraction_job(spark, spark.read.parquet(os.path.join(inputs,
                                                              "pages")),
                       extracted, run_id="prep")

    def curate(out: str) -> None:
        stats = run_curation_job(spark, extracted,
                                 os.path.join(out, "curated"))
        corpus = spark.read.parquet(stats["corpus_path"])
        near_dedup_keep_list(
            corpus, id_col="url", text_col="extracted_text"
        ).write.parquet(os.path.join(out, "keep_list"))

    curate(os.path.join(args.work, "warmup"))
    counter = TripCounter()
    rows = []
    try:
        for i in range(args.calls):
            group = f"curate_driver_{i}"
            sc.setJobGroup(group, group)
            counter.reset()
            t = time.perf_counter()
            curate(os.path.join(args.work, f"call{i}"))
            wall = time.perf_counter() - t
            trips, secs = counter.trips, counter.secs
            small, sites = counter.small_secs, counter.sites.most_common()
            counter.reset()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            row = {"call": i, "wall_s": round(wall, 3), "py4j_trips": trips,
                   "py4j_s": round(secs, 3), "py4j_small_s": round(small, 3),
                   "jobs": jobs, "by_site": dict(sites)}
            rows.append(row)
            print(json.dumps(row), flush=True)
    finally:
        counter.restore()
        sc.setLocalProperty("spark.jobGroup.id", None)

    flags = curation_flags(read_extracted(spark, extracted), id_col="url",
                           text_col="extracted_text", ordered=False)
    secs = []
    for _ in range(args.calls + 1):
        t = time.perf_counter()
        flags.write.format("noop").mode("overwrite").save()
        secs.append(time.perf_counter() - t)
    print(json.dumps({
        "repo": repo, "seed": args.seed, "calls": args.calls,
        **{f"median_{k}": statistics.median(r[k] for r in rows)
           for k in ("wall_s", "py4j_trips", "py4j_s", "py4j_small_s",
                     "jobs")},
        "flags_s": round(statistics.median(secs[1:]), 3),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
