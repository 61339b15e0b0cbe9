"""Median Python task time of an identity ``mapInArrow``, for a worker's
first task and for its later ones.

    python plans/worker_cost/probe.py --partitions 16 --calls 10 --hook 1
    python plans/worker_cost/probe.py --hook 0 --repo /path/to/checkout

Each call runs one job: an identity ``mapInArrow`` over ``--partitions``
partitions of ``spark.range`` (the UDF passes every batch through and tags
it with its worker's pid). With ``--hook 1`` the UDF first installs the
package's zip-cache hook (``gemini_ocr_batch_spark.zipcache``), as the
extraction UDF does; ``--hook 0`` is the stock worker. A task is a
worker's first when its pid was not seen in an earlier task. Task
durations come from Spark's status store. Prints one JSON line: the
median task milliseconds of first and later tasks, their counts, and the
median time of one ``importlib.invalidate_caches()`` call timed inside
later tasks (the per-task cost the hook removes).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys


def _identity(hook: bool):
    def udf(batches):
        import importlib
        import os
        import time

        import pyarrow as pa

        if hook:
            from gemini_ocr_batch_spark import zipcache

            zipcache.install()
        t = time.perf_counter()
        importlib.invalidate_caches()
        inv_ms = (time.perf_counter() - t) * 1e3
        for b in batches:
            n = b.num_rows
            yield pa.record_batch(
                [b.column("id"), pa.array([os.getpid()] * n, pa.int64()),
                 pa.array([inv_ms] * n, pa.float64())],
                names=["id", "pid", "inv_ms"])
    return udf


def _task_ms(sc, group: str, n_tasks: int) -> dict[int, tuple[int, float]]:
    """partition index → (launch time, duration), both ms, of the tasks of
    the group's mapInArrow stage."""
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    stages = sorted(s for j in tracker.getJobIdsForGroup(group)
                    for s in tracker.getJobInfo(j).stageIds)
    for sid in stages:
        sd = store.lastStageAttempt(sid)
        if sd.numTasks() != n_tasks:
            continue
        it = store.taskList(sid, sd.attemptId(), n_tasks).iterator()
        out = {}
        while it.hasNext():
            t = it.next()
            if t.duration().isDefined():
                out[t.index()] = (t.launchTime().getTime(),
                                  float(t.duration().get()))
        return out
    raise RuntimeError(f"no {n_tasks}-task stage in group {group}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--partitions", type=int, default=16)
    ap.add_argument("--calls", type=int, default=10)
    ap.add_argument("--rows", type=int, default=1024,
                    help="rows per partition")
    ap.add_argument("--hook", type=int, choices=(0, 1), default=1)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--repo", default=os.path.join(
        os.path.dirname(__file__), "..", ".."),
        help="checkout whose gemini_ocr_batch_spark the workers import")
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [repo] + [p for p in [os.environ.get("PYTHONPATH")] if p])

    from pyspark.sql import functions as F

    from gemini_ocr_batch_spark.session import get_spark

    spark = get_spark(app_name="worker_cost", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    n = args.partitions
    seen: set[int] = set()
    first, later, inv = [], [], []
    for call in range(args.calls):
        group = f"worker_cost_{call}"
        sc.setJobGroup(group, group)
        rows = (spark.range(n * args.rows, numPartitions=n)
                .mapInArrow(_identity(bool(args.hook)),
                            "id long, pid long, inv_ms double")
                .select(F.spark_partition_id().alias("part"), "pid",
                        "inv_ms")
                .distinct().collect())
        sc.setLocalProperty("spark.jobGroup.id", None)
        ms = _task_ms(sc, group, n)
        for r in sorted({r["part"]: r for r in rows}.values(),
                        key=lambda r: ms[r["part"]][0]):  # launch order
            if r["pid"] in seen:
                later.append(ms[r["part"]][1])
                inv.append(r["inv_ms"])
            else:
                first.append(ms[r["part"]][1])
            seen.add(r["pid"])
    print(json.dumps({
        "hook": args.hook, "partitions": n, "calls": args.calls,
        "first_task_ms": statistics.median(first) if first else None,
        "later_task_ms": statistics.median(later) if later else None,
        "first_tasks": len(first), "later_tasks": len(later),
        "later_invalidate_ms": (round(statistics.median(inv), 2)
                                if inv else None),
        "workers": len(seen),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
