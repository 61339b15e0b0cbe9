"""One benchmark run of one workload, in a fresh process.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 6 --trace 0

1. Generates the workload's inputs from ``--seed`` in a child process
   (``gen.py``); generation belongs to no metric.
2. Set-up (``setup_s``): starts the Spark session, prepares the state the
   timed call starts from (the prior run a resume reads, the extracted run
   curation reads), then warms up with one call like the timed ones.
3. Repeats the timed call, each time into a fresh directory, until the
   calls have taken ``--seconds``; one closed-loop client, one job at a
   time on ``local[nproc]``.
4. Checks every call's output against the golden extractor or the DuckDB
   oracles and prints one JSON line: end-to-end metrics with ``--trace 0``,
   per-layer metrics with ``--trace 1`` (see ``layers.py``).

All state lives under ``.bench_run/`` in the checkout and is removed at the
end, except trace files, which are kept under ``.bench_run/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MB = 2**20
# the first calls after warm-up are still a little slower; two calls at
# least keep a run's median from resting on one of them alone
MIN_CALLS = 2
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def host_env(work: str) -> dict[str, str]:
    """Run hygiene: every core, a JVM heap sized to the host, shuffle
    and temp files inside the run's own directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{max(1024, min(4096, total_mb // 8))}m",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark_local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the JVM's Python workers import the program and layers.py
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
    }


def generate(workload: str, seed: int, out: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload",
         workload, "--seed", str(seed), "--out", out],
        check=True, capture_output=True, text=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def start_spark(work: str):
    from gemini_ocr_batch_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # temp files inside the run's directory; no /tmp/hsperfdata file
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    log("session stopped")
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    log("jvm ended")
    wait_children()


def wait_children(grace_s: float = 2.0) -> None:
    """Wait for every descendant to end; after ``grace_s`` terminate the
    rest (the Python workers the JVM started)."""
    from observe import descendants

    def reap() -> None:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no children left
            pass

    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in descendants() if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            reap()
            if not descendants():
                return
            time.sleep(0.05)


def timed_calls(wl, work: str, seconds: float, tracer=None, groups=None):
    """Repeat the timed call, each into a fresh directory, until the calls
    have taken ``seconds`` and ran at least ``MIN_CALLS`` times.  With a
    tracer, calls go untraced, traced, traced, untraced, ... (a traced call
    runs in a span and a job group named by its run id), so both kinds see
    the same warm-up drift, and at least ``MIN_CALLS`` of each kind run.

    Returns (calls, crashed): one dict per call that returned."""
    from observe import dir_files, new_bytes, span

    calls: list[dict] = []
    min_calls = MIN_CALLS * (2 if tracer else 1)
    while (sum(c["secs"] for c in calls) < seconds
           or len(calls) < min_calls):
        traced = tracer is not None and len(calls) % 4 in (1, 2)
        wl.tracer = tracer if traced else None
        run_id = f"{'traced' if traced else 'rep'}{len(calls)}"
        rep_dir = os.path.join(work, run_id)
        wl.before(rep_dir)
        before = dir_files(rep_dir)
        t0 = time.perf_counter()
        try:
            with span(tracer if traced else None, run_id, groups):
                result = wl.call(rep_dir, run_id)
        except Exception:  # a crashed call fails all of its documents
            traceback.print_exc()
            return calls, 1
        secs = time.perf_counter() - t0
        calls.append({"dir": rep_dir, "run_id": run_id, "result": result,
                      "secs": secs, "written": new_bytes(before, rep_dir),
                      "traced": traced})
        log(f"{run_id}: {secs:.3f} s, {calls[-1]['written'] / MB:.3f} MB "
            "written")
    return calls, 0


def run(args, work: str) -> dict:
    from observe import JobGroups, PeakMemory, Tracer, span
    from workloads import WORKLOADS

    inputs = os.path.join(work, "inputs")
    rows = generate(args.workload, args.seed, inputs)
    log(f"inputs generated: {rows}")

    tracer = Tracer() if args.trace else None
    groups = spark = None
    try:
        t0 = time.perf_counter()
        with span(tracer, "session.start"):
            spark = start_spark(work)
        t1 = time.perf_counter()
        groups = JobGroups(spark) if args.trace else None
        wl = WORKLOADS[args.workload](spark, inputs, work, rows)
        with span(tracer, "session.prepare", groups):
            wl.prepare()
        t2 = time.perf_counter()
        # warm-up: one call like the timed ones, its output not kept
        warm_dir = os.path.join(work, "warmup")
        wl.before(warm_dir)
        with span(tracer, "session.warmup", groups):
            wl.call(warm_dir, "warmup")
        t3 = time.perf_counter()
        shutil.rmtree(warm_dir)
        log("set-up done")

        with PeakMemory() as mem:
            calls, crashed = timed_calls(wl, work, args.seconds, tracer,
                                         groups)
        plain = [c for c in calls if not c["traced"]]
        r = {"setup_s": t3 - t0, "session_s": t1 - t0, "prepare_s": t2 - t1,
             "warmup_s": t3 - t2, "peak_rss_mb": mem.peak_mb,
             "calls": len(calls)}
        if plain:
            r["run_s"] = statistics.median(c["secs"] for c in plain)
            r["written_mb"] = statistics.median(
                c["written"] for c in plain) / MB
        traced = [c for c in calls if c["traced"]]
        r["tracer"] = tracer
        if traced and not crashed:
            import layers

            r["traced_s"] = statistics.median(c["secs"] for c in traced)
            r["layers"] = layers.probe_all(wl, traced[-1], tracer, groups)
        log("timed calls done")
        attempted, failed = wl.check(calls) if calls else (0, 0)
        log("outputs checked")
        r["attempted"] = attempted + crashed * wl.docs
        r["failed"] = failed + crashed * wl.docs
        r["docs"] = wl.docs
        return r
    finally:
        if spark is not None:
            stop_spark(spark)
            log("spark stopped")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="one benchmark run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    try:
        import gemini_ocr_batch_spark  # noqa: F401  the program under test
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_run",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = host_env(work)
    for d in (env["SPARK_GRAFT_LOCAL_DIR"], env["TMPDIR"]):
        os.makedirs(d)
    os.environ.update(env)
    try:
        r = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed_share = r["failed"] / r["attempted"] if r["attempted"] else 1.0
    print(f"{args.workload} seed={args.seed}: {r['calls']} timed calls "
          f"of {r['docs']} docs")
    if args.trace:
        import layers

        values = layers.values(r)
        layers.report(r, spec, args, ROOT)
    else:
        values = dict(r)
        if r.get("run_s"):
            values["docs_per_s"] = r["docs"] / r["run_s"]
    listed = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: (float(values[m["name"]]), m["unit"])
               for m in listed if values.get(m["name"]) is not None}
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} failed_share = {failed_share:.6g} 1")
    print(json.dumps({
        "correct": r["failed"] == 0 and r["attempted"] > 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
