"""Crash-recovery and concurrency-safety tests for the extraction job.

Covers the three failure windows a long-lived production run actually hits:
1. fixed-run_id rerun after the checkpoint advanced (must not truncate
   previously promoted pass output);
2. driver death between the staged write and the checkpoint MERGE (rerun
   must not re-extract or leave duplicate keys — the analog of the
   reference's output-existence probe, reference: src/scanner.py:90-91);
3. two concurrent checkpoint writers (the second must fail loudly on the
   pointer CAS, never silently drop the first's delta).
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.checkpoint import (
    CheckpointConflict,
    ParquetCheckpointStore,
)
from gemini_ocr_batch_spark.job import read_extracted, run_extraction_job
from gemini_ocr_batch_spark.schemas import CHECKPOINT_SCHEMA, PAGES_SCHEMA

_TS = dt.datetime(2024, 1, 1)
_GOOD = (
    b"<html><body><p>alpha beta gamma delta epsilon zeta eta theta</p>"
    b"<p>one two three four five six seven eight nine ten</p></body></html>"
)


def _good_pages(spark, n=20):
    rows = [(f"https://ok.example/{i}", _TS, _GOOD, None, "en") for i in range(n)]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def _mixed_pages(spark, n_good=12, n_bad=4):
    rows = [
        (f"https://ok.example/{i}", _TS, _GOOD, None, "en")
        for i in range(n_good)
    ]
    rows += [
        (f"https://bad.example/{i}", _TS, bytes(range(256)) * 4, None, "en")
        for i in range(n_bad)
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def test_fixed_run_id_rerun_preserves_output(spark, tmp_path):
    """ADVICE (high): rerun with the same run_id after the checkpoint has
    advanced must keep every previously extracted row."""
    out = str(tmp_path / "out")
    pages = _good_pages(spark)
    res1 = run_extraction_job(spark, pages, out, run_id="fixedrun")
    n1 = read_extracted(spark, out).count()
    assert n1 == res1.success_rows == 20

    res2 = run_extraction_job(spark, pages, out, run_id="fixedrun")
    assert res2.extracted_rows == 0
    assert read_extracted(spark, out).count() == n1
    # and the original pass dir is untouched (still exactly one pass dir)
    run_dir = os.path.join(out, "extracted_all", "run_id=fixedrun")
    assert sorted(os.listdir(run_dir)) == ["pass_num=0"]


def test_fixed_run_id_rerun_continues_pass_numbering(spark, tmp_path):
    """A rerun under the same run_id with a non-empty frontier must land in
    a fresh pass dir — promoted pass dirs are immutable."""
    out = str(tmp_path / "out")
    pages = _good_pages(spark)
    run_extraction_job(spark, pages, out, run_id="fixedrun")
    run_dir = os.path.join(out, "extracted_all", "run_id=fixedrun")
    pass0 = os.path.join(run_dir, "pass_num=0")
    pass0_files = sorted(os.listdir(pass0))
    # admin rolls back 5 successes → they become pending again
    store = ParquetCheckpointStore(os.path.join(out, "checkpoint"))
    ckpt = store.read(spark)
    forget = ckpt.limit(5).select("url", "warc_ts")
    store.overwrite(ckpt.join(forget, ["url", "warc_ts"], "left_anti"))
    res2 = run_extraction_job(spark, pages, out, run_id="fixedrun")
    assert res2.extracted_rows == 5
    # the retry landed in pass_num=1; pass 0 is byte-untouched
    assert sorted(os.listdir(run_dir)) == ["pass_num=0", "pass_num=1"]
    assert sorted(os.listdir(pass0)) == pass0_files
    assert spark.read.parquet(pass0).count() == 20


def test_crash_between_promote_and_merge_reconciles(spark, tmp_path):
    """Simulated driver death after the pass dir was promoted but before the
    checkpoint MERGE: the next job folds the orphan pass into the
    checkpoint, so nothing is re-extracted and no key is duplicated."""
    out = str(tmp_path / "out")
    pages = _good_pages(spark)
    run_extraction_job(spark, pages, out, run_id="runA")
    pass_dir = os.path.join(out, "extracted_all", "run_id=runA", "pass_num=0")
    # rewind to the crash state: merge never happened, marker never written
    os.remove(os.path.join(pass_dir, "_MERGED"))
    shutil.rmtree(os.path.join(out, "checkpoint"))

    res2 = run_extraction_job(spark, pages, out, run_id="runB")
    assert res2.extracted_rows == 0  # reconciled, not re-extracted
    ext = read_extracted(spark, out)
    assert ext.count() == 20
    assert ext.select("url", "warc_ts").distinct().count() == 20
    assert os.path.exists(os.path.join(pass_dir, "_MERGED"))
    # and the orphaned run dir for runB holds no pass output at all
    run_b = os.path.join(out, "extracted_all", "run_id=runB")
    assert not os.path.isdir(run_b) or os.listdir(run_b) == []


def test_half_written_staging_is_discarded(spark, tmp_path):
    """A staging dir left by a crash mid-write is wiped at job start and
    never becomes visible to read_extracted."""
    out = str(tmp_path / "out")
    staging = os.path.join(out, "_staging", "deadrun-0-abcdef01")
    os.makedirs(staging)
    with open(os.path.join(staging, "part-garbage.parquet"), "wb") as f:
        f.write(b"not parquet")
    run_extraction_job(spark, _good_pages(spark), out, run_id="runC")
    assert not os.path.isdir(os.path.join(out, "_staging"))
    assert read_extracted(spark, out).count() == 20


def test_checkpoint_cas_rejects_stale_writer(spark, tmp_path):
    """Two writers from the same base: the second flip must raise, not
    silently discard the first's delta (ADVICE low / VERDICT #4)."""
    root = str(tmp_path / "ck")
    store = ParquetCheckpointStore(root, max_retries=3)

    def results(urls, err=None):
        rows = [(u, _TS, err) for u in urls]
        return spark.createDataFrame(
            rows, "url string, warc_ts timestamp, error_type string"
        )

    store.merge_results(results(["https://a/1"]))
    base = store._manifest()
    # writer 1 lands a merge (advances the pointer past `base`)
    store.merge_results(results(["https://a/2"]))
    # writer 2 derived its snapshot from `base` — its CAS must fail
    stale = store.read(spark)
    with pytest.raises(CheckpointConflict):
        store.overwrite(stale, expect=base)
    # the winning merge is intact and the flock was released
    urls = {r["url"] for r in store.read(spark).collect()}
    assert urls == {"https://a/1", "https://a/2"}
    # an unfenced overwrite (admin surface) still works
    store.overwrite(store.read(spark))


def test_bucket_pruned_merge_touches_only_delta_buckets(spark, tmp_path):
    """VERDICT #5: an incremental merge must rewrite ONLY the buckets
    containing delta keys — O(touched), never O(|checkpoint|)."""
    import json

    root = str(tmp_path / "ck")
    store = ParquetCheckpointStore(root, max_retries=3, n_buckets=8)

    def results(urls, err=None):
        rows = [(u, _TS, err) for u in urls]
        return spark.createDataFrame(
            rows, "url string, warc_ts timestamp, error_type string"
        )

    # seed: 200 keys spread across (almost surely) all 8 buckets
    store.merge_results(results([f"https://seed/{i}" for i in range(200)]))
    m1 = store._manifest()
    assert m1["n_buckets"] == 8
    assert len(m1["buckets"]) == 8
    v1 = set(m1["buckets"].values())
    assert len(v1) == 1  # fresh write: one version holds everything

    # incremental: ONE key → exactly one bucket may move to a new version
    store.merge_results(results(["https://delta/only-one"]))
    m2 = store._manifest()
    moved = {b for b in m2["buckets"] if m2["buckets"][b] not in v1}
    assert len(moved) == 1
    # the new version dir physically contains only that bucket
    new_version = m2["buckets"][next(iter(moved))]
    bucket_dirs = [
        d for d in os.listdir(os.path.join(root, new_version))
        if d.startswith("bucket=")
    ]
    assert bucket_dirs == [f"bucket={next(iter(moved))}"]
    # full contents intact: 201 keys, old rows preserved
    snap = store.read(spark)
    assert snap.count() == 201
    assert snap.filter(F.col("status") == "success").count() == 201
    # manifest JSON is the _CURRENT pointer
    with open(os.path.join(root, "_CURRENT"), encoding="utf-8") as f:
        assert json.load(f) == m2
    # vacuum keeps every referenced version even when old
    store.merge_results(results(["https://delta/two"]))
    store.vacuum(keep=1)
    for v in set(store._manifest()["buckets"].values()):
        assert os.path.isdir(os.path.join(root, v))
    assert store.read(spark).count() == 202


def test_local_and_spark_merge_paths_agree(spark, tmp_path):
    """merge_results_local (driver-side pyarrow) must produce exactly the
    same checkpoint state as merge_results (Spark) for the same passes —
    including retry/dead-letter transitions across multiple merges."""
    from gemini_ocr_batch_spark.schemas import EXTRACTED_SCHEMA
    from pyspark.sql import types as T

    staged_schema = T.StructType(
        list(EXTRACTED_SCHEMA.fields)
        + [T.StructField("is_ok", T.BooleanType(), True)]
    )

    def write_pass(path, rows):
        """rows: [(url, error_type)] — minimal staged pass parquet."""
        df = spark.createDataFrame(
            [
                (u, _TS, None, None, None, "v", err, None, None, 0, 0, 0,
                 err is None)
                for u, err in rows
            ],
            schema="url string, warc_ts timestamp, extracted_text string, "
            "spans array<struct<start:long,end:long,kind:string>>, "
            "content_kind string, extractor_version string, "
            "error_type string, error_message string, input_sample string, "
            "partition_id int, bytes_in long, kernel_ns long, is_ok boolean",
        )
        df.coalesce(1).write.mode("overwrite").parquet(path)
        return df

    passes = [
        [("https://a/ok1", None), ("https://a/bad1", "KernelError"),
         ("https://b/bad2", "DecodeError")],
        [("https://a/bad1", "KernelError"), ("https://b/bad2", None)],
        [("https://a/bad1", "KernelError")],
    ]
    local_store = ParquetCheckpointStore(str(tmp_path / "ck_local"),
                                         max_retries=3, n_buckets=4)
    spark_store = ParquetCheckpointStore(str(tmp_path / "ck_spark"),
                                         max_retries=3, n_buckets=4)
    for i, rows in enumerate(passes):
        p = str(tmp_path / f"pass{i}")
        df = write_pass(p, rows)
        assert local_store.merge_results_local(p) is True
        spark_store.merge_results(df.select("url", "warc_ts", "error_type"))

    def state(store):
        return {
            r["url"]: (r["status"], r["attempts"], r["last_error"])
            for r in store.read(spark).collect()
        }

    sl, ss = state(local_store), state(spark_store)
    assert sl == ss
    assert sl["https://a/ok1"] == ("success", 1, None)
    assert sl["https://b/bad2"] == ("success", 2, "DecodeError")
    assert sl["https://a/bad1"] == ("dead", 3, "KernelError")
    # and the two stores interoperate: a Spark merge on top of a
    # pyarrow-written snapshot (mixed-writer files must read identically)
    extra = spark.createDataFrame(
        [("https://c/new", _TS, None)],
        "url string, warc_ts timestamp, error_type string",
    )
    local_store.merge_results(extra)
    assert state(local_store)["https://c/new"] == ("success", 1, None)


def test_concurrent_merges_never_lose_updates(spark, tmp_path):
    """Lost-update stress: concurrent writers racing merge_results must
    either serialize or raise CheckpointConflict — after conflict-retry,
    every writer's keys are present exactly once with correct status."""
    import threading

    from gemini_ocr_batch_spark.checkpoint import CheckpointConflict

    root = str(tmp_path / "ck")
    store = ParquetCheckpointStore(root, max_retries=3, n_buckets=4)
    n_writers, n_keys = 4, 6
    errors: list[Exception] = []
    conflicts = [0]

    def writer(w: int) -> None:
        rows = [
            (f"https://w{w}/k{i}", _TS, "KernelError" if i % 3 == 0 else None)
            for i in range(n_keys)
        ]
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, error_type string"
        )
        for _attempt in range(30):
            try:
                store.merge_results(df)
                return
            except CheckpointConflict:
                conflicts[0] += 1
                continue
            except Exception as exc:  # noqa: BLE001
                errors.append(exc)
                return
        errors.append(RuntimeError(f"writer {w} starved"))

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    state = {
        r["url"]: (r["status"], r["attempts"])
        for r in store.read(spark).collect()
    }
    assert len(state) == n_writers * n_keys  # nothing lost, nothing doubled
    for w in range(n_writers):
        for i in range(n_keys):
            expected = ("failed", 1) if i % 3 == 0 else ("success", 1)
            assert state[f"https://w{w}/k{i}"] == expected, (w, i)


def test_dead_writer_lock_never_bricks_the_store(spark, tmp_path):
    """flock semantics: a lock file left behind by a killed writer is
    already released by the kernel — the next merge just acquires it.
    A lock held by a LIVE process is honored (clear timeout, no breaking)."""
    import fcntl
    import subprocess
    import sys

    root = str(tmp_path / "ck")
    store = ParquetCheckpointStore(root, max_retries=3)
    lock = os.path.join(root, "_CURRENT.lock")
    # simulate a dead writer: a child process takes the flock and is
    # SIGKILLed while "inside" the critical section
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import fcntl, os, sys, time\n"
         f"fd = os.open({lock!r}, os.O_CREAT | os.O_RDWR)\n"
         "fcntl.flock(fd, fcntl.LOCK_EX)\n"
         "print('locked', flush=True)\n"
         "time.sleep(60)\n"],
        stdout=subprocess.PIPE,
    )
    assert child.stdout.readline().strip() == b"locked"
    child.kill()
    child.wait()
    rows = spark.createDataFrame(
        [("https://a/1", _TS, None)],
        "url string, warc_ts timestamp, error_type string",
    )
    store.merge_results(rows)  # kernel released the dead child's flock
    assert store.read(spark).count() == 1
    assert os.path.exists(lock)  # the lock FILE persists by design
    # live holder: this process takes the flock on a separate descriptor
    import pytest as _pytest

    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        with _pytest.raises(CheckpointConflict, match="alive"):
            store._flip({"n_buckets": 16, "buckets": {}})
    finally:
        os.close(fd)


def test_empty_promoted_pass_dir_reconciles_cleanly(spark, tmp_path):
    """merge_results_local on a dir with no data files is a clean no-op
    (True), never an exception or a phantom 'merged'."""
    root = str(tmp_path / "ck")
    store = ParquetCheckpointStore(root, max_retries=3)
    empty = tmp_path / "pass_empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    assert store.merge_results_local(str(empty)) is True
    assert store._manifest() is None  # nothing flipped


def test_mark_running_visibility(spark, tmp_path):
    """mark_running stamps inflight keys without lease semantics: pending
    still returns them, and merge_results transitions them off running."""
    root = str(tmp_path / "ck")
    store = ParquetCheckpointStore(root, max_retries=3)
    pages = _good_pages(spark, n=6)
    store.mark_running(pages.select("url", "warc_ts"))
    snap = store.read(spark)
    assert snap.filter(F.col("status") == "running").count() == 6
    # running keys are still pending (a crashed run never strands work)
    assert store.pending(pages).count() == 6
    done = pages.select(
        "url", "warc_ts", F.lit(None).cast("string").alias("error_type")
    )
    store.merge_results(done)
    snap = store.read(spark)
    assert snap.filter(F.col("status") == "running").count() == 0
    assert snap.filter(F.col("status") == "success").count() == 6
    # success is sticky: re-marking running must not demote completed keys
    store.mark_running(pages.select("url", "warc_ts"))
    assert store.read(spark).filter(F.col("status") == "success").count() == 6


def test_failure_log_carries_message_and_sample(spark, tmp_path):
    """M5 fidelity: failures are debuggable from the log alone — typed code
    plus exception message plus a prefix of the raw input (reference keeps
    message + payload, src/prefect_state.py:245-282)."""
    out = str(tmp_path / "out")
    rows = [
        ("https://bad.example/garbage", _TS, bytes(range(256)) * 4, None, "en"),
        ("https://bad.example/empty", _TS, b"", None, "en"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    run_extraction_job(spark, pages, out, max_retries=1)
    failures = spark.read.parquet(os.path.join(out, "failures"))
    by_url = {r["url"]: r for r in failures.collect()}
    garbage = by_url["https://bad.example/garbage"]
    assert garbage["error_type"] == "DecodeError"
    assert garbage["error_message"]  # exception repr, non-empty
    assert garbage["input_sample"]  # prefix of the raw bytes
    empty = by_url["https://bad.example/empty"]
    assert empty["error_type"] == "EmptyDocument"
    assert empty["error_message"]
    assert empty["input_sample"] is None  # nothing to sample


def test_multi_run_lifecycle_bounded_and_consistent(spark, tmp_path):
    """VERDICT r3 item 6: the long-horizon composition. Three successive
    runs against ONE store — a new page wave arriving before each run,
    failures dead-lettering, a CAS loser mid-lifecycle, vacuum after
    every run — asserting after each run that the checkpoint is exactly
    the presented key set in terminal states, the extracted output has no
    duplicate success keys, every promoted pass dir is _MERGED-stamped,
    and vacuum keeps the version count (disk footprint) bounded."""
    import json as _json

    out = str(tmp_path / "out")
    ck_root = os.path.join(out, "checkpoint")
    max_retries = 2

    def wave(prefix, n_good, n_bad):
        rows = [
            (f"https://{prefix}.example/{i}", _TS, _GOOD, None, "en")
            for i in range(n_good)
        ]
        rows += [
            (f"https://{prefix}-bad.example/{i}", _TS,
             bytes(range(256)) * 4, None, "en")
            for i in range(n_bad)
        ]
        return rows

    waves = [wave("a", 10, 2), wave("b", 8, 1), wave("c", 12, 0)]
    presented: list[tuple] = []
    for i, w in enumerate(waves):
        presented += w
        pages = spark.createDataFrame(presented, PAGES_SCHEMA)
        res = run_extraction_job(
            spark, pages, out, max_retries=max_retries, run_id=f"run{i}"
        )
        n_good_new = sum(1 for r in w if r[2] == _GOOD)
        n_bad_new = len(w) - n_good_new
        # resume: ONLY the new wave is extracted; bad keys retry to death
        # within the run (attempts == max_retries each)
        assert res.extracted_rows == n_good_new + n_bad_new * max_retries

        store = ParquetCheckpointStore(ck_root, max_retries=max_retries)
        state = {
            r["url"]: (r["status"], r["attempts"])
            for r in store.read(spark).collect()
        }
        assert set(state) == {r[0] for r in presented}
        for url, (status, attempts) in state.items():
            if "-bad." in url:
                assert (status, attempts) == ("dead", max_retries), url
            else:
                assert (status, attempts) == ("success", 1), url

        # output: one success row per success key, never duplicated by
        # the resume anti-join across runs
        ok_urls = [r["url"] for r in read_extracted(spark, out).collect()]
        assert len(ok_urls) == len(set(ok_urls))
        assert set(ok_urls) == {
            u for u, (s, _) in state.items() if s == "success"
        }

        # every promoted pass dir is merged into the checkpoint
        all_dir = os.path.join(out, "extracted_all")
        for run_dir in os.listdir(all_dir):
            if not run_dir.startswith("run_id="):
                continue
            for pass_dir in os.listdir(os.path.join(all_dir, run_dir)):
                marker = os.path.join(all_dir, run_dir, pass_dir, "_MERGED")
                assert os.path.exists(marker), marker

        # vacuum bounds the on-disk version count: referenced versions
        # (one per bucket at most) + the keep=2 reader grace
        store.vacuum(keep=2)
        manifest = _json.loads(
            open(os.path.join(ck_root, "_CURRENT"), encoding="utf-8").read()
        )
        referenced = set(manifest["buckets"].values())
        on_disk = {d for d in os.listdir(ck_root) if d.startswith("v_")}
        assert referenced <= on_disk  # vacuum never drops a live version
        assert len(on_disk) <= len(referenced) + 2

        if i == 1:
            # CAS loser mid-lifecycle: a writer that derived its snapshot
            # before this run's merges must fail loudly and leave the
            # winning state intact (vacuum above must also not have
            # disturbed CAS bookkeeping)
            stale_base = None  # fresh-store expectation is definitely stale
            with pytest.raises(CheckpointConflict):
                store.overwrite(store.read(spark), expect=stale_base)
            assert {
                r["url"] for r in store.read(spark).collect()
            } == set(state)


_BAD_BLOB = bytes(range(256)) * 4


def _seed(spark, store, rows):
    """Overwrite the checkpoint with (url, status, attempts) rows."""
    store.overwrite(spark.createDataFrame(
        [(u, _TS, s, a, "DecodeError" if a else None, _TS)
         for u, s, a in rows],
        CHECKPOINT_SCHEMA,
    ))


def _bad_pages(spark, urls):
    return spark.createDataFrame(
        [(u, _TS, _BAD_BLOB, None, "en") for u in urls], PAGES_SCHEMA
    )


def _passes_of(out, run_id="r"):
    """url → sorted pass numbers holding a row for it."""
    run_dir = os.path.join(out, "extracted_all", f"run_id={run_id}")
    seen: dict[str, list[int]] = {}
    for d in sorted(os.listdir(run_dir)):
        for r in pq.read_table(os.path.join(run_dir, d),
                               columns=["url"]).to_pylist():
            seen.setdefault(r["url"], []).append(int(d.split("=")[1]))
    return {u: sorted(p) for u, p in seen.items()}


def _state(spark, out):
    store = ParquetCheckpointStore(os.path.join(out, "checkpoint"))
    return {
        r["url"]: (r["status"], r["attempts"], r["last_error"])
        for r in store.read(spark).collect()
    }


def test_failed_key_from_a_crashed_run_gets_its_remaining_budget(
        spark, tmp_path):
    """A key left failed with attempts=1 gets max_retries - 1 = 2 more
    attempts, in pass dirs 0 and 1, and ends dead with 3; a new failing
    key beside it gets all 3."""
    out = str(tmp_path / "out")
    store = ParquetCheckpointStore(os.path.join(out, "checkpoint"))
    _seed(spark, store, [("https://bad/seeded", "failed", 1)])
    res = run_extraction_job(
        spark, _bad_pages(spark, ["https://bad/seeded", "https://bad/new"]),
        out, max_retries=3, run_id="r")
    assert _passes_of(out) == {
        "https://bad/seeded": [0, 1], "https://bad/new": [0, 1, 2]}
    assert _state(spark, out) == {
        "https://bad/seeded": ("dead", 3, "DecodeError"),
        "https://bad/new": ("dead", 3, "DecodeError"),
    }
    assert (res.passes, res.extracted_rows) == (3, 5)


def test_running_keys_get_budget_from_their_attempts(spark, tmp_path):
    """A key a track_inflight run left running with 0 attempts gets the
    full budget; one left running after 2 failed attempts gets 1."""
    out = str(tmp_path / "out")
    store = ParquetCheckpointStore(os.path.join(out, "checkpoint"))
    _seed(spark, store, [("https://bad/fresh", "running", 0),
                         ("https://bad/twice", "running", 2)])
    run_extraction_job(
        spark, _bad_pages(spark, ["https://bad/fresh", "https://bad/twice"]),
        out, max_retries=3, run_id="r", track_inflight=True)
    assert _passes_of(out) == {
        "https://bad/fresh": [0, 1, 2], "https://bad/twice": [0]}
    assert _state(spark, out) == {
        "https://bad/fresh": ("dead", 3, "DecodeError"),
        "https://bad/twice": ("dead", 3, "DecodeError"),
    }


def test_lowered_store_max_retries_still_gives_one_attempt(spark, tmp_path):
    """A key whose attempts already reach a lowered store.max_retries is
    still attempted once, then dead-lettered."""
    out = str(tmp_path / "out")
    store = ParquetCheckpointStore(os.path.join(out, "checkpoint"),
                                   max_retries=1)
    _seed(spark, store, [("https://bad/k", "failed", 2)])
    res = run_extraction_job(spark, _bad_pages(spark, ["https://bad/k"]),
                             out, max_retries=3, run_id="r", store=store)
    assert _passes_of(out) == {"https://bad/k": [0]}
    assert _state(spark, out) == {"https://bad/k": ("dead", 3, "DecodeError")}
    assert res.passes == 1


class _Crash(RuntimeError):
    pass


@pytest.mark.parametrize("crash_at", ["merge_attempt_0", "promote_attempt_1"])
def test_crash_between_attempts_resumes_to_uninterrupted_state(
        spark, tmp_path, monkeypatch, crash_at):
    """A driver crash in the call's one merge (every attempt dir already
    promoted), or after attempt 0 is promoted but before attempt 1 is:
    the rerun wipes any staged later attempts, reconciles the promoted
    ones, and gives the failed keys their remaining budget — ending in the
    checkpoint state and pass dirs of an uninterrupted run."""
    import gemini_ocr_batch_spark.job as job

    pages = _mixed_pages(spark)
    clean = str(tmp_path / "clean")
    run_extraction_job(spark, pages, clean, max_retries=3, run_id="r")

    out = str(tmp_path / "out")
    if crash_at == "merge_attempt_0":
        def crash(self, path, *a, **k):
            raise _Crash(path)
        monkeypatch.setattr(ParquetCheckpointStore, "merge_results_local",
                            crash)
    else:
        real = os.rename

        def crash(src, dst, *a, **k):
            if src.endswith("attempt=1"):
                raise _Crash(src)
            return real(src, dst, *a, **k)
        monkeypatch.setattr(job.os, "rename", crash)
    with pytest.raises(_Crash):
        run_extraction_job(spark, pages, out, max_retries=3, run_id="r")
    monkeypatch.undo()
    # the one merge runs after every attempt dir is promoted
    promoted = (["pass_num=0", "pass_num=1", "pass_num=2"]
                if crash_at == "merge_attempt_0" else ["pass_num=0"])
    assert sorted(os.listdir(os.path.join(
        out, "extracted_all", "run_id=r"))) == promoted

    run_extraction_job(spark, pages, out, max_retries=3, run_id="r")
    assert _state(spark, out) == _state(spark, clean)
    assert _passes_of(out) == _passes_of(clean)
    assert not os.path.exists(os.path.join(out, "_staging"))


def test_crash_after_merge_flip_before_stamps_is_not_replayed(
        spark, tmp_path, monkeypatch):
    """A driver crash after the call's merge flip but before its _MERGED
    stamps: the manifest's commit record names the unstamped pass dir, so
    the rerun only stamps it. A budget-cut call (one attempt, store
    dead-letters at 3) leaves its failed keys open, so a replay would show
    as a second counted attempt."""
    import gemini_ocr_batch_spark.job as job

    pages = _mixed_pages(spark)

    def call(out):
        store = ParquetCheckpointStore(os.path.join(out, "checkpoint"),
                                       max_retries=3)
        run_extraction_job(spark, pages, out, max_retries=1, run_id="r",
                           store=store)

    clean = str(tmp_path / "clean")
    call(clean)
    call(clean)

    out = str(tmp_path / "out")
    real_touch = job._touch

    def crash(path):
        if path.endswith(job._MERGED):
            raise _Crash(path)
        real_touch(path)
    monkeypatch.setattr(job, "_touch", crash)
    with pytest.raises(_Crash):
        call(out)
    monkeypatch.undo()
    pass0 = os.path.join(out, "extracted_all", "run_id=r", "pass_num=0")
    assert not os.path.exists(os.path.join(pass0, job._MERGED))
    assert {a for _s, a, _e in _state(spark, out).values()} == {1}
    crashed = ParquetCheckpointStore(
        os.path.join(out, "checkpoint"))._manifest()

    call(out)
    assert os.path.exists(os.path.join(pass0, job._MERGED))
    assert {u: (s, a) for u, (s, a, _e) in _state(spark, out).items()
            if "bad" in u} == {
        f"https://bad.example/{i}": ("failed", 2) for i in range(4)}
    assert _state(spark, out) == _state(spark, clean)
    assert _passes_of(out) == _passes_of(clean)
    assert crashed.get("commit") == ["run_id=r/pass_num=0"]


def test_one_manifest_flip_per_call(spark, tmp_path, monkeypatch):
    """Every attempt of a call lands in ONE checkpoint merge: one manifest
    flip per call, fresh or resumed, with failing keys taking all three
    attempts; the flip records the call's pass dirs as its commit."""
    flips = []
    real_flip = ParquetCheckpointStore._flip

    def counting_flip(self, manifest, *a, **k):
        flips.append(manifest)
        return real_flip(self, manifest, *a, **k)
    monkeypatch.setattr(ParquetCheckpointStore, "_flip", counting_flip)

    out = str(tmp_path / "out")
    res = run_extraction_job(spark, _mixed_pages(spark), out, max_retries=3,
                             run_id="a")
    assert res.passes == 3
    assert len(flips) == 1
    assert flips[0]["commit"] == [f"run_id=a/pass_num={k}" for k in range(3)]

    flips.clear()
    resumed = _mixed_pages(spark, n_good=20, n_bad=8)  # 8 new + 4 new bad
    res = run_extraction_job(spark, resumed, out, max_retries=3, run_id="b")
    assert (res.passes, res.extracted_rows) == (3, 8 + 4 * 3)
    assert len(flips) == 1
    assert flips[0]["commit"] == [f"run_id=b/pass_num={k}" for k in range(3)]


def test_spark_merge_path_agrees_for_a_call(spark, tmp_path, monkeypatch):
    """A store without a driver-side merge (the Iceberg path:
    merge_results_local returns False) gets the Spark MERGE; the call must
    leave the same checkpoint, pass dirs, failure rows and lineage sums as
    the default DuckDB merge."""
    pages = _mixed_pages(spark)

    def run(out):
        res = run_extraction_job(spark, pages, out, max_retries=3,
                                 run_id="r")
        failures = sorted(
            (r["url"], r["error_type"], r["attempts"]) for r in
            spark.read.parquet(os.path.join(out, "failures")).collect())
        lineage = sorted(
            (r["pass_num"], r["row_count"], r["failure_count"]) for r in
            spark.read.parquet(os.path.join(out, "lineage")).groupBy(
                "pass_num").agg(F.sum("row_count").alias("row_count"),
                                F.sum("failure_count").alias("failure_count")
                                ).collect())
        return ((res.passes, res.extracted_rows, res.failed_rows),
                _state(spark, out), _passes_of(out), failures, lineage)

    local = run(str(tmp_path / "local"))
    merged = []
    real_merge = ParquetCheckpointStore.merge_results

    def spark_merge(self, *a, **k):
        merged.append(1)
        return real_merge(self, *a, **k)
    monkeypatch.setattr(ParquetCheckpointStore, "merge_results_local",
                        lambda *a, **k: False)
    monkeypatch.setattr(ParquetCheckpointStore, "merge_results", spark_merge)
    assert run(str(tmp_path / "spark")) == local
    assert merged == [1]
    assert local[0] == (3, 12 + 4 * 3, 4 * 3)
    assert local[4] == [(0, 16, 4), (1, 4, 4), (2, 4, 4)]


def test_lineage_and_failure_files_keep_their_parquet_types(spark, tmp_path):
    """The lineage and failure files carry the types the earlier pyarrow
    writers produced (naive started_at; UTC warc_ts/created_at; int32
    pass_num/partition_id/attempts), and Spark reads a lineage dir that
    mixes a file in that earlier format with a new one."""
    import pyarrow as pa

    out = str(tmp_path / "out")
    run_extraction_job(spark, _mixed_pages(spark), out, max_retries=3,
                       run_id="r")
    utc = pa.timestamp("us", tz="UTC")
    lineage_schema = pa.schema([
        ("run_id", pa.string()), ("pass_num", pa.int32()),
        ("partition_id", pa.int32()), ("row_count", pa.int64()),
        ("success_count", pa.int64()), ("failure_count", pa.int64()),
        ("bytes_in", pa.int64()), ("kernel_wall_ms", pa.float64()),
        ("extractor_version", pa.string()),
        ("started_at", pa.timestamp("us")),
    ])
    failures_schema = pa.schema([
        ("url", pa.string()), ("warc_ts", utc), ("error_type", pa.string()),
        ("error_message", pa.string()), ("input_sample", pa.string()),
        ("attempts", pa.int32()), ("run_id", pa.string()),
        ("created_at", utc),
    ])
    lineage_dir = os.path.join(out, "lineage")
    assert os.listdir(lineage_dir) == ["part-r-0.parquet"]
    assert pq.read_schema(os.path.join(lineage_dir, "part-r-0.parquet")
                          ).equals(lineage_schema)
    assert pq.read_schema(os.path.join(out, "failures", "part-r-0.parquet")
                          ).equals(failures_schema)
    failures = pq.read_table(os.path.join(out, "failures"))
    assert set(failures.column("warc_ts").to_pylist()) == {
        _TS.replace(tzinfo=dt.timezone.utc)}

    old = dict(run_id=["old"], pass_num=[0], partition_id=[0], row_count=[7],
               success_count=[7], failure_count=[0], bytes_in=[70],
               kernel_wall_ms=[1.5], extractor_version=["v"],
               started_at=[dt.datetime(2024, 1, 2, 3, 4, 5)])
    pq.write_table(pa.table(old, schema=lineage_schema),
                   os.path.join(lineage_dir, "part-old-0.parquet"))
    rows = spark.read.parquet(lineage_dir).collect()
    assert sum(r["row_count"] for r in rows) == 7 + 12 + 4 * 3
    assert [r["started_at"] for r in rows if r["run_id"] == "old"] == [
        dt.datetime(2024, 1, 2, 3, 4, 5)]


def _lineage_rows(out):
    return pq.read_table(os.path.join(out, "lineage")).to_pylist()


def _per_pass_lineage(out):
    """pass_num → (rows, successes, failures, bytes_in) over lineage/."""
    sums: dict[int, list[int]] = {}
    for r in _lineage_rows(out):
        acc = sums.setdefault(r["pass_num"], [0, 0, 0, 0])
        for i, c in enumerate(["row_count", "success_count",
                               "failure_count", "bytes_in"]):
            acc[i] += r[c]
    return {k: tuple(v) for k, v in sums.items()}


@pytest.mark.parametrize("crash_at", [
    "promote_attempt_1", "failure_log", "merge_attempt_0", "stamp",
    "stamp_pass_1"])
def test_crash_then_rerun_logs_each_promoted_pass_once(
        spark, tmp_path, monkeypatch, crash_at):
    """A driver crash anywhere from promotion to the _MERGED stamps, then a
    rerun: lineage/ holds exactly one row set per promoted pass (the
    uninterrupted run's per-pass sums, unique (run_id, pass_num,
    partition_id)), none for an attempt never promoted, and the failure
    log holds each failed attempt once, with the uninterrupted run's
    attempt numbers once the crashed call is finished by reconcile. ``stamp_pass_1`` crashes after the first pass dir is
    stamped, so the rerun finds only the call's later passes unstamped."""
    import gemini_ocr_batch_spark.job as job

    pages = _mixed_pages(spark)
    clean = str(tmp_path / "clean")
    run_extraction_job(spark, pages, clean, max_retries=3, run_id="r")

    out = str(tmp_path / "out")
    if crash_at == "promote_attempt_1":
        real_rename = os.rename

        def rename(src, dst, *a, **k):
            if src.endswith("attempt=1"):
                raise _Crash(src)
            return real_rename(src, dst, *a, **k)
        monkeypatch.setattr(job.os, "rename", rename)
    elif crash_at == "failure_log":
        def failures(*a, **k):
            raise _Crash("failure log")
        monkeypatch.setattr(job, "_append_failures", failures)
    elif crash_at == "merge_attempt_0":
        def merge(self, *a, **k):
            raise _Crash("merge")
        monkeypatch.setattr(ParquetCheckpointStore, "merge_results_local",
                            merge)
    else:
        real_touch = job._touch
        stamped = []

        def touch(path):
            if path.endswith(job._MERGED):
                if len(stamped) == (crash_at == "stamp_pass_1"):
                    raise _Crash(path)
                stamped.append(path)
            real_touch(path)
        monkeypatch.setattr(job, "_touch", touch)
    with pytest.raises(_Crash):
        run_extraction_job(spark, pages, out, max_retries=3, run_id="r")
    monkeypatch.undo()
    if os.path.isdir(os.path.join(out, "lineage")):
        promoted = {int(d.split("=")[1]) for d in os.listdir(
            os.path.join(out, "extracted_all", "run_id=r"))}
        assert {r["pass_num"] for r in _lineage_rows(out)} <= promoted

    run_extraction_job(spark, pages, out, max_retries=3, run_id="r")
    keys = [(r["run_id"], r["pass_num"], r["partition_id"])
            for r in _lineage_rows(out)]
    assert len(keys) == len(set(keys))
    assert _per_pass_lineage(out) == _per_pass_lineage(clean)

    def failed(o):
        # attempts count within a call: a crash during promotion leaves
        # the later attempts to the rerun, which counts them from 1
        return sorted((r["url"], r["error_type"],
                       None if crash_at == "promote_attempt_1"
                       else r["attempts"])
                      for r in pq.read_table(
                          os.path.join(o, "failures")).to_pylist())
    assert failed(out) == failed(clean)
    assert not glob.glob(os.path.join(out, "checkpoint", "_duckdb-*"))
    assert _state(spark, out) == _state(spark, clean)
