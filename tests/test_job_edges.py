"""Job edge cases: empty input, all-failure input, single-retry budget,
the per-attempt outputs of in-task retries, and the call's job budget."""

from __future__ import annotations

import collections
import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.checkpoint import ParquetCheckpointStore
from gemini_ocr_batch_spark.job import run_extraction_job
from gemini_ocr_batch_spark.schemas import PAGES_SCHEMA


def test_empty_input_is_clean_noop(spark, tmp_path):
    empty = spark.createDataFrame([], PAGES_SCHEMA)
    res = run_extraction_job(spark, empty, str(tmp_path / "out"))
    assert res.passes == 0
    assert res.extracted_rows == 0


def test_all_failures_dead_letter(spark, tmp_path):
    ts = dt.datetime(2024, 1, 1)
    rows = [(f"https://x/{i}", ts, b"", None, "en") for i in range(10)]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = str(tmp_path / "out")
    res = run_extraction_job(spark, pages, out, max_retries=2)
    assert res.passes == 2  # retried once, then dead
    store = ParquetCheckpointStore(str(tmp_path / "out" / "checkpoint"))
    ckpt = store.read(spark)
    assert ckpt.filter(F.col("status") == "dead").count() == 10
    assert ckpt.filter(F.col("status") != "dead").count() == 0
    assert store.pending(pages).count() == 0


def test_single_pass_budget_leaves_failed_retryable(spark, tmp_path):
    ts = dt.datetime(2024, 1, 1)
    rows = [(f"https://x/{i}", ts, b"", None, "en") for i in range(5)]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = str(tmp_path / "out")
    run_extraction_job(spark, pages, out, max_retries=1)
    store = ParquetCheckpointStore(str(tmp_path / "out" / "checkpoint"),
                                   max_retries=3)
    # with max_retries=1 at merge time the rows went dead after one attempt
    assert store.read(spark).filter(F.col("status") == "dead").count() == 5


# datagen rows by golden outcome: generate_rows(300, seed=42) holds these
# good pages, EmptyDocument blobs and DecodeError (binary garbage) blobs
_OK = ["page/0.html", "page/1.html", "page/2.html"]
_BAD = {
    "empty/89.html": "EmptyDocument",
    "empty/170.html": "EmptyDocument",
    "bin/148.html": "DecodeError",
    "bin/283.html": "DecodeError",
}
# per-pass lineage sums (rows, successes, failures, bytes_in), captured
# from the job that ran one Spark job per attempt
_LINEAGE = {0: (7, 3, 4, 7714), 1: (4, 0, 4, 1024), 2: (4, 0, 4, 1024)}


def _short(url: str) -> str:
    return url.split("example.org/", 1)[1]


def _datagen_mix(spark):
    from gemini_ocr_batch_spark.datagen import generate_rows

    rows = {_short(r[0]): r for r in generate_rows(300, seed=42)}
    return spark.createDataFrame(
        [rows[u] for u in _OK + list(_BAD)], PAGES_SCHEMA
    )


def _read(path: str, columns: list[str]) -> list[dict]:
    import pyarrow.dataset as pads

    return pads.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    ).to_pylist()


@pytest.mark.parametrize("max_retries", [1, 2, 3])
def test_in_task_retries_match_pass_per_attempt_job(spark, tmp_path,
                                                    max_retries):
    """Retrying failed rows inside the kernel task leaves exactly what the
    old one-Spark-job-per-attempt loop left (values captured from it): per
    pass dir the (key, is_ok, error_type) rows, the checkpoint's (status,
    attempts, last_error), the failure log's (url, attempts, error_type),
    the per-pass lineage sums and the JobResult counts."""
    out = str(tmp_path / "out")
    res = run_extraction_job(spark, _datagen_mix(spark), out,
                             max_retries=max_retries, run_id="eq")
    bad = [(u, False, e) for u, e in _BAD.items()]
    ok = [(u, True, None) for u in _OK]
    run_dir = os.path.join(out, "extracted_all", "run_id=eq")
    passes = {
        d: sorted(
            (_short(r["url"]), str(r["is_ok"]).lower() == "true",
             r["error_type"])
            for r in _read(os.path.join(run_dir, d),
                           ["url", "is_ok", "error_type"])
        )
        for d in os.listdir(run_dir)
    }
    assert passes == {
        f"pass_num={k}": sorted(bad + (ok if k == 0 else []))
        for k in range(max_retries)
    }
    store = ParquetCheckpointStore(os.path.join(out, "checkpoint"))
    ckpt = {
        _short(r["url"]): (r["status"], r["attempts"], r["last_error"])
        for r in store.read(spark).collect()
    }
    assert ckpt == {
        **{u: ("success", 1, None) for u in _OK},
        **{u: ("dead", max_retries, e) for u, e in _BAD.items()},
    }
    failures = sorted(
        (_short(r["url"]), r["attempts"], r["error_type"])
        for r in _read(os.path.join(out, "failures"),
                       ["url", "attempts", "error_type"])
    )
    assert failures == sorted(
        (u, a, e) for u, e in _BAD.items() for a in range(1, max_retries + 1)
    )
    lineage = collections.defaultdict(lambda: [0, 0, 0, 0])
    for r in _read(os.path.join(out, "lineage"),
                   ["pass_num", "row_count", "success_count",
                    "failure_count", "bytes_in"]):
        acc = lineage[r["pass_num"]]
        for i, c in enumerate(["row_count", "success_count",
                               "failure_count", "bytes_in"]):
            acc[i] += r[c]
    assert {k: tuple(v) for k, v in lineage.items()} == {
        k: _LINEAGE[k] for k in range(max_retries)
    }
    assert (res.passes, res.extracted_rows, res.success_rows,
            res.failed_rows) == (max_retries, 7 + 4 * (max_retries - 1),
                                 3, 4 * max_retries)


def _count_jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def test_retries_run_inside_one_kernel_job(spark, tmp_path):
    """All of a call's attempts run in ONE kernel job: a failed row is
    re-extracted by the task that failed it. Measured on in-memory mixed
    pages at max_retries=3: 1 job into a fresh store; 3 on resume (the
    anti-join's broadcast, the prior-attempts join's broadcast, the kernel
    write). One kernel job per attempt ran 7 and 9."""
    out = str(tmp_path / "out")
    first = _datagen_mix(spark)
    n_jobs, res = _count_jobs(
        spark, "job_budget_fresh",
        lambda: run_extraction_job(spark, first, out, max_retries=3),
    )
    assert (res.passes, res.extracted_rows) == (3, 15)
    assert n_jobs <= 1

    ts = dt.datetime(2024, 1, 1)
    more = first.unionByName(spark.createDataFrame(
        [(f"https://y/{i}", ts, b"", None, "en") for i in range(3)],
        PAGES_SCHEMA,
    ))
    n_jobs, res = _count_jobs(
        spark, "job_budget_resume",
        lambda: run_extraction_job(spark, more, out, max_retries=3),
    )
    assert (res.passes, res.extracted_rows) == (3, 9)
    assert n_jobs <= 3


def test_resume_call_reads_the_checkpoint_once(spark, tmp_path):
    """A resumed call reads the checkpoint once: one left join gives the
    frontier and each key's prior attempts, so the call runs the join's
    one broadcast and the kernel write. The anti-join plus a separate
    prior-attempts join ran 3 jobs."""
    out = str(tmp_path / "out")
    first = _datagen_mix(spark)
    run_extraction_job(spark, first, out, max_retries=3)
    ts = dt.datetime(2024, 1, 1)
    more = first.unionByName(spark.createDataFrame(
        [(f"https://y/{i}", ts, b"", None, "en") for i in range(3)],
        PAGES_SCHEMA,
    ))
    n_jobs, res = _count_jobs(
        spark, "job_budget_resume_once",
        lambda: run_extraction_job(spark, more, out, max_retries=3),
    )
    assert (res.passes, res.extracted_rows) == (3, 9)
    assert n_jobs <= 2


def test_commit_tail_duckdb_spills_into_its_dir_and_is_capped(tmp_path):
    """The commit tail's DuckDB spills into the dir it is given (the call's
    _staging/), not .tmp under the working directory, and may hold a
    quarter of the driver's memory (host RAM or the cgroup limit, the
    smaller), not DuckDB's default 80% of host RAM."""
    from gemini_ocr_batch_spark.checkpoint import _memory_bytes, duckdb_connect

    spill = str(tmp_path / "_staging" / "_duckdb")
    with duckdb_connect(spill) as con:
        temp, limit = con.execute(
            "SELECT current_setting('temp_directory'),"
            " current_setting('memory_limit')").fetchone()
    value, unit = limit.split()
    limit_b = float(value) * 2 ** (10 * ["KiB", "MiB", "GiB", "TiB"]
                                   .index(unit) + 10)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert temp == spill
    assert _memory_bytes() <= ram
    assert 0.2 * _memory_bytes() < limit_b < 0.3 * _memory_bytes()


def test_duckdb_memory_cap_follows_a_smaller_cgroup_limit(monkeypatch):
    """A cgroup memory limit below host RAM is the base of the cap; a v2
    ``max`` (no limit) falls through to host RAM."""
    import builtins
    import io

    from gemini_ocr_batch_spark import checkpoint

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    real_open = builtins.open

    def cgroup(text):
        def fake_open(path, *a, **k):
            if path == "/sys/fs/cgroup/memory.max":
                return io.StringIO(text)
            if path.startswith("/sys/fs/cgroup/"):
                raise FileNotFoundError(path)
            return real_open(path, *a, **k)
        return fake_open

    monkeypatch.setattr(builtins, "open", cgroup(f"{2**30}\n"))
    assert checkpoint._memory_bytes() == min(ram, 2**30)
    monkeypatch.setattr(builtins, "open", cgroup("max\n"))
    assert checkpoint._memory_bytes() == ram
