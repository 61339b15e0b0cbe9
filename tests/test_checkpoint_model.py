"""Model-based randomized check of the checkpoint MERGE semantics.

A pure-Python reference model applies the documented transition table
(reference: src/prefect_state.py:111-199 close-batch + failure-count
increments; src/scanner.py:87-88 dead-letter) to random pass
sequences; the store must agree exactly after every sequence.
Property tests then check that one folded merge of a call's ordered
attempts equals one merge per attempt, and that the running stamp keeps
success/dead. Each runs on the Parquet store's DuckDB merge and on a
Spark SQL evaluation of the Iceberg MERGE INTO's own pieces (the fold,
the matched and the inserted transition text), so the shared transition
text is pinned in both dialects against the model.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import tempfile

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.checkpoint import (
    ParquetCheckpointStore,
    fold_sql,
    result_transition_sql,
    running_transition_sql,
)

_TS = dt.datetime(2024, 1, 1)
MAX_RETRIES = 3


def _model_apply(model: dict, batch: list[tuple[str, str | None]]) -> None:
    """The documented transition table, independently restated."""
    for url, err in batch:
        status, attempts, last_error = model.get(url, ("pending", 0, None))
        attempts += 1
        if err is None:
            status = "success"
            # last_error keeps the previous value (coalesce(new, old))
        else:
            last_error = err
            status = "dead" if attempts >= MAX_RETRIES else "failed"
        model[url] = (status, attempts, last_error)


def test_random_histories_match_model(spark, tmp_path, merge_rows):
    rng = random.Random(2024)
    urls = [f"https://m/{i}" for i in range(40)]
    errs = [None, None, None, "KernelError", "DecodeError"]

    def merge(store, model, batch):
        _model_apply(model, batch)
        merge_rows(store, spark.createDataFrame(
            [(u, _TS, e) for u, e in batch],
            "url string, warc_ts timestamp, error_type string",
        ))

    def state(store):
        return {
            r["url"]: (r["status"], r["attempts"], r["last_error"])
            for r in store.read(spark).collect()
        }

    for case in range(4):
        root = str(tmp_path / f"ck{case}")
        store = ParquetCheckpointStore(root, max_retries=MAX_RETRIES,
                                       n_buckets=4)
        model: dict[str, tuple[str, int, str | None]] = {}
        for _ in range(rng.randint(3, 6)):
            # job-shaped batches: only currently-open keys can appear in a
            # pass (the frontier anti-joins success/dead away) — attempts
            # bounds below are only promised for such histories
            open_urls = [
                u for u in urls
                if model.get(u, ("pending",))[0] not in ("success", "dead")
            ]
            if not open_urls:
                break
            batch_urls = rng.sample(
                open_urls, rng.randint(1, min(25, len(open_urls)))
            )
            merge(store, model, [(u, rng.choice(errs)) for u in batch_urls])
        assert state(store) == model, f"case {case}: store diverged from model"
        # invariants the job relies on
        snap = store.read(spark)
        assert snap.filter(F.col("attempts") > MAX_RETRIES).count() == 0
        assert snap.filter(
            (F.col("status") == "dead") & (F.col("attempts") < MAX_RETRIES)
        ).count() == 0
        pending = store.pending(
            spark.createDataFrame(
                [(u, _TS, None, None, "en") for u in urls],
                "url string, warc_ts timestamp, html binary, text string, "
                "lang string",
            )
        ).count()
        n_open = sum(
            1 for s, _a, _e in model.values() if s not in ("success", "dead")
        ) + (len(urls) - len(model))
        assert pending == n_open


def test_recommended_buckets_scaling():
    """B sizing: sandbox corpora stay tiny; 10^12 keys -> 4096 buckets
    (the module-docstring deployment recipe), always a power of two, and
    merge cost therefore tracks touched buckets, not corpus size."""
    from gemini_ocr_batch_spark.checkpoint import ParquetCheckpointStore as S

    assert S.recommended_buckets(1_000) == 1
    assert S.recommended_buckets(S.ROWS_PER_BUCKET) == 1
    assert S.recommended_buckets(S.ROWS_PER_BUCKET + 1) == 2
    assert S.recommended_buckets(10**12) == 4096
    for n in (0, 1, 10**9, 10**12, 10**15):
        b = S.recommended_buckets(n)
        assert b & (b - 1) == 0  # power of two
    assert S.recommended_buckets(10**30) == 1 << 20  # hard cap


def test_bucket_twins_agree(spark):
    """``overwrite`` buckets keys through Spark's ``_bucket_col`` and every
    merge through DuckDB's ``_duck_bucket``; the driver's ``bucket_of``
    must agree with both, or a key would land in two buckets."""
    import duckdb

    from gemini_ocr_batch_spark.checkpoint import (
        _bucket_col,
        _duck_bucket,
        bucket_of,
    )

    urls = ["", "https://ex.com", "https://ex.com/", "https://ex.com/?",
            "https://ex.com/o'brien", 'https://ex.com/"q"', "https://ex.com/\\",
            "https://bücher.de/straße", "https://例子.测试/路径",
            "https://ex.com/😀", "https://ex.com/a b%20c"]
    urls += [f"https://h{i}.example/{i}" for i in range(200)]
    url_table = pa.table({"url": pa.array(urls, pa.string())})
    frame = spark.createDataFrame([(u,) for u in urls], "url string")
    for n in (1, 2, 16, 4096):
        want = {u: bucket_of(u, n) for u in urls}
        assert {r["url"]: r["b"] for r in frame.select(
            "url", _bucket_col(n).alias("b")).collect()} == want, n
        assert dict(duckdb.sql(
            f"SELECT url, {_duck_bucket('url', n)} FROM url_table").fetchall()
        ) == want, n
        assert set(want.values()) <= set(range(n))


_H_URLS = [f"https://h/{i}" for i in range(6)]
_H_TS = pa.array([_TS], pa.timestamp("us", tz="UTC"))[0]
_ERR = st.sampled_from([None, "KernelError", "DecodeError"])
# one attempt: the keys it touched, each with its outcome
_ATTEMPT = st.dictionaries(st.sampled_from(_H_URLS), _ERR, min_size=1)
_PRIOR_ROW = st.tuples(
    st.sampled_from(["failed", "running", "success", "dead"]),
    st.integers(0, 4), st.sampled_from([None, "DecodeError"]),
)


def _write_attempt(path: str, rows: dict) -> None:
    """A staged pass dir holding one attempt's (url, warc_ts, error_type)."""
    os.makedirs(path)
    pq.write_table(pa.table({
        "url": pa.array(list(rows), pa.string()),
        "warc_ts": pa.array([_H_TS] * len(rows),
                            pa.timestamp("us", tz="UTC")),
        "error_type": pa.array(list(rows.values()), pa.string()),
    }), os.path.join(path, "part-0.parquet"))


def _seeded_store(root: str, prior: dict) -> ParquetCheckpointStore:
    """A store whose snapshot is ``prior`` (none at all when empty),
    written in the documented bucket-manifest layout."""
    from gemini_ocr_batch_spark.checkpoint import bucket_of

    store = ParquetCheckpointStore(root, max_retries=MAX_RETRIES,
                                   n_buckets=2)
    if not prior:
        return store
    buckets: dict[int, list] = {}
    for url, row in prior.items():
        buckets.setdefault(bucket_of(url, 2), []).append((url, *row))
    for b, rows in buckets.items():
        os.makedirs(os.path.join(root, "v_00000001_seed", f"bucket={b}"))
        pq.write_table(pa.table({
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array([_H_TS] * len(rows),
                                pa.timestamp("us", tz="UTC")),
            "status": pa.array([r[1] for r in rows], pa.string()),
            "attempts": pa.array([r[2] for r in rows], pa.int32()),
            "last_error": pa.array([r[3] for r in rows], pa.string()),
            "updated_at": pa.array([_H_TS] * len(rows),
                                   pa.timestamp("us", tz="UTC")),
        }), os.path.join(root, "v_00000001_seed", f"bucket={b}",
                         "part-0.parquet"))
    with open(os.path.join(root, "_CURRENT"), "w", encoding="utf-8") as f:
        json.dump({"n_buckets": 2, "buckets": {
            str(b): "v_00000001_seed" for b in buckets}}, f)
    return store


def _snapshot(store: ParquetCheckpointStore) -> dict:
    manifest = store._manifest()
    if not manifest:
        return {}
    tbl = pads.dataset([
        pads.dataset(p, format="parquet") for p in store._bucket_paths(manifest)
    ]).to_table(columns=["url", "status", "attempts", "last_error"])
    return {r["url"]: (r["status"], r["attempts"], r["last_error"])
            for r in tbl.to_pylist()}


@pytest.mark.parametrize("fresh", [True, False], ids=["fresh", "prior"])
def test_folded_merge_equals_sequential_merges(spark, tmp_path, fresh,
                                              spark_merge_into):
    """One folded merge of k ordered attempts leaves the checkpoint of k
    one-attempt merges (the model): on the DuckDB store, and in Spark SQL
    through the Iceberg MERGE's fold and transition text."""
    @settings(max_examples=25, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(prior=st.dictionaries(st.sampled_from(_H_URLS), _PRIOR_ROW,
                                 min_size=1) if not fresh else st.just({}),
           history=st.lists(_ATTEMPT, min_size=1, max_size=4))
    def check(prior, history):
        with tempfile.TemporaryDirectory(dir=tmp_path) as d:
            passes = [os.path.join(d, f"pass_num={k}")
                      for k in range(len(history))]
            for path, rows in zip(passes, history):
                _write_attempt(path, rows)
            sequential = _seeded_store(os.path.join(d, "sequential"), prior)
            folded = _seeded_store(os.path.join(d, "folded"), prior)
            for path in passes:
                sequential.merge_passes([path])
            folded.merge_passes(passes, ["c"])
            model = dict(prior)
            for rows in history:
                _model_apply(model, list(rows.items()))
            assert _snapshot(sequential) == model
            assert _snapshot(folded) == model
            assert folded.last_commit() == ["c"]
            spark.createDataFrame(
                [(u, _TS, e, k) for k, rows in enumerate(history)
                 for u, e in rows.items()],
                "url string, warc_ts timestamp, error_type string, "
                "attempt int",
            ).createOrReplaceTempView("_ckpt_delta")
            assert spark_merge_into(
                prior, fold_sql("_ckpt_delta"),
                lambda old: result_transition_sql(old, "s", MAX_RETRIES),
            ) == model

    check()


def _model_running(model: dict, keys) -> None:
    """The running stamp, independently restated: a stamped key becomes
    running (a new one with 0 attempts) unless it is success or dead."""
    for url in keys:
        status, attempts, last_error = model.get(url, ("pending", 0, None))
        if status not in ("success", "dead"):
            model[url] = ("running", attempts, last_error)


@pytest.mark.parametrize("fresh", [True, False], ids=["fresh", "prior"])
def test_running_stamp_matches_model(spark, tmp_path, fresh,
                                     spark_merge_into):
    """``mark_running`` on the DuckDB store, and the Iceberg MERGE's
    running transition text in Spark SQL, both leave the model's state:
    stamped open keys running, success/dead and unstamped keys as they
    were."""
    @settings(max_examples=10, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(prior=st.dictionaries(st.sampled_from(_H_URLS), _PRIOR_ROW,
                                 min_size=1) if not fresh else st.just({}),
           keys=st.sets(st.sampled_from(_H_URLS), min_size=1))
    def check(prior, keys):
        with tempfile.TemporaryDirectory(dir=tmp_path) as d:
            store = _seeded_store(os.path.join(d, "ck"), prior)
            spark.createDataFrame(
                [(u, _TS) for u in sorted(keys)],
                "url string, warc_ts timestamp",
            ).createOrReplaceTempView("_ckpt_running")
            store.mark_running(spark.table("_ckpt_running"))
            model = dict(prior)
            _model_running(model, keys)
            assert _snapshot(store) == model
            assert spark_merge_into(
                prior, "SELECT * FROM _ckpt_running",
                lambda old: running_transition_sql(old, "s"),
            ) == model

    check()


_ANY_STATUS_ROW = st.tuples(
    st.sampled_from(["pending", "running", "failed", "success", "dead"]),
    st.integers(0, 3), st.just(None),
)


def test_frontier_is_pending_with_prior_attempts(spark, tmp_path):
    """``frontier`` keeps exactly ``pending``'s keys over any checkpoint
    state (every status, attempts 0..3, keys absent from it) and carries
    ``_prior`` = an open key's checkpoint attempts, else 0."""
    pages = spark.createDataFrame(
        [(u, dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), b"")
         for u in _H_URLS],
        "url string, warc_ts timestamp, html binary",
    )

    @settings(max_examples=30, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(prior=st.dictionaries(st.sampled_from(_H_URLS), _ANY_STATUS_ROW))
    def check(prior):
        with tempfile.TemporaryDirectory(dir=tmp_path) as d:
            store = _seeded_store(os.path.join(d, "ck"), prior)
            frontier = {r["url"]: r["_prior"] for r in
                        store.frontier(pages).select("url", "_prior")
                        .collect()}
            pending = {r["url"] for r in
                       store.pending(pages).select("url").collect()}
            assert set(frontier) == pending
            assert frontier == {
                u: prior[u][1] if u in prior else 0 for u in pending}
            assert pending == {u for u in _H_URLS if prior.get(
                u, ("pending",))[0] not in ("success", "dead")}

    check()
