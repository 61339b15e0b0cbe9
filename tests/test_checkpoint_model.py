"""Model-based randomized check of the checkpoint MERGE semantics.

A pure-Python reference model applies the documented transition table
(reference: src/prefect_state.py:111-199 close-batch + failure-count
increments; src/scanner.py:87-88 dead-letter) to random pass sequences;
the store must agree exactly after every sequence. Merges alternate
between the Spark relational path and the driver-side DuckDB fast path,
so the test also pins the two implementations against each other on
histories neither unit test enumerates. A property test then checks that
one folded merge of a call's ordered attempts equals one merge per attempt.
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

from gemini_ocr_batch_spark.checkpoint import ParquetCheckpointStore

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


def test_random_histories_match_model(spark, tmp_path):
    rng = random.Random(2024)
    urls = [f"https://m/{i}" for i in range(40)]
    errs = [None, None, None, "KernelError", "DecodeError"]

    for case in range(4):
        root = str(tmp_path / f"ck{case}")
        store = ParquetCheckpointStore(root, max_retries=MAX_RETRIES,
                                       n_buckets=4)
        model: dict[str, tuple[str, int, str | None]] = {}
        for pass_i in range(rng.randint(3, 6)):
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
            batch = [(u, rng.choice(errs)) for u in batch_urls]
            _model_apply(model, batch)
            df = spark.createDataFrame(
                [(u, _TS, e) for u, e in batch],
                "url string, warc_ts timestamp, error_type string",
            )
            if pass_i % 2 == 0:
                store.merge_results(df)  # Spark relational path
            else:
                # driver-side path: stage the pass as parquet first
                staged = str(tmp_path / f"pass_{case}_{pass_i}")
                df.coalesce(1).write.mode("overwrite").parquet(staged)
                assert store.merge_results_local(staged) is True
        got = {
            r["url"]: (r["status"], r["attempts"], r["last_error"])
            for r in store.read(spark).collect()
        }
        assert got == model, f"case {case}: store diverged from model"
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
def test_folded_merge_equals_sequential_merges(spark, tmp_path, fresh):
    """One folded merge of k ordered attempts, on the DuckDB path and on
    the Spark path, leaves the checkpoint of k one-attempt merges."""
    from gemini_ocr_batch_spark.job import _merge_passes

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
            stores = {name: _seeded_store(os.path.join(d, name), prior)
                      for name in ("sequential", "duckdb", "spark")}
            for path in passes:
                assert stores["sequential"].merge_results_local(path)
            _merge_passes(spark, stores["duckdb"], passes, ["c"], True)
            _merge_passes(spark, stores["spark"], passes, ["c"], False)
            want = _snapshot(stores["sequential"])
            model = dict(prior)
            for rows in history:
                _model_apply(model, list(rows.items()))
            assert want == model
            assert _snapshot(stores["duckdb"]) == want
            assert _snapshot(stores["spark"]) == want
            assert stores["spark"].last_commit() == ["c"]

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
