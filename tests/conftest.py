"""Shared Spark fixtures. One local session per test run."""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small + fast for unit tests


@pytest.fixture(scope="session")
def spark():
    from gemini_ocr_batch_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def pages_rows():
    from gemini_ocr_batch_spark.datagen import generate_rows

    return generate_rows(240, seed=42)


@pytest.fixture(scope="session")
def pages_parquet(pages_rows, tmp_path_factory):
    from gemini_ocr_batch_spark.datagen import write_pages_parquet

    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    write_pages_parquet(pages_rows, path)
    return path


@pytest.fixture(scope="session")
def pages_df(spark, pages_parquet):
    return spark.read.parquet(pages_parquet)


@pytest.fixture
def merge_rows(tmp_path):
    """``merge_rows(store, rows, commit=None)``: merge a DataFrame's (url,
    warc_ts, error_type) rows into a checkpoint store the way the job
    does — staged as one parquet pass dir, then ``store.merge_passes``."""
    def merge(store, rows, commit=None):
        staged = str(tmp_path / f"staged-{uuid.uuid4().hex[:8]}")
        rows.select("url", "warc_ts", "error_type").write.parquet(staged)
        store.merge_passes([staged], commit)
    return merge


_TS = dt.datetime(2024, 1, 1)


@pytest.fixture
def spark_merge_into(spark):
    """``spark_merge_into(prior, source_sql, transition)``: the Iceberg
    MERGE INTO's pieces evaluated in Spark SQL over temp views, where no
    Iceberg runtime is installed. ``prior`` ({url: (status,
    attempts, last_error)}, warc_ts 2024-01-01) is the checkpoint ``t``,
    ``source_sql`` the source ``s`` (one row per key). Matched keys take
    ``transition("t")``, new keys ``transition(None)``, and every other
    row of ``t`` stays; returns the new state in ``prior``'s shape."""
    def merge_into(prior: dict, source_sql: str, transition) -> dict:
        spark.createDataFrame(
            [(u, _TS, *row, _TS) for u, row in prior.items()],
            "url string, warc_ts timestamp, status string, attempts int, "
            "last_error string, updated_at timestamp",
        ).createOrReplaceTempView("t")
        spark.sql(source_sql).createOrReplaceTempView("s")
        cols = ("status", "attempts", "last_error")
        on = "t.url = s.url AND t.warc_ts = s.warc_ts"
        upd, ins = transition("t"), transition(None)
        rows = spark.sql(f"""
            SELECT t.url, {", ".join(f"{upd[c]} AS {c}" for c in cols)}
            FROM t JOIN s ON {on}
            UNION ALL
            SELECT s.url, {", ".join(f"{ins[c]} AS {c}" for c in cols)}
            FROM s LEFT ANTI JOIN t ON {on}
            UNION ALL
            SELECT t.url, {", ".join(f"t.{c}" for c in cols)}
            FROM t LEFT ANTI JOIN s ON {on}
        """).collect()
        return {r["url"]: (r["status"], r["attempts"], r["last_error"])
                for r in rows}
    return merge_into


@pytest.fixture
def iceberg_merge_passes(spark, spark_merge_into):
    """``iceberg_merge_passes(prior, paths, max_retries)``: the Iceberg
    store's own ``merge_passes`` run on the real session (its Spark read
    of each pass dir and its ``_ckpt_delta`` view), with the MERGE INTO it
    then issues evaluated by ``spark_merge_into`` from ``prior``; returns
    the new state in ``prior``'s shape."""
    from gemini_ocr_batch_spark.checkpoint import (
        IcebergCheckpointStore,
        create_table_sql,
        fold_sql,
        merge_sql,
        result_transition_sql,
    )

    class _Conf:
        def get(self, key, default=None):
            if key == "spark.sql.catalog.spark_catalog":
                return "org.apache.iceberg.spark.SparkCatalog"
            return default

    class _MergeIntoSession:
        """Reads go to the real session; the table DDL is a no-op and the
        MERGE is evaluated in Spark SQL."""
        conf = _Conf()

        def __init__(self, prior, max_retries):
            self.read = spark.read
            self.state = dict(prior)
            self.max_retries = max_retries

        def sql(self, statement):
            if statement == create_table_sql("ckpt"):
                return
            assert statement == merge_sql("ckpt", self.max_retries)
            self.state = spark_merge_into(
                self.state, fold_sql("_ckpt_delta"),
                lambda old: result_transition_sql(old, "s",
                                                  self.max_retries),
            )

    def merge(prior: dict, paths: list[str], max_retries: int) -> dict:
        session = _MergeIntoSession(prior, max_retries)
        IcebergCheckpointStore(session, "ckpt", max_retries).merge_passes(
            paths)
        return session.state
    return merge
