"""String-level checks of the Iceberg backend's SQL.

No Iceberg jar ships in this sandbox, so the MERGE INTO branch can't
execute. Its transitions are not restated here: the tests assert that the
MERGE embeds the shared fold and transition text (``fold_sql``,
``result_transition_sql``, ``running_transition_sql``). The Parquet
store's DuckDB merge executes that text (e.g.
tests/test_pipeline.py::test_checkpoint_merge_transitions), and
tests/test_checkpoint_model.py evaluates the MERGE's pieces in Spark SQL
against the same model.
"""

from __future__ import annotations

import re

from gemini_ocr_batch_spark.checkpoint import (
    create_table_sql,
    fold_sql,
    mark_running_sql,
    merge_sql,
    result_transition_sql,
    running_transition_sql,
)


def _squash(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


def test_create_table_sql_shape():
    sql = _squash(create_table_sql("cat.db.ckpt"))
    assert "CREATE TABLE IF NOT EXISTS cat.db.ckpt" in sql
    # key + status columns, exactly the CHECKPOINT_SCHEMA fields
    for col in ("url STRING", "warc_ts TIMESTAMP", "status STRING",
                "attempts INT", "last_error STRING",
                "updated_at TIMESTAMP"):
        assert col in sql
    assert "USING iceberg" in sql
    # the scale lever: bucketed partitioning on the join key
    assert "PARTITIONED BY (bucket(256, url))" in sql


def _clauses(sql: str) -> tuple[str, str]:
    """(UPDATE SET clause, INSERT VALUES clause) of a squashed MERGE."""
    update = sql.split("WHEN MATCHED THEN UPDATE SET ", 1)[1].split(
        " WHEN NOT MATCHED", 1)[0]
    return update, sql.split("VALUES ( s.url, s.warc_ts, ", 1)[1]


def _embeds(sql: str, transition) -> None:
    """Matched rows update through transition("t"), inserted rows are
    built from transition(None): the text the Parquet store runs."""
    update, values = _clauses(sql)
    upd, ins = transition("t"), transition(None)
    assert update == ", ".join(
        f"t.{c} = {_squash(upd[c])}"
        for c in ("status", "attempts", "last_error", "updated_at"))
    assert values == ", ".join(
        _squash(ins[c])
        for c in ("status", "attempts", "last_error", "updated_at")) + " )"


def test_merge_sql_transitions():
    sql = _squash(merge_sql("cat.db.ckpt", max_retries=3))
    assert sql.startswith("MERGE INTO cat.db.ckpt t USING (")
    # the source folds the _ckpt_delta rows with the shared fold text
    assert f"USING ({fold_sql('_ckpt_delta')}) s" in sql
    assert "ON t.url = s.url AND t.warc_ts = s.warc_ts" in sql
    _embeds(sql, lambda old: result_transition_sql(old, "s", 3))


def test_merge_sql_max_retries_one_dead_letters_on_insert():
    sql = _squash(merge_sql("t", max_retries=1))
    _embeds(sql, lambda old: result_transition_sql(old, "s", 1))
    # a first failed attempt inserts dead when max_retries is 1
    assert "WHEN coalesce(NULL, 0) + s.n >= 1 THEN 'dead'" in _clauses(sql)[1]


def test_mark_running_sql_shape():
    sql = _squash(mark_running_sql("t"))
    assert "USING _ckpt_running s" in sql
    _embeds(sql, lambda old: running_transition_sql(old, "s"))


def test_iceberg_store_surface_matches_job_needs():
    """The job drives the store through this exact narrow surface —
    both backends must expose it (store injection in run_extraction_job)."""
    from gemini_ocr_batch_spark.checkpoint import (
        IcebergCheckpointStore,
        ParquetCheckpointStore,
    )

    for method in ("frontier", "pending", "merge_passes", "last_commit",
                   "mark_running", "vacuum", "read", "dead_letters"):
        assert hasattr(ParquetCheckpointStore, method), method
        assert hasattr(IcebergCheckpointStore, method), method
