"""Physical-plan regression tests: pin the scale-critical plan shapes
(SURVEY.md §4, PLANS.md). A change that loses pushdown/pruning/broadcast
fails here, not in a benchmark."""

from __future__ import annotations

import pytest

import __spark_entry__ as em
from gemini_ocr_batch_spark.plans import (
    pushed_filters,
    read_schemas,
    uses_broadcast_join,
    uses_take_ordered,
)

QS = em.queries()
# r6 rotation moved some pinned queries to the local-parity registry;
# the plan pins keep running against them from there
QS.update({name: fn for name, (fn, _sql) in em.local_parity().items()
           if name not in QS})


def test_resume_anti_join_broadcasts(spark, sf_dir):
    df = QS["pending_anti_join"](spark, sf_dir)
    assert uses_broadcast_join(df, "LeftAnti")


def test_membership_filter_pushed_and_pruned(spark, sf_dir):
    df = QS["membership_filter"](spark, sf_dir)
    assert any("In(lang" in f for f in pushed_filters(df))
    assert any(s == "struct<lang:string>" for s in read_schemas(df))


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = QS["star_join"](spark, sf_dir)
    assert uses_broadcast_join(df, "Inner")
    # dims pruned to key columns — no payload columns move
    schemas = read_schemas(df)
    assert any("n_nationkey" in s and "n_name" not in s for s in schemas)


def test_pricing_summary_pushes_date_filter(spark, sf_dir):
    df = QS["pricing_summary"](spark, sf_dir)
    assert any("l_shipdate" in f and "LessThanOrEqual" in f
               for f in pushed_filters(df))
    # column pruning: l_orderkey etc. never read
    assert all("l_orderkey" not in s for s in read_schemas(df))


def test_ordered_limit_avoids_global_sort(spark, sf_dir):
    assert uses_take_ordered(QS["ordered_limit"](spark, sf_dir))
    # recency_limit retired to local_parity() in r5 — plan pin kept
    recency_fn = em.local_parity()["recency_limit"][0]
    assert uses_take_ordered(recency_fn(spark, sf_dir))


def test_checkpoint_pending_broadcasts_small_snapshot(spark, pages_df, tmp_path):
    """With a real (small) checkpoint snapshot, parquet stats drive a
    static broadcast for the resume anti-join. (The join is deliberately
    NOT force-broadcast: at 10^9+ keys it must become a sort-merge join —
    an empty/huge build side is Catalyst's call, assisted by AQE.)"""
    import datetime as dt

    from gemini_ocr_batch_spark.checkpoint import ParquetCheckpointStore

    store = ParquetCheckpointStore(str(tmp_path / "ck"))
    ts = dt.datetime(2024, 1, 1)
    store.overwrite(
        spark.createDataFrame(
            [("https://x/1", ts, "success", 1, None, ts)],
            "url string, warc_ts timestamp, status string, attempts int, "
            "last_error string, updated_at timestamp",
        )
    )
    df = store.pending(pages_df)
    assert uses_broadcast_join(df, "LeftAnti")


def test_extract_prunes_blob_inputs(spark, pages_df):
    """The kernel stage reads only (url, warc_ts, html) — text/lang never
    enter the shuffle."""
    from gemini_ocr_batch_spark.operators.extract import extract_pages
    from gemini_ocr_batch_spark.plans import formatted_plan

    df = extract_pages(pages_df, n_partitions=4)
    schemas = read_schemas(df)
    assert schemas, "expected a parquet scan in the plan"
    for s in schemas:
        cols = {part.split(":")[0] for part in
                s.removeprefix("struct<").removesuffix(">").split(",")}
        assert cols <= {"url", "warc_ts", "html"}, s
    assert "Exchange" in formatted_plan(df)  # the one deliberate (salt) shuffle


def test_stratified_sample_is_filter_on_scan(spark, sf_dir):
    """r5 mixing primitive: one Exchange total (the presentation orderBy
    rangepartitioning), filter evaluated at the scan stage, and the scan
    pruned to (doc_id, lang) — no rates-table join, no text read."""
    from gemini_ocr_batch_spark.plans import formatted_plan

    fn = em.local_parity()["stratified_sample"][0]
    df = fn(spark, sf_dir)
    plan = formatted_plan(df)
    # one Exchange SECTION (") Exchange" is the formatted-plan section
    # header; the bare word also appears in the tree summary)
    assert plan.count(") Exchange") == 1 and "rangepartitioning" in plan
    assert all("text" not in s for s in read_schemas(df))


def test_decontaminate_broadcasts_and_never_shuffles_text(spark, sf_dir):
    """r5 decontamination: the benchmark shingle set is the broadcast
    side, and NO exchange anywhere in the plan carries the text column —
    only (id, shingle-hash) pairs and slim hit counts move."""
    from gemini_ocr_batch_spark.plans import formatted_plan

    df = QS["decontaminate"](spark, sf_dir)  # driver-registered since r6
    assert uses_broadcast_join(df)
    fp = formatted_plan(df)
    exchange_sections = [
        s
        for s in fp.split("\n\n")
        if s.lstrip().startswith("(") and ") Exchange" in s.splitlines()[0]
    ]
    assert exchange_sections, fp
    for s in exchange_sections:
        input_line = next(l for l in s.splitlines() if l.startswith("Input"))
        assert "text#" not in input_line, s


def test_repeated_spans_slim_shuffles_no_pairwise_join(spark, sf_dir):
    """r6 substring dedup: after the (few-split local) spread of the
    source, every downstream exchange carries only slim (doc, pos, hash)
    triples — never text or gram strings — and the plan contains no
    pairwise join (corpus-linear: the only joins are the semi-join of
    positions against the elected dup-hash set)."""
    from gemini_ocr_batch_spark.operators.dedup import repeated_spans
    from gemini_ocr_batch_spark.plans import formatted_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = repeated_spans(docs, k=8)
    fp = formatted_plan(df)
    exchange_sections = [
        s
        for s in fp.split("\n\n")
        if s.lstrip().startswith("(") and ") Exchange" in s.splitlines()[0]
    ]
    assert exchange_sections, fp
    for s in exchange_sections:
        input_line = next(l for l in s.splitlines() if l.startswith("Input"))
        # the spread repartition is the one allowed text movement on a
        # few-split local source; every OTHER exchange must be slim
        if "RoundRobinPartitioning" in s or "REPARTITION" in s:
            continue
        assert "text#" not in input_line and "gram#" not in input_line, s
    assert "CartesianProduct" not in fp
    assert "SortMergeJoin Inner" not in fp  # only the semi-join + window


def test_checkpoint_frontier_is_one_broadcast_left_join(spark, pages_df,
                                                         tmp_path):
    """The job's resume query reads the checkpoint once: one scan of its
    snapshot, broadcast into one left outer join (keys, status and
    attempts only), and no anti-join."""
    import datetime as dt

    from gemini_ocr_batch_spark.checkpoint import ParquetCheckpointStore
    from gemini_ocr_batch_spark.plans import formatted_plan

    store = ParquetCheckpointStore(str(tmp_path / "ck"))
    ts = dt.datetime(2024, 1, 1)
    store.overwrite(
        spark.createDataFrame(
            [("https://x/1", ts, "failed", 1, "DecodeError", ts)],
            "url string, warc_ts timestamp, status string, attempts int, "
            "last_error string, updated_at timestamp",
        )
    )
    df = store.frontier(pages_df)
    plan = formatted_plan(df)
    assert uses_broadcast_join(df, "LeftOuter")
    assert "LeftAnti" not in plan
    ck_schemas = [s for s in read_schemas(df) if "status" in s]
    assert ck_schemas == ["struct<url:string,warc_ts:timestamp,"
                          "status:string,attempts:int>"]
