"""Streaming extraction + event analytics.

- ``stream_extract``: continuous-ingest variant of job.py — new page files
  landing in a directory are extracted micro-batch by micro-batch with
  exactly-once sink semantics via the streaming checkpoint. The batch
  job's anti-join resume and the streaming checkpoint are two faces of the
  same idempotency contract (reference: the scan/anti-join poll loop,
  src/flow.py:423-498).
- ``windowed_event_counts``: watermark + event-time window aggregation
  (the §2.10 late-data analog: retried records re-entering the scan).
- ``sessionize_events``: custom stateful operator via
  ``applyInPandasWithState`` — gap-based sessions per user, emitting one
  row per closed session.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gemini_ocr_batch_spark.operators.extract import extract_pages
from gemini_ocr_batch_spark.schemas import PAGES_SCHEMA


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    salt: bool = True,
):
    """readStream(pages parquet dir) → extraction kernel → parquet sink.

    Returns the started StreamingQuery. ``available_now=True`` drains
    what's currently in the directory then stops — the micro-batch analog
    of one reference wave (Trigger.AvailableNow ≙ run-once poll loop).

    Throughput levers (r4 — the untuned r3 surface ran at 19k vs 81k
    batch docs/s):

    - ``max_files_per_trigger``: default UNCAPPED — an availableNow drain
      processes the backlog as one maximal batch instead of serializing
      ceil(files/8) micro-batches. Set a cap only for continuous mode,
      to bound per-batch latency/memory against a growing landing dir.
    - ``salt=True``: per-micro-batch salted repartition (a stateless
      exchange — legal in append-mode streaming) spreads the kernel
      across all cores even when a batch arrives as a few coarse files;
      the batch path's `salt='auto'` split inspection can't run on a
      streaming frame, and a landing directory is exactly the few-files
      regime that needs the shuffle.
    """
    pages = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        pages = pages.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = pages.parquet(pages_dir)
    extracted = extract_pages(pages, n_partitions=None, salt=salt)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked event-time windowed counts (streaming or batch frame)."""
    # watermarks require TIMESTAMP (tz-aware); parquet NTZ columns cast here
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide or window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events int"
)
_STATE_SCHEMA = "start long, last long, n int"

SESSION_GAP_SEC = 1800


def _session_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Gap-based sessionizer: emits closed sessions; open session state
    carries (start, last, n) micros across micro-batches with an idle
    processing-time timeout."""
    user_id = key[0]
    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(last, unit="us")],
                "n_events": [n],
            }
        )
        return
    ts_list: list[int] = []
    for pdf in pdfs:
        ts_list.extend(
            int(t.value // 1000) for t in pd.to_datetime(pdf["ts"])
        )
    ts_list.sort()
    if state.exists:
        start, last, n = state.get
    else:
        start, last, n = None, None, 0
    out_rows = []
    gap_us = SESSION_GAP_SEC * 1_000_000
    for t in ts_list:
        if start is None:
            start, last, n = t, t, 1
        elif t - last > gap_us:
            out_rows.append((start, last, n))
            start, last, n = t, t, 1
        else:
            last, n = t, n + 1
    if start is not None:
        state.update((start, last, n))
        state.setTimeoutDuration(60_000)
    if out_rows:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out_rows),
                "session_start": [
                    pd.Timestamp(s, unit="us") for s, _, _ in out_rows
                ],
                "session_end": [
                    pd.Timestamp(e, unit="us") for _, e, _ in out_rows
                ],
                "n_events": [n for _, _, n in out_rows],
            }
        )


def sessionize_events(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessions per user."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def sessionize_batch(events: DataFrame, gap_sec: int = SESSION_GAP_SEC) -> DataFrame:
    """Batch twin of the sessionizer (lag + cumulative-sum session ids) —
    the oracle-expressible equivalent for correctness checks (guide
    pattern: sessionization via window functions)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
                > gap_sec * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = gapped.withColumn("session_id", F.sum("new_session").over(w2))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("int").alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


def stream_curate(pages: DataFrame, time_col: str = "warc_ts",
                  text_col: str = "text",
                  min_quality_x10000: int = 3000,
                  max_rep_x10000: int = 5000,
                  watermark: str = "1 hour") -> DataFrame:
    """Streaming analog of the batch curation pass
    (webtext.curation_flags → `curate` verb): the quality floor and
    repetition ceiling are STATELESS column expressions (the identical
    single-source fixed-point columns), and canonical selection becomes
    first-arrival-wins within the watermark horizon
    (``dropDuplicatesWithinWatermark`` keyed by the content
    fingerprint — batch chooses min id instead).

    Batch equivalence caveat (ADVICE r4): the fingerprint is md5 of
    LOWERCASED tokens while quality depends on raw case/punctuation, so
    a duplicate cluster whose members disagree on the quality flag can
    diverge — batch drops the whole cluster when its min-id canonical
    fails the floor (filter AFTER canonical selection), while this
    stream keeps the first PASSING arrival (filter BEFORE dedup, so only
    passing documents enter the state store; state stays O(distinct
    fingerprints of keepable docs per horizon)).  Survivor sets match
    exactly for clusters whose members agree on the quality/repetition
    flags — the case the batch-equivalence parity pair pins.  Exact
    cross-horizon canonicalization stays with the batch `curate` pass
    over the accumulated corpus.
    """
    from gemini_ocr_batch_spark.operators.textstats import (
        fingerprint_sql,
        quality_x10000_sql,
    )
    from gemini_ocr_batch_spark.operators.webtext import (
        repetition_x10000_sql,
        with_token_grams,
    )

    rep, _ = repetition_x10000_sql("__grams")
    flagged = (
        with_token_grams(pages, text_col)
        .selectExpr("*", f"{fingerprint_sql('__toks')} AS fingerprint")
        .filter(
            f"{quality_x10000_sql(text_col, '__toks')}"
            f" >= {int(min_quality_x10000)}"
            f" AND {rep} <= {int(max_rep_x10000)}"
        )
        .drop("__toks", "__grams")
    )
    return (
        flagged.withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def stream_dedup_exact(pages: DataFrame, time_col: str = "warc_ts",
                       text_col: str = "text",
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: emit only the FIRST occurrence of each
    content digest within the watermark horizon.

    The streaming analog of ``operators.dedup.exact_dedup`` for a
    continuous-ingest pipeline (crawl re-fetches, mirror floods):
    ``dropDuplicatesWithinWatermark`` keys the state store by the 32-byte
    md5 digest — never the text — and the watermark bounds state size, so
    memory is O(distinct digests per horizon), not O(stream). Exact
    cross-horizon dedup belongs to the batch operator over the
    accumulated corpus; this stage exists to cheaply collapse the
    high-frequency near-in-time duplicates before they hit the expensive
    extraction kernel.
    """
    from gemini_ocr_batch_spark.functions.hashing import h_hex

    return (
        pages.withColumn("content_hash", h_hex(text_col))
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
