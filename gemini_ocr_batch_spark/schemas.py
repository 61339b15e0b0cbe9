"""Fixed, declared schemas for every table in the engine.

The reference declares its record types as Pydantic models
(reference: src/models.py:8-98) and its state tables as SQLAlchemy DDL
(reference: src/database.py:41-125). We declare the same information once,
as Spark ``StructType``s; validation elsewhere is expressed as column
predicates over these schemas, never inference.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style pages table (BASELINE.json input_hint, exactly).
# Analog of the reference's filesystem work-item "table" whose path encodes
# the key {state}/{school}/{year}/{page}.json (reference: src/scanner.py:54,
# src/models.py:8-29). Our composite key is (url, warc_ts).
# ---------------------------------------------------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Extraction result: one span per classified content block.
# Analog of the reference's TextBlock{block_id, position, text, font_style}
# (reference: src/models.py:58-62); offsets index into extracted_text.
# ---------------------------------------------------------------------------
SPAN_TYPE = T.StructType(
    [
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
    ]
)

# Output of the extraction map. Analog of OcrPageResult + the per-record
# error capture in process_results_jsonl (reference: src/models.py:92-98,
# src/results.py:81-230): success rows carry text+spans, failure rows carry
# a typed error and null text — a failure never kills the task.
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), True),
        T.StructField("content_kind", T.StringType(), True),
        T.StructField("extractor_version", T.StringType(), False),
        T.StructField("error_type", T.StringType(), True),
        # failure forensics (reference keeps message + raw payload in its
        # failure log, src/prefect_state.py:245-282): exception repr and a
        # short prefix of the raw input — null on success rows
        T.StructField("error_message", T.StringType(), True),
        T.StructField("input_sample", T.StringType(), True),
        # physical-plan telemetry used by the lineage aggregation; cheap
        # per-row longs, dropped before the user-facing sink if undesired
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("kernel_ns", T.LongType(), False),
    ]
)

# Columns a consumer of the extracted table actually reads.
EXTRACTED_USER_COLUMNS = [
    "url",
    "warc_ts",
    "extracted_text",
    "spans",
    "content_kind",
    "extractor_version",
    "error_type",
]

# ---------------------------------------------------------------------------
# Checkpoint: replaces the reference's three mutable state tables
# active_batches + inflight_records + failure_counts
# (reference: src/database.py:41-98). One row per attempted key.
# status domain: pending | success | failed | dead — enforced in code,
# like the reference's string enums (reference: src/enums.py:6-55).
# ---------------------------------------------------------------------------
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("last_error", T.StringType(), True),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)

STATUS_PENDING = "pending"
STATUS_RUNNING = "running"  # inflight visibility (reference:
# src/prefect_state.py:335-346 marks records inflight for the pass)
STATUS_SUCCESS = "success"
STATUS_FAILED = "failed"
STATUS_DEAD = "dead"

# ---------------------------------------------------------------------------
# Lineage: per-partition metrics rows, append-only. Replaces failure_logs +
# Prefect artifacts (reference: src/database.py:101-125, src/flow.py:149-198)
# and satisfies the north_rule's "per-partition lineage rows (input split,
# row counts, extractor version, wall-time)".
# ---------------------------------------------------------------------------
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("pass_num", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("success_count", T.LongType(), False),
        T.StructField("failure_count", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("kernel_wall_ms", T.DoubleType(), False),
        T.StructField("extractor_version", T.StringType(), False),
        T.StructField("started_at", T.TimestampType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Failures log: append-only rich error rows, the analog of the reference's
# failure_logs table (reference: src/database.py:101-125,
# src/prefect_state.py:245-282).
# ---------------------------------------------------------------------------
FAILURES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("error_type", T.StringType(), False),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("input_sample", T.StringType(), True),
        # `attempts` is the attempt index WITHIN THIS RUN (1 = first pass
        # of this invocation), NOT the checkpoint's cumulative counter:
        # the log is written from the pass dirs alone, before the call's
        # one MERGE, without reading the checkpoint back (the cumulative
        # count would need that read per failed key); on a rerun against
        # a non-fresh checkpoint the two numbers legitimately differ. A
        # call finished by the next call's reconcile still counts from
        # its first pass (the manifest's commit record names it). Join to
        # the checkpoint by (url, warc_ts) — never by attempts.
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
    ]
)

# Typed error domain — mirrors the reference's ErrorType enum
# (reference: src/enums.py:45-55) with extraction-specific members.
ERROR_EMPTY_DOCUMENT = "EmptyDocument"
ERROR_DECODE = "DecodeError"
ERROR_PDF_PARSE = "PdfParseError"
ERROR_KERNEL = "KernelError"
ERROR_TYPES = frozenset(
    {ERROR_EMPTY_DOCUMENT, ERROR_DECODE, ERROR_PDF_PARSE, ERROR_KERNEL}
)
