"""gemini_ocr_batch_spark — a from-scratch PySpark-native main-content
extraction engine with the query/data-processing capabilities of the
reference pipeline ``AnsonDev42/gemini-ocr-batch``.

The reference (see SURVEY.md) is a batch dataflow: scan work items →
anti-join completed/inflight/dead-lettered → per-record extraction map →
schema-validated partitioned sink → resumable SQLite state. This package
re-expresses every one of those capabilities Spark-first:

- ``schemas``     — fixed StructTypes (pages / extracted / checkpoint /
                    lineage / failures), the analog of the reference's
                    Pydantic models (reference: src/models.py).
- ``kernels``     — pure, deterministic extraction kernels (HTML
                    boilerplate strip, minimal PDF layout parse) shared
                    verbatim between the single-threaded golden oracle and
                    the vectorized Spark operator, so byte-identity gates
                    Spark plumbing rather than kernel drift.
- ``operators``   — DataFrame-level operators: mapInArrow extraction,
                    dedup (exact / minhash-LSH / simhash / n-gram
                    jaccard), similarity search, text analysis,
                    multimodal plumbing.
- ``checkpoint``  — resumable checkpoint store (atomic Parquet snapshot
                    swap; Iceberg MERGE documented for cluster runtimes),
                    the analog of the reference's SQLiteStateStore
                    (reference: src/prefect_state.py).
- ``job``         — the end-to-end pipeline with retry/dead-letter loop
                    (reference: src/flow.py orchestration collapsed into
                    ≤ max_retries batch passes).
- ``analyze``     — reporting/aggregation queries (reference:
                    scripts/analyze_failures.py).
"""

__version__ = "0.1.0"

EXTRACTOR_VERSION = "html-density-v1+pdf-cluster-v1"
