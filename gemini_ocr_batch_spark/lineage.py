"""Per-partition lineage/metrics capture (north_rule requirement).

Replaces the reference's failure_logs + Prefect artifact reporting
(reference: src/database.py:101-125, src/flow.py:149-198). The extraction
operator emits physical telemetry per row (partition_id, bytes_in,
kernel_ns); this module aggregates it to one row per physical partition and
appends to an append-only parquet table — the reference's append-only
failure-log pattern (reference: src/prefect_state.py:245-282).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gemini_ocr_batch_spark import EXTRACTOR_VERSION


def lineage_rows(extracted: DataFrame, run_id: str, pass_num: int) -> DataFrame:
    """Aggregate extracted rows → one lineage row per physical partition."""
    return (
        extracted.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum(
                F.when(F.col("error_type").isNull(), 1).otherwise(0)
            ).alias("success_count"),
            F.sum(
                F.when(F.col("error_type").isNotNull(), 1).otherwise(0)
            ).alias("failure_count"),
            F.sum("bytes_in").alias("bytes_in"),
            (F.sum("kernel_ns") / F.lit(1e6)).alias("kernel_wall_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(pass_num).cast("int").alias("pass_num"),
            F.col("partition_id"),
            F.col("row_count"),
            F.col("success_count"),
            F.col("failure_count"),
            F.col("bytes_in"),
            F.col("kernel_wall_ms"),
            F.lit(EXTRACTOR_VERSION).alias("extractor_version"),
            F.current_timestamp().alias("started_at"),
        )
    )


def lineage_rows_local(staged_path: str, run_id: str,
                       pass_num: int) -> list[dict]:
    """Driver-side twin of :func:`lineage_rows` over a LOCAL staged dir.

    A pass's telemetry columns (partition_id, error_type, bytes_in,
    kernel_ns) are a few MB even at bench scale; aggregating them with
    pyarrow replaces one whole Spark job of fixed scheduling/commit
    latency per pass. Returns plain dicts consumable by the same pyarrow
    lineage appender; the job calls it only for a call small enough for
    one driver. Tests pin this equal to the Spark path.
    """
    import pyarrow.dataset as pads

    ds = pads.dataset(staged_path, format="parquet", partitioning="hive")
    if "partition_id" not in ds.schema.names:
        return []  # empty pass: zero data files were written
    # Only the three int64 telemetry columns are read from data pages; the
    # failure count comes from the hive `is_ok` partition field (free —
    # decoded from directory names), so the error_type STRING column never
    # leaves disk. Aggregation is pyarrow-native (C++), no pandas layer.
    tbl = ds.to_table(
        columns=["partition_id", "bytes_in", "kernel_ns", "is_ok"]
    )
    if tbl.num_rows == 0:
        return []
    import pyarrow as pa
    import pyarrow.compute as pc

    bad = pc.if_else(
        pc.equal(tbl.column("is_ok").cast(pa.string()), "false"),
        pa.scalar(1, pa.int64()),
        pa.scalar(0, pa.int64()),
    )
    tbl = tbl.drop_columns(["is_ok"]).append_column("is_bad", bad)
    agg = (
        pa.TableGroupBy(tbl, "partition_id")
        .aggregate(
            [
                ("partition_id", "count"),
                ("is_bad", "sum"),
                ("bytes_in", "sum"),
                ("kernel_ns", "sum"),
            ]
        )
        .sort_by("partition_id")
    )
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    rows = []
    for rec in agg.to_pylist():
        n = int(rec["partition_id_count"])
        n_bad = int(rec["is_bad_sum"])
        rows.append(
            {
                "run_id": run_id,
                "pass_num": int(pass_num),
                "partition_id": int(rec["partition_id"]),
                "row_count": n,
                "success_count": n - n_bad,
                "failure_count": n_bad,
                "bytes_in": int(rec["bytes_in_sum"]),
                "kernel_wall_ms": float(rec["kernel_ns_sum"]) / 1e6,
                "extractor_version": EXTRACTOR_VERSION,
                "started_at": now,
            }
        )
    return rows

