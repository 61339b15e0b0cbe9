"""Per-partition lineage/metrics capture (north_rule requirement).

Replaces the reference's failure_logs + Prefect artifact reporting
(reference: src/database.py:101-125, src/flow.py:149-198). The extraction
operator emits physical telemetry per row (partition_id, bytes_in,
kernel_ns); this module aggregates a call's staged output to one row per
(attempt, physical partition) and appends it to an append-only parquet
table — the reference's append-only failure-log pattern (reference:
src/prefect_state.py:245-282).

The aggregate is one DuckDB statement on the driver over the call's staged
parquet, at every call size: it reads only the three int telemetry columns
plus the hive ``attempt``/``is_ok`` directory fields, and DuckDB streams
the scan, so driver memory does not grow with the call. The job is tied to
the local filesystem already (it stages, lists and renames its dirs with
``os``), so the driver can always read the staged parquet.
"""

from __future__ import annotations

import os

from gemini_ocr_batch_spark import EXTRACTOR_VERSION
from gemini_ocr_batch_spark.checkpoint import _sql_str


def write_lineage(con, staged: str, lineage_path: str, run_id: str,
                  base_pass: int) -> dict[int, tuple[int, int]]:
    """Aggregate the staged call dir (``attempt=k/is_ok=…`` hive layout)
    into LINEAGE_SCHEMA rows, one per (attempt, partition_id) with
    ``pass_num = base_pass + attempt``, and write them as ONE parquet file.

    ``con`` is an open DuckDB connection. ``started_at`` is naive UTC
    whatever the connection's TimeZone. Returns ``{attempt: (rows, failed
    rows)}``: the pass accounting comes from the same aggregate.
    """
    src = (
        f"read_parquet({_sql_str(os.path.join(staged, '*', '*', '*.parquet'))},"
        " hive_partitioning = true,"
        " hive_types = {'attempt': INTEGER, 'is_ok': BOOLEAN})"
    )
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE lineage AS
        SELECT {_sql_str(run_id)} AS run_id,
               CAST({int(base_pass)} + attempt AS INTEGER) AS pass_num,
               partition_id,
               count(*) AS row_count,
               CAST(count_if(is_ok) AS BIGINT) AS success_count,
               CAST(count_if(NOT is_ok) AS BIGINT) AS failure_count,
               CAST(sum(bytes_in) AS BIGINT) AS bytes_in,
               CAST(sum(kernel_ns) / 1e6 AS DOUBLE) AS kernel_wall_ms,
               {_sql_str(EXTRACTOR_VERSION)} AS extractor_version,
               timezone('UTC', now()) AS started_at
        FROM {src}
        GROUP BY attempt, partition_id
        ORDER BY pass_num, partition_id
    """)
    os.makedirs(lineage_path, exist_ok=True)
    target = os.path.join(lineage_path, f"part-{run_id}-{base_pass}.parquet")
    con.execute(f"COPY lineage TO {_sql_str(target)} (FORMAT PARQUET)")
    return {
        int(p) - base_pass: (int(n), int(bad))
        for p, n, bad in con.execute(
            "SELECT pass_num, sum(row_count), sum(failure_count) "
            "FROM lineage GROUP BY pass_num"
        ).fetchall()
    }
