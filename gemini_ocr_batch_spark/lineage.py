"""Per-partition lineage/metrics capture (north_rule requirement).

Replaces the reference's failure_logs + Prefect artifact reporting
(reference: src/database.py:101-125, src/flow.py:149-198). The extraction
operator emits physical telemetry per row (partition_id, bytes_in,
kernel_ns); this module aggregates a call's promoted pass dirs to one row
per (pass, physical partition) and appends it to an append-only parquet
table — the reference's append-only failure-log pattern (reference:
src/prefect_state.py:245-282).

The aggregate is one DuckDB statement on the driver over the pass dirs'
parquet, at every call size: it reads only the three int telemetry columns
plus the hive ``is_ok`` directory field, and DuckDB streams the scan, so
driver memory does not grow with the call. The job is tied to the local
filesystem already (it stages, lists and renames its dirs with ``os``), so
the driver can always read the pass dirs. Lineage is written only from
promoted pass dirs, so an attempt that was never promoted has no row.
"""

from __future__ import annotations

import glob
import os

from gemini_ocr_batch_spark import EXTRACTOR_VERSION
from gemini_ocr_batch_spark.checkpoint import _sql_str


def write_lineage(con, run_id: str, passes: list[tuple[int, str]],
                  lineage_path: str) -> dict[int, tuple[int, int]]:
    """Aggregate one run's promoted pass dirs (``[(pass_num, dir)]`` in
    pass order, each dir holding ``is_ok=…`` hive partitions) into
    LINEAGE_SCHEMA rows, one per (pass_num, partition_id), and write them as
    ONE parquet file named by the run and its first pass.

    A call's passes always give the same file name, so logging them again
    after a crash rewrites that file instead of adding a second copy.
    ``con`` is an open DuckDB connection. ``started_at`` is naive UTC
    whatever the connection's TimeZone. Returns ``{pass_num: (rows, failed
    rows)}``: the pass accounting comes from the same aggregate.
    """
    src = " UNION ALL ".join(
        f"SELECT CAST({int(n)} AS INTEGER) AS pass_num, partition_id,"
        " bytes_in, kernel_ns, is_ok"
        f" FROM read_parquet({_sql_str(g)}, hive_partitioning = true,"
        " hive_types = {'is_ok': BOOLEAN})"
        for n, d in passes
        # a pass dir without data files adds no rows
        if glob.glob(g := os.path.join(d, "*", "*.parquet"))
    )
    if not src:
        return {}
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE lineage AS
        SELECT {_sql_str(run_id)} AS run_id,
               pass_num,
               partition_id,
               count(*) AS row_count,
               CAST(count_if(is_ok) AS BIGINT) AS success_count,
               CAST(count_if(NOT is_ok) AS BIGINT) AS failure_count,
               CAST(sum(bytes_in) AS BIGINT) AS bytes_in,
               CAST(sum(kernel_ns) / 1e6 AS DOUBLE) AS kernel_wall_ms,
               {_sql_str(EXTRACTOR_VERSION)} AS extractor_version,
               timezone('UTC', now()) AS started_at
        FROM ({src})
        GROUP BY pass_num, partition_id
        ORDER BY pass_num, partition_id
    """)
    os.makedirs(lineage_path, exist_ok=True)
    target = os.path.join(lineage_path,
                          f"part-{run_id}-{passes[0][0]}.parquet")
    con.execute(f"COPY lineage TO {_sql_str(target)} (FORMAT PARQUET)")
    return {
        int(p): (int(n), int(bad))
        for p, n, bad in con.execute(
            "SELECT pass_num, sum(row_count), sum(failure_count) "
            "FROM lineage GROUP BY pass_num"
        ).fetchall()
    }
