"""The vectorized extraction operator: pages → extracted rows.

This is the Spark-side half of the reference's per-document map (reference:
src/batch_builder.py:23-43 request build + src/results.py:81-230 decode/
validate). The remote LLM is replaced by the deterministic kernels; the
plumbing is ``mapInArrow`` over Arrow batches — no per-row Python at the
DataFrame layer (BASELINE.json input_hint).
``extract_attempts`` is the job's form: it retries a failed row inside
the same task, up to a per-row attempt budget; ``extract_pages`` is the
same kernel with a budget of 1.

Skew handling (north_rule: "salted repartitioning by byte-size buckets"):
giant blobs make per-task work heavy-tailed. ``salt_by_size`` spreads rows
across ``n_partitions`` by (size_bucket, salt-of-url) so one task never
accumulates many giants, while small pages still pack densely.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gemini_ocr_batch_spark import EXTRACTOR_VERSION
from gemini_ocr_batch_spark.schemas import EXTRACTED_SCHEMA

# bytes of raw input kept on failure rows for forensics
_SAMPLE_BYTES = 240

# extract_attempts' output: the kernel row plus its 0-based attempt index
ATTEMPTS_SCHEMA = T.StructType(
    list(EXTRACTED_SCHEMA.fields)
    + [T.StructField("attempt", T.IntegerType(), False)]
)


def salt_by_size(pages: DataFrame, n_partitions: int, n_salt: int = 64) -> DataFrame:
    """Repartition by (log2-size bucket, salted url hash).

    ``width_bucket``-style bucketing by byte size puts giant blobs in their
    own buckets; the salt spreads each bucket uniformly. The html column
    itself is the payload, so this one shuffle is the only time blobs move.
    """
    bucketed = pages.withColumn(
        "_size_bucket",
        F.floor(F.log2(F.coalesce(F.length(F.col("html")), F.lit(0)) + F.lit(2))),
    ).withColumn("_salt", F.pmod(F.xxhash64("url", "warc_ts"), F.lit(n_salt)))
    return bucketed.repartition(n_partitions, "_size_bucket", "_salt").drop(
        "_size_bucket", "_salt"
    )


def _extract_record_batch(batch, pid: int):
    """Run the kernel over one pyarrow RecordBatch of (url, html, ...) →
    one RecordBatch of EXTRACTED_SCHEMA columns."""
    import pyarrow as pa

    from gemini_ocr_batch_spark.kernels import extract_document_detail

    t0 = time.perf_counter_ns()
    urls = batch.column("url").to_pylist()
    blobs = batch.column("html").to_pylist()
    texts, kinds, errs = [], [], []
    msgs, samples, nbytes = [], [], []
    # spans go straight to flattened Arrow buffers (offsets + struct
    # children + null mask) instead of one python dict PER SPAN —
    # measured ~100x faster array build; on span-dense real pages the
    # dict path was ~20% of total kernel wall
    sp_offsets, sp_starts, sp_ends, sp_kinds, sp_null = [0], [], [], [], []
    for url, blob in zip(urls, blobs):
        text, sp, kind, err, msg = extract_document_detail(blob, url)
        texts.append(text)
        if sp is None:
            sp_null.append(True)
        else:
            sp_null.append(False)
            for s, e, k in sp:
                sp_starts.append(s)
                sp_ends.append(e)
                sp_kinds.append(k)
        sp_offsets.append(len(sp_starts))
        kinds.append(kind)
        errs.append(err)
        msgs.append(msg)
        samples.append(
            blob[:_SAMPLE_BYTES].decode("latin-1")
            if err is not None and blob
            else None
        )
        nbytes.append(len(blob) if blob is not None else 0)
    spans_arr = pa.ListArray.from_arrays(
        pa.array(sp_offsets, pa.int32()),
        pa.StructArray.from_arrays(
            [
                pa.array(sp_starts, pa.int64()),
                pa.array(sp_ends, pa.int64()),
                pa.array(sp_kinds, pa.string()),
            ],
            fields=[
                pa.field("start", pa.int64(), nullable=False),
                pa.field("end", pa.int64(), nullable=False),
                pa.field("kind", pa.string(), nullable=False),
            ],
        ),
        mask=pa.array(sp_null),
    )
    elapsed = time.perf_counter_ns() - t0
    n = batch.num_rows  # constant columns must match row count exactly
    per_row_ns = elapsed // max(1, n)
    return pa.record_batch(
        [
            batch.column("url"),
            batch.column("warc_ts"),
            pa.array(texts, pa.string()),
            spans_arr,
            pa.array(kinds, pa.string()),
            pa.array([EXTRACTOR_VERSION] * n, pa.string()),
            pa.array(errs, pa.string()),
            pa.array(msgs, pa.string()),
            pa.array(samples, pa.string()),
            pa.array([pid] * n, pa.int32()),
            pa.array(nbytes, pa.int64()),
            pa.array([per_row_ns] * n, pa.int64()),
        ],
        names=EXTRACTED_SCHEMA.names,
    )


def _partition_id() -> int:
    from pyspark import TaskContext

    tc = TaskContext.get()
    return tc.partitionId() if tc is not None else -1


def _extract_attempts_arrow(it):
    """mapInArrow kernel with in-task retries: every row gets up to its
    ``_budget`` attempts. Attempt 0 runs over the whole batch; each later
    attempt re-runs only the rows whose previous attempt failed and that
    still have budget. One output batch per attempt, tagged ``attempt``.
    Installs the worker's zip-cache hook, so this worker's later tasks do
    not re-read unchanged zip archives (see ``zipcache``)."""
    import pyarrow as pa

    from gemini_ocr_batch_spark import zipcache

    zipcache.install()
    pid = _partition_id()
    for batch in it:
        budget = batch.column("_budget").to_pylist()
        rows = [i for i, b in enumerate(budget) if b > 0]
        attempt = 0
        while rows:
            sub = batch if len(rows) == batch.num_rows else batch.take(rows)
            out = _extract_record_batch(sub, pid)
            yield out.append_column(
                "attempt", pa.array([attempt] * len(rows), pa.int32())
            )
            attempt += 1
            errs = out.column("error_type").to_pylist()
            rows = [
                i for i, err in zip(rows, errs)
                if err is not None and budget[i] > attempt
            ]


# plan nodes that hand the kernel their child's rows in the child's
# partitioning: projections, filters, and the probe (left) side of a resume
# join — the job's one left join of the pages against the checkpoint
# (store.frontier, then a Filter on the joined status) or the anti-join of
# store.pending
_PASS_THROUGH = ("Project", "Filter", "SubqueryAlias")
_PROBE_SIDE_JOINS = ("LeftAnti", "LeftSemi", "LeftOuter")


def _row_source(df: DataFrame) -> DataFrame:
    """The relation ``df``'s rows are read from: its analyzed plan walked
    down through pass-through nodes and the left side of left joins.

    Building this frame is planning only, so the salt decision runs no
    Spark job; ``df.rdd`` on a resumed frontier would execute the join's
    broadcast stage under AQE. Falls back to ``df`` when the plan cannot
    be walked."""
    try:
        node = df._jdf.queryExecution().analyzed()
        while True:
            kind = node.getClass().getSimpleName()
            if kind in _PASS_THROUGH:
                node = node.child()
            elif (kind == "Join"
                  and node.joinType().toString() in _PROBE_SIDE_JOINS):
                node = node.left()
            else:
                break
        spark = df.sparkSession
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, node
        )
        return DataFrame(jdf, spark)
    except Exception:  # not a classic JVM plan: probe df itself
        return df


def _kernel_input(pages: DataFrame, n_partitions: int | None,
                  salt: bool | str, *extra) -> DataFrame:
    """The kernel's input: (url, warc_ts, html, *extra), salted per
    ``salt`` (see extract_pages)."""
    slim = pages.select("url", "warc_ts", "html", *extra)
    parts = n_partitions or pages.sparkSession.sparkContext.defaultParallelism
    if salt == "auto":
        source = _row_source(slim)
        try:
            src_parts = source.rdd.getNumPartitions()
        except Exception:  # streaming frames have no rdd
            src_parts = parts
        # Planned byte-range splits LIE for coarse-row-group parquet: a
        # split yields rows only if a row-group start falls inside it, so
        # a single-row-group file plans N splits but N-1 are empty and
        # one task extracts everything (r3: 121k docs serialized onto one
        # core this way). inputFiles() is a driver-side metadata call; a
        # source with fewer files than target parallelism cannot be
        # TRUSTED to split, so it gets the salt shuffle — for a genuinely
        # many-row-group single file that shuffle is redundant but
        # harmless; for the pathological file it is a cores× win.
        try:
            # [] (not an exception) for in-memory/LocalRelation sources —
            # treat it like the non-file path, else every non-file source
            # would count as "0 files" and force a redundant salt shuffle
            n_files = len(source.inputFiles()) or src_parts
        except Exception:  # non-file source (stream)
            n_files = src_parts
        effective = min(src_parts, max(n_files, 1))
        salt = effective < max(2, parts // 2)
    return salt_by_size(slim, parts) if salt else slim


def extract_pages(
    pages: DataFrame,
    n_partitions: int | None = None,
    salt: bool | str = "auto",
) -> DataFrame:
    """pages(url, warc_ts, html, ...) → extracted rows (EXTRACTED_SCHEMA):
    ``extract_attempts`` with one attempt per row, minus its ``attempt``.

    Column-prunes to exactly the three columns the kernel needs before any
    shuffle, so `text`/`lang` never move.

    ``salt`` policy — the blob column is the expensive thing to move, so
    the shuffle must pay for itself:
    - "auto" (default): salt only when the source scan cannot feed the
      target parallelism. A size-bounded file scan (parquet splits ≤
      spark.sql.files.maxPartitionBytes) already bounds per-task byte
      work, so a well-split table skips the blob shuffle entirely
      (measured 2× kernel-stage throughput); a coarse source (few huge
      splits, few files) gets the full salted repartition. The decision
      reads the splits and files of the relation the rows come from,
      found through projections, filters and the left side of left joins,
      and runs no Spark job. A broadcast resume join keeps the source's
      partitions, so the decision is the one the joined frontier would
      give. A sort-merge resume join (a checkpoint too big to broadcast)
      feeds the kernel its own shuffle partitions, which the decision
      does not see: a well-split source goes straight from the join to
      the kernel, and a coarse one is salted on top of the join's shuffle.
    - True: always salt (pathological co-location, non-splittable blobs).
    - False: never (streaming frames, pre-partitioned input).
    """
    slim = _kernel_input(pages, n_partitions, salt, F.lit(1).alias("_budget"))
    return slim.mapInArrow(_extract_attempts_arrow, ATTEMPTS_SCHEMA).drop(
        "attempt"
    )


def extract_attempts(
    pages: DataFrame, budget: Column, n_partitions: int | None = None
) -> DataFrame:
    """pages(url, warc_ts, html, ...) → one row per extraction attempt
    (ATTEMPTS_SCHEMA: EXTRACTED_SCHEMA + the 0-based ``attempt``).

    ``budget`` is an int column: the attempts each row may take (a row
    with 0 is not extracted). A row whose attempt k failed is extracted
    again as attempt k+1 in the same task while k+1 < budget, so retries
    add no Spark job. Salting is extract_pages' salt="auto"; the Arrow
    kernel only.
    """
    slim = _kernel_input(pages, n_partitions, "auto", budget.alias("_budget"))
    return slim.mapInArrow(_extract_attempts_arrow, schema=ATTEMPTS_SCHEMA)
