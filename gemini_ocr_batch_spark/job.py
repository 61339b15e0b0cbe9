"""The end-to-end extraction job with retry/dead-letter.

The reference's whole orchestration (reference: src/flow.py:423-498 wave
loop + scan + submit + poll + process) collapses into ONE DataFrame DAG per
call (SURVEY.md §3.4: with a pure extractor, wave execution degenerates to
the retry loop, and the retry loop runs inside the kernel's tasks):

    pages ⟕ checkpoint, keeping keys not success/dead, with each key's
          prior attempts → attempt budget (ONE read of the checkpoint,
          store.frontier; no join on a fresh store)
          → salt-by-size repartition (only for a coarse source)
          → mapInArrow(extract, re-extracting a failed row in the same task
            while its budget lasts; one row per attempt)
          → ONE bulk write, hive-partitioned by (attempt, is_ok)
          → each attempt k promoted, in order, to pass_num=base+k
          → ONE lineage file and ONE failure-log file for the call's pass
            dirs, then ONE checkpoint MERGE of them (folded per key; the
            manifest flip records them as its commit), then _MERGED
            stamps — all from column-pruned reads of that same parquet

Lineage, the failure log and the MERGE are DuckDB statements on the driver
at every call size (the Iceberg store's MERGE is its Spark MERGE INTO): one
Spark job per step would cost more than the work, and DuckDB streams the
parquet, so driver memory does not grow with the call. The job therefore
needs ``duckdb`` on the driver. The logs' connection spills into the call's
``_staging/``, the MERGE's into a temp dir under the checkpoint root; each
holds at most a fixed share of the host's RAM or of the cgroup's memory
limit (``checkpoint.duckdb_connect``).

Physical design (why one write): the kernel output is written exactly once
and each attempt dir is promoted to ``extracted_all/run_id=R/pass_num=N/
is_ok=…``, one pass dir per attempt.
Everything downstream — the success view, the failure log, the
per-partition lineage rows, the checkpoint delta — is a *metadata-cheap*
read of that parquet (partition pruning on is_ok, column pruning to the
few small columns each consumer needs). No ``persist()``: caching the bulk
map output scales badly (block-manager contention locally; impossible at
10^12 rows on a cluster), while re-reading pruned columns from parquet is
nearly free. An empty frontier writes no attempt dir and promotes nothing
— no separate anti-join pre-scan.

Idempotence: rerunning the job is a no-op once every key is success/dead —
the frontier (checkpoint.frontier, the rows checkpoint.pending keeps) is
empty, exactly like the reference's output-existence probe (reference:
src/scanner.py:90-91).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gemini_ocr_batch_spark.checkpoint import (
    ParquetCheckpointStore,
    _sql_str,
    duckdb_connect,
)
from gemini_ocr_batch_spark.lineage import write_lineage
from gemini_ocr_batch_spark.operators.extract import extract_attempts
from gemini_ocr_batch_spark.schemas import (
    EXTRACTED_SCHEMA,
    EXTRACTED_USER_COLUMNS,
)

# staged-pass schema: kernel output + the is_ok partition column
STAGED_SCHEMA = T.StructType(
    list(EXTRACTED_SCHEMA.fields)
    + [T.StructField("is_ok", T.BooleanType(), True)]
)


# marker file dropped into a promoted pass dir once its keys are in the
# checkpoint — the crash-recovery analog of the reference's output-existence
# probe (reference: src/scanner.py:90-91)
_MERGED = "_MERGED"

def _merge_passes(spark: SparkSession, store, paths: list[str],
                  commit: list[str], local: bool = True) -> None:
    """ONE checkpoint MERGE of pass dirs, each key's rows folded in list
    (attempt) order; the flip records ``commit``. DuckDB on the driver
    when the store allows it; a store without a driver-side merge (the
    Iceberg table), or ``local=False``, gets the store's Spark MERGE."""
    if local and store.merge_results_local(paths, commit):
        return
    store.merge_results(
        reduce(DataFrame.unionByName, (
            spark.read.schema(STAGED_SCHEMA).parquet(p).select(
                "url", "warc_ts", "error_type", F.lit(i).alias("attempt")
            )
            for i, p in enumerate(paths)
        )),
        commit,
    )


def _append_failures(con, run_id: str, passes: list[tuple[int, str]],
                     failures_path: str) -> None:
    """ONE failure-log file for one run's pass dirs (``[(pass_num, dir)]``
    in pass order, as ``write_lineage``): the failure columns of every
    dir's is_ok=false partition, with ``attempts`` = k + 1 for the call's
    attempt k (its pass_num minus the first pass's, not pass_num, which a
    fixed-run_id rerun offsets). ``created_at`` is the statement's UTC
    instant. Named by the run and first pass like the lineage file, so
    logging the same passes again rewrites it."""
    first = passes[0][0]
    rows = " UNION ALL ".join(
        "SELECT url, CAST(warc_ts AS TIMESTAMPTZ) AS warc_ts, error_type,"
        f" error_message, input_sample, CAST({n - first + 1} AS INTEGER)"
        f" AS attempts FROM read_parquet({_sql_str(g)},"
        " hive_partitioning = false)"
        for n, d in passes
        if glob.glob(g := os.path.join(d, "is_ok=false", "*.parquet"))
    )
    if not rows:
        return
    os.makedirs(failures_path, exist_ok=True)
    target = os.path.join(failures_path, f"part-{run_id}-{first}.parquet")
    con.execute(f"""
        COPY (SELECT *, {_sql_str(run_id)} AS run_id, now() AS created_at
              FROM ({rows}))
        TO {_sql_str(target)} (FORMAT PARQUET)
    """)


def _touch(path: str) -> None:
    with open(path, "w", encoding="utf-8"):
        pass


def _commit_passes(spark: SparkSession, store, con, out_dir: str,
                   paths: list[str], result: "JobResult"
                   ) -> dict[str, tuple[int, int]]:
    """The commit tail of promoted, unstamped pass dirs ``paths`` (under
    ``out_dir/extracted_all``, in pass order): per run, ONE lineage file
    and ONE failure-log file for the call's pass dirs; then ONE checkpoint
    MERGE of the dirs the current manifest's commit record does not
    already name, its flip recording them; then the ``_MERGED`` stamps.

    The logs come before the MERGE and are named by run and the call's
    first pass, so a crash anywhere before the stamps is repaired by
    running this again over the unstamped dirs: the logs are rewritten,
    not doubled, and the MERGE is not replayed. A crash partway through
    the stamps leaves only some of a merged call's dirs here; the commit
    record names all of them, so the logs again cover the whole call.
    Returns ``{dir: (rows, failed rows)}`` of the logged dirs; the phases'
    wall time is added to ``result``."""
    all_path = os.path.join(out_dir, "extracted_all")
    t = time.perf_counter()
    committed = set(store.last_commit())
    todo = [p for p in paths
            if os.path.relpath(p, all_path) not in committed]
    logged = set(paths)
    if len(todo) < len(paths):
        logged.update(d for c in committed
                      if os.path.isdir(d := os.path.join(all_path, c)))
    runs: dict[str, list[tuple[int, str]]] = {}
    for p in logged:
        run_dir, pass_dir = os.path.split(p)
        runs.setdefault(os.path.basename(run_dir).split("=", 1)[1],
                        []).append((int(pass_dir.split("=", 1)[1]), p))
    for passes in runs.values():
        passes.sort()
    counts = {}
    for run_id, passes in runs.items():
        by_pass = write_lineage(con, run_id, passes,
                                os.path.join(out_dir, "lineage"))
        counts.update((d, by_pass.get(n, (0, 0))) for n, d in passes)
    t = result._phase("lineage", t)
    for run_id, passes in runs.items():
        _append_failures(con, run_id, passes,
                         os.path.join(out_dir, "failures"))
    t = result._phase("failures", t)
    if todo:
        _merge_passes(spark, store, todo,
                      [os.path.relpath(p, all_path) for p in todo])
    for p in paths:
        _touch(os.path.join(p, _MERGED))
    result._phase("merge", t)
    return counts


def _reconcile_orphans(spark: SparkSession, store, out_dir: str,
                       temp_dir: str) -> int:
    """Finish the commit tail of promoted-but-unstamped pass dirs.

    Closes the crash window between promotion and the ``_MERGED`` stamps:
    without this, a rerun under a fresh run_id would re-extract those keys
    and leave duplicates under two run_id dirs. Promotion is an atomic
    rename, so any pass dir found here is complete. ``_commit_passes``
    over them rewrites their lineage and failure-log files, merges the
    ones the manifest's commit record does not name (a dir it names was
    merged by the flip before the crash) in ONE folded MERGE, and stamps
    them all. Returns the number of pass dirs found.
    """
    all_path = os.path.join(out_dir, "extracted_all")
    if not os.path.isdir(all_path):
        return 0

    def _pass_key(d: str):
        try:
            return int(d.split("=", 1)[1])
        except (IndexError, ValueError):
            return 1 << 62

    orphans = []
    for run_dir in sorted(os.listdir(all_path)):
        run_path = os.path.join(all_path, run_dir)
        if not (run_dir.startswith("run_id=") and os.path.isdir(run_path)):
            continue
        # numeric pass order: lexicographic would fold pass_num=10
        # before pass_num=2, re-ordering the attempts
        for pass_dir in sorted(os.listdir(run_path), key=_pass_key):
            pass_path = os.path.join(run_path, pass_dir)
            if (pass_dir.startswith("pass_num=") and os.path.isdir(pass_path)
                    and not os.path.exists(os.path.join(pass_path, _MERGED))):
                orphans.append(pass_path)
    if orphans:
        with duckdb_connect(temp_dir) as con:
            con.execute("SET TimeZone = 'UTC'")
            _commit_passes(spark, store, con, out_dir, orphans, JobResult())
    return len(orphans)


class JobResult:
    def __init__(self) -> None:
        self.passes = 0
        self.extracted_rows = 0
        self.success_rows = 0
        self.failed_rows = 0
        self.wall_sec = 0.0
        # per-phase wall seconds summed over passes (overhead forensics)
        self.phase_secs: dict[str, float] = {}

    def _phase(self, name: str, t0: float) -> float:
        now = time.perf_counter()
        self.phase_secs[name] = round(
            self.phase_secs.get(name, 0.0) + (now - t0), 3
        )
        return now

    @property
    def docs_per_sec(self) -> float:
        return self.extracted_rows / self.wall_sec if self.wall_sec else 0.0


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    max_retries: int = 3,
    n_partitions: int | None = None,
    run_id: str | None = None,
    track_inflight: bool = False,
    n_buckets: int = 16,
    store=None,
) -> JobResult:
    """Run extraction to completion (every key success or dead).

    A key gets at most ``max_retries`` attempts, all inside the one kernel
    job; attempt k of this call lands in pass dir ``base_pass + k``.

    Layout under ``out_dir``:
      extracted_all/  — ALL kernel output, one pass dir per attempt, under
                        run_id=R/pass_num=N/is_ok=… hive paths; pass dirs
                        are immutable once promoted and carry a _MERGED
                        marker once their keys are in the checkpoint
      _staging/       — the call's one write, attempt=k/is_ok=… (each
                        attempt dir atomic-renamed into extracted_all;
                        leftovers of a crashed call wiped on job start),
                        and the lineage/failure-log DuckDB spill files
      checkpoint/     — snapshot store (atomic pointer swap); the call's
                        one merge flip records its pass dirs as the
                        manifest's commit (the merge spills into a
                        _duckdb-* temp dir here, removed as it ends)
      lineage/        — per-partition metrics, append-only, one file per
                        call's pass dirs (rewritten, not doubled, when a
                        crashed call's tail is finished by the next call)
      failures/       — typed failure rows, append-only, one file per
                        call as lineage (reference: failure_logs,
                        src/database.py:101-125)
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    # store injection: the config's checkpoint.backend=iceberg path passes
    # an IcebergCheckpointStore here (same narrow surface)
    store = store or ParquetCheckpointStore(
        os.path.join(out_dir, "checkpoint"),
        max_retries=max_retries,
        n_buckets=n_buckets,
    )
    all_path = os.path.join(out_dir, "extracted_all")
    staging_root = os.path.join(out_dir, "_staging")

    result = JobResult()
    t_start = time.perf_counter()
    # crash recovery: drop half-written staging dirs (never promoted, never
    # visible to readers), then finish the tail of promoted-but-unstamped
    # passes: logged once, folded into the checkpoint so the frontier
    # excludes them (no re-extraction, no duplicate keys under two run_ids)
    shutil.rmtree(staging_root, ignore_errors=True)
    # the tail's DuckDB spills here: wiped with the rest of the call's
    # staging, whatever the working directory
    duck_tmp = os.path.join(staging_root, "_duckdb")
    _reconcile_orphans(spark, store, out_dir, duck_tmp)
    # a fixed-run_id rerun continues pass numbering after any passes the
    # previous attempt already promoted — pass dirs are immutable once
    # promoted, so a retry pass must never reuse (and replace) their paths
    run_path = os.path.join(all_path, f"run_id={run_id}")
    existing = [
        int(d.split("=", 1)[1])
        for d in (os.listdir(run_path) if os.path.isdir(run_path) else [])
        if d.startswith("pass_num=")
    ]
    base_pass = max(existing) + 1 if existing else 0
    # ONE read of the checkpoint: the pending rows with their prior
    # attempts. Its snapshot files are bound here, before mark_running
    # flips the manifest.
    frontier = store.frontier(pages)
    if track_inflight:
        # inflight visibility (reference: src/prefect_state.py:335-346);
        # costs one snapshot rewrite per run, so opt-in. Key columns
        # only — the blob never enters the checkpoint job.
        store.mark_running(frontier.select("url", "warc_ts"))
    # each key's attempts this run: what a pass-per-attempt loop would give
    # it — up to max_retries, cut short once the store dead-letters it
    # (store.max_retries counting prior attempts), but at least one while
    # max_retries allows any. Kernels are deterministic, so a retry of the
    # same bytes fails identically: a failed row's re-attempts cost only
    # its own parse, in the task that failed it. Task-level faults (a lost
    # executor or worker) are Spark's task retry.
    budget = F.least(
        F.lit(max_retries),
        F.greatest(F.lit(1), store.max_retries - F.col("_prior")),
    )
    # --- the one bulk job: kernel (every attempt) + one partitioned write.
    # Staged OUTSIDE extracted_all; each attempt=k dir is promoted by
    # atomic rename to pass_num=base_pass+k. An empty frontier writes no
    # attempt dir, so nothing is promoted and no prior pass dir is touched.
    tmp_path = os.path.join(staging_root, f"{run_id}-{uuid.uuid4().hex[:8]}")
    t_ph = time.perf_counter()
    (
        extract_attempts(frontier, budget, n_partitions=n_partitions)
        .withColumn("is_ok", F.col("error_type").isNull())
        .write.mode("overwrite")
        .partitionBy("attempt", "is_ok")
        .parquet(tmp_path)
    )
    t_ph = result._phase("extract_write", t_ph)
    attempts = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(tmp_path) if d.startswith("attempt=")
    )
    # promote each attempt dir, in order: atomic rename into the readable
    # layout. Pass dirs are immutable once promoted (base_pass skips
    # existing ones; reconcile finished any unstamped ones), so the target
    # cannot exist — os.rename fails loudly rather than ever replacing
    # extracted data. The write committed every attempt dir at once; each
    # keeps a _SUCCESS marker as a pass dir always had.
    paths = []
    for k in attempts:
        att_path = os.path.join(tmp_path, f"attempt={k}")
        final_path = os.path.join(run_path, f"pass_num={base_pass + k}")
        _touch(os.path.join(att_path, "_SUCCESS"))
        os.makedirs(run_path, exist_ok=True)
        os.rename(att_path, final_path)
        paths.append(final_path)
    if paths:  # an empty frontier staged nothing: no tail to run
        t_ph = result._phase("promote", t_ph)
        with duckdb_connect(duck_tmp) as con:
            # a naive staged timestamp (INT96-written input) is UTC, as
            # Spark's session timeZone wrote it
            con.execute("SET TimeZone = 'UTC'")
            counts = _commit_passes(spark, store, con, out_dir, paths, result)
        for n_total, n_bad in counts.values():
            result.passes += 1
            result.extracted_rows += n_total
            result.success_rows += n_total - n_bad
            result.failed_rows += n_bad
    shutil.rmtree(staging_root, ignore_errors=True)
    store.vacuum()
    result.wall_sec = time.perf_counter() - t_start
    return result


def with_prev_context(extracted: DataFrame, tail_chars: int = 500) -> DataFrame:
    """W3: carry the previous page's text tail into each row.

    The reference injects the previous page's tail + trailing context into
    the next page's processing (reference: src/batch_builder.py:90-109,
    src/models.py:101-130). With a pure extractor this collapses to ONE
    lag() window over the extracted output (SURVEY §3.4): partition by the
    url host (the book/site analog), order by (warc_ts, url). Adds
    ``domain`` and ``prev_context`` (null for each domain's first page).

    Scale: the window shuffles by domain — hot domains are bounded by the
    window being a streaming frame (no buffering beyond one row of state
    per partition in the lag frame); a corpus-dominating single domain
    would warrant a composite key (domain, path-prefix) instead.

    Relative/malformed URLs parse to a NULL host; left as-is they would
    all collapse into ONE window partition (skew) and chain prev_context
    across unrelated documents — so domain falls back to the full url,
    making each null-host row its own single-row partition (prev_context
    stays NULL, matching "first page of its site" semantics).
    """
    w = Window.partitionBy("domain").orderBy("warc_ts", "url")
    return (
        extracted.withColumn(
            "domain",
            # try_parse_url: ANSI parse_url throws on malformed urls
            F.coalesce(
                F.try_parse_url(F.col("url"), F.lit("HOST")), F.col("url")
            ),
        ).withColumn(
            "prev_context",
            F.lag(F.expr(f"right(extracted_text, {int(tail_chars)})")).over(w),
        )
    )


def read_extracted_with_context(
    spark: SparkSession, out_dir: str, tail_chars: int = 500
) -> DataFrame:
    """The success-only extracted view + W3 cross-page context column."""
    return with_prev_context(read_extracted(spark, out_dir), tail_chars)


def apply_input_filters(pages: DataFrame, filters) -> DataFrame:
    """Config-driven input pre-filters (config.FiltersConfig): membership
    on ``lang`` (P1) + date range on ``warc_ts`` (P2) — the analog of the
    reference's target_states/target_years scan filters (reference:
    src/scanner.py:60-77) — plus the r6 URL/domain blocklist (broadcast
    anti-join + literal pattern predicate; operators/blocklist.py).
    The column predicates push down to the parquet scan; the blocklist
    probes add no shuffle on the pages side."""
    if filters is None:
        return pages
    out = pages
    if getattr(filters, "langs", None):
        member = F.col("lang").isin(list(filters.langs))
        if getattr(filters, "keep_unknown_lang", True):
            # WARC-sourced pages have lang=NULL (no tag in the capture);
            # NULL never satisfies isin(), so strict membership would
            # silently extract nothing from a crawl segment.
            member = member | F.col("lang").isNull()
        out = out.filter(member)
    window = getattr(filters, "crawl_window", None)
    if window is not None:
        out = out.filter(
            (F.col("warc_ts") >= F.lit(window.start.isoformat()))
            & (
                F.col("warc_ts")
                < F.date_add(F.lit(window.end.isoformat()), 1)
            )
        )
    blocklist_path = getattr(filters, "blocklist_path", None)
    url_patterns = getattr(filters, "url_patterns", None)
    if blocklist_path or url_patterns:
        from gemini_ocr_batch_spark.operators.blocklist import (
            blocklist_filter,
        )

        domains = None
        if blocklist_path:
            domains = (
                pages.sparkSession.read.text(blocklist_path)
                .select(F.col("value").alias("domain"))
                .filter(~F.col("domain").startswith("#"))
            )
        out = blocklist_filter(
            out, domains, patterns=list(url_patterns or ())
        )
    robots_path = getattr(filters, "robots_path", None)
    if robots_path:
        from gemini_ocr_batch_spark.operators.blocklist import robots_filter

        out = robots_filter(
            out, pages.sparkSession.read.parquet(robots_path)
        )
    return out


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """The success-only extracted view: partition-pruned on is_ok=true."""
    return (
        spark.read.parquet(os.path.join(out_dir, "extracted_all"))
        # partition discovery types is_ok as a string ("true"/"false")
        .filter(F.col("is_ok") == "true")
        .select(*EXTRACTED_USER_COLUMNS)
    )
