"""Resumable checkpoint store — the analog of the reference's
``SQLiteStateStore`` (reference: src/prefect_state.py:19-282, five SQLite
tables) collapsed into one keyed status table with MERGE semantics.

Two backends behind one narrow API, exactly the reference's store-protocol
duality (reference: src/prefect_state.py:285-346 swaps SQLite for an
in-memory store behind the same interface):

- ``ParquetCheckpointStore`` (sandbox + any vanilla Spark): snapshots are
  hive-partitioned by ``bucket = h60(url) % B`` (60-bit md5 prefix — NOT
  xxhash64: md5 is the one hash the driver, DuckDB, and the JVM all
  reproduce bit-identically, which is what makes the driver-side DuckDB
  merge possible) and the atomically replaced ``_CURRENT`` pointer is a
  JSON *manifest* mapping each bucket to the snapshot version that last
  rewrote it. A MERGE therefore reads and rewrites ONLY the buckets
  containing delta keys — O(|delta| + touched buckets), never
  O(|checkpoint|). At 10^12 keys with B=4096, a pass that
  touches 1% of the key space rewrites ~41 buckets' files, not the whole
  table. Readers always see a complete snapshot (the manifest swap is
  atomic); a crashed writer leaves only unreferenced version dirs. The
  manifest is also the job's commit record: the flip that merges a call's
  pass dirs lists them under ``"commit"``, so a crash between that flip and
  the pass dirs' ``_MERGED`` stamps is recognized instead of replayed.

- Iceberg (cluster runtimes with the jar): the same ``merge`` surface maps
  to ``MERGE INTO checkpoint t USING delta s ON t.url=s.url AND
  t.warc_ts=s.warc_ts WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN
  INSERT ...`` — gated behind an import/catalog check since no Iceberg jar
  ships in this sandbox. Its bucket(256, url) partitioning is the exact
  twin of the manifest scheme here. It records no commit, so reconcile
  replays any pass dir left unstamped.

The state transitions are written once, as SQL expression text
(``result_transition_sql``, ``running_transition_sql``). Each store has one
write engine for them: the Parquet store's DuckDB ``COPY`` and the Iceberg
store's Spark ``MERGE INTO`` (its ``UPDATE SET``/``INSERT VALUES``
clauses). Both take a call's pass dirs through one ``merge_passes(paths,
commit)``, which first folds each key's rows to one delta row
(``FOLD_SQL``), so a call's attempts land in one merge.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.schemas import (
    CHECKPOINT_SCHEMA,
    STATUS_DEAD,
    STATUS_FAILED,
    STATUS_PENDING,
    STATUS_RUNNING,
    STATUS_SUCCESS,
)

_CURRENT = "_CURRENT"
_UNSET = object()  # sentinel: flip without a CAS check

KEY = ["url", "warc_ts"]


class CheckpointConflict(RuntimeError):
    """Another writer advanced the checkpoint mid-merge (lost-update guard)."""


def _sql_str(path: str) -> str:
    """A filesystem path as a DuckDB single-quoted string literal.

    read_parquet list args and COPY ... TO targets cannot be bound as
    prepared-statement parameters, so paths are interpolated — doubling
    embedded quotes keeps a path like ``/data/o'brien`` from producing
    malformed SQL.
    """
    return "'" + path.replace("'", "''") + "'"


# share of the driver's memory one driver-side DuckDB connection may hold;
# the rest stays with the Spark JVM and its Python workers beside it
# (DuckDB's own default is 80% of host RAM)
DUCKDB_RAM_SHARE = 0.25


def _memory_bytes() -> int:
    """The host's RAM, or the process's cgroup memory limit when that is
    smaller (cgroup v2 ``memory.max``, else v1 ``memory.limit_in_bytes``)."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for f in ("/sys/fs/cgroup/memory.max",
              "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(f, encoding="ascii") as fh:
                return min(ram, int(fh.read().strip()))
        except (OSError, ValueError):  # absent, or "max" (no limit)
            continue
    return ram


def duckdb_connect(temp_dir: str):
    """A DuckDB connection for the job's commit tail: it spills into
    ``temp_dir`` (not ``.tmp`` under the working directory) and holds at
    most ``DUCKDB_RAM_SHARE`` of the host's RAM or of the cgroup's memory
    limit, whichever is smaller."""
    import duckdb

    return duckdb.connect(config={
        "temp_directory": temp_dir,
        "memory_limit":
            f"{int(_memory_bytes() * DUCKDB_RAM_SHARE) // 2**20}MB",
    })


def _bucket_col(n_buckets: int):
    """bucket = (60-bit md5 prefix of url) % B.

    md5 instead of xxhash64 so the driver (``bucket_of``) and DuckDB
    (``_duck_bucket``) compute the identical bucket: ``overwrite`` writes
    buckets here and every merge rewrites them through DuckDB. Plays the
    same role as the Iceberg twin's bucket(B, url) transform.
    """
    from gemini_ocr_batch_spark.functions.hashing import h60

    return F.pmod(h60(F.col("url")), F.lit(n_buckets)).cast("int")


def bucket_of(url: str, n_buckets: int) -> int:
    """Driver-side twin of ``_bucket_col`` (hashlib md5 == Spark md5)."""
    import hashlib

    return int(hashlib.md5(url.encode("utf-8")).hexdigest()[:15], 16) % n_buckets


def _duck_bucket(url_sql: str, n_buckets: int) -> str:
    """The DuckDB twin of ``_bucket_col``'s h60(url) % B."""
    return (f"(('0x' || substr(md5({url_sql}), 1, 15))::BIGINT"
            f" % {n_buckets})::INT")


# A merge's rows (url, warc_ts, error_type, attempt) folded to one delta row
# per key: ``n`` attempts, ``ok`` = the last attempt succeeded, ``err`` = the
# last non-NULL error. Not max_by(error_type, attempt): on a NULL value
# DuckDB skips the row where Spark returns NULL; with the ordering NULL
# wherever the error is, both engines skip it.
FOLD_SQL = {
    "n": "count(*)",
    "ok": "coalesce(max(CASE WHEN error_type IS NULL THEN attempt END)"
          " = max(attempt), false)",
    "err": "max_by(error_type, CASE WHEN error_type IS NOT NULL"
           " THEN attempt END)",
}


def fold_sql(rows: str) -> str:
    """SELECT of ``FOLD_SQL`` over the relation ``rows``."""
    fold = ", ".join(f"{e} AS {c}" for c, e in FOLD_SQL.items())
    return f"SELECT url, warc_ts, {fold} FROM {rows} GROUP BY url, warc_ts"


def _ref(alias: str | None):
    """Column reference builder: ``alias.col``, or NULL when no row exists
    (a fresh store, an Iceberg INSERT)."""
    return (lambda c: f"{alias}.{c}") if alias else (lambda c: "NULL")


def result_transition_sql(old: str | None, new: str,
                          max_retries: int) -> dict[str, str]:
    """THE result transition: SQL text per non-key checkpoint column.

    ``new`` aliases a folded delta row (``FOLD_SQL``; NULL ``n`` = key not
    in the delta, old row kept); ``old`` aliases the checkpoint row, or is
    None where there is none. Analog of the reference's close-batch +
    increment-failure-counts transitions (reference:
    src/prefect_state.py:111-155,176-199): a call's last attempt decides —
    success, else dead once attempts reach ``max_retries`` (dead-letter
    predicate, reference: src/scanner.py:87-88), else failed. Equal to one
    merge per attempt: that sequence's result depends only on the last
    row, the attempt count and the last error.
    """
    o = _ref(old)
    prior = f"coalesce({o('attempts')}, 0)"
    return {
        "status": f"CASE WHEN {new}.n IS NULL THEN {o('status')}"
                  f" WHEN {new}.ok THEN '{STATUS_SUCCESS}'"
                  f" WHEN {prior} + {new}.n >= {int(max_retries)}"
                  f" THEN '{STATUS_DEAD}' ELSE '{STATUS_FAILED}' END",
        "attempts": f"CAST({prior} + coalesce({new}.n, 0) AS INT)",
        "last_error": f"coalesce({new}.err, {o('last_error')})",
        "updated_at": f"CASE WHEN {new}.n IS NULL THEN {o('updated_at')}"
                      " ELSE current_timestamp END",
    }


def running_transition_sql(old: str | None, new: str) -> dict[str, str]:
    """The inflight stamp, same shape as ``result_transition_sql``: a key
    in the running delta ``new`` (NULL url = not in it) becomes running
    unless it is already success/dead, which never transition."""
    o = _ref(old)
    keep = (f"{new}.url IS NULL OR coalesce({o('status')}, "
            f"'{STATUS_PENDING}') IN ('{STATUS_SUCCESS}', '{STATUS_DEAD}')")
    return {
        "status": f"CASE WHEN {keep} THEN {o('status')}"
                  f" ELSE '{STATUS_RUNNING}' END",
        "attempts": f"CAST(coalesce({o('attempts')}, 0) AS INT)",
        "last_error": o("last_error"),
        "updated_at": f"CASE WHEN {keep} THEN {o('updated_at')}"
                      " ELSE current_timestamp END",
    }


# DuckDB types of the transition columns, as the checkpoint's parquet
# holds them (a fresh store's running stamp has a bare NULL last_error)
_DUCK_TYPES = {"status": "VARCHAR", "attempts": "INTEGER",
               "last_error": "VARCHAR", "updated_at": "TIMESTAMPTZ"}


def _pass_rows_sql(paths: list[str], cols: str) -> str:
    """DuckDB UNION ALL of ``cols`` plus ``attempt`` (the dir's index) over
    each dir's parquet files, or "" when none has a data file. Dirs are
    probed for files, not read and caught: a real IO failure propagates."""
    import glob as globmod

    return " UNION ALL ".join(
        f"SELECT {cols}, {i} AS attempt FROM read_parquet({_sql_str(g)})"
        for i, g in enumerate(os.path.join(p, "**", "*.parquet")
                              for p in paths)
        if globmod.glob(g, recursive=True)
    )


def _open_frontier(pages: DataFrame, checkpoint: DataFrame) -> DataFrame:
    """pages ⟕ checkpoint(url, warc_ts, status, attempts), keeping the rows
    whose key is absent or not success/dead, with ``_prior`` = their
    attempts (0 when absent). Only the key, status and attempts columns of
    the checkpoint are read; the blob never enters the join's build side."""
    ck = checkpoint.select(*KEY, F.col("status").alias("_status"),
                           F.col("attempts").alias("_attempts"))
    return (
        pages.join(ck, on=KEY, how="left")
        .filter(F.col("_status").isNull()
                | ~F.col("_status").isin(STATUS_SUCCESS, STATUS_DEAD))
        .select(*pages.columns,
                F.coalesce(F.col("_attempts"), F.lit(0)).alias("_prior"))
    )


class ParquetCheckpointStore:
    """Bucket-manifest checkpoint over plain Parquet.

    Layout::

        root/
          _CURRENT                 # JSON {"n_buckets": B, "buckets":
                                   #       {"0": "v_00000003_ab12cd34", ...},
                                   #  "commit": ["run_id=R/pass_num=0", ...]}
          v_00000001_…/bucket=0/…  # hive-partitioned snapshot fragments
          v_00000003_…/bucket=7/…  # (a version dir holds only the buckets
                                   #  that its merge rewrote)

    Commit record: a flip made by ``merge_passes(..., commit=…)`` — the
    job's one merge per call, and reconcile's — lists the pass dirs it
    merged under ``"commit"``; every other flip (``mark_running``,
    ``overwrite``, a merge without ``commit``) writes none, and a manifest
    without the key reads as an empty commit (``last_commit``). The job
    stamps ``_MERGED`` into those dirs only after the flip, so with a
    single writer only the current manifest's commit can name unstamped
    dirs: reconcile stamps those and merges the rest, and no attempt is
    counted twice.

    Concurrency contract: SINGLE WRITER. The store does not serialize
    concurrent merges — it *fences* them: every merge records the manifest
    it read, and the pointer flip is a compare-and-swap that raises
    :class:`CheckpointConflict` if another writer flipped first (even for
    disjoint buckets — stricter than necessary, but never a lost update).
    The losing merge's version dir is left unreferenced (GC'd by vacuum)
    and no delta is silently dropped — the caller retries from the new
    base. (The reference serializes writers in SQLite instead,
    reference: src/database.py:128-145.)
    """

    # target rows per bucket file when sizing a new store: keeps a bucket
    # rewrite (read + full rewrite of touched buckets) around a few hundred
    # MB of parquet — small enough to merge driver-side or in one task,
    # large enough that the manifest stays a tiny JSON map.
    ROWS_PER_BUCKET = 250_000_000

    @classmethod
    def recommended_buckets(cls, expected_keys: int) -> int:
        """Power-of-two bucket count for an expected key population.

        The sandbox default (B=16) is sized for test corpora; a real
        deployment sizes B ONCE at store creation from the expected corpus
        (the manifest then owns the value for the store's lifetime — the
        md5-bucket assignment is stable, so B cannot change without a full
        rewrite). At 10^12 keys this yields B=4096: each merge rewrites
        only O(touched) of those, so merge cost tracks the delta size, not
        the corpus.
        """
        b = 1
        while b * cls.ROWS_PER_BUCKET < expected_keys and b < (1 << 20):
            b *= 2
        return b

    def __init__(self, root: str, max_retries: int = 3,
                 n_buckets: int = 16) -> None:
        self.root = root
        self.max_retries = max_retries
        # manifest's value wins once the store exists (layout authority)
        m = None
        try:
            m = self._manifest()
        except FileNotFoundError:
            pass
        self.n_buckets = m["n_buckets"] if m else n_buckets
        os.makedirs(root, exist_ok=True)

    # -- manifest bookkeeping -------------------------------------------------
    def _manifest(self) -> dict | None:
        """The current manifest, or None for a fresh store."""
        ptr = os.path.join(self.root, _CURRENT)
        if not os.path.exists(ptr):
            return None
        with open(ptr, encoding="utf-8") as f:
            raw = f.read().strip()
        if not raw:
            return None
        return json.loads(raw)

    @staticmethod
    def _acquire_lock(lock: str) -> int:
        """Exclusive flock on a PERSISTENT lock file.

        flock is the crash-safe primitive here: the kernel releases the
        lock the instant the holder dies, so a killed writer can never
        brick the store, and there is no stale-lock "breaking" logic to
        race (an unlink-based O_EXCL scheme has an unfixable TOCTOU where
        two recoverers both break and both enter the critical section).
        The lock file is created once and NEVER unlinked — unlinking would
        let a late opener lock the orphaned inode while a fresh writer
        locks the new one. Advisory + same-host scope matches the store's
        local-fs contract (the Iceberg backend owns cluster concurrency).
        """
        import fcntl

        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        for _ in range(500):  # the critical section is microseconds
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return fd
            except BlockingIOError:
                time.sleep(0.005)
        os.close(fd)
        raise CheckpointConflict(
            f"could not acquire {lock} after 2.5s; holder appears alive"
        )

    def _flip(self, manifest: dict, expect=_UNSET) -> None:
        """Atomically replace the manifest.

        With ``expect`` set (a manifest dict or None-for-fresh), this is a
        compare-and-swap under a short-lived exclusive lock file: if the
        manifest no longer equals ``expect``, raise CheckpointConflict
        instead of silently discarding the other writer's merge.
        """
        ptr = os.path.join(self.root, _CURRENT)
        lock = ptr + ".lock"
        fd = self._acquire_lock(lock)
        try:
            if expect is not _UNSET and self._manifest() != expect:
                raise CheckpointConflict(
                    "checkpoint advanced during merge; re-read and retry"
                )
            tmp = ptr + f".tmp.{os.getpid()}"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(manifest, f, sort_keys=True)
            os.replace(tmp, ptr)  # atomic on POSIX
        finally:
            os.close(fd)  # releases the flock; the lock FILE persists
            # (never unlink it — see _acquire_lock)

    def _next_version(self) -> str:
        ordinals = [0]
        for d in os.listdir(self.root):
            if d.startswith("v_"):
                try:
                    ordinals.append(int(d.split("_")[1]))
                except (IndexError, ValueError):
                    pass
        # uuid suffix: concurrent writers racing to the same ordinal write
        # distinct snapshot dirs — the loser's is unreferenced, never a
        # half-clobbered winner
        return f"v_{max(ordinals) + 1:08d}_{uuid.uuid4().hex[:8]}"

    def _bucket_paths(self, manifest: dict,
                      buckets=None) -> list[str]:
        """Physical paths for the given buckets (default: all mapped)."""
        mapping = manifest["buckets"]
        keys = (
            sorted(mapping, key=int)
            if buckets is None
            else [str(b) for b in buckets if str(b) in mapping]
        )
        return [
            os.path.join(self.root, mapping[k], f"bucket={k}") for k in keys
        ]

    def vacuum(self, keep: int = 2) -> None:
        """Drop version dirs no manifest bucket references, keeping the
        newest ``keep`` regardless (grace for concurrent readers holding an
        older manifest). GC only — safe anytime."""
        manifest = self._manifest()
        referenced = set(manifest["buckets"].values()) if manifest else set()
        versions = sorted(
            d for d in os.listdir(self.root) if d.startswith("v_")
        )
        for d in versions[:-keep] if keep else versions:
            if d not in referenced:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)

    # -- internals --------------------------------------------------------------
    def _read_buckets(self, spark: SparkSession, manifest: dict,
                      buckets=None) -> DataFrame:
        paths = self._bucket_paths(manifest, buckets)
        if not paths:
            return spark.createDataFrame([], CHECKPOINT_SCHEMA)
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(*paths)

    def _write_version(self, snapshot: DataFrame, n_partitions: int) -> str:
        """Write rows (with a ``bucket`` column) as one new version dir;
        returns the version name. Not yet referenced by any manifest."""
        version = self._next_version()
        out = os.path.join(self.root, version)
        (
            snapshot.repartition(max(1, n_partitions), "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out)
        )
        return version

    def _written_buckets(self, version: str) -> list[str]:
        out = os.path.join(self.root, version)
        return sorted(
            (d.split("=", 1)[1] for d in os.listdir(out)
             if d.startswith("bucket=")),
            key=int,
        )

    # -- relational surface ----------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        manifest = self._manifest()
        if manifest is None:
            return spark.createDataFrame([], CHECKPOINT_SCHEMA)
        return self._read_buckets(spark, manifest)

    def pending(self, pages: DataFrame) -> DataFrame:
        """The core resume query (north_rule: "idempotent resume via
        anti-join of pending vs completed").

        Declaratively the reference's scan_runnable_pages pending-set
        (reference: src/scanner.py:84-91 — drop completed, drop inflight,
        drop dead-lettered): pages ⟕̸ checkpoint[status ∈ {success, dead}].
        Key-only anti-join — the blob column never enters the join.
        """
        # fresh store: no join at all — an empty LocalRelation build side
        # has no stats, and a statically-planned SMJ would shuffle the
        # entire blob table for nothing
        manifest = self._manifest()
        if manifest is None or not manifest["buckets"]:
            return pages
        done = self._read_buckets(pages.sparkSession, manifest).filter(
            F.col("status").isin(STATUS_SUCCESS, STATUS_DEAD)
        ).select(*KEY)
        # join strategy is Catalyst's call: a small parquet snapshot has
        # stats and broadcasts automatically (autoBroadcastJoinThreshold);
        # at 10^9+ keys the done set is NOT broadcastable and must become a
        # sort-merge join on the bucketed key — forcing F.broadcast here
        # would OOM the driver
        return pages.join(done, on=KEY, how="left_anti")

    def frontier(self, pages: DataFrame) -> DataFrame:
        """``pending(pages)`` plus each row's prior attempts, from ONE read
        of the checkpoint: the job's resume query.

        One left join of the pages against the checkpoint's (url, warc_ts,
        status, attempts) keeps the rows whose status is absent or neither
        success nor dead (the rows ``pending`` keeps) and carries ``_prior``
        = their checkpoint attempts, else 0. Catalyst picks the join like
        ``pending``'s: a broadcast of a small snapshot, a sort-merge join at
        10^9+ keys (one shuffle of the pages, not one per join). A fresh
        store plans no join: ``_prior`` is 0.
        """
        manifest = self._manifest()
        if manifest is None or not manifest["buckets"]:
            return pages.select("*", F.lit(0).alias("_prior"))
        return _open_frontier(
            pages, self._read_buckets(pages.sparkSession, manifest))

    def _flip_version(self, version: str, base: dict | None, expect,
                      commit: list[str] | None = None) -> None:
        """Flip to a manifest mapping ``version``'s buckets over ``base``'s
        (None: over nothing), recording ``commit`` when given."""
        mapping = dict(base["buckets"]) if base else {}
        for b in self._written_buckets(version):
            mapping[b] = version
        manifest = {"n_buckets": self.n_buckets, "buckets": mapping}
        if commit is not None:
            manifest["commit"] = list(commit)
        self._flip(manifest, expect=expect)

    def last_commit(self) -> list[str]:
        """The pass dirs the current manifest's flip merged (empty when
        the last flip was not a job's merge, or for an older manifest)."""
        return (self._manifest() or {}).get("commit", [])

    def _merge_copy(self, rows_sql: str, delta, transition,
                    commit: list[str] | None = None) -> None:
        """The one write of every merge: ``delta(rows)`` (one row per key
        of the input rows ``rows_sql``, aliased ``d``) full-outer-joined
        with the snapshot rows of the buckets those keys fall in,
        ``transition(old_alias)`` applied, the touched bucket files
        written by ONE DuckDB ``COPY`` and the manifest CAS-flipped,
        recording ``commit`` when given. Every other bucket keeps its
        manifest entry: O(|delta| + touched buckets), never
        O(|checkpoint|). No input rows flip nothing. The connection
        (``duckdb_connect``) spills into a temp dir under the store root,
        removed when the merge ends."""
        if not rows_sql:
            return
        base = self._manifest()  # CAS base (lost-update guard)
        n_b = self.n_buckets
        version = self._next_version()
        with (tempfile.TemporaryDirectory(prefix="_duckdb-",
                                          dir=self.root) as spill,
              duckdb_connect(spill) as con):
            old_paths = []
            if base and base["buckets"]:
                # a fresh store skips this pre-scan: it would re-read every
                # input url only to look up paths in an empty mapping
                touched = sorted(
                    r[0] for r in con.execute(
                        f"SELECT DISTINCT {_duck_bucket('url', n_b)} "
                        f"FROM ({rows_sql})"
                    ).fetchall()
                )
                if not touched:
                    return
                old_paths = self._bucket_paths(base, touched)
            if old_paths:
                globs = ", ".join(
                    _sql_str(os.path.join(p, "*.parquet")) for p in old_paths
                )
                source = (f"read_parquet([{globs}]) o FULL OUTER JOIN delta d"
                          " ON o.url = d.url AND o.warc_ts = d.warc_ts")
                old = "o"
            else:
                source, old = "delta d", None
            key_sql = {
                k: f"coalesce(o.{k}, d.{k})" if old else f"d.{k}"
                for k in KEY
            }
            cols = ", ".join(
                [f"{e} AS {c}" for c, e in key_sql.items()]
                + [f"CAST({e} AS {_DUCK_TYPES[c]}) AS {c}"
                   for c, e in transition(old).items()]
            )
            con.execute(
                f"""
                COPY (
                  WITH delta AS ({delta(f"({rows_sql})")})
                  SELECT {cols}, {_duck_bucket(key_sql['url'], n_b)} AS bucket
                  FROM {source}
                ) TO {_sql_str(os.path.join(self.root, version))}
                (FORMAT PARQUET, PARTITION_BY (bucket),
                 OVERWRITE_OR_IGNORE true)
                """
            )
        if not self._written_buckets(version):
            os.rmdir(os.path.join(self.root, version))
            return
        self._flip_version(version, base, base, commit)

    def merge_passes(self, paths: list[str],
                     commit: list[str] | None = None) -> None:
        """ONE merge of staged pass dirs ``paths``, in attempt order:
        DuckDB reads (url, warc_ts, error_type) straight from their
        parquet, each row's attempt being its dir's index, folds them per
        key (``FOLD_SQL``) and applies ``result_transition_sql``
        (``_merge_copy``). No Spark job, and the scan streams, so it runs
        at every call size. ``commit`` names the pass dirs this flip
        records as merged (the job's commit record). A dir without data
        files adds no rows."""
        if missing := [p for p in paths if not os.path.isdir(p)]:
            raise FileNotFoundError(f"no pass dir at {missing}")
        self._merge_copy(
            _pass_rows_sql(paths, "url, warc_ts, error_type"), fold_sql,
            lambda old: result_transition_sql(old, "d", self.max_retries),
            commit,
        )

    def mark_running(self, keys: DataFrame) -> None:
        """Stamp frontier keys as inflight (status=running) at pass start.

        Visibility analog of the reference's inflight marking (reference:
        src/prefect_state.py:335-346): a second operator/monitor can see
        which keys a live run owns. Deliberately WITHOUT lease semantics —
        ``pending`` still returns running keys, so a crashed run never
        strands work; the next ``merge_passes`` transitions them to
        success/failed/dead. ONE Spark write puts the key columns in a
        temp dir under the store root (removed when the stamp ends), then
        the merge's ``COPY`` applies ``running_transition_sql``: bucket-
        pruned like every merge, and no keys flip nothing. Opt-in from the
        job (track_inflight=True).
        """
        with tempfile.TemporaryDirectory(prefix="_running-",
                                         dir=self.root) as tmp:
            staged = os.path.join(tmp, "keys")
            keys.select(*KEY).write.parquet(staged)
            self._merge_copy(
                _pass_rows_sql([staged], "url, warc_ts"),
                lambda rows: f"SELECT DISTINCT url, warc_ts FROM {rows}",
                lambda old: running_transition_sql(old, "d"),
            )

    def overwrite(self, snapshot: DataFrame, expect=_UNSET) -> None:
        """Full-snapshot replace (admin surface: rollback, clear, tests)."""
        bucketed = snapshot.withColumn("bucket", _bucket_col(self.n_buckets))
        version = self._write_version(bucketed, self.n_buckets)
        self._flip_version(version, None, expect)

    def dead_letters(self, spark: SparkSession) -> DataFrame:
        """Keys retired after max_retries (reference: src/scanner.py:87-88)."""
        return self.read(spark).filter(F.col("status") == STATUS_DEAD)

    def counts_by_status(self, spark: SparkSession) -> DataFrame:
        return (
            self.read(spark)
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("status")
        )


def iceberg_available(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
    """True when an Iceberg catalog is on the classpath+conf."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    return impl is not None and "iceberg" in str(impl).lower()


class IcebergCheckpointStore:
    """Iceberg backend: the same narrow API over a real MERGE INTO.

    This is the cluster-scale path named by the north_rule ("Iceberg
    checkpoint table keyed by (url, warc_ts)"): snapshot-isolated commits,
    no directory-swap dance, and the MERGE rewrites only the data files
    containing matched keys (bucket the table by url so those are few).
    No Iceberg jar ships in this sandbox, so construction raises unless
    ``iceberg_available`` — the Parquet store is the drop-in twin
    (reference analog: the SQLite/in-memory store duality,
    src/prefect_state.py:19 vs :285).
    """

    def __init__(self, spark: SparkSession, table: str,
                 max_retries: int = 3) -> None:
        if not iceberg_available(spark):
            raise RuntimeError(
                "no Iceberg catalog configured; use ParquetCheckpointStore"
            )
        self.spark = spark
        self.table = table
        self.max_retries = max_retries
        spark.sql(create_table_sql(table))

    def read(self, spark: SparkSession | None = None) -> DataFrame:
        return self.spark.read.table(self.table)

    def pending(self, pages: DataFrame) -> DataFrame:
        done = self.read().filter(
            F.col("status").isin(STATUS_SUCCESS, STATUS_DEAD)
        ).select(*KEY)
        return pages.join(done, on=KEY, how="left_anti")

    def frontier(self, pages: DataFrame) -> DataFrame:
        """``pending`` plus ``_prior`` in one left join (see the Parquet
        store's ``frontier``)."""
        return _open_frontier(pages, self.read())

    def merge_passes(self, paths: list[str],
                     commit: list[str] | None = None) -> None:
        """The pass dirs' (url, warc_ts, error_type) rows, each with
        attempt = its dir's index, as ``_ckpt_delta`` through one MERGE
        INTO that folds them. ``commit`` is not recorded (see
        ``last_commit``)."""
        reduce(lambda a, b: a.unionByName(b), (
            self.spark.read.schema(
                "url string, warc_ts timestamp, error_type string"
            ).parquet(p).selectExpr(*KEY, "error_type", f"{i} AS attempt")
            for i, p in enumerate(paths)
        )).createOrReplaceTempView("_ckpt_delta")
        self.spark.sql(merge_sql(self.table, self.max_retries))

    def last_commit(self) -> list[str]:
        """No commit record: a snapshot-summary property could carry one,
        but it cannot be tested without an Iceberg runtime, so reconcile
        replays every unstamped pass dir."""
        return []

    def mark_running(self, keys: DataFrame) -> None:
        """Inflight visibility via MERGE (same semantics as the Parquet
        twin: never demotes success/dead, no lease)."""
        keys.select(*KEY).createOrReplaceTempView("_ckpt_running")
        self.spark.sql(mark_running_sql(self.table))

    def vacuum(self, keep: int = 2) -> None:
        """Snapshot expiry is Iceberg table maintenance
        (expire_snapshots), owned by the catalog's maintenance jobs —
        deliberately a no-op here."""

    def dead_letters(self, spark: SparkSession | None = None) -> DataFrame:
        return self.read().filter(F.col("status") == STATUS_DEAD)

    def counts_by_status(self, spark: SparkSession | None = None) -> DataFrame:
        return (
            self.read()
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("status")
        )


def create_table_sql(table: str) -> str:
    """DDL for the Iceberg checkpoint table — module-level so the sandbox
    (no Iceberg jar) can still pin the SQL under test."""
    return f"""CREATE TABLE IF NOT EXISTS {table} (
                    url STRING, warc_ts TIMESTAMP, status STRING,
                    attempts INT, last_error STRING, updated_at TIMESTAMP
                ) USING iceberg
                PARTITIONED BY (bucket(256, url))"""


def _merge_into_sql(table: str, source: str, transition) -> str:
    """MERGE INTO ``table`` from ``source`` on the key: ``transition("t")``
    updates matched rows, ``transition(None)`` builds inserted ones."""
    cols = ("status", "attempts", "last_error", "updated_at")
    upd, ins = transition("t"), transition(None)
    sets = ",\n                    ".join(f"t.{c} = {upd[c]}" for c in cols)
    values = ",\n                    ".join(ins[c] for c in cols)
    return f"""MERGE INTO {table} t
                USING {source} s
                ON t.url = s.url AND t.warc_ts = s.warc_ts
                WHEN MATCHED THEN UPDATE SET
                    {sets}
                WHEN NOT MATCHED THEN INSERT (
                    url, warc_ts, status, attempts, last_error, updated_at
                ) VALUES (
                    s.url, s.warc_ts,
                    {values}
                )"""


def mark_running_sql(table: str) -> str:
    """MERGE stamping frontier keys as running (visibility only) — the
    Iceberg twin of ParquetCheckpointStore.mark_running."""
    return _merge_into_sql(table, "_ckpt_running",
                           lambda old: running_transition_sql(old, "s"))


def merge_sql(table: str, max_retries: int) -> str:
    """The MERGE INTO statement folding the ``_ckpt_delta`` rows."""
    return _merge_into_sql(
        table, f"({fold_sql('_ckpt_delta')})",
        lambda old: result_transition_sql(old, "s", max_retries),
    )
