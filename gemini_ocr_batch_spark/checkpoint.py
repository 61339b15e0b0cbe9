"""Resumable checkpoint store — the analog of the reference's
``SQLiteStateStore`` (reference: src/prefect_state.py:19-282, five SQLite
tables) collapsed into one keyed status table with MERGE semantics.

Two backends behind one narrow API, exactly the reference's store-protocol
duality (reference: src/prefect_state.py:285-346 swaps SQLite for an
in-memory store behind the same interface):

- ``ParquetCheckpointStore`` (sandbox + any vanilla Spark): snapshots are
  hive-partitioned by ``bucket = h60(url) % B`` (60-bit md5 prefix — NOT
  xxhash64: md5 is the one hash the driver, DuckDB, and the JVM all
  reproduce bit-identically, which is what makes the driver-side
  small-pass merge fast path possible) and the atomically
  replaced ``_CURRENT`` pointer is a JSON *manifest* mapping each bucket to
  the snapshot version that last rewrote it. A MERGE therefore reads and
  rewrites ONLY the buckets containing delta keys — O(|delta| + touched
  buckets), never O(|checkpoint|). At 10^12 keys with B=4096, a pass that
  touches 1% of the key space rewrites ~41 buckets' files, not the whole
  table. Readers always see a complete snapshot (the manifest swap is
  atomic); a crashed writer leaves only unreferenced version dirs.

- Iceberg (cluster runtimes with the jar): the same ``merge`` surface maps
  to ``MERGE INTO checkpoint t USING delta s ON t.url=s.url AND
  t.warc_ts=s.warc_ts WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN
  INSERT ...`` — gated behind an import/catalog check since no Iceberg jar
  ships in this sandbox. Its bucket(256, url) partitioning is the exact
  twin of the manifest scheme here.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

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


# small-pass driver-side merge ceiling: above this the pass is executor
# work; below it, spinning 2-3 Spark jobs costs more than the merge itself
LOCAL_MERGE_MAX_ROWS = 2_000_000


def _sql_str(path: str) -> str:
    """A filesystem path as a DuckDB single-quoted string literal.

    read_parquet list args and COPY ... TO targets cannot be bound as
    prepared-statement parameters, so paths are interpolated — doubling
    embedded quotes keeps a path like ``/data/o'brien`` from producing
    malformed SQL.
    """
    return "'" + path.replace("'", "''") + "'"


def _bucket_col(n_buckets: int):
    """bucket = (60-bit md5 prefix of url) % B.

    md5 instead of xxhash64 so the DRIVER can compute the identical bucket
    with hashlib (``bucket_of``) — that is what makes the small-delta
    driver-side merge fast path possible. Hashing cost is once per merged
    key, noise next to the bucket shuffle. Plays the same role as the
    Iceberg twin's bucket(B, url) transform.
    """
    from gemini_ocr_batch_spark.functions.hashing import h60

    return F.pmod(h60(F.col("url")), F.lit(n_buckets)).cast("int")


def bucket_of(url: str, n_buckets: int) -> int:
    """Driver-side twin of ``_bucket_col`` (hashlib md5 == Spark md5)."""
    import hashlib

    return int(hashlib.md5(url.encode("utf-8")).hexdigest()[:15], 16) % n_buckets


class ParquetCheckpointStore:
    """Bucket-manifest checkpoint over plain Parquet.

    Layout::

        root/
          _CURRENT                 # JSON {"n_buckets": B, "buckets":
                                   #       {"0": "v_00000003_ab12cd34", ...}}
          v_00000001_…/bucket=0/…  # hive-partitioned snapshot fragments
          v_00000003_…/bucket=7/…  # (a version dir holds only the buckets
                                   #  that its merge rewrote)

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

    def open_attempts(self, spark: SparkSession) -> DataFrame | None:
        """(url, warc_ts, attempts) of the keys a crashed or budget-cut
        run left open (status neither success nor dead); None for a fresh
        store, so the caller plans no join against an empty relation (the
        same short-circuit as ``pending``)."""
        manifest = self._manifest()
        if manifest is None or not manifest["buckets"]:
            return None
        return self._read_buckets(spark, manifest).filter(
            ~F.col("status").isin(STATUS_SUCCESS, STATUS_DEAD)
        ).select(*KEY, "attempts")

    def _merge_bucketed(self, delta: DataFrame, combine) -> None:
        """Shared bucket-pruned MERGE skeleton.

        ``delta`` must carry url+warc_ts; ``combine(old, delta)`` returns
        the merged rows (CHECKPOINT_SCHEMA) for the touched buckets only.
        Reads and rewrites ONLY buckets containing delta keys; every other
        bucket keeps its old manifest entry untouched.
        """
        spark = delta.sparkSession
        base = self._manifest()  # CAS base (lost-update guard)
        delta = delta.withColumn("bucket", _bucket_col(self.n_buckets))
        if base is None or not base["buckets"]:
            # fresh store: the delta IS the snapshot — no join (an empty
            # LocalRelation build side would plan a full SMJ shuffle)
            fresh = combine(None, delta).withColumn(
                "bucket", _bucket_col(self.n_buckets)
            )
            version = self._write_version(fresh, self.n_buckets)
            self._flip(
                {
                    "n_buckets": self.n_buckets,
                    "buckets": {
                        b: version for b in self._written_buckets(version)
                    },
                },
                expect=base,
            )
            return
        # O(|delta|) pre-scan for the touched buckets — the price that
        # converts the rewrite from O(|checkpoint|) to O(touched buckets)
        touched = sorted(
            r["bucket"] for r in delta.select("bucket").distinct().collect()
        )
        if not touched:
            return  # empty delta: nothing to merge, nothing to flip
        old = self._read_buckets(spark, base, touched)
        merged = combine(old, delta).withColumn(
            "bucket", _bucket_col(self.n_buckets)
        )
        version = self._write_version(merged, len(touched))
        mapping = dict(base["buckets"])
        for b in self._written_buckets(version):
            mapping[b] = version
        self._flip(
            {"n_buckets": self.n_buckets, "buckets": mapping}, expect=base
        )

    def merge_results(self, extracted: DataFrame) -> None:
        """MERGE the outcome of one extraction pass into the checkpoint.

        Analog of the reference's close-batch + increment-failure-counts
        transitions (reference: src/prefect_state.py:111-155,176-199):
        success → status=success; failure → attempts+1, status=failed, or
        dead once attempts ≥ max_retries (dead-letter predicate, reference:
        src/scanner.py:87-88).
        """
        delta = extracted.select(
            "url",
            "warc_ts",
            F.when(F.col("error_type").isNull(), F.lit(STATUS_SUCCESS))
            .otherwise(F.lit(STATUS_FAILED))
            .alias("new_status"),
            F.col("error_type").alias("new_error"),
        )

        def combine(old: DataFrame | None, d: DataFrame) -> DataFrame:
            if old is None:
                return d.select(
                    "url",
                    "warc_ts",
                    F.when(
                        (F.col("new_status") == STATUS_FAILED)
                        & (F.lit(1) >= F.lit(self.max_retries)),
                        F.lit(STATUS_DEAD),
                    )
                    .otherwise(F.col("new_status"))
                    .alias("status"),
                    F.lit(1).cast("int").alias("attempts"),
                    F.col("new_error").alias("last_error"),
                    F.current_timestamp().alias("updated_at"),
                )
            return old.join(
                d.drop("bucket"), on=KEY, how="full_outer"
            ).select(
                "url",
                "warc_ts",
                F.when(F.col("new_status").isNull(), F.col("status"))
                .when(
                    F.col("new_status") == STATUS_SUCCESS,
                    F.lit(STATUS_SUCCESS),
                )
                .when(
                    F.coalesce(F.col("attempts"), F.lit(0)) + 1
                    >= F.lit(self.max_retries),
                    F.lit(STATUS_DEAD),
                )
                .otherwise(F.lit(STATUS_FAILED))
                .alias("status"),
                (
                    F.coalesce(F.col("attempts"), F.lit(0))
                    + F.when(
                        F.col("new_status").isNotNull(), F.lit(1)
                    ).otherwise(F.lit(0))
                )
                .cast("int")
                .alias("attempts"),
                F.coalesce(F.col("new_error"), F.col("last_error")).alias(
                    "last_error"
                ),
                F.when(
                    F.col("new_status").isNotNull(), F.current_timestamp()
                )
                .otherwise(F.col("updated_at"))
                .alias("updated_at"),
            )

        self._merge_bucketed(delta, combine)

    def all_terminal_local(self, staged_path: str) -> bool | None:
        """Are ALL of a staged pass dir's keys already terminal
        (success/dead) in the checkpoint?

        Used by reconcile to recognize pass dirs that were merged by code
        predating the ``_MERGED`` marker: replaying those would double-count
        attempts for failed keys — and worse, a failure staged in pass K
        whose key succeeded in pass K+n would DOWNGRADE success back to
        failed. A pass whose every key is terminal can be stamped merged
        without replaying (terminal states never transition). Returns None
        when undeterminable (non-local store, no duckdb) — caller falls
        back to replaying, the pre-existing documented behavior.
        """
        if not (os.path.isdir(self.root) and os.path.isdir(staged_path)):
            return None
        try:
            import duckdb
        except ImportError:
            return None
        import glob as globmod

        staged_glob = os.path.join(staged_path, "**", "*.parquet")
        if not globmod.glob(staged_glob, recursive=True):
            return True  # empty pass: vacuously merged
        base = self._manifest()
        if not base:
            return False  # no checkpoint at all -> nothing is terminal
        con = duckdb.connect()
        try:
            bucket_sql = (
                f"(('0x' || substr(md5(url), 1, 15))::BIGINT "
                f"% {self.n_buckets})::INT"
            )
            touched = sorted(
                r[0]
                for r in con.execute(
                    f"SELECT DISTINCT {bucket_sql} FROM read_parquet(?)",
                    [staged_glob],
                ).fetchall()
            )
            old_paths = self._bucket_paths(base, touched)
            if not old_paths:
                return False
            globs = ", ".join(
                _sql_str(os.path.join(p, "*.parquet")) for p in old_paths
            )
            n_open = con.execute(
                f"""
                SELECT count(*) FROM read_parquet(?) s
                LEFT JOIN read_parquet([{globs}]) t
                  ON s.url = t.url AND s.warc_ts = t.warc_ts
                WHERE t.url IS NULL
                   OR t.status NOT IN ('{STATUS_SUCCESS}', '{STATUS_DEAD}')
                """,
                [staged_glob],
            ).fetchone()[0]
            return n_open == 0
        finally:
            con.close()

    def merge_results_local(self, staged_path: str,
                            max_rows: int = LOCAL_MERGE_MAX_ROWS) -> bool:
        """Driver-side MERGE fast path for small passes on a local fs.

        A retry pass of a few thousand keys costs 2-3 Spark jobs (~1-2 s of
        pure scheduling/commit latency in local mode, worse on a cluster)
        while the merge itself is sub-second of pyarrow+pandas. This path
        reads (url, warc_ts, error_type) straight from the staged parquet,
        applies the EXACT transition table merge_results implements
        relationally (tests pin the two paths equal), writes the touched
        bucket files with pyarrow, and CAS-flips the manifest. Returns
        False — caller falls back to the Spark path — when the store or the
        staged dir is not a local directory or the pass exceeds
        ``max_rows``. At 10^12 scale passes are orders of magnitude above
        the ceiling and staged data lives on object storage, so the Spark
        path is the one that runs.
        """
        if not (os.path.isdir(self.root) and os.path.isdir(staged_path)):
            return False
        try:
            import duckdb
        except ImportError:
            return False  # vanilla install: the Spark merge path handles it
        import glob as globmod

        staged_glob = os.path.join(staged_path, "**", "*.parquet")
        # explicit file probe instead of exception sniffing: an empty pass
        # (zero data files) is a clean no-op; any real duckdb IO failure
        # below propagates loudly rather than being mistaken for "merged"
        if not globmod.glob(staged_glob, recursive=True):
            return True
        con = duckdb.connect()
        try:
            n_rows = con.execute(
                "SELECT count(*) FROM read_parquet(?)", [staged_glob]
            ).fetchone()[0]
            if n_rows == 0:
                return True
            if n_rows > max_rows:
                return False
            base = self._manifest()
            n_b = self.n_buckets
            if base and base.get("buckets"):
                # the exact duckdb twin of _bucket_col's h60(url) % B
                bucket_sql = (
                    f"(('0x' || substr(md5(url), 1, 15))::BIGINT"
                    f" % {n_b})::INT"
                )
                touched = sorted(
                    r[0]
                    for r in con.execute(
                        f"SELECT DISTINCT {bucket_sql} "
                        f"FROM read_parquet(?)", [staged_glob]
                    ).fetchall()
                )
                old_paths = self._bucket_paths(base, touched)
            else:
                # fresh store: no old buckets can exist, so skip the
                # touched-bucket pre-scan — it would re-read every staged
                # url only to look up paths in an empty mapping (the
                # first/biggest pass of every run pays this)
                old_paths = []
            if old_paths:
                globs = ", ".join(
                    _sql_str(os.path.join(p, "*.parquet")) for p in old_paths
                )
                old_sql = (
                    "SELECT url, warc_ts, status, attempts, last_error, "
                    f"updated_at FROM read_parquet([{globs}])"
                )
            else:
                old_sql = (
                    "SELECT NULL::VARCHAR AS url, "
                    "NULL::TIMESTAMPTZ AS warc_ts, "
                    "NULL::VARCHAR AS status, NULL::INTEGER AS attempts, "
                    "NULL::VARCHAR AS last_error, "
                    "NULL::TIMESTAMPTZ AS updated_at WHERE false"
                )
            version = self._next_version()
            out_dir = os.path.join(self.root, version)
            # the same CASE chain as merge_results (keep in lockstep!)
            con.execute(
                f"""
                COPY (
                  WITH delta AS (
                    SELECT url, warc_ts, error_type
                    FROM read_parquet({_sql_str(staged_glob)})
                  ),
                  old AS ({old_sql})
                  SELECT
                    coalesce(o.url, d.url) AS url,
                    coalesce(o.warc_ts, d.warc_ts) AS warc_ts,
                    CASE WHEN d.url IS NULL THEN o.status
                         WHEN d.error_type IS NULL THEN '{STATUS_SUCCESS}'
                         WHEN coalesce(o.attempts, 0) + 1
                              >= {self.max_retries} THEN '{STATUS_DEAD}'
                         ELSE '{STATUS_FAILED}' END AS status,
                    (coalesce(o.attempts, 0)
                     + CASE WHEN d.url IS NULL THEN 0 ELSE 1 END
                    )::INT AS attempts,
                    coalesce(d.error_type, o.last_error) AS last_error,
                    CASE WHEN d.url IS NULL THEN o.updated_at
                         ELSE now() END AS updated_at,
                    ('0x' || substr(md5(coalesce(o.url, d.url)), 1, 15)
                    )::BIGINT % {n_b} AS bucket
                  FROM old o
                  FULL OUTER JOIN delta d
                    ON o.url = d.url AND o.warc_ts = d.warc_ts
                ) TO {_sql_str(out_dir)}
                (FORMAT PARQUET, PARTITION_BY (bucket),
                 OVERWRITE_OR_IGNORE true)
                """
            )
        finally:
            con.close()
        mapping = dict(base["buckets"]) if base else {}
        for b in self._written_buckets(version):
            mapping[b] = version
        self._flip(
            {"n_buckets": n_b, "buckets": mapping},
            expect=base,
        )
        return True

    def mark_running(self, keys: DataFrame) -> None:
        """Stamp frontier keys as inflight (status=running) at pass start.

        Visibility analog of the reference's inflight marking (reference:
        src/prefect_state.py:335-346): a second operator/monitor can see
        which keys a live run owns. Deliberately WITHOUT lease semantics —
        ``pending`` still returns running keys, so a crashed run never
        strands work; the subsequent ``merge_results`` transitions them to
        success/failed/dead. Bucket-pruned like every merge — opt-in from
        the job (track_inflight=True).
        """
        delta = keys.select(*KEY).withColumn("_inflight", F.lit(1))

        def combine(old: DataFrame | None, d: DataFrame) -> DataFrame:
            if old is None:
                return d.select(
                    "url",
                    "warc_ts",
                    F.lit(STATUS_RUNNING).alias("status"),
                    F.lit(0).cast("int").alias("attempts"),
                    F.lit(None).cast("string").alias("last_error"),
                    F.current_timestamp().alias("updated_at"),
                )
            return old.join(
                d.drop("bucket"), on=KEY, how="full_outer"
            ).select(
                "url",
                "warc_ts",
                F.when(
                    F.col("_inflight").isNotNull()
                    & ~F.coalesce(
                        F.col("status"), F.lit(STATUS_PENDING)
                    ).isin(STATUS_SUCCESS, STATUS_DEAD),
                    F.lit(STATUS_RUNNING),
                )
                .otherwise(
                    F.coalesce(F.col("status"), F.lit(STATUS_RUNNING))
                )
                .alias("status"),
                F.coalesce(F.col("attempts"), F.lit(0)).cast("int").alias(
                    "attempts"
                ),
                F.col("last_error"),
                F.when(F.col("_inflight").isNotNull(), F.current_timestamp())
                .otherwise(F.col("updated_at"))
                .alias("updated_at"),
            )

        self._merge_bucketed(delta, combine)

    def overwrite(self, snapshot: DataFrame, expect=_UNSET) -> None:
        """Full-snapshot replace (admin surface: rollback, clear, tests)."""
        bucketed = snapshot.withColumn("bucket", _bucket_col(self.n_buckets))
        version = self._write_version(bucketed, self.n_buckets)
        self._flip(
            {
                "n_buckets": self.n_buckets,
                "buckets": {b: version for b in self._written_buckets(version)},
            },
            expect=expect,
        )

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

    def open_attempts(self, spark: SparkSession | None = None) -> DataFrame:
        return self.read().filter(
            ~F.col("status").isin(STATUS_SUCCESS, STATUS_DEAD)
        ).select(*KEY, "attempts")

    def merge_results(self, extracted: DataFrame) -> None:
        extracted.select("url", "warc_ts", "error_type").createOrReplaceTempView(
            "_ckpt_delta"
        )
        self.spark.sql(merge_sql(self.table, self.max_retries))

    def merge_results_local(self, staged_path: str,
                            max_rows: int = 0) -> bool:
        """No driver-side fast path for a remote table — always False so
        the job falls through to the MERGE INTO."""
        return False

    def all_terminal_local(self, staged_path: str) -> bool | None:
        """Undeterminable driver-side for a remote table — reconcile falls
        back to replaying the pass (MERGE is idempotent for success keys)."""
        return None

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


def mark_running_sql(table: str) -> str:
    """MERGE stamping frontier keys as running (visibility only) — the
    Iceberg twin of ParquetCheckpointStore.mark_running, string-testable
    without an Iceberg runtime."""
    return f"""MERGE INTO {table} t
                USING _ckpt_running s
                ON t.url = s.url AND t.warc_ts = s.warc_ts
                WHEN MATCHED AND t.status NOT IN
                    ('{STATUS_SUCCESS}', '{STATUS_DEAD}') THEN UPDATE SET
                    t.status = '{STATUS_RUNNING}',
                    t.updated_at = current_timestamp()
                WHEN NOT MATCHED THEN INSERT (
                    url, warc_ts, status, attempts, last_error, updated_at
                ) VALUES (
                    s.url, s.warc_ts, '{STATUS_RUNNING}', 0, NULL,
                    current_timestamp()
                )"""


def merge_sql(table: str, max_retries: int) -> str:
    """The MERGE INTO statement for one extraction pass — module-level so
    its transition logic is string-testable without an Iceberg runtime."""
    return f"""MERGE INTO {table} t
                USING _ckpt_delta s
                ON t.url = s.url AND t.warc_ts = s.warc_ts
                WHEN MATCHED AND s.error_type IS NULL THEN UPDATE SET
                    t.status = '{STATUS_SUCCESS}',
                    t.attempts = t.attempts + 1,
                    t.updated_at = current_timestamp()
                WHEN MATCHED THEN UPDATE SET
                    t.status = CASE WHEN t.attempts + 1 >= {max_retries}
                                    THEN '{STATUS_DEAD}'
                                    ELSE '{STATUS_FAILED}' END,
                    t.attempts = t.attempts + 1,
                    t.last_error = s.error_type,
                    t.updated_at = current_timestamp()
                WHEN NOT MATCHED THEN INSERT (
                    url, warc_ts, status, attempts, last_error, updated_at
                ) VALUES (
                    s.url, s.warc_ts,
                    CASE WHEN s.error_type IS NULL THEN '{STATUS_SUCCESS}'
                         WHEN 1 >= {max_retries} THEN '{STATUS_DEAD}'
                         ELSE '{STATUS_FAILED}' END,
                    1, s.error_type, current_timestamp()
                )"""
