"""The three workloads: the state set-up prepares, what one timed call
does, and how its output is checked.

Each timed call goes from input files to a complete result on disk through
the program's public functions, exactly as a user of the library would call
them.  ``before`` gives every call its own fresh output directory, and
resume calls start from a byte-identical copy of the prior run.
"""

from __future__ import annotations

import os
import shutil

from observe import span
from oracle import (
    check_curation,
    check_extraction,
    curate_oracle,
    expected_status,
    golden,
    read_run_output,
)

GOLDEN_WORKERS = 4


def _status_counts(spark, out_dir: str) -> dict[str, int]:
    from gemini_ocr_batch_spark.checkpoint import ParquetCheckpointStore

    store = ParquetCheckpointStore(os.path.join(out_dir, "checkpoint"))
    return {r["status"]: r["n"] for r in
            store.counts_by_status(spark).collect()}


class Workload:
    """Inputs live under ``inputs``; scratch state under ``work``."""

    def __init__(self, spark, inputs: str, work: str, rows: dict) -> None:
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.rows = rows
        # set while a traced call runs: spans around the layer calls the
        # benchmark itself makes inside one timed call
        self.tracer = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.inputs, *parts)

    def extract(self, paths: list[str], out_dir: str, run_id: str):
        from gemini_ocr_batch_spark.job import run_extraction_job

        return run_extraction_job(
            self.spark, self.spark.read.parquet(*paths), out_dir,
            run_id=run_id)

    def prepare(self) -> None:
        """Set-up: the state every timed call starts from."""

    def before(self, rep_dir: str) -> None:
        os.makedirs(rep_dir)

    # -- what trace-mode layer probes run over
    pages_tables: list[str] = []   # the table the timed call scans
    kernel_tables: list[str] = []  # the rows the kernel extracts
    resume_from: str | None = None  # prior run the timed call resumes


class _Extraction(Workload):
    """The timed call is ``run_extraction_job`` over ``pages_tables``."""

    def call(self, rep_dir: str, run_id: str):
        return self.extract(self.pages_tables, rep_dir, run_id)

    def wanted(self, want: dict) -> dict:
        """The golden rows a call must extract (the rest are done)."""
        return want

    def check(self, calls) -> tuple[int, int]:
        want = golden(self.pages_tables, GOLDEN_WORKERS, self.work)
        extracted = self.wanted(want)
        status = expected_status(want)
        failed = 0
        for c in calls:
            bad = check_extraction(read_run_output(c["dir"], c["run_id"]),
                                   extracted)
            got = _status_counts(self.spark, c["dir"])
            miss = sum(abs(got.get(k, 0) - v) for k, v in status.items())
            failed += min(len(want), len(bad) + miss)
        return len(want) * len(calls), failed


class ExtractCold(_Extraction):
    name = "extract_cold"

    @property
    def docs(self) -> int:
        return self.rows["pages"]

    @property
    def pages_tables(self):
        return [self.path("pages")]

    kernel_tables = pages_tables


class ExtractResume(_Extraction):
    name = "extract_resume"

    @property
    def docs(self) -> int:
        return self.rows["base"] + self.rows["delta"]

    @property
    def pages_tables(self):
        return [self.path("base"), self.path("delta")]

    @property
    def kernel_tables(self):
        return [self.path("delta")]

    @property
    def resume_from(self) -> str:
        return os.path.join(self.work, "base_state")

    def prepare(self) -> None:
        self.extract([self.path("base")], self.resume_from, "base")

    def before(self, rep_dir: str) -> None:
        shutil.copytree(self.resume_from, rep_dir)

    def wanted(self, want: dict) -> dict:
        return {k: v for k, v in want.items() if "//delta." in k[0]}


class Curate(Workload):
    name = "curate"
    prep_run_id = "prep"
    prep_result = None  # the JobResult of the extraction curation reads

    @property
    def pages_tables(self):
        return [self.path("pages")]

    kernel_tables = pages_tables

    @property
    def extracted_dir(self) -> str:
        """The extracted run curation reads."""
        return os.path.join(self.work, "extracted")

    @property
    def docs(self) -> int:
        return self.prep_result.success_rows

    def curate(self, extracted_dir: str, out_dir: str) -> dict:
        from gemini_ocr_batch_spark.operators.dedup import (
            near_dedup_keep_list,
        )
        from gemini_ocr_batch_spark.operators.webtext import (
            run_curation_job,
        )

        with span(self.tracer, "webtext.run_curation_job"):
            stats = run_curation_job(self.spark, extracted_dir,
                                     os.path.join(out_dir, "curated"))
        with span(self.tracer, "dedup.near_dedup_keep_list"):
            corpus = self.spark.read.parquet(stats["corpus_path"])
            near_dedup_keep_list(
                corpus, id_col="url", text_col="extracted_text"
            ).write.parquet(os.path.join(out_dir, "keep_list"))
        return stats

    def prepare(self) -> None:
        self.prep_result = self.extract(self.pages_tables, self.extracted_dir,
                                        self.prep_run_id)

    def call(self, rep_dir: str, run_id: str):
        return self.curate(self.extracted_dir, rep_dir)

    def check(self, calls) -> tuple[int, int]:
        want = curate_oracle(self.extracted_dir)
        n = len(want["flags"])
        failed = sum(min(n, len(check_curation(c["dir"], c["result"], want)))
                     for c in calls)
        return n * len(calls), failed


WORKLOADS = {w.name: w for w in (ExtractCold, ExtractResume, Curate)}
