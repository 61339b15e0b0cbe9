"""Trace mode: per-layer metrics, timed from outside each layer.

The timed calls alternate untraced and traced (a traced call runs in a
span and a Spark job group).  After them each layer's public function is
called on its own over the same workload's data, inside a span and a job
group:

- ``sources``: noop-sink scan of ``(url, warc_ts, html)``.
- ``checkpoint``: ``store.pending(pages)`` to a noop sink, against the
  state the timed call starts from (a fresh store, or the prior run).
- ``extract``: the pending rows through an identity ``mapInArrow``
  (serde = identity − scan of the same rows) and through ``extract_pages``
  (parse = extract − identity).
- ``kernels``: ``extract_document`` over a sample in this process.
- ``job`` / ``lineage`` / ``checkpoint.merge``: the phases
  ``JobResult.phase_secs`` reports for the traced extraction.
- ``webtext``: ``curation_flags`` and ``run_curation_job``.
- ``dedup``: ``minhash_lsh_pairs`` then ``connected_components`` over the
  curated corpus.

Every workload reports every metric, each measured on that workload's own
data: for ``curate`` the job and kernel layers come from the extraction
that produced its input, and for the extraction workloads the webtext and
dedup layers run over the traced call's own output.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

MB = 2**20

BARE_SAMPLE = 1000


def identity_batches(batches):
    """mapInArrow identity: Arrow in, the same Arrow out."""
    yield from batches


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _du_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs) / MB


def _stat(st: dict | None, key: str, scale: float = 1.0):
    return None if st is None else st[key] / scale


def probe_all(wl, call, tracer, groups) -> dict:
    """Every per-layer metric except the set-up and overhead ones."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from gemini_ocr_batch_spark.checkpoint import ParquetCheckpointStore
    from gemini_ocr_batch_spark.job import read_extracted
    from gemini_ocr_batch_spark.kernels import extract_document
    from gemini_ocr_batch_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from gemini_ocr_batch_spark.operators.extract import (
        extract_pages,
        salt_by_size,
    )
    from gemini_ocr_batch_spark.operators.webtext import (
        curation_flags,
        run_curation_job,
    )

    from observe import span

    def probe(name: str, fn):
        """(seconds, stage totals or None) of ``fn`` run in a span and a
        job group of the same name."""
        with span(tracer, name, groups) as rec:
            fn()
        return rec["end"] - rec["start"], groups.stages(name)

    spark = wl.spark
    m: dict = {}
    rep_dir, run_id, result = call["dir"], call["run_id"], call["result"]
    rep_span = next(s["id"] for s in reversed(tracer.spans)
                    if s["name"] == run_id)

    st = groups.stages(run_id)
    m["spark.jobs"] = _stat(st, "jobs")
    m["spark.stages"] = _stat(st, "stages")
    m["spark.tasks"] = _stat(st, "tasks")

    # -- the extraction job's own phases (curate: the run it reads)
    is_extract = wl.name != "curate"
    job = result if is_extract else wl.prep_result
    job_dir = rep_dir if is_extract else wl.extracted_dir
    job_run = run_id if is_extract else wl.prep_run_id
    phases = job.phase_secs
    if is_extract:  # phases are disjoint parts of the traced call
        start = tracer.spans[rep_span]["start"]
        for name, secs in phases.items():
            tracer.add_span(f"job.{name}", secs, rep_span, start=start)
            start += secs
    m["job.extract_write_s"] = phases.get("extract_write", 0.0)
    m["lineage.write_s"] = phases.get("lineage", 0.0)
    m["job.failures_s"] = phases.get("failures", 0.0)
    m["checkpoint.merge_s"] = phases.get("merge", 0.0)
    m["job.passes"] = job.passes
    m["job.attempted_rows"] = job.extracted_rows
    m["job.useful_ratio"] = (job.success_rows / job.extracted_rows
                             if job.extracted_rows else 0.0)
    m["checkpoint.snapshot_mb"] = _du_mb(os.path.join(job_dir, "checkpoint"))

    # -- scan, resume anti-join, Arrow boundary, kernel
    def pages():
        return spark.read.parquet(*wl.pages_tables)

    secs, _ = probe("sources.scan", lambda: _noop(
        pages().select("url", "warc_ts", "html")))
    m["sources.scan_s"] = secs
    m["sources.scan_mb"] = sum(_du_mb(d) for d in wl.pages_tables)

    store_root = os.path.join(wl.resume_from or os.path.join(
        wl.work, "probe_store"), "checkpoint")
    store = ParquetCheckpointStore(store_root)
    secs, _ = probe("checkpoint.pending",
                    lambda: _noop(store.pending(pages())))
    m["checkpoint.pending_s"] = secs
    m["checkpoint.pending_rows"] = store.pending(pages()).count()

    try:  # did extract_pages choose the salted repartition? (private API)
        plan = extract_pages(store.pending(pages()))._jdf.queryExecution()
        salted = "_size_bucket" in plan.analyzed().toString()
    except Exception:  # unknown: probe the unsalted path, drop the flag
        salted = None
    secs, st = probe("extract.map", lambda: _noop(
        extract_pages(store.pending(pages()))))
    m["extract.map_s"] = secs
    m["extract.salted"] = None if salted is None else int(salted)
    m["extract.shuffle_write_mb"] = (
        _stat(st, "shuffle_write_b", MB) if salted else 0.0)
    m["extract.tasks"] = None if st is None else st["top"][2]
    m["extract.task_skew"] = (None if st is None
                              else groups.task_skew(st["top"]))

    def arrow_input():
        df = store.pending(pages()).select("url", "warc_ts", "html")
        if salted:
            df = salt_by_size(df, spark.sparkContext.defaultParallelism)
        return df

    scan_s, _ = probe("extract.serde.scan", lambda: _noop(arrow_input()))
    ident_s, _ = probe("extract.serde.identity", lambda: _noop(
        arrow_input().mapInArrow(identity_batches,
                                 schema=arrow_input().schema)))
    m["extract.serde_s"] = ident_s - scan_s
    m["kernels.parse_s"] = m["extract.map_s"] - ident_s

    sample = []
    for path in sorted(f for d in wl.kernel_tables
                       for f in glob.glob(os.path.join(d, "*.parquet"))):
        t = pq.read_table(path, columns=["url", "html"])
        sample += zip(t.column("html").to_pylist(),
                      t.column("url").to_pylist())
        if len(sample) >= BARE_SAMPLE:
            break
    sample = sample[:BARE_SAMPLE]
    with tracer.span("kernels.bare") as rec:
        for blob, url in sample:
            extract_document(blob, url)
    m["kernels.bare_docs_per_s"] = len(sample) / (rec["end"] - rec["start"])

    # -- curation and near-dedup over the documents the job extracted (a
    # resume's own run only, not the prior run it resumed)
    docs_dir = os.path.join(wl.work, "probe_docs")
    run_part = os.path.join("extracted_all", f"run_id={job_run}")
    shutil.copytree(os.path.join(job_dir, run_part),
                    os.path.join(docs_dir, run_part))
    cur_dir = os.path.join(wl.work, "probe_curated")
    secs, _ = probe("webtext.flags", lambda: _noop(curation_flags(
        read_extracted(spark, docs_dir), id_col="url",
        text_col="extracted_text", ordered=False)))
    m["webtext.flags_s"] = secs
    secs, st = probe("webtext.curate", lambda: run_curation_job(
        spark, docs_dir, cur_dir))
    m["webtext.curate_s"] = secs
    m["webtext.shuffle_write_mb"] = _stat(st, "shuffle_write_b", MB)
    m["webtext.spill_mb"] = _stat(st, "spill_b", MB)

    pairs_dir = os.path.join(wl.work, "probe_pairs")
    corpus = spark.read.parquet(os.path.join(cur_dir, "corpus"))
    secs, st1 = probe("dedup.minhash_pairs", lambda: minhash_lsh_pairs(
        corpus, id_col="url", text_col="extracted_text"
    ).write.parquet(pairs_dir))
    m["dedup.minhash_pairs_s"] = secs
    m["dedup.candidate_pairs"] = sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(pairs_dir, "*.parquet")))
    secs, st2 = probe("dedup.components", lambda: connected_components(
        spark.read.parquet(pairs_dir)).agg(F.count("*")).collect())
    m["dedup.components_s"] = secs
    m["dedup.cc_jobs"] = _stat(st2, "jobs")
    both = None if st1 is None or st2 is None else {
        k: st1[k] + st2[k] for k in ("shuffle_write_b", "spill_b")}
    m["dedup.shuffle_write_mb"] = _stat(both, "shuffle_write_b", MB)
    m["dedup.spill_mb"] = _stat(both, "spill_b", MB)
    m["dedup.storage_mb_after"] = groups.storage_mb()
    return m


def values(r: dict) -> dict:
    """Every per-layer value; ``None`` where the private Spark API
    failed (run.py leaves those out)."""
    m = dict(r.get("layers", {}))
    m["session.start_s"] = r["session_s"]
    m["session.prepare_s"] = r["prepare_s"]
    m["session.warmup_s"] = r["warmup_s"]
    if "traced_s" in r and "run_s" in r:
        m["trace.overhead_s"] = r["traced_s"] - r["run_s"]
    return m


def report(r: dict, spec: dict, args, root: str) -> None:
    """Print the span table with self times and write the spans and
    counts to ``.bench_run/traces/<workload>-<seed>.json``."""
    tracer = r["tracer"]
    layer_values = r.get("layers", {})
    for m in spec["per_layer"]:
        if m["unit"] == "count" and layer_values.get(m["name"]) is not None:
            tracer.count(m["name"], layer_values[m["name"]])
    print(f"{'span':<40} {'total_s':>9} {'self_s':>9}")
    for name, depth, total, self_s in tracer.table():
        print(f"{'  ' * depth + name:<40} {total:9.3f} {self_s:9.3f}")
    if "traced_s" in r and "run_s" in r:
        print(f"tracing overhead: traced calls {r['traced_s']:.3f} s - "
              f"untraced calls {r['run_s']:.3f} s = "
              f"{r['traced_s'] - r['run_s']:+.3f} s (medians of interleaved "
              "calls)")
    out = os.path.join(root, ".bench_run", "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-{args.seed}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"spans": tracer.spans, "counts": tracer.counts},
                  fh, indent=1)
    print(f"trace written to {os.path.relpath(path, root)}")
