"""CLI entry point — the analog of the reference's ``python -m src``
(reference: src/__main__.py:6, src/cli.py:19-30 ``run-once``/``run`` verbs).

Designed for ``spark-submit --py-files gemini_ocr_batch_spark.zip -m ...``
or plain ``python -m gemini_ocr_batch_spark`` in local mode.

Verbs:
  run       [--config cfg.yaml] --pages <parquet> --out <dir>
            [--max-retries N] [--partitions N]
            (flags override config; $SPARK_GRAFT_CONFIG names a default
             config file; .env is loaded with setdefault semantics —
             reference: src/config.py:161-170, src/env.py:24-41)
  gen       --out <pages.parquet> --rows N [--seed S]   (synthetic input)
  curate    --extracted <run out dir> --out <dir>
            [--min-quality Q] [--max-rep R]
            (corpus-prep pass: exact-dup canonical + quality floor +
             repetition ceiling; writes flags/ + corpus/, prints counts)
  status    --out <dir>          (checkpoint counts + lineage rollup)
  decontaminate --extracted <run out dir> --benchmark <parquet> --out <dir>
            [--ngram N] [--min-overlap K]
            (eval-leakage sweep: n-gram collision flags per url; a
             trainer anti-joins the flags table to exclude them)
  stats     --extracted <run out dir> [--group-col content_kind]
            [--out <parquet>]
            (per-group token-count distribution of the extracted corpus)
  links     --pages <parquet> --out <dir>
            (crawl-graph pass: outlink edge table + domain-pair rollup)
  pipeline  --config cfg.yaml
            (the whole chain from one config: extract → curate →
             decontaminate (if decontam.* set) → shard (if sharding.out
             set); identical artifacts to the standalone verbs,
             resumable via the extraction checkpoint)
"""

from __future__ import annotations

import argparse
import json
import sys


def _shard_job(spark, in_path: str, out_dir: str, n_shards: int,
               key_col: str, text_col: str) -> dict:
    """Shared by the ``shard`` verb and the ``pipeline`` shard stage.

    Raises ValueError (caller prints + exits 2) when the text column is
    missing; ``text_col=''`` skips token counting entirely.
    """
    from pyspark.sql import functions as F

    from gemini_ocr_batch_spark.functions.hashing import tokens
    from gemini_ocr_batch_spark.operators.sampling import (
        write_training_shards,
    )

    corpus = spark.read.parquet(in_path)
    token_col = None
    if text_col == "text" and "text" not in corpus.columns \
            and "extracted_text" in corpus.columns:
        # the run/curate verbs emit `extracted_text`; make the
        # default work on their output without an extra flag
        text_col = "extracted_text"
    if text_col and text_col not in corpus.columns:
        # remediation advice is caller-specific (--text-col flag vs
        # sharding.text_col config) — each verb appends its own
        raise ValueError(
            f"text column {text_col!r} not in input "
            f"(columns: {', '.join(corpus.columns)})"
        )
    if text_col:
        # pure column expr — rides the same scan, no extra pass
        corpus = corpus.withColumn(
            "doc_tokens",
            F.expr(f"size({tokens(text_col, lowercase=False)})").cast(
                "bigint"
            ),
        )
        token_col = "doc_tokens"
    stats = write_training_shards(
        corpus, key_col, out_dir, n_shards=n_shards, token_col=token_col,
    ).collect()
    return {
        "shards": len(stats),
        "docs": sum(int(s.n_docs) for s in stats),
        "tokens": (
            sum(int(s.n_tokens) for s in stats) if token_col else None
        ),
        "path": out_dir,
    }


def _extract_stage(spark, pages_path: str, out_dir: str, input_format: str,
                   filters, checkpoint_cfg, max_retries: int,
                   partitions: int | None, track_inflight: bool):
    """Input → filters → checkpoint store → extraction job. Shared by the
    ``run`` verb and the ``pipeline`` extract stage so the two paths
    cannot drift. Propagates RuntimeError from the Iceberg store wiring
    (caller prints the checkpoint.backend message and exits 2)."""
    from gemini_ocr_batch_spark.job import (
        apply_input_filters,
        run_extraction_job,
    )

    if input_format == "warc":
        from gemini_ocr_batch_spark.sources.warc import (
            read_warc,
            warc_to_pages,
        )

        pages = warc_to_pages(read_warc(spark, pages_path))
    else:
        pages = spark.read.parquet(pages_path)
    if filters is not None:
        pages = apply_input_filters(pages, filters)
    store = None
    if checkpoint_cfg is not None and checkpoint_cfg.backend == "iceberg":
        from gemini_ocr_batch_spark.checkpoint import IcebergCheckpointStore

        store = IcebergCheckpointStore(
            spark, checkpoint_cfg.iceberg_table, max_retries=max_retries,
        )
    return run_extraction_job(
        spark,
        pages,
        out_dir,
        max_retries=max_retries,
        n_partitions=partitions,
        track_inflight=track_inflight,
        n_buckets=checkpoint_cfg.n_buckets if checkpoint_cfg else 16,
        store=store,
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="gemini_ocr_batch_spark")
    sub = p.add_subparsers(dest="verb", required=True)

    run_p = sub.add_parser("run", help="run the extraction job to completion")
    run_p.add_argument("--config", default=None,
                       help="YAML config (see gemini_ocr_batch_spark.config);"
                            " CLI flags override config values")
    run_p.add_argument("--pages", default=None)
    run_p.add_argument("--input-format", choices=["parquet", "warc"],
                       default="parquet",
                       help="pages table format: parquet (default) or a "
                            "directory of WARC files (response records "
                            "become pages rows)")
    run_p.add_argument("--out", default=None)
    run_p.add_argument("--max-retries", type=int, default=None)
    run_p.add_argument("--partitions", type=int, default=None)
    run_p.add_argument("--master", default=None)

    gen_p = sub.add_parser("gen", help="generate a synthetic pages table")
    gen_p.add_argument("--out", required=True)
    gen_p.add_argument("--rows", type=int, default=1000)
    gen_p.add_argument("--seed", type=int, default=42)
    gen_p.add_argument("--format", choices=["parquet", "warc"],
                       default="parquet",
                       help="parquet file (default) or a directory of "
                            "member-gzip .warc.gz segment files")
    gen_p.add_argument("--files", type=int, default=4,
                       help="warc format only: number of segment files")

    cur_p = sub.add_parser(
        "curate",
        help="corpus-prep pass over a finished run: dedup/quality/"
             "repetition flags + the kept corpus",
    )
    cur_p.add_argument("--config", default=None,
                       help="same YAML as `run`; flags override "
                            "curation.* / paths.out values")
    cur_p.add_argument("--extracted", default=None,
                       help="a `run` --out dir (reads extracted_all); "
                            "defaults to config paths.out")
    cur_p.add_argument("--out", default=None,
                       help="defaults to config curation.curated_out")
    cur_p.add_argument("--min-quality", type=int, default=None,
                       help="quality floor, x10000 fixed-point "
                            "(config curation.min_quality_x10000)")
    cur_p.add_argument("--gopher", action="store_true", default=None,
                       help="also gate keep on the Gopher quality rules "
                            "(config: curation.gopher_rules; thresholds "
                            "are the published English-calibrated values)")
    cur_p.add_argument("--nfkc", action="store_true", default=None,
                       help="NFKC-normalize text before fingerprinting "
                            "(config: curation.normalize_nfkc)")
    cur_p.add_argument("--max-rep", type=int, default=None,
                       help="top-2-gram repetition ceiling, x10000 "
                            "(config curation.max_rep_x10000)")
    cur_p.add_argument("--master", default=None)

    dec_p = sub.add_parser(
        "decontaminate",
        help="flag extracted documents sharing n-grams with a benchmark "
             "parquet (eval-leakage sweep)",
    )
    dec_p.add_argument("--config", default=None,
                       help="same YAML as `run`; flags override "
                            "decontam.* / paths.out values")
    dec_p.add_argument("--extracted", default=None,
                       help="a `run` --out dir (reads extracted_all); "
                            "defaults to config paths.out")
    dec_p.add_argument("--benchmark", default=None,
                       help="parquet of benchmark documents "
                            "(config decontam.benchmark_path)")
    dec_p.add_argument("--benchmark-text-col", default=None,
                       help="text column in the benchmark parquet "
                            "(config decontam.benchmark_text_col; "
                            "default 'text')")
    dec_p.add_argument("--out", default=None,
                       help="defaults to config decontam.flags_out")
    dec_p.add_argument("--ngram", type=int, default=None,
                       help="word n-gram length (config decontam.ngram)")
    dec_p.add_argument("--min-overlap", type=int, default=None,
                       help="grams shared to flag (config "
                            "decontam.min_overlap)")
    dec_p.add_argument("--master", default=None)

    stats_p = sub.add_parser(
        "stats",
        help="per-group token-count distribution of the extracted corpus",
    )
    stats_p.add_argument("--extracted", required=True)
    stats_p.add_argument("--group-col", default="content_kind")
    stats_p.add_argument("--out", default=None,
                         help="optional parquet path for the stats table")
    stats_p.add_argument("--approx", action="store_true",
                         help="percentile_approx instead of exact "
                              "percentiles (the 10^12-row posture)")
    stats_p.add_argument("--master", default=None)

    lk_p = sub.add_parser(
        "links",
        help="extract the outlink edge table + domain-pair rollup from a "
             "pages parquet",
    )
    lk_p.add_argument("--pages", required=True)
    lk_p.add_argument("--out", required=True)
    lk_p.add_argument("--pagerank", type=int, default=0, metavar="ITERS",
                      help="also compute domain PageRank with this many "
                           "power iterations (0 = skip)")
    lk_p.add_argument("--master", default=None)

    sp_p = sub.add_parser(
        "spans",
        help="cross-document repeated-span report over a finished "
             "extraction run (substring-level dedup, Lee et al. 2022)",
    )
    sp_p.add_argument("--extracted", required=True,
                      help="extraction output root (run verb's --out)")
    sp_p.add_argument("--out", required=True,
                      help="parquet output for the span table")
    sp_p.add_argument("--k", type=int, default=8,
                      help="token window size (spans >= k tokens surface)")
    sp_p.add_argument("--max-df", type=int, default=None,
                      help="drop grams present in more than N documents "
                           "(boilerplate cap)")
    sp_p.add_argument("--min-run", type=int, default=1,
                      help="drop spans shorter than N consecutive grams")
    sp_p.add_argument("--master", default=None)

    dom_p = sub.add_parser(
        "domains",
        help="per-domain quality/duplication rollup over a finished "
             "extraction run (the blocklist-candidate report)",
    )
    dom_p.add_argument("--extracted", required=True,
                       help="extraction output root (run verb's --out)")
    dom_p.add_argument("--out", default=None,
                       help="optional parquet output for the full table")
    dom_p.add_argument("--top", type=int, default=10,
                       help="print the N most duplicate-heavy domains")
    dom_p.add_argument("--master", default=None)

    ix_p = sub.add_parser(
        "index",
        help="build + persist an IVF ANN index over an embeddings table "
             "(cells partitioned by centroid_id for pruned probes)",
    )
    ix_p.add_argument("--embeddings", required=True,
                      help="parquet with (vec_id, embedding) columns")
    ix_p.add_argument("--out", required=True, help="index directory")
    ix_p.add_argument("--k-centroids", type=int, default=16)
    ix_p.add_argument("--id-col", default="vec_id")
    ix_p.add_argument("--vec-col", default="embedding")
    ix_p.add_argument("--seed", type=int, default=7)
    ix_p.add_argument("--master", default=None)

    se_p = sub.add_parser(
        "search",
        help="top-k cosine search against a persisted IVF index "
             "(reads only the probed cells' partitions)",
    )
    se_p.add_argument("--index", required=True,
                      help="directory written by the index verb")
    se_p.add_argument("--query", required=True,
                      help="comma-separated floats (the query vector)")
    se_p.add_argument("--k", type=int, default=10)
    se_p.add_argument("--n-probe", type=int, default=4)
    se_p.add_argument("--master", default=None)

    wet_p = sub.add_parser(
        "wet",
        help="export extracted text as Common-Crawl WET "
             "(member-gzip conversion records)",
    )
    wet_p.add_argument("--extracted", required=True,
                       help="extraction output dir (the run verb's --out)")
    wet_p.add_argument("--out", required=True, help="WET output directory")
    wet_p.add_argument("--files", type=int, default=None,
                       help="number of WET files (default: parallelism)")
    wet_p.add_argument("--master", default=None)

    sh_p = sub.add_parser(
        "shard",
        help="materialize a corpus as deterministic interleaved "
             "training shards",
    )
    sh_p.add_argument("--in", dest="in_path", required=True,
                      help="input parquet (e.g. the curate verb's corpus)")
    sh_p.add_argument("--out", required=True, help="shard output directory")
    sh_p.add_argument("--shards", type=int, default=16)
    sh_p.add_argument("--key-col", default="url")
    sh_p.add_argument("--text-col", default="text",
                      help="text column for per-shard token stats "
                           "('' to skip token counting)")
    sh_p.add_argument("--master", default=None)

    lt_p = sub.add_parser(
        "lm-train",
        help="train a Laplace bigram LM on a trusted corpus and persist "
             "the count tables (CCNet-style quality model)",
    )
    lt_p.add_argument("--corpus", required=True,
                      help="trusted-corpus parquet with a text column")
    lt_p.add_argument("--out", required=True, help="model directory")
    lt_p.add_argument("--text-col", default="text")
    lt_p.add_argument("--min-count", type=int, default=2)
    lt_p.add_argument("--top-k", type=int, default=None,
                      help="cap each model table at the k most frequent "
                           "grams (bounds the scoring broadcast)")
    lt_p.add_argument("--master", default=None)

    ls_p = sub.add_parser(
        "lm-score",
        help="score a corpus against a persisted LM (avg bigram log-prob "
             "x10000); with --floor, write the filtered corpus instead",
    )
    ls_p.add_argument("--corpus", required=True,
                      help="corpus parquet with (id, text) columns")
    ls_p.add_argument("--model", required=True,
                      help="directory written by lm-train")
    ls_p.add_argument("--out", default=None,
                      help="output parquet (omit to just report the count)")
    ls_p.add_argument("--id-col", default="doc_id")
    ls_p.add_argument("--text-col", default="text")
    ls_p.add_argument("--floor", type=int, default=None,
                      help="min avg_lp_x10000 — documents below are "
                           "dropped (unscorable short docs are kept)")
    ls_p.add_argument("--cuts", default=None,
                      help="HEAD_MIN,MIDDLE_MIN (x10000) — adds CCNet "
                           "head/middle/tail lm_bucket assignment and "
                           "per-bucket counts (use =-N,-M form: leading "
                           "minus parses as a flag otherwise)")
    ls_p.add_argument("--master", default=None)

    sel_p = sub.add_parser(
        "select",
        help="DSIR data selection: pick k documents from a raw corpus "
             "whose hashed-ngram distribution matches a trusted corpus "
             "(Gumbel-top-k over importance weights)",
    )
    sel_p.add_argument("--corpus", required=True,
                       help="raw-pool parquet with (id, text) columns")
    sel_p.add_argument("--trusted", required=True,
                       help="trusted-target parquet with a text column")
    sel_p.add_argument("--k", type=int, required=True,
                       help="number of documents to select")
    sel_p.add_argument("--out", required=True,
                       help="output parquet: the selected corpus rows")
    sel_p.add_argument("--id-col", default="doc_id")
    sel_p.add_argument("--text-col", default="text",
                       help="text column of the raw corpus")
    sel_p.add_argument("--trusted-text-col", default=None,
                       help="text column of the trusted corpus "
                            "(default: same as --text-col)")
    sel_p.add_argument("--n-buckets", type=int, default=10_000)
    sel_p.add_argument("--master", default=None)

    bm_p = sub.add_parser(
        "bm25",
        help="BM25 keyword retrieval: print the top-k corpus documents "
             "for a literal term query (or write the full score table)",
    )
    bm_p.add_argument("--corpus", required=True,
                      help="corpus parquet with (id, text) columns")
    bm_p.add_argument("--terms", required=True,
                      help="comma-separated query terms")
    bm_p.add_argument("--k", type=int, default=10)
    bm_p.add_argument("--id-col", default="doc_id")
    bm_p.add_argument("--text-col", default="text")
    bm_p.add_argument("--out", default=None,
                      help="write the FULL per-document score table here "
                           "instead of printing top-k hits")
    bm_p.add_argument("--master", default=None)

    pl_p = sub.add_parser(
        "pipeline",
        help="run the full config-driven corpus pipeline: extract → "
             "curate → decontaminate (if decontam.* configured) → shard "
             "(if sharding.out configured) — identical artifacts to "
             "running the standalone verbs in that order",
    )
    pl_p.add_argument("--config", required=True,
                      help="the one YAML driving every stage (paths, "
                           "filters, curation, decontam, sharding)")
    pl_p.add_argument("--input-format", choices=["parquet", "warc"],
                      default="parquet")
    pl_p.add_argument("--master", default=None)

    st_p = sub.add_parser("status", help="checkpoint + lineage summary")
    st_p.add_argument("--config", default=None,
                      help="same config as `run` — needed to point status "
                           "at an iceberg-backed checkpoint")
    st_p.add_argument("--out", default=None)
    st_p.add_argument("--master", default=None)

    args = p.parse_args(argv)

    if args.verb == "gen":
        from gemini_ocr_batch_spark.datagen import (
            generate_rows,
            write_pages_parquet,
            write_pages_warc,
        )

        rows = generate_rows(args.rows, seed=args.seed)
        if args.format == "warc":
            paths = write_pages_warc(rows, args.out, files=args.files)
            print(json.dumps({"written": len(rows), "path": args.out,
                              "files": len(paths)}))
        else:
            write_pages_parquet(rows, args.out)
            print(json.dumps({"written": len(rows), "path": args.out}))
        return 0

    from gemini_ocr_batch_spark.session import get_spark

    if args.verb == "run":
        from gemini_ocr_batch_spark.config import (
            ConfigError,
            load_config,
            load_dotenv,
            resolve_config_path,
        )

        load_dotenv(".env")  # setdefault semantics: env beats .env
        cfg = None
        cfg_path = resolve_config_path(args.config)
        if cfg_path:
            try:
                cfg = load_config(cfg_path)
            except ConfigError as exc:
                print(str(exc), file=sys.stderr)
                return 2
        # precedence: CLI flag > config file > built-in default
        pages_path = args.pages or (cfg.paths.pages if cfg else None)
        out_dir = args.out or (cfg.paths.out if cfg else None)
        missing = [n for n, v in (("--pages", pages_path),
                                  ("--out", out_dir)) if not v]
        if missing:
            print(
                f"missing {' and '.join(missing)} (flag or config paths.*)",
                file=sys.stderr,
            )
            return 2
        max_retries = (
            args.max_retries
            if args.max_retries is not None
            else (cfg.execution.max_retries if cfg else 3)
        )
        partitions = args.partitions or (
            cfg.execution.partitions if cfg else None
        )
        spark = get_spark(
            master=args.master or (cfg.spark.master if cfg else None),
            shuffle_partitions=(cfg.spark.shuffle_partitions if cfg else None),
        )
        try:
            res = _extract_stage(
                spark,
                pages_path,
                out_dir,
                args.input_format,
                cfg.filters if cfg else None,
                cfg.checkpoint if cfg else None,
                max_retries,
                partitions,
                cfg.execution.track_inflight if cfg else False,
            )
        except RuntimeError as exc:
            print(
                f"checkpoint.backend: iceberg requested but {exc}",
                file=sys.stderr,
            )
            return 2
        print(
            json.dumps(
                {
                    "passes": res.passes,
                    "extracted_rows": res.extracted_rows,
                    "success_rows": res.success_rows,
                    "failed_rows": res.failed_rows,
                    "wall_sec": round(res.wall_sec, 3),
                    "docs_per_sec": round(res.docs_per_sec, 1),
                    "phase_secs": res.phase_secs,
                }
            )
        )
        return 0

    if args.verb == "curate":
        from gemini_ocr_batch_spark.config import (
            ConfigError,
            load_config,
            load_dotenv,
            resolve_config_path,
        )
        from gemini_ocr_batch_spark.operators.webtext import run_curation_job

        load_dotenv(".env")  # same resolution order as `run`
        cfg = None
        cfg_path = resolve_config_path(args.config)
        if cfg_path:
            try:
                cfg = load_config(cfg_path)
            except ConfigError as exc:
                print(str(exc), file=sys.stderr)
                return 2
        extracted = args.extracted or (cfg.paths.out if cfg else None)
        out_dir = args.out or (cfg.curation.curated_out if cfg else None)
        missing = [n for n, v in (("--extracted", extracted),
                                  ("--out", out_dir)) if not v]
        if missing:
            print(
                f"missing {' and '.join(missing)} (flag or config "
                "paths.out / curation.curated_out)",
                file=sys.stderr,
            )
            return 2
        min_q = (
            args.min_quality
            if args.min_quality is not None
            else (cfg.curation.min_quality_x10000 if cfg else 3000)
        )
        max_r = (
            args.max_rep
            if args.max_rep is not None
            else (cfg.curation.max_rep_x10000 if cfg else 5000)
        )
        spark = get_spark(
            master=args.master or (cfg.spark.master if cfg else None),
            shuffle_partitions=(cfg.spark.shuffle_partitions if cfg else None),
        )
        nfkc = (
            args.nfkc
            if args.nfkc is not None
            else (cfg.curation.normalize_nfkc if cfg else False)
        )
        gopher = (
            args.gopher
            if args.gopher is not None
            else (cfg.curation.gopher_rules if cfg else False)
        )
        stats = run_curation_job(
            spark,
            extracted,
            out_dir,
            min_quality_x10000=min_q,
            max_rep_x10000=max_r,
            normalize_nfkc=nfkc,
            gopher_rules=gopher,
        )
        print(json.dumps(stats))
        return 0

    if args.verb == "decontaminate":
        from gemini_ocr_batch_spark.config import (
            ConfigError,
            load_config,
            load_dotenv,
            resolve_config_path,
        )
        from gemini_ocr_batch_spark.operators.decontam import (
            run_decontamination_job,
        )

        load_dotenv(".env")  # same resolution order as `run`
        cfg = None
        cfg_path = resolve_config_path(args.config)
        if cfg_path:
            try:
                cfg = load_config(cfg_path)
            except ConfigError as exc:
                print(str(exc), file=sys.stderr)
                return 2
        extracted = args.extracted or (cfg.paths.out if cfg else None)
        benchmark = args.benchmark or (
            cfg.decontam.benchmark_path if cfg else None
        )
        out_dir = args.out or (cfg.decontam.flags_out if cfg else None)
        missing = [n for n, v in (("--extracted", extracted),
                                  ("--benchmark", benchmark),
                                  ("--out", out_dir)) if not v]
        if missing:
            print(
                f"missing {' and '.join(missing)} (flag or config "
                "paths.out / decontam.*)",
                file=sys.stderr,
            )
            return 2
        ngram = (
            args.ngram if args.ngram is not None
            else (cfg.decontam.ngram if cfg else 8)
        )
        min_overlap = (
            args.min_overlap if args.min_overlap is not None
            else (cfg.decontam.min_overlap if cfg else 1)
        )
        spark = get_spark(
            master=args.master or (cfg.spark.master if cfg else None),
            shuffle_partitions=(cfg.spark.shuffle_partitions if cfg else None),
        )
        stats = run_decontamination_job(
            spark,
            extracted,
            benchmark,
            out_dir,
            n=ngram,
            min_overlap=min_overlap,
            bench_text_col=(
                args.benchmark_text_col
                or (cfg.decontam.benchmark_text_col if cfg else "text")
            ),
        )
        print(json.dumps(stats))
        return 0

    if args.verb == "stats":
        from gemini_ocr_batch_spark.job import read_extracted
        from gemini_ocr_batch_spark.operators.textstats import (
            corpus_token_stats,
        )

        spark = get_spark(master=args.master)
        rows = read_extracted(spark, args.extracted)
        out = corpus_token_stats(
            rows, args.group_col, text_col="extracted_text",
            exact=not args.approx,
        )
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            out = spark.read.parquet(args.out).orderBy(args.group_col)
        report = [r.asDict() for r in out.collect()]
        print(json.dumps({"groups": report}))
        return 0

    if args.verb == "links":
        import os

        from pyspark.sql import functions as F

        from gemini_ocr_batch_spark.operators.links import (
            domain_link_stats,
            page_links,
        )

        spark = get_spark(master=args.master)
        pages = spark.read.parquet(args.pages)
        edges_path = os.path.join(args.out, "edges")
        page_links(pages).write.mode("overwrite").parquet(edges_path)
        edges = spark.read.parquet(edges_path)
        domains_path = os.path.join(args.out, "domain_pairs")
        domain_link_stats(edges).write.mode("overwrite").parquet(domains_path)
        audit = edges.agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.count_distinct("url").alias("n_pages_with_links"),
        ).collect()[0]
        report = {
            "n_edges": int(audit["n_edges"]),
            "n_pages_with_links": int(audit["n_pages_with_links"]),
            "edges_path": edges_path,
            "domain_pairs_path": domains_path,
        }
        if args.pagerank > 0:
            from gemini_ocr_batch_spark.operators.links import (
                domain_pagerank,
            )

            pairs = spark.read.parquet(domains_path)
            ranks = domain_pagerank(pairs, iterations=args.pagerank)
            rank_path = os.path.join(args.out, "domain_rank")
            ranks.write.mode("overwrite").parquet(rank_path)
            top = spark.read.parquet(rank_path).orderBy(
                F.desc("rank"), "domain"
            ).limit(10).collect()
            report["domain_rank_path"] = rank_path
            report["top_domains"] = [
                {"domain": r["domain"], "rank": round(float(r["rank"]), 6)}
                for r in top
            ]
        print(json.dumps(report))
        return 0

    if args.verb == "spans":
        from pyspark.sql import functions as F

        from gemini_ocr_batch_spark.job import read_extracted
        from gemini_ocr_batch_spark.operators.dedup import repeated_spans

        spark = get_spark(master=args.master)
        rows = read_extracted(spark, args.extracted)
        spans = repeated_spans(
            rows, id_col="url", text_col="extracted_text",
            k=args.k, max_df=args.max_df, min_run=args.min_run,
        )
        spans.write.mode("overwrite").parquet(args.out)
        spans = spark.read.parquet(args.out)
        audit = spans.agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count_distinct("url").alias("docs_with_spans"),
            F.sum("span_tokens").alias("span_tokens_total"),
        ).collect()[0]
        print(
            json.dumps(
                {
                    "n_spans": int(audit["n_spans"]),
                    "docs_with_spans": int(audit["docs_with_spans"]),
                    "span_tokens_total": int(
                        audit["span_tokens_total"] or 0
                    ),
                    "out": args.out,
                }
            )
        )
        return 0

    if args.verb == "domains":
        from pyspark.sql import functions as F

        from gemini_ocr_batch_spark.job import read_extracted
        from gemini_ocr_batch_spark.operators.webtext import (
            domain_quality_stats,
        )

        spark = get_spark(master=args.master)
        rows = read_extracted(spark, args.extracted)
        stats = domain_quality_stats(
            rows, url_col="url", text_col="extracted_text"
        )
        if args.out:
            stats.write.mode("overwrite").parquet(args.out)
            stats = spark.read.parquet(args.out)
        else:
            # top-N collect + count would otherwise each re-run the full
            # corpus aggregation; pay the scan once
            stats = stats.persist()
        # the domain table is aggregation output — bounded by distinct
        # domains, the classic driver-side report size
        top = (
            stats.orderBy(F.desc("dup_frac_x10000"), "domain")
            .limit(max(0, args.top))
            .collect()
        )
        n_domains = stats.count()
        if not args.out:
            stats.unpersist()
        print(
            json.dumps(
                {
                    "n_domains": n_domains,
                    "top_duplicate_domains": [r.asDict() for r in top],
                    **({"out": args.out} if args.out else {}),
                }
            )
        )
        return 0

    if args.verb == "index":
        from gemini_ocr_batch_spark.operators.similarity import run_index_job

        spark = get_spark(master=args.master)
        meta = run_index_job(
            spark,
            args.embeddings,
            args.out,
            k_centroids=args.k_centroids,
            id_col=args.id_col,
            vec_col=args.vec_col,
            seed=args.seed,
        )
        print(json.dumps(meta))
        return 0

    if args.verb == "search":
        from gemini_ocr_batch_spark.operators.similarity import (
            ivf_search_persisted,
        )

        try:
            query_vec = [float(x) for x in args.query.split(",") if x != ""]
        except ValueError:
            print("--query must be comma-separated floats", file=sys.stderr)
            return 2
        spark = get_spark(master=args.master)
        hits = ivf_search_persisted(
            spark, args.index, query_vec, k=args.k, n_probe=args.n_probe
        ).collect()
        print(
            json.dumps(
                {
                    "hits": [
                        {
                            "id": r["id"],
                            "rank": int(r["rank"]),
                            "cosine": round(float(r["cosine"]), 6),
                        }
                        for r in hits
                    ]
                }
            )
        )
        return 0

    if args.verb == "lm-train":
        from gemini_ocr_batch_spark.operators.lm import run_lm_train_job

        spark = get_spark(master=args.master)
        meta = run_lm_train_job(
            spark,
            args.corpus,
            args.out,
            text_col=args.text_col,
            min_count=args.min_count,
            top_k=args.top_k,
        )
        print(json.dumps({**meta, "path": args.out}))
        return 0

    if args.verb == "lm-score":
        from gemini_ocr_batch_spark.operators.lm import run_lm_score_job

        cuts = None
        if args.cuts is not None:
            parts = args.cuts.split(",")
            if len(parts) != 2:
                print("--cuts must be HEAD_MIN,MIDDLE_MIN", file=sys.stderr)
                return 2
            cuts = (int(parts[0]), int(parts[1]))
        spark = get_spark(master=args.master)
        res = run_lm_score_job(
            spark,
            args.corpus,
            args.model,
            out_path=args.out,
            id_col=args.id_col,
            text_col=args.text_col,
            min_avg_lp_x10000=args.floor,
            bucket_cuts=cuts,
        )
        print(json.dumps(res))
        return 0

    if args.verb == "select":
        from gemini_ocr_batch_spark.operators.dsir import dsir_resample

        spark = get_spark(master=args.master)
        raw = spark.read.parquet(args.corpus)
        trusted = spark.read.parquet(args.trusted)
        picked = dsir_resample(
            raw,
            trusted,
            args.k,
            id_col=args.id_col,
            text_col=args.text_col,
            n_buckets=args.n_buckets,
            trusted_text_col=args.trusted_text_col,
        )
        # semi-join the slim picked-keys table back — corpus text rows
        # never enter the top-k ranking; no broadcast hint: k is
        # user-sized (can be billions at scale), AQE picks the strategy
        keys = picked.select(args.id_col)
        out = raw.join(keys, args.id_col, "semi")
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"requested_k": args.k, "selected": n,
                          "out": args.out}))
        return 0

    if args.verb == "bm25":
        from gemini_ocr_batch_spark.operators.retrieval import (
            bm25_scores,
            bm25_topk,
        )

        terms = [t for t in args.terms.split(",") if t.strip()]
        spark = get_spark(master=args.master)
        docs = spark.read.parquet(args.corpus)
        if args.out is not None:
            out = bm25_scores(docs, terms, id_col=args.id_col,
                              text_col=args.text_col)
            out.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(json.dumps({"terms": terms, "rows": n, "out": args.out}))
            return 0
        hits = bm25_topk(docs, terms, k=args.k, id_col=args.id_col,
                         text_col=args.text_col).collect()
        print(json.dumps({
            "terms": terms,
            "hits": [
                {"id": r[args.id_col], "rank": r["rank"],
                 "n_terms_matched": r["n_terms_matched"],
                 "score_x10000": r["score_x10000"]}
                for r in hits
            ],
        }))
        return 0

    if args.verb == "wet":
        from gemini_ocr_batch_spark.job import read_extracted
        from gemini_ocr_batch_spark.sources.warc import write_wet

        spark = get_spark(master=args.master)
        rows = read_extracted(spark, args.extracted)
        stats = write_wet(rows, args.out, n_files=args.files).collect()
        print(
            json.dumps(
                {
                    "wet_files": len(stats),
                    "records": sum(s.n_records for s in stats),
                    "bytes": sum(s.n_bytes for s in stats),
                    "path": args.out,
                }
            )
        )
        return 0

    if args.verb == "shard":
        spark = get_spark(master=args.master)
        try:
            out = _shard_job(spark, args.in_path, args.out, args.shards,
                             args.key_col, args.text_col)
        except ValueError as exc:
            print(f"shard: {exc}; pass --text-col or --text-col=''",
                  file=sys.stderr)
            return 2
        print(json.dumps(out))
        return 0

    if args.verb == "pipeline":
        # One config-driven command for the whole corpus-prep chain.
        # Each stage consumes the previous stage's on-disk output via
        # the SAME paths the standalone verbs use, so `pipeline` and a
        # verb-by-verb run produce identical artifacts; the extraction
        # checkpoint makes the chain resumable (a rerun extracts
        # nothing and deterministically rewrites the downstream tables).
        from gemini_ocr_batch_spark.config import (
            ConfigError,
            load_config,
            load_dotenv,
            resolve_config_path,
        )
        import os

        from gemini_ocr_batch_spark.operators.webtext import run_curation_job

        load_dotenv(".env")  # same resolution order as `run`
        try:
            cfg = load_config(resolve_config_path(args.config))
        except ConfigError as exc:
            print(str(exc), file=sys.stderr)
            return 2
        if not cfg.curation.curated_out:
            print(
                "pipeline: curation.curated_out required (the curate "
                "stage's output directory)",
                file=sys.stderr,
            )
            return 2
        # fail on a half-configured decontam section BEFORE the expensive
        # stages run: the standalone verb exits 2 for the same config,
        # and silently skipping the sweep would ship a contaminated
        # corpus with no signal
        dec_set = (cfg.decontam.benchmark_path, cfg.decontam.flags_out)
        if any(dec_set) and not all(dec_set):
            missing = ("decontam.flags_out" if cfg.decontam.benchmark_path
                       else "decontam.benchmark_path")
            print(
                f"pipeline: {missing} required (decontam is configured "
                "half-way; set both benchmark_path and flags_out, or "
                "neither to skip the stage)",
                file=sys.stderr,
            )
            return 2
        spark = get_spark(
            master=args.master or cfg.spark.master,
            shuffle_partitions=cfg.spark.shuffle_partitions,
        )
        summary: dict = {}

        try:
            res = _extract_stage(
                spark,
                cfg.paths.pages,
                cfg.paths.out,
                args.input_format,
                cfg.filters,
                cfg.checkpoint,
                cfg.execution.max_retries,
                cfg.execution.partitions,
                cfg.execution.track_inflight,
            )
        except RuntimeError as exc:
            print(
                f"checkpoint.backend: iceberg requested but {exc}",
                file=sys.stderr,
            )
            return 2
        summary["extract"] = {
            "passes": res.passes,
            "extracted_rows": res.extracted_rows,
            "success_rows": res.success_rows,
            "failed_rows": res.failed_rows,
        }

        summary["curate"] = run_curation_job(
            spark,
            cfg.paths.out,
            cfg.curation.curated_out,
            min_quality_x10000=cfg.curation.min_quality_x10000,
            max_rep_x10000=cfg.curation.max_rep_x10000,
            normalize_nfkc=cfg.curation.normalize_nfkc,
            gopher_rules=cfg.curation.gopher_rules,
        )

        if cfg.decontam.benchmark_path and cfg.decontam.flags_out:
            from gemini_ocr_batch_spark.operators.decontam import (
                run_decontamination_job,
            )

            summary["decontaminate"] = run_decontamination_job(
                spark,
                cfg.paths.out,
                cfg.decontam.benchmark_path,
                cfg.decontam.flags_out,
                n=cfg.decontam.ngram,
                min_overlap=cfg.decontam.min_overlap,
                bench_text_col=cfg.decontam.benchmark_text_col,
            )

        if cfg.sharding.out:
            try:
                summary["shard"] = _shard_job(
                    spark,
                    os.path.join(cfg.curation.curated_out, "corpus"),
                    cfg.sharding.out,
                    cfg.sharding.n_shards,
                    cfg.sharding.key_col,
                    cfg.sharding.text_col,
                )
            except ValueError as exc:
                # the upstream stages DID run and wrote artifacts —
                # print their audit counts before failing, so the one
                # JSON line the contract promises is not lost
                print(json.dumps(summary))
                print(
                    f"pipeline: shard stage: {exc}; fix sharding."
                    "key_col/text_col in the config (text_col '' skips "
                    "token stats)",
                    file=sys.stderr,
                )
                return 2
        print(json.dumps(summary))
        return 0

    if args.verb == "status":
        import os

        from gemini_ocr_batch_spark.checkpoint import ParquetCheckpointStore
        from gemini_ocr_batch_spark.config import (
            ConfigError,
            load_config,
            load_dotenv,
            resolve_config_path,
        )

        load_dotenv(".env")  # same resolution order as `run`
        cfg = None
        cfg_path = resolve_config_path(args.config)
        if cfg_path:
            try:
                cfg = load_config(cfg_path)
            except ConfigError as exc:
                print(str(exc), file=sys.stderr)
                return 2
        out_dir = args.out or (cfg.paths.out if cfg else None)
        if not out_dir:
            print("missing --out (flag or config paths.out)", file=sys.stderr)
            return 2
        spark = get_spark(master=args.master or (cfg.spark.master if cfg else None))
        if cfg and cfg.checkpoint.backend == "iceberg":
            # same backend dispatch as the run verb — a parquet store
            # pointed at an iceberg-backed run would report an empty
            # checkpoint for a finished job
            from gemini_ocr_batch_spark.checkpoint import (
                IcebergCheckpointStore,
            )

            try:
                store = IcebergCheckpointStore(
                    spark, cfg.checkpoint.iceberg_table
                )
            except RuntimeError as exc:
                print(
                    f"checkpoint.backend: iceberg requested but {exc}",
                    file=sys.stderr,
                )
                return 2
        else:
            store = ParquetCheckpointStore(os.path.join(out_dir, "checkpoint"))
        counts = {
            r["status"]: r["n"]
            for r in store.counts_by_status(spark).collect()
        }
        lineage_path = os.path.join(out_dir, "lineage")
        lineage = {}
        if os.path.isdir(lineage_path):
            from pyspark.sql import functions as F

            ldf = spark.read.parquet(lineage_path)
            row = ldf.agg(
                F.sum("row_count").alias("rows"),
                F.sum("success_count").alias("ok"),
                F.sum("failure_count").alias("bad"),
                F.countDistinct("partition_id").alias("partitions"),
            ).collect()[0]
            lineage = {k: int(row[k] or 0) for k in ("rows", "ok", "bad", "partitions")}
        print(json.dumps({"checkpoint": counts, "lineage": lineage}))
        return 0

    return 1


if __name__ == "__main__":
    sys.exit(main())
