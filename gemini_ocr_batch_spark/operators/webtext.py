"""Webtext corpus-preparation operators beyond dedup/quality: PII
redaction, URL canonicalization, repetition scoring.

Public heuristics these implement: C4's text cleaning (Raffel et al.,
JMLR 2020), Gopher's repetition filters (Rae et al., 2021, §A1.1),
RefinedWeb's URL normalization (Penedo et al., 2023). The reference repo
has no analog — these are the corpus-prep ops a 100 TB crawl pipeline
needs between extraction (kernels/) and dedup (operators/dedup.py).

All pure JVM column expressions (regexp / array / higher-order
functions), no Python in the hot path, zero shuffles — every operator is
a projection on the scan's own splits. The higher-order functions
(``filter``, ``aggregate``, ``zip_with``, ``transform``, ``array_sort``)
are interpreted (``CodegenFallback``), so an array several rules read is
projected into its own column once (``__toks``, ``__grams``) rather than
re-derived inside each rule. Regex patterns
are restricted to syntax with identical semantics in Java regex and RE2
so each operator has an exact DuckDB oracle twin (redact_pii and
repetition_score are driver-registered; canonicalize_urls rides
__spark_entry__.local_parity()).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.functions.hashing import shingles, tokens
from gemini_ocr_batch_spark.operators.textstats import (
    fingerprint_sql,
    quality_x10000_sql,
    with_tokens,
)

# Deliberately simple patterns: no lookaround, no backrefs, no \b-adjacent
# unicode classes — the subset where Java regex (Spark) and RE2 (DuckDB)
# agree byte-for-byte.
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z][A-Za-z]+"
IPV4_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"

EMAIL_TOKEN = "<EMAIL>"
IP_TOKEN = "<IP>"

# Query parameters that never change page content (RefinedWeb-style URL
# normalization) — declared so the oracle carries the same literals.
TRACKING_PARAM_RE = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)="


def redact_pii(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(id, text_redacted, n_emails, n_ipv4): emails then IPv4 literals
    replaced by sentinel tokens (order matters — a host part can contain
    digit runs; the oracle replays the same order), with match counts
    for a redaction audit table."""
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(EMAIL_RE))
    after_email = F.regexp_replace(t, EMAIL_RE, EMAIL_TOKEN)
    n_ipv4 = F.regexp_count(after_email, F.lit(IPV4_RE))
    redacted = F.regexp_replace(after_email, IPV4_RE, IP_TOKEN)
    return docs.select(
        F.col(id_col),
        redacted.alias("text_redacted"),
        n_emails.cast("int").alias("n_emails"),
        n_ipv4.cast("int").alias("n_ipv4"),
    ).orderBy(id_col)


def canonical_url_col(url) -> F.Column:
    """Canonical form of a URL column: scheme+host lowercased, fragment
    dropped, tracking params removed, surviving params sorted.

    Pure expression — usable inside any projection (dedup keys, source
    rollups) without a join."""
    u = F.col(url) if isinstance(url, str) else url
    scheme_host = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)", 1))
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    return F.concat(
        scheme_host,
        path,
        F.when(
            F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
        ).otherwise(F.lit("")),
    )


def canonicalize_urls(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """(url, url_canonical) for a pages-shaped table."""
    return pages.select(
        F.col(url_col), canonical_url_col(url_col).alias("url_canonical")
    ).orderBy(url_col)


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         max_symbol_x10000: int = 1000,
                         max_bullet_x10000: int = 9000,
                         max_ellipsis_x10000: int = 3000,
                         min_alpha_x10000: int = 8000,
                         min_words: int = 50,
                         max_words: int = 100_000,
                         min_word_len_x100: int = 300,
                         max_word_len_x100: int = 1000,
                         min_stopword_hits: int = 2) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021 §A1.1,
    public): symbol-to-word ratio ('#' and ellipses), fraction of
    bullet-started lines, fraction of ellipsis-ended lines, fraction of
    words containing an alphabetic character, word-count bounds
    [min_words, max_words], mean word length bounds (fixed-point x100,
    published 3-10 chars), and presence of at least
    ``min_stopword_hits`` of the 8 published English stopwords.

    The stopword rule (and the published thresholds generally) are
    ENGLISH-calibrated — a multilingual pass should set
    ``min_stopword_hits=0`` or gate per-language; the alpha rule itself
    is Unicode-correct (``\\p{L}``), so non-Latin scripts are not
    structurally zeroed (r5 ADVICE).

    All four are pure column expressions over the row (split + HOF
    filters whose lambdas touch only their argument and literals — the
    PLANS.md HOF-capture audit rule), fixed-point x10000 so the DuckDB
    twin is hash-exact; zero shuffle beyond the caller's presentation
    sort.  Returns per-rule ratios + booleans and the composed
    ``gopher_ok``; thresholds default to the published values.

    r6 fidelity fixes (ADVICE): the alpha rule uses the Unicode letter
    class ``\\p{L}`` (identical in Java regex and RE2), not ASCII
    ``[a-z]`` — non-Latin-script documents (zh/ru/ja/ar) score their
    real alpha fraction instead of a silent 0; tokens are built from the
    COALESCED text so a NULL document yields all-zero ratios and real
    ``false`` flags (never NULL booleans, which break negated filters
    downstream); and the symbol ratio counts the Unicode ellipsis ``…``
    alongside ``...``, matching the published Gopher symbol set.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.expr(tokens(f"coalesce({text_col}, '')"))
    n_words = F.size(toks)
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_uni_ellipsis = F.length(text) - F.length(
        F.regexp_replace(text, "…", "")
    )
    n_ellipsis = (
        F.length(text)
        - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) / 3
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))
    )
    n_ell_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$|…\s*$"))
    )
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike(r"\p{L}")))
    n_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    n_stop = F.size(
        F.array_intersect(
            toks, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        )
    )

    def ratio(num, den, scale=10000):
        return F.expr(
            f"CAST(({num} * {scale}) div greatest({den}, 1) AS BIGINT)"
        )

    out = docs.select(
        F.col(id_col),
        (n_hash + n_uni_ellipsis + F.floor(n_ellipsis))
        .cast("bigint").alias("__sym"),
        n_words.cast("bigint").alias("__w"),
        n_bullet.cast("bigint").alias("__b"),
        n_ell_lines.cast("bigint").alias("__e"),
        n_lines.cast("bigint").alias("__l"),
        n_alpha.cast("bigint").alias("__a"),
        n_chars.alias("__c"),
        n_stop.cast("bigint").alias("__s"),
    ).select(
        id_col,
        ratio("__sym", "__w").alias("symbol_ratio_x10000"),
        ratio("__b", "__l").alias("bullet_frac_x10000"),
        ratio("__e", "__l").alias("ellipsis_frac_x10000"),
        ratio("__a", "__w").alias("alpha_frac_x10000"),
        F.col("__w").alias("n_words"),
        ratio("__c", "__w", 100).alias("word_len_x100"),
        F.col("__s").alias("stopword_hits"),
    ).select(
        id_col,
        "symbol_ratio_x10000",
        "bullet_frac_x10000",
        "ellipsis_frac_x10000",
        "alpha_frac_x10000",
        "n_words",
        "word_len_x100",
        "stopword_hits",
        (F.col("symbol_ratio_x10000") <= max_symbol_x10000).alias(
            "symbol_ok"
        ),
        (F.col("bullet_frac_x10000") <= max_bullet_x10000).alias(
            "bullet_ok"
        ),
        (F.col("ellipsis_frac_x10000") <= max_ellipsis_x10000).alias(
            "ellipsis_ok"
        ),
        (F.col("alpha_frac_x10000") >= min_alpha_x10000).alias("alpha_ok"),
        (
            (F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words)
        ).alias("word_count_ok"),
        (
            (F.col("word_len_x100") >= min_word_len_x100)
            & (F.col("word_len_x100") <= max_word_len_x100)
        ).alias("word_len_ok"),
        (F.col("stopword_hits") >= min_stopword_hits).alias("stopword_ok"),
    ).withColumn(
        "gopher_ok",
        F.col("symbol_ok") & F.col("bullet_ok") & F.col("ellipsis_ok")
        & F.col("alpha_ok") & F.col("word_count_ok")
        & F.col("word_len_ok") & F.col("stopword_ok"),
    ).orderBy(id_col)
    return out


def latest_snapshot(pages: DataFrame, key_col: str = "url",
                    ts_col: str = "warc_ts",
                    canonicalize: bool = False,
                    tiebreak_col: str = "text",
                    slim: bool = False) -> DataFrame:
    """Crawl revisit resolution: one row per key — the most recent
    snapshot — plus ``n_snapshots`` (how many captures were collapsed).

    A crawl archive carries the same url at many capture timestamps;
    every corpus pass wants exactly one.  ``canonicalize=True`` first
    rewrites the key with :func:`canonical_url_col`, so tracking-param /
    host-case variants of one page also collapse.  ``tiebreak_col``
    (default ``text``) is the column whose digest breaks (key, ts) ties
    deterministically — parameterized so key/ts-generic inputs without a
    ``text`` column still analyze.

    Scale notes — two shapes, MEASURED in BENCH.md (r6, 1.1M skewed
    snapshots, 400-capture hot keys):

    - ``slim=False`` (default): a single ``row_number`` window.  On a
      plain source that is ONE hash shuffle of full rows; on a source
      bucketed by the key (the Iceberg crawl-store layout) the bucket
      clustering satisfies the window's distribution and the plan has
      ZERO exchanges — text never moves at all (plan-pinned).  Won both
      layouts in the bench (2.0 s plain / 0.22 s bucketed).
    - ``slim=True``: winners elected over ONLY (key, ts, tiebreak
      digest) — the window exchange carries three slim columns — then an
      equi-join on those re-selects the winning full rows.  Measured
      SLOWER at both layouts (4.9 s plain / 0.49 s bucketed): on plain
      sources the join re-shuffles the probe side anyway, on bucketed
      sources the window is already exchange-free.  It remains for the
      one niche it wins: an UNBUCKETED source whose distinct-key winner
      set is small enough for AQE to broadcast, where the probe side
      then streams unshuffled.  Caveat: rows byte-equal on all three of
      (key, ts, tiebreak digest) all survive in slim mode (the window
      form keeps exactly one); such rows are exact capture duplicates,
      upstream exact-dedup territory.
    """
    key = canonical_url_col(F.col(key_col)) if canonicalize else F.col(key_col)
    tb = F.md5(F.coalesce(F.col(tiebreak_col).cast("string"), F.lit("")))
    if slim:
        # probe side joins on the RAW key column when possible so a
        # bucketed/bucket-sorted source's layout is recognized and the
        # big side needs no exchange; a canonicalized (derived) key can
        # never match a storage layout, so only then is a helper added
        if canonicalize:
            probe = pages.withColumn("__ckey", key)
            probe_key = "__ckey"
        else:
            probe = pages
            probe_key = key_col
        slim_rows = probe.select(
            F.col(probe_key).alias("__k"),
            F.col(ts_col).alias("__ts"),
            tb.alias("__tb"),
        )
        w = Window.partitionBy("__k").orderBy(F.desc("__ts"), "__tb")
        winners = (
            slim_rows.withColumn("rn", F.row_number().over(w))
            .withColumn(
                "n_snapshots",
                F.count(F.lit(1))
                .over(Window.partitionBy("__k"))
                .cast("int"),
            )
            .filter(F.col("rn") == 1)
            .select("__k", "__ts", "__tb", "n_snapshots")
        )
        probe = probe.withColumn("__ptb", tb)
        # eqNullSafe on ts: a key whose winning capture has a NULL
        # timestamp must re-select like the window form does (plain ==
        # evaluates NULL and silently drops the key — r6 review find)
        cond = (
            probe[probe_key].eqNullSafe(winners["__k"])
            & probe[ts_col].eqNullSafe(winners["__ts"])
            & (probe["__ptb"] == winners["__tb"])
        )
        out = (
            probe.join(winners, cond)
            .drop("__k", "__ts", "__tb", "__ptb")
        )
        return out.drop("__ckey") if canonicalize else out
    keyed = pages.withColumn("__key", key)
    w = Window.partitionBy("__key").orderBy(F.desc(ts_col), tb)
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_snapshots",
            F.count(F.lit(1)).over(Window.partitionBy("__key")).cast("int"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn", "__key")
    )


def snapshot_delta(old: DataFrame, new: DataFrame, key_col: str = "url",
                   text_col: str = "text",
                   digest_col: str | None = None) -> DataFrame:
    """Incremental-crawl delta (CDX-style): classify every key across two
    crawl snapshots as ``added`` / ``removed`` / ``changed`` /
    ``unchanged`` by content digest.

    The recrawl workflow this serves: a new crawl lands next to the
    previous one, and every downstream pass (re-extraction, dedup,
    index refresh) wants to touch only ``added`` + ``changed`` keys —
    at Common-Crawl scale that is typically <20% of the table, so the
    delta gates an ~5× saving on every pass behind it.

    Scale shape: each side is reduced to ``(key, digest)`` BEFORE the
    full-outer join, so the one shuffle carries two ~32-byte columns per
    row — text/html never moves. Inputs with duplicate keys (unresolved
    revisits) are collapsed with ``min(digest)`` for determinism; run
    :func:`latest_snapshot` first when revisit semantics matter. Passing
    ``digest_col`` skips the md5 and uses a precomputed digest (the
    checkpoint table already stores one per completed key).

    DuckDB twin: FULL OUTER JOIN on key over the same
    ``md5(coalesce(text, ''))`` reductions with an identical CASE chain.
    """
    def slim(df: DataFrame, out: str) -> DataFrame:
        # NULL digests (a precomputed digest_col can carry them, e.g.
        # checkpoint error rows) coalesce to '' — the outer join uses
        # digest nullity as the EXISTENCE test, so an un-coalesced NULL
        # would misclassify a present key as added/removed. The md5 path
        # coalesces its input and can never be NULL.
        d = (
            F.coalesce(F.col(digest_col), F.lit(""))
            if digest_col
            else F.md5(F.coalesce(F.col(text_col), F.lit("")))
        )
        return (
            df.select(F.col(key_col).alias("__key"), d.alias(out))
            .groupBy("__key")
            .agg(F.min(out).alias(out))
        )

    joined = slim(old, "old_digest").join(
        slim(new, "new_digest"), "__key", "full_outer"
    )
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(
            F.col("old_digest") == F.col("new_digest"), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.col("__key").alias(key_col),
        "old_digest",
        "new_digest",
        status.alias("status"),
    )


def normalize_text(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   out_col: str | None = None) -> DataFrame:
    """Unicode NFKC normalization + zero-width stripping over a text
    column (see ``kernels/normalize.py`` for the rule rationale);
    ``out_col=None`` replaces ``text_col`` in place, otherwise the
    normalized text lands in a new column and the input passes through.

    Engine-only (DuckDB has no NFKC): an Arrow-batched scalar pandas
    UDF — pandas' vectorized ``Series.str.normalize`` — fuzz-pinned
    against the independently written pure-python twin
    ``kernels.normalize.normalize_text_py``.  A pure projection: no
    shuffle, linear in bytes, embarrassingly parallel on the scan's own
    splits.  Feed it AHEAD of fingerprinting/dedup (the
    ``curation.normalize_nfkc`` config flag wires it into the curate
    job) so NFC/NFKC renderings of one text share a fingerprint.
    """
    from gemini_ocr_batch_spark.kernels.normalize import ZERO_WIDTH

    zw_re = "[" + ZERO_WIDTH + "]"

    @F.pandas_udf("string")
    def _nfkc(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFKC").str.replace(zw_re, "", regex=True)

    target = out_col or text_col
    return docs.withColumn(target, _nfkc(F.col(text_col)))


def repetition_score(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 2) -> DataFrame:
    """Gopher-style repetition: the fraction of all word n-grams occupied
    by the single most frequent n-gram, as an exact x10000 bigint
    (top_gram_count * 10000 / total_grams, floored — operands are bounded
    by 10^4 x grams-per-doc, far inside float64's exact-integer range, so
    floor(a/b) is exact and matches DuckDB's integral `//`).

    ZERO-shuffle by construction: the per-document statistic is computed
    entirely in-array — sort the gram array, then one higher-order fold
    finds the longest equal-run (== the top gram's count, since the array
    is sorted). The obvious explode -> groupBy(doc, gram) -> groupBy(doc)
    alternative ships every n-gram of the corpus through two exchanges;
    this plan ships nothing — a projection on the scan's own splits
    (interpreted higher-order functions over arrays projected once),
    embarrassingly parallel at any scale.
    """
    rep, total = repetition_x10000_sql("__grams")
    return with_token_grams(docs, text_col, n).selectExpr(
        id_col, f"{rep} AS rep_x10000", f"{total} AS n_grams"
    ).orderBy(id_col)


def with_token_grams(docs: DataFrame, text_col: str = "text",
                     n: int = 2) -> DataFrame:
    """``docs`` plus ``__toks`` (see ``textstats.with_tokens``) and
    ``__grams``, its word ``n``-grams sorted, each projected once so the
    split and the shingle sort run once per row however many rules read
    them (the shingle text names its operand n+1 times)."""
    return with_tokens(docs, text_col).selectExpr(
        "*", f"array_sort({shingles('__toks', n)}) AS __grams"
    )


def repetition_x10000_sql(grams: str) -> tuple[str, str]:
    """(rep_x10000, n_grams) as Spark SQL text over a SORTED gram array
    (``__grams`` of :func:`with_token_grams`) — the single source of the
    repetition formula, shared by :func:`repetition_score` and
    :func:`curation_flags`. The fold carries (previous gram, current run,
    best run); on a sorted array the best run is the top gram's count."""
    run = "CASE WHEN g = acc.prev THEN acc.run + 1 ELSE 1 END"
    top_run = (
        f"aggregate({grams}, named_struct('prev', '', 'run', 0, 'best', 0),"
        f" (acc, g) -> named_struct('prev', g, 'run', {run},"
        f" 'best', greatest(acc.best, {run})), acc -> acc.best)"
    )
    rep = (
        f"CASE WHEN size({grams}) > 0 THEN CAST(floor(CAST({top_run} AS"
        f" BIGINT) * 10000 / size({grams})) AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
    )
    return rep, f"CAST(size({grams}) AS BIGINT)"


def curation_flags(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality_x10000: int = 3000,
    max_rep_x10000: int = 5000,
    ordered: bool = True,
) -> DataFrame:
    """The pre-training curation decision, composed end to end: exact-dup
    canonical selection + quality floor + repetition ceiling, one row per
    document with per-rule flags and the final ``keep``.

    Thresholds compare FIXED-POINT bigints (the same x10000 values the
    scoring operators emit), so the keep decision is bit-identical across
    engines — no float-at-the-boundary flakiness.

    Shuffle shape at scale: the quality/repetition columns are in-array
    projections; the only exchange is the window over ``fingerprint`` for
    canonical selection, and only (id, fingerprint, two bigints) rows
    cross it — never the text.

    Per-row shape: the token array and the sorted bigram array are each
    projected once (:func:`with_token_grams`) and the fingerprint, quality
    and repetition rules read those columns — the optimized plan holds
    one ``split`` and one ``zip_with`` (plan-pinned). Inline, the
    interpreted higher-order functions re-ran the split ~10 times per row
    and the shingle array and its sort twice.
    """
    rep, _ = repetition_x10000_sql("__grams")
    slim = with_token_grams(docs, text_col).selectExpr(
        id_col,
        f"{fingerprint_sql('__toks')} AS fingerprint",
        f"{quality_x10000_sql(text_col, '__toks')} AS quality_x10000",
        f"{rep} AS rep_x10000",
    )
    out = slim.selectExpr(
        id_col,
        f"{id_col} = min({id_col}) OVER (PARTITION BY fingerprint)"
        " AS is_canonical",
        f"quality_x10000 >= {int(min_quality_x10000)} AS quality_ok",
        f"rep_x10000 <= {int(max_rep_x10000)} AS repetition_ok",
    ).selectExpr(
        "*", "is_canonical AND quality_ok AND repetition_ok AS keep"
    )
    # presentation order for the oracle harness; bulk writers pass
    # ordered=False and skip the global range exchange
    return out.orderBy(id_col) if ordered else out


def line_dedup(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Corpus-level line dedup (the C4 §2.2 / RefinedWeb rule): every
    distinct line keeps only its FIRST occurrence — (min doc, min
    line_no) — and documents are reassembled from their surviving lines
    in order. This is what strips cross-site boilerplate ("subscribe to
    our newsletter") that per-document dedup can never see.

    Returns (id, text_deduped, n_lines, n_kept); a document whose every
    line occurs earlier elsewhere keeps an empty string.

    Shuffle shape at scale: the winner election groups by the 32-byte
    line digest with a map-side-combinable min((doc, line_no)) — line
    TEXT does not cross that exchange; the one movement of text is the
    digest-keyed join that reassembles kept lines, each line exactly
    once. Exact-match semantics (md5 of the raw line) — normalize
    upstream if fuzzy matching is wanted.
    """
    lines = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    )
    hashed = lines.select(
        "doc", "line_no", "line", F.md5("line").alias("h")
    )
    wins = hashed.select("doc", "line_no", "h").groupBy("h").agg(
        F.min(F.struct("doc", "line_no")).alias("w")
    )
    kept = (
        hashed.join(wins, "h")
        .filter(
            (F.col("doc") == F.col("w.doc"))
            & (F.col("line_no") == F.col("w.line_no"))
        )
        .select("doc", "line_no", "line")
    )
    rebuilt = kept.groupBy("doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_deduped"),
        F.count("*").cast("int").alias("n_kept"),
    )
    totals = docs.select(
        F.col(id_col).alias("doc"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines"),
    )
    return (
        totals.join(rebuilt, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy(id_col)
    )


def domain_quality_stats(pages: DataFrame, url_col: str = "url",
                         text_col: str = "text") -> DataFrame:
    """Per-domain corpus quality rollup — the signal a domain-level
    curation pass (RefinedWeb §3.1 runs its blocklist AND manual domain
    inspection on exactly these numbers) ranks and thresholds to grow
    the blocklist: (domain, n_docs, n_unique_text, dup_frac_x10000,
    mean_quality_x10000), ordered by domain.

    - ``dup_frac_x10000``: fraction of the domain's documents whose text
      duplicates another document of the SAME domain (mirror/template
      farms score high).
    - ``mean_quality_x10000``: integer mean (sum div n — exact
      cross-engine) of the shared composite quality score.

    Scale shape: one slim projection (domain, 32-byte fingerprint,
    quality bigint) feeds a two-level aggregation — (domain,
    fingerprint) then domain — both map-side combinable; text never
    leaves the scan, and the shuffled rows are bounded by distinct
    (domain, fingerprint), not by corpus size.
    """
    from gemini_ocr_batch_spark.operators.blocklist import host_col

    slim = with_tokens(
        pages.select(
            host_col(url_col).alias("domain"),
            F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
        ),
        "__t",
    ).selectExpr(
        "domain",
        "md5(__t) AS fp",
        f"{quality_x10000_sql('__t', '__toks')} AS q",
    )
    per_text = slim.groupBy("domain", "fp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("q_sum"),
    )
    return (
        per_text.groupBy("domain")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_unique_text"),
            F.sum("q_sum").alias("q_total"),
        )
        .select(
            "domain",
            "n_docs",
            "n_unique_text",
            F.expr(
                "CAST(((n_docs - n_unique_text) * 10000) div n_docs"
                " AS BIGINT)"
            ).alias("dup_frac_x10000"),
            F.expr("CAST(q_total div n_docs AS BIGINT)").alias(
                "mean_quality_x10000"
            ),
        )
        .orderBy("domain")
    )


def run_curation_job(
    spark,
    extracted_dir: str,
    out_dir: str,
    min_quality_x10000: int = 3000,
    max_rep_x10000: int = 5000,
    normalize_nfkc: bool = False,
    gopher_rules: bool = False,
    gopher_kwargs: dict | None = None,
) -> dict:
    """The corpus-prep job over a finished extraction run: flag every
    success row (curation_flags keyed by url over extracted_text), write
    the flags table and the kept corpus, return audit counts.

    Scale notes: the flags computation shuffles only
    (url, fingerprint, 2 bigints); the ONE movement of text is the
    left-semi join that materializes the kept corpus — unavoidable for a
    rewrite keyed on a content-derived decision, and it carries each
    kept row exactly once. Flags are written before the corpus join and
    re-read, so the quality/repetition expressions are not recomputed on
    the join's probe side.
    """
    import os

    from gemini_ocr_batch_spark.job import read_extracted

    rows = read_extracted(spark, extracted_dir)
    if normalize_nfkc:
        # NFKC ahead of fingerprinting: byte-different renderings of one
        # text (fullwidth/ligature/NBSP/zero-width variants) collapse to
        # a single canonical-selection cluster
        rows = normalize_text(rows, id_col="url", text_col="extracted_text")
    flags_path = os.path.join(out_dir, "flags")
    corpus_path = os.path.join(out_dir, "corpus")
    flags_df = curation_flags(
        rows,
        id_col="url",
        text_col="extracted_text",
        min_quality_x10000=min_quality_x10000,
        max_rep_x10000=max_rep_x10000,
        ordered=False,
    )
    if gopher_rules:
        # RefinedWeb-shaped pass: the Gopher rule gate composes into the
        # keep decision. The join ships only (url, gopher_ok) — the
        # gopher metrics are scan-side projections like the quality
        # blend, and both sides key on url.
        # one row PER URL on the build side: the corpus can carry
        # duplicate url keys (the fixture plants them), and a plain join
        # would fan flags out multiplicatively (observed 1982 → 2022
        # rows); conservative AND across a url's rows via min(bool)
        g = (
            gopher_quality_flags(
                rows, id_col="url", text_col="extracted_text",
                **(gopher_kwargs or {}),
            )
            .groupBy("url")
            .agg(F.min("gopher_ok").alias("gopher_ok"))
        )
        flags_df = (
            flags_df.join(g, "url")
            .withColumn("keep", F.col("keep") & F.col("gopher_ok"))
        )
    flags_df.write.mode("overwrite").parquet(flags_path)
    # read back under the written frame's schema: no schema-inference job
    flags = spark.read.schema(flags_df.schema).parquet(flags_path)
    kept_keys = flags.filter("keep").select("url")
    rows.join(kept_keys, "url", "semi").write.mode("overwrite").parquet(
        corpus_path
    )
    aggs = {
        "input_rows": "count(*)",
        "kept": "sum(CAST(keep AS BIGINT))",
        "dup_rows": "sum(CAST(NOT is_canonical AS BIGINT))",
        "low_quality": "sum(CAST(NOT quality_ok AS BIGINT))",
        "repetitive": "sum(CAST(NOT repetition_ok AS BIGINT))",
    }
    if gopher_rules:
        aggs["gopher_fail"] = "sum(CAST(NOT gopher_ok AS BIGINT))"
    stats_row = flags.selectExpr(
        *[f"{e} AS {k}" for k, e in aggs.items()]
    ).collect()[0]
    out = {
        "input_rows": stats_row["input_rows"],
        "kept": stats_row["kept"] or 0,
        "dropped_duplicate": stats_row["dup_rows"] or 0,
        "dropped_low_quality": stats_row["low_quality"] or 0,
        "dropped_repetitive": stats_row["repetitive"] or 0,
        "flags_path": flags_path,
        "corpus_path": corpus_path,
    }
    if gopher_rules:
        out["dropped_gopher"] = stats_row["gopher_fail"] or 0
    return out
