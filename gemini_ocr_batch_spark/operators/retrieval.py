"""BM25 full-text retrieval over a document corpus.

Okapi BM25 (Robertson & Zaragoza 2009, the Lucene-default variant with
``idf = ln(1 + (N - df + 0.5) / (df + 0.5))``) re-expressed as pure
DataFrame algebra.  A training-data pipeline uses this constantly:
pulling topical subsets out of a crawl, spot-checking what a filter kept,
and probing for benchmark contamination by querying benchmark phrasing.

Spark-first shape (and why it scales):

- the query is a SMALL literal term list, so per-term statistics are
  **columns, not rows**: ``tf_t = size(filter(toks, x -> x = t))`` is a
  JVM higher-order function evaluated in the scan projection — there is
  no explode, no (doc, term) shuffle, and text never leaves the scan;
- corpus statistics (N, Σdl, per-term df) are ONE audit aggregate
  (a single collected row, the documented driver-side scalar pattern) —
  the classic "global idf" barrier reduced to its true size;
- scoring is a second stateless pass: per-term contributions are
  quantized to x10000 fixed-point **before** the cross-term sum, so the
  score is an integer sum — deterministic under any partitioning and
  bit-identical in the DuckDB oracle (float sums are association-order
  dependent; integer sums are not);
- ``bm25_topk`` ranks with orderBy+limit — TakeOrderedAndProject
  (per-partition top-k, merged), never a global sort.

The lambda bodies touch only their argument and an O(1) literal, so the
quadratic captured-operand HOF trap (functions/hashing.py shingles
docstring) does not apply.

Reference parity: the reference has no retrieval surface (its only text
probe is the scanner's key-membership filter, src/scanner.py:62-63);
this is part of the beyond-reference training-data-pipeline surface.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.functions.hashing import tokens
from gemini_ocr_batch_spark.operators.util import spread_small_input

_Q = 10_000  # fixed-point scale for score quantization


def _check_terms(terms: list[str]) -> list[str]:
    if not terms:
        raise ValueError("query terms must be non-empty")
    out = []
    for t in terms:
        t = t.strip().lower()
        if not t or any(c.isspace() for c in t) or "'" in t:
            raise ValueError(f"bad query term: {t!r}")
        out.append(t)
    if len(set(out)) != len(out):
        raise ValueError(f"duplicate query terms: {terms!r}")
    return out


def _tf_col(t: str):
    # tf as a size difference over array_remove, NOT a filter()-HOF count:
    # higher-order functions evaluate their lambda interpreted per element,
    # while array_remove is an ordinary codegen expression — same value
    # (both use standard string equality; split() never yields nulls),
    # measured ~2× cheaper per term on the corpus-stats pass (r7).  Both
    # operate on the ALREADY-projected token array, so the split runs once
    # per row.
    return F.size("__toks") - F.size(F.array_remove("__toks", t))


def corpus_stats(docs: DataFrame, terms: list[str],
                 text_col: str = "text") -> dict:
    """N, total token count, and per-term document frequency — one
    aggregate collapsing to a single row (the audit-aggregate pattern).

    Returns {"n_docs": int, "total_tokens": int, "df": {term: int}}.
    """
    terms = _check_terms(terms)
    # spread_small_input: a few-split local source would run the whole
    # tokenize+tf pass on one task (r7); no-op at production split counts
    base = spread_small_input(docs).selectExpr(f"{tokens(text_col)} AS __toks")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("__toks")).alias("tot"),
    ] + [
        F.sum((_tf_col(t) > 0).cast("bigint")).alias(f"df{i}")
        for i, t in enumerate(terms)
    ]
    row = base.agg(*aggs).collect()[0]
    return {
        "n_docs": int(row["n"]),
        "total_tokens": int(row["tot"] or 0),
        "df": {t: int(row[f"df{i}"] or 0) for i, t in enumerate(terms)},
    }


def bm25_scores(docs: DataFrame, terms: list[str],
                k1: float = 1.2, b: float = 0.75,
                id_col: str = "doc_id", text_col: str = "text",
                stats: dict | None = None) -> DataFrame:
    """Per-document BM25 score against a literal term list.

    Output: (id, n_terms_matched, score_x10000), one row per input row,
    ordered by id.  ``score_x10000`` is the integer sum of per-term
    quantized contributions
    ``floor(idf_t · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) · 10⁴ + ½)``;
    a term with tf = 0 contributes exactly 0 (no Laplace floor — BM25's
    absent-term contribution is genuinely zero).

    ``stats`` (from :func:`corpus_stats`) lets a service score many
    queries against frozen statistics without re-running the corpus
    aggregate; by default they are computed here (one extra pass).
    """
    terms = _check_terms(terms)
    if stats is None:
        stats = corpus_stats(docs, terms, text_col)
    n, tot = stats["n_docs"], stats["total_tokens"]
    if n == 0:
        raise ValueError("empty corpus")
    # exact-int double division — bit-identical to the oracle's
    # CAST(tot AS DOUBLE)/n (IEEE-754 division of the same values)
    avgdl = tot / n
    # tokenize the coalesced text so NULL-text rows get a real empty
    # token array: tf/dl/matched all become 0 (matching the oracle's
    # CASE ... ELSE 0), not NULL propagated through the sums
    base = spread_small_input(docs).select(
        F.col(id_col),
        F.expr(tokens(f"coalesce({text_col}, '')")).alias("__toks"),
    ).withColumn("__dl", F.size("__toks"))
    matched = F.lit(0).cast("bigint")
    score = F.lit(0).cast("bigint")
    for i, t in enumerate(terms):
        df = stats["df"][t]
        # idf argument folded to ONE double driver-side (exact-int
        # arithmetic, same value the oracle computes in SQL); the log
        # itself stays JVM-side (F.log ↔ DuckDB ln parity is pinned by
        # the lm/dsir oracle family)
        idf_arg = (n - df + 0.5) / (df + 0.5) + 1.0
        tf = _tf_col(t).alias(f"__tf{i}")
        base = base.withColumn(f"__tf{i}", tf)
        tfc = F.col(f"__tf{i}")
        contrib = (
            F.log(F.lit(idf_arg))
            * (tfc * F.lit(k1 + 1.0))
            / (tfc + F.lit(k1) * (F.lit(1.0 - b)
                                  + F.lit(b) * F.col("__dl") / F.lit(avgdl)))
        )
        score = score + F.when(
            tfc > 0,
            F.floor(contrib * _Q + F.lit(0.5)).cast("bigint"),
        ).otherwise(F.lit(0))
        matched = matched + (tfc > 0).cast("bigint")
    return (
        base.select(
            F.col(id_col),
            matched.alias("n_terms_matched"),
            score.alias("score_x10000"),
        )
        .orderBy(id_col)
    )


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text",
              stats: dict | None = None) -> DataFrame:
    """Top-k retrieval: (id, rank, n_terms_matched, score_x10000).

    TakeOrderedAndProject over the stateless scoring pass — per-partition
    top-k merged on the driver, no global sort; ties broken by id.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    scored = bm25_scores(docs, terms, k1, b, id_col, text_col, stats)
    top = scored.orderBy(F.desc("score_x10000"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("score_x10000"), F.asc(id_col))  # k rows only
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(id_col, "rank", "n_terms_matched", "score_x10000")
        .orderBy("rank")
    )


def bm25_oracle_sql(terms: list[str], table: str = "documents",
                    id_col: str = "doc_id", text_col: str = "text",
                    k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB twin of :func:`bm25_scores` over a registered view — the
    statistics (N, Σdl, df) computed IN SQL so the oracle stays valid at
    any scale factor, every double produced by the identical expression
    shape (see the module docstring's determinism notes)."""
    terms = _check_terms(terms)
    toks = f"regexp_split_to_array(trim(lower({text_col})), '\\s+')"
    tf_cols = ",\n                     ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n                     ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    matched = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(terms))
    )
    contribs = "\n                   + ".join(
        f"""(CASE WHEN tf{i} > 0 THEN CAST(floor(
                       ln((st.n - st.df{i} + 0.5) / (st.df{i} + 0.5) + 1.0)
                       * (tf{i} * {k1 + 1.0!r})
                       / (tf{i} + {k1!r} * ({1.0 - b!r}
                            + {b!r} * dl / (CAST(st.tot AS DOUBLE) / st.n)))
                       * 10000 + 0.5) AS BIGINT) ELSE 0 END)"""
        for i in range(len(terms))
    )
    return f"""
            WITH tok AS (
              SELECT {id_col}, {toks} AS toks FROM {table}
            ),
            base AS (
              SELECT {id_col}, len(toks) AS dl,
                     {tf_cols}
              FROM tok
            ),
            st AS (
              SELECT count(*) AS n, sum(dl) AS tot,
                     {df_cols}
              FROM base
            )
            SELECT {id_col},
                   CAST({matched} AS BIGINT) AS n_terms_matched,
                   CAST({contribs} AS BIGINT) AS score_x10000
            FROM base CROSS JOIN st
            ORDER BY {id_col}
        """


def idf_table(stats: dict) -> list[tuple[str, float]]:
    """(term, idf) pairs from :func:`corpus_stats` output — the
    driver-side audit view of what the score used."""
    n = stats["n_docs"]
    return [
        (t, math.log((n - df + 0.5) / (df + 0.5) + 1.0))
        for t, df in sorted(stats["df"].items())
    ]
