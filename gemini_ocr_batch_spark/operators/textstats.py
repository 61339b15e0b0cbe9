"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting. All native column expressions (JVM-side) except
the winnowing fingerprint, which is Arrow-batched. The token-array
rules are Spark SQL text (``functions/hashing.py``), one JVM call per
column instead of one per expression node.

These run over a ``documents``-shaped table (id, text, ...) and are the
training-data-pipeline companions of the extraction engine: the extracted
table feeds straight into them (extracted_text → text).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.functions.hashing import tokens
from gemini_ocr_batch_spark.operators.util import spread_small_input

# Tiny per-language marker lexicons (n-gram-heuristic language ID — the
# classic stopword-profile method, cf. Cavnar & Trenkle 1994). Deliberately
# small and declared, so the DuckDB oracle can carry the same literals.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "ich", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pas"),
    "es": ("el", "la", "los", "y", "es", "una", "que", "no"),
}

STOPWORDS_EN = LANG_MARKERS["en"] + ("it", "for", "on", "as", "with")


def token_count(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate (≈ chars/4, the
    published GPT-family rule of thumb) — both pure column math."""
    return docs.select(
        F.col(id_col),
        F.expr(f"size({tokens(text_col, lowercase=False)})").alias(
            "ws_tokens"
        ),
        F.ceil(F.length(F.col(text_col)) / F.lit(4)).cast("bigint").alias(
            "bpe_est_tokens"
        ),
    ).orderBy(id_col)


def with_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``docs`` plus ``__toks``, the token array of ``text_col``, projected
    once: every rule that reads it then shares one split per row (the
    higher-order functions reading it are interpreted, and subexpression
    elimination does not look inside them)."""
    return docs.selectExpr("*", f"{tokens(text_col)} AS __toks")


def _quality_terms(text: str, toks: str) -> dict[str, str]:
    """The quality features as SQL text over the text and its token
    array; literals are doubles (``D``), as the blend was built."""
    n_chars = f"length({text})"
    n_tokens = f"size({toks})"
    stop = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    n_stop = f"size(filter({toks}, x -> array_contains(array({stop}), x)))"

    def share(cls: str) -> str:
        # chars of a class: the length minus the length without them
        return (
            f"(({n_chars} - length(regexp_replace({text}, '{cls}', '')))"
            f" / greatest({n_chars}, 1))"
        )

    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        # no backslash in a class: the text must parse the same under
        # spark.sql.parser.escapedStringLiterals
        "punct_ratio": share("[.,;:!?]"),
        "upper_ratio": share("[A-Z]"),
        "stop_ratio": f"({n_stop} / greatest({n_tokens}, 1))",
    }


def _x10000(expr: str) -> str:
    # fixed-point 1e-4 (bigint) instead of round(): floor(x*1e4+0.5) is
    # bit-deterministic given bit-equal doubles, while round() half-way
    # behavior differs between engines (breaks oracle value hashes).
    return f"CAST(floor(({expr}) * 10000 + 0.5D) AS BIGINT)"


def quality_x10000_sql(text: str, toks: str) -> str:
    """The composite quality score as a fixed-point x10000 bigint, as
    Spark SQL text over the text expression ``text`` and its token array
    ``toks`` (``tokens(text)``, best a projected column — see
    :func:`with_tokens`) — the single source of the formula, shared by
    :func:`quality_score` and ``webtext.curation_flags`` so the blend
    cannot drift between the scoring and filtering surfaces."""
    q = _quality_terms(text, toks)
    score = (
        f"(least({q['n_tokens']} / 200.0D, 1.0D) * 0.4D"
        f" + least({q['stop_ratio']} * 5.0D, 1.0D) * 0.3D"
        f" + (1.0D - least({q['punct_ratio']} * 10.0D, 1.0D)) * 0.2D"
        f" + (1.0D - least({q['upper_ratio']} * 5.0D, 1.0D)) * 0.1D)"
    )
    return _x10000(score)


def quality_score(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Shallow quality features + a composite score in [0,1].

    Features: length, mean word length, punctuation ratio, stopword
    ratio, uppercase ratio (the stopword count is an interpreted
    ``filter`` over the token array, projected once). The composite is a
    fixed linear blend — deterministic and oracle-expressible.
    """
    q = _quality_terms(text_col, "__toks")
    return with_tokens(docs, text_col).selectExpr(
        id_col,
        f"{q['n_tokens']} AS n_tokens",
        _x10000(f"{q['n_chars']} / greatest({q['n_tokens']}, 1)")
        + " AS mean_word_len",
        f"{_x10000(q['punct_ratio'])} AS punct_ratio",
        f"{_x10000(q['stop_ratio'])} AS stopword_ratio",
        f"{quality_x10000_sql(text_col, '__toks')} AS quality",
    ).orderBy(id_col)


def language_id(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Predict language by marker-token hit counts; deterministic
    tie-break by language code. Returns (id, pred_lang, hits)."""
    toks = F.expr(tokens(text_col))
    cols = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        hits = F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))
        cols.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*cols))
    return docs.select(
        F.col(id_col),
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "pred_lang"
        ),
        best["hits"].alias("marker_hits"),
    ).orderBy(id_col)


def fingerprint_sql(toks: str) -> str:
    """The exact-dedup key as SQL text over a token array: md5 of the
    single-space-joined lowercased tokens."""
    return f"md5(array_join({toks}, ' '))"


def content_fingerprint(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Whole-document fingerprint: md5 of whitespace-normalized lowercased
    text — the exact-dedup key, oracle-expressible."""
    return docs.selectExpr(
        id_col, f"{fingerprint_sql(tokens(text_col))} AS fingerprint"
    ).orderBy(id_col)


# -- winnowing (rolling-hash) fingerprint: the non-SQL path ----------------

WINNOW_K = 5  # k-gram length (chars)
WINNOW_W = 8  # winnow window


def _winnow_one(text: str) -> list[int]:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003):
    polynomial rolling hash over char k-grams, min per window, dedup
    consecutive. Pure function — unit-testable without Spark."""
    s = " ".join(text.lower().split())
    if len(s) < WINNOW_K:
        return []
    B, M = 131, (1 << 31) - 1
    hashes = []
    h = 0
    power = pow(B, WINNOW_K - 1, M)
    for i, ch in enumerate(s):
        h = (h * B + ord(ch)) % M
        if i >= WINNOW_K:
            h = (h - ord(s[i - WINNOW_K]) * power * B) % M
        if i >= WINNOW_K - 1:
            hashes.append(h)
    out: list[int] = []
    for i in range(len(hashes) - WINNOW_W + 1):
        m = min(hashes[i : i + WINNOW_W])
        if not out or out[-1] != m:
            out.append(m)
    return out


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """(id, fingerprints array<long>) via Arrow-batched mapInPandas."""
    out_schema = f"{id_col} long, fingerprints array<long>"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "fingerprints": [
                        _winnow_one(t or "") for t in pdf[text_col]
                    ],
                }
            )

    return spread_small_input(docs.select(id_col, text_col)).mapInPandas(
        batches, out_schema
    )


# -- corpus-level token statistics -----------------------------------------


def corpus_token_stats(docs: DataFrame, group_col: str = "lang",
                       text_col: str = "text",
                       exact: bool = True) -> DataFrame:
    """Per-group token-count distribution: the corpus report every mixing
    / budget decision starts from (n docs, total tokens, mean, p50/p90/p99
    document length per language or source).

    ``exact=True`` uses Spark's sort-based exact ``percentile`` — right
    for bounded group cardinality (languages, sources) at report time and
    replayable by DuckDB's ``quantile_cont`` (both linear-interpolate on
    the sorted values).  At 10^12 rows per group flip ``exact=False``:
    ``percentile_approx`` (KLL-sketch-style, mergeable map-side) never
    concentrates a group's values on one reducer, at the cost of oracle
    exactness — the scale/verification trade is the caller's, explicitly.

    All quantiles are fixed-point x100 bigints so the value-hash is
    engine-stable.
    """
    n_tok = F.expr(f"size({tokens(text_col)})")

    def pct(p: float, alias: str) -> F.Column:
        if exact:
            q = F.percentile(n_tok.cast("double"), F.lit(p))
        else:
            q = F.percentile_approx(
                n_tok.cast("double"), F.lit(p), F.lit(10_000)
            )
        return (
            F.floor(q * 100 + F.lit(0.5)).cast("bigint").alias(alias)
        )

    return (
        docs.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tok).cast("bigint").alias("total_tokens"),
            F.floor(F.avg(n_tok) * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("mean_tokens_x100"),
            pct(0.5, "p50_x100"),
            pct(0.9, "p90_x100"),
            pct(0.99, "p99_x100"),
        )
        .orderBy(group_col)
    )
