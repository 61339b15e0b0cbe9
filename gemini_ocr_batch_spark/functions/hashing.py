"""Engine-portable deterministic hashing.

Dedup/LSH operators need hashes that an independent oracle (DuckDB) can
reproduce exactly, so everything routes through md5 hex strings:

- ``h_hex(col)``      — md5 hex digest (identical in any engine).
- ``h60(col)``        — first 15 hex chars as a non-negative 60-bit bigint.
  Spark:  cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)
  DuckDB: cast(('0x' || substr(md5(x), 1, 15)) as bigint)
- lexicographic MIN over md5 hex strings is a valid min-hash (a uniform
  permutation of the shingle space), portable with zero numeric edge cases.

Spark's native xxhash64/hash are faster but engine-private; they are used
only where no oracle must match (e.g. salting in operators/extract.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def h_hex(col: Column | str) -> Column:
    return F.md5(F.col(col) if isinstance(col, str) else col)


def h60(col: Column | str) -> Column:
    return F.conv(F.substring(h_hex(col), 1, 15), 16, 10).cast("bigint")


def h60_sql_duckdb(expr: str) -> str:
    """The DuckDB-side twin of ``h60`` for oracle queries."""
    return f"cast(('0x' || substr(md5({expr}), 1, 15)) as bigint)"


# Java regex's ``\s`` class written as its raw characters: the builders
# below are SQL text, and a backslash escape in a SQL string literal changes
# meaning when ``spark.sql.parser.escapedStringLiterals`` is set.
_WHITESPACE = " \t\n\x0b\f\r"


def tokens(expr: str, lowercase: bool = True) -> str:
    """Whitespace tokenization, shared definition for all text operators,
    as Spark SQL text over the SQL expression ``expr`` (a column name is
    one).  Use it through ``F.expr``/``selectExpr``; project the array
    into its own column when more than one expression reads it, since the
    higher-order functions that consume it are interpreted and re-run an
    inline split once per mention.

    DuckDB twin: ``regexp_split_to_array(trim(lower(x)), '\\s+')``.
    """
    if lowercase:
        expr = f"lower({expr})"
    return f"split(trim({expr}), '[{_WHITESPACE}]+')"


def shingles(toks: str, n: int) -> str:
    """Word n-gram shingles (order-preserving) as Spark SQL text over the
    token-array expression ``toks`` — pass a projected column: the text
    names it n+1 times.

    DuckDB twin: join against generate_series(1, len(tokens)-n+1) and
    array_to_string(tokens[i : i+n-1], ' ').

    Built as n-1 chained ``zip_with``s against shifted copies of the
    array, NOT as ``transform(sequence(1, len), i -> slice(tokens, i, n))``:
    an outer expression captured inside a higher-order-function lambda is
    RE-EVALUATED per element (the token split ran once per position —
    O(len²) per document; measured 28 s for a single 16k-token page,
    0.3 s with this construction). ``zip_with``'s array operands are
    evaluated once. The zip extends the shorter (shifted) side with
    nulls, which ``concat_ws`` skips — the final slice trims those
    partial tail grams.

    NULL token arrays (NULL text upstream) yield an EMPTY shingle array,
    not NULL — matching the short-input case and every DuckDB oracle
    (whose generate_series joins simply produce zero gram rows), so a
    null-text row never propagates NULL through gram counts or minhash
    signatures.
    """
    acc = toks
    for k in range(1, n):
        shifted = f"slice({toks}, {k + 1}, greatest(size({toks}) - {k}, 0))"
        acc = f"zip_with({acc}, {shifted}, (a, b) -> concat_ws(' ', a, b))"
    return (
        f"coalesce(slice({acc}, 1, greatest(size({toks}) - {n - 1}, 0)),"
        " CAST(array() AS ARRAY<STRING>))"
    )
