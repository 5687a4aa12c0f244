"""Portable hashing primitives for dedup/fingerprint operators.

Everything here must produce IDENTICAL values in Spark and in the DuckDB
oracle, so the only hash used is md5 (hex string — available and
byte-identical in both engines). Spark's xxhash64/hash are JVM-specific
and DuckDB's hash() differs — never use them in oracle-checked paths.

- md5 hex strings compare lexicographically -> a valid random
  permutation proxy for MinHash (min over hex strings).
- ``md5_long``: first 15 hex chars -> 60-bit non-negative bigint
  (15 chars keeps it under 2^63 in both engines' parsers).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def md5_long(col: Column | str) -> Column:
    """First 15 hex chars of md5 as a non-negative bigint.

    DuckDB equivalent: CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)
    """
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("bigint")


def token_shingles(text_col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercase whitespace tokens.

    DuckDB equivalent (n=3):
      list_distinct([array_to_string(toks[i:i+2], ' ') for i in ...]) —
    spelled out in the oracle with list_transform/generate_series.
    """
    toks = F.array_remove(F.split(F.lower(_c(text_col)), r"\s+"), "")
    return shingles_from_tokens(toks, n)


def shingles_from_tokens(toks: Column, n: int) -> Column:
    """Shingles from an ALREADY-MATERIALIZED token array column.

    IMPORTANT: pass a bound column (e.g. via withColumn), not the
    tokenize expression itself — Catalyst does not eliminate common
    subexpressions inside ``transform`` lambdas, so an inline tokenize
    would re-run the regex split once per shingle index (measured 10x
    slowdown on the corpus shingle explode).
    """
    # guard: Spark's sequence(1, 0) yields DESCENDING [1, 0], not empty —
    # short texts must return an empty shingle set explicitly
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(
        F.size(toks) >= n, F.array_distinct(grams)
    ).otherwise(F.array().cast("array<string>"))

