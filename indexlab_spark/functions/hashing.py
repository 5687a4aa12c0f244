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


def minhash_signature(shingles_col: Column | str, num_hashes: int) -> Column:
    """MinHash signature: per seed, min md5 hex over the shingle set.

    array<string> of length num_hashes; empty shingle set -> nulls.
    """
    sh = _c(shingles_col)
    return F.array(
        *[
            F.array_min(F.transform(sh, lambda s, i=i: F.md5(F.concat(F.lit(f"{i}|"), s))))
            for i in range(num_hashes)
        ]
    )


def band_keys(signature_col: Column | str, bands: int, rows: int) -> Column:
    """LSH banding: md5 of each band's concatenated signature slice.

    array<string> of length ``bands``; docs sharing ANY band key are
    near-dup candidates (standard MinHash-LSH banding).

    A signature containing nulls (minhash_signature's empty-shingle
    output for too-short docs) yields NULL band keys, not md5('') —
    array_join skips nulls, so every short doc would otherwise share
    identical keys in every band and the m short docs of a corpus would
    become O(m^2) mutual candidates. NULL keys never equi-join, which is
    the correct "no shingles, no candidates" semantics.
    """
    sig = _c(signature_col)

    def _band(b: int) -> Column:
        sl = F.slice(sig, b * rows + 1, rows)
        return F.when(
            F.exists(sl, lambda x: x.isNull()), F.lit(None).cast("string")
        ).otherwise(F.md5(F.array_join(sl, "|")))

    return F.array(*[_band(b) for b in range(bands)])
