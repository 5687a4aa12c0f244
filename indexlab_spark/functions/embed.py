"""Embedding surface (SURVEY §2.4, E1-E4).

Reference contract: ``embed_texts(texts, model, normalize) -> float32
ndarray`` (/root/reference/app/ingest/embedder.py:12-15), with a
process-global model cache (embedder.py:5-10).

Two implementations behind the same contract:

- ``hash-ngram-<dim>`` — the deterministic embedder mandated by SURVEY
  §7.0.3 / FIXTURES.md F6: token char-3-gram counts hashed into ``dim``
  signed buckets (crc32 — stable across processes/machines, unlike
  Python's ``hash``), then optional L2 normalization, float32. Identical
  text ⇒ identical vector, everywhere.
- ``sentence-transformers/*`` — production path via the same batch API;
  gated behind an import-try since the library is not installed here.

Spark integration is a pandas UDF: Arrow-batched, model resolved once per
executor (the executor-global analog of the reference's model cache, E2).
At 100 TB the embedding stage is embarrassingly parallel — no shuffle; it
runs fused with the chunk stage in one mapInPandas-style pipeline.
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pandas as pd

_TOKEN_RE = re.compile(r"\W+")

_MODEL_CACHE: dict[str, object] = {}  # E2: per-process cache


def _hash_ngram_dim(model: str) -> int | None:
    m = re.fullmatch(r"hash-ngram-(\d+)", model)
    return int(m.group(1)) if m else None


# token -> (bucket indices, signs) cache. Natural-language token
# frequency is Zipfian, so almost all crc32 work is redundant without
# this; the cache is per-process (executor-global under Spark, mirroring
# the reference's model cache E2). Bounded to keep executors lean.
_TOKEN_CACHE: dict[tuple[str, int], tuple[np.ndarray, np.ndarray]] = {}
_TOKEN_CACHE_MAX = 1_000_000


def _token_contribution(tok: str, dim: int) -> tuple[np.ndarray, np.ndarray]:
    key = (tok, dim)
    hit = _TOKEN_CACHE.get(key)
    if hit is not None:
        return hit
    padded = f"^{tok}$"
    grams = (
        [padded]
        if len(padded) <= 3
        else [padded[i : i + 3] for i in range(len(padded) - 2)]
    )
    buckets = np.empty(len(grams), dtype=np.int64)
    signs = np.empty(len(grams), dtype=np.float64)
    for i, g in enumerate(grams):
        b = g.encode("utf-8")
        buckets[i] = zlib.crc32(b) % dim
        signs[i] = 1.0 if zlib.crc32(b"s:" + b) & 1 else -1.0
    if len(_TOKEN_CACHE) < _TOKEN_CACHE_MAX:
        _TOKEN_CACHE[key] = (buckets, signs)
    return buckets, signs


def _embed_hash_ngram(texts: list[str], dim: int, normalize: bool) -> np.ndarray:
    out = np.zeros((len(texts), dim), dtype=np.float64)
    for r, text in enumerate(texts):
        bucket_parts, sign_parts = [], []
        for tok in _TOKEN_RE.split((text or "").lower()):
            if not tok:
                continue
            buckets, signs = _token_contribution(tok, dim)
            bucket_parts.append(buckets)
            sign_parts.append(signs)
        if bucket_parts:
            np.add.at(
                out[r], np.concatenate(bucket_parts), np.concatenate(sign_parts)
            )
    if normalize:
        norms = np.linalg.norm(out, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        out = out / norms
    return out.astype(np.float32)


def embed_texts(texts: list[str], model: str, normalize: bool) -> np.ndarray:
    """Reference-contract batch embedding (embedder.py:12-15)."""
    dim = _hash_ngram_dim(model)
    if dim is not None:
        return _embed_hash_ngram(list(texts), dim, normalize)
    # Production path: sentence-transformers, cached per process (E2).
    try:
        from sentence_transformers import SentenceTransformer  # type: ignore
    except ImportError as e:  # pragma: no cover - not installed in CI
        raise NotImplementedError(
            f"model {model!r}: sentence-transformers not installed; "
            "use a hash-ngram-<dim> model for deterministic runs"
        ) from e
    if model not in _MODEL_CACHE:  # pragma: no cover
        _MODEL_CACHE[model] = SentenceTransformer(model)
    emb = _MODEL_CACHE[model].encode(list(texts), normalize_embeddings=normalize)
    return np.asarray(emb, dtype=np.float32)


def embed_udf(model: str, normalize: bool):
    """Arrow-batched pandas UDF: text column -> array<float> embedding.

    One UDF call sees a whole Arrow batch (thousands of rows), so the
    per-batch numpy work amortizes; executors never see Python row loops.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def _embed(texts: pd.Series) -> pd.Series:
        mat = embed_texts(texts.fillna("").tolist(), model, normalize)
        return pd.Series(list(mat))

    return _embed


def with_embedding(df, text_col: str = "text", out_col: str = "embedding",
                   model: str = "hash-ngram-64", normalize: bool = True,
                   fan_out: bool = True):
    """Attach an embedding column (E1+E4 composition).

    ``fan_out=True`` (the ingest default) repartitions under-partitioned
    inputs first: the embedding UDF is the CPU-heavy stage of ingest,
    and a 1-partition source would run it as one task regardless of
    cluster size (see plans.colocate.fan_out). Interactive QUERY-side
    callers embedding a handful of rows should pass ``fan_out=False`` —
    repartitioning a 1-row frame into 32 partitions is a pure shuffle
    tax on search latency.
    """
    if fan_out:
        from indexlab_spark.plans.colocate import fan_out as _fan_out

        df = _fan_out(df)
    return df.withColumn(out_col, embed_udf(model, normalize)(df[text_col]))
