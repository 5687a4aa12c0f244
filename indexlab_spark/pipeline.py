"""Ingest/search/eval orchestration (SURVEY §2.9 X1, §3.1-3.3).

The reference pipeline (/root/reference/app/ingest/pipeline.py:35-185)
runs read -> normalize -> chunk -> embed -> write docs/manifest -> build
index -> version archive as an async Python task. Here the same contract
is one lazy Spark DAG per build:

  read_any -> normalize_df -> doc numbering -> text selection ->
  chunk (posexplode) -> embed (Arrow batches) -> [KMeans cluster_id] ->
  write chunks partition (index_name, version) -> append manifest row

The artifact set (faiss + docs.json + ids.json + manifest.json,
pipeline.py:67-111) collapses into the partitioned ``chunks`` table +
one ``manifests`` row; the version archive (pipeline.py:117-163) is the
``version=`` partition itself — every build is immutable and listable.

Scale: the chunks table partitions by (index_name, version) so search
prunes to one partition; IVF adds cluster_id for cell pruning. Nothing
here collects the corpus to the driver.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from indexlab_spark.config import (
    DEFAULT_BM25_K,
    EVAL_POOL_MIN,
    EngineConfig,
    IngestConfig,
    SEARCH_POOL_MIN,
)
from indexlab_spark.functions.embed import with_embedding
from indexlab_spark.functions.text import (
    global_order_index,
    highlight_udf,
    normalize_df,
    preview,
    tokenize_query,
    with_doc_text,
    with_row_numbers,
    zip_index,
)
from indexlab_spark.operators.chunk import explode_chunks
from indexlab_spark.operators.knn import build_ivf, ivf_search, knn_join
from indexlab_spark.session import local_frame


def _version_now() -> str:
    return datetime.now(timezone.utc).strftime("%Y%m%d-%H%M%S")


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for blk in iter(lambda: f.read(1 << 20), b""):
            h.update(blk)
    return h.hexdigest()


def build_index(
    spark: SparkSession,
    source: str | DataFrame,
    cfg: IngestConfig,
    engine: EngineConfig | None = None,
    version: str | None = None,
) -> dict:
    """X1 — full ingest; returns the manifest dict (pipeline.py:87-108
    fields)."""
    engine = engine or EngineConfig()
    version = version or _version_now()

    if isinstance(source, str):
        from indexlab_spark.sources.reader import read_any

        df = read_any(spark, source)
        source_name = os.path.basename(source)
        sha = _sha256(source)
    else:
        df = source
        source_name, sha = "<dataframe>", ""

    df = normalize_df(df)
    df = with_row_numbers(df)  # doc_no == pandas row index parity (P3)
    docs = with_doc_text(df, cfg.text_column)
    chunks = explode_chunks(
        docs, mode=cfg.chunk_mode, size=cfg.chunk_size, overlap=cfg.chunk_overlap
    )
    embedded = with_embedding(
        chunks, model=cfg.model, normalize=cfg.normalize
    )
    # chunk_pos: global 0-based insert order (FAISS internal id analog, K5).
    # global_order_index = range-shuffle + parallel per-partition numbering;
    # the old Window.orderBy funneled every embedded row through ONE task.
    # Persist first: the numbering's counting pass must not re-embed.
    # (released after the chunk write below — builds in a long session
    # must not each pin a full-corpus embedding cache)
    embedded_pin = embedded.persist()
    embedded = global_order_index(embedded_pin, ["doc_no", "chunk_no"], "chunk_pos")

    if cfg.backend == "ivf":
        embedded, centroids = build_ivf(embedded, nlist=cfg.nlist, seed=cfg.seed)
        centroids.withColumn("index_name", F.lit(cfg.index_name)).withColumn(
            "version", F.lit(version)
        ).write.mode("append").parquet(engine.centroids_path())
    else:
        embedded = embedded.withColumn("cluster_id", F.lit(None).cast("int"))

    out = embedded.select(
        F.lit(cfg.index_name).alias("index_name"),
        F.lit(version).alias("version"),
        "doc_no",
        "chunk_no",
        "doc_id",
        "chunk_pos",
        "text",
        "embedding",
        "cluster_id",
        F.lit(source_name).alias("source"),
    )
    out.write.mode("append").partitionBy("index_name", "version").parquet(
        engine.chunks_path()
    )
    embedded_pin.unpersist(False)

    written = spark.read.parquet(engine.chunks_path()).filter(
        (F.col("index_name") == cfg.index_name) & (F.col("version") == version)
    )
    count = written.count()
    created_at = datetime.now(timezone.utc)
    manifest = {
        "index_name": cfg.index_name,
        "version": version,
        "dim": cfg.dim,
        "count": count,
        "model": cfg.model,
        "normalize": cfg.normalize,
        "backend": cfg.backend,
        "params": {
            "nlist": str(cfg.nlist),
            "nprobe": str(cfg.nprobe),
            "M": str(cfg.m),
            "efConstruction": str(cfg.ef_construction),
            "efSearch": str(cfg.ef_search),
            "seed": str(cfg.seed),
            # recorded so append_to_index reproduces the SAME text
            # extraction; losing it silently switched appended docs to
            # the concat_row fallback (params is a map column, so this
            # adds no manifest schema change)
            "text_column": cfg.text_column or "",
        },
        "chunking": {
            "mode": cfg.chunk_mode,
            "size": cfg.chunk_size,
            "overlap": cfg.chunk_overlap,
        },
        "metric": "ip",  # pipeline.py:105
        "created_at": created_at,
        "sources": {
            source_name: {
                "rows": count,
                "sha256": sha,
                "added_at": created_at,
                "stored_name": source_name,
            }
        },
    }
    from indexlab_spark.schemas import MANIFESTS_SCHEMA

    local_frame(
        spark,
        [
            (
                manifest["index_name"], manifest["version"], manifest["dim"],
                manifest["count"], manifest["model"], manifest["normalize"],
                manifest["backend"], manifest["params"],
                (cfg.chunk_mode, cfg.chunk_size, cfg.chunk_overlap), "ip",
                created_at,
                {source_name: (count, sha, created_at, source_name)},
            )
        ],
        MANIFESTS_SCHEMA,
    ).write.mode("append").parquet(engine.manifests_path())
    return manifest


def append_to_index(
    spark: SparkSession,
    source: str | DataFrame,
    index_name: str,
    engine: EngineConfig | None = None,
    version: str | None = None,
) -> dict:
    """Incremental add: new documents become a NEW immutable version
    containing old + new chunks (doc numbering continues after the
    existing max doc_no; build config inherited from the latest
    manifest).

    The reference can only rebuild from scratch (its FAISS artifact is
    monolithic); here the old version's chunks are reused AS DATA — no
    re-embedding of existing rows, one write of the delta plus a
    metadata-only union. Spark-first: versions are partitions, so
    'append' is copy-on-write at the partition level.
    """
    engine = engine or EngineConfig()
    old_chunks, manifest = load_index(spark, index_name, engine)
    cfg = IngestConfig(
        index_name=index_name,
        chunk_mode=manifest["chunking"]["mode"],
        chunk_size=manifest["chunking"]["size"],
        chunk_overlap=manifest["chunking"]["overlap"],
        model=manifest["model"],
        normalize=manifest["normalize"],
        backend="flat",  # IVF re-clustering is a rebuild decision
        dim=manifest["dim"],
        # restore the build's text extraction (recorded in params by
        # build_index; older manifests without it fall back as before)
        text_column=(manifest.get("params") or {}).get("text_column") or None,
    )
    version = version or _version_now()
    base = old_chunks.agg(
        F.coalesce(F.max("doc_no") + 1, F.lit(0)).alias("b"),
        F.coalesce(F.max("chunk_pos") + 1, F.lit(0)).alias("p"),
    ).collect()[0]

    if isinstance(source, str):
        from indexlab_spark.sources.reader import read_any

        df = read_any(spark, source)
        source_name = os.path.basename(source)
    else:
        df = source
        source_name = "<dataframe>"
    df = normalize_df(df)
    df = with_row_numbers(df)
    docs = with_doc_text(df, cfg.text_column).withColumn(
        "doc_no", F.col("doc_no") + F.lit(int(base["b"]))
    )
    chunks = explode_chunks(
        docs, mode=cfg.chunk_mode, size=cfg.chunk_size, overlap=cfg.chunk_overlap
    )
    embedded_pin = with_embedding(
        chunks, model=cfg.model, normalize=cfg.normalize
    ).persist()
    embedded = global_order_index(
        embedded_pin, ["doc_no", "chunk_no"], "chunk_pos"
    )
    new_rows = embedded.withColumn(
        "chunk_pos", F.col("chunk_pos") + F.lit(int(base["p"]))
    ).select(
        F.lit(index_name).alias("index_name"),
        F.lit(version).alias("version"),
        "doc_no", "chunk_no", "doc_id", "chunk_pos", "text", "embedding",
        F.lit(None).cast("int").alias("cluster_id"),
        F.lit(source_name).alias("source"),
    )
    carried = old_chunks.withColumn("version", F.lit(version)).select(
        *[f.name for f in new_rows.schema.fields]
    )
    carried.unionByName(new_rows).write.mode("append").partitionBy(
        "index_name", "version"
    ).parquet(engine.chunks_path())
    embedded_pin.unpersist(False)

    count = (
        spark.read.parquet(engine.chunks_path())
        .filter((F.col("index_name") == index_name) & (F.col("version") == version))
        .count()
    )
    created_at = datetime.now(timezone.utc)
    from indexlab_spark.schemas import MANIFESTS_SCHEMA

    local_frame(
        spark,
        [
            (
                index_name, version, cfg.dim, count, cfg.model, cfg.normalize,
                cfg.backend, dict(manifest.get("params") or {}),
                (cfg.chunk_mode, cfg.chunk_size, cfg.chunk_overlap), "ip",
                created_at,
                {source_name: (count, "", created_at, source_name)},
            )
        ],
        MANIFESTS_SCHEMA,
    ).write.mode("append").parquet(engine.manifests_path())
    return {"index_name": index_name, "version": version, "count": count}


def load_index(
    spark: SparkSession,
    index_name: str,
    engine: EngineConfig | None = None,
    version: str | None = None,
) -> tuple[DataFrame, dict]:
    """K6 — chunks partition + manifest row for (name, version|latest).

    Name+version resolution per eval_api.py:51-71; the reference's
    fragile Path/str retries (eval_api.py:93-106) are NOT reproduced
    (SURVEY K6 note)."""
    engine = engine or EngineConfig()
    manifests = spark.read.parquet(engine.manifests_path()).filter(
        F.col("index_name") == index_name
    )
    if version is None:
        row = manifests.orderBy(F.desc("created_at"), F.desc("version")).first()
    else:
        row = manifests.filter(F.col("version") == version).first()
    if row is None:
        raise FileNotFoundError(f"index {index_name!r} version {version!r}")
    manifest = row.asDict(recursive=True)
    chunks = spark.read.parquet(engine.chunks_path()).filter(
        (F.col("index_name") == index_name)
        & (F.col("version") == manifest["version"])
    )
    return chunks, manifest


def search(
    spark: SparkSession,
    index_name: str,
    query: str | DataFrame,
    k: int = 5,
    hybrid: bool = False,
    bm25_k: int = DEFAULT_BM25_K,
    engine: EngineConfig | None = None,
    version: str | None = None,
) -> DataFrame:
    """§3.2 — batch search; the single-query API is the 1-row case.

    Embeds queries with the MANIFEST's model+normalize (E4 — never user
    input), fetches a max(k, 50) candidate pool (K8), optionally fuses
    with BM25 via RRF (L1-L4), hydrates previews + highlight spans
    (P6-P8)."""
    engine = engine or EngineConfig()
    chunks, manifest = load_index(spark, index_name, engine, version)
    if isinstance(query, str):
        qdf = local_frame(spark, [(0, query)], "query_id long, query string")
    else:
        # the embed, BM25 and hydrate branches below each scan the query
        # frame: materialize the caller's lineage once, not 2-3 times
        qdf = query.localCheckpoint()
    qemb = with_embedding(
        qdf, text_col="query", out_col="qvec",
        model=manifest["model"], normalize=manifest["normalize"],
        fan_out=False,  # interactive query side: 1-few rows, no shuffle tax
    )
    pool = max(k, SEARCH_POOL_MIN)
    if manifest["backend"] == "ivf":
        cents = (
            spark.read.parquet(engine.centroids_path())
            .filter(
                (F.col("index_name") == index_name)
                & (F.col("version") == manifest["version"])
            )
            .select("cluster_id", "centroid")
        )
        hits = ivf_search(
            qemb.select("query_id", "qvec"), chunks, cents,
            k=pool, nprobe=int(manifest["params"]["nprobe"]),
        )
    else:
        hits = knn_join(
            qemb.select("query_id", "qvec"), chunks, k=pool, tie_col="chunk_pos"
        )
    if hybrid:
        from indexlab_spark.operators.bm25 import bm25_search as bm25_run
        from indexlab_spark.operators.fusion import hybrid_search

        bm_hits = bm25_run(chunks, qdf, k=bm25_k)
        hits = hybrid_search(hits, bm_hits, k=k)
    else:
        hits = hits.filter(F.col("rank") <= k).withColumnRenamed(
            "score", "vector_score"
        )
    hydrated = (
        hits.join(chunks.select("doc_id", "text"), "doc_id")
        .join(qdf, "query_id")
        .select(
            "query_id",
            "doc_id",
            "rank",
            "vector_score",
            preview("text", 220).alias("preview"),
            highlight_udf(
                preview("text", 220), tokenize_query("query")
            ).alias("highlights"),
        )
    )
    return hydrated.orderBy("query_id", "rank")


def evaluate(
    spark: SparkSession,
    index_name: str,
    gold_df: DataFrame,
    k: int = 5,
    engine: EngineConfig | None = None,
    version: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """§3.3 — batch eval: one kNN join + one aggregation.

    gold_df: (question, expected_id). Returns (per_question, metrics)."""
    from indexlab_spark.operators.evaluate import eval_metrics, eval_results

    engine = engine or EngineConfig()
    chunks, manifest = load_index(spark, index_name, engine, version)
    gold = zip_index(gold_df, "query_id").withColumn(
        "query_id", (F.col("query_id") + 1).cast("long")  # 1-based, row order
    )
    qemb = with_embedding(
        gold.select("query_id", "question"), text_col="question", out_col="qvec",
        model=manifest["model"], normalize=manifest["normalize"],
        fan_out=False,  # gold sets are query-scale, not corpus-scale
    )
    pool = max(k, EVAL_POOL_MIN)  # V1 cushion (eval_api.py:226)
    hits = knn_join(
        qemb.select("query_id", "qvec"), chunks, k=pool, tie_col="chunk_pos"
    )
    results = eval_results(gold.select("query_id", "question", "expected_id"), hits, k)
    results = results.join(
        gold.select("query_id", "question"), "query_id"
    ).select("query_id", "question", "expected_id", "found", "rank", "top_ids")
    return results, eval_metrics(results)
