"""Batch kNN search (SURVEY §2.5, K1-K8) — the engine's join surface.

The reference's FAISS backends (/root/reference/app/ingest/backends/
faiss_flat.py:5-23, faiss_ivf.py:5-31) become two Spark strategies:

- **flat** (K1/K2): the corpus table *is* the index. Exact top-k inner
  product as a broadcast-join + windowed rank, or — the bulk path — a
  mapInPandas BLAS matmul with per-partition partial top-k so the shuffle
  carries only ``num_partitions × n_queries × k`` candidate rows instead
  of the full ``n_queries × n_corpus`` cross product. At 100 TB the
  partial top-k is the difference between a terabyte shuffle and a
  megabyte one.
- **ivf** (K3/K4): MLlib KMeans assigns a ``cluster_id``; search ranks
  centroids per query (tiny broadcast join), keeps ``nprobe`` cells and
  scans only those — Catalyst prunes the rest via the cluster_id join,
  the distributed analog of FAISS's inverted lists. Laying the chunks
  table out partitioned/bucketed by cluster_id turns this into physical
  partition pruning at scale.

Determinism: scores accumulate in float64 (functions/vector.dot) and ties
break on ascending ``chunk_pos``/doc id — FAISS returns the lowest
internal id first (K2 tie note), and a deterministic secondary key is
what makes the DuckDB oracle hash-comparable.
"""

from __future__ import annotations

import os as _os
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from indexlab_spark.functions.vector import dot, l2_norm
from indexlab_spark.session import env_int, local_frame


def _rank_window(query_id_col: str, tie_col: str):
    return Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(tie_col).asc()
    )


#: Driver-collect guard for the "queries are the small side by contract"
#: paths (knn_matmul / pq_search / ivf_search_pruned). 250k rows x dim 64
#: float64 is ~128 MB as Arrow/numpy buffers — and because the bounded
#: fetch below goes through Arrow (toPandas), that estimate is what the
#: driver actually holds, not 3-5x more in boxed Row objects. Beyond the
#: bound those paths silently fall back to the fully-distributed
#: knn_join_blocked instead of OOMing the driver.
MAX_COLLECT_QUERY_ROWS = 250_000

#: Driver Lloyd assignment-step fan-out (r17). The sandbox's OpenBLAS is
#: compiled MAX_THREADS=2, so one big sgemm uses at most 2 of the
#: driver's cores; row-chunked assignment over a thread pool (BLAS drops
#: the GIL) recovers the rest. _LLOYD_POOL_MIN gates on n*k so PQ
#: codebook fits and tiny corpora keep the zero-overhead single call;
#: workers are env-tunable per deployment (a shared driver may want 1).
#: default also respects $SPARK_GRAFT_CPUS (the bench driver's core-count
#: contract): a local[8] scaling run must not be flattered by a driver
#: pool using cores Spark was not given.
_LLOYD_POOL_WORKERS = env_int(
    "SPARK_GRAFT_LLOYD_THREADS",
    min(8, _os.cpu_count() or 1, env_int("SPARK_GRAFT_CPUS", 32)),
)
_LLOYD_POOL_MIN = 2_000_000
_LLOYD_CHUNK = 8_192


def _collect_bounded(df: DataFrame, cols: list[str], limit: int):
    """Fetch at most ``limit`` rows of ``df[cols]`` to the driver; return
    None if the frame exceeds the bound. The probe fetches ``limit + 1``
    rows and no more, so checking an over-large frame costs one bounded
    job — never an unbounded driver materialization. The transfer is
    Arrow-batched (toPandas, arrow enabled in session.py): vector columns
    arrive as contiguous buffers, not per-float-boxed Row objects, so
    driver memory matches the MAX_COLLECT_QUERY_ROWS estimate."""
    pdf = df.select(*cols).limit(limit + 1).toPandas()
    if len(pdf) > limit:
        return None
    return list(pdf.itertuples(index=False, name=None))


def _normalized_queries(queries_df: DataFrame, query_vec_col: str) -> DataFrame:
    """Spark-side l2 normalization (zero-norm rows pass through), for the
    blocked fallback where the numpy normalization in knn_matmul never
    runs."""
    n = l2_norm(query_vec_col)
    return (
        queries_df.withColumn("_qn", n)
        .withColumn(
            query_vec_col,
            F.when(
                F.col("_qn") > 0,
                F.transform(F.col(query_vec_col), lambda x: x / F.col("_qn")),
            ).otherwise(F.col(query_vec_col)),
        )
        .drop("_qn")
    )


def knn_join(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    doc_id_col: str = "doc_id",
    corpus_vec_col: str = "embedding",
    tie_col: str | None = None,
    metric: str = "ip",
) -> DataFrame:
    """K2 — exact batch top-k as a declarative plan.

    queries (small) are broadcast; the corpus never moves. The window
    top-k compiles to WindowGroupLimit (Spark >= 3.5), i.e. per-partition
    partial top-k before the final shuffle — the plan shape we want at
    any scale.

    Returns (query_id, doc_id, score double, rank int), rank 1-based.
    """
    tie_col = tie_col or doc_id_col
    if metric == "ip":
        score = dot(F.col("_q." + query_vec_col), F.col("_c." + corpus_vec_col))
    else:
        # cosine: norms are per-ROW quantities — materialize them once per
        # side BEFORE the cross join instead of recomputing inside every
        # pair (3 array-aggregates per pair -> 1). d/(nq*nd) in the same
        # order as functions.vector.cosine, so results are bit-identical.
        queries_df = queries_df.withColumn("_qn", l2_norm(query_vec_col))
        corpus_df = corpus_df.withColumn("_cn", l2_norm(corpus_vec_col))
        d = dot(F.col("_q." + query_vec_col), F.col("_c." + corpus_vec_col))
        score = F.when(
            (F.col("_q._qn") > 0) & (F.col("_c._cn") > 0),
            d / (F.col("_q._qn") * F.col("_c._cn")),
        ).otherwise(F.lit(0.0))
    joined = (
        F.broadcast(queries_df.alias("_q"))
        .crossJoin(corpus_df.alias("_c"))
        .select(
            F.col("_q." + query_id_col).alias(query_id_col),
            F.col("_c." + doc_id_col).alias(doc_id_col),
            *([F.col("_c." + tie_col).alias(tie_col)] if tie_col != doc_id_col else []),
            score.alias("score"),
        )
    )
    ranked = joined.withColumn(
        "rank", F.row_number().over(_rank_window(query_id_col, tie_col))
    )
    out = ranked.filter(F.col("rank") <= k)
    if tie_col != doc_id_col:
        out = out.drop(tie_col)
    return out


def knn_matmul(
    spark,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    doc_id_col: str = "doc_id",
    corpus_vec_col: str = "embedding",
    normalize_queries: bool = False,
    max_collect_rows: int = MAX_COLLECT_QUERY_ROWS,
) -> DataFrame:
    """K2 bulk path — BLAS matmul per Arrow batch + partial top-k.

    The query matrix is collected and broadcast (queries are the small
    side by contract — the reference's API takes one query string;
    batches of up to ~100k × dim 64 are a few tens of MB). Each corpus
    partition computes ``Q @ E.T`` and emits only its local top-k per
    query; a final window merges ``partitions × k`` candidates.

    The contract is GUARDED, not assumed: a query frame larger than
    ``max_collect_rows`` routes to :func:`knn_join_blocked` (both sides
    stay distributed) instead of collecting — same (query_id, doc_id,
    score, rank) output, no driver OOM.

    Scale: no cross-join materialization, no full-corpus shuffle; the
    only shuffle is the candidate merge, O(n_partitions · n_q · k).
    """
    qid_type = queries_df.schema[query_id_col].dataType.simpleString()
    did_type = corpus_df.schema[doc_id_col].dataType.simpleString()
    q_rows = _collect_bounded(
        queries_df, [query_id_col, query_vec_col], max_collect_rows
    )
    if q_rows is None:
        qdf = (
            _normalized_queries(queries_df, query_vec_col)
            if normalize_queries
            else queries_df
        )
        return knn_join_blocked(
            qdf, corpus_df, k,
            left_id_col=query_id_col, left_vec_col=query_vec_col,
            right_id_col=doc_id_col, right_vec_col=corpus_vec_col,
        )
    if not q_rows:
        return local_frame(
            spark,
            [],
            f"{query_id_col} {qid_type}, {doc_id_col} {did_type}, score double, rank int",
        )
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    if normalize_queries:
        norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        q_mat = q_mat / norms
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def _partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            emb = np.array(pdf[corpus_vec_col].tolist(), dtype=np.float64)
            scores = qm @ emb.T  # (n_q, batch)
            nb = scores.shape[1]
            kk = min(k, nb)
            # argpartition then stable sort of the top slice per query —
            # all rows at once (take_along_axis), no per-query python
            # loop: the loop was the batch hot path once the matmul
            # itself went to BLAS (measured ~2x on the b2 bench shape)
            part = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
            doc_ids = pdf[doc_id_col].to_numpy()
            top_scores = np.take_along_axis(scores, part, axis=1)
            order = np.argsort(-top_scores, axis=1, kind="stable")
            top_idx = np.take_along_axis(part, order, axis=1)
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(ids, kk),
                    doc_id_col: doc_ids[top_idx.ravel()],
                    "score": np.take_along_axis(
                        scores, top_idx, axis=1
                    ).ravel(),
                }
            )

    from indexlab_spark.plans.colocate import fan_out

    candidates = fan_out(
        corpus_df.select(doc_id_col, corpus_vec_col)
    ).mapInPandas(
        _partial_topk,
        f"{query_id_col} {qid_type}, {doc_id_col} {did_type}, score double",
    )
    ranked = candidates.withColumn(
        "rank", F.row_number().over(_rank_window(query_id_col, doc_id_col))
    )
    return ranked.filter(F.col("rank") <= k)


def knn_join_blocked(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id_col: str = "query_id",
    left_vec_col: str = "qvec",
    right_id_col: str = "doc_id",
    right_vec_col: str = "embedding",
    right_blocks: int = 8,
) -> DataFrame:
    """Similarity JOIN for two LARGE sides — K2 generalized to the case
    where neither side fits a broadcast (M7 'similarity join').

    Strategy: hash the right side into ``right_blocks`` blocks and
    replicate each LEFT row once per block (an equi-join on block id —
    a plain shuffle join, no broadcast); each joined partition's Arrow
    batch multiplies its left rows against its right block rows with
    BLAS and emits local top-k per left row; a final window merges
    blocks. Shuffle traffic: O(|left| x right_blocks + |right|) rows in,
    O(|left| x right_blocks x k) candidate rows out — versus the
    O(|left| x |right|) row materialization of a naive cross join.
    Orient the smaller side as ``left``.

    At 100 TB both sides stream through executors block by block; no
    driver collect, no broadcast. For modest query sets prefer
    knn_matmul (zero replication).
    """
    import pandas as pd

    lb = left.select(
        F.col(left_id_col).alias("_lid"), F.col(left_vec_col).alias("_lv")
    ).crossJoin(
        left.sparkSession.range(right_blocks).select(F.col("id").alias("_blk"))
    )
    rb = right.select(
        F.col(right_id_col).alias("_rid"),
        F.col(right_vec_col).alias("_rv"),
        F.pmod(F.xxhash64(F.col(right_id_col)), F.lit(right_blocks)).alias("_blk"),
    )
    paired = lb.join(rb, "_blk")

    def _block_topk(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out_l, out_r, out_s = [], [], []
            for lid, grp in pdf.groupby("_lid", sort=False):
                q = np.array(grp["_lv"].iloc[0], dtype=np.float64)
                emb = np.array(grp["_rv"].tolist(), dtype=np.float64)
                scores = emb @ q
                kk = min(k, len(scores))
                idx = np.argpartition(-scores, kk - 1)[:kk]
                idx = idx[np.argsort(-scores[idx], kind="stable")]
                rids = grp["_rid"].to_numpy()
                out_l.extend([lid] * len(idx))
                out_r.extend(rids[idx])
                out_s.extend(scores[idx])
            yield pd.DataFrame({"_lid": out_l, "_rid": out_r, "score": out_s})

    lid_t = left.schema[left_id_col].dataType.simpleString()
    rid_t = right.schema[right_id_col].dataType.simpleString()
    cand = paired.select("_lid", "_lv", "_rid", "_rv").mapInPandas(
        _block_topk, f"_lid {lid_t}, _rid {rid_t}, score double"
    )
    w = Window.partitionBy("_lid").orderBy(F.col("score").desc(), F.col("_rid").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_lid").alias(left_id_col),
            F.col("_rid").alias(right_id_col),
            "score",
            "rank",
        )
    )


def _lloyd(train: np.ndarray, k: int, iters: int, rng) -> np.ndarray:
    """Seeded vectorized Lloyd's KMeans on a driver-side sample.

    Centroid updates go through sort + reduceat segment sums —
    np.add.at's unbuffered scatter dominates the whole build at 64k+
    training points. The constant ||x||^2 term is dropped from the
    argmin.

    Trains in float32 — FAISS's own training precision — which runs the
    distance matmuls ~4x faster than float64 (measured 7.2s -> 1.9s at
    64k x 64, k=256, 20 iters). Boundary points near-equidistant to two
    centroids may assign differently than a float64 fit would; cell
    QUALITY is what matters and is property-tested (recall floor), the
    same tradeoff FAISS makes.

    r17: the environment's OpenBLAS is compiled with MAX_THREADS=2, so
    the per-iteration distance gemm serializes on a many-core driver.
    Large fits (n*k past _LLOYD_POOL_MIN) compute the assignment step in
    row chunks fanned over a small thread pool — sgemm releases the GIL,
    and each row's distance vector and argmin are computed independently,
    so chunking changes only which rows share a BLAS call. Small fits
    (PQ codebooks, tiny corpora) keep the single-call path: pool overhead
    would exceed the gemm.
    """
    train = train.astype(np.float32, copy=False)
    centers = train[rng.choice(len(train), size=k, replace=False)].copy()
    n = len(train)
    pool = workers = None
    if n * k >= _LLOYD_POOL_MIN and _LLOYD_POOL_WORKERS > 1:
        from concurrent.futures import ThreadPoolExecutor

        workers = min(_LLOYD_POOL_WORKERS, max(1, n // _LLOYD_CHUNK))
        if workers > 1:
            pool = ThreadPoolExecutor(max_workers=workers)
    try:
        a = np.empty(n, dtype=np.int64)
        step = -(-n // workers) if workers and workers > 1 else n
        for _ in range(iters):
            c_t = centers.T
            c2 = (centers * centers).sum(1)[None, :]

            # d = c2 - 2*(x@c.T) built in place: (g * -2) + c2 rounds
            # identically to c2 - 2*g (2*g is exact, one rounded
            # add/sub either way) and skips two 4*n*k-byte temporaries —
            # the full-expression form spent more time allocating and
            # streaming those temps than in the gemm itself.
            def _assign(lo: int, hi: int) -> None:
                d = train[lo:hi] @ c_t
                d *= -2.0
                d += c2
                a[lo:hi] = d.argmin(1)

            if pool is None:
                _assign(0, n)
            else:
                list(
                    pool.map(
                        lambda lo: _assign(lo, min(lo + step, n)),
                        range(0, n, step),
                    )
                )
            order = np.argsort(a, kind="stable")
            xs, asort = train[order], a[order]
            counts = np.bincount(asort, minlength=k)
            nz = np.flatnonzero(counts)
            starts = np.zeros(k, dtype=np.int64)
            starts[1:] = np.cumsum(counts)[:-1]
            # segment sums over the assignment-sorted rows; chunking by
            # contiguous nz ranges feeds reduceat identical row slices,
            # so the per-centroid sums are bit-identical to one call
            sums = np.empty((len(nz), train.shape[1]), dtype=train.dtype)

            def _seg(si: int, sj: int) -> None:
                lo = starts[nz[si]]
                hi = starts[nz[sj - 1]] + counts[nz[sj - 1]]
                sums[si:sj] = np.add.reduceat(
                    xs[lo:hi], starts[nz[si:sj]] - lo, axis=0
                )

            if pool is None or len(nz) < 2 * workers:
                _seg(0, len(nz))
            else:
                sstep = -(-len(nz) // workers)
                list(
                    pool.map(
                        lambda si: _seg(si, min(si + sstep, len(nz))),
                        range(0, len(nz), sstep),
                    )
                )
            centers[nz] = sums / counts[nz, None]
    finally:
        if pool is not None:
            pool.shutdown()
    return centers


def _sampled_train_matrix(
    chunks_df: DataFrame, vec_col: str, target: int, seed: int
) -> np.ndarray:
    """Seeded bounded training sample, Arrow-transferred to the driver."""
    n = chunks_df.count()
    if n <= target:
        sample_df = chunks_df.select(vec_col)
    else:
        frac = min(1.0, 1.2 * target / n)
        sample_df = chunks_df.select(vec_col).sample(frac, seed=seed).limit(target)
    return np.array(sample_df.toPandas()[vec_col].tolist(), dtype=np.float64)


# ----------------------------------------------------------------- IVF (K3/K4)
def build_ivf(
    chunks_df: DataFrame,
    nlist: int,
    seed: int = 42,
    vec_col: str = "embedding",
    max_points_per_centroid: int = 256,
    iters: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """K3 — KMeans cell assignment (faiss_ivf.py:6-16 analog).

    Returns (chunks + cluster_id, centroids(cluster_id, centroid)).
    Seed recorded by callers in the manifest (SURVEY §7.0.5).

    Train-on-subset, assign-in-one-pass — FAISS's own contract
    (IndexIVF trains its quantizer on at most ``max_points_per_centroid``
    points per cell, default 256): a seeded sample of the corpus
    (bounded at ``nlist * max_points_per_centroid`` vectors, driver-side
    memory = that × dim × 8 bytes — e.g. 128 MiB for nlist=1024, dim=64)
    trains a vectorized numpy Lloyd loop on the driver, then the full
    corpus gets its ``cluster_id`` in a SINGLE Arrow-batched distributed
    pass with the centroid matrix broadcast in the UDF closure.

    Versus fitting MLlib KMeans on the full corpus, this removes the
    per-iteration distributed jobs (maxIter=20 → 20+ full-corpus passes
    + vector-UDT conversion each) that made the build 2× slower than the
    single-node oracle; cell quality is property-tested (recall floor),
    not hash-tested, so the training-sample tradeoff is the same one
    FAISS makes.
    """
    train = _sampled_train_matrix(
        chunks_df, vec_col, nlist * max_points_per_centroid, seed
    )

    rng = np.random.default_rng(seed)
    centers = _lloyd(train, min(nlist, len(train)), iters, rng)

    c_t = centers.T.copy()
    c2 = (centers * centers).sum(1)[None, :]

    @F.pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        # argmin ||x-c||^2 == argmin (||c||^2 - 2 x·c); ||x||^2 constant per row
        return pd.Series((c2 - 2.0 * (x @ c_t)).argmin(1).astype(np.int32))

    # NO fan_out here (unlike knn_matmul): repartitioning the corpus for
    # the assign pass was measured net-negative — the shuffle of the full
    # vector payload costs more than the serial BLAS assign it would
    # parallelize (b6_ivf_build_large 5.1s -> 6.4s). On a real cluster
    # the corpus arrives in many splits and the assign pass is parallel
    # without any repartition.
    assigned = chunks_df.withColumn("cluster_id", _assign(F.col(vec_col)))
    spark = chunks_df.sparkSession
    centroids = local_frame(
        spark,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centers)],
        "cluster_id int, centroid array<double>",
    )
    return assigned, centroids


def ivf_append(
    new_df: DataFrame,
    centroids_df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """K3 incremental — assign NEW vectors to an EXISTING index's
    centroids, so an IVF grows batch by batch without retraining or
    touching the already-written corpus (the same additive-state
    discipline as bm25_refresh and minhash_incremental_pairs; FAISS's
    ``IndexIVF.add`` analog).

    Returns the new rows + ``cluster_id`` — feed straight to
    :func:`write_ivf_partitioned` with ``mode="append"``: each batch
    only writes files under the cluster directories it actually
    touches, and the partition layout (and therefore
    :func:`ivf_search_pruned`'s PartitionFilters pruning) is identical
    to a from-scratch build with the same centroids.

    Assignment CONSISTENCY is exact, not approximate: given the same
    centroid frame, a vector gets the same cluster_id whether it
    arrives in the original build pass or any later append (pinned in
    tests). What an append does NOT do is re-train: after the corpus
    distribution drifts far from the training sample, cells skew —
    monitor with analytics.embedding_drift / cluster-size stats and
    rebuild when warranted (the same rebuild-vs-refresh tradeoff FAISS
    documents).

    Plan: centroids collect (nlist x dim — bounded by construction) and
    broadcast in the UDF closure; the batch gets its cluster_id in one
    Arrow-vectorized map pass. Nothing shuffles.
    """
    cents = centroids_df.orderBy("cluster_id").collect()
    if not cents:
        raise ValueError("ivf_append: empty centroid frame (no index state)")
    ids = np.array([r["cluster_id"] for r in cents], dtype=np.int32)
    centers = np.array([r["centroid"] for r in cents], dtype=np.float64)
    c_t = centers.T.copy()
    c2 = (centers * centers).sum(1)[None, :]

    @F.pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        return pd.Series(ids[(c2 - 2.0 * (x @ c_t)).argmin(1)])

    return new_df.withColumn("cluster_id", _assign(F.col(vec_col)))


def write_ivf_partitioned(
    assigned_df: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """K3 physical layout — persist the IVF corpus PARTITIONED BY
    cluster_id.

    With this layout a search that probes ``nprobe`` of ``nlist`` cells
    is a scan of nprobe directories: Catalyst turns the cluster_id
    predicate into PartitionFilters and never lists, opens, or reads the
    other (nlist - nprobe) partitions. That is the distributed analog of
    FAISS's inverted lists, and at 100 TB it is the difference between
    scanning ~1% and 100% of the corpus per query batch.
    """
    assigned_df.write.mode(mode).partitionBy("cluster_id").parquet(path)


def ivf_search_pruned(
    spark,
    queries_df: DataFrame,
    ivf_path: str,
    centroids_df: DataFrame,
    k: int,
    nprobe: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    doc_id_col: str = "doc_id",
    corpus_vec_col: str = "embedding",
    max_collect_rows: int = MAX_COLLECT_QUERY_ROWS,
) -> DataFrame:
    """K4 over the partitioned layout: rank centroids (tiny, driver-side
    is fine — centroids are nlist x dim), take the UNION of probed cells
    across the query batch, and push one IN-list partition filter into
    the scan. Per-query cell assignment is re-applied after the scan via
    the same broadcast join as ivf_search.

    Query batches beyond ``max_collect_rows`` skip the driver-side
    centroid ranking (a batch that large probes essentially every cell
    anyway, so pruning buys nothing) and run the exact distributed
    :func:`knn_join_blocked` over the full IVF table instead.
    """
    import numpy as np

    q_rows = _collect_bounded(
        queries_df, [query_id_col, query_vec_col], max_collect_rows
    )
    if q_rows is None:
        return knn_join_blocked(
            queries_df, spark.read.parquet(ivf_path), k,
            left_id_col=query_id_col, left_vec_col=query_vec_col,
            right_id_col=doc_id_col, right_vec_col=corpus_vec_col,
        )
    if not q_rows:
        qid_type = queries_df.schema[query_id_col].dataType.simpleString()
        did_type = (
            spark.read.parquet(ivf_path).schema[doc_id_col]
            .dataType.simpleString()
        )
        return local_frame(
            spark,
            [],
            f"{query_id_col} {qid_type}, {doc_id_col} {did_type}, "
            "score double, rank int",
        )
    cents = centroids_df.collect()
    c_ids = np.array([r["cluster_id"] for r in cents])
    c_mat = np.array([r["centroid"] for r in cents], dtype=np.float64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    scores = q_mat @ c_mat.T  # (n_q, nlist)
    order = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
    probed_cells = sorted({int(c_ids[j]) for row in order for j in row})

    chunks = spark.read.parquet(ivf_path).filter(
        F.col("cluster_id").isin(probed_cells)  # -> PartitionFilters
    )
    return ivf_search(
        queries_df, chunks, centroids_df, k, nprobe,
        query_id_col, query_vec_col, doc_id_col, corpus_vec_col,
    )


def ivf_search(
    queries_df: DataFrame,
    chunks_df: DataFrame,
    centroids_df: DataFrame,
    k: int,
    nprobe: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    doc_id_col: str = "doc_id",
    corpus_vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """K4 — probe the ``nprobe`` nearest cells per query, exact top-k
    inside them (faiss_ivf.py:18-20 analog).

    Plan shape: queries × centroids is a tiny broadcast cross join; the
    candidate scan joins on cluster_id, which prunes (1 - nprobe/nlist)
    of the corpus before any scoring work. Fewer-than-k results simply
    return fewer rows (FAISS's -1 padding has no analog, K5 note).

    ``round_to`` rounds BOTH the cell score and the candidate score to
    that many decimals BEFORE their rank windows (the knn_ip
    round-before-rank discipline) so an external 6dp replay ranks
    identically; default None keeps full-precision production ranking.
    """
    cell_sc = dot(F.col(query_vec_col), F.col("centroid"))
    score = dot(F.col(query_vec_col), F.col(corpus_vec_col))
    if round_to is not None:
        cell_sc = F.round(cell_sc, round_to)
        score = F.round(score, round_to)
    cell_rank = Window.partitionBy(query_id_col).orderBy(
        F.col("cell_score").desc(), F.col("cluster_id").asc()
    )
    probed = (
        F.broadcast(queries_df)
        .crossJoin(F.broadcast(centroids_df))
        .withColumn("cell_score", cell_sc)
        .withColumn("cell_rank", F.row_number().over(cell_rank))
        .filter(F.col("cell_rank") <= nprobe)
        .select(query_id_col, query_vec_col, "cluster_id")
    )
    joined = probed.join(chunks_df, on="cluster_id").select(
        query_id_col,
        doc_id_col,
        score.alias("score"),
    )
    ranked = joined.withColumn(
        "rank", F.row_number().over(_rank_window(query_id_col, doc_id_col))
    )
    return ranked.filter(F.col("rank") <= k)


# ------------------------------------------------------ PQ (scale extension)
def build_pq(
    chunks_df: DataFrame,
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    max_points_per_code: int = 256,
    iters: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """Product quantization (FAISS IndexPQ analog — the memory-compression
    scale path the reference exposes via its faiss backend family).

    The dim-D vector splits into ``m`` subspaces of D/m dims; each
    subspace gets 2^nbits centroids from a seeded driver-side Lloyd fit
    (same train-on-subset contract as build_ivf), and every corpus
    vector is encoded to ``m`` small codes in ONE Arrow pass. At 100 TB
    the point is storage: a 64-dim float32 vector (256 B) becomes m=8
    bytes — a 32x smaller scan for the first-phase candidate search,
    shuffled and cached in place of the raw vectors.

    Returns (codes_df = corpus columns + ``pq_code`` array<int>,
    codebooks_df(subspace, code, centroid array<double>)).
    """
    train = _sampled_train_matrix(
        chunks_df, vec_col, (1 << nbits) * max_points_per_code, seed
    )
    dim = train.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    ksub = min(1 << nbits, len(train))
    books = np.stack(
        [
            _lloyd(np.ascontiguousarray(train[:, j * dsub : (j + 1) * dsub]),
                   ksub, iters, rng)
            for j in range(m)
        ]
    )  # (m, ksub, dsub)
    b2 = (books * books).sum(2)  # (m, ksub)

    @F.pandas_udf("array<int>")
    def _encode(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)  # (nb, dim)
        codes = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            xj = x[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = (b2[j][None, :] - 2.0 * (xj @ books[j].T)).argmin(1)
        return pd.Series(list(codes))

    # no fan_out: same measurement as build_ivf's assign pass — shuffling
    # the vector payload costs more than the serial encode it parallelizes
    codes_df = chunks_df.withColumn("pq_code", _encode(F.col(vec_col)))
    spark = chunks_df.sparkSession
    codebooks_df = local_frame(
        spark,
        [
            (int(j), int(c), [float(v) for v in books[j, c]])
            for j in range(m)
            for c in range(ksub)
        ],
        "subspace int, code int, centroid array<double>",
    )
    return codes_df, codebooks_df


def pq_append(
    new_df: DataFrame,
    codebooks_df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ incremental — encode NEW vectors against EXISTING codebooks
    (FAISS ``IndexPQ.add`` analog; same additive-state discipline as
    :func:`ivf_append`). The codebook frame collects (m x 2^nbits x
    dsub — bounded by construction) and broadcasts in the UDF closure;
    the batch encodes in one Arrow pass, nothing shuffles. Encoding is
    exactly the build pass's: append ≡ same-codebook re-encode (pinned
    in tests). No re-training — monitor drift and rebuild when the
    corpus outgrows the training sample, as with IVF."""
    rows = codebooks_df.orderBy("subspace", "code").collect()
    if not rows:
        raise ValueError("pq_append: empty codebook frame (no index state)")
    m = max(r["subspace"] for r in rows) + 1
    ksub = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["centroid"])
    books = np.zeros((m, ksub, dsub), dtype=np.float64)
    for r in rows:
        books[r["subspace"], r["code"]] = r["centroid"]
    b2 = (books * books).sum(2)

    @F.pandas_udf("array<int>")
    def _encode(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        codes = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            xj = x[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = (b2[j][None, :] - 2.0 * (xj @ books[j].T)).argmin(1)
        return pd.Series(list(codes))

    return new_df.withColumn("pq_code", _encode(F.col(vec_col)))


def sq8_append(
    new_df: DataFrame,
    params_df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 incremental — encode NEW vectors with the EXISTING per-dim
    [min, max] codec state (see :func:`pq_append`; out-of-range values
    saturate exactly as in the build pass, so drifted batches degrade
    gracefully rather than wrapping)."""
    rows = params_df.orderBy("dim_idx").collect()
    if not rows:
        raise ValueError("sq8_append: empty params frame (no index state)")
    vmin = np.array([r["vmin"] for r in rows], dtype=np.float64)
    vmax = np.array([r["vmax"] for r in rows], dtype=np.float64)
    scale = np.where(vmax > vmin, (vmax - vmin) / 255.0, 1.0)

    @F.pandas_udf("array<int>")
    def _encode(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        codes = np.clip(
            np.rint((x - vmin[None, :]) / scale[None, :]), 0, 255
        ).astype(np.int32)
        return pd.Series(list(codes))

    return new_df.withColumn("sq_code", _encode(F.col(vec_col)))


def pq_search(
    spark,
    queries_df: DataFrame,
    codes_df: DataFrame,
    codebooks_df: DataFrame,
    k: int,
    rerank: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    doc_id_col: str = "doc_id",
    corpus_vec_col: str = "embedding",
    max_collect_rows: int = MAX_COLLECT_QUERY_ROWS,
    round_to: int | None = None,
) -> DataFrame:
    """ADC search over PQ codes: per query, an inner-product lookup table
    LUT[j][c] = q_j · codebook[j][c] (m x ksub doubles, built driver-side
    from the collected query batch — the small side by contract), then
    approximate scores stream over the CODES (never the raw vectors) in
    one Arrow pass with per-partition partial top-(rerank*k), exactly the
    knn_matmul shuffle shape. If ``rerank`` > 0 and the codes frame still
    carries the exact vectors, the rerank*k survivors get exact
    re-scoring — the standard PQ + refine recall recovery.

    The small-side contract is guarded: a query frame beyond
    ``max_collect_rows`` falls back to the exact distributed
    :func:`knn_join_blocked` over the raw vectors when the codes frame
    still carries them (exact results are a recall superset of ADC), and
    raises otherwise rather than OOM the driver.

    ``round_to`` rounds the ADC scores before the pool window and the
    exact rerank scores before the final window (the knn_ip
    round-before-rank discipline; the per-partition partial top-k still
    pre-selects on raw scores, consistent by monotonicity). Default
    None keeps full-precision production ranking.
    """
    q_rows = _collect_bounded(
        queries_df, [query_id_col, query_vec_col], max_collect_rows
    )
    if q_rows is None:
        if corpus_vec_col in codes_df.columns:
            return knn_join_blocked(
                queries_df, codes_df, k,
                left_id_col=query_id_col, left_vec_col=query_vec_col,
                right_id_col=doc_id_col, right_vec_col=corpus_vec_col,
            )
        raise ValueError(
            f"pq_search: query batch exceeds max_collect_rows="
            f"{max_collect_rows} and codes_df lacks '{corpus_vec_col}' for "
            "an exact fallback; split the query batch or keep the raw "
            "vectors alongside the codes"
        )
    cb = codebooks_df.collect()
    m = 1 + max(r["subspace"] for r in cb)
    ksub = 1 + max(r["code"] for r in cb)
    dsub = len(cb[0]["centroid"])
    books = np.zeros((m, ksub, dsub), dtype=np.float64)
    for r in cb:
        books[r["subspace"], r["code"]] = r["centroid"]

    qid_type = queries_df.schema[query_id_col].dataType.simpleString()
    did_type = codes_df.schema[doc_id_col].dataType.simpleString()
    if not q_rows:
        return local_frame(
            spark, [], f"{query_id_col} {qid_type}, {doc_id_col} {did_type}, score double, rank int"
        )
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    # LUT: (n_q, m, ksub) — q_j · book_{j,c}
    lut = np.einsum("qjd,jcd->qjc", q_mat.reshape(len(q_mat), m, dsub), books)
    bc = spark.sparkContext.broadcast((q_ids, lut))
    pool = max(k * rerank, k) if rerank else k

    def _adc_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, lut_ = bc.value
        nq = len(ids)
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.array(pdf["pq_code"].tolist(), dtype=np.int64)  # (nb, m)
            # scores[q, b] = sum_j LUT[q, j, codes[b, j]]
            scores = np.zeros((nq, len(codes)))
            for j in range(lut_.shape[1]):
                scores += lut_[:, j, codes[:, j]]
            kk = min(pool, scores.shape[1])
            part = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
            doc_ids = pdf[doc_id_col].to_numpy()
            out_q, out_d, out_s = [], [], []
            for qi in range(nq):
                idx = part[qi]
                order = idx[np.argsort(-scores[qi, idx], kind="stable")]
                out_q.extend([ids[qi]] * len(order))
                out_d.extend(doc_ids[order])
                out_s.extend(scores[qi, order])
            yield pd.DataFrame(
                {query_id_col: out_q, doc_id_col: out_d, "score": out_s}
            )

    cand = codes_df.select(doc_id_col, "pq_code").mapInPandas(
        _adc_topk, f"{query_id_col} {qid_type}, {doc_id_col} {did_type}, score double"
    )
    if round_to is not None:
        cand = cand.withColumn("score", F.round("score", round_to))
    ranked = cand.withColumn(
        "rank", F.row_number().over(_rank_window(query_id_col, doc_id_col))
    ).filter(F.col("rank") <= pool)
    if not rerank or corpus_vec_col not in codes_df.columns:
        return ranked.filter(F.col("rank") <= k)
    # exact refine on the rerank*k survivors only
    exact_sc = dot(F.col(query_vec_col), F.col(corpus_vec_col))
    if round_to is not None:
        exact_sc = F.round(exact_sc, round_to)
    exact = (
        ranked.select(query_id_col, doc_id_col)
        .join(codes_df.select(doc_id_col, corpus_vec_col), doc_id_col)
        .join(
            F.broadcast(queries_df.select(query_id_col, query_vec_col)),
            query_id_col,
        )
        .select(
            query_id_col,
            doc_id_col,
            exact_sc.alias("score"),
        )
    )
    out = exact.withColumn(
        "rank", F.row_number().over(_rank_window(query_id_col, doc_id_col))
    )
    return out.filter(F.col("rank") <= k)


def build_sq8(
    chunks_df: DataFrame,
    vec_col: str = "embedding",
    sample_rows: int = 65_536,
    seed: int = 42,
    exact_range: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """8-bit scalar quantization (FAISS IndexScalarQuantizer QT_8bit
    analog — the THIRD point on the memory/recall curve next to flat and
    PQ). Per-dimension [min, max] ranges come from a seeded sample (the
    same train-on-subset contract as build_ivf/build_pq); every vector
    then encodes to ``dim`` uint8 codes in one Arrow pass:
    ``code_d = round(255 * (x_d - min_d) / (max_d - min_d))``, clipped —
    out-of-sample outliers saturate instead of wrapping.

    ``exact_range=True`` replaces the sample with ONE distributed
    map-combined min/max agg over the full corpus (a posexplode keyed
    on dimension — min/max are exact cheap aggregates even at 100 TB,
    so this is also the zero-saturation production choice, not just the
    auditable one). The whole codec then becomes a deterministic pure
    function of the data: the r12 attestation discipline — ranges are
    plain aggregates, the encode's half-even rounding is DuckDB's
    round_even, and intermediate double arithmetic is op-identical, so
    an external SQL replay reproduces every code bit-for-bit.

    At 100 TB the point is the 4x smaller first-phase scan (64-dim
    float32 256 B -> 64 B) at much higher recall than PQ's 32x, because
    every dimension keeps its own 8-bit resolution.

    Returns (codes_df = corpus columns + ``sq_code`` array<int>,
    params_df(dim_idx, vmin, vmax) — the persistable codec state).
    """
    if exact_range:
        rows = (
            chunks_df.select(
                F.posexplode(F.col(vec_col).cast("array<double>"))
                .alias("_pos", "_val")
            )
            .groupBy("_pos")
            .agg(F.min("_val").alias("_mn"), F.max("_val").alias("_mx"))
            .orderBy("_pos")
            .collect()
        )
        vmin = np.array([r["_mn"] for r in rows], dtype=np.float64)
        vmax = np.array([r["_mx"] for r in rows], dtype=np.float64)
    else:
        train = _sampled_train_matrix(chunks_df, vec_col, sample_rows, seed)
        vmin = train.min(0)
        vmax = train.max(0)
    # a constant dimension still needs a nonzero scale to round-trip
    scale = np.where(vmax > vmin, (vmax - vmin) / 255.0, 1.0)

    @F.pandas_udf("array<int>")
    def _encode(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        codes = np.clip(
            np.rint((x - vmin[None, :]) / scale[None, :]), 0, 255
        ).astype(np.int32)
        return pd.Series(list(codes))

    codes_df = chunks_df.withColumn("sq_code", _encode(F.col(vec_col)))
    spark = chunks_df.sparkSession
    params_df = local_frame(
        spark,
        [(int(d), float(vmin[d]), float(vmax[d])) for d in range(len(vmin))],
        "dim_idx int, vmin double, vmax double",
    )
    return codes_df, params_df


def sq8_search(
    spark,
    queries_df: DataFrame,
    codes_df: DataFrame,
    params_df: DataFrame,
    k: int,
    rerank: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    doc_id_col: str = "doc_id",
    corpus_vec_col: str = "embedding",
    max_collect_rows: int = MAX_COLLECT_QUERY_ROWS,
    round_to: int | None = None,
) -> DataFrame:
    """Inner-product search over SQ8 codes. The decode never happens:
    ``q · decode(code) = q · vmin + (q * scale) · code``, so each query
    collapses to a constant plus a dim-length weight vector, and the
    approximate scores are ONE dense matmul over the uint8 code matrix
    per Arrow batch (BLAS, per-partition partial top-(rerank*k) — the
    knn_matmul shuffle shape; raw vectors never enter the first phase).
    Survivors get exact re-scoring when the codes frame still carries
    the vectors, with the same bounded-collect guard and exact
    distributed fallback as :func:`pq_search`.

    ``round_to`` rounds the approximate scores before the pool window
    and the exact rerank scores before the final window (the knn_ip
    round-before-rank discipline) so an external 6dp replay ranks
    identically; the per-partition partial top-k still pre-selects on
    raw scores, which is consistent with the rounded global window by
    monotonicity (a strictly larger raw score never rounds smaller).
    Default None keeps full-precision production ranking.
    """
    q_rows = _collect_bounded(
        queries_df, [query_id_col, query_vec_col], max_collect_rows
    )
    if q_rows is None:
        if corpus_vec_col in codes_df.columns:
            return knn_join_blocked(
                queries_df, codes_df, k,
                left_id_col=query_id_col, left_vec_col=query_vec_col,
                right_id_col=doc_id_col, right_vec_col=corpus_vec_col,
            )
        raise ValueError(
            f"sq8_search: query batch exceeds max_collect_rows="
            f"{max_collect_rows} and codes_df lacks '{corpus_vec_col}' for "
            "an exact fallback; split the query batch or keep the raw "
            "vectors alongside the codes"
        )
    prow = params_df.orderBy("dim_idx").collect()  # dim-sized by contract
    vmin = np.array([r["vmin"] for r in prow])
    scale = np.where(
        np.array([r["vmax"] for r in prow]) > vmin,
        (np.array([r["vmax"] for r in prow]) - vmin) / 255.0,
        1.0,
    )

    qid_type = queries_df.schema[query_id_col].dataType.simpleString()
    did_type = codes_df.schema[doc_id_col].dataType.simpleString()
    if not q_rows:
        return local_frame(
            spark,
            [],
            f"{query_id_col} {qid_type}, {doc_id_col} {did_type}, "
            "score double, rank int",
        )
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    w = q_mat * scale[None, :]          # (nq, dim)
    c0 = q_mat @ vmin                   # (nq,)
    bc = spark.sparkContext.broadcast((q_ids, w, c0))
    pool = max(k * rerank, k) if rerank else k

    def _sq_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, w_, c0_ = bc.value
        nq = len(ids)
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.array(pdf["sq_code"].tolist(), dtype=np.float64)
            scores = w_ @ codes.T + c0_[:, None]    # (nq, nb)
            kk = min(pool, scores.shape[1])
            part = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
            doc_ids = pdf[doc_id_col].to_numpy()
            out_q, out_d, out_s = [], [], []
            for qi in range(nq):
                idx = part[qi]
                order = idx[np.argsort(-scores[qi, idx], kind="stable")]
                out_q.extend([ids[qi]] * len(order))
                out_d.extend(doc_ids[order])
                out_s.extend(scores[qi, order])
            yield pd.DataFrame(
                {query_id_col: out_q, doc_id_col: out_d, "score": out_s}
            )

    cand = codes_df.select(doc_id_col, "sq_code").mapInPandas(
        _sq_topk,
        f"{query_id_col} {qid_type}, {doc_id_col} {did_type}, score double",
    )
    if round_to is not None:
        cand = cand.withColumn("score", F.round("score", round_to))
    ranked = cand.withColumn(
        "rank", F.row_number().over(_rank_window(query_id_col, doc_id_col))
    ).filter(F.col("rank") <= pool)
    if not rerank or corpus_vec_col not in codes_df.columns:
        return ranked.filter(F.col("rank") <= k)
    exact_sc = dot(F.col(query_vec_col), F.col(corpus_vec_col))
    if round_to is not None:
        exact_sc = F.round(exact_sc, round_to)
    exact = (
        ranked.select(query_id_col, doc_id_col)
        .join(codes_df.select(doc_id_col, corpus_vec_col), doc_id_col)
        .join(
            F.broadcast(queries_df.select(query_id_col, query_vec_col)),
            query_id_col,
        )
        .select(
            query_id_col,
            doc_id_col,
            exact_sc.alias("score"),
        )
    )
    out = exact.withColumn(
        "rank", F.row_number().over(_rank_window(query_id_col, doc_id_col))
    )
    return out.filter(F.col("rank") <= k)


def knn_graph(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mutual: bool = False,
    right_blocks: int = 8,
    rounding_slack: int = 8,
) -> DataFrame:
    """Symmetric k-nearest-neighbor GRAPH over an embedding column — the
    substrate for density/agglomerative clustering and graph-based dedup
    (``knn_graph`` + ``connected_components`` = single-linkage-style
    embedding clusters; mutual-kNN graphs are the standard noise-robust
    variant).

    Edges come back normalized ``(id_a < id_b, score, n_directions)``:
    with ``mutual=False`` an edge exists if EITHER endpoint ranks the
    other in its top-k (union-symmetrized); ``mutual=True`` keeps only
    edges where BOTH do (n_directions == 2). Inner-product scores are
    symmetric, so each undirected edge carries one well-defined score.

    Plan: one :func:`knn_join_blocked` self-join (large×large safe — no
    broadcast, no collect, per-partition BLAS partial top-k), self-hits
    dropped and re-ranked to exactly k (scores rounded to 6dp BEFORE
    ranking, the oracle-parity convention), then a groupBy on the
    normalized pair — everything candidate-bounded at |V|·k rows.
    """
    left = df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    right = df.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("embedding"))
    # k+1 absorbs the self hit wherever it ranks; the extra slack
    # absorbs 6dp ROUNDING TIES at the cut boundary — the blocked join
    # cuts on raw doubles, so a doc whose rounded score ties the k-th
    # but whose raw score sits just below the raw cut would otherwise
    # be dropped here while the oracle (which ranks rounded scores,
    # doc_id-tie-broken) keeps it. The default slack of 8 covers any
    # realistic 6dp tie cluster at the boundary; ``rounding_slack`` is
    # a parameter (r5 ADVICE) so a caller whose embedding space is
    # quantized/low-entropy enough to produce larger rounded-tie
    # clusters can widen it — cost is linear (the blocked join's
    # partial top-k per partition grows by that many rows). The
    # re-rank below restores exactly-k semantics on ROUNDED scores.
    nn = knn_join_blocked(
        left, right, k + 1 + rounding_slack, right_blocks=right_blocks
    )
    nn = (
        nn.filter(F.col("query_id") != F.col("doc_id"))
        .withColumn("score", F.round("score", 6))
        .withColumn(
            "rank2", F.row_number().over(_rank_window("query_id", "doc_id"))
        )
        .filter(F.col("rank2") <= k)
    )
    edges = (
        nn.select(
            F.least("query_id", "doc_id").alias("id_a"),
            F.greatest("query_id", "doc_id").alias("id_b"),
            "score",
        )
        .groupBy("id_a", "id_b", "score")
        .agg(F.count(F.lit(1)).cast("int").alias("n_directions"))
    )
    if mutual:
        edges = edges.filter(F.col("n_directions") == 2)
    return edges


def kmeans_summary(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    seed: int = 42,
    iters: int = 20,
    max_points_per_centroid: int = 256,
) -> DataFrame:
    """Public k-means clustering over an embedding column — the
    standalone face of the IVF quantizer (same sample-trained seeded
    Lloyd + one-pass Arrow assignment as :func:`build_ivf`, which
    exists for ANN cell routing; this one is for the clustering
    QUESTIONS a pipeline asks directly: how many natural groups, how
    tight, how skewed — topic discovery, dedup-cluster sizing,
    stratified-eval design).

    Plan: the bounded seeded training sample fits Lloyd on the driver
    (``k * max_points_per_centroid`` cap — FAISS's own training
    contract), the full corpus gets cluster ids in ONE Arrow pass with
    the centroid matrix in the UDF closure, and the per-cluster
    summary is ONE map-combined agg where the squared distance to the
    assigned centroid is a pure-codegen ``aggregate(zip_with(...))``
    against the row's centroid (joined from the k-row broadcast
    centroid frame) — no Python in the distance hot path, nothing
    row-sized to the driver.

    Output: one row per non-empty cluster — cluster_id, n, inertia
    (sum of squared L2 distances to the centroid, 6dp),
    centroid_norm (6dp).
    """
    assigned, centroids = build_ivf(
        df,
        nlist=k,
        seed=seed,
        vec_col=vec_col,
        max_points_per_centroid=max_points_per_centroid,
        iters=iters,
    )
    sq = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("centroid"),
            lambda x, c: (x - c) * (x - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = F.sqrt(
        F.aggregate(
            F.col("centroid"),
            F.lit(0.0),
            lambda acc, v: acc + v * v,
        )
    )
    return (
        assigned.join(F.broadcast(centroids), "cluster_id")
        .select(
            "cluster_id",
            sq.alias("_sq"),
            norm.alias("_nm"),
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("_sq"), 6).alias("inertia"),
            F.round(F.first("_nm"), 6).alias("centroid_norm"),
        )
    )


def _argmin_cluster(vec_col, centers: "np.ndarray"):
    """Pure-codegen nearest-centroid id for a literal centroid matrix:
    squared-L2 per centroid via a left-to-right ``aggregate(zip_with)``
    double fold (bit-matched to a sequential SQL replay), first-minimum
    tie-break via 1-based ``array_position`` (DuckDB ``list_position``
    semantics), returned 0-based. No Python in the assign path — the
    k×dim centroid matrix folds into the plan as literals, so the whole
    pass stays inside whole-stage codegen. ``vec_col`` may be a column
    name or a Column expression (e.g. a subspace slice)."""
    cents_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centers]
    )
    v = (F.col(vec_col) if isinstance(vec_col, str) else vec_col).cast(
        "array<double>"
    )
    dists = F.transform(
        cents_lit,
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def lloyd_fixed_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
) -> DataFrame:
    """Deterministic fixed-iteration Lloyd fit — the SQL-replayable
    sibling of :func:`build_ivf`'s sampled seeded Lloyd (the r11-verdict
    fixed-iteration attestation discipline: bounded rounds + 6dp-rounded
    state per round = an external engine can replay the whole fit
    bit-for-bit).

    Contract: init = the embeddings of the ``k`` smallest ``id_col``
    values (data-defined, no RNG anywhere); each of the ``iters`` rounds
    assigns the FULL corpus to its nearest center (squared L2,
    first-minimum tie) and replaces every non-empty cell's center with
    the per-dimension mean ROUNDED to 6dp — empty cells keep their
    previous center. Rounding each round is what makes the recursion
    replayable: both engines iterate from identical 6dp state, so float
    sum-order differences can only surface within one round's mean
    (~1e-13, absorbed by the rounding) instead of compounding.

    Plan per round: one full-corpus codegen assign pass
    (:func:`_argmin_cluster` — centroid literals, no Python, no
    broadcast join) + one map-combined ``posexplode`` mean agg whose
    output is k×dim rows; driver state is k×dim doubles. ``iters`` is
    deliberately FIXED and small — this is the auditable variant; the
    production ANN path stays :func:`build_ivf` (sampled train, float32
    BLAS, no per-round corpus passes).

    Returns centroids (cluster_id int, centroid array<double>).
    """
    centers = _lloyd_fixed(df, vec_col, id_col, k, iters)
    return local_frame(
        df.sparkSession,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centers)],
        "cluster_id int, centroid array<double>",
    )


def _lloyd_fixed(
    df: DataFrame, vec_col: str, id_col: str, k: int, iters: int
) -> "np.ndarray":
    """The :func:`lloyd_fixed_centroids` fit returning the raw k×dim
    center matrix (internal — the summary/IVF wrappers feed it straight
    to :func:`_argmin_cluster` without a DataFrame round-trip)."""
    if k < 1 or iters < 1:
        raise ValueError(f"need k >= 1 and iters >= 1, got k={k}, iters={iters}")
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    init = base.orderBy("_id").limit(k).collect()
    if len(init) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(init)}")
    centers = np.array([r["_v"] for r in init], dtype=np.float64)
    dim = centers.shape[1]
    for _ in range(iters):
        means = (
            base.withColumn("_cl", _argmin_cluster("_v", centers))
            .select("_cl", F.posexplode("_v").alias("_pos", "_val"))
            .groupBy("_cl", "_pos")
            .agg(F.round(F.avg("_val"), 6).alias("_m"))
            .collect()
        )
        nxt = centers.copy()  # empty cells keep their previous center
        per_cell: dict = {}
        for r in means:
            per_cell.setdefault(int(r["_cl"]), {})[int(r["_pos"])] = r["_m"]
        for c, dims in per_cell.items():
            nxt[c] = [dims[i] for i in range(dim)]
        centers = nxt
    return centers


def kmeans_summary_fixed(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
) -> DataFrame:
    """:func:`kmeans_summary` on a :func:`lloyd_fixed_centroids` fit —
    same output contract (one row per non-empty cluster: cluster_id, n,
    inertia 6dp, centroid_norm 6dp), but every number is replayable in
    plain SQL because the fit is deterministic and 6dp-state-rounded
    (see lloyd_fixed_centroids). The summary itself is the same
    pure-codegen ``aggregate(zip_with)`` squared-distance agg as
    kmeans_summary — nothing row-sized to the driver."""
    centers = _lloyd_fixed(df, vec_col, id_col, k, iters)
    centroids = local_frame(
        df.sparkSession,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centers)],
        "cluster_id int, centroid array<double>",
    )
    assigned = df.withColumn("cluster_id", _argmin_cluster(vec_col, centers))
    sq = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("centroid"),
            lambda x, c: (x - c) * (x - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = F.sqrt(
        F.aggregate(
            F.col("centroid"),
            F.lit(0.0),
            lambda acc, v: acc + v * v,
        )
    )
    return (
        assigned.join(F.broadcast(centroids), "cluster_id")
        .select("cluster_id", sq.alias("_sq"), norm.alias("_nm"))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("_sq"), 6).alias("inertia"),
            F.round(F.first("_nm"), 6).alias("centroid_norm"),
        )
    )


def build_ivf_fixed(
    chunks_df: DataFrame,
    nlist: int,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """K3, deterministic variant — :func:`build_ivf`'s contract
    (returns (chunks + cluster_id, centroids)) on a
    :func:`lloyd_fixed_centroids` fit, with the cluster assignment as
    the same pure-codegen :func:`_argmin_cluster` expression the fit
    itself used (first-minimum squared-L2, replayable). Use when the
    index must be externally auditable (the oracle-backed
    similarity_ivf gate entry); :func:`build_ivf` remains the
    production path (sampled train, float32 BLAS assign)."""
    centers = _lloyd_fixed(chunks_df, vec_col, id_col, nlist, iters)
    centroids = local_frame(
        chunks_df.sparkSession,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centers)],
        "cluster_id int, centroid array<double>",
    )
    assigned = chunks_df.withColumn(
        "cluster_id", _argmin_cluster(vec_col, centers)
    )
    return assigned, centroids


def build_pq_fixed(
    chunks_df: DataFrame,
    m: int = 8,
    nbits: int = 6,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """K-codebook product quantization on :func:`_lloyd_fixed` fits —
    the SQL-replayable sibling of :func:`build_pq` (r12 attestation
    discipline). Each of the ``m`` subspaces trains its 2^nbits-entry
    codebook with the deterministic fixed-iteration Lloyd (init = the
    subspace slices of the ``ksub`` smallest ids, 6dp-rounded centers
    per round), and the encode is ONE pure-codegen pass: ``m``
    :func:`_argmin_cluster` expressions over subspace slices collected
    into the ``pq_code`` array — no Python, no Arrow, and every code
    replays bit-for-bit in SQL. Same return contract as build_pq:
    (codes_df + ``pq_code`` array<int>, codebooks_df(subspace, code,
    centroid)). The sampled float32 :func:`build_pq` stays the
    production fit; this exists to be auditable."""
    first = chunks_df.select(vec_col).first()
    if first is None:
        raise ValueError("build_pq_fixed: empty corpus")
    dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    ksub = 1 << nbits
    v = F.col(vec_col).cast("array<double>")
    books = []
    for j in range(m):
        sub = chunks_df.select(
            F.col(id_col).alias("_id"),
            F.slice(v, j * dsub + 1, dsub).alias("_sv"),
        )
        books.append(_lloyd_fixed(sub, "_sv", "_id", ksub, iters))
    codes_df = chunks_df.withColumn(
        "pq_code",
        F.array(
            *[
                _argmin_cluster(F.slice(v, j * dsub + 1, dsub), books[j])
                for j in range(m)
            ]
        ),
    )
    spark = chunks_df.sparkSession
    books_df = local_frame(
        spark,
        [
            (j, int(c), [float(x) for x in books[j][c]])
            for j in range(m)
            for c in range(ksub)
        ],
        "subspace int, code int, centroid array<double>",
    )
    return codes_df, books_df


def ivf_append_fixed(
    new_df: DataFrame,
    centroids_df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ivf_append` with the assignment as the same pure-codegen
    :func:`_argmin_cluster` expression :func:`build_ivf_fixed` uses —
    bit-identical to the build pass and to the SQL replay (the
    production ivf_append's ||c||²-2x·c BLAS form is mathematically
    equal but not bit-equal; for the oracle-backed append gate the
    formulas must match exactly). Same contract: given the same
    centroid frame, a vector gets the same cluster_id whether it
    arrives in the build or any later append."""
    cents = centroids_df.orderBy("cluster_id").collect()
    if not cents:
        raise ValueError("ivf_append_fixed: empty centroid frame")
    if [r["cluster_id"] for r in cents] != list(range(len(cents))):
        raise ValueError(
            "ivf_append_fixed: centroid ids must be dense 0..k-1 "
            "(a build_ivf_fixed frame); use ivf_append for arbitrary ids"
        )
    centers = np.array([r["centroid"] for r in cents], dtype=np.float64)
    return new_df.withColumn("cluster_id", _argmin_cluster(vec_col, centers))


def hard_negatives(
    queries_df: DataFrame,
    positives: DataFrame,
    corpus_df: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    doc_id_col: str = "doc_id",
    corpus_vec_col: str = "embedding",
    metric: str = "ip",
    extra_pool: int = 0,
) -> DataFrame:
    """Hard negatives for contrastive training — the similarity-mined
    complement to :func:`~indexlab_spark.operators.curation.
    negative_samples`' random picks: the top-scoring corpus docs that
    are NOT the query's positives (ANCE / DPR-style mining, public).
    Random negatives teach a bi-encoder almost nothing once it
    separates topics; the gradient lives in the near-misses.

    Pool-then-exclude (the pipeline's K8 cushion discipline): mine the
    top ``k + max_positives_per_query + extra_pool`` per query — the
    max comes from ONE catalog-sized scalar probe of the positives
    frame, so the pool provably survives the worst-case exclusion —
    then anti-join the positives and re-rank the survivors by pool
    order, keeping ``k``. Scores round to 6dp BEFORE ranking with a
    doc-id tie-break (the knn gate determinism contract).

    Plan: broadcast queries x corpus scan (the corpus never moves),
    window top-pool compiling to WindowGroupLimit (per-partition
    partial top-k), positives anti-join, bounded re-rank over
    pool-sized groups. For a 100 TB corpus pass an IVF/PQ-pruned
    candidate frame as ``corpus_df`` — the mining contract is
    unchanged, only the candidate generator narrows.

    Output: (query_id, doc_id, score 6dp, hard_rank 1..k).
    """
    if k < 1:
        raise ValueError(f"hard_negatives: k must be >= 1, got {k}")
    if metric not in ("ip", "cos"):
        raise ValueError(f"hard_negatives: metric 'ip' or 'cos', got {metric}")
    if extra_pool < 0:
        raise ValueError("hard_negatives: extra_pool must be >= 0")
    max_pos_row = (
        positives.groupBy(query_id_col)
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(F.max("_c"))
        .first()
    )
    pool = k + int(max_pos_row[0] or 0) + extra_pool
    q, c = queries_df, corpus_df
    if metric == "cos":
        q = q.withColumn("_qn", l2_norm(query_vec_col))
        c = c.withColumn("_cn", l2_norm(corpus_vec_col))
        d = dot(F.col("_q." + query_vec_col), F.col("_c." + corpus_vec_col))
        score = F.when(
            (F.col("_q._qn") > 0) & (F.col("_c._cn") > 0),
            d / (F.col("_q._qn") * F.col("_c._cn")),
        ).otherwise(F.lit(0.0))
    else:
        score = dot(F.col("_q." + query_vec_col), F.col("_c." + corpus_vec_col))
    scored = (
        F.broadcast(q.alias("_q"))
        .crossJoin(c.alias("_c"))
        .select(
            F.col("_q." + query_id_col).alias(query_id_col),
            F.col("_c." + doc_id_col).alias(doc_id_col),
            F.round(score, 6).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(doc_id_col)
    )
    pooled = scored.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= pool
    )
    pos = positives.select(query_id_col, doc_id_col).distinct()
    neg = pooled.join(pos, [query_id_col, doc_id_col], "left_anti")
    w2 = Window.partitionBy(query_id_col).orderBy("_rk")
    return (
        neg.withColumn("hard_rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("hard_rank") <= k)
        .select(query_id_col, doc_id_col, "score", "hard_rank")
    )


def _with_residual(assigned_df: DataFrame, centroids_df: DataFrame,
                   vec_col: str) -> DataFrame:
    """vec - centroid[cluster_id] as a pure-Catalyst zip_with over a
    broadcast centroid join — no Python in the residual path."""
    return assigned_df.join(F.broadcast(centroids_df), "cluster_id").withColumn(
        "_residual",
        F.zip_with(
            F.col(vec_col),
            F.col("centroid"),
            lambda x, y: x.cast("double") - y,
        ),
    )


def build_ivfpq(
    chunks_df: DataFrame,
    nlist: int = 16,
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """IVF + residual PQ — the composed index FAISS ships as
    ``IndexIVFPQ``, and the one actually deployed at billion scale
    (coarse quantizer prunes WHICH cells to read, residual product
    codes shrink WHAT gets read): vectors assign to ``nlist`` cells
    (:func:`build_ivf`), the RESIDUAL vec - centroid — far lower
    variance than the raw vector, so the same code budget quantizes it
    much more accurately — encodes through :func:`build_pq`'s
    machinery in one Arrow pass.

    Build plan: the IVF assign pass, one broadcast-join + zip_with
    codegen projection for residuals (no Python), the PQ train (seeded
    driver Lloyd on a bounded residual sample) and encode pass. Under
    INNER-PRODUCT search the composition is exact in expectation:
    q . x = q . c + q . r, so :func:`ivfpq_search` scores candidates
    as the cell dot plus the residual ADC from one query LUT.

    Returns (codes_df = corpus + cluster_id + pq_code (raw vectors
    kept for rerank), centroids_df, codebooks_df). Feed codes_df to
    :func:`write_ivf_partitioned` for physically pruned storage.
    """
    assigned, centroids = build_ivf(
        chunks_df, nlist, seed=seed, vec_col=vec_col
    )
    # r16: pin the residual frame — build_pq scans it three times
    # (sample count, sample fetch, encode) and a downstream
    # ivfpq_search candidate join scans the codes a fourth time;
    # without the pin every scan re-runs the coarse-assign UDF and
    # the centroid join from lineage (measured: the assign pass ran
    # 4x inside one q_ivfpq_sampled build+search). persist (ring-
    # bounded, evictable) rather than an eager checkpoint: the first
    # scan materializes it, eviction at scale just recomputes.
    from indexlab_spark.functions.cache import pin as _pin

    res = _pin(_with_residual(assigned, centroids, vec_col))
    codes, books = build_pq(
        res, m=m, nbits=nbits, seed=seed,
        vec_col="_residual", doc_id_col=doc_id_col,
    )
    return codes.drop("_residual", "centroid"), centroids, books


def build_ivfpq_fixed(
    chunks_df: DataFrame,
    nlist: int = 8,
    m: int = 8,
    nbits: int = 6,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`build_ivfpq` on deterministic fixed-iteration fits (r12
    attestation discipline): coarse cells from :func:`build_ivf_fixed`,
    residuals as the same pure-Catalyst zip_with, and per-subspace
    residual codebooks from :func:`build_pq_fixed` — every stage a pure
    function of the data, so the full composed index replays in SQL.
    The residual frame is localCheckpointed before the per-subspace
    fits (build_pq_fixed makes m x iters passes over it; without the
    checkpoint each pass would re-run the coarse assign join in
    lineage). Same return contract as build_ivfpq. The sampled float32
    build_ivfpq stays the production fit."""
    assigned, centroids = build_ivf_fixed(
        chunks_df, nlist, iters, vec_col, id_col
    )
    res = _with_residual(assigned, centroids, vec_col).localCheckpoint(
        eager=True
    )
    codes, books = build_pq_fixed(
        res, m=m, nbits=nbits, iters=iters,
        vec_col="_residual", id_col=id_col,
    )
    return codes.drop("_residual", "centroid"), centroids, books


def ivfpq_append(
    new_df: DataFrame,
    centroids_df: DataFrame,
    codebooks_df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFPQ incremental — assign new vectors to the existing cells
    and encode their residuals against the existing codebooks
    (``IndexIVFPQ.add``): :func:`ivf_append` then :func:`pq_append`
    on the zip_with residual, two Arrow map passes, nothing shuffles,
    append ≡ same-state re-encode (pinned in tests)."""
    assigned = ivf_append(new_df, centroids_df, vec_col)
    res = _with_residual(assigned, centroids_df, vec_col)
    return pq_append(res, codebooks_df, vec_col="_residual").drop(
        "_residual", "centroid"
    )


def ivfpq_search(
    spark,
    queries_df: DataFrame,
    codes_df: DataFrame,
    centroids_df: DataFrame,
    codebooks_df: DataFrame,
    k: int,
    nprobe: int = 4,
    rerank: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    doc_id_col: str = "doc_id",
    corpus_vec_col: str = "embedding",
    max_collect_rows: int = MAX_COLLECT_QUERY_ROWS,
    round_to: int | None = None,
) -> DataFrame:
    """ADC search over the composed index: per query the top-``nprobe``
    cells by q . centroid (centroid matrix is nlist-sized, scored
    driver-side from the collected query batch — the pq_search small-
    side contract, exact-fallback guarded the same way), then
    candidates stream from ONLY the probed cells (a broadcast
    probe-frame join on cluster_id — with
    :func:`write_ivf_partitioned` storage that predicate is partition
    pruning) and score as ``q . c + sum_j LUT[j][code_j]`` in one
    Arrow pass with per-batch partial top-k. Optional exact rerank of
    the ``rerank * k`` survivors when the codes frame still carries
    raw vectors.

    Returns (query_id, doc_id, score, rank) — rank 1..k per query.
    """
    if nprobe < 1:
        raise ValueError(f"ivfpq_search: nprobe >= 1, got {nprobe}")
    q_rows = _collect_bounded(
        queries_df, [query_id_col, query_vec_col], max_collect_rows
    )
    if q_rows is None:
        if corpus_vec_col in codes_df.columns:
            return knn_join_blocked(
                queries_df, codes_df, k,
                left_id_col=query_id_col, left_vec_col=query_vec_col,
                right_id_col=doc_id_col, right_vec_col=corpus_vec_col,
            )
        raise ValueError(
            "ivfpq_search: query batch exceeds max_collect_rows="
            f"{max_collect_rows} and codes_df lacks '{corpus_vec_col}' "
            "for an exact fallback"
        )
    qid_type = queries_df.schema[query_id_col].dataType.simpleString()
    did_type = codes_df.schema[doc_id_col].dataType.simpleString()
    if not q_rows:
        return local_frame(
            spark,
            [],
            f"{query_id_col} {qid_type}, {doc_id_col} {did_type},"
            " score double, rank int",
        )
    cents = centroids_df.orderBy("cluster_id").collect()
    if not cents:
        raise ValueError("ivfpq_search: empty centroid frame")
    c_ids = np.array([r["cluster_id"] for r in cents])
    centers = np.array([r["centroid"] for r in cents], dtype=np.float64)
    cb = codebooks_df.collect()
    m = 1 + max(r["subspace"] for r in cb)
    ksub = 1 + max(r["code"] for r in cb)
    dsub = len(cb[0]["centroid"])
    books = np.zeros((m, ksub, dsub), dtype=np.float64)
    for r in cb:
        books[r["subspace"], r["code"]] = r["centroid"]

    q_ids = [r[0] for r in q_rows]
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    qdotc = q_mat @ centers.T  # (nq, nlist)
    npb = min(nprobe, len(c_ids))
    probe_rows = []
    for qi, qid in enumerate(q_ids):
        if round_to is None:
            top = np.argpartition(-qdotc[qi], npb - 1)[:npb]
        else:
            # deterministic probe for the replay: rounded cell score
            # desc, cluster_id asc (the ivf_search tie discipline);
            # _qdotc stays RAW — rounding gates SELECTION only, the
            # scored sum rounds once at the window
            key = np.round(qdotc[qi], round_to)
            top = sorted(
                range(len(c_ids)), key=lambda ci: (-key[ci], c_ids[ci])
            )[:npb]
        probe_rows.extend(
            (qid, int(c_ids[ci]), float(qdotc[qi, ci])) for ci in top
        )
    probe_df = local_frame(
        spark, probe_rows, f"{query_id_col} {qid_type}, cluster_id int, _qdotc double"
    )
    cand = F.broadcast(probe_df).join(
        codes_df.select(doc_id_col, "cluster_id", "pq_code"), "cluster_id"
    )
    lut = np.einsum(
        "qjd,jcd->qjc", q_mat.reshape(len(q_mat), m, dsub), books
    )
    idx_map = {qid: i for i, qid in enumerate(q_ids)}
    bc = spark.sparkContext.broadcast((idx_map, lut))
    pool = max(k * rerank, k) if rerank else k

    def _adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        imap, lut_ = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            qidx = pdf[query_id_col].map(imap).to_numpy(dtype=np.int64)
            codes = np.array(pdf["pq_code"].tolist(), dtype=np.int64)
            scores = pdf["_qdotc"].to_numpy(dtype=np.float64).copy()
            for j in range(lut_.shape[1]):
                scores += lut_[qidx, j, codes[:, j]]
            out = pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col].to_numpy(),
                    doc_id_col: pdf[doc_id_col].to_numpy(),
                    "score": scores,
                }
            )
            # per-batch partial top-pool per query present in the batch
            yield out.sort_values(
                "score", ascending=False, kind="mergesort"
            ).groupby(query_id_col, sort=False).head(pool)

    scored = cand.mapInPandas(
        _adc,
        f"{query_id_col} {qid_type}, {doc_id_col} {did_type}, score double",
    )
    if round_to is not None:
        scored = scored.withColumn("score", F.round("score", round_to))
    ranked = scored.withColumn(
        "rank", F.row_number().over(_rank_window(query_id_col, doc_id_col))
    ).filter(F.col("rank") <= pool)
    if not rerank or corpus_vec_col not in codes_df.columns:
        return ranked.filter(F.col("rank") <= k)
    exact_sc = dot(F.col(query_vec_col), F.col(corpus_vec_col))
    if round_to is not None:
        exact_sc = F.round(exact_sc, round_to)
    exact = (
        ranked.select(query_id_col, doc_id_col)
        .join(codes_df.select(doc_id_col, corpus_vec_col), doc_id_col)
        .join(
            F.broadcast(queries_df.select(query_id_col, query_vec_col)),
            query_id_col,
        )
        .select(
            query_id_col,
            doc_id_col,
            exact_sc.alias("score"),
        )
    )
    out = exact.withColumn(
        "rank", F.row_number().over(_rank_window(query_id_col, doc_id_col))
    )
    return out.filter(F.col("rank") <= k)
