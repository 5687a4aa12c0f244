"""BM25 lexical search (SURVEY §2.6, L1-L2) as DataFrame term statistics.

Reference behavior (/root/reference/app/ingest/hybrid.py:4-12): tokenize
``text.lower().split()`` and score with the rank_bm25 ``BM25Okapi`` model
(k1=1.5, b=0.75, epsilon=0.25). That library's published formula:

    idf(t)  = ln(N - df + 0.5) - ln(df + 0.5)
    avg_idf = mean over the vocabulary of idf (negatives included)
    idf(t) := epsilon * avg_idf       when idf(t) < 0
    score(d,q) = sum over query tokens (with multiplicity) of
        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

The reference rebuilds the whole model per request
(answerless_search.py:242) — the anti-pattern SURVEY §4 flags. Here the
term stats (``bm25_build``) are separate from scoring, which is a pure
join + aggregation, so a caller CAN build them once per index version and
score many query batches against them. ``pipeline.search(...,
hybrid=True)`` does not: it calls ``bm25_search``, which rebuilds the term
stats from the index's chunks on every call, exactly like the reference:
a one-query hybrid search runs about 40 Spark jobs against about 11
without BM25 (1,000-document corpus).

- ``term_stats``: one row per (doc, term) with tf — partitioned by term
  for the query-side join; at 100 TB this is a bucketable layout.
- scoring shuffles only (query_terms x matching docs), never the corpus;
  query term lists are tiny and broadcast.

Scoring is JVM-side SQL — no Python in the path — and deliberately
expressible 1:1 in the DuckDB oracle; only the build's postings pass
(``_raw_postings``) runs Python, in Arrow batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from indexlab_spark.config import BM25_B, BM25_K1

EPSILON = 0.25  # rank_bm25 BM25Okapi default


def tokenize(col):
    """``str.lower().split()`` parity: split on whitespace runs, drop
    empties (leading/trailing whitespace would otherwise emit '')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(c), r"\s+"), "")


def _raw_postings(docs_df: DataFrame, doc_id_col: str, text_col: str) -> DataFrame:
    """One Arrow pass: ``(doc_id, term, tf, dl)`` — per-document term
    frequencies and length, zero shuffle (Counter per doc; the
    exploded_shingles trick). Shared by bm25_build and bm25_refresh."""
    import re as _re

    import pandas as pd

    ws = _re.compile(r"\s+", _re.ASCII)  # JVM/RE2 \s (ASCII) parity

    def _tf_rows(batches):
        from collections import Counter

        for pdf in batches:
            ids: list = []
            terms: list = []
            tfs: list = []
            dls: list = []
            for i, t in zip(pdf[doc_id_col], pdf[text_col]):
                toks = [x for x in ws.split((t or "").lower()) if x]
                c = Counter(toks)
                ids.extend([i] * len(c))
                terms.extend(c.keys())
                tfs.extend(c.values())
                dls.extend([len(toks)] * len(c))
            yield pd.DataFrame(
                {"doc_id": ids, "term": terms, "tf": tfs, "dl": dls}
            )

    src = docs_df.select(doc_id_col, text_col)
    parallelism = docs_df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < parallelism:
        src = src.repartition(parallelism)
    id_t = docs_df.schema[doc_id_col].dataType.simpleString()
    return src.mapInPandas(
        _tf_rows, f"doc_id {id_t}, term string, tf long, dl long"
    )


def bm25_build(
    docs_df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
):
    """L1 — materialize BM25 statistics.

    Returns (term_stats, doc_lens, globals_df):
      term_stats: (doc_id, term, tf, idf_adj)
      doc_lens:   (doc_id, dl)
      globals_df: single row (n_docs, avgdl)

    ``materialize=True`` caches the tf table — everything downstream
    (doc_lens, df, idf, scoring) derives from it, and without the cache
    Spark re-runs the tokenize scan once per derived branch. In
    production these frames are written as the per-index-version BM25
    tables (EngineConfig.bm25_path) instead of cached.

    Shuffle shape: tf AND dl are per-document local facts, so one Arrow
    mapInPandas pass (Counter per doc — the exploded_shingles trick)
    emits (doc_id, term, tf, dl) with ZERO shuffle. The posting frame
    itself NEVER shuffles after that: document frequencies come from a
    map-side-combined ``groupBy(term).count()`` whose output is only
    |vocab| rows, idf is derived on that small frame, and term_stats is
    the posting frame joined against it — a join AQE compiles to a
    broadcast at any realistic vocabulary size (falls back to a shuffle
    join on the |vocab|-row side, never the corpus, if not). The
    previous formulation pushed the FULL posting frame through a
    term-partitioned window plus a distinct — two corpus-sized
    exchanges for statistics that are vocabulary-sized.
    """
    tf = _raw_postings(docs_df, doc_id_col, text_col)
    if materialize:
        from indexlab_spark.functions.cache import pin

        # deser: the posting frame is consumed by JVM-side joins/aggs
        # (df agg, term_stats join, scoring) - see cache.pin's r17 note
        tf = pin(tf, deser=True)
    # docs with no tokens still count toward N and avgdl (dl=0)
    all_docs = docs_df.select(F.col(doc_id_col).alias("doc_id"))
    doc_lens = (
        all_docs.join(
            tf.groupBy("doc_id").agg(F.first("dl").alias("dl")), "doc_id", "left"
        ).na.fill({"dl": 0})
    )
    # r17: globals never need the doc-keyed doc_lens chain — n_docs is a
    # scalar count of the input frame and sum(dl over docs) == sum(tf
    # over postings) exactly (dl is the doc's token count, i.e. the sum
    # of its term frequencies; both are integer sums, so avgdl is
    # bit-identical). Evaluating globals through doc_lens cost a
    # corpus-tokens-sized groupBy(doc_id) exchange plus a doc-sized join
    # inside EVERY scoring job; this is one map-side scalar agg over the
    # pinned posting frame. doc_lens itself stays lazily defined for
    # callers that consume it.
    n_docs_df = docs_df.agg(F.count(F.lit(1)).alias("n_docs"))
    return _derive_bm25(tf, doc_lens, materialize, n_docs_df=n_docs_df)


def _derive_bm25(tf, doc_lens, materialize: bool, n_docs_df=None):
    """(term_stats, doc_lens, globals_df) from the raw posting frame +
    doc-length frame — the vocabulary-sized derivation shared by
    bm25_build (full) and bm25_refresh (incremental). The posting frame
    never shuffles: df/idf are map-side-combined |vocab|-row aggregates.

    Globals (r17): ``sum(dl over docs) == sum(tf over postings)`` exactly
    (dl is the doc's token count = the sum of its per-term frequencies;
    integer sums, so avgdl is bit-identical), so when the caller supplies
    ``n_docs_df`` (a 1-row ``n_docs`` count of the corpus) the globals
    compute as one map-side scalar agg over the posting frame instead of
    evaluating doc_lens' doc-keyed groupBy + join chain. Empty-corpus
    edge: sum over no postings coalesces to 0, and 0 / n_docs=0 is NULL —
    the same NULL the doc_lens formulation produced. Without n_docs_df
    (refresh's union state) globals fall back to counting doc_lens rows,
    still paired with the posting-frame token sum."""
    if n_docs_df is None:
        n_docs_df = doc_lens.agg(F.count(F.lit(1)).alias("n_docs"))
    globals_df = n_docs_df.crossJoin(
        tf.agg(F.coalesce(F.sum("tf"), F.lit(0)).alias("_tok"))
    ).select(
        "n_docs",
        (F.col("_tok").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    # vocabulary-level document frequencies: map-side combine shrinks the
    # exchange to |vocab| rows — the posting frame itself never moves
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_tbl.crossJoin(F.broadcast(globals_df.select("n_docs"))).select(
        "term",
        (F.log(F.col("n_docs") - F.col("df") + 0.5) - F.log(F.col("df") + 0.5))
        .alias("idf_raw"),
    )
    avg_idf = idf.agg(F.avg("idf_raw").alias("avg_idf"))
    idf_adj = idf.crossJoin(F.broadcast(avg_idf)).select(
        "term",
        F.when(F.col("idf_raw") < 0, EPSILON * F.col("avg_idf"))
        .otherwise(F.col("idf_raw"))
        .alias("idf_adj"),
    )
    # denormalized: term_stats carries dl so scoring needs no extra join;
    # no broadcast hint — AQE broadcasts the vocab-sized idf side when it
    # fits and degrades to shuffling only that small side when it doesn't
    term_stats = tf.join(idf_adj, "term").select(
        "doc_id", "term", "tf", "idf_adj", "dl"
    )
    if materialize:
        from indexlab_spark.functions.cache import pin

        term_stats = pin(term_stats, deser=True)
    return term_stats, doc_lens, globals_df


def bm25_refresh(
    old_tf: DataFrame,
    old_doc_lens: DataFrame,
    new_docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    removed_ids: DataFrame | None = None,
    materialize: bool = True,
):
    """Incremental BM25 index maintenance. The persistable state is the
    RAW posting frame ``(doc_id, term, tf, dl)`` plus ``(doc_id, dl)``
    doc lengths — both per-document facts, so ingestion is ADDITIVE:
    only the new batch is tokenized (one Arrow pass over batch-sized
    input), appended to the old state (and anti-joined against
    ``removed_ids(doc_id)`` for deletions), and the vocabulary-sized
    statistics (df, idf, avgdl) re-derive via :func:`_derive_bm25`.
    Scores over the union EQUAL a full rebuild (idf/avgdl are global,
    so they legitimately change for every doc — but the stored
    per-document state never needs recomputation; pinned by
    tests/test_bm25.py).

    Returns ``(term_stats, doc_lens, globals_df, new_tf)`` where
    ``new_tf``/``doc_lens`` are the next round's persistable state.

    Per-refresh cost at 100 TB: tokenize ~ batch size; union is a plan
    node, not a shuffle; df re-agg is map-side combined over the
    posting frame scan with |vocab| output rows — the one full-state
    pass, the same cost a materialized-view refresh of a count table
    pays (cf. maintenance.refresh_rollup for the keyed-delta variant).
    """
    tf_new = _raw_postings(new_docs, doc_id_col, text_col)
    dl_new = (
        new_docs.select(F.col(doc_id_col).alias("doc_id"))
        .join(
            tf_new.groupBy("doc_id").agg(F.first("dl").alias("dl")),
            "doc_id",
            "left",
        )
        .na.fill({"dl": 0})
    )
    # removals apply to the OLD state BEFORE the union: the natural
    # single-call update (remove doc 1, re-add its new text in the same
    # batch) must keep the fresh rows — anti-joining the union instead
    # would silently delete the re-added document
    if removed_ids is not None:
        old_tf = old_tf.join(removed_ids, "doc_id", "left_anti")
        old_doc_lens = old_doc_lens.join(removed_ids, "doc_id", "left_anti")
    tf = old_tf.unionByName(tf_new)
    dl = old_doc_lens.unionByName(dl_new)
    if materialize:
        from indexlab_spark.functions.cache import pin

        # deser: the posting frame is consumed by JVM-side joins/aggs
        # (df agg, term_stats join, scoring) - see cache.pin's r17 note
        tf = pin(tf, deser=True)
    term_stats, doc_lens, globals_df = _derive_bm25(tf, dl, materialize)
    return term_stats, doc_lens, globals_df, tf


def bm25_score(
    queries_df: DataFrame,
    term_stats: DataFrame,
    doc_lens: DataFrame,
    globals_df: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    query_col: str = "query",
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_digits: int | None = 6,
) -> DataFrame:
    """L2 — score and rank top-k docs per query.

    ``doc_lens`` is accepted for API symmetry with bm25_build's return
    tuple but is NOT read — scoring takes dl from the denormalized
    term_stats (which spares the extra join); it exists for callers
    that need per-doc lengths for other purposes.

    Query tokens keep multiplicity (rank_bm25 sums per token occurrence).
    Docs with zero overlap score 0 and are NOT returned — the reference
    returns all docs sorted (hybrid.py:11), but its callers only consume
    the top-k, and at scale materializing zero-scored docs is wrong; the
    contract difference is observable only when a query matches fewer
    than k docs.
    """
    q_terms = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(tokenize(query_col)).alias("term"),
    ).groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("qtf"))

    contrib = (
        F.broadcast(q_terms)
        .join(term_stats, "term")
        .crossJoin(F.broadcast(globals_df))
        .select(
            "query_id",
            "doc_id",
            (
                F.col("qtf")
                * F.col("idf_adj")
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("contrib"),
        )
    )
    scores = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").alias("score")
    )
    if round_digits is not None:
        scores = scores.withColumn("score", F.round("score", round_digits))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def bm25_search(
    docs_df: DataFrame,
    queries_df: DataFrame,
    k: int,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """Convenience: build + score in one plan (small corpora / tests)."""
    term_stats, doc_lens, globals_df = bm25_build(docs_df, doc_id_col, text_col)
    return bm25_score(queries_df, term_stats, doc_lens, globals_df, k, **kwargs)


def prf_expand(
    queries_df: DataFrame,
    hits: DataFrame,
    term_stats: DataFrame,
    n_terms: int = 2,
    query_id_col: str = "query_id",
    query_col: str = "query",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (the RM3 lineage,
    Lavrenko & Croft 2001 / Abdul-Jaleel et al. 2004, public): assume
    the first-pass top-k documents are relevant, mine them for the
    terms that best characterize them, and append those terms to the
    query — the classic recall lever when queries are short and the
    vocabulary gap is real. Term weight is the relevance-weighted
    normalized frequency ``w(t) = sum over hit docs of
    (tf(t, d) / dl(d)) * score(d)`` (6dp); terms already in the query
    are excluded; the top ``n_terms`` by (w desc, term asc) append to
    the query text in rank order, so re-tokenization gives original
    multiplicities + 1 per expansion term.

    Distributed shape: the hit frame is queries x k rows; joining it
    to the posting frame is doc-keyed (the postings never move for the
    original corpus pass — this reuses bm25_build's materialized
    term_stats), the candidate agg is (query, term)-keyed, and the
    top-n window runs on the candidate frame. Nothing corpus-sized
    shuffles a second time.

    Output: query_id_col, query_col — the expanded queries frame,
    ready for a second :func:`bm25_score` pass. Queries whose hits
    yield no admissible terms pass through unchanged.
    """
    if n_terms < 1:
        raise ValueError(f"prf_expand: n_terms must be >= 1, got {n_terms}")
    orig = queries_df.select(query_id_col, query_col)
    qtok = orig.select(
        F.col(query_id_col),
        F.explode(tokenize(F.col(query_col))).alias("term"),
    ).distinct()
    cand = (
        hits.select(query_id_col, doc_id_col, "score")
        .join(
            term_stats.select(doc_id_col, "term", "tf", "dl"),
            doc_id_col,
        )
        .groupBy(query_id_col, "term")
        .agg(
            F.round(
                F.sum(
                    F.col("tf").cast("double") / F.col("dl")
                    * F.col("score")
                ),
                6,
            ).alias("w")
        )
        .join(qtok, [query_id_col, "term"], "left_anti")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("w").desc(), F.col("term").asc()
    )
    top = cand.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= n_terms
    )
    agg = top.groupBy(query_id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_r", "term"))),
                lambda s: s["term"],
            ),
            " ",
        ).alias("_exp")
    )
    return orig.join(agg, query_id_col, "left").select(
        query_id_col,
        F.when(
            F.col("_exp").isNotNull(),
            F.concat_ws(" ", F.col(query_col), F.col("_exp")),
        )
        .otherwise(F.col(query_col))
        .alias(query_col),
    )
