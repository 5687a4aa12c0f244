"""Deduplication operators — the training-data-pipeline extensions
(SURVEY §7.1 M7; mandated beyond the reference surface).

Five strategies, each returning DataFrames a 100 TB pipeline can act on:

- exact:      hash-groupBy on normalized text; one shuffle on the hash,
              no pairwise work. The only strategy that needs zero
              candidate generation — always run it first.
- minhash+LSH: shingle -> per-seed min-md5 signature -> band keys ->
              bucket self-join. Pair generation cost is O(sum of
              bucket^2), controlled by bands x rows; verification joins
              shingles only for candidates. This is the scale path for
              near-dup text.
- simhash:    60-bit sign-aggregated fingerprint; candidate pairs via
              band self-join (4 bands of 15 bits — by pigeonhole a pair
              within hamming <= nbands-1 shares a band; exact hamming
              filter after). Cheap fingerprints, fixed-width state.
- n-gram jaccard: exact pairwise jaccard via shingle equi-join — only
              pairs sharing >=1 shingle materialize. Quadratic in the
              worst case; use on candidate sets or small corpora.
- embedding cosine: near-dup by cosine >= threshold over an embedding
              column; brute force variant here, IVF/LSH-bucketed variant
              via operators.knn/build_ivf for scale.

All hashing is md5-based (functions/hashing.py) so every strategy is
expressible 1:1 in the DuckDB oracle.

The banded operators (minhash, incremental minhash, simhash, weighted
minhash, embedding LSH) share one banding kernel: :func:`_grams` for
the text tokenize contract, :func:`_band_rows` for the ``(id, band,
key)`` rows, :func:`_hot_buckets` for the overfull-bucket guard and
:func:`_bucket_pairs` for the ``(band, key)`` candidate self-join.
Each family keeps its own band-key expression, which its oracle replays.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from indexlab_spark.functions.vector import cosine

# Persisted intermediates (shingle/signature/band frames) go through
# the shared bounded ring: the returned pair frames consume them
# lazily, so the operators cannot unpersist before returning — see
# functions/cache.py for the rationale.
from indexlab_spark.functions.cache import pin as _pin

# CPU-bound Arrow/shingle stages fan out through the ONE measured policy
# (plans/colocate.fan_out) instead of private copies of the partition-
# count preamble — each private copy also paid an extra .rdd plan-
# conversion (r4 VERDICT cleanup item). min_fraction=1.0 preserves the
# historical dedup behavior: spread whenever below full parallelism.
from indexlab_spark.plans.colocate import fan_out as _fan_out
from indexlab_spark.session import _loop_aqe


def _spread(df: DataFrame) -> DataFrame:
    return _fan_out(df, min_fraction=1.0)


def _sym_edges(e: DataFrame, a_col: str, b_col: str,
               out_a: str = "src", out_b: str = "dst") -> DataFrame:
    """Both directions of every edge in ONE scan of ``e`` — a map-side
    explode replacing ``select(a,b).union(select(b,a))``, which
    computes the edge frame's ENTIRE lineage twice per materialization
    (r17, guide §2.3/§5: for join-built edge frames — the co-purchase
    builds, the jaccard pair join — the doubled scan was the dominant
    cost of symmetrization). Row multiset identical to the union."""
    return e.select(
        F.explode(
            F.array(
                F.struct(F.col(a_col).alias(out_a), F.col(b_col).alias(out_b)),
                F.struct(F.col(b_col).alias(out_a), F.col(a_col).alias(out_b)),
            )
        ).alias("_e")
    ).select(f"_e.{out_a}", f"_e.{out_b}")


def _endpoints(e: DataFrame, a_col: str, b_col: str,
               out: str = "id") -> DataFrame:
    """Both endpoint columns of every edge as one column, in ONE scan —
    the explode twin of ``select(a).unionAll(select(b))`` (same
    double-lineage rationale as :func:`_sym_edges`)."""
    return e.select(
        F.explode(F.array(F.col(a_col), F.col(b_col))).alias(out)
    )


def _simple_edges(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """The canonical simple-graph edge frame ``(a, b)`` with ``a < b``:
    self-loops dropped, duplicate and reversed edges collapsed. An edge
    with a NULL endpoint drops too, because ``a != b`` is NULL for it."""
    return (
        edges.filter(F.col(a_col) != F.col(b_col))
        .select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .distinct()
    )


def _triangles(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Every triangle of a canonical edge frame (:func:`_simple_edges`),
    found once by the degree-ordered orientation of Suri & Vassilvitskii
    (2011, public): each edge points from its lower-(degree, id)
    endpoint to the higher one, so the oriented out-degree is
    O(sqrt(m)) for any degree distribution (a hub that would generate
    deg^2 wedges naively generates almost none, because nearly all its
    edges point INTO it). A triangle is a wedge (u->v, u->w) with v's
    key below w's, closed by the oriented edge (v->w).

    Returns ``(deg, tri)``: the degree frame ``(id, deg)`` and the
    triangles ``(u, v, w)``. Shuffles: one map-combined degree agg, two
    keyed joins hanging the degrees on the edges, the wedge self-join
    and the closure probe. The degree frame (both keyed joins and the
    caller) and the oriented frame (both wedge sides and the probe) are
    each read more than once, so each is a lazy localCheckpoint,
    materialized by the first job that reads it."""
    deg = (
        _endpoints(e, "a", "b")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    keyed = (
        e.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            "a",
            "b",
            F.struct(F.col("da").alias("d"), F.col("a").alias("i")).alias("ka"),
            F.struct(F.col("db").alias("d"), F.col("b").alias("i")).alias("kb"),
        )
    )
    fwd = F.col("ka") < F.col("kb")
    oriented = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("kb")).otherwise(F.col("ka")).alias("kdst"),
    ).localCheckpoint(eager=False)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    tri = (
        o1.join(
            o2,
            (F.col("o1.src") == F.col("o2.src"))
            & (F.col("o1.kdst") < F.col("o2.kdst")),
        )
        .select(
            F.col("o1.src").alias("u"),
            F.col("o1.dst").alias("v"),
            F.col("o2.dst").alias("w"),
        )
        .join(
            oriented,
            (F.col("v") == F.col("src")) & (F.col("w") == F.col("dst")),
        )
        .select("u", "v", "w")
    )
    return deg, tri


def normalized_md5(text: Column | str) -> Column:
    """md5 of whitespace-normalized lowercase text — THE exact-dedup
    group key (one definition; exact_dedup and curate_corpus share it).
    DuckDB equivalent: md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(F.regexp_replace(F.lower(t), r"\s+", " ")))


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    normalize: bool = True, max_ids: int | None = 100,
) -> DataFrame:
    """Exact duplicate groups: (text_md5, cnt, keep_id, ids).

    ``keep_id`` is the minimum id (deterministic survivor). ``normalize``
    lowercases and collapses whitespace first (catches trivial variants).

    ``ids`` carries at most ``max_ids`` member ids (the first by id
    order): a boilerplate string duplicated 10M times at corpus scale
    must not materialize one unbounded array cell. The bound is applied
    BEFORE aggregation (row_number over the same text_md5 partitioning,
    so no extra shuffle — the window sort and the final agg share one
    exchange), which keeps the per-group agg state itself bounded, not
    just the output. ``cnt``/``keep_id`` always reflect the FULL group;
    pass ``max_ids=None`` to keep every id (small-corpus tooling only).
    """
    if normalize:
        key = normalized_md5(text_col)
    else:
        key = F.md5(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), key.alias("text_md5"))
    if max_ids is None:
        collected = F.collect_list("id")
    else:
        w = Window.partitionBy("text_md5").orderBy("id")
        base = base.withColumn("_rn", F.row_number().over(w))
        collected = F.collect_list(
            F.when(F.col("_rn") <= max_ids, F.col("id"))
        )
    return (
        base.groupBy("text_md5")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("id").alias("keep_id"),
            F.sort_array(collected).alias("ids"),
        )
    )


def exact_dedup_incremental(
    new_df: DataFrame,
    old_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Incremental exact dedup — the additive-state member of the exact
    family (bm25_refresh / minhash_incremental_pairs / ivf_append
    discipline): classify a NEW batch against a persisted hash index
    (``old_index``: (text_md5, keep_id) — exactly :func:`exact_dedup`'s
    output columns, so the batch operator's result IS the state) plus
    against itself, without ever re-reading or re-hashing old text.

    Output, one row per new doc: ``(id, text_md5, status, dup_of)``
    with status ``dup_of_old`` (dup_of = the old index's keep_id) |
    ``dup_of_new`` (dup_of = the batch's min id for the hash) |
    ``unique`` (dup_of = NULL; this doc becomes the hash's keep_id in
    the refreshed index). Refreshed state = old_index ∪ the unique
    rows' (text_md5, id) — pinned against a full-batch rebuild in
    tests.

    Plan: the batch hashes once (codegen map), one batch-keyed agg for
    within-batch min ids, one keyed left join against the index. Old
    corpus cost: zero scans; the index frame is hash-count-sized.
    """
    key = normalized_md5(text_col) if normalize else F.md5(F.col(text_col))
    base = new_df.select(F.col(id_col).alias("id"), key.alias("text_md5"))
    batch_min = base.groupBy("text_md5").agg(F.min("id").alias("_bmin"))
    joined = (
        base.join(batch_min, "text_md5")
        .join(
            old_index.select(
                "text_md5", F.col("keep_id").alias("_old_keep")
            ),
            "text_md5",
            "left",
        )
    )
    status = (
        F.when(F.col("_old_keep").isNotNull(), F.lit("dup_of_old"))
        .when(F.col("id") != F.col("_bmin"), F.lit("dup_of_new"))
        .otherwise(F.lit("unique"))
    )
    dup_of = (
        F.when(F.col("_old_keep").isNotNull(), F.col("_old_keep"))
        .when(F.col("id") != F.col("_bmin"), F.col("_bmin"))
        .otherwise(F.lit(None))
    )
    return joined.select(
        "id", "text_md5", status.alias("status"), dup_of.alias("dup_of")
    )


# JVM/RE2 ``\s`` is ASCII-only: the same class here keeps build- and
# query-side tokens (and the SQL oracle's) identical
_WS = re.compile(r"\s+", re.ASCII)


def _grams(text: str | None, n: int) -> set:
    """The distinct word n-grams of one document — THE tokenize contract
    of the text LSH family and its oracle: lowercase, split on ASCII
    whitespace, drop empty tokens. Empty below ``n`` tokens (NULL text
    included), so such a document gets no shingles and no signature."""
    toks = [x for x in _WS.split((text or "").lower()) if x]
    return {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}


def exploded_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle) rows — DISTINCT word n-grams per doc (:func:`_grams`),
    via one Arrow mapInPandas pass.

    Semantically identical to exploding ``hashing.token_shingles`` but
    ~5x faster: the Catalyst sequence/transform/slice/array_distinct
    lambda chain allocates per shingle, while a Python set over tokens
    runs at string speed inside one Arrow batch.
    """
    import pandas as pd

    def _gen(batches):
        for pdf in batches:
            ids: list = []
            shs: list = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                grams = _grams(t, n)
                ids.extend([i] * len(grams))
                shs.extend(grams)
            yield pd.DataFrame({"id": ids, "shingle": shs})

    src = _spread(df.select(id_col, text_col))
    id_t = df.schema[id_col].dataType.simpleString()
    return src.mapInPandas(_gen, f"id {id_t}, shingle string")


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (a < b, jaccard >= threshold).

    Shingle equi-join: |A ∩ B| by joining exploded distinct shingles,
    then jaccard = inter / (|A| + |B| - inter). Only pairs sharing at
    least one shingle are ever materialized.
    """
    # deser: consumed by the JVM shingle self-join + sizes agg (r17 —
    # serialized blocks paid a row decode per re-scan, measured +1.6s)
    exploded = _pin(exploded_shingles(df, id_col, text_col, n), deser=True)
    sizes = exploded.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        exploded.alias("a")
        .join(exploded.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_tail(inter, sizes, threshold)


def _jaccard_tail(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """``(id_a, id_b, inter, jaccard)`` for the pairs of ``inter``
    ``(id_a, id_b, inter)`` with jaccard >= ``threshold``:
    |A| and |B| from the size table ``(id, sz)``, jaccard =
    inter / (|A| + |B| - inter) at 6dp."""
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "jaccard")
    )


def _check_banding(num_hashes: int, bands: int) -> int:
    """Rows per band of a signature of ``num_hashes`` values split into
    ``bands`` bands; every banded operator checks its split here."""
    if bands < 1 or num_hashes < bands or num_hashes % bands != 0:
        # bands > num_hashes would give rows=0 and a CONSTANT band key —
        # every doc collides and the "prune" silently degenerates to the
        # full quadratic cross join; a non-divisible remainder computes
        # hashes that no band ever reads and invalidates the documented
        # 1-(1-j^r)^b capture math. Fail loudly instead.
        raise ValueError(
            f"num_hashes={num_hashes} must be a positive multiple of "
            f"bands={bands}"
        )
    return num_hashes // bands


def _band_rows(sigs: DataFrame, keys: Column, carry: tuple = ()) -> DataFrame:
    """``(id, *carry, band, key)``: one row per band of every signature
    row of ``sigs``, from the array column ``keys`` of its band keys;
    ``band`` is the int position of the key in that array."""
    return sigs.select(
        "id", *carry, F.posexplode(keys).alias("band", "key")
    )


def _hot_buckets(rows: DataFrame, max_bucket: int) -> DataFrame:
    """The ``(band, key)`` buckets of the band rows ``rows`` with more
    than ``max_bucket`` members, hinted for broadcast: callers drop them
    with a left-anti join before the candidate self-join.

    A degenerate band key (boilerplate text repeated across a slice of
    the corpus, zero vectors, a constant-embedding cluster) makes one
    bucket whose pair count is O(occupancy^2) however wide the band is.
    Hot keys number at most rows/max_bucket, so the frame is
    broadcast-sized. The guard is lazy: the count folds into the
    candidate join's own plan (an agg on the same (band, key) the
    self-join shuffles on) and an empty hot frame makes the anti-join a
    runtime no-op. An eager pin + count cost extra jobs on every call
    (+63% on clean corpora)."""
    return F.broadcast(
        rows.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ") > max_bucket)
        .select("band", "key")
    )


def _bucket_pairs(
    probe: DataFrame, build: DataFrame, carry: tuple = ()
) -> DataFrame:
    """Distinct candidate pairs ``(id_a, id_b, *{c}_a, *{c}_b)`` with
    ``id_a < id_b``: a row of ``probe`` and a row of ``build`` that
    share a ``(band, key)``, carrying the columns ``carry`` of each
    side."""
    def side(s):
        return [F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry]

    return (
        probe.alias("a")
        .join(build.alias("b"), ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *side("a"),
            *side("b"),
        )
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """``(id, sz, m0..m{num_hashes-1})`` MinHash signature frame — the
    persistable dedup INDEX. ``sz`` is the distinct-shingle count (the
    denominator side of exact-Jaccard verification); ``mK`` is the min
    over the doc's shingles of ``md5("K|" + shingle)`` — hex strings
    compare lexicographically, so each seed is an independent
    permutation proxy, byte-identical to the SQL oracle's.

    Signatures computed INSIDE one Arrow pass: hashlib.md5 across all
    cores beats both the per-row array-transform expression tree and a
    num_hashes-way md5 min-aggregate over exploded shingle rows.

    Write this frame to a table per corpus version and incremental
    ingestion (minhash_incremental_pairs) never re-hashes old docs.
    """
    import hashlib as _hashlib

    import pandas as pd

    id_t = df.schema[id_col].dataType.simpleString()

    def _sigs(batches):
        md5 = _hashlib.md5
        pres = [f"{s}|".encode() for s in range(num_hashes)]
        # r16: shingle frequency is Zipfian (natural-language corpora
        # repeat shingles across documents), so hash each DISTINCT
        # gram once per task — the embed._TOKEN_CACHE discipline;
        # bounded so executors stay lean, misses just recompute.
        # r17 (ADVICE): the bound counts stored DIGESTS, not entries —
        # each entry holds num_hashes ~113-byte hex strings, so a flat
        # 1M-entry cap grew with num_hashes toward multi-GB per task.
        memo: dict = {}
        memo_max = max(1, 1_000_000 // max(1, num_hashes))
        for pdf in batches:
            out = {c: [] for c in ["id", "sz", *[f"m{i}" for i in range(num_hashes)]]}
            for i, t in zip(pdf[id_col], pdf[text_col]):
                grams = _grams(t, n)
                if not grams:
                    continue
                out["id"].append(i)
                out["sz"].append(len(grams))
                rows = []
                for g in grams:
                    h = memo.get(g)
                    if h is None:
                        ge = g.encode()
                        h = [md5(p + ge).hexdigest() for p in pres]
                        if len(memo) < memo_max:
                            memo[g] = h
                    rows.append(h)
                for s, mn in enumerate(map(min, zip(*rows))):
                    out[f"m{s}"].append(mn)
            yield pd.DataFrame(out)

    src = _spread(df.select(id_col, text_col))
    return src.mapInPandas(
        _sigs,
        f"id {id_t}, sz int, " + ", ".join(f"m{i} string" for i in range(num_hashes)),
    )


def _band_key_cols(num_hashes: int, bands: int) -> list:
    rows = num_hashes // bands
    return [
        F.md5(
            F.concat_ws("|", *[F.col(f"m{b * rows + j}") for j in range(rows)])
        ).alias(f"band{b}")
        for b in range(bands)
    ]


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified with exact Jaccard.

    shingle -> signature (num_hashes min-md5s) -> ``bands`` band keys ->
    self-join on (band index, key) -> distinct candidate pairs -> exact
    jaccard filter. With b bands of r rows the capture probability is
    1-(1-j^r)^b — b=4, r=4 keeps j>=0.7 pairs with P>~0.93 while pruning
    the low-similarity mass that makes all-pairs quadratic.

    ``max_bucket`` drops (band, key) buckets with more members from
    candidate generation (:func:`_hot_buckets`). A group of IDENTICAL
    texts is hot in ALL its bands at once, so its pairs are not
    recoverable via other bands — run exact_dedup first (one shuffle,
    and it catches exactly those); this operator's contract is
    NEAR-duplicates. None disables the guard.
    """
    _check_banding(num_hashes, bands)
    # the shingle frame feeds both verify sides, the signature frame the
    # band rows and the size table: without the pins each branch re-runs
    # tokenize+shingle over the corpus
    exploded = _pin(exploded_shingles(df, id_col, text_col, n))
    sig = _pin(minhash_signatures(df, id_col, text_col, n, num_hashes))
    buckets = _band_rows(sig, F.array(*_band_key_cols(num_hashes, bands)))
    if max_bucket is not None:
        buckets = buckets.join(
            _hot_buckets(buckets, max_bucket), ["band", "key"], "left_anti"
        )
    cand = _bucket_pairs(buckets, buckets)
    # exact-jaccard verification restricted to CANDIDATES only — the full
    # shingle self-join would be the quadratic blowup LSH exists to avoid
    return _verify_jaccard(cand, exploded, sig.select("id", "sz"), threshold)


def _verify_jaccard(
    cand: DataFrame, exploded: DataFrame, sizes: DataFrame, threshold: float,
    include_inter: bool = False,
) -> DataFrame:
    """Exact-Jaccard filter over a candidate pair frame: |A ∩ B| by
    joining the (id, shingle) frame on both sides restricted to the
    candidates, |A|/|B| from the precomputed size table.
    ``include_inter=True`` adds the raw intersection count column
    (jaccard_pairs' output shape)."""
    inter = (
        cand.join(exploded.withColumnRenamed("id", "id_a"), "id_a")
        .join(exploded.withColumnRenamed("id", "id_b"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = _jaccard_tail(inter, sizes, threshold)
    return out if include_inter else out.drop("inter")


def minhash_incremental_pairs(
    new_df: DataFrame,
    old_df: DataFrame,
    old_sigs: DataFrame | None = None,
    new_sigs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Incremental MinHash dedup for streaming/batch ingestion: verified
    near-dup pairs INVOLVING at least one NEW document, checked against
    an existing corpus via its signature index. Old-old pairs are by
    contract already known from the previous run and are not re-emitted,
    so ``minhash_lsh_pairs(old ∪ new) == minhash_lsh_pairs(old) ∪
    this`` exactly (banding is deterministic per document — a doc's
    signature does not depend on the rest of the corpus).

    Ids of ``new_df`` and ``old_df`` must be disjoint.

    Scale design — the whole point of the index:
    - old documents are never re-tokenized or re-hashed: pass
      ``old_sigs`` (the persisted :func:`minhash_signatures` table for
      the current corpus version); it is recomputed from ``old_df``
      only as a convenience fallback.
    - the candidate join probes NEW band keys against the combined
      bucket table, so its cost scales with the new batch, not the
      corpus.
    - exact-Jaccard verification re-reads text ONLY for documents that
      appear in some candidate pair (semi-join before shingling), and
      sizes come from the signature frames — the old corpus scan is
      candidate-bounded.

    When to use it — the measured crossover (r11 scale probe,
    PLANS.md): the incremental probe's FIXED overheads (signature-index
    read, combined-bucket probe join, candidate-bounded verify plumbing)
    cost ~2x a from-scratch rebuild when the corpus is the same size as
    the batch (same-corpus ratio 1.93), and only amortize as the corpus
    outgrows the batch — probe time stays flat under corpus growth
    (0.97-1.21 at 8x) while rebuild grows (1.76-2.68 at 8x), crossing
    between 4x and 8x. Rule of thumb: use the incremental path once the
    persisted corpus is >= ~4x the incoming batch; below that, just
    rebuild with :func:`minhash_lsh_pairs` over old ∪ new — same
    result by the union contract above, less work.
    """
    _check_banding(num_hashes, bands)
    if old_sigs is None:
        old_sigs = minhash_signatures(old_df, id_col, text_col, n, num_hashes)
    if new_sigs is None:
        new_sigs = _pin(
            minhash_signatures(new_df, id_col, text_col, n, num_hashes)
        )
    keys = F.array(*_band_key_cols(num_hashes, bands))
    new_b = _pin(_band_rows(new_sigs, keys).withColumn("is_new", F.lit(True)))
    all_b = _pin(
        new_b.unionByName(
            _band_rows(old_sigs, keys).withColumn("is_new", F.lit(False))
        )
    )
    if max_bucket is not None:
        # The guard counts only the keys the BATCH touches: a hot bucket
        # with no new-side key never joins, so dropping it is a no-op,
        # and per-key counts are unchanged by the key restriction. The
        # unrestricted count was the one corpus-sized SHUFFLE in the
        # probe path (r11 postmortem of the incremental ratio); after
        # the broadcast semi-join its input is candidate-mass-bounded
        # and the corpus bucket table is only ever SCANNED.
        new_keys = new_b.select("band", "key").distinct()
        hot = _hot_buckets(
            all_b.join(F.broadcast(new_keys), ["band", "key"], "semi"),
            max_bucket,
        )
        new_b = new_b.join(hot, ["band", "key"], "left_anti")
        all_b = all_b.join(hot, ["band", "key"], "left_anti")
    # probe NEW keys against the combined buckets: a new row may pair
    # with an old row on either side of it in id order, so this join
    # keeps a.id != b.id and normalizes the pair order afterwards —
    # (new, old) and (new, new) pairs then dedup identically to the
    # batch operator's a.id < b.id convention
    cand = (
        new_b.alias("a")
        .join(all_b.alias("b"), ["band", "key"])
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .distinct()
    )
    cand = _pin(cand)
    cand_ids = cand.select(F.col("id_a").alias("id")).unionByName(
        cand.select(F.col("id_b").alias("id"))
    ).distinct()
    # shingle ONLY candidate docs (old text re-read is candidate-bounded)
    touched = (
        old_df.select(F.col(id_col), F.col(text_col))
        .unionByName(new_df.select(F.col(id_col), F.col(text_col)))
        .join(cand_ids.withColumnRenamed("id", id_col), id_col, "semi")
    )
    exploded = exploded_shingles(touched, id_col, text_col, n)
    sizes = new_sigs.select("id", "sz").unionByName(
        old_sigs.select("id", "sz")
    )
    return _verify_jaccard(cand, exploded, sizes, threshold)


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    bits: int = 60,
) -> DataFrame:
    """SimHash fingerprints: (id, simhash). Default 60 bits — every bit
    md5_long yields (15 hex chars, the md5-portable maximum under 2^63
    in both engines' parsers).

    bit_j(doc) = 1 iff sum over shingles of (2*bit_j(md5_long(shingle))-1)
    >= 0.

    The fingerprint is a pure function of one document's text, so it
    computes in a SINGLE shuffle-free Arrow pass: per doc, hashlib.md5
    over the distinct shingles (byte-identical to SQL md5 — oracle
    parity holds) and a vectorized popcount-per-bit-position. The
    earlier formulation exploded shingle rows and ran ``bits``
    conditional sum-aggregates through a groupBy — a full shuffle of the
    shingle stream for math that never needed to leave the partition.
    """
    import hashlib as _hashlib

    import numpy as np
    import pandas as pd

    js = np.arange(bits, dtype=np.int64)

    def _fp(batches):
        md5 = _hashlib.md5
        for pdf in batches:
            ids, fps = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                grams = _grams(t, n)
                if not grams:
                    continue  # no shingles -> no fingerprint (parity with explode)
                h = np.array(
                    [int(md5(g.encode("utf-8")).hexdigest()[:15], 16) for g in grams],
                    dtype=np.int64,
                )
                ones = ((h[:, None] >> js) & 1).sum(0)
                bitvec = (2 * ones - len(h)) >= 0  # sum of ±1 per bit >= 0
                ids.append(i)
                fps.append(int((bitvec.astype(np.int64) << js).sum()))
            yield pd.DataFrame({"id": ids, "simhash": pd.Series(fps, dtype="int64")})

    src = _spread(df.select(id_col, text_col))
    id_t = df.schema[id_col].dataType.simpleString()
    return src.mapInPandas(_fp, f"id {id_t}, simhash bigint")


def simhash_pairs(
    simhash_df: DataFrame, max_hamming: int = 3, bits: int = 60,
    nbands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Candidate generation: split the fingerprint into ``nbands`` bands; by
    pigeonhole, hamming <= nbands-1 pairs share at least one band. Exact
    hamming (bit_count of xor) filters candidates.

    Scale: band-key cardinality is 2^(bits/nbands) — the round-1 config
    (32 bits / 4 bands = 256 buckets per band) went near-quadratic beyond
    ~1e5 docs; 60/4 gives 32,768 buckets per band (128x), so expected
    bucket occupancy — and with it candidate-join fan-out — drops 128x at
    the same corpus size while keeping the same pigeonhole guarantee.
    """
    if bits % nbands != 0:
        # a remainder leaves the top bits outside every band: pairs
        # differing only there are silently never candidates
        raise ValueError(f"bits={bits} must divide evenly into nbands={nbands}")
    if max_hamming > nbands - 1:
        # the pigeonhole guarantee covers hamming <= nbands-1 only; a
        # larger threshold would silently miss qualifying pairs whose
        # differing bits spread one-per-band
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee "
            f"of nbands-1={nbands - 1}; raise nbands to cover it"
        )
    # the band self-join evaluates its input lineage twice otherwise
    simhash_df = _pin(simhash_df)
    width = bits // nbands
    mask = (1 << width) - 1
    banded = _band_rows(
        simhash_df,
        F.array(*[
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(mask)
            for b in range(nbands)
        ]),
        carry=("simhash",),
    )
    return (
        _bucket_pairs(banded, banded, carry=("simhash",))
        .withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute force, a < b).

    Scale path: assign cluster_id with operators.knn.build_ivf and join
    within clusters (plus neighbor cells) instead of the full self-join.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected near-dup pair graph —
    min-label propagation. Returns ``(id, cluster)`` where ``cluster``
    is the smallest node id in the component (singletons label
    themselves). This turns pairwise dedup output into actionable
    clusters: keep ``id == cluster`` rows, drop the rest.

    Scale design: each iteration is one keyed join (labels x edges) and
    one min-aggregate — both shuffle on node id and combine map-side.
    Iterations needed = graph diameter, which for near-dup clusters is
    small (components are near-cliques; typically <= 3-4 hops). Each
    round is localCheckpoint'ed: the loop would otherwise stack a
    lineage of 2 shuffles per iteration and re-execute it on every
    convergence check. The convergence test is a scalar count — the
    only driver-side value in the loop.
    """
    # r16 round-structure fix (guide §2.4): sym used to carry the
    # distinct()'s (src, dst) partitioning, so EVERY round's
    # labels x sym join re-shuffled BOTH sides, and the label frame
    # arrived unpartitioned — 3 exchanges per round. Pinning sym on
    # hash(src) once and labels on hash(id) (localCheckpoint preserves
    # outputPartitioning) makes the per-round join exchange-free; only
    # the groupBy(dst) still shuffles — 1 exchange per round. AQE is
    # paused for the loop below 1M nodes (session._loop_aqe) so runtime
    # coalescing cannot break the co-partitioning.
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200") or 200)
    sym = (
        _sym_edges(edges, a_col, b_col)  # one scan of the pair lineage
        .distinct()
        .repartition(n_parts, "src")
        .persist()
    )
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("lbl"))
    labels = labels.repartition(n_parts, "id").localCheckpoint(eager=True)
    n_nodes = labels.count()  # cheap on the materialized checkpoint
    with _loop_aqe(spark, n_nodes):
        for _ in range(max_iter):
            nbr_min = (
                labels.join(sym, labels["id"] == sym["src"])
                .groupBy("dst")
                .agg(F.min("lbl").alias("nbr_lbl"))
            )
            new_labels = (
                labels.join(nbr_min, labels["id"] == nbr_min["dst"], "left")
                .select(
                    "id",
                    F.least(
                        F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))
                    ).alias("lbl"),
                    (F.coalesce("nbr_lbl", F.col("lbl")) < F.col("lbl")).alias(
                        "_chg"
                    ),
                )
            ).localCheckpoint(eager=True)
            changed = new_labels.filter(F.col("_chg")).limit(1).count()
            labels = new_labels.drop("_chg")
            if changed == 0:
                break
        else:
            # exhausting max_iter without convergence would silently
            # return SPLIT components (labels stuck mid-propagation) —
            # for a graph whose diameter exceeds max_iter, fail loudly
            sym.unpersist()
            raise RuntimeError(
                f"connected_components did not converge in max_iter="
                f"{max_iter} iterations (component diameter exceeds it); "
                "raise max_iter"
            )
    sym.unpersist()
    return labels.select("id", F.col("lbl").alias("cluster"))


def hyperplanes(n_planes: int, dim: int, seed: int = 42):
    """Seeded random hyperplanes for sign-LSH, as plain python floats.

    Generated driver-side and embedded as LITERALS into both the Spark
    expression tree and the DuckDB oracle SQL — repr(float) round-trips,
    so both engines parse bit-identical doubles and compute identical
    signatures (modulo a sign flip when a dot product sits within one
    ulp of zero — measure-zero on real data, pinned by the fixed gate
    dataset).
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((n_planes, dim))]


#: Above this corpus size the "auto" multiprobe policy stops probing
#: single-bit-flip neighbor keys: the (r+1)x probe fan-out multiplies
#: BOTH the shuffle and the random-collision candidate set, and random
#: collisions grow ~n^2/2^r — at small n multiprobe buys recall for
#: near-free, at large n it is the first dedup path to fall over
#: (measured 3.71x wall-clock at 8x rows in tools/scale_probe.py before
#: this gate; the verified-cosine step keeps PRECISION unaffected either
#: way). For guaranteed-recall mining at scale, set multiprobe=1
#: explicitly and raise bands/n_planes, or use the IVF/blocked-exact
#: paths (operators/knn.py).
MULTIPROBE_AUTO_MAX_ROWS = 8192

def embedding_lsh_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 128,
    bands: int = 8,
    threshold: float = 0.8,
    seed: int = 42,
    multiprobe: int | str = "auto",
    max_bucket: int | None = 100_000,
    _return_candidates: bool = False,
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane (sign) LSH — the
    LSH-bucketed scale path for cosine similarity search (the other one
    being IVF cells; brute force is knn_join/embedding_dup_pairs).

    sig bit i = [v . h_i >= 0]; the n_planes bits split into ``bands``
    integer band keys of r = n_planes/bands bits (2^r buckets per band —
    the key space must dwarf n or the "prune" is cosmetic). Only pairs
    colliding on SOME band are candidates (collision prob for cosine s:
    1-(1-p^r)^b with p = 1 - theta(s)/pi); with ``multiprobe=1`` each row
    additionally probes the r single-bit-flip neighbors of its key, so a
    band matches when hamming <= 1, lifting recall at fixed r (measured on
    the gate corpus: 0.36% of all pairs as candidates, 98.5% recall at
    cos>=0.85). Candidates are then verified with exact cosine >=
    threshold. Shuffle shape: band keys travel WITHOUT the vectors; the
    (small) candidate pair set joins vectors back by id, so the probe
    explosion never amplifies vector bytes.

    Defaults target the near-duplicate regime (cos >= ~0.8). For
    low-threshold mining on noise-like corpora no LSH config is both
    selective and complete — use knn_join / embedding_dup_pairs there.

    Scale controls (both default-on):

    - ``multiprobe="auto"``: single-bit-flip probing is enabled only
      while the corpus is at most MULTIPROBE_AUTO_MAX_ROWS rows — the
      flip fan-out is the superlinear term at scale (see the constant's
      doc). Pass 1/0 to force it on/off.
    - ``max_bucket``: (band, key) buckets with more members than this
      are dropped from candidate generation (:func:`_hot_buckets`). A
      degenerate key (all-zero vectors, a giant constant-embedding
      cluster) otherwise creates ONE bucket whose pair explosion is
      O(occupancy^2) regardless of r. Pairs inside a dropped bucket are
      still reachable through their other bands; the guard bounds
      worst-case candidates at buckets*max_bucket^2. None disables.

    ``_return_candidates`` (internal): return the UNVERIFIED candidate
    pair frame instead of verified pairs — tools/scale_probe.py uses it
    to measure candidate growth, the quantity the knobs above control.
    """
    import sys

    import numpy as np
    import pandas as pd

    r = _check_banding(n_planes, bands)
    planes = hyperplanes(n_planes, dim, seed)
    v = F.col(vec_col).cast("array<double>")

    # One Arrow-batched matmul computes all n_planes dot-product signs per
    # batch — the vectorized path; n_planes separate Catalyst higher-order
    # folds were measured ~20x slower at the same result. Sign parity with a
    # sequential-sum oracle holds unless a dot sits within float ulps of 0
    # (measure-zero on continuous data; pinned by the fixed gate corpus).
    P = np.array(planes, dtype=np.float64)
    pw = 1 << np.arange(r, dtype=np.int64)
    n_bands = bands

    def _band_keys(s):
        V = np.array([np.asarray(x, dtype=np.float64) for x in s])
        if len(V) == 0:
            return pd.Series([], dtype=object)
        B = (V @ P.T) >= 0
        K = np.stack(
            [B[:, b * r : (b + 1) * r] @ pw for b in range(n_bands)], axis=1
        ).astype(np.int64)
        return pd.Series(list(K.tolist()))

    band_keys = F.pandas_udf(_band_keys, "array<long>")

    sigs = df.select(F.col(id_col).alias("id"), band_keys(v).alias("keys"))
    # probe side reads this frame too — persist so the n_planes signature
    # folds run once per row, not twice
    band_kv = _pin(_band_rows(sigs, F.col("keys")))

    if multiprobe == "auto":
        # the flip-budget decision needs a row count. Counting the INPUT
        # would launch a full job over its (possibly expensive, unpinned)
        # lineage; counting the pinned band frame costs nothing extra —
        # the candidate join below materializes it anyway, and each row
        # contributes exactly ``bands`` band rows.
        n_rows = band_kv.count() // bands
        multiprobe = 1 if n_rows <= MULTIPROBE_AUTO_MAX_ROWS else 0
        if not multiprobe:
            print(
                f"embedding_lsh_pairs: corpus {n_rows} rows > "
                f"{MULTIPROBE_AUTO_MAX_ROWS} — multiprobe auto-disabled "
                "(exact band-key matches only; set multiprobe=1 to force)",
                file=sys.stderr,
            )

    if max_bucket is not None:
        band_kv = band_kv.join(
            _hot_buckets(band_kv, max_bucket), ["band", "key"], "left_anti"
        )

    if multiprobe:
        # Probing is symmetric under xor (if hamming(ka, kb) == 1, a's flip
        # hits b's key AND vice versa), so flips on ONE join side suffice
        # and the a.id < b.id filter still sees every qualifying pair.
        probe = band_kv.select(
            "id",
            "band",
            F.explode(
                F.array(
                    F.col("key"),
                    *[F.col("key").bitwiseXOR(F.lit(1 << j)) for j in range(r)],
                )
            ).alias("key"),
        )
    else:
        probe = band_kv

    cand = _bucket_pairs(probe, band_kv)
    if _return_candidates:
        return cand
    vecs = df.select(F.col(id_col).alias("id"), v.alias("v"))
    return (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplication at token granularity (the ExactSubstr
    semantic of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" — public paper): every k-token window whose
    content occurs at least ``min_count`` times in the corpus marks its
    positions, and overlapping/adjacent marked windows merge into
    MAXIMAL duplicated spans per document — the ranges a training-data
    pipeline would cut or down-weight.

    Plan shape (nothing pairwise, cost ~ total tokens):
      1. tokenize once (the canonical textstats.tokens expression);
      2. k-gram keys come from a transform over the token array — no
         self-join, no explode-then-window reassembly;
      3. window frequencies are ONE map-side-combined aggregation on the
         md5 of the gram (32-byte keys travel, not k-token strings; an
         md5 collision merging two counts is negligible and
         deterministic);
      4. the join back to positions is gram-keyed — the duplicated-gram
         set scales with the corpus, so it is NOT broadcast;
      5. span merging is a gap-aware island cumsum under a per-doc
         window (windows merge iff their positions differ by <= k).

    Returns (id_col, start_tok, end_tok, n_tokens), positions 0-based
    inclusive.
    """
    from indexlab_spark.operators.textstats import tokens

    toks = _spread(
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_toks"))
    )
    return _spans_from_toks(toks, id_col, k, min_count)


def _spans_from_toks(
    toks: DataFrame, id_col: str, k: int, min_count: int
) -> DataFrame:
    """duplicated_spans body over an already-tokenized ``(id, _toks)``
    frame — split out so remove_duplicated_spans can share ONE tokenize
    pass (it needs the token arrays again for the cut)."""
    toks = toks.filter(F.size("_toks") >= k)
    grams = toks.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - k),
                lambda i: F.md5(
                    F.array_join(F.slice(F.col("_toks"), i + 1, k), " ")
                ),
            )
        ).alias("pos", "gh"),
    )
    grams = _pin(grams)
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("gh")
    )
    marked = grams.join(dup, "gh").select("id", "pos")
    # Island merge must be GAP-AWARE: two marked windows [p, p+k-1] and
    # [q, q+k-1] overlap or touch iff q - p <= k, so they belong to one
    # maximal span even when q > p + 1. The classic pos - row_number
    # trick merges only CONSECUTIVE positions and would emit two
    # overlapping span rows for p=0, q=2, k=3 — double-counting the
    # shared tokens and breaking the non-overlapping contract.
    w = Window.partitionBy("id").orderBy("pos")
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = marked.withColumn(
        "_new",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
            F.lit(1)  # first pos per doc (lag NULL) also starts an island
        ),
    ).withColumn("_island", F.sum("_new").over(w_cum))
    return (
        isl.groupBy("id", "_island")
        .agg(F.min("pos").alias("_s"), F.max("pos").alias("_e"))
        .select(
            F.col("id").alias(id_col),
            F.col("_s").cast("int").alias("start_tok"),
            (F.col("_e") + (k - 1)).cast("int").alias("end_tok"),
            (F.col("_e") - F.col("_s") + k).cast("int").alias("n_tokens"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """The ACTION half of ExactSubstr dedup (Lee et al. 2022): cut every
    maximal duplicated span found by :func:`duplicated_spans` out of
    each document and return the cleaned token stream. Token-granular
    like the reference implementations — the rebuilt text is the kept
    tokens joined with single spaces (original whitespace is not
    preserved; standard for this operator, which feeds a tokenizer).

    Returns ``(id_col, n_tokens, n_kept, clean_text)`` for EVERY input
    document (docs with no duplicated spans pass through whole).

    Scale: spans per doc are collected into one array — bounded by the
    doc's own token count, i.e. the same order as the text already on
    that row; the cut itself is a per-row array filter (codegen), no
    extra shuffle beyond duplicated_spans' own aggregation.
    """
    from indexlab_spark.operators.textstats import tokens

    # ONE tokenize pass feeds both the span detection and the cut —
    # pinned because both branches consume it
    toks_all = _pin(
        _spread(
            df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_toks"))
        )
    )
    spans = _spans_from_toks(toks_all, id_col, k, min_count)
    spans_agg = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("_spans")
    )
    base = (
        toks_all
        .join(
            spans_agg.withColumnRenamed(id_col, "id"), "id", "left"
        )
        # NULL spans (no duplication) must become an EMPTY array: exists()
        # over NULL is NULL, and a NULL predicate would silently drop
        # every token of every clean document
        .withColumn(
            "_spans",
            F.coalesce(
                "_spans",
                F.array().cast("array<struct<start_tok:int,end_tok:int>>"),
            ),
        )
    )
    kept = F.filter(
        "_toks",
        lambda x, i: ~F.exists(
            "_spans",
            lambda s: (i >= s["start_tok"]) & (i <= s["end_tok"]),
        ),
    )
    return base.select(
        F.col("id").alias(id_col),
        F.size("_toks").alias("n_tokens"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 64,
    threshold: float = 0.9,
    seed: int = 42,
    fixed_iters: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: cluster the embedding
    space (operators.knn.build_ivf — sample-trained Lloyd, one Arrow
    assign pass), then compute exact pairwise cosine ONLY inside each
    cluster (Abbas et al. 2023, "SemDeDup" — public paper).

    Scale contract: per-cluster work is O(m^2) in cluster size m, so
    total work is ~n * (n / k) with k clusters — choose
    ``n_clusters ~ n / target_cluster_size`` to hold per-task memory
    constant as the corpus grows; the grouped-map shuffle moves each
    vector exactly once. Near-identical vectors quantize to the same
    cell (property-tested recall floor on planted dups), which is the
    same train-on-subset tradeoff FAISS IVF makes; cross-cluster dup
    pairs at the cell boundary are the documented miss mode — the
    LSH path (embedding_lsh_pairs) is the complement when boundary
    recall matters more than exactness of the prune.

    ``fixed_iters`` swaps the sampled seeded Lloyd for
    knn.build_ivf_fixed's deterministic fixed-iteration fit (r12
    attestation discipline: init = the n_clusters smallest ids, that
    many 6dp-rounded rounds, pure-codegen assignment) so the entire
    clustering — and therefore the pair set — replays in plain SQL;
    the pairwise-cosine verify inside cells is identical either way.

    Returns (id_a < id_b, cos) pairs with cos >= threshold.
    """
    import pandas as pd

    from indexlab_spark.operators.knn import build_ivf, build_ivf_fixed

    renamed = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if fixed_iters is not None:
        assigned, _ = build_ivf_fixed(
            renamed, nlist=n_clusters, iters=fixed_iters,
            vec_col="v", id_col="id",
        )
    else:
        assigned, _ = build_ivf(
            renamed, nlist=n_clusters, seed=seed, vec_col="v",
        )

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype=pdf["id"].dtype),
                    "id_b": pd.Series([], dtype=pdf["id"].dtype),
                    "cos": pd.Series([], dtype="float64"),
                }
            )
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        X = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        S = Xn @ Xn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        sims = np.round(S[iu, ju], 6)
        keep = sims >= threshold
        return pd.DataFrame(
            {"id_a": ids[iu[keep]], "id_b": ids[ju[keep]], "cos": sims[keep]}
        )

    # output id columns inherit the input id type (string ids work, not
    # just int64 — same derivation simhash/bm25_build use)
    id_t = df.schema[id_col].dataType.simpleString()
    return assigned.groupBy("cluster_id").applyInPandas(
        _pairs, f"id_a {id_t}, id_b {id_t}, cos double"
    )


def semantic_dedup_keep(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 64,
    threshold: float = 0.9,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup keep-list: drop every row that has a semantic duplicate
    with a smaller id (the standard greedy keep-lowest policy); returns
    the surviving rows of ``df``. One left-anti join against the pair
    set's id_b side — no window, no collect."""
    pairs = semantic_dedup_pairs(
        df, id_col=id_col, vec_col=vec_col,
        n_clusters=n_clusters, threshold=threshold, seed=seed,
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drops, id_col, "left_anti")


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide exact line deduplication (C4-style, Raffel et al.
    2020 §2.2; also RefinedWeb's exact line dedup): every line that
    occurs more than once ACROSS THE WHOLE CORPUS keeps only its first
    occurrence (ordered by ``(id, line position)``); later occurrences
    are cut and each document is rebuilt from its surviving lines in
    original order.

    Lines shorter than ``min_chars`` are never deduplicated (blank lines
    and trivial separators stay put — with the default ``min_chars=1``
    empty lines survive everywhere). ``delimiter`` is a LITERAL string
    (regex-escaped before the split), so the operator doubles as a
    sentence-/token-granular first-occurrence filter on corpora without
    newlines.

    Returns one row per input document:
    ``(id, clean_text, n_lines, n_removed)`` — documents whose every
    line was removed come back with ``clean_text = ''``, never dropped.

    Scale plan (100 TB): first occurrences are found with a
    ``groupBy(line).agg(min(struct(id, pos)))`` — a map-side-combinable
    aggregation, NOT a window, so a line duplicated a billion times
    costs one partial min per map task instead of a single-reducer sort.
    The keep-mark is then an equi-join of eligible lines against that
    winners frame on the line string; a pathological hot line skews the
    JOIN, which AQE's skew-join splitting handles (a window over the
    same key could not be split). Two shuffles total on line granularity
    (winners agg + join) plus the per-document rebuild shuffle on id;
    the rebuild array is bounded by the document's own size. Short lines
    bypass the join entirely (filter before shuffle).
    """
    import re as _re

    lines = _pin(
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.split(F.col(text_col), _re.escape(delimiter), -1)
            ).alias("pos", "line"),
        )
    )
    elig = lines.where(F.length("line") >= min_chars)
    first = elig.groupBy("line").agg(F.min(F.struct("id", "pos")).alias("w"))
    marked = (
        elig.join(first, "line")
        .select(
            "id",
            "pos",
            "line",
            (
                (F.col("id") == F.col("w.id")) & (F.col("pos") == F.col("w.pos"))
            ).alias("keep"),
        )
    )
    short = lines.where(F.length("line") < min_chars).select(
        "id", "pos", "line", F.lit(True).alias("keep")
    )
    merged = marked.unionByName(short)
    kept_sorted = F.transform(
        F.filter(
            F.sort_array(F.collect_list(F.struct("pos", "line", "keep"))),
            lambda x: x["keep"],
        ),
        lambda x: x["line"],
    )
    return merged.groupBy("id").agg(
        F.array_join(kept_sorted, delimiter).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_removed"),
    )


def jaccard_join_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard join via prefix filtering (AllPairs /
    PPJoin family, Bayardo et al. 2007 — public): identical output to
    :func:`jaccard_pairs` (a < b, inter, jaccard >= threshold), but
    candidate generation is sub-quadratic instead of the full shingle
    equi-join.

    The filter: order the vocabulary by global document frequency
    (rarest first); for Jaccard >= t, |A ∩ B| >= t·|A|, so any
    qualifying partner must share a shingle with A's first
    ``|A| - ceil(t·|A|) + 1`` shingles in that order (pigeonhole).
    Joining PREFIXES on rare-first tokens collapses the candidate
    space: common shingles (the quadratic blowup in the naive join)
    fall outside most prefixes. A symmetric size bound
    (min >= t·max, epsilon-guarded against float slop in the
    DIRECTION that could drop candidates) prunes further; survivors get
    the shared exact verification, so false positives die and the
    prefix theorem guarantees no false negatives.

    Shuffles: vocabulary-frequency agg (|vocab| rows out), per-doc
    prefix window keyed by doc id, prefix self-join keyed by shingle,
    candidate-restricted verify — all map-side-combined or
    candidate-bounded.

    WHEN TO USE (measured, sf0.1 local[32]): the naive equi-join's cost
    is sum(df^2) over shingles — on a near-unique-shingle corpus that
    is ~corpus-sized and the naive join WINS (lower constant: 2.6s vs
    5.6s at 5k docs), but it grows unboundedly with hot-shingle
    frequency: at 20k docs sharing one boilerplate sentence the naive
    join took 452s where this operator took 36s (identical 1032 pairs)
    — and the gap widens quadratically with corpus size. At 100 TB of
    web text (boilerplate everywhere) the prefix join is the only
    feasible EXACT path; MinHash-LSH remains the approximate
    alternative when even prefixes blow up.
    """
    exploded = _pin(exploded_shingles(df, id_col, text_col, n), deser=True)
    sizes = _pin(exploded.groupBy("id").agg(F.count(F.lit(1)).alias("sz")), deser=True)
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    t = float(threshold)
    # ceil guard: 0.2*5 floats to 1.0000000000000002, whose ceil (2)
    # would SHORTEN the prefix and lose candidates — subtract epsilon
    # before ceil so only genuine fractional parts round up
    need = F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9))
    ranked = (
        exploded.join(freq, "shingle")
        .join(sizes, "id")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.col("_df").asc(), F.col("shingle").asc()
                )
            ),
        )
        .filter(F.col("_rn") <= F.col("sz") - need + 1)
        .select("id", "sz", "shingle")
    )
    ranked = _pin(ranked)
    cand = (
        ranked.alias("a")
        .join(ranked.alias("b"), "shingle")
        .filter(
            (F.col("a.id") < F.col("b.id"))
            # size bound min >= t*max; epsilon ADMITS borderline pairs
            # (exact verify kills them) rather than dropping real ones
            & (F.col("b.sz") >= F.lit(t) * F.col("a.sz") - F.lit(1e-9))
            & (F.col("a.sz") >= F.lit(t) * F.col("b.sz") - F.lit(1e-9))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(cand, exploded, sizes, t, include_inter=True)


def jaccard_join_adaptive(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    pairs_per_doc_cap: float = 20_000.0,
    hot_df_cap: float = 8_000.0,
    _choice_out: dict | None = None,
) -> DataFrame:
    """Exact Jaccard join that PICKS its base: the naive shingle
    equi-join (:func:`jaccard_pairs`) on near-unique-shingle corpora,
    where its constant is ~2x lower, or the prefix-filtered AllPairs
    join (:func:`jaccard_join_prefix`) under hot shingles, where the
    naive join's sum(df^2) candidate mass is quadratic in hot-key
    frequency (measured 452s vs 36s at one shared boilerplate sentence
    across 20k docs). Both bases produce IDENTICAL output (equality
    pinned at 4 thresholds in tests), so the choice is purely a cost
    decision and safe to automate.

    The probe is the naive join's actual cost model, not a heuristic:
    its shingle self-join materializes exactly sum_s df_s*(df_s-1)/2
    candidate rows, computed here by ONE map-side-combined aggregation
    over the exploded-shingle frame (vocab-sized exchange, two scalars
    to the driver).

    Decision (r17 retune, measured): the candidate mass never crosses
    an exchange — the pair agg map-side-combines it in place, so the
    naive join's exchange is distinct-pairs-sized and the mass is pure
    in-partition CPU (~40 ns/candidate). Two machine-portable bounds
    therefore govern the choice, both parameterized per deployment:

    - ``hot_df_cap`` — the STRAGGLER bound: one shingle's df^2/2
      candidates compute inside a single join task (one key, one
      partition), so max_df > ~8k means a multi-second hot task and
      the prefix base's pruning pays regardless of totals. This is
      the r16 catastrophe's real mechanism (df ~ 20k -> 452 s).
    - ``pairs_per_doc_cap`` — the total-CPU bound. The r16 cap of 50
      was far too conservative: interleaved A/B on this host measured
      the naive base 1.4-2x FASTER than prefix at 253 candidates/doc
      (the sf0.1 documents corpus: 3.1 vs 6.0 s steady) and still
      slightly faster at 15k/doc with max_df 5000 (4.2-5.0 vs
      4.9-5.6 s across 5 corpora) — the prefix base's extra
      sort/explode/join stages cost more than the counted candidates
      until the mass is ~20k+/doc.

    ``_choice_out``: test hook — when a dict is passed, the probe
    scalars and the chosen base name are recorded into it.
    """
    exploded = _pin(exploded_shingles(df, id_col, text_col, n), deser=True)
    probe = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .agg(
            F.sum(
                F.col("_df").cast("double") * (F.col("_df") - 1) / 2
            ).alias("est_pairs"),
            F.max("_df").alias("max_df"),
            F.sum("_df").alias("n_postings"),
        )
        .collect()[0]
    )
    n_docs = df.count()
    est_pairs = float(probe["est_pairs"] or 0.0)
    max_df = int(probe["max_df"] or 0)
    naive = (
        est_pairs <= pairs_per_doc_cap * max(n_docs, 1)
        and max_df <= hot_df_cap
    )
    if _choice_out is not None:
        _choice_out.update(
            base="naive" if naive else "prefix",
            est_pairs=est_pairs,
            max_df=probe["max_df"],
            n_docs=n_docs,
        )
    if naive:
        return jaccard_pairs(df, id_col, text_col, n, threshold)
    return jaccard_join_prefix(df, id_col, text_col, n, threshold)


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    damping: float = 0.85,
    max_iter: int = 40,
    tol: float | None = 1e-6,
    directed: bool = False,
) -> DataFrame:
    """PageRank over an edge list (Brin & Page 1998, public) — the
    centrality companion to :func:`connected_components` for graph-based
    corpus analysis (e.g. which documents sit at the center of a
    near-dup / kNN neighborhood graph). Undirected by default (each
    edge contributes both ways, the right reading for similarity
    graphs); ``directed=True`` uses ``a -> b`` as given.

    Returns ``(id, rank)`` with ranks summing to 1 (dangling mass and
    the teleport term are redistributed uniformly, the standard
    formulation).

    Scale design (the connected_components discipline): each iteration
    is one keyed join (ranks x out-edges) + one map-side-combined sum —
    shuffles keyed by node id only. ONE scalar action per round: the
    L1 delta and the NEXT round's dangling mass come back together from
    a single aggregate whose job also materializes the round's
    (non-eager) localCheckpoint, keeping lineage flat. (The r5 shape —
    eager checkpoint + separate dangling and delta collects — cost 4
    driver-synchronized jobs per round; chaining several lazy rounds
    per job was measured WORSE — Catalyst/AQE planning grows
    superlinearly with plan depth.)

    NOTE on replay quantization: hits_scores offers per-round
    ``quantize_dp`` re-syncing; pagerank deliberately does NOT — a
    quantized rank state is decimal-rational, so the update's exact
    value lands ON half-quantum boundaries (measured: raw 2481.5
    micro-units on the kNN gate graph) where engine summation order
    decides the flip. Unquantized fixed-iteration replay plus
    scaled-integer OUTPUT rounding is the attested contract
    (pagerank_parts, graph_pagerank).

    AQE is off for the loop below 1M nodes and on above it
    (``session._loop_aqe``); the prior setting is restored after.
    Convergence = L1 delta < tol, loud failure on exhausting max_iter.
    """
    if directed:
        sym = edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    else:
        sym = _sym_edges(edges, a_col, b_col)  # one scan of the lineage
    sym = sym.distinct().persist()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = nodes.select(F.col(id_col).alias("id")).distinct().persist()
    n_count = n.count()
    if n_count == 0:
        sym.unpersist()
        return n.select("id", F.lit(0.0).alias("rank"))
    base = float(1.0 - damping) / n_count
    ranks = n.select("id", F.lit(1.0 / n_count).alias("rank"))
    ranks = ranks.localCheckpoint(eager=True)
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    with _loop_aqe(edges.sparkSession, n_count):
        delta = float("inf")
        out = ranks.join(deg, ranks["id"] == deg["src"], "left").select(
            "id", "rank", F.coalesce("deg", F.lit(0)).alias("deg")
        ).localCheckpoint(eager=True)
        dangling = (
            out.agg(
                F.sum(F.when(F.col("deg") == 0, F.col("rank")))
            ).first()[0]
            or 0.0
        )
        for _ in range(max_iter):
            contrib = (
                out.filter(F.col("deg") > 0)
                .join(sym, out["id"] == sym["src"])
                .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("inflow"))
            )
            uniform = base + damping * dangling / n_count
            new_out = (
                out.join(contrib, out["id"] == contrib["dst"], "left")
                .select(
                    "id",
                    "deg",
                    (
                        F.lit(uniform)
                        + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                    ).alias("new_rank"),
                    "rank",
                )
                .localCheckpoint(eager=False)
            )
            # ONE action per round: materializes the checkpoint above
            # and returns this round's L1 delta plus NEXT round's
            # dangling mass
            row = new_out.agg(
                F.sum(F.abs(F.col("new_rank") - F.col("rank"))).alias("_d"),
                F.sum(
                    F.when(F.col("deg") == 0, F.col("new_rank"))
                ).alias("_dang"),
            ).first()
            delta = row[0]
            dangling = row[1] or 0.0
            out = new_out.select("id", F.col("new_rank").alias("rank"), "deg")
            # tol=None is the FIXED-ITERATION contract: run exactly
            # max_iter rounds and return (deterministic, replayable by
            # a bounded recursive-CTE oracle); a numeric tol keeps the
            # early-stop + loud non-convergence behavior
            if tol is not None and delta < tol:
                break
        else:
            if tol is not None:
                sym.unpersist()
                n.unpersist()
                raise RuntimeError(
                    f"pagerank did not converge in max_iter={max_iter} "
                    f"iterations (last L1 delta {delta:.2e}); raise "
                    "max_iter or tol"
                )
    sym.unpersist()
    n.unpersist()
    return out.select("id", F.round("rank", 9).alias("rank"))


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Synchronous label propagation communities (Raghavan et al. 2007,
    public) — the community detector between connected_components
    (too coarse: one label per component) and anything
    modularity-based (too expensive at scale): each round every node
    adopts its neighbors' most frequent label, ties to the SMALLEST
    label, isolated nodes keep their own. Deterministic by
    construction (no random update order — the synchronous rule +
    min-label tie-break), so results are reproducible across runs and
    partitionings; a pure-Python reference is pinned in tests.

    Returns (id, community) with community = a member node id.

    Scale shape (the pagerank discipline): per round one keyed join
    (labels x symmetrized edges) + two map-side-combined aggs (vote
    count, then max_by per node), all shuffles keyed by node id; ONE
    scalar action per round returns the changed-count and materializes
    a non-eager localCheckpoint. AQE off under 1M nodes
    (``session._loop_aqe``), restored after.
    Synchronous LPA can oscillate with period 2 on bipartite
    structures: the loop stops on changed == 0 OR max_iter — hitting
    max_iter is a valid stop (labels are still a usable community
    assignment), not an error, per the published algorithm.
    """
    sym = _sym_edges(edges, a_col, b_col).distinct().persist()
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).cast("long").alias("lbl")
    ).localCheckpoint(eager=True)
    with _loop_aqe(edges.sparkSession, labels.count()):
        for _ in range(max_iter):
            votes = (
                labels.join(sym, labels["id"] == sym["src"])
                .groupBy("dst", "lbl")
                .agg(F.count(F.lit(1)).alias("n"))
                .groupBy("dst")
                .agg(
                    F.max(F.struct(F.col("n"), (-F.col("lbl")).alias("neg")))
                    .alias("m")
                )
                .select(
                    F.col("dst").alias("id"), (-F.col("m.neg")).alias("new_lbl")
                )
            )
            nxt = (
                labels.join(votes, "id", "left")
                .select(
                    "id",
                    F.coalesce("new_lbl", "lbl").alias("new_lbl"),
                    "lbl",
                )
                .localCheckpoint(eager=False)
            )
            changed = nxt.agg(
                F.sum((F.col("new_lbl") != F.col("lbl")).cast("long"))
            ).first()[0]
            labels = nxt.select("id", F.col("new_lbl").alias("lbl"))
            if not changed:
                break
    sym.unpersist()
    return labels.select("id", F.col("lbl").alias("community"))


def basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    distinct_items: bool = False,
) -> DataFrame:
    """Exploded ``(basket, a, b)`` co-occurrence pairs with ``a < b``
    from each basket's item multiset — the array-combinations
    replacement for the basket SELF-JOIN (``x.item < y.item`` on the
    basket key), guide §3: collect each basket's items ONCE (one keyed
    exchange of the input rows), sort the array, and emit every index
    pair ``i < j`` with distinct values as a codegen ``transform``.

    Equivalence to the self-join (pinned in
    tests/test_basket_pairs.py): for values ``a < b`` occurring
    ``m_a``/``m_b`` times in a basket, the sorted array's ``i < j``
    index combinations yield exactly ``m_a * m_b`` (a, b) pairs, and
    equal-value index pairs are dropped — the strict ``<`` condition.
    ``distinct_items=True`` dedupes items inside each basket first (for
    callers that .distinct() the pair set anyway — fewer pairs ever
    materialize).

    vs the self-join: the join shuffled the input once (ReuseExchange
    covers the second side) and then SORTED both sides into an SMJ
    whose output re-shuffled per pair; this shape keeps the one keyed
    exchange, drops the join sort/probe machinery entirely, and feeds
    the downstream pair aggregation from a map-side explode. Skew
    caveat: a pathologically hot basket becomes one task's array
    (the self-join could AQE-split it) — callers bounding basket width
    (support cuts, frequent-item restrictions) keep that moot.
    """
    items = F.collect_list(F.col(item_col))
    if distinct_items:
        items = F.collect_set(F.col(item_col))
    grouped = df.groupBy(F.col(basket_col).alias("_bk")).agg(
        F.sort_array(items).alias("_it")
    )
    pair = F.explode(
        F.expr(
            "flatten(transform(_it, (x, i) -> "
            "transform(slice(_it, i + 2, size(_it) - i - 1), "
            "y -> named_struct('a', x, 'b', y))))"
        )
    )
    return (
        grouped.select(F.col("_bk").alias(basket_col), pair.alias("_p"))
        .filter(F.col("_p.a") != F.col("_p.b"))
        .select(basket_col, F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
    )


def triangle_count(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Exact triangle census of an undirected graph — the classic
    distributed formulation (degree-ordered edge orientation, the
    MapReduce algorithm of Suri & Vassilvitskii 2011, public; the pass
    is :func:`_triangles`), which counts each triangle exactly once with
    an oriented out-degree of O(sqrt(m)) for ANY degree distribution.
    Self-loops dropped, duplicate/reversed edges collapsed, so
    multigraph inputs are safe.

    Output: ONE row — n_nodes, n_edges, n_triangles, n_wedges
    (undirected paths of length 2) and global_clustering
    (3*triangles/wedges, 6dp; 0 when wedge-free).
    """
    # r17: e feeds the triangle pass and the edge count — several
    # scans of the caller's (often join-built) lineage without a
    # checkpoint (the degree_assortativity multi-consumer discipline)
    e = _simple_edges(edges, a_col, b_col).localCheckpoint(eager=False)
    deg, closed = _triangles(e)
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            # coalesce: an edgeless graph sums over zero rows -> NULL,
            # but the census contract is integer counts throughout
            F.coalesce(
                F.sum(
                    (F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
                ),
                F.lit(0).cast("long"),
            ).alias("n_wedges"),
        )
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri)
    )
    return counts.select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_wedges",
        F.round(
            F.when(
                F.col("n_wedges") > 0,
                3.0 * F.col("n_triangles") / F.col("n_wedges"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("global_clustering"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 64,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983 /
    Matula & Beck 1983, public): repeatedly delete every node whose
    degree WITHIN the surviving subgraph is below ``k`` until the set
    is stable. The densest-substructure filter of the graph family —
    in a near-dup / co-occurrence graph the k-core is the template-farm
    or bot-ring signal that triangles and communities only hint at.

    Output: ``(node, deg)`` — the members of the k-core and their
    degree inside the core (>= k by construction). Self-loops dropped,
    duplicate/reversed edges collapsed (simple-graph semantics, same
    as :func:`triangle_count`).

    Scale design (the connected_components round discipline): the
    symmetrized edge frame is checkpointed ONCE and never changes;
    each round is two keyed joins (edges x surviving-node set on both
    endpoints — the node frame is set-sized, so AQE broadcasts it as
    peeling shrinks) + one map-combined degree agg + ONE scalar action
    (the survivor count, which also materializes that round's lazy
    localCheckpoint, keeping lineage flat). Because the node set
    shrinks monotonically, equal consecutive counts means a fixpoint
    — and peeling is idempotent there, so the ``max_iter`` bound only
    caps pathological peel depth (a chain peels one layer per round).
    The gate oracle replays the SAME peeling as a DuckDB recursive CTE
    run for exactly ``max_iter`` rounds (idempotence makes the fixed
    count equivalent once converged).
    """
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    und = (
        _sym_edges(  # one scan of the caller's edge lineage (r17)
            edges.filter(F.col(a_col) != F.col(b_col)), a_col, b_col,
            out_a="s", out_b="t",
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = und.select(F.col("s").alias("node")).distinct().localCheckpoint()
    n_cur = cur.count()

    def _core_deg(nodes: DataFrame) -> DataFrame:
        return (
            und.join(nodes.withColumnRenamed("node", "s"), "s")
            .join(nodes.withColumnRenamed("node", "t"), "t")
            .groupBy(F.col("s").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    for _ in range(max_iter):
        if n_cur == 0:
            break
        nxt = (
            _core_deg(cur)
            .filter(F.col("deg") >= k)
            .select("node")
            # lazy (eager=False, the file's loop convention — the
            # default is eager): materialized by the count below
            .localCheckpoint(eager=False)
        )
        n_nxt = nxt.count()
        if n_nxt == n_cur:
            break
        cur, n_cur = nxt, n_nxt
    # No trailing filter: at the fixpoint every degree is >= k already,
    # and in the max_iter-capped case the contract is "the set after
    # exactly max_iter peels" — the same thing the oracle's bounded
    # recursion computes.
    return _core_deg(cur)


from functools import lru_cache


@lru_cache(maxsize=1_000_000)
def _icws_params(term: str, i: int):
    """Deterministic ICWS randomness for (term, hash i) — Ioffe 2010
    needs r, c ~ Gamma(2, 1) and beta ~ Uniform(0, 1) per (element,
    hash). Derived from two md5 digests so every executor (and the
    pure-python test reference) sees identical draws: Gamma(2,1) =
    -ln(u1*u2) for independent uniforms.

    lru_cache is load-bearing for throughput: terms repeat across the
    documents an executor processes, so without it every document
    re-derives 3 md5 digests per (term, hash) — measured ~25x slower
    on the gate corpus (shared ~2k-word vocabulary). The cache is
    per-executor-process and bounded at 1M entries (vocab x hashes);
    eviction only costs recompute."""
    import hashlib
    import math

    d1 = hashlib.md5(f"icws1|{i}|{term}".encode()).digest()
    d2 = hashlib.md5(f"icws2|{i}|{term}".encode()).digest()

    def u(b, lo):
        # 8 bytes -> uniform in (0, 1); +1 offsets exclude exact 0
        return (int.from_bytes(b[lo:lo + 8], "big") + 1) / (2.0**64 + 2)

    r = -math.log(u(d1, 0) * u(d1, 8))
    c = -math.log(u(d2, 0) * u(d2, 8))
    beta = u(hashlib.md5(f"icws3|{i}|{term}".encode()).digest(), 0)
    return r, c, beta


def icws_signature(weights: dict, num_hashes: int = 32) -> list:
    """One document's ICWS signature (Ioffe 2010, public — Improved
    Consistent Weighted Sampling): for each hash i, over elements k
    with weight w_k > 0:
        t_k  = floor(ln(w_k)/r_k + beta_k)
        y_k  = exp(r_k * (t_k - beta_k))
        a_k  = c_k / (y_k * exp(r_k))
    and the sample is argmin_k a_k, returned as (k, t_k) — two
    signatures collide on position i with probability EXACTLY the
    weighted Jaccard sum(min w)/sum(max w). Pure python on a doc's
    term-frequency dict; executed inside an Arrow batch per document.
    """
    import math

    out = []
    for i in range(num_hashes):
        best = None
        best_key = None
        for k, w in weights.items():
            if w <= 0:
                continue
            r, c, beta = _icws_params(k, i)
            t = math.floor(math.log(w) / r + beta)
            y = math.exp(r * (t - beta))
            a = c / (y * math.exp(r))
            if best is None or a < best:
                best = a
                best_key = (k, t)
        out.append(best_key)
    return out


def wminhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
) -> DataFrame:
    """Per-document ICWS signatures over word TERM FREQUENCIES — the
    weighted-Jaccard analog of :func:`minhash_signatures`: unweighted
    MinHash treats a document as a SET, so a page that repeats one
    boilerplate sentence fifty times looks identical to one that says
    it once; weighted Jaccard sum(min tf)/sum(max tf) (and ICWS, which
    samples it exactly) keeps multiplicity. Signatures computed in one
    Arrow pass; each signature position serializes as "term|t" (the
    (k, t_k) sample — both components must match for a collision).

    Output: (id, sumw, sig array<string>, tf map<string,int>) —
    ``sumw`` = total token count and ``tf`` the per-term counts, the
    building blocks for the exact verify. Carrying tf out of this pass
    keeps ONE tokenization path (Python ``str.split()``, unicode
    whitespace) for both the signature and the verify — a separate SQL
    ``split(lower, '\\s+')`` frame would tokenize ASCII-whitespace-only
    and skew summin vs sumw on unicode spacing. The id field's type
    follows ``df.schema[id_col]`` (string ids work, not just longs).
    A document with no tokens (NULL, empty or blank text) gets no
    signature row, as in the oracle and the other signature passes.
    """
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def fn(batches):
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["id"], pdf["text"]):
                toks = (text or "").lower().split()
                if not toks:
                    continue  # no tokens -> no signature (the oracle's rule)
                tf: dict = {}
                for t in toks:
                    tf[t] = tf.get(t, 0) + 1
                sig = [f"{k}|{t}" for k, t in icws_signature(tf, num_hashes)]
                rows.append((did, float(len(toks)), sig, tf))
            yield pd.DataFrame(rows, columns=["id", "sumw", "sig", "tf"])

    return df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).mapInPandas(
        fn,
        schema=(
            f"id {id_type}, sumw double, sig array<string>, "
            "tf map<string,int>"
        ),
    )


def wminhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Weighted near-duplicate pairs: ICWS signatures -> banded LSH
    candidate generation -> EXACT weighted-Jaccard verify. The verify
    needs only sum(min tf) per candidate pair plus each side's token
    total: J_w = summin / (sumw_a + sumw_b - summin) — the min-sum
    comes from a candidate-restricted join of the two documents'
    (term, tf) frames, so nothing pairwise ever touches non-candidates
    (the same verify discipline as every other dedup operator here).

    Output: (id_a, id_b, wjaccard) with id_a < id_b, wjaccard >=
    threshold, 6dp.
    """
    rows_per_band = _check_banding(num_hashes, bands)
    sigs = _pin(wminhash_signatures(df, id_col, text_col, num_hashes))
    band_keys = _band_rows(
        sigs,
        F.array(*[
            F.concat_ws(
                "#",
                *[
                    F.col("sig")[i]
                    for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                ],
            )
            for b in range(bands)
        ]),
    )
    cand = _bucket_pairs(band_keys, band_keys)
    # (term, tf) frame exploded from the SAME Arrow pass that built the
    # signatures — one tokenization path, so summin and sumw can never
    # disagree about what a token is (ADVICE r7).
    tf = _pin(
        sigs.select("id", F.explode("tf").alias("term", "tf"))
    )
    summin = (
        cand.join(tf.withColumnRenamed("id", "id_a").withColumnRenamed("tf", "tf_a"), "id_a")
        .join(
            tf.withColumnRenamed("id", "id_b").withColumnRenamed("tf", "tf_b"),
            ["id_b", "term"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("tf_a", "tf_b")).alias("summin"))
    )
    sums = sigs.select("id", "sumw")
    out = (
        cand.join(summin, ["id_a", "id_b"], "left")
        .na.fill({"summin": 0})
        .join(sums.withColumnRenamed("id", "id_a").withColumnRenamed("sumw", "wa"), "id_a")
        .join(sums.withColumnRenamed("id", "id_b").withColumnRenamed("sumw", "wb"), "id_b")
        .withColumn(
            "wjaccard",
            F.round(
                F.col("summin")
                / (F.col("wa") + F.col("wb") - F.col("summin")),
                6,
            ),
        )
        .filter(F.col("wjaccard") >= threshold)
        .select("id_a", "id_b", "wjaccard")
    )
    return out


def edit_distance_join(
    df: DataFrame,
    text_col: str,
    max_dist: int = 1,
    q: int = 3,
) -> DataFrame:
    """Exact edit-distance similarity self-join over DISTINCT strings —
    every unordered pair within Levenshtein distance ``max_dist``
    (entity-resolution / near-identical-title dedup; the
    string-distance member of the similarity-join family next to
    jaccard_join_prefix). Operates on the string DOMAIN: identical
    strings collapse first (carrying their multiplicities as
    ``n_a``/``n_b``), which is what makes the join scale — real
    corpora repeat titles massively, and id-level output would square
    those groups (expand via a join back on the text when id pairs
    are genuinely wanted).

    Candidate generation, never all-pairs (Gravano et al. q-gram
    count filtering + pigeonhole routing):

    - **gram path** (strings with ``len >= q*(max_dist+1)``, where the
      filter has power): positional q-grams; candidates share >= 1
      gram with position slack <= d and length gap <= d, then the
      COUNT filter — a true pair must share at least
      ``min(len)-q+1-d*q`` positional grams (each edit destroys at
      most q grams) — prunes before any distance call.
    - **short path** (pairs whose min side is shorter than that): the
      filter is vacuous there, so short strings all-pair WITHIN
      length classes via an equi-join on target length (a short
      string emits its len..len+d keys) — bounded by the short-string
      domain, which a q*(d+1)-char alphabet bound keeps tiny.

    Both paths verify with JVM-side ``levenshtein`` (exact — the
    filters only prune, never decide). Paths are disjoint (gram path
    needs BOTH sides long; short path needs a short min side), so no
    dedup join is needed.

    Output: ``text_a < text_b``, ``dist``, ``n_a``, ``n_b``
    (multiplicities in the input frame).

    At 100 TB: the gram join keys on (gram) with length/position
    conditions; the worst case is a hot gram shared by many long
    strings — the count-filter agg bounds what reaches verify, and
    the positional key keeps hot grams far more selective than
    bag-of-grams LSH. Nothing is ever corpus x corpus.
    """
    d = int(max_dist)
    if d < 1:
        raise ValueError(f"edit_distance_join: max_dist must be >= 1, got {d}")
    if q < 2:
        raise ValueError(f"edit_distance_join: q must be >= 2, got {q}")
    strings = (
        df.select(F.col(text_col).alias("s"))
        .filter(F.col("s").isNotNull() & (F.length("s") > 0))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("len", F.length("s"))
    )
    long_min = q * (d + 1)  # count-filter threshold >= 1 from here up
    longs = strings.filter(F.col("len") >= long_min)
    grams = longs.select(
        "s",
        "n",
        "len",
        F.explode(
            F.expr(
                f"transform(sequence(0, len - {q}), "
                f"i -> struct(i as pos, substring(s, i + 1, {q}) as gram))"
            )
        ).alias("g"),
    ).select("s", "n", "len", F.col("g.pos").alias("pos"),
             F.col("g.gram").alias("gram"))
    ga = grams.select(
        F.col("s").alias("text_a"), F.col("n").alias("n_a"),
        F.col("len").alias("la"), F.col("pos").alias("pa"), "gram",
    )
    gb = grams.select(
        F.col("s").alias("text_b"), F.col("n").alias("n_b"),
        F.col("len").alias("lb"), F.col("pos").alias("pb"), "gram",
    )
    cand_long = (
        ga.join(gb, "gram")
        .filter(
            (F.col("text_a") < F.col("text_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= d)
            & (F.abs(F.col("pa") - F.col("pb")) <= d)
        )
        .groupBy("text_a", "text_b")
        .agg(
            F.count(F.lit(1)).alias("_shared"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.first("la").alias("la"),
            F.first("lb").alias("lb"),
        )
        .filter(
            F.col("_shared")
            >= F.least("la", "lb") - F.lit(q - 1) - F.lit(d * q)
        )
        .select("text_a", "text_b", "n_a", "n_b")
    )
    # Short path. The emitting (shorter) side must itself be short —
    # if the min side were long, both sides would be long (|Δlen| <= d)
    # and the gram path owns the pair, keeping the paths disjoint.
    shortish = strings.filter(F.col("len") <= long_min - 1 + d)
    sa = (
        shortish.filter(F.col("len") <= long_min - 1)
        .select(
            F.col("s").alias("s_x"), F.col("n").alias("n_x"),
            F.explode(F.expr(f"sequence(len, len + {d})")).alias("_tgt"),
        )
    )
    sb = shortish.select(
        F.col("s").alias("s_y"), F.col("n").alias("n_y"),
        F.col("len").alias("_tgt"),
    )
    # every unordered pair with a short min side appears here once per
    # (shorter, longer) orientation — twice when lengths tie, and the
    # length order need not match lexicographic order, so canonicalize
    # by least/greatest and dedupe
    lo_first = F.col("s_x") < F.col("s_y")
    cand_short = (
        sa.join(sb, "_tgt")
        .filter(F.col("s_x") != F.col("s_y"))
        .select(
            F.when(lo_first, F.col("s_x")).otherwise(F.col("s_y"))
            .alias("text_a"),
            F.when(lo_first, F.col("s_y")).otherwise(F.col("s_x"))
            .alias("text_b"),
            F.when(lo_first, F.col("n_x")).otherwise(F.col("n_y"))
            .alias("n_a"),
            F.when(lo_first, F.col("n_y")).otherwise(F.col("n_x"))
            .alias("n_b"),
        )
        .distinct()
    )
    cand = cand_long.unionByName(cand_short)
    return (
        cand.withColumn(
            "dist", F.levenshtein("text_a", "text_b").cast("int")
        )
        .filter(F.col("dist") <= d)
        .select("text_a", "text_b", "dist", "n_a", "n_b")
    )


def link_prediction(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    min_common: int = 1,
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-based link prediction over an undirected graph —
    the "which edges are MISSING" counterpart to the census/peeling
    family (triangle_count says how clustered, k_core says how dense,
    this says which non-adjacent pair is most likely a real link):
    for every non-adjacent pair (u, v) sharing >= ``min_common``
    neighbors, the three classic scores (Liben-Nowell & Kleinberg
    2003, public):

      * common_neighbors = |N(u) ∩ N(v)|
      * adamic_adar      = Σ_{w ∈ N(u) ∩ N(v)} 1 / ln(deg(w))
        (well-defined: any shared w has deg >= 2, so ln(deg) > 0)
      * jaccard          = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|

    Plan: one map-combined degree agg, then wedge generation as ONE
    self-join of the directed adjacency keyed on the wedge CENTER w
    (u < v dedups the unordered pair), one keyed agg to (u, v), and
    an anti-join against the edge set to keep only non-adjacent
    pairs. Wedge volume is Σ_w deg(w)^2 on centers — unlike the
    triangle census this CANNOT be degree-oriented away (every wedge
    at w contributes to some pair's score), so ``max_hub_degree``
    is the standard scale valve: centers above the cap are excluded
    from wedge generation (documented candidate-completeness
    tradeoff — a >cap hub's endorsement carries a 1/ln(deg) weight
    that is already near-noise; their DEGREES still count in the
    jaccard denominator). Self-loops dropped, duplicate/reversed
    edges collapsed, so multigraph inputs are safe.

    Output: a_col, b_col (a < b), common_neighbors,
    adamic_adar (6dp), jaccard (6dp).
    """
    e = _simple_edges(edges, a_col, b_col)
    # r17: one scan of the edge lineage for both directions, and a lazy
    # checkpoint — adj feeds the degree agg AND both self-join sides
    adj = _sym_edges(e, "a", "b", out_a="w", out_b="u").localCheckpoint(
        eager=False
    )
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("deg"))
    # deg is node-sized (not safely broadcastable at scale); this is a
    # co-partitioned keyed join on w that AQE will broadcast when small
    centers = adj.join(deg, "w")
    if max_hub_degree is not None:
        centers = centers.filter(F.col("deg") <= max_hub_degree)
    c1, c2 = centers.alias("c1"), centers.alias("c2")
    pair_scores = (
        c1.join(
            c2,
            (F.col("c1.w") == F.col("c2.w"))
            & (F.col("c1.u") < F.col("c2.u")),
        )
        .select(
            F.col("c1.u").alias("pa"),
            F.col("c2.u").alias("pb"),
            (F.lit(1.0) / F.log(F.col("c1.deg").cast("double"))).alias(
                "aa_term"
            ),
        )
        .groupBy("pa", "pb")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum("aa_term").alias("adamic_adar"),
        )
        .filter(F.col("common_neighbors") >= min_common)
    )
    non_adjacent = pair_scores.join(
        e,
        (F.col("pa") == F.col("a")) & (F.col("pb") == F.col("b")),
        "left_anti",
    )
    du = deg.withColumnRenamed("w", "pa").withColumnRenamed("deg", "deg_a")
    dv = deg.withColumnRenamed("w", "pb").withColumnRenamed("deg", "deg_b")
    return (
        non_adjacent.join(du, "pa")
        .join(dv, "pb")
        .select(
            F.col("pa").alias(a_col),
            F.col("pb").alias(b_col),
            "common_neighbors",
            F.round("adamic_adar", 6).alias("adamic_adar"),
            F.round(
                F.col("common_neighbors")
                / (
                    F.col("deg_a") + F.col("deg_b")
                    - F.col("common_neighbors")
                ),
                6,
            ).alias("jaccard"),
        )
    )


def cluster_representatives(
    members: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster",
    score_col: str = "score",
) -> DataFrame:
    """Pick the single member to KEEP per near-dup cluster — the
    decision step that turns :func:`connected_components` output into a
    curation action. Min-label canonicalization (``id == cluster``)
    keeps an ARBITRARY member; real pipelines keep the BEST one (the
    longest, the highest quality score, the most recent), which is what
    the representative here is: argmax score, smallest id on ties
    (deterministic for any score column).

    Distributed shape: members inner-join scores on id (one keyed
    exchange; members without a score row are excluded — score every
    candidate or pre-filter), then ONE map-side-combined agg per
    cluster: ``min_by(id, struct(-score, id))`` resolves the argmax
    with the tie-break inside the aggregate — no window sort over the
    corpus, no second pass. Output is cluster-sized, never
    corpus-sized.

    Output: ``cluster, rep_id, n_members, best_score``.
    """
    j = members.select(
        F.col(id_col).alias("_id"), F.col(cluster_col).alias("cluster")
    ).join(
        scores.select(
            F.col(id_col).alias("_id"),
            F.col(score_col).cast("double").alias("_score"),
        ),
        "_id",
    )
    ordk = F.struct(
        (-F.col("_score")).alias("neg_score"), F.col("_id").alias("tb")
    )
    return j.groupBy("cluster").agg(
        F.min_by(F.col("_id"), ordk).alias("rep_id"),
        F.count(F.lit(1)).alias("n_members"),
        F.max("_score").alias("best_score"),
    )


def cluster_split(
    members: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster",
    weights: dict[str, int] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: every member inherits
    its CLUSTER's md5 bucket, so near-duplicates can never straddle a
    split boundary (the eval-contamination failure mode of hashing raw
    doc ids — a test document whose near-copy sits in train). Delegates
    the bucket arithmetic to
    :func:`~indexlab_spark.operators.textstats.stratified_split`
    applied to the cluster label (single-sourced md5 convention,
    engine-portable); pure projection over the members frame, no
    shuffle beyond what produced the clusters.
    """
    from indexlab_spark.operators.textstats import stratified_split

    return stratified_split(
        members, id_col=cluster_col, weights=weights, salt=salt
    )


def hits_scores(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    iters: int = 20,
    quantize_dp: int | None = None,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, public) on a DIRECTED
    edge list — the second centrality beside :func:`pagerank`, and the
    natural one for BIPARTITE interaction graphs (customer -> supplier,
    user -> document): a good hub points at good authorities, a good
    authority is pointed at by good hubs. PageRank answers "who is
    central"; HITS separates "who curates well" from "who is endorsed".

    Round structure (the pagerank discipline exactly — keyed joins +
    map-side-combined sums only, ONE scalar action per round):
    a_raw(v) = sum of h over in-edges, h_raw(u) = sum of a_raw over
    out-edges (the textbook I-then-O sweep) assembled onto the node
    frame, then the round's single action is the 2-scalar L2-norm
    aggregate whose job ALSO materializes the round's lazy
    localCheckpoint (pagerank returns delta+dangling the same way);
    next round's scores are a pure projection over the checkpointed
    frame dividing by the returned norm literals. (The first cut
    normalized via crossJoin(broadcast(1-row agg)) + a separate
    count() — two planned jobs per round; on loop graphs the per-round
    plan-compile floor dominates, and halving the job count measured
    ~2x on the sf0.01 gate graph.) Normalizing once per round (not per
    half-sweep) defers only a uniform scale factor, which the
    normalization removes; within-round growth is degree-bounded, far
    from double overflow.

    Runs EXACTLY ``iters`` rounds — deterministic and replayable (no
    float-threshold early stop; HITS converges geometrically, 20
    rounds is the standard choice). AQE handling mirrors pagerank
    (``session._loop_aqe``).

    ``quantize_dp``: when set, the init vector and every round's
    normalized scores are rounded to that many decimals — the
    fixed-Lloyd replay discipline (kmeans_summary_fixed): both engines
    re-sync to the exact same quantized state each round, so the
    whole fit replays bit-for-bit in a bounded recursive CTE while the
    distributed sums' last-bit noise (~1e-13, far below the 6dp
    quantum) never accumulates. None (default) = the unquantized
    production iteration.

    Output: ``(node, hub, authority)`` (6dp), one row per node
    appearing in the edge list; L2 norm of each score vector is 1.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).distinct().persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_count = nodes.count()
    if n_count == 0:
        e.unpersist()
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    try:
        with _loop_aqe(edges.sparkSession, n_count):
            init = 1.0 / (n_count ** 0.5)
            if quantize_dp is not None:
                # scaled-integer quantization (see pagerank): integer
                # rounding is engine-portable, fractional round() is not
                init = math.floor(init * 10.0 ** quantize_dp + 0.5) / (
                    10.0 ** quantize_dp
                )
            scores = nodes.select(
                "node", F.lit(init).alias("h"), F.lit(init).alias("a")
            ).localCheckpoint(eager=True)
            for _ in range(iters):
                a_raw = (
                    e.join(
                        scores.select(F.col("node").alias("src"), "h"), "src"
                    )
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.sum("h").alias("a_raw"))
                )
                h_raw = (
                    e.join(
                        a_raw.select(F.col("node").alias("dst"), "a_raw"),
                        "dst",
                    )
                    .groupBy(F.col("src").alias("node"))
                    .agg(F.sum("a_raw").alias("h_raw"))
                )
                joined = (
                    nodes.join(a_raw, "node", "left")
                    .join(h_raw, "node", "left")
                    .na.fill({"a_raw": 0.0, "h_raw": 0.0})
                    .localCheckpoint(eager=False)
                )
                # ONE action per round: materializes the checkpoint above
                # and returns both L2 norms as scalars
                row = joined.agg(
                    F.sqrt(F.sum(F.col("h_raw") * F.col("h_raw"))).alias("_nh"),
                    F.sqrt(F.sum(F.col("a_raw") * F.col("a_raw"))).alias("_na"),
                ).first()
                nh, na = row[0] or 0.0, row[1] or 0.0
                h_new = F.col("h_raw") / F.lit(nh) if nh else F.lit(0.0)
                a_new = F.col("a_raw") / F.lit(na) if na else F.lit(0.0)
                if quantize_dp is not None:
                    _sc = F.lit(10.0 ** quantize_dp)
                    h_new = F.round(h_new * _sc, 0) / _sc
                    a_new = F.round(a_new * _sc, 0) / _sc
                scores = joined.select(
                    "node", h_new.alias("h"), a_new.alias("a")
                )
    finally:
        e.unpersist()
        nodes.unpersist()
    return scores.select(
        "node",
        F.round("h", 6).alias("hub"),
        F.round("a", 6).alias("authority"),
    )


def degree_assortativity(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Degree assortativity of an undirected graph (Newman 2002,
    public): the Pearson correlation of the degrees at the two ends of
    every edge — POSITIVE means hubs link to hubs (social/citation
    shape), NEGATIVE means hubs fan out to leaves (infrastructure /
    hub-and-spoke shape). The one-number STRUCTURE diagnostic the
    degree distribution alone can't give, and the cheap pre-flight
    before the iterative family (pagerank / k_core / LPA): strongly
    disassortative co-occurrence graphs are exactly where hub-capped
    wedge ops (link_prediction max_hub_degree) need their caps.

    Simple-graph semantics (the triangle_count contract): self-loops
    drop, parallel edges collapse via the canonical (least, greatest)
    key. Distributed shape: one distinct on the canonical edge frame,
    ONE map-side-combined degree aggregation (node-sized), two keyed
    joins hanging the endpoint degrees back on the edges, both edge
    orientations unioned map-side (the correlation must see each edge
    from both ends), then a single moment aggregation -> one row.
    Nothing is ever quadratic; the widest frame is 2x the edge list.

    Output (one row): n_nodes, n_edges, avg_degree, min_degree,
    max_degree, assortativity (6dp; NULL for degree-regular graphs,
    where the correlation is 0/0 — documented, matches networkx NaN).
    """
    # the canonical edge frame feeds the degree agg, BOTH degree
    # joins and both orientations — without a checkpoint every
    # consumer re-derives it from the caller's (possibly join-built)
    # lineage; first audit showed 24 source scans (the k_core
    # multi-consumer discipline; lazy — materialized by the first
    # action)
    e = _simple_edges(edges, src_col, dst_col).localCheckpoint(eager=False)
    deg = (
        _endpoints(e, "a", "b", out="_n")
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
        .localCheckpoint(eager=False)
    )
    both = e.join(
        deg.select(F.col("_n").alias("a"), F.col("_d").alias("_du")), "a"
    ).join(
        deg.select(F.col("_n").alias("b"), F.col("_d").alias("_dv")), "b"
    )
    directed = both.select(
        F.col("_du").cast("double").alias("_dx"),
        F.col("_dv").cast("double").alias("_dy"),
    ).unionAll(
        both.select(
            F.col("_dv").cast("double").alias("_dx"),
            F.col("_du").cast("double").alias("_dy"),
        )
    )
    # node-level stats from the degree frame (avg over NODES, 2m/n —
    # an average over edge endpoints would weight hubs by their own
    # degree), edge-level correlation from the directed frame
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.round(F.avg(F.col("_d").cast("double")), 6).alias("avg_degree"),
        F.min("_d").cast("long").alias("min_degree"),
        F.max("_d").cast("long").alias("max_degree"),
    )
    # correlation from raw moments (F.corr raises DIVIDE_BY_ZERO under
    # ANSI on zero-variance = degree-regular graphs; try_divide -> NULL)
    m = directed.agg(
        F.count(F.lit(1)).alias("_m2"),
        F.sum("_dx").alias("_sx"),
        F.sum("_dy").alias("_sy"),
        F.sum(F.col("_dx") * F.col("_dx")).alias("_qx"),
        F.sum(F.col("_dy") * F.col("_dy")).alias("_qy"),
        F.sum(F.col("_dx") * F.col("_dy")).alias("_xy"),
    )
    m2 = F.col("_m2").cast("double")
    num = m2 * F.col("_xy") - F.col("_sx") * F.col("_sy")
    den = F.sqrt(
        (m2 * F.col("_qx") - F.col("_sx") * F.col("_sx"))
        * (m2 * F.col("_qy") - F.col("_sy") * F.col("_sy"))
    )
    return m.select(
        (F.col("_m2") / 2).cast("long").alias("n_edges"),
        F.round(
            F.when(den > 0, F.try_divide(num, den)), 6
        ).alias("assortativity"),
    ).crossJoin(F.broadcast(node_stats)).select(
        "n_nodes",
        "n_edges",
        "avg_degree",
        "min_degree",
        "max_degree",
        "assortativity",
    )


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical (a < b) simple edge
    frame: every triangle of :func:`_triangles` credits its THREE
    canonical edges via a map-side explode. Edges in no triangle come
    back with support 0 (left join + coalesce)."""
    _, closed = _triangles(e)
    contrib = closed.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v").alias("a"),
                    F.greatest("u", "v").alias("b"),
                ),
                F.struct(
                    F.least("u", "w").alias("a"),
                    F.greatest("u", "w").alias("b"),
                ),
                F.struct(
                    F.least("v", "w").alias("a"),
                    F.greatest("v", "w").alias("b"),
                ),
            )
        ).alias("_e")
    ).select("_e.a", "_e.b")
    sup = contrib.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("support")
    )
    return e.join(sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0)).alias("support")
    )


def k_truss(
    edges: DataFrame,
    k: int,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 64,
) -> DataFrame:
    """k-truss decomposition by iterative edge peeling (Cohen 2008,
    public): repeatedly delete every edge lying in fewer than k - 2
    triangles WITHIN the surviving subgraph until stable. The
    EDGE-cohesion sibling of :func:`k_core` — a k-core can be held
    together by hub edges that touch no triangle at all, while every
    k-truss edge is certified by k - 2 mutual neighbors; in a
    near-dup / co-purchase graph the truss is the tightly-knit
    template-farm or bundle signal with the hub noise peeled away.

    Output: the surviving canonical edges ``(id_a < id_b, support)``
    with support >= k - 2 by construction (2-truss = the whole simple
    graph). Self-loops dropped, duplicate/reversed edges collapsed
    (the triangle_count contract).

    Scale design (the k_core round discipline): each round recomputes
    per-edge support with the degree-ordered oriented wedge
    enumeration (O(sqrt(m)) oriented out-degree regardless of hubs —
    :func:`_triangles` via :func:`_edge_support`), filters, lazily
    localCheckpoints, and spends ONE scalar action (the surviving-edge
    count, which also materializes the checkpoint and keeps lineage
    flat). The edge set
    shrinks monotonically, so an unchanged count is the fixpoint, and
    peeling is idempotent there; ``max_iter`` caps pathological peel
    depth. ORACLE-replayable since r12: DuckDB permits joining the
    recursive frame multiple times, so a fixed-N-round peel (N >= the
    measured fixpoint depth; extra rounds are no-ops by idempotence)
    replays the whole decomposition — the part_ktruss/truss_farms
    gates; exact pure-python reference parity stays pinned in tests.
    """
    if k < 2:
        raise ValueError(f"k_truss: k must be >= 2, got {k}")
    thresh = k - 2
    e = _simple_edges(edges, a_col, b_col).localCheckpoint(eager=True)
    n_cur = e.count()
    sup = _edge_support(e)
    for _ in range(max_iter):
        if n_cur == 0:
            break
        nxt = (
            sup.filter(F.col("support") >= thresh)
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        n_nxt = nxt.count()
        if n_nxt == n_cur:
            break
        e, n_cur = nxt, n_nxt
        sup = _edge_support(e)
    return sup.filter(F.col("support") >= thresh).select(
        F.col("a").alias(a_col),
        F.col("b").alias(b_col),
        "support",
    )


def clustering_coefficients(
    edges: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """PER-NODE local clustering coefficients (Watts & Strogatz 1998,
    public) — the node-level refinement of :func:`triangle_count`'s
    single global number: lcc(v) = triangles through v / (deg(v)
    choose 2), the "how clique-like is THIS node's neighborhood"
    signal that separates a genuine community member (high lcc) from
    a pure hub (high degree, lcc ~ 0) — per-node input for spam/bot
    scoring where k_core/k_truss give set-level answers.

    Simple-graph semantics (triangle_count's contract). Distributed
    shape: the canonical edge frame checkpoints once (multi-consumer
    discipline), triangles enumerate ONCE via the degree-ordered
    oriented wedge join (:func:`_triangles`), then each
    triangle credits its THREE nodes map-side and a node-keyed count
    joins back onto the degree frame — all keyed, nothing quadratic.

    Output: node, degree (long), triangles (long, 0 for none), lcc
    (6dp; NULL for degree-1 nodes, where the denominator is 0 —
    networkx reports 0 there, the NULL makes the undefinedness
    explicit and is documented).
    """
    e = _simple_edges(edges, a_col, b_col).localCheckpoint(eager=False)
    deg, closed = _triangles(e)
    deg = deg.select(F.col("id").alias("node"), F.col("deg").alias("degree"))
    per_node = (
        closed.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    denom = (
        F.col("degree").cast("double")
        * (F.col("degree").cast("double") - 1)
        / 2.0
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.round(
            F.when(
                F.col("degree") >= 2,
                F.coalesce("triangles", F.lit(0)) / denom,
            ),
            6,
        ).alias("lcc"),
    )
