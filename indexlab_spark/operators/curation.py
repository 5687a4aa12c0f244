"""Training-data curation operators (scale-extension family).

The reference (NSKBpro/IndexLab) stops at retrieval-quality evaluation;
a 100 TB training-data pipeline additionally needs corpus *curation*:
rule-based quality filtering (Gopher-style), repetition detection,
PII redaction, benchmark decontamination, and deterministic sampling.
Everything here is pure Catalyst expressions / built-in SQL functions —
so each operator is 1:1 expressible in the DuckDB oracle and stays
inside WholeStageCodegen at scale. The ONE exception is
``bloom_decontaminate``'s Arrow-batched membership test: the Bloom
bitmap lives outside SQL by nature, and its false positives are killed
by an exact join, so the operator's RESULT remains oracle-expressible.

Scale notes per operator are in the docstrings; the common theme:
per-document signals are shuffle-free maps, cross-document steps
(repetition n-gram counts, decontamination joins) shuffle once on a
bounded key and broadcast the small side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from indexlab_spark.functions.cache import pin as _pin
from indexlab_spark.operators.analytics import _bucket_index, _quantile_edges
from indexlab_spark.operators.textstats import STOPWORDS, tokens
from indexlab_spark.plans.colocate import fan_out as _fan_out
from indexlab_spark.session import local_frame

#: train_quality_classifier per-epoch fan-in switch: up to this many
#: input partitions the (d+3)-double partial rows are collected straight
#: to the driver (one stage per epoch, no shuffle — at 4096 partitions x
#: 67 doubles that is ~2 MB); beyond it the map-combined agg reduces
#: them first (d+3 scalars to the driver, the pre-r16 shape).
_PARTIAL_COLLECT_MAX = 4096

#: train_quality_classifier bounded driver-fit cap, in MATRIX ELEMENTS
#: (rows x (dim+1)): 16M float64 elements ~= 128 MB on the driver — the
#: same order as knn.MAX_COLLECT_QUERY_ROWS x dim 64. Below it the
#: whole fit runs in one address space (identical math); above it the
#: distributed per-epoch moment passes run as before.
_DRIVER_FIT_MAX_ELEMS = 16_000_000

# Gopher-ish rule thresholds (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", appendix A1.1 —
# public paper; values adapted to the short synthetic docs).
MIN_WORDS = 10
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0
MAX_SYMBOL_RATIO = 0.1
MIN_ALPHA_WORD_FRAC = 0.8
MIN_STOPWORD_HITS = 2


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _occurrences(text: Column, needle: str) -> Column:
    """Occurrence count of a literal substring (length/replace trick —
    identical semantics in Spark and DuckDB, no regex involved)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("bigint")


def _tokenized_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, toks, n_words)`` with the input fanned out BEFORE the
    tokenize (single-file sources would otherwise run every downstream
    explode single-task) — shared by repetition_signals and the DSIR
    gram counter so the tokenize/fan-out contract lives in one place."""
    return (
        _fan_out(df.select(_c(id_col).alias("id"), _c(text_col).alias("_t")))
        .select("id", tokens("_t").alias("toks"))
        .withColumn("n_words", F.size("toks"))
    )


def quality_flags(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style per-document quality rules + keep decision.

    Signals (all O(len) per row, shuffle-free, codegen'd):
      n_words            whitespace token count
      mean_word_len      avg token length
      symbol_ratio       ('#' + '...') occurrences / n_words
      alpha_word_frac    fraction of words containing a letter
      stop_hits          english stopword hits (multiplicity)
    ``keep`` is the AND of the rule flags. Ratios rounded to 6 places
    (cross-engine float convention). At 100 TB this is a pure map over
    the corpus scan — no shuffle, prunes to (id, text) columns.
    """
    text = _c(text_col)
    toks = tokens(text_col)
    n_words = F.size(toks)
    # avg over empty array -> NULL; coalesce to 0 for the flag logic
    mean_wl = F.coalesce(
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.nullif(n_words.cast("double"), F.lit(0.0)),
        F.lit(0.0),
    )
    symbols = _occurrences(text, "#") + _occurrences(text, "...")
    symbol_ratio = F.coalesce(
        symbols.cast("double") / F.nullif(n_words.cast("double"), F.lit(0.0)),
        F.lit(0.0),
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_frac = F.coalesce(
        alpha_words.cast("double") / F.nullif(n_words.cast("double"), F.lit(0.0)),
        F.lit(0.0),
    )
    en = STOPWORDS["en"]
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in en])))

    flag_words = (n_words >= MIN_WORDS) & (n_words <= MAX_WORDS)
    flag_mwl = (mean_wl >= MIN_MEAN_WORD_LEN) & (mean_wl <= MAX_MEAN_WORD_LEN)
    flag_symbol = symbol_ratio <= MAX_SYMBOL_RATIO
    flag_alpha = alpha_frac >= MIN_ALPHA_WORD_FRAC
    flag_stop = stop_hits >= MIN_STOPWORD_HITS

    return df.select(
        _c(id_col).alias("id"),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
        flag_words.alias("flag_words"),
        flag_mwl.alias("flag_mean_word_len"),
        flag_symbol.alias("flag_symbol"),
        flag_alpha.alias("flag_alpha"),
        flag_stop.alias("flag_stop"),
        (flag_words & flag_mwl & flag_symbol & flag_alpha & flag_stop).alias(
            "keep"
        ),
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Repetition signals (Gopher A1.1 style): duplicate-word fraction and
    the fraction of all word bigrams taken by the single most frequent
    bigram.

    Plan: dup_word_frac is a shuffle-free expression; the bigram signal
    explodes bigrams (with multiplicity) and aggregates twice —
    (id, bigram) then (id) — both shuffles partial-aggregated map-side
    and keyed by doc id, so it scales linearly and evenly unless one
    document is itself enormous (bounded by chunking upstream).
    """
    base = _tokenized_base(df, id_col, text_col)
    dup_word = base.select(
        "id",
        "n_words",
        F.coalesce(
            (F.col("n_words") - F.size(F.array_distinct("toks"))).cast("double")
            / F.nullif(F.col("n_words").cast("double"), F.lit(0.0)),
            F.lit(0.0),
        ).alias("dup_word_frac"),
    )
    # bigrams WITH multiplicity (token_shingles is distinct — not usable
    # here). Guard: sequence(0, -1) DESCENDS in Spark (not empty), so gate
    # on n_words >= 2 explicitly.
    bigrams = base.select(
        "id",
        F.explode(
            F.when(
                F.col("n_words") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 2),
                    lambda i: F.concat_ws(
                        " ", F.col("toks")[i], F.col("toks")[i + 1]
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )
    bg_counts = bigrams.groupBy("id", "bigram").agg(F.count(F.lit(1)).alias("n"))
    bg_top = bg_counts.groupBy("id").agg(
        F.max("n").alias("top_bigram_n"), F.sum("n").alias("n_bigrams")
    )
    out = (
        dup_word.join(bg_top, "id", "left")
        .select(
            "id",
            "n_words",
            F.round("dup_word_frac", 6).alias("dup_word_frac"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("top_bigram_n", F.lit(0)).alias("top_bigram_n"),
            F.round(
                F.coalesce(
                    F.col("top_bigram_n").cast("double")
                    / F.nullif(F.col("n_bigrams").cast("double"), F.lit(0.0)),
                    F.lit(0.0),
                ),
                6,
            ).alias("top_bigram_frac"),
        )
    )
    return out


# PII patterns — deliberately simple, RE2/Java-compatible (no lookarounds),
# applied in this order (email first so its digits don't half-match later
# number patterns; SSN before generic phone).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\+?\d{1,2}-\d{3}-\d{4}\b", "<PHONE>"),
]


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact email / IPv4 / SSN-shaped / phone-shaped substrings.

    Pure regexp_replace chain — shuffle-free map, stays in codegen.
    Patterns avoid lookarounds so Java regex (Spark) and RE2 (DuckDB
    oracle, with 'g' flag) agree byte-for-byte.
    """
    redacted = _c(text_col)
    for pat, rep in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, rep)
    return df.select(
        _c(id_col).alias("id"),
        redacted.alias("redacted"),
        (redacted != _c(text_col)).alias("changed"),
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_clean: bool = False,
) -> DataFrame:
    """Benchmark decontamination: the CONTAMINATED training docs with
    their distinct shared word ``n``-gram counts. Standard pre-training
    hygiene (e.g. GPT-3 paper §C, public).

    By default only docs with n_overlap >= 1 are returned (the flag is
    therefore always true on that output — it exists for schema parity
    with the keep_clean variant). ``keep_clean=True`` returns EVERY
    training doc, clean ones with n_overlap=0 / contaminated=false —
    use that form to derive the clean training set by filtering
    ``NOT contaminated``; filtering the default output that way yields
    nothing.

    Plan: both sides explode DISTINCT shingles; benchmark side is tiny by
    contract (an eval set), deduplicated then broadcast, so the join is a
    broadcast hash join against the train shingle stream — corpus never
    shuffles. Count-distinct re-aggregates on train doc id only; the
    keep_clean variant adds one left join of per-doc hits back onto the
    train ids (still no corpus shuffle).
    """
    from indexlab_spark.functions.hashing import token_shingles

    # fan_out the INPUT before exploding: the broadcast join and the
    # shingle explode both execute in the scan stage, so a single-file
    # train parquet would otherwise run the whole pipeline as ONE task
    # (same finding as bloom_decontaminate's probe, fixed there too)
    t_sh = _fan_out(
        train.select(_c(id_col).alias("id"), _c(text_col).alias("_ttext"))
    ).select(
        "id", F.explode(token_shingles(F.col("_ttext"), n)).alias("shingle")
    )
    b_sh = (
        benchmark.select(F.explode(token_shingles(_c(text_col), n)).alias("shingle"))
        .distinct()
    )
    hits = t_sh.join(F.broadcast(b_sh), "shingle")
    return _contamination(hits, train, id_col, keep_clean)


def _contamination(
    hits: DataFrame, train: DataFrame, id_col: str, keep_clean: bool
) -> DataFrame:
    """Shared tail of the decontaminate family: ``(id, shingle)`` hit
    pairs -> (id, n_overlap distinct shared shingles, contaminated);
    contaminated docs only, or every training doc with ``keep_clean``
    (one left join of the per-doc hits back onto the train ids)."""
    per_doc = hits.groupBy("id").agg(
        F.count_distinct("shingle").alias("n_overlap")
    )
    if keep_clean:
        per_doc = (
            train.select(_c(id_col).alias("id"))
            .join(per_doc, "id", "left")
            .na.fill({"n_overlap": 0})
        )
    return per_doc.select(
        "id", "n_overlap", (F.col("n_overlap") >= 1).alias("contaminated")
    )


def _bloom_indices(h: "np.ndarray", m: int, k: int, i: int) -> "np.ndarray":
    """Probe i of the double-hash scheme: idx_i = (h1 + i*h2) mod m with
    h1 = h mod m, h2 = (h >> 33) | 1 (odd -> full cycle). ONE shared
    definition — bloom_decontaminate's no-false-negative guarantee
    requires the build and probe sides to be bit-identical, so neither
    may drift independently."""
    h1 = h % np.uint64(m)
    h2 = (h >> np.uint64(33)) | np.uint64(1)
    return (h1 + np.uint64(i) * h2) % np.uint64(m)


def _bloom_build(hashes_df: DataFrame, n_items: int, fpp: float):
    """Distributed Bloom-filter build over an int64 hash column ``h``:
    each partition sets its bits into a local numpy bitmap, partials are
    OR-reduced tree-wise. Returns ``(bitmap bytes, m_bits, k_probes)``.

    Sizing is the standard formula (m = -n ln p / ln²2, k = m/n ln 2).
    At 100M benchmark shingles and fpp=0.01 the bitmap is ~120 MB —
    treeReduce keeps the driver merge at O(log partitions) transfers,
    and the result broadcasts where 100M raw shingle strings (tens of
    GB) could not.
    """
    import math

    n = max(n_items, 1)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(m / n * math.log(2)))

    def _partial(rows):
        bits = np.zeros((m + 7) // 8, dtype=np.uint8)
        h = np.fromiter((r[0] for r in rows), dtype=np.int64).view(np.uint64)
        if h.size:
            for i in range(k):
                idx = _bloom_indices(h, m, k, i)
                np.bitwise_or.at(
                    bits, (idx >> np.uint64(3)).astype(np.int64),
                    np.left_shift(1, (idx & np.uint64(7)).astype(np.int64))
                    .astype(np.uint8),
                )
        yield bits

    rdd = hashes_df.select("h").rdd.mapPartitions(_partial)
    if rdd.isEmpty():
        # an empty hash frame can optimize to an empty RDD, which
        # treeReduce refuses; an all-zeros bitmap (nothing inserted ->
        # nothing might-contain) is the correct Bloom for an empty set
        return np.zeros((m + 7) // 8, dtype=np.uint8).tobytes(), m, k
    bitmap = rdd.treeReduce(lambda a, b: np.bitwise_or(a, b))
    return bitmap.tobytes(), m, k


#: bloom_decontaminate driver-build cap (distinct benchmark shingles):
#: 4M int64 hashes is 32 MB on the driver — well under the broadcast
#: the resulting bitmap pays anyway; the treeReduce build takes over
#: for benchmark suites beyond it.
_BLOOM_DRIVER_MAX = 4_000_000


def _bloom_build_local(h: "np.ndarray", n_items: int, fpp: float):
    """Driver-side Bloom build over collected int64 hashes — same
    sizing formula and probe scheme as :func:`_bloom_build`, bitmap
    bit-identical (OR is order-free)."""
    import math

    n = max(n_items, 1)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(m / n * math.log(2)))
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    hv = h.view(np.uint64)
    if hv.size:
        for i in range(k):
            idx = _bloom_indices(hv, m, k, i)
            np.bitwise_or.at(
                bits, (idx >> np.uint64(3)).astype(np.int64),
                np.left_shift(1, (idx & np.uint64(7)).astype(np.int64))
                .astype(np.uint8),
            )
    return bits.tobytes(), m, k


def bloom_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_clean: bool = False,
    fpp: float = 0.01,
) -> DataFrame:
    """Benchmark decontamination, Bloom-prefiltered — the scale path of
    :func:`decontaminate` for when the benchmark shingle set is too
    large to broadcast as raw strings (a 100M-shingle eval suite is tens
    of GB of text but a ~120 MB Bloom bitmap at fpp=0.01).

    Three phases, result EXACTLY equal to :func:`decontaminate`:

    1. build: distinct benchmark shingles are xxhash64'd (JVM-side) and
       OR-folded into one Bloom bitmap distributedly (`_bloom_build` —
       per-partition numpy bitmaps, treeReduce merge, no driver-side
       collect of the shingle set).
    2. prefilter: the broadcast bitmap tests every train shingle in an
       Arrow-batched pandas_udf over its xxhash64 — a shuffle-free map
       that drops ~(1-fpp) of non-matching shingles before any join.
    3. verify: surviving candidate shingles exact-join the benchmark
       shingle strings with a plain SHUFFLE join — both sides are now
       candidate-sized, so nothing large is broadcast or replicated;
       Bloom false positives die here, which is why the output is exact.

    The xxhash64 values never leave the plan (the oracle-visible result
    is defined purely by string equality), so using a JVM-specific hash
    is safe here, unlike in the md5-portable dedup family.
    """
    from pyspark.sql.functions import pandas_udf

    from indexlab_spark.operators.dedup import exploded_shingles

    # r16: both shingle explodes go through dedup.exploded_shingles —
    # the Arrow mapInPandas pass (a Python set over tokens) instead of
    # the Catalyst sequence/transform/array_distinct lambda chain,
    # which allocates per shingle (~5x, the same measurement that
    # moved the dedup family there). Same tokenize contract (ASCII \s+
    # split of the lowercased text, distinct n-grams per row), so the
    # string-equality semantics the oracle sees are unchanged.
    # exploded_shingles fans out its own input (_spread), preserving
    # the fan-out-the-INPUT rationale that used to live here.
    t_sh = exploded_shingles(
        train.select(_c(id_col).alias("id"), _c(text_col).alias("_ttext")),
        "id", "_ttext", n,
    )
    b_sh = (
        exploded_shingles(
            benchmark.select(F.lit(0).alias("id"),
                             _c(text_col).alias("_btext")),
            "id", "_btext", n,
        )
        .select("shingle")
        .distinct()
    )
    b_sh = _pin(b_sh)
    b_hash = b_sh.select(F.xxhash64("shingle").alias("h"))
    # r16: for benchmark sets within the driver bound, one bounded
    # Arrow fetch replaces TWO jobs (the sizing count + the treeReduce
    # fold) and the bitmap is OR-built locally — bit-identical (same
    # _bloom_indices probes; OR order is immaterial). Past the bound
    # the distributed treeReduce build runs exactly as before.
    hp = b_hash.limit(_BLOOM_DRIVER_MAX + 1).toPandas()
    if len(hp) <= _BLOOM_DRIVER_MAX:
        n_items = len(hp)
        bitmap, m, k = _bloom_build_local(
            hp["h"].to_numpy(dtype=np.int64), n_items, fpp
        )
    else:
        n_items = b_hash.count()  # one small job over the pinned frame
        bitmap, m, k = _bloom_build(b_hash, n_items, fpp)

    spark = train.sparkSession
    bc = spark.sparkContext.broadcast((bitmap, m, k))

    @pandas_udf("boolean")
    def _might_contain(h: pd.Series) -> pd.Series:
        raw, m_, k_ = bc.value
        bits = np.frombuffer(raw, dtype=np.uint8)
        hv = h.to_numpy(dtype=np.int64).view(np.uint64)
        ok = np.ones(len(hv), dtype=bool)
        for i in range(k_):
            idx = _bloom_indices(hv, m_, k_, i)
            ok &= (
                bits[(idx >> np.uint64(3)).astype(np.int64)]
                >> (idx & np.uint64(7)).astype(np.int64)
            ).astype(np.uint8) & 1 == 1
        return pd.Series(ok)

    candidates = t_sh.where(_might_contain(F.xxhash64("shingle")))
    # exact verify: plain shuffle join (NO broadcast hint) — candidate-
    # sized vs benchmark shingles; false positives are eliminated here
    hits = candidates.join(b_sh, "shingle")
    return _contamination(hits, train, id_col, keep_clean)


def hash_sample(
    df: DataFrame, hex_prefix_lt: str, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose md5(id) hex prefix
    is lexicographically below ``hex_prefix_lt`` (e.g. '40' ~ 25%).

    Unlike ``df.sample``, this is reproducible across engines, runs and
    partitionings — the property a training pipeline needs for held-out
    splits. Shuffle-free filter; the md5 predicate is not pushable into
    the scan but prunes before any downstream shuffle.
    """
    prefix = F.substring(F.md5(_c(id_col).cast("string")), 1, len(hex_prefix_lt))
    return df.withColumn("hash_prefix", prefix).where(
        F.col("hash_prefix") < F.lit(hex_prefix_lt)
    )


def temperature_resample(
    df: DataFrame,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    id_col: str = "doc_id",
    group_col: str = "lang",
    seed: str = "resample",
) -> DataFrame:
    """Language-balanced (temperature) resampling: keep each document
    with a per-group rate ∝ p_g^alpha / p_g (the multilingual sampling
    scheme of XLM/mBERT pre-training, public), scaled so the expected
    kept total is ``budget_frac`` of the corpus. Upsampling is clamped
    at rate 1.0 (this operator only filters).

    Determinism: the keep decision is md5(seed|id) % 1e6 < floor(rate*1e6)
    — reproducible across engines, runs, partitionings. alpha=0.5 keeps
    the rate math inside IEEE-exact sqrt (bit-identical in any engine);
    other alphas go through pow() whose last-ulp may differ across libm
    implementations (documented risk, not used in oracle-checked paths).

    Plan: one tiny groupBy for the rate table (broadcast back), then a
    shuffle-free filter over the corpus.
    """
    if alpha != 0.5:
        raise ValueError("oracle-portable path requires alpha=0.5 (sqrt)")
    from indexlab_spark.functions.hashing import md5_long

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_g"))
    tot = counts.agg(
        F.sum("n_g").alias("n_total"),
        F.sum(F.sqrt(F.col("n_g").cast("double"))).alias("sum_sqrt"),
    )
    # q_g = sqrt(n_g)/sum_sqrt (the 1/sqrt(N) factors cancel);
    # rate_g = min(1, budget_frac * n_total * q_g / n_g)
    rates = counts.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.least(
            F.lit(1.0),
            F.lit(budget_frac)
            * F.col("n_total").cast("double")
            * (F.sqrt(F.col("n_g").cast("double")) / F.col("sum_sqrt"))
            / F.col("n_g").cast("double"),
        ).alias("rate"),
    )
    hash_mod = (
        md5_long(F.concat(F.lit(f"{seed}|"), _c(id_col).cast("string"))) % 1_000_000
    )
    # null-safe group join: rows with a NULL group form their own group
    # (counted above by groupBy's null group) — a plain equi-join would
    # silently DROP them while still counting them in the budget math
    return (
        df.join(
            F.broadcast(rates.withColumnRenamed(group_col, "_rate_grp")),
            _c(group_col).eqNullSafe(F.col("_rate_grp")),
        )
        .drop("_rate_grp")
        .withColumn("rate", F.round("rate", 6))
        .filter(hash_mod < F.floor(F.col("rate") * 1_000_000).cast("bigint"))
    )


def token_budget_mix(
    df: DataFrame,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    n_buckets: int = 32,
    seed: str = "mix",
) -> DataFrame:
    """Per-source token-budget data mixing: deterministically select a
    prefix of each source's documents — in md5-shuffled order — until
    that source's whitespace-token budget is reached (the "sample each
    domain to its target token share" step of LM pre-training mixture
    construction, e.g. The Pile / Dolma recipes, public).

    Semantics: documents of each listed group are ordered by
    ``(bucket, h, id)`` where ``h = md5(seed|id)`` and ``bucket = h %
    n_buckets`` (a deterministic shuffle); a document is kept iff its
    span STARTS inside the budget (``cum - n_tokens < budget``) — so
    every listed group keeps at least one document and the kept total
    overshoots by at most one document. Groups absent from ``budgets``
    are dropped. Returns ``(id, group, n_tokens, cum_tokens)``.

    Scale design: a per-group global running sum would sort each
    group's full corpus in one partition. Instead the cumsum is
    two-level, like pack_sequences: a window over ``(group, bucket)``
    shards (parallel, bounded), plus a per-group bucket-offset frame of
    ``|groups| x n_buckets`` rows (broadcast back). The budgets table
    itself is driver-literal and broadcast. One shuffle on (group,
    bucket), nothing driver-side.
    """
    from indexlab_spark.functions.hashing import md5_long
    from indexlab_spark.operators.textstats import token_count
    from pyspark.sql import Window

    spark = df.sparkSession
    bdf = local_frame(
        spark,
        [(k, int(v)) for k, v in sorted(budgets.items())],
        f"{group_col} string, budget bigint",
    )
    base = df.select(
        _c(id_col).alias("id"),
        _c(group_col).alias("grp"),
        token_count(text_col).cast("bigint").alias("n_tokens"),
        md5_long(
            F.concat(F.lit(f"{seed}|"), _c(id_col).cast("string"))
        ).alias("h"),
    ).withColumn("bucket", F.col("h") % n_buckets)
    w_in = (
        Window.partitionBy("grp", "bucket")
        .orderBy("h", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = base.withColumn("in_cum", F.sum("n_tokens").over(w_in))
    w_off = (
        Window.partitionBy("grp")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        base.groupBy("grp", "bucket")
        .agg(F.sum("n_tokens").alias("b_sum"))
        .withColumn("b_off", F.sum("b_sum").over(w_off) - F.col("b_sum"))
        .select("grp", "bucket", "b_off")
    )
    cum = within.join(F.broadcast(offsets), ["grp", "bucket"]).withColumn(
        "cum_tokens", (F.col("b_off") + F.col("in_cum")).cast("bigint")
    )
    return (
        cum.join(
            F.broadcast(bdf).withColumnRenamed(group_col, "grp"), "grp"
        )
        .filter(F.col("cum_tokens") - F.col("n_tokens") < F.col("budget"))
        .select(
            F.col("id").alias(id_col),
            F.col("grp").alias(group_col),
            "n_tokens",
            "cum_tokens",
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-then-split sequence packing: assign each document a
    training-sequence id and an offset, as if documents were
    concatenated in deterministic order and sliced into ``budget``-token
    windows (standard LM pre-training packing).

    Scale design: a GLOBAL running sum would be a single-partition
    window — instead documents are sharded into ``n_buckets`` md5
    buckets and packed independently within each (seq key =
    ``bucket-local_seq``). Each bucket's cumsum is a window partitioned
    by bucket — parallel, bounded state, and deterministic regardless of
    input partitioning. At 100 TB, n_buckets scales with the cluster;
    packing quality is unaffected since sequences never span buckets by
    construction.
    """
    from indexlab_spark.functions.hashing import md5_long
    from indexlab_spark.operators.textstats import token_count
    from pyspark.sql import Window

    base = df.select(
        _c(id_col).alias("id"),
        token_count(text_col).cast("bigint").alias("n_tokens"),
        (md5_long(_c(id_col).cast("string")) % n_buckets).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return cum.select(
        "id",
        "bucket",
        "n_tokens",
        F.concat_ws(
            "-", F.col("bucket"), F.expr(f"(cum - n_tokens) div {budget}")
        ).alias("seq_id"),
        (start % budget).alias("offset_in_seq"),
    )


def _hashed_gram_counts(
    df: DataFrame, id_col: str, text_col: str, buckets: int
) -> DataFrame:
    """``(id, bucket, c)`` — hashed unigram+bigram feature counts per
    document (the DSIR feature space: Xie et al. 2023 §3, public paper).
    Grams keep multiplicity; bucket = md5-derived 60-bit int % buckets
    (portable across engines, unlike xxhash). Cost ~ total tokens; the
    (id, bucket) agg is map-side-combined and keyed by document."""
    from indexlab_spark.functions.hashing import md5_long

    base = _tokenized_base(df, id_col, text_col)
    grams = base.select(
        "id",
        F.explode(
            F.concat(
                F.col("toks"),
                F.when(
                    F.col("n_words") >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size("toks") - 2),
                        lambda i: F.concat_ws(
                            " ", F.col("toks")[i], F.col("toks")[i + 1]
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("gram"),
    )
    return (
        grams.select("id", (md5_long(F.col("gram")) % buckets).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR importance log-weights (Data Selection via Importance
    Resampling, Xie et al. 2023 — the standard 'make web data look like
    the target domain' selector): per corpus document,
    ``logw = sum_b c_b * (ln p_b - ln q_b)`` over hashed unigram+bigram
    buckets, where p is the add-``smoothing`` bucket distribution of the
    TARGET corpus and q of the raw corpus.

    Returns ``(id, n_feats, logw)`` for EVERY corpus document (rounded
    to 6dp; docs with no grams get logw = 0). Feed to
    :func:`dsir_resample` for the selection step.

    Plan at 100 TB: gram explode ~ total tokens; both global bucket
    distributions are map-side-combined aggs with at most ``buckets``
    output rows, so the log-ratio table is vocabulary-sized and
    BROADCAST back onto the per-document feature counts; the final
    weight is one more agg keyed by document. Nothing shuffles at
    corpus granularity except the two document-keyed aggs.
    """
    c_counts = _hashed_gram_counts(corpus, id_col, text_col, buckets)
    t_counts = _hashed_gram_counts(target, id_col, text_col, buckets)
    q_tbl = c_counts.groupBy("bucket").agg(F.sum("c").alias("nq"))
    p_tbl = t_counts.groupBy("bucket").agg(F.sum("c").alias("np_"))
    q_tot = q_tbl.agg(F.sum("nq").alias("q_tot"))
    p_tot = p_tbl.agg(F.sum("np_").alias("p_tot"))
    s = float(smoothing)
    ratio = (
        q_tbl.join(p_tbl, "bucket", "left")
        .na.fill({"np_": 0})
        .crossJoin(F.broadcast(q_tot))
        .crossJoin(F.broadcast(p_tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.col("np_").cast("double") + s)
                    / (F.col("p_tot").cast("double") + s * buckets)
                )
                - F.log(
                    (F.col("nq").cast("double") + s)
                    / (F.col("q_tot").cast("double") + s * buckets)
                )
            ).alias("lr"),
        )
    )
    per_doc = (
        c_counts.join(F.broadcast(ratio), "bucket")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c").cast("double") * F.col("lr")).alias("logw"),
        )
    )
    return (
        corpus.select(_c(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.round(F.coalesce("logw", F.lit(0.0)), 6).alias("logw"),
        )
    )


def dsir_resample(
    corpus: DataFrame,
    target: DataFrame,
    n_keep: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    smoothing: float = 1.0,
    seed: str = "dsir",
) -> DataFrame:
    """DSIR selection: sample ``n_keep`` corpus documents WITHOUT
    replacement, proportionally to their importance weights, via the
    Gumbel top-k trick — ``key = logw + Gumbel(0,1)``, take the k
    largest. The Gumbel noise is DETERMINISTIC (inverse-CDF of an
    md5-hash uniform, same device as hash_sample), so the selection is
    reproducible across runs, partitionings and engines.

    Returns the selected ``(id, n_feats, logw, key)`` rows, ordered
    ties-broken by id. Selection is a TakeOrdered top-k over the weight
    frame — no global sort of the corpus.
    """
    from indexlab_spark.functions.hashing import md5_long

    w = dsir_weights(corpus, target, id_col, text_col, buckets, smoothing)
    u = (
        (md5_long(F.concat(F.lit(f"{seed}|"), F.col("id").cast("string")))
         % F.lit(1_000_000)).cast("double")
        + F.lit(0.5)
    ) / F.lit(1_000_000.0)
    keyed = w.withColumn("key", F.round(F.col("logw") - F.log(-F.log(u)), 6))
    return keyed.orderBy(F.col("key").desc(), F.col("id").asc()).limit(n_keep)


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end curation verdict — the three standard gates composed
    into one per-document decision row:

      quality_keep   Gopher-style rule AND (:func:`quality_flags`)
      dedup_keep     the doc IS its exact-dup group's min-id survivor
      contaminated   shares an ``n``-gram with the benchmark
      keep           quality_keep AND dedup_keep AND NOT contaminated

    EVERY input document gets a row (the pipeline's audit trail: which
    gate killed what), so downstream both filters the corpus
    (``keep``) and reports per-gate loss rates in one pass.

    Plan: the three verdicts are the underlying operators' plans
    unchanged (shuffle-free quality map; one hash shuffle for the dup
    groups; broadcast-shingle decontamination) joined back on doc id —
    at 100 TB the join keys are doc-granular and AQE-planned; nothing
    new shuffles at corpus width.
    """
    from indexlab_spark.operators.dedup import normalized_md5

    q = quality_flags(docs, id_col, text_col).select(
        "id", F.col("keep").alias("quality_keep")
    )
    from indexlab_spark.operators.dedup import exact_dedup

    groups = exact_dedup(docs, id_col, text_col).select("text_md5", "keep_id")
    keyed = docs.select(
        _c(id_col).alias("id"), normalized_md5(_c(text_col)).alias("text_md5")
    )
    dd = keyed.join(groups, "text_md5").select(
        "id", (F.col("id") == F.col("keep_id")).alias("dedup_keep")
    )
    decon = decontaminate(
        docs, benchmark, n=n, id_col=id_col, text_col=text_col,
        keep_clean=True,
    ).select("id", "contaminated")
    return (
        q.join(dd, "id")
        .join(decon, "id")
        .select(
            "id",
            "quality_keep",
            "dedup_keep",
            "contaminated",
            (
                F.col("quality_keep")
                & F.col("dedup_keep")
                & ~F.col("contaminated")
            ).alias("keep"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
    keep_clean: bool = False,
    max_collect_rows: int | None = None,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic sibling
    of :func:`decontaminate` (shingle overlap) and
    :func:`bloom_decontaminate`: a training item is contaminated when
    its embedding's cosine similarity to ANY benchmark embedding
    reaches ``threshold`` (catches paraphrases and translations that
    shingle overlap misses; standard modern-eval hygiene).

    Output: ``(id, max_sim, nearest_bench_id, contaminated)``;
    ``max_sim`` is rounded to 6dp BEFORE the max/threshold/tie logic so
    both engines agree at the boundary, and ties on the rounded max
    resolve to the LOWEST benchmark id. Default returns flagged rows
    only; ``keep_clean=True`` returns every corpus row (filter
    ``NOT contaminated`` for the clean set).

    Plan: the benchmark side is an eval set — small by contract, and
    GUARDED like knn_matmul: a bounded Arrow probe collects it
    (id-sorted, L2-normalized) and broadcasts one matrix; each corpus
    partition computes a single BLAS matmul and emits ONE row per
    corpus row — map-only, shuffle-free, the corpus never moves. A
    benchmark larger than the bound routes to the blocked
    large-x-large kNN join (k=1, both sides distributed) instead of
    collecting.
    """
    from indexlab_spark.operators.knn import (
        MAX_COLLECT_QUERY_ROWS,
        _collect_bounded,
        knn_join_blocked,
    )

    bound = max_collect_rows or MAX_COLLECT_QUERY_ROWS
    spark = corpus.sparkSession
    id_t = corpus.schema[id_col].dataType.simpleString()
    bid_t = benchmark.schema[bench_id_col].dataType.simpleString()
    b_rows = _collect_bounded(
        benchmark.orderBy(F.col(bench_id_col).asc()),
        [bench_id_col, bench_vec_col],
        bound,
    )
    if b_rows is None:
        # benchmark too large to broadcast: blocked kNN join, k=1, on
        # pre-normalized vectors (ip of normalized == cosine). NOTE:
        # this path ranks on RAW scores (ties -> lowest bench id on
        # bit-equal raws); two DISTINCT bench vectors whose cosines
        # differ below 6dp could pick a different nearest_bench_id than
        # the broadcast path's rounded-tie rule — max_sim and the
        # contaminated verdict are unaffected either way
        def _norm(df, i, v, id_out):
            n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
            return df.select(
                F.col(i).alias(id_out),
                F.transform(
                    v, lambda x: x / F.when(n > 0, n).otherwise(F.lit(1.0))
                ).alias("_v"),
            )

        nn = knn_join_blocked(
            _norm(corpus, id_col, F.col(vec_col).cast("array<double>"), "_id"),
            _norm(
                benchmark, bench_id_col,
                F.col(bench_vec_col).cast("array<double>"), "_bid",
            ),
            1,
            left_id_col="_id", left_vec_col="_v",
            right_id_col="_bid", right_vec_col="_v",
        )
        out = nn.select(
            F.col("_id").alias("id"),
            F.round("score", 6).alias("max_sim"),
            F.col("_bid").alias("nearest_bench_id"),
        )
    else:
        if not b_rows:
            out = local_frame(
                spark, [], f"id {id_t}, max_sim double, nearest_bench_id {bid_t}"
            )
        else:
            b_ids = np.array([r[0] for r in b_rows])
            b_mat = np.array([list(r[1]) for r in b_rows], dtype=np.float64)
            norms = np.linalg.norm(b_mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            b_mat = b_mat / norms
            bc = spark.sparkContext.broadcast((b_ids, b_mat))

            def _max_sim(batches):
                ids, bm = bc.value
                for pdf in batches:
                    if pdf.empty:
                        continue
                    emb = np.array(pdf["_vec"].tolist(), dtype=np.float64)
                    en = np.linalg.norm(emb, axis=1, keepdims=True)
                    en[en == 0] = 1.0
                    sims = np.round((emb / en) @ bm.T, 6)
                    best = sims.argmax(axis=1)  # first max = lowest id
                    yield pd.DataFrame(
                        {
                            "id": pdf["_id"],
                            "max_sim": sims[
                                np.arange(len(best)), best
                            ],
                            "nearest_bench_id": ids[best],
                        }
                    )

            out = _fan_out(
                corpus.select(
                    F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
                )
            ).mapInPandas(
                _max_sim,
                f"id {id_t}, max_sim double, nearest_bench_id {bid_t}",
            )
    out = out.withColumn(
        "contaminated", F.col("max_sim") >= F.lit(float(threshold))
    )
    if not keep_clean:
        out = out.filter(F.col("contaminated"))
    return out


def weighted_sample(
    df: "DataFrame",
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    group_cols: list[str] | None = None,
    salt: str = "ares",
) -> "DataFrame":
    """Weighted random sampling WITHOUT replacement — A-Res (Efraimidis
    & Spirakis 2006, public): every row gets key = u^(1/w) for a
    uniform u, and the k largest keys are an exact weighted sample
    (for k=1 the inclusion probability is exactly w_i / sum(w); for
    k>1 the sequential-selection probabilities). The sampling family's
    missing member: hash_sample is uniform, temperature/DSIR reweight
    SOURCES — this samples ROWS by their own weights (quality scores,
    token counts) in one pass.

    Deterministic and engine-stable: u derives from the repo's
    portable md5 (functions/hashing) on (salt, id), so reruns and
    different partitionings agree; change ``salt`` for an independent
    draw. Keys are compared as ln(u)/w — the monotone transform of
    u^(1/w) that avoids float pow underflow at tiny weights.

    Plan: a codegen key projection, then per-group top-k via one keyed
    window (or TakeOrderedAndProject when ungrouped) — never a global
    sort when groups exist, never more state than k rows per group.
    Rows with NULL, zero or negative weight are excluded (they have no
    sampling mass).
    """
    from indexlab_spark.functions.hashing import md5_long

    if k < 1:
        raise ValueError(f"weighted_sample: k must be >= 1, got {k}")
    u = (
        md5_long(
            F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(2**60 + 2))
    key = F.log(u) / F.col(weight_col).cast("double")
    base = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("_ares", key)
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy(
            F.col("_ares").desc(), F.col(id_col).asc()
        )
        return (
            base.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn", "_ares")
        )
    return (
        base.orderBy(F.col("_ares").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("_ares")
    )


class QualityClassifier:
    """Frozen logistic-regression model (weights + bias + training
    metadata) returned by :func:`train_quality_classifier`."""

    def __init__(self, weights, bias, n_rows, iters, final_loss):
        self.weights = np.asarray(weights, dtype=np.float64)
        self.bias = float(bias)
        self.n_rows = int(n_rows)
        self.iters = int(iters)
        self.final_loss = float(final_loss)

    def __repr__(self):  # pragma: no cover
        return (
            f"QualityClassifier(dim={len(self.weights)}, "
            f"n={self.n_rows}, iters={self.iters}, "
            f"loss={self.final_loss:.4f})"
        )


def train_quality_classifier(
    df: DataFrame,
    label_col: str,
    vec_col: str = "embedding",
    iters: int = 30,
    lr: float = 1.0,
    l2: float = 1e-3,
    quantize_dp: int | None = None,
) -> QualityClassifier:
    """Distributed full-batch logistic regression over an embedding
    column — the fastText/DCLM-style learned quality classifier step
    of a training-data pipeline (learn "looks like the good corpus"
    from labeled seeds, then score everything; the learned complement
    to the rule-based :func:`quality_flags`).

    Deterministic by construction: zero init, full-batch gradient (no
    sampling, no shuffling sensitivity — the gradient is a SUM, so
    row order cannot change it beyond float round-off), fixed
    learning rate with L2; spark ≡ pure-numpy parity is pinned in
    tests.

    Plan per iteration: ONE Arrow pass emits (d+2)-sized partial
    sums per batch (gradient, count, loss), a map-combined agg
    reduces them, and d+2 scalars reach the driver — the same
    moment-pass discipline as decompose.pca_fit. Nothing row-sized
    ever leaves the executors; 100 TB cost is iters corpus scans,
    each embarrassingly parallel. Labels must be 0/1; rows with NULL
    label or vector are excluded.

    ``quantize_dp``: when set, (w, b) are re-quantized to that many
    decimals after every update (scaled-integer rounding — the
    hits_scores replay discipline): both engines re-sync to the exact
    same state each iteration, so an external SQL replay of the whole
    fit stays bit-stable instead of accumulating summation-order
    noise. None (default) = the unquantized production fit.
    """
    base = (
        df.filter(
            F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
        )
        .select(
            F.col(vec_col).alias("vec"),
            F.col(label_col).cast("double").alias("y"),
        )
    )
    first = base.select(F.size("vec").alias("d")).first()
    if first is None:
        raise ValueError("train_quality_classifier: empty input")
    dim = int(first["d"])

    # r16 optimization (the knn_matmul _collect_bounded discipline):
    # full-batch GD is inherently one job PER EPOCH when the corpus is
    # executor-resident — iters sequential dispatches whose scheduling
    # floor dwarfs the math on small seed sets (measured 6.9s for 20
    # epochs over 2000x64 at sf0.1; the same fit is milliseconds in one
    # address space). Seed sets for quality classifiers are small by
    # construction, so when the frame fits the driver bound the fit
    # runs locally on the Arrow-fetched matrix — IDENTICAL update math,
    # quantization and loss — and past the bound the distributed
    # epoch loop below is unchanged. The probe fetches bound+1 rows at
    # most, so checking costs one bounded job, never a materialization.
    cap_rows = _DRIVER_FIT_MAX_ELEMS // (dim + 1)
    probe = base.limit(cap_rows + 1).toPandas() if cap_rows > 0 else None
    if probe is not None and len(probe) <= cap_rows:
        x = np.array(probe["vec"].tolist(), dtype=np.float64)
        y = probe["y"].to_numpy(dtype=np.float64)
        n_rows = len(y)
        if n_rows == 0:
            raise ValueError("train_quality_classifier: empty input")
        w = np.zeros(dim, dtype=np.float64)
        b = 0.0
        loss = float("nan")
        eps = 1e-12
        for _ in range(max(1, iters)):
            p = 1.0 / (1.0 + np.exp(-(x @ w + b)))
            err = p - y
            ll = -np.sum(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps))
            grad_w = (x.T @ err) / n_rows + l2 * w
            grad_b = err.sum() / n_rows
            loss = ll / n_rows + 0.5 * l2 * float(w @ w)
            w = w - lr * grad_w
            b = b - lr * grad_b
            if quantize_dp is not None:
                scale = 10.0 ** quantize_dp
                w = np.floor(w * scale + 0.5) / scale
                b = float(np.floor(b * scale + 0.5) / scale)
        return QualityClassifier(w, b, n_rows, iters, loss)

    base = base.localCheckpoint(eager=True)  # iters scans of a frozen frame

    w = np.zeros(dim, dtype=np.float64)
    b = 0.0
    n_rows = 0
    loss = float("nan")
    # r16 optimization (guide §2.4): each epoch used to reduce its
    # (d+3) partial sums through a groupBy("idx") — a 67-row shuffle
    # plus a second stage, paid ITERS times. Partitions now emit ONE
    # (pid, array<double>) row each and the driver sums them in pid
    # order (deterministic run-to-run; the old shuffle's merge order
    # was not) — one stage per epoch, zero exchanges. Driver state is
    # n_partitions x (d+3) doubles per epoch; past _PARTIAL_COLLECT_MAX
    # partitions (100 TB scans) the pre-r16 map-combined agg path takes
    # over, collecting d+3 scalars as before.
    from pyspark import TaskContext

    n_parts = base.rdd.getNumPartitions()
    direct = n_parts <= _PARTIAL_COLLECT_MAX
    for _ in range(max(1, iters)):
        w_b = w.copy()
        b_b = b

        def partials(batches, w_b=w_b, b_b=b_b):
            acc = np.zeros(dim + 3, dtype=np.float64)
            for pdf in batches:
                x = np.array(pdf["vec"].tolist(), dtype=np.float64)
                y = pdf["y"].to_numpy(dtype=np.float64)
                z = x @ w_b + b_b
                p = 1.0 / (1.0 + np.exp(-z))
                err = p - y
                eps = 1e-12
                ll = -np.sum(
                    y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)
                )
                acc[:dim] += x.T @ err  # d-vector partial
                acc[dim] += err.sum()
                acc[dim + 1] += float(len(y))
                acc[dim + 2] += ll
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            yield pd.DataFrame({"pid": [pid], "vals": [acc.tolist()]})

        partial_df = base.mapInPandas(
            partials, schema="pid int, vals array<double>"
        )
        if direct:
            rows = partial_df.collect()  # bounded: one row per partition
            rows.sort(key=lambda r: r["pid"])
            total = np.zeros(dim + 3, dtype=np.float64)
            for r in rows:
                total += np.asarray(r["vals"], dtype=np.float64)
        else:  # 100 TB fan-in: map-combined elementwise agg, d+3 scalars
            # posexplode gives (pos, val) directly — version-stable,
            # unlike arrays_zip's index-based struct field naming for
            # non-attribute inputs (r17, ADVICE)
            agg = partial_df.select(
                F.posexplode("vals").alias("idx", "val")
            ).groupBy("idx").agg(F.sum("val").alias("val")).collect()
            total = np.zeros(dim + 3, dtype=np.float64)
            for r in agg:
                total[int(r["idx"])] = float(r["val"])
        n_rows = int(total[dim + 1])
        if n_rows == 0:
            raise ValueError("train_quality_classifier: empty input")
        grad_w = total[:dim] / n_rows + l2 * w
        grad_b = total[dim] / n_rows
        loss = total[dim + 2] / n_rows + 0.5 * l2 * float(w @ w)
        w = w - lr * grad_w
        b = b - lr * grad_b
        if quantize_dp is not None:
            scale = 10.0 ** quantize_dp
            w = np.floor(w * scale + 0.5) / scale
            b = float(np.floor(b * scale + 0.5) / scale)
    base.unpersist()
    return QualityClassifier(w, b, n_rows, iters, loss)


def score_quality_classifier(
    df: DataFrame,
    model: QualityClassifier,
    vec_col: str = "embedding",
    out_col: str = "quality_prob",
) -> DataFrame:
    """Score a corpus with a trained :class:`QualityClassifier` —
    sigmoid(w·x + b) as a pure Catalyst expression: the weight vector
    is inlined as an array literal (d doubles, plan-sized), the dot
    product is ``aggregate(zip_with(...))`` — JVM-side, inside
    WholeStageCodegen, zero Python in the hot path, zero shuffles.
    The standard deployment: train once on seeds (driver-sized
    state), score 100 TB as a map."""
    wlit = F.array(*[F.lit(float(v)) for v in model.weights])
    dot = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            wlit,
            lambda x, wi: x * wi,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    z = dot + F.lit(model.bias)
    return df.withColumn(out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


def isotonic_calibrate(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Isotonic (PAV) calibration map for a binary-outcome score — the
    deployment companion to :func:`train_quality_classifier`: a raw
    model score ranks documents but its VALUE is not a probability;
    this fits the monotone step function mapping score -> empirical
    outcome rate (Zadrozny & Elkan 2002, public), the standard
    reliability fix before thresholding on "keep if P(good) > 0.9".

    Distributed shape: the corpus is reduced to ``n_bins``
    exact-score-quantile bins (edges from one ``percentile`` agg —
    driver literals, the psi_drift discipline) by ONE map-combined
    agg producing integer (count, positives) per bin; everything
    after runs on that contract-bounded bin frame (<= n_bins rows to
    the driver — bounded like the CM params probe, never row-sized).

    The isotonic fit itself uses the exact minimax characterization
    fitted[i] = max_{j<=i} min_{k>=i} (S[k..j]) / (N[k..j]) over the
    bins' integer prefix sums — mathematically identical to PAV
    pooling (pinned in tests) and, because every operand is an
    integer until one double division, bit-reproducible by any
    engine that replays the formula (the oracle does, relationally).

    Labels must be 0/1 (NULL score/label rows are excluded). Output:
    one row per NON-EMPTY bin — bin, lo, hi (NULL at the open ends),
    n, positives, raw_rate, calibrated (monotone non-decreasing),
    mean_score; rates 6dp.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("long").alias("_y"),
    )
    [edges] = _quantile_edges(
        base, ["_s"], n_bins, "isotonic_calibrate: no non-null rows"
    )
    binned = (
        base.select(
            _bucket_index(F.col("_s"), edges).alias("bin"), "_s", "_y"
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_y").alias("positives"),
            F.avg("_s").alias("mean_score"),
        )
    )
    rows = sorted(binned.collect(), key=lambda r: r["bin"])  # <= n_bins

    ns = [int(r["n"]) for r in rows]
    ss = [int(r["positives"]) for r in rows]
    cn = [0]
    cs = [0]
    for n_i, s_i in zip(ns, ss):
        cn.append(cn[-1] + n_i)
        cs.append(cs[-1] + s_i)
    m = len(rows)
    fitted = []
    for i in range(m):
        best = None
        for j in range(i + 1):  # block start j (prefix index j)
            worst = None
            for k in range(i + 1, m + 1):  # block end k (prefix index)
                v = (cs[k] - cs[j]) / (cn[k] - cn[j])
                if worst is None or v < worst:
                    worst = v
            if best is None or worst > best:
                best = worst
        fitted.append(best)

    spark = df.sparkSession
    out = []
    for r, cal in zip(rows, fitted):
        i = int(r["bin"])
        out.append(
            (
                i,
                edges[i - 1] if i > 0 else None,
                edges[i] if i < len(edges) else None,
                int(r["n"]),
                int(r["positives"]),
                round(int(r["positives"]) / int(r["n"]), 6),
                round(cal, 6),
                round(float(r["mean_score"]), 6),
            )
        )
    return local_frame(
        spark,
        out,
        "bin int, lo double, hi double, n bigint, positives bigint, "
        "raw_rate double, calibrated double, mean_score double",
    )


def negative_samples(
    positives: DataFrame,
    corpus: DataFrame,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    k: int = 5,
    seed: int = 1,
    bucket_target: int = 8,
    margin: int = 3,
) -> DataFrame:
    """Deterministic random negatives for contrastive / retrieval
    training pairs: for every query in ``positives``, up to ``k``
    corpus documents that are NOT among that query's positives — the
    (query, positive, negatives) triple builder every bi-encoder /
    reranker training pipeline needs.

    The naive spec is "k uniform draws per query from corpus \\ P(q)",
    which at scale is a query x corpus cross join. Instead the
    corpus is sharded ONCE into ``ceil(D / bucket_target)`` md5
    buckets, and each query makes ``k + margin`` independent
    deterministic picks: pick i hashes to a bucket (md5 of
    seed|query|i — the weighted_sample md5 discipline), and within
    that bucket the winning doc is the min of md5(seed|query|i|doc).
    Every stage is a keyed join or keyed window: the only fan-out is
    picks x bucket size (~``bucket_target``), never corpus-sized.
    Collisions across picks and the query's own positives are then
    removed, keeping the LOWEST pick index per surviving doc, and the
    first ``k`` by pick order are emitted.

    Deterministic and oracle-replayable end to end. Output: (query_col,
    doc_col, pick_rank) with pick_rank 1..k in pick order. UP TO k
    rows per query: a pick can land in an md5-empty bucket, collide
    with another pick, or hit a positive — ``margin`` extra picks make
    a shortfall vanishingly rare for corpora >> k * bucket_target;
    queries with no eligible docs emit nothing (documented contract,
    matched by the oracle).
    """
    if k < 1:
        raise ValueError(f"negative_samples: k must be >= 1, got {k}")
    if bucket_target < 1 or margin < 0:
        raise ValueError(
            "negative_samples: bucket_target >= 1 and margin >= 0"
        )
    from indexlab_spark.functions.hashing import md5_long

    docs = corpus.select(
        F.col(doc_col).cast("string").alias("_doc")
    ).distinct()
    n_docs = docs.count()  # one catalog-sized scalar, sizes the shards
    if n_docs == 0:
        return local_frame(
            positives.sparkSession, [], f"{query_col} string, {doc_col} string, pick_rank int"
        )
    n_buckets = max(1, -(-n_docs // bucket_target))
    docs_b = docs.withColumn(
        "_bkt", md5_long(F.col("_doc")) % F.lit(n_buckets)
    )
    qs = positives.select(
        F.col(query_col).cast("string").alias("_q")
    ).distinct()
    picks = qs.select(
        "_q",
        F.explode(F.sequence(F.lit(1), F.lit(k + margin))).alias("_i"),
    ).withColumn(
        "_bkt",
        md5_long(
            F.concat(F.lit(f"{seed}|"), F.col("_q"), F.lit("|"),
                     F.col("_i").cast("string"))
        ) % F.lit(n_buckets),
    )
    cand = picks.join(docs_b, "_bkt").withColumn(
        "_h",
        md5_long(
            F.concat(F.lit(f"{seed}|"), F.col("_q"), F.lit("|"),
                     F.col("_i").cast("string"), F.lit("|"),
                     F.col("_doc"))
        ),
    )
    w_pick = Window.partitionBy("_q", "_i").orderBy("_h", "_doc")
    won = (
        cand.withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        .select("_q", "_i", "_doc")
    )
    pos = positives.select(
        F.col(query_col).cast("string").alias("_q"),
        F.col(doc_col).cast("string").alias("_doc"),
    ).distinct()
    neg = won.join(pos, ["_q", "_doc"], "left_anti")
    w_dedup = Window.partitionBy("_q", "_doc").orderBy("_i")
    w_rank = Window.partitionBy("_q").orderBy("_i")
    return (
        neg.withColumn("_dn", F.row_number().over(w_dedup))
        .filter(F.col("_dn") == 1)
        .withColumn("pick_rank", F.row_number().over(w_rank))
        .filter(F.col("pick_rank") <= k)
        .select(
            F.col("_q").alias(query_col),
            F.col("_doc").alias(doc_col),
            "pick_rank",
        )
    )


def temporal_split(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    boundary: str,
    embargo_seconds: int = 0,
) -> DataFrame:
    """Leakage-safe ENTITY-LEVEL time split with an embargo gap (the
    purged/embargoed split of Lopez de Prado 2018, public) — the
    temporal companion to :func:`~indexlab_spark.operators.dedup.
    cluster_split`: that one stops near-duplicate leakage across
    splits, this one stops TEMPORAL leakage. A per-row cut at
    ``boundary`` still leaks, twice: the same entity lands on both
    sides (its test behavior is predictable from its own train rows),
    and rows just before the cut are autocorrelated with rows just
    after. So the unit of assignment is the entity, judged by its
    FULL activity span:

    - ``test``   — first activity at/after ``boundary``;
    - ``train``  — last activity strictly before ``boundary`` minus
      ``embargo_seconds``;
    - ``embargo`` — everything else: entities that straddle the
      boundary or whose activity ends inside the embargo window.
      Training pipelines drop this bucket; it is labeled rather than
      silently removed so the cost of the gap is auditable.

    ONE map-side-combined (entity -> min/max ts) aggregation; the
    classification is a codegen projection. Output: (entity_col,
    first_ts, last_ts, split), one row per entity.
    """
    if embargo_seconds < 0:
        raise ValueError(
            f"temporal_split: embargo_seconds >= 0, got {embargo_seconds}"
        )
    b = F.lit(boundary).cast("timestamp")
    cutoff = b - F.make_interval(secs=F.lit(float(embargo_seconds)))
    spans = df.groupBy(F.col(entity_col)).agg(
        F.min(F.col(ts_col).cast("timestamp")).alias("first_ts"),
        F.max(F.col(ts_col).cast("timestamp")).alias("last_ts"),
    )
    split = (
        F.when(F.col("first_ts") >= b, "test")
        .when(F.col("last_ts") < cutoff, "train")
        .otherwise("embargo")
    )
    return spans.select(
        entity_col, "first_ts", "last_ts", split.alias("split")
    )


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    id_col: str,
    m: float = 20.0,
    loo: bool = False,
) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical column — the
    m-estimate encoder of Micci-Barreca 2001, the standard high-
    cardinality categorical feature for tabular models where one-hot
    explodes: ``te = (sum_y + m * prior) / (n + m)`` per category,
    shrinking rare categories toward the global prior.

    ``loo=True`` gives the LEAVE-ONE-OUT variant for TRAINING rows —
    the leakage-safe form (a row must not see its own label inside its
    feature): ``te_i = (sum_y - y_i + m * prior) / (n - 1 + m)``.
    With ``m > 0`` a singleton category degrades gracefully to exactly
    the prior; rows with a NULL target get the non-LOO encoding (they
    contributed nothing, so there is nothing to leave out). Score-time
    frames use ``loo=False``.

    Plan: one map-combined (category -> sum, count) agg + a broadcast
    one-row prior, joined back on the category key — the join is
    category-keyed, the stats frame is category-sized, nothing
    row-sized reaches the driver. At 100 TB a hot category skews the
    join; AQE's skew handling applies because this is a plain keyed
    equi-join, not a window.

    Output: (id_col, cat_col, te 6dp). NULL categories form their own
    group (missingness is signal — documented; matches the oracle).
    Empty or all-NULL-target input raises (no prior to shrink toward).
    """
    if m < 0:
        raise ValueError(f"target_encode: m must be >= 0, got {m}")
    y = F.col(target_col).cast("double")
    stats = df.groupBy(F.col(cat_col).alias("_cat")).agg(
        F.sum(y).alias("_sy"),
        F.count(y).alias("_cn"),
    )
    prior_row = stats.agg(
        (F.sum("_sy") / F.sum("_cn")).alias("_prior")
    ).first()
    prior = prior_row["_prior"]
    if prior is None:
        raise ValueError("target_encode: no non-null targets")
    rows = df.select(F.col(id_col), F.col(cat_col), y.alias("_y"))
    # null-safe equality: a NULL category is a real group (missingness
    # is signal), and a plain equi-join would drop it
    base = rows.join(
        stats, rows[cat_col].eqNullSafe(stats["_cat"]), "left"
    ).drop("_cat")
    fitted = (F.col("_sy") + F.lit(m * prior)) / (
        F.col("_cn") + F.lit(m)
    )
    if loo:
        denom = F.col("_cn") - 1 + F.lit(m)
        loo_te = F.when(
            denom > 0,
            (F.col("_sy") - F.col("_y") + F.lit(m * prior)) / denom,
        ).otherwise(
            F.lit(prior)
        )  # m=0 singleton: nothing left after leave-out -> prior
        te = F.when(F.col("_y").isNotNull(), loo_te).otherwise(fitted)
    else:
        te = fitted
    return base.select(
        id_col, cat_col, F.round(te, 6).alias("te")
    )


def next_event_dataset(
    df: DataFrame,
    seq_col: str,
    ts_col: str,
    event_col: str,
    context_len: int = 3,
    sep: str = "|",
    min_context: int = 1,
) -> DataFrame:
    """(context, next-event) training pairs from event sequences — the
    sequence-model dataset builder (next-token prediction over
    behavioral events: churn models, recommendation, session LMs):
    for every event, the up-to-``context_len`` events immediately
    before it in the same sequence become the context, the event
    itself the label.

    ONE keyed exchange (partition by sequence) and an ordered window
    with a bounded ``rowsBetween(-context_len, -1)`` frame — the
    event_paths discipline; state per row is context-sized, never
    sequence-sized. Ordering is (ts, event) so equal-timestamp batches
    are deterministic: fully-tied rows produce the same OUTPUT row set
    under either internal order (pinned in tests). The context is
    emitted as a ``sep``-joined STRING (drivers and most trainers want
    text; list cells also break order-insensitive comparison
    downstream).

    Output: (seq_col, pos, context, next_event) with pos the 0-based
    position in the sequence; rows with fewer than ``min_context``
    context events are dropped (default 1 drops each sequence's first
    event — there is nothing to condition on).
    """
    if context_len < 1:
        raise ValueError(
            f"next_event_dataset: context_len >= 1, got {context_len}"
        )
    if not (0 <= min_context <= context_len):
        raise ValueError(
            "next_event_dataset: 0 <= min_context <= context_len"
        )
    ev = F.col(event_col).cast("string")
    base = df.select(
        F.col(seq_col),
        F.col(ts_col).cast("timestamp").alias("_ts"),
        ev.alias("_ev"),
    ).filter(F.col("_ev").isNotNull() & F.col("_ts").isNotNull())
    order = [F.col("_ts").asc(), F.col("_ev").asc()]
    w = Window.partitionBy(seq_col).orderBy(*order)
    ctx_w = w.rowsBetween(-context_len, -1)
    out = base.select(
        seq_col,
        (F.row_number().over(w) - 1).alias("pos"),
        F.concat_ws(sep, F.collect_list("_ev").over(ctx_w)).alias(
            "context"
        ),
        F.size(F.collect_list("_ev").over(ctx_w)).alias("_cn"),
        F.col("_ev").alias("next_event"),
    )
    return out.filter(F.col("_cn") >= min_context).drop("_cn")


def kfold_assign(
    df: DataFrame,
    id_col: str,
    k: int = 5,
    group_col: str | None = None,
    salt: str = "fold",
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment — completing
    the split family (random: textstats.stratified_split, near-dup-
    safe: dedup.cluster_split, temporal: temporal_split): fold =
    md5(salt|key) mod k, where the key is ``group_col`` when given
    (GROUP k-fold — every row of an entity lands in one fold, the
    sklearn GroupKFold leakage discipline) and ``id_col`` otherwise.

    Zero shuffle: the assignment is a pure md5 projection (the
    stratified_split discipline), deterministic across runs, engines
    and machines, and train/test for fold i is a FILTER (fold != i /
    fold == i) — no materialized copies of the corpus per fold.
    Output: input columns + ``fold`` int in [0, k).
    """
    if k < 2:
        raise ValueError(f"kfold_assign: k must be >= 2, got {k}")
    from indexlab_spark.functions.hashing import md5_long

    key = F.col(group_col if group_col else id_col).cast("string")
    fold = F.pmod(
        md5_long(F.concat(F.lit(f"{salt}|"), key)), F.lit(k)
    ).cast("int")
    return df.select("*", fold.alias("fold"))
