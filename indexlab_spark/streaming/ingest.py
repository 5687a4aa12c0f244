"""Streaming document ingestion with incremental near-dup detection.

Ties Structured Streaming to the persistable MinHash signature index
(operators/dedup.minhash_signatures + minhash_incremental_pairs): a
document stream is processed in micro-batches via ``foreachBatch``; each
batch is checked against the signatures of everything ingested before it
(old docs are never re-hashed), the verified near-dup pairs are written
out, and the batch's own signatures join the index for the next batch.

Exactly-once output contract on replay: every state table (corpus,
signature index, emitted pairs) is partitioned by ``batch_id`` and
written with DYNAMIC partition overwrite, so a micro-batch that is
reprocessed after a failure overwrites ITS OWN partition instead of
appending duplicates; reads of prior state filter ``batch_id <
current`` (partition-pruned), so a half-written current partition can
never leak into its own "old corpus". This is the standard idempotent-
foreachBatch pattern (Structured Streaming's foreachBatch is itself
at-least-once; idempotent sinks make the pipeline exactly-once).

Scale: per-trigger work is minhash_incremental_pairs' contract — the
candidate join probes only the NEW batch's band keys against the bucket
table, and old text is re-read only for candidate-touched documents, so
steady-state cost tracks the batch size, not the corpus size. The
signature index grows by one small partition per batch; compact it
periodically with operators/maintenance.compact_files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from indexlab_spark.session import local_frame


def _read_state(
    spark: SparkSession, path: str, template: DataFrame, batch_id: int
) -> DataFrame:
    """Read a batch_id-partitioned state table, restricted to partitions
    strictly BEFORE the current batch (replay safety); a missing path
    (first batch ever) yields an empty frame with the template schema."""
    try:
        df = spark.read.schema(
            template.withColumn("batch_id", F.lit(0).cast("bigint")).schema
        ).parquet(path)
    except AnalysisException:
        return template.limit(0)
    return df.where(F.col("batch_id") < batch_id).drop("batch_id")


def _write_state(df: DataFrame, path: str, batch_id: int) -> None:
    (
        df.withColumn("batch_id", F.lit(batch_id).cast("bigint"))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def dedup_ingest_stream(
    stream_df: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    query_name: str = "dedup_ingest",
):
    """Run a document stream through incremental MinHash dedup.

    ``stream_df`` must be a STREAMING DataFrame with at least
    ``(id_col, text_col)``; ids must be globally unique across the
    stream (standard ingestion contract — re-delivered files are handled
    by the file source's own exactly-once tracking, not here).

    State layout under ``state_dir`` (all partitioned by batch_id):
      corpus/   (id, text)        — text for candidate-bounded verify
      sigs/     (id, sz, m0..mN)  — the persistable signature index
      pairs/    (id_a, id_b, jaccard) — verified near-dup pairs, the
                 stream's OUTPUT; union over batch_ids ==
                 minhash_lsh_pairs over the whole corpus (pinned by
                 tests/test_streaming_ingest.py)
      _checkpoint/                — Structured Streaming offsets

    Returns the started StreamingQuery (availableNow trigger — drains
    everything currently available, then stops; call awaitTermination).
    """
    from indexlab_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_signatures,
    )

    corpus_dir = f"{state_dir}/corpus"
    sigs_dir = f"{state_dir}/sigs"
    pairs_dir = f"{state_dir}/pairs"

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_docs = batch_df.select(
            F.col(id_col), F.col(text_col)
        ).localCheckpoint(eager=True)
        old_docs = _read_state(spark, corpus_dir, new_docs, batch_id)
        sig_template = minhash_signatures(
            new_docs.limit(0), id_col, text_col, n, num_hashes
        )
        old_sigs = _read_state(spark, sigs_dir, sig_template, batch_id)
        # materialize the batch's signatures ONCE; they serve both the
        # pair search and the index write
        new_sigs = minhash_signatures(
            new_docs, id_col, text_col, n, num_hashes
        ).localCheckpoint(eager=True)
        pairs = minhash_incremental_pairs(
            new_docs,
            old_docs,
            old_sigs=old_sigs,
            new_sigs=new_sigs,
            id_col=id_col,
            text_col=text_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
        )
        _write_state(pairs, pairs_dir, batch_id)
        _write_state(new_sigs, sigs_dir, batch_id)
        _write_state(new_docs, corpus_dir, batch_id)

    return (
        stream_df.writeStream.foreachBatch(_process)
        .queryName(query_name)
        .option("checkpointLocation", f"{state_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_documents_stream(
    spark: SparkSession, documents_parquet: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a documents parquet file/directory (one
    file per trigger by default — the smallest honest micro-batch)."""
    from indexlab_spark.streaming.events import stage_stream_dir

    d = stage_stream_dir(documents_parquet)
    static = spark.read.parquet(d)
    return (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(d)
    )


def quantile_monitor_stream(
    stream_df: DataFrame,
    state_path: str,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    k: int = 256,
    query_name: str = "quantile_monitor",
):
    """Maintain a live quantile-sketch table over a stream — the
    streaming face of analytics.quantile_sketch_rollup/merge: each
    micro-batch is sketched ALONE (batch-sized work) and bottom-k-merged
    into the persisted state table; any consumer reads the state and
    calls quantile_union_estimate for current per-group quantiles at
    any grain.

    Replay safety WITHOUT batch_id bookkeeping: the merge is
    IDEMPOTENT — a replayed batch contributes byte-identical
    md5-derived (rank, value) rows, which quantile_sketch_merge's
    per-(group, rank) dedup collapses before the bottom-k window, so
    merging the same batch twice is exactly a no-op (pinned by the
    replay test). Unlike the dedup ingest state, at-least-once
    foreachBatch therefore needs no partition bookkeeping: the whole
    (n_groups x k)-row state is rewritten via a staging path each
    trigger.

    Steady-state cost: sketching the batch (batch-sized) + merging two
    sketch tables (n_groups x k rows, corpus-size-independent).
    """
    from indexlab_spark.operators.analytics import (
        quantile_sketch_merge,
        quantile_sketch_rollup,
    )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_sk = quantile_sketch_rollup(
            batch_df, group_cols, value_col, id_col, k=k
        )
        try:
            state = spark.read.parquet(state_path)
            merged = quantile_sketch_merge(
                state, batch_sk, group_cols, k=k
            )
        except AnalysisException:
            merged = batch_sk
        # write-stage-swap: the state frame is being read lazily while
        # we overwrite, so land the merge in a staging dir first, then
        # rewrite the live path from the materialized staging copy
        staging = state_path.rstrip("/") + "__staging"
        merged.write.mode("overwrite").parquet(staging)
        spark.read.parquet(staging).write.mode("overwrite").parquet(
            state_path
        )

    return (
        stream_df.writeStream.foreachBatch(on_batch)
        .queryName(query_name)
        .option(
            "checkpointLocation", state_path.rstrip("/") + "__checkpoint"
        )
        .trigger(availableNow=True)
    )


def heavy_hitters_monitor_stream(
    stream_df: DataFrame,
    state_path: str,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    query_name: str = "cm_monitor",
):
    """Maintain a live Count-Min frequency sketch over a stream — the
    COUNTS companion to :func:`quantile_monitor_stream`: bounded-memory
    key-frequency state over an unbounded key domain, readable at any
    moment for "what's hot right now" without ever storing per-key
    rows.

    Replay safety differs from the quantile monitor on purpose: CM is
    a LINEAR sketch (counters add), so re-merging a replayed batch
    would DOUBLE-count — idempotent-merge tricks don't apply. Instead
    the state is per-batch sketch partitions (the dedup-ingest
    discipline): each micro-batch writes its own ``batch_id=N``
    partition with dynamic partition overwrite, so an at-least-once
    redelivery overwrites byte-identically instead of adding. Readers
    collapse the partitions with :func:`cm_monitor_totals` (one
    sketch-sized sum — linearity makes the collapsed table exactly the
    sketch of all data seen).

    Steady-state cost per trigger: one map-side-combined batch sketch
    (exchange bounded by depth x width rows) + one partition write.
    State grows one depth*width-row partition per batch; totals reads
    stay sketch-sized after the sum.
    """
    from indexlab_spark.operators.analytics import cm_sketch_build

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        sk = cm_sketch_build(batch_df, key_col, width=width, depth=depth)
        _write_state(sk, state_path, batch_id)

    return (
        stream_df.writeStream.foreachBatch(on_batch)
        .queryName(query_name)
        .option(
            "checkpointLocation", state_path.rstrip("/") + "__checkpoint"
        )
        .trigger(availableNow=True)
    )


def cm_monitor_totals(spark: SparkSession, state_path: str) -> DataFrame:
    """Collapse the batch-partitioned Count-Min state into ONE counter
    table: counters sum across batches (linearity), the width/depth
    contract is validated across every partition, and the result feeds
    :func:`~indexlab_spark.operators.analytics.cm_sketch_estimate`
    directly."""
    from indexlab_spark.operators.analytics import _cm_params

    cm = spark.read.parquet(state_path)
    w, d = _cm_params(cm, "cm_monitor_totals")
    return (
        cm.groupBy("j", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("width", F.lit(w))
        .withColumn("depth", F.lit(d))
    )


def theta_monitor_stream(
    stream_df: DataFrame,
    state_path: str,
    group_cols: list[str],
    key_col: str,
    k: int = 4096,
    query_name: str = "theta_monitor",
):
    """Maintain a live per-group DISTINCT-count theta sketch over a
    stream — the set-algebra companion to
    :func:`quantile_monitor_stream` (and the third state discipline in
    this file next to the CM monitor): readers get current per-group
    distinct estimates at any grain via
    ``analytics.theta_sketch_union``, AND cross-group overlap answers
    via ``theta_sketch_intersect`` ("how many users did checkout and
    search share so far today") — the question the HLL monitor cannot
    answer.

    Replay safety is the quantile monitor's, for the same reason:
    hash points are VALUES, so ``theta_sketch_merge``'s distinct
    collapses a replayed batch into an exact no-op — idempotent-merge,
    no batch_id bookkeeping (pinned by the replay test). The whole
    (n_groups x k)-row state rewrites via the staging swap each
    trigger.

    Steady-state cost: sketching the batch (batch-sized, one keyed
    exchange) + merging two sketch tables (sketch-sized).
    """
    from indexlab_spark.operators.analytics import (
        theta_sketch_build,
        theta_sketch_merge,
    )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_sk = theta_sketch_build(batch_df, group_cols, key_col, k=k)
        try:
            state = spark.read.parquet(state_path)
            merged = theta_sketch_merge(state, batch_sk, group_cols, k=k)
        except AnalysisException:
            merged = batch_sk
        staging = state_path.rstrip("/") + "__staging"
        merged.write.mode("overwrite").parquet(staging)
        spark.read.parquet(staging).write.mode("overwrite").parquet(
            state_path
        )

    return (
        stream_df.writeStream.foreachBatch(on_batch)
        .queryName(query_name)
        .option(
            "checkpointLocation", state_path.rstrip("/") + "__checkpoint"
        )
        .trigger(availableNow=True)
    )


def psi_monitor_stream(
    stream_df: DataFrame,
    state_path: str,
    value_col: str,
    ref: dict,
    query_name: str = "psi_monitor",
):
    """Maintain live PSI drift state over a stream — the DISTRIBUTION
    companion to the quantile/CM/theta monitors: "has the score/length/
    value distribution drifted off the frozen baseline" answerable at
    any moment, without storing rows. ``ref`` is the
    :func:`~indexlab_spark.operators.analytics.psi_reference` contract
    (frozen quantile edges + integer baseline counts) — every batch
    bins against the SAME edges the alert thresholds were defined on.

    Replay safety is the CM monitor's, for the same reason: bucket
    counts are LINEAR (they add), so idempotent-merge tricks don't
    apply — each micro-batch writes its own ``batch_id=N`` partition
    of bounded (bucket, _n) rows with dynamic partition overwrite; an
    at-least-once redelivery overwrites byte-identically instead of
    double-counting. Readers collapse with :func:`psi_monitor_totals`
    (one bucket-count-sized sum).

    Steady-state cost per trigger: one map-side-combined bucketed
    count (exchange bounded by n_buckets rows) + one tiny partition
    write. State grows one n_buckets-row partition per batch.
    """
    from indexlab_spark.operators.analytics import psi_bucket_counts

    edges = [float(x) for x in ref["edges"]]

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        counts = psi_bucket_counts(batch_df, value_col, edges)
        _write_state(counts, state_path, batch_id)

    return (
        stream_df.writeStream.foreachBatch(on_batch)
        .queryName(query_name)
        .option(
            "checkpointLocation", state_path.rstrip("/") + "__checkpoint"
        )
        .trigger(availableNow=True)
    )


def psi_monitor_totals(
    spark: SparkSession,
    state_path: str,
    ref: dict,
    eps: float = 1e-6,
) -> DataFrame:
    """Collapse the batch-partitioned PSI state into the SAME
    detail+total table :func:`~indexlab_spark.operators.analytics.
    psi_drift` produces (bucket, lo, hi, p_old, p_new, contrib; total
    at bucket = -1): counts sum across batch partitions (linearity),
    the frozen reference's integer counts rebuild p_old with the
    identical division, and the shared PSI tail computes the
    contributions — so drained-stream totals EXACTLY equal the
    one-shot batch psi_drift over the same data (pinned in tests)."""
    from indexlab_spark.operators.analytics import (
        _psi_props,
        _psi_table,
    )

    edges = [float(x) for x in ref["edges"]]
    n_buckets = int(ref["n_buckets"])
    folded = (
        spark.read.parquet(state_path)
        .groupBy("bucket")
        .agg(F.sum("_n").alias("_n"))
    )
    old_counts = local_frame(
        spark,
        [
            (i, int(c))
            for i, c in enumerate(ref["counts"])
            if int(c) > 0
        ],
        "bucket int, _n bigint",
    )
    return _psi_table(
        spark,
        edges,
        _psi_props(old_counts, "p_old"),
        _psi_props(folded, "p_new"),
        n_buckets,
        eps,
    )


def mau_monitor_stream(
    stream_df: DataFrame,
    state_path: str,
    ts_col: str,
    key_col: str,
    query_name: str = "mau_monitor",
):
    """Maintain live per-day HLL distinct state over a stream — the
    trailing-window-distinct ("28-day MAU") monitor, the streaming
    twin of :func:`~indexlab_spark.operators.analytics.
    sliding_distinct`'s sketch path: distinct is not additive, so a
    live MAU needs per-day mergeable state, not counters.

    Each micro-batch reduces to its (day -> HLL sketch) frame — one
    map-side-combined sketch agg, days-in-batch rows — written as its
    own ``batch_id=N`` partition with dynamic overwrite: HLL register
    union is idempotent AND the per-batch partition overwrites
    byte-identically on an at-least-once redelivery, so replays are
    no-ops twice over (the PSI/CM state scheme). Readers collapse
    with :func:`mau_monitor_totals`; because HLL union is associative
    and commutative, the drained totals EXACTLY equal the one-shot
    batch ``sliding_distinct(sketch=True)`` over the same rows
    (pinned in tests).

    Steady-state cost per trigger: one sketch agg bounded by
    days-in-batch rows + one tiny partition write.
    """
    from pyspark.sql import functions as F

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        daily = (
            batch_df.select(
                F.to_date(F.col(ts_col).cast("timestamp")).alias("day"),
                F.col(key_col).alias("_k"),
            )
            .filter(F.col("_k").isNotNull() & F.col("day").isNotNull())
            .groupBy("day")
            .agg(F.expr("hll_sketch_agg(_k)").alias("sk"))
        )
        _write_state(daily, state_path, batch_id)

    return (
        stream_df.writeStream.foreachBatch(on_batch)
        .queryName(query_name)
        .option(
            "checkpointLocation", state_path.rstrip("/") + "__checkpoint"
        )
        .trigger(availableNow=True)
    )


def mau_monitor_totals(
    spark: SparkSession,
    state_path: str,
    window_days: int = 28,
) -> DataFrame:
    """Collapse the batch-partitioned day-sketch state into the SAME
    (day, distinct_keys, window_days) table the batch
    ``sliding_distinct(sketch=True)`` produces: sketches union per day
    across batch partitions, the day frame cover-expands over the
    trailing window (day-frame-sized work, never row-sized), and each
    cover day unions its window's sketches once."""
    from pyspark.sql import functions as F

    st = spark.read.parquet(state_path)
    daily = st.groupBy("day").agg(F.expr("hll_union_agg(sk)").alias("sk"))
    hi = daily.agg(F.max("day").alias("hi")).first()["hi"]
    if hi is None:
        return local_frame(
            spark, [], "day date, distinct_keys long, window_days int"
        )
    cover = daily.select(
        F.explode(
            F.expr(
                f"sequence(day, date_add(day, {window_days - 1}),"
                " interval 1 day)"
            )
        ).alias("day2"),
        "sk",
    ).filter(F.col("day2") <= F.lit(hi))
    return (
        cover.groupBy(F.col("day2").alias("day"))
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("long")
            .alias("distinct_keys")
        )
        .select("day", "distinct_keys", F.lit(window_days).alias("window_days"))
    )


def srm_monitor_stream(
    stream_df: DataFrame,
    state_path: str,
    variant_col: str,
    expected: dict[str, float],
    query_name: str = "srm_monitor",
):
    """Maintain a LIVE sample-ratio-mismatch guardrail over the
    assignment stream — the experimentation member of the monitor
    family (quantile/CM/theta/PSI/MAU): "is the split still the
    designed split" answerable at any moment while the experiment
    runs, so a broken bucketing deploy is caught in minutes, not at
    the readout. ``expected`` is validated up front with the
    srm_check contract.

    Replay safety is the CM/PSI monitor's, for the same reason: arm
    counts are LINEAR (they add), so idempotent-merge tricks don't
    apply — each micro-batch writes its own ``batch_id=N`` partition
    of bounded (variant, _n) rows with dynamic partition overwrite; an
    at-least-once redelivery overwrites byte-identically instead of
    double-counting. Readers collapse with :func:`srm_monitor_totals`,
    whose output EXACTLY equals the one-shot
    :func:`~indexlab_spark.operators.analytics.srm_check` over the
    same units (the shared ``_srm_table`` tail; pinned in tests).

    Steady-state cost per trigger: one map-side-combined arm count
    (exchange bounded by arms+1 rows) + one tiny partition write.
    """
    from indexlab_spark.operators.analytics import _srm_validate

    _srm_validate(expected)
    known = list(expected)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        v = F.col(variant_col)
        counts = batch_df.select(
            F.when(v.isin(known), v)
            .otherwise(F.lit("<UNEXPECTED>"))
            .alias("variant")
        ).groupBy("variant").agg(F.count(F.lit(1)).alias("_n"))
        _write_state(counts, state_path, batch_id)

    return (
        stream_df.writeStream.foreachBatch(on_batch)
        .queryName(query_name)
        .option(
            "checkpointLocation", state_path.rstrip("/") + "__checkpoint"
        )
        .trigger(availableNow=True)
    )


def srm_monitor_totals(
    spark: SparkSession,
    state_path: str,
    expected: dict[str, float],
    crit: float = 3.841,
) -> DataFrame:
    """Collapse the batch-partitioned SRM state into the SAME
    per-arm + <ALL> table srm_check produces: counts sum across batch
    partitions (linearity), then the shared _srm_table tail computes
    expected counts, chi-square contributions and the flag — so
    drained-stream totals EXACTLY equal the one-shot check."""
    from indexlab_spark.operators.analytics import (
        _srm_table,
        _srm_validate,
    )

    _srm_validate(expected)
    folded = (
        spark.read.parquet(state_path)
        .groupBy("variant")
        .agg(F.sum("_n").alias("n"))
    )
    return _srm_table(folded, expected, crit)


def ewma_monitor_stream(
    stream_df: DataFrame,
    state_path: str,
    key_col: str,
    order_col: str,
    value_col: str,
    ref: dict,
    lam: float = 0.2,
    L: float = 3.0,
    query_name: str = "ewma_monitor",
):
    """Live EWMA control chart over a stream — the SEQUENTIAL-fold
    member of the monitor family (quantile/theta merge idempotently,
    CM/PSI/SRM counts are linear; the EWMA recurrence is neither, so
    the discipline here is STATE CARRY): per key the fold state
    (t, z) advances batch by batch, and each micro-batch's charted
    points are a deterministic function of the PREVIOUS batch's
    state — so an at-least-once redelivery recomputes byte-identical
    partitions and dynamic overwrite keeps replays safe, exactly like
    the linear monitors, without pretending the fold is mergeable.

    ``ref`` freezes Phase-I per key: {key: {"mean": m, "sd": s}} —
    limits are defined on a FROZEN baseline (the psi_monitor
    contract); keys not in ``ref`` are not monitored. The recurrence
    and finite-start variance limits are EXACTLY ewma_control's, and
    the drained chart equals the one-shot batch chart over the same
    (time-ordered) data when ``ref`` carries that series' mean/sd —
    pinned in tests. Micro-batches must arrive in time order (the
    availableNow file-stream contract for sequential folds); rows
    within a batch sort by (order, value).

    Layout: ``state_path/points/batch_id=N`` (the charted rows) and
    ``state_path/state/batch_id=N`` (per-key (t, z) AFTER batch N).
    Because every state partition carries quiet keys forward, the
    newest prior partition is a complete snapshot, and each trigger
    reads ONLY it (partition-pruned after a metadata-cheap
    max(batch_id) probe). Steady-state cost per trigger: one
    key-sized state read + one keyed Arrow fold over the batch + two
    tiny partition writes.
    """
    import math

    import pandas as pd

    if not (0.0 < lam <= 1.0):
        raise ValueError(f"ewma_monitor_stream: lam in (0, 1], got {lam}")
    refs = {
        str(k): (float(v["mean"]),
                 float(v["sd"]) if v.get("sd") is not None else None)
        for k, v in ref.items()
    }
    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # AnalysisException = no state yet (first batch ever); any
        # other read failure (IO, corrupt footer) must PROPAGATE —
        # swallowing it would silently reset every key's fold to
        # (t=0, z=ref mean) and chart wrong points with narrowed
        # finite-start limits.
        try:
            prev = (
                spark.read.parquet(state_path.rstrip("/") + "/state")
                .filter(F.col("batch_id") < batch_id)
            )
        except AnalysisException:
            prev = None
        init = {}
        if prev is not None:
            # each batch's state partition carries quiet keys forward,
            # so the NEWEST prior partition is a complete per-key
            # snapshot — read only it (partition-pruned), not every
            # prior partition: state read stays O(keys), not
            # O(batches x keys).
            last = prev.agg(F.max("batch_id").alias("_b")).first()["_b"]
            if last is not None:
                prow = prev.filter(F.col("batch_id") == last).select(
                    "_key", "_t", "_z"
                )
                init = {r["_key"]: (int(r["_t"]), float(r["_z"]))
                        for r in prow.collect()}

        base = batch_df.select(
            F.col(key_col).cast("string").alias("_key"),
            F.col(order_col).alias("_ord"),
            F.col(value_col).cast("double").alias("_val"),
        ).filter(F.col("_key").isin(list(refs)))

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["_ord", "_val"], kind="mergesort")
            key = pdf["_key"].iloc[0]
            mu, sd = refs[key]
            t, z = init.get(key, (0, mu))
            rows = []
            for o, x in zip(pdf["_ord"], pdf["_val"]):
                t += 1
                z = lam * x + (1 - lam) * z
                if sd is not None and sd > 0:
                    half = L * sd * math.sqrt(
                        lam / (2 - lam) * (1 - (1 - lam) ** (2 * t))
                    )
                    ucl, lcl = mu + half, mu - half
                    breach = z > ucl or z < lcl
                else:
                    ucl = lcl = None
                    breach = False
                rows.append(
                    [key, o, round(float(x), 6), round(z, 6),
                     round(ucl, 6) if ucl is not None else None,
                     round(lcl, 6) if lcl is not None else None,
                     breach, t]
                )
            out = pd.DataFrame(
                rows,
                columns=["_key", "_ord", "value", "z", "ucl", "lcl",
                         "breach", "_t"],
            )
            out["_zfin"] = z
            return out

        ord_type = dict(base.dtypes)["_ord"]
        folded = base.groupBy("_key").applyInPandas(
            fold,
            schema=(
                f"`_key` string, `_ord` {ord_type}, value double, "
                "z double, ucl double, lcl double, breach boolean, "
                "`_t` long, `_zfin` double"
            ),
        )
        pts = folded.select(
            "_key", "_ord", "value", "z", "ucl", "lcl", "breach"
        )
        _write_state(pts, state_path.rstrip("/") + "/points", batch_id)
        # final per-key state: max-t row carries the closing (t, z)
        st = (
            folded.groupBy("_key")
            .agg(F.max("_t").alias("_t"), F.max_by("_zfin", "_t").alias("_z"))
        )
        # carry forward state for keys with no rows in this batch, so
        # a quiet key's fold does not reset
        quiet = [
            (k, int(t), float(z))
            for k, (t, z) in init.items()
        ]
        if quiet:
            spark_quiet = local_frame(
                spark, quiet, "_key string, _t long, _z double"
            ).join(st.select("_key"), "_key", "left_anti")
            st = st.unionByName(spark_quiet)
        _write_state(st, state_path.rstrip("/") + "/state", batch_id)

    return (
        stream_df.writeStream.foreachBatch(on_batch)
        .queryName(query_name)
        .option(
            "checkpointLocation", state_path.rstrip("/") + "__checkpoint"
        )
        .trigger(availableNow=True)
    )


def ewma_monitor_points(spark: SparkSession, state_path: str) -> DataFrame:
    """Read the full charted history the EWMA monitor has produced —
    the union of every batch's points partitions (each a deterministic
    recompute under replay, so the union is exact)."""
    return spark.read.parquet(state_path.rstrip("/") + "/points").drop(
        "batch_id"
    )


def decay_mass_monitor_stream(
    stream_df: DataFrame,
    state_path: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    half_life_seconds: float,
    epoch: str = "2024-01-01 00:00:00",
    query_name: str = "decay_mass_monitor",
):
    """Live exponentially-decayed activity state over a stream — by
    LINEARIZING the decay kernel: ``value * 2^(-(as_of - ts)/hl)``
    factors into ``(value * 2^((ts - epoch)/hl)) * 2^(-(as_of -
    epoch)/hl)``, so the per-event MASS ``value * 2^((ts - epoch)/hl)``
    is anchor-free and ADDITIVE — which puts the decayed-sum feature
    into the linear-monitor discipline (CM/PSI/SRM): per-batch per-key
    mass partials written as ``batch_id=N`` partitions with dynamic
    overwrite, replay-safe by byte-identical recompute, and ANY
    later as_of is answered from the same state by one multiply.
    The EWMA monitor carries fold state because its recurrence is
    neither linear nor mergeable; this one needs no state carry at
    all — the algebra did the work.

    ``epoch`` rebase contract: masses are exact doubles while
    ``(ts - epoch) / half_life`` stays within ~±1000 (2^1000 bounds);
    pick an epoch near the data and re-base state when a deployment
    outlives that window (documented, checked loudly at read time by
    the totals helper's finiteness assert).

    Totals: :func:`decay_mass_totals` collapses the partitions (one
    key-sized sum) and multiplies by the requested anchor's factor —
    EXACTLY equal to a one-shot batch
    :func:`~indexlab_spark.operators.analytics.decayed_sum` with the
    same fixed anchor to 6dp (the factored product reassociates the
    float arithmetic — pinned in tests at 1e-4). Events after ``as_of`` are
    excluded there, not here (state stays anchor-free).
    """
    if half_life_seconds <= 0:
        raise ValueError(
            "decay_mass_monitor_stream: half_life_seconds must be > 0"
        )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        mass = (
            F.col(value_col).cast("double")
            * F.pow(
                F.lit(2.0),
                (
                    F.unix_micros(F.col(ts_col))
                    - F.unix_micros(F.lit(epoch).cast("timestamp"))
                ).cast("double")
                / F.lit(1_000_000.0 * float(half_life_seconds)),
            )
        )
        part = batch_df.groupBy(
            F.col(key_col).alias("_key")
        ).agg(
            F.sum(mass).alias("_mass"),
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.when(
                    F.col(ts_col).isNotNull(),
                    F.col(value_col).cast("double"),
                )
            ).alias("_raw"),
            F.max(F.col(ts_col)).alias("_max_ts"),
        )
        _write_state(part, state_path, batch_id)

    return (
        stream_df.writeStream.foreachBatch(on_batch)
        .queryName(query_name)
        .option(
            "checkpointLocation", state_path.rstrip("/") + "__checkpoint"
        )
        .trigger(availableNow=True)
    )


def decay_mass_totals(
    spark: SparkSession,
    state_path: str,
    half_life_seconds: float,
    as_of: str,
    epoch: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Answer "decayed activity as of T" from the anchor-free mass
    state: fold the batch partitions (linearity: one key-sized sum),
    multiply every key's mass by the single factor
    ``2^(-(as_of - epoch)/hl)``. Keys whose latest event is AFTER
    ``as_of`` are reported too (their post-anchor events inflate the
    total — the streaming state cannot un-add them; ask for anchors
    at or after the drained watermark, documented)."""
    import datetime as _dt

    t_anchor = _dt.datetime.fromisoformat(as_of)
    t_epoch = _dt.datetime.fromisoformat(epoch)
    factor = 2.0 ** (
        -(t_anchor - t_epoch).total_seconds() / float(half_life_seconds)
    )
    folded = (
        spark.read.parquet(state_path)
        .groupBy("_key")
        .agg(
            F.sum("_mass").alias("_mass"),
            F.sum("_n").alias("n"),
            F.sum("_raw").alias("_raw"),
            F.max("_max_ts").alias("anchor_guard_max_ts"),
        )
    )
    return folded.select(
        F.col("_key").alias("key"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("_mass") * F.lit(factor), 6).alias("decayed"),
        F.round("_raw", 6).alias("raw_sum"),
        "anchor_guard_max_ts",
    )


def diversity_monitor_stream(
    stream_df: DataFrame,
    state_path: str,
    group_cols: list[str],
    class_col: str,
    query_name: str = "diversity_monitor",
):
    """Maintain a LIVE data-mix diversity profile over an ingestion
    stream — the mix-audit member of the monitor family
    (quantile/CM/theta/PSI/SRM/MAU): "did the language mix of this
    source collapse mid-ingest" answerable at any moment, instead of
    after the shard lands. The batch algebra is
    analytics.diversity_index's.

    Replay safety is the SRM monitor's, for the same reason: class
    counts are LINEAR (they add), so each micro-batch writes its own
    ``batch_id=N`` partition of bounded (group, class, _m) rows with
    dynamic partition overwrite — an at-least-once redelivery
    overwrites byte-identically instead of double-counting. Readers
    collapse with :func:`diversity_monitor_totals`, whose output
    EXACTLY equals the one-shot diversity_index over the same rows
    (the shared ``_diversity_table`` tail; pinned in tests).

    Steady-state cost per trigger: one map-side-combined
    (group, class) count (exchange bounded by the class-frame size)
    + one tiny partition write.
    """
    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        counts = (
            batch_df.filter(F.col(class_col).isNotNull())
            .groupBy(*group_cols, F.col(class_col).alias("_c"))
            .agg(F.count(F.lit(1)).alias("_m"))
        )
        _write_state(counts, state_path, batch_id)

    return (
        stream_df.writeStream.foreachBatch(on_batch)
        .queryName(query_name)
        .option(
            "checkpointLocation", state_path.rstrip("/") + "__checkpoint"
        )
        .trigger(availableNow=True)
    )


def diversity_monitor_totals(
    spark: SparkSession,
    state_path: str,
    group_cols: list[str],
) -> DataFrame:
    """Collapse the batch-partitioned diversity state into the SAME
    per-group profile diversity_index produces: class counts sum
    across batch partitions (linearity), then the shared
    _diversity_table tail computes entropy/simpson/evenness — so
    drained-stream totals EXACTLY equal the one-shot profile."""
    from indexlab_spark.operators.analytics import _diversity_table

    folded = (
        spark.read.parquet(state_path)
        .groupBy(*group_cols, "_c")
        .agg(F.sum("_m").alias("_m"))
    )
    return _diversity_table(folded, group_cols)
