"""Table-maintenance operators for corpus-scale layouts.

The reference rewrites whole index artifacts per build (app/indexer
build_index writes one flat file set per version); at 100 TB the
equivalent concerns are the classic lakehouse maintenance jobs:

- small-file compaction (streaming ingest's foreachBatch appends leave
  one file set per micro-batch; thousands of tiny files destroy scan
  throughput and NameNode/listing latency),
- latest-wins merge/upsert (re-ingesting changed documents must replace
  prior rows without rewriting unrelated data),
- range-clustered layout (sorting each output file on a predicate column
  gives parquet row-group min/max pruning — the scan skips files whose
  stat range misses the filter).

All three are expressed as plain DataFrame programs: one shuffle each,
no driver-side row movement, no RDDs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from indexlab_spark.session import local_frame

__all__ = [
    "merge_upsert",
    "compact_files",
    "write_range_clustered",
    "parquet_file_ranges",
    "refresh_rollup",
    "rollup_events_daily",
    "scd2_from_changes",
    "zorder_key",
    "write_zorder_clustered",
    "expire_versions",
    "table_diff",
]


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """Latest-wins merge of ``updates`` into ``base`` on ``keys``.

    Rows are versioned by ``order_col``; for each key the row with the
    highest version wins, and on version ties the updates side wins
    (MERGE semantics: an upsert at the same version replaces).

    Scale shape: union + one keyed aggregation with ``max_by`` over a
    struct of the payload — a single hash shuffle with map-side partial
    aggregation. No window (which would sort whole partitions), no join
    back (which would shuffle twice).
    """
    cols = base.columns
    if updates.columns != cols:
        updates = updates.select(*cols)
    tagged = base.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    payload = [c for c in cols if c not in keys]
    rank = F.struct(F.col(order_col), F.col("_src"))
    agg = [F.max_by(F.struct(*payload), rank).alias("_win")]
    out = tagged.groupBy(*keys).agg(*agg)
    return out.select(*keys, *[F.col(f"_win.{c}").alias(c) for c in payload])


def _hadoop_listing(spark: SparkSession, path: str):
    """(file_count, total_bytes) via the Hadoop FileSystem API — works on
    any supported filesystem (local, HDFS, object stores), not just
    local paths."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    it = fs.listFiles(p, True)
    n, total = 0, 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        n += 1
        total += st.getLen()
    return n, total


def compact_files(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Rewrite ``in_path`` into ~``target_file_bytes`` output files.

    Output file count is ceil(input_bytes / target): a directory of
    10,000 micro-batch files at 1 MB becomes ~80 files at 128 MB. The
    rewrite is one round-robin repartition (no key skew possible) and a
    parallel write; data content is untouched.
    """
    # overwrite-to-source would truncate the directory while the lazy
    # read is still scanning it — refuse equal (normalized) paths
    if in_path.rstrip("/") == out_path.rstrip("/"):
        raise ValueError(
            f"compact_files: out_path must differ from in_path ({in_path!r});"
            " write to a sibling directory and swap afterwards"
        )
    files_in, bytes_in = _hadoop_listing(spark, in_path)
    n_out = max(1, math.ceil(bytes_in / target_file_bytes))
    df = spark.read.parquet(in_path)
    df.repartition(n_out).write.mode("overwrite").parquet(out_path)
    files_out, bytes_out = _hadoop_listing(spark, out_path)
    return {
        "files_in": files_in,
        "bytes_in": bytes_in,
        "files_out": files_out,
        "bytes_out": bytes_out,
    }


def write_range_clustered(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_ranges: int,
) -> None:
    """Write ``df`` range-clustered on ``sort_col``.

    ``repartitionByRange`` samples the column to build disjoint range
    boundaries (one range shuffle), ``sortWithinPartitions`` orders rows
    inside each file, so every parquet file/row-group carries a tight,
    non-overlapping min/max for ``sort_col``. A later
    ``read.filter(sort_col BETWEEN ...)`` then skips all but the few
    files whose stat range intersects — the poor man's Z-order for a
    single predicate column, and the layout the events/hypertable scans
    want at 100 TB.
    """
    (
        df.repartitionByRange(n_ranges, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def parquet_file_ranges(path: str, column: str) -> list[tuple]:
    """Per-file (min, max) statistics for ``column`` straight from the
    parquet footers (no data read) — the exact metadata a stats-pruning
    scan consults. Used by tests to assert the clustered layout is
    actually disjoint."""
    import os

    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                if col.path_in_schema != column or col.statistics is None:
                    continue
                s = col.statistics
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
        if lo is not None:
            out.append((lo, hi))
    return out


def refresh_rollup(
    existing_rollup: DataFrame | None,
    delta: DataFrame,
    keys: list[str],
    count_col: str = "n",
    sum_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Incremental continuous-aggregate refresh — merge a delta batch's
    partial aggregates into an existing rollup WITHOUT rescanning
    history (the hypertable continuous-aggregate / materialized-view
    maintenance job; the reference recomputes its analytics from the
    full corpus per request, app/analytics flow).

    Works for any decomposable aggregate carried as (count, sums):
    rollup(base + delta) == combine(rollup(base), rollup(delta)) by
    re-aggregating the union on the same keys with SUM — one shuffle
    over |existing keys| + |delta keys| rows, independent of history
    row count. avg/derived metrics recompute from the carried sums.

    ``existing_rollup`` may be None (first refresh).
    """
    aggs = [F.sum(count_col).alias(count_col)] + [
        F.sum(c).alias(c) for c in sum_cols
    ]
    parts = delta if existing_rollup is None else existing_rollup.unionByName(delta)
    return parts.groupBy(*keys).agg(*aggs)


def rollup_events_daily(events: DataFrame) -> DataFrame:
    """Day x event_type partial aggregate in refresh_rollup's carried
    shape: (keys..., n, sum_value)."""
    return events.groupBy(
        F.to_date("ts").cast("string").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
    )


def scd2_from_changes(
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    attr_cols: list[str],
    tie_col: str | None = None,
    collapse_unchanged: bool = True,
) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history from a change
    log: each change row opens a version ``[valid_from, valid_to)``
    closed by the key's next change; the last version per key has
    ``valid_to = NULL`` and ``is_current = true`` (the standard
    event-sourcing -> SCD2 materialization every warehouse needs).

    ``tie_col``: when one key has several change rows at the SAME
    timestamp, the row with the LARGEST tie_col wins (deterministic);
    required if such ties exist. ``collapse_unchanged=True`` drops
    change rows whose attributes equal the key's previous surviving
    row (no-op updates do not open spurious versions).

    Plan: everything is windows over ONE partitioning (the key) with one
    ordering (ts) — a single shuffle; the collapse filter and the
    lead() validity close share the sort. No joins, no collects;
    history length per key is bounded by that key's own change count.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    df = changes.select(key_col, ts_col, *attr_cols)
    if tie_col is not None:
        # tie resolution shares the (key) partitioning of every other
        # window here — a (key, ts)-partitioned row_number would force a
        # SECOND exchange (ENSURE_REQUIREMENTS cannot reuse the narrower
        # one); ordering (ts asc, tie desc) makes the FIRST row of each
        # ts-group the max-tie winner, identified by lag(ts) != ts
        wt = Window.partitionBy(key_col).orderBy(
            F.col(ts_col).asc(), F.col(tie_col).desc()
        )
        df = (
            changes.select(key_col, ts_col, tie_col, *attr_cols)
            .withColumn("_prev_ts", F.lag(ts_col).over(wt))
            .filter(
                F.col("_prev_ts").isNull()
                | (F.col("_prev_ts") != F.col(ts_col))
            )
            .drop("_prev_ts", tie_col)
        )
    if collapse_unchanged:
        attrs = F.struct(*[F.col(c) for c in attr_cols])
        prev = F.lag(attrs).over(w)
        # NULL-safe: the first row per key (lag NULL) always survives
        df = (
            df.withColumn("_prev", prev)
            .filter(
                F.col("_prev").isNull()
                | ~attrs.eqNullSafe(F.col("_prev"))
            )
            .drop("_prev")
        )
    return (
        df.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(key_col, *attr_cols, "valid_from", "valid_to", "is_current")
    )


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    out_col: str = "zval",
) -> DataFrame:
    """Z-order (Morton) key over 2+ numeric columns — the multi-column
    generalization of :func:`write_range_clustered`: interleaving the
    bits of min-max-quantized column ranks gives ONE sort key whose
    ordering keeps rows that are close in EVERY dimension close in the
    file layout, so parquet min/max stats prune scans filtered on ANY
    of the columns (the Delta/Iceberg OPTIMIZE ZORDER design, public).

    Each column min-max-quantizes to ``bits``-bit integer ranks (the
    two range scalars come back to the driver and inline as literals —
    the histogram pattern; constant columns rank 0), then the key is a
    pure-Catalyst unrolled bit interleave: bit b of column i lands at
    position ``b * n_cols + i``. No UDF, no shuffle — one projection.

    Keep ``bits * len(cols) <= 63`` (the key is a signed long).
    """
    if len(cols) < 2:
        raise ValueError("zorder_key needs at least 2 columns")
    if bits * len(cols) > 63:
        raise ValueError(f"bits={bits} x {len(cols)} cols exceeds a long")
    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    if any(stats[f"mn_{c}"] is None for c in cols):
        # empty input (or an all-NULL column): no range to quantize —
        # key 0 everywhere keeps the write path total instead of
        # crashing in float(None)
        return df.withColumn(out_col, F.lit(0).cast("long"))
    top = (1 << bits) - 1
    ranks = []
    for c in cols:
        mn, mx = float(stats[f"mn_{c}"]), float(stats[f"mx_{c}"])
        if mx > mn:
            r = F.floor(
                (F.col(c).cast("double") - F.lit(mn))
                / F.lit(mx - mn)
                * F.lit(float(top))
            ).cast("long")
            # x == max lands exactly on top; clamp guards float slop
            r = F.least(F.greatest(r, F.lit(0)), F.lit(top))
        else:
            r = F.lit(0).cast("long")
        ranks.append(r)
    z = F.lit(0).cast("long")
    n = len(cols)
    for b in range(bits):
        for i, r in enumerate(ranks):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(r, b).bitwiseAND(F.lit(1)), b * n + i
                )
            )
    return df.withColumn(out_col, z)


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_ranges: int,
    bits: int = 16,
) -> None:
    """Write ``df`` Z-order-clustered on ``cols``: compute the Morton
    key, range-repartition + sort on it (every file covers a compact
    hypercube of the column space), drop the key. Per-file min/max
    stats on EACH of ``cols`` are then tight, where single-column range
    clustering leaves every other column's range per file at full
    width."""
    keyed = zorder_key(df, cols, bits=bits)
    (
        keyed.repartitionByRange(n_ranges, F.col("zval"))
        .sortWithinPartitions("zval")
        .drop("zval")
        .write.mode("overwrite")
        .parquet(path)
    )


def expire_versions(
    spark: SparkSession,
    chunks_path: str,
    manifests_path: str,
    keep_n: int = 2,
) -> dict:
    """Snapshot retention for the versioned index store (the
    Delta/Iceberg `VACUUM` / snapshot-expiration analog for the plain
    partitioned layout): per index_name, keep the ``keep_n`` most
    recent versions (ordered by created_at then version, the catalog's
    latest-wins order) and delete the older partition directories plus
    their manifest rows.

    Deletion is directory-level via the Hadoop FileSystem API —
    partition pruning in reverse: nothing data-sized is ever read. The
    manifests table is rewritten to a staging path first and swapped
    via the materialized copy (same write-stage-swap discipline as the
    streaming quantile state: never overwrite a path a lazy plan is
    still reading).

    Returns {"deleted": [(index_name, version), ...], "kept": n}.
    Refuses keep_n < 1 (deleting every version is never retention).
    """
    if keep_n < 1:
        raise ValueError(f"expire_versions: keep_n must be >= 1, got {keep_n}")
    manifests = spark.read.parquet(manifests_path)
    ranked = manifests.withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("index_name").orderBy(
                F.desc("created_at"), F.desc("version")
            )
        ),
    )
    doomed = [
        (r["index_name"], r["version"])
        for r in ranked.filter(F.col("_rk") > keep_n)
        .select("index_name", "version")
        .collect()
    ]  # bounded: one row per (index, version) pair, catalog-sized
    if not doomed:
        return {"deleted": [], "kept": manifests.count()}

    # Metadata first, data last (the Delta/Iceberg expiration ordering):
    # rewrite the manifests so no live row references a doomed version,
    # THEN delete the partition directories. A crash between the two
    # steps leaves orphaned-but-unreferenced data (reclaimed by
    # vacuum_orphans below), never live manifest rows pointing at
    # deleted chunks.
    survivors = ranked.filter(F.col("_rk") <= keep_n).drop("_rk")
    staging = manifests_path.rstrip("/") + "__staging"
    survivors.write.mode("overwrite").parquet(staging)
    spark.read.parquet(staging).write.mode("overwrite").parquet(
        manifests_path
    )
    kept = spark.read.parquet(manifests_path).count()

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for name, version in doomed:
        p = jvm.org.apache.hadoop.fs.Path(
            f"{chunks_path}/index_name={name}/version={version}"
        )
        fs = p.getFileSystem(hconf)
        if fs.exists(p):
            fs.delete(p, True)
    sp = jvm.org.apache.hadoop.fs.Path(staging)
    sfs = sp.getFileSystem(hconf)
    if sfs.exists(sp):
        sfs.delete(sp, True)

    return {"deleted": doomed, "kept": kept}


def vacuum_orphans(
    spark: SparkSession,
    chunks_path: str,
    manifests_path: str,
) -> dict:
    """Orphan sweep for the versioned index store — the crash-recovery
    companion to :func:`expire_versions`. That function deletes
    metadata FIRST, so a crash mid-expiration can only ever leave
    unreferenced partition directories (never live manifest rows
    pointing at deleted data); this sweep is the out-of-band cleanup
    that reclaims them, the plain-layout analog of Delta/Iceberg's
    ``VACUUM`` of unreferenced files.

    Lists the ``index_name=*/version=*`` partition directories via the
    Hadoop FileSystem API and deletes every directory no manifest row
    references — catalog-sized work on both sides; nothing data-sized
    is ever read.

    Returns {"deleted": [(index_name, version), ...], "kept": n} where
    ``kept`` counts the referenced directories left in place.
    """
    live = {
        (r["index_name"], str(r["version"]))
        for r in spark.read.parquet(manifests_path)
        .select("index_name", "version")
        .distinct()
        .collect()
    }  # bounded: one row per (index, version) pair, catalog-sized
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(chunks_path)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return {"deleted": [], "kept": 0}
    deleted, kept = [], 0
    for idx_st in fs.listStatus(root):
        iname = idx_st.getPath().getName()
        if not (idx_st.isDirectory() and iname.startswith("index_name=")):
            continue
        index_name = iname.split("=", 1)[1]
        for v_st in fs.listStatus(idx_st.getPath()):
            vname = v_st.getPath().getName()
            if not (v_st.isDirectory() and vname.startswith("version=")):
                continue
            version = vname.split("=", 1)[1]
            if (index_name, version) in live:
                kept += 1
            else:
                fs.delete(v_st.getPath(), True)
                deleted.append((index_name, version))
    return {"deleted": sorted(deleted), "kept": kept}


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Key-level diff between two table snapshots — the regression
    check a pipeline runs between yesterday's output and today's
    before publishing: every key classified as ``added`` (new only),
    ``removed`` (old only), ``changed`` (present in both, any compared
    column differs, NULL-safe) or ``unchanged``.

    One full-outer join on the key (the single data-sized exchange,
    both sides keyed identically so AQE can plan it as a co-partitioned
    join); the per-column compare is a codegen projection using
    null-safe equality (``<=>``), so NULL -> value and value -> NULL
    both count as changes and NULL == NULL does not.

    Output: key_cols + ``status`` — one row per key in either
    snapshot. Aggregate for the summary, filter for the drill-down.
    """
    if not key_cols:
        raise ValueError("table_diff: key_cols must be non-empty")
    compare_cols = (
        [c for c in old.columns if c not in key_cols]
        if compare_cols is None
        else list(compare_cols)
    )
    o = old.select(
        *key_cols,
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
    )
    n = new.select(
        *key_cols,
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
    )
    j = o.join(n, list(key_cols), "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*key_cols, status.alias("status"))


def upsert_by_key(
    existing: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """MERGE-style keyed upsert without a table format: the updates
    frame wins on key collision, unmatched existing rows survive,
    unmatched updates insert — the Delta ``MERGE WHEN MATCHED UPDATE
    WHEN NOT MATCHED INSERT`` semantics expressed as one LEFT-ANTI
    join plus a union (cheaper than a full outer: the surviving-old
    side never carries the update payload through the join).

    Duplicate keys WITHIN updates are an error at merge semantics
    level; this keeps all of them (documented — dedupe upstream with
    dedup.cluster_representatives / a window if the batch can carry
    dupes). Schema: updates must carry exactly the existing columns
    (checked).

    At 100 TB: one keyed shuffle of the smaller updates frame against
    the corpus's key frame; writing the result partitioned by the key
    range keeps the rewrite bounded to touched partitions.
    """
    if not key_cols:
        raise ValueError("upsert_by_key: key_cols must be non-empty")
    if set(existing.columns) != set(updates.columns):
        raise ValueError(
            "upsert_by_key: schemas differ: "
            f"{sorted(existing.columns)} vs {sorted(updates.columns)}"
        )
    survivors = existing.join(
        updates.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    return survivors.unionByName(updates.select(*existing.columns))


def scd2_merge(
    current: DataFrame,
    snapshot: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    as_of: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 maintenance (Kimball):
    ``current`` is the history table (one OPEN row per live key —
    ``valid_to`` NULL — plus closed rows), ``snapshot`` is today's
    full extract of (key, attrs). The merge:

    - attribute change  -> the open row CLOSES at ``as_of`` and a new
      open row starts at ``as_of``;
    - key missing from the snapshot (deleted upstream) -> the open
      row closes at ``as_of``;
    - new key -> a new open row starts at ``as_of``;
    - unchanged keys and already-closed history pass through
      untouched.

    One full-outer join of the OPEN slice against the snapshot on the
    key (both sides key-sized after the open filter), null-safe
    attribute comparison (NULL == NULL is "unchanged", the table_diff
    discipline), and a union with the closed history — the history
    table is never rewritten row-by-row, only the open slice moves.

    Output: the full new history frame with the input column layout
    (key_cols + attr_cols + valid_from + valid_to, all as strings of
    the input types).
    """
    if not key_cols or not attr_cols:
        raise ValueError("scd2_merge: key_cols and attr_cols required")
    a = F.lit(as_of).cast("date")
    cols = [*key_cols, *attr_cols, valid_from_col, valid_to_col]
    closed_history = current.filter(
        F.col(valid_to_col).isNotNull()
    ).select(*cols)
    open_rows = current.filter(F.col(valid_to_col).isNull())
    o = open_rows.select(
        *key_cols,
        F.lit(True).alias("_in_old"),
        F.col(valid_from_col).alias("_vf"),
        *[F.col(c).alias(f"_o_{c}") for c in attr_cols],
    )
    s = snapshot.select(
        *key_cols,
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"_n_{c}") for c in attr_cols],
    )
    j = o.join(s, list(key_cols), "full_outer")
    same = F.lit(True)
    for c in attr_cols:
        same = same & F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    unchanged = j.filter(
        F.col("_in_old").isNotNull() & F.col("_in_new").isNotNull() & same
    ).select(
        *key_cols,
        *[F.col(f"_o_{c}").alias(c) for c in attr_cols],
        F.col("_vf").alias(valid_from_col),
        F.lit(None).cast("date").alias(valid_to_col),
    )
    closing = j.filter(
        F.col("_in_old").isNotNull() & (F.col("_in_new").isNull() | ~same)
    ).select(
        *key_cols,
        *[F.col(f"_o_{c}").alias(c) for c in attr_cols],
        F.col("_vf").alias(valid_from_col),
        a.alias(valid_to_col),
    )
    opening = j.filter(
        F.col("_in_new").isNotNull() & (F.col("_in_old").isNull() | ~same)
    ).select(
        *key_cols,
        *[F.col(f"_n_{c}").alias(c) for c in attr_cols],
        a.alias(valid_from_col),
        F.lit(None).cast("date").alias(valid_to_col),
    )
    return (
        closed_history.unionByName(unchanged)
        .unionByName(closing)
        .unionByName(opening)
    )


def compaction_plan(
    files: DataFrame,
    size_col: str = "size_bytes",
    order_col: str = "path",
    target_bytes: int = 128 * 1024 * 1024,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Small-file compaction PLANNER — the incremental complement to
    :func:`compact_files` (which rewrites a whole directory): given a
    file listing (path, size, partition columns), bin-pack adjacent
    files into ~``target_bytes`` merge groups so a compaction job can
    rewrite ONLY the offending groups and leave right-sized files
    untouched — the Iceberg/Delta OPTIMIZE binpack design, expressed
    as a plain DataFrame program over the (tiny) listing frame.

    Files pack in ``order_col`` order (path order preserves the sort /
    z-order locality an earlier clustered write paid for — merging
    neighbors keeps file-level min/max stats tight, where bin-packing
    by size would interleave ranges). Group id = floor(exclusive
    prefix sum / target): deterministic next-fit, every group's START
    stays under each target boundary, so groups reach >= target with
    at most one file of overflow — and a single file >= target forms
    its own group. The whole plan is ONE window cumsum over the
    listing partition plus a group-keyed window for the totals;
    nothing data-sized is read.

    ``needs_compaction`` marks groups of more than one file — a
    single-file group is already as compact as it can get. Rows with
    NULL size are excluded (a listing row without a size cannot be
    planned). Output: group_cols + order_col, size (long), group_id
    (long), group_files, group_bytes, needs_compaction.
    """
    if target_bytes <= 0:
        raise ValueError(
            f"compaction_plan: target_bytes must be > 0, got {target_bytes}"
        )
    gcols = list(group_cols or [])
    w = Window.partitionBy(*gcols).orderBy(order_col) if gcols else (
        Window.orderBy(order_col)
    )
    size = F.col(size_col).cast("long")
    base = files.filter(size.isNotNull()).select(
        *gcols,
        F.col(order_col),
        size.alias("_sz"),
        (
            F.sum(size).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            - size
        ).alias("_prefix"),
    )
    planned = base.withColumn(
        "group_id",
        F.floor(F.col("_prefix") / F.lit(int(target_bytes))).cast("long"),
    )
    gw = Window.partitionBy(*gcols, "group_id")
    return planned.select(
        *gcols,
        F.col(order_col),
        F.col("_sz").alias(size_col),
        "group_id",
        F.count(F.lit(1)).over(gw).cast("long").alias("group_files"),
        F.sum("_sz").over(gw).cast("long").alias("group_bytes"),
        (F.count(F.lit(1)).over(gw) > 1).alias("needs_compaction"),
    )


def hilbert_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    out_col: str = "hval",
) -> DataFrame:
    """Hilbert-curve key over exactly TWO numeric columns — the
    stronger-locality sibling of :func:`zorder_key` (the design behind
    Databricks liquid clustering / Iceberg's Hilbert ordering,
    public): the Hilbert curve visits grid cells so that CONSECUTIVE
    keys are always ADJACENT cells (step distance exactly 1, where the
    Z-curve takes long diagonal jumps at power-of-two boundaries), so
    a rectangular predicate region covers fewer, longer runs of the
    key space — fewer files touched for the same file count.

    Each column min-max-quantizes to ``bits``-bit ranks exactly like
    zorder_key (driver-literal range scalars, clamped, constant
    columns rank 0). The curve fold is the classic xy2d bit
    transform (rotate/reflect per scale); each of the ``bits`` rounds
    materializes (x, y, d) as real projection columns — keeping the
    expression tree LINEAR in ``bits`` where naive expression nesting
    would double per round — and every round is pure codegen bit
    arithmetic: no UDF, no shuffle, one projection pipeline.

    Keep ``2 * bits <= 63``. Output: df + ``out_col`` (long).
    """
    if len(cols) != 2:
        raise ValueError(
            f"hilbert_key needs exactly 2 columns, got {len(cols)}"
        )
    if 2 * bits > 63:
        raise ValueError(f"bits={bits} x 2 exceeds a long")
    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    if any(stats[f"mn_{c}"] is None for c in cols):
        return df.withColumn(out_col, F.lit(0).cast("long"))
    top = (1 << bits) - 1
    ranks = []
    for c in cols:
        mn, mx = float(stats[f"mn_{c}"]), float(stats[f"mx_{c}"])
        if mx > mn:
            r = F.floor(
                (F.col(c).cast("double") - F.lit(mn))
                / F.lit(mx - mn)
                * F.lit(float(top))
            ).cast("long")
            r = F.least(F.greatest(r, F.lit(0)), F.lit(top))
        else:
            r = F.lit(0).cast("long")
        ranks.append(r)
    cur = df.withColumns(
        {"_hx": ranks[0], "_hy": ranks[1], "_hd": F.lit(0).cast("long")}
    )
    for b in range(bits - 1, -1, -1):
        s = 1 << b
        x, y, d = F.col("_hx"), F.col("_hy"), F.col("_hd")
        rx = F.shiftright(x, b).bitwiseAND(F.lit(1))
        ry = F.shiftright(y, b).bitwiseAND(F.lit(1))
        nd = d + F.lit(s) * F.lit(s) * (
            (F.lit(3) * rx).bitwiseXOR(ry)
        ).cast("long")
        # canonical rotate/reflect (the classic xy2d `rot`): the
        # reflection is N-1-x over the FULL grid width N = 2^bits,
        # applied only when ry == 0, followed by the x/y swap
        flip = (rx == 1) & (ry == 0)
        n_full = F.lit((1 << bits) - 1)
        fx = F.when(flip, n_full - x).otherwise(x)
        fy = F.when(flip, n_full - y).otherwise(y)
        nx = F.when(ry == 0, fy).otherwise(fx)
        ny = F.when(ry == 0, fx).otherwise(fy)
        cur = cur.withColumns({"_hx": nx, "_hy": ny, "_hd": nd})
    return cur.withColumn(out_col, F.col("_hd")).drop(
        "_hx", "_hy", "_hd"
    )


def write_hilbert_clustered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_ranges: int,
    bits: int = 16,
) -> None:
    """Write ``df`` Hilbert-clustered on two columns: compute the
    curve key, range-repartition + sort on it, drop the key — the
    write_zorder_clustered shape with the stronger-locality curve
    (every file covers a CONNECTED region of the 2-D column space, so
    rectangular predicates touch fewer files)."""
    keyed = hilbert_key(df, cols, bits=bits)
    (
        keyed.repartitionByRange(n_ranges, F.col("hval"))
        .sortWithinPartitions("hval")
        .drop("hval")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_groups(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Execute an incremental compaction: plan the directory's files
    with :func:`compaction_plan`, then rewrite ONLY the multi-file
    groups (each group coalesced to one output file) while
    single-file, already-right-sized groups are COPIED byte-for-byte
    untouched — the OPTIMIZE-binpack executor, against
    :func:`compact_files`' whole-directory rewrite. Rewriting a
    fraction of a 100 TB directory instead of all of it is the whole
    point of planning first.

    Plain parquet layout (no table format, so no transactional swap):
    the rewrite goes to ``out_path`` and the caller swaps directories
    afterwards, same contract as compact_files. ``out_path`` must not
    already hold parquet files: the per-group append loop is NOT
    idempotent (a re-run would duplicate previously rewritten groups'
    rows while copied files are silently overwritten), so a non-empty
    target fails fast instead of producing a corrupt mix. Returns
    {files_in, bytes_in, files_out, groups_rewritten, files_copied}.
    """
    import os
    import shutil

    if in_path.rstrip("/") == out_path.rstrip("/"):
        raise ValueError(
            "compact_groups: out_path must differ from in_path;"
            " write to a sibling directory and swap afterwards"
        )
    if os.path.isdir(out_path) and any(
        not f.startswith((".", "_")) for f in os.listdir(out_path)
    ):
        raise ValueError(
            "compact_groups: out_path exists and is non-empty; the"
            " append-per-group rewrite is not idempotent — clear it"
            " (or pick a fresh sibling) before compacting"
        )
    names = [
        f
        for f in sorted(os.listdir(in_path))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    listing = local_frame(
        spark,
        [
            (f, os.path.getsize(os.path.join(in_path, f)))
            for f in names
        ],
        "path string, size_bytes long",
    )
    plan = compaction_plan(
        listing, "size_bytes", "path", target_bytes=target_bytes
    ).collect()
    os.makedirs(out_path, exist_ok=True)
    groups: dict[int, list[str]] = {}
    for r in plan:
        groups.setdefault(r["group_id"], []).append(r["path"])
    rewritten = copied = 0
    for gid in sorted(groups):
        members = groups[gid]
        if len(members) == 1:
            shutil.copy2(
                os.path.join(in_path, members[0]),
                os.path.join(out_path, members[0]),
            )
            copied += 1
            continue
        (
            spark.read.parquet(
                *[os.path.join(in_path, m) for m in members]
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(out_path)
        )
        rewritten += 1
    bytes_in = sum(
        os.path.getsize(os.path.join(in_path, f)) for f in names
    )
    files_out = len(
        [f for f in os.listdir(out_path) if f.endswith(".parquet")]
    )
    return {
        "files_in": len(names),
        "bytes_in": bytes_in,
        "files_out": files_out,
        "groups_rewritten": rewritten,
        "files_copied": copied,
    }
