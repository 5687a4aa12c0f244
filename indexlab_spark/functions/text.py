"""Row transforms & string functions (SURVEY §2.2, P1-P9).

Each function cites the reference behavior it reproduces. Everything here
is a pure Catalyst expression except highlight spans (P7), which needs
match offsets that SQL regexp functions don't expose — that one is a
Python UDF by necessity, used only on the final (tiny, already top-k)
result set, never on the corpus.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from indexlab_spark.session import local_frame

# zip_index pins its input across its two passes; bounded ring of pinned
# frames (callers materialize lazily, so we can't unpersist immediately).
_ZIP_CACHE: list[DataFrame] = []
_ZIP_CACHE_MAX = 4


def normalize_df(df: DataFrame) -> DataFrame:
    """P1 — strip + de-newline column names; drop rows where ALL columns
    are null (/root/reference/app/ingest/normalize.py:3-7)."""
    cleaned = [c.strip().replace("\n", " ") for c in df.columns]
    return df.toDF(*cleaned).na.drop("all")


def concat_row(cols: list[str]) -> Column:
    """P2 — join scalar, non-blank values with ' | '
    (/root/reference/app/ingest/chunker.py:5-6).

    pandas parity notes: missing scalar values stringify to 'nan' (str of
    float NaN), which is non-blank and therefore kept.
    """
    as_strings = [
        F.coalesce(F.col(c).cast("string"), F.lit("nan")) for c in cols
    ]
    arr = F.array(*as_strings)
    kept = F.filter(arr, lambda x: F.trim(x) != "")
    return F.array_join(kept, " | ")


def with_doc_text(
    df: DataFrame, text_column: str | None, doc_no_col: str = "doc_no"
) -> DataFrame:
    """P3 — per row: text_column if given & present, else concat_row;
    skip blank; doc_no preserved from the ORIGINAL (pre-filter) 0-based
    row order (/root/reference/app/ingest/chunker.py:8-12; row-index
    parity per SURVEY §7.3)."""
    data_cols = [c for c in df.columns if c != doc_no_col]
    if text_column and text_column in df.columns:
        text = F.coalesce(F.col(text_column).cast("string"), F.lit("nan"))
    else:
        text = concat_row(data_cols)
    return (
        df.withColumn("text", text)
        .filter(F.trim(F.col("text")) != "")
        .select(F.col(doc_no_col).cast("long").alias(doc_no_col), "text")
    )


def zip_index(df: DataFrame, out_col: str) -> DataFrame:
    """zipWithIndex over the CURRENT partition layout — 0-based global row
    numbers with NO single-partition Exchange.

    ``monotonically_increasing_id()`` is documented as
    ``(partition_id << 33) | row_in_partition`` with the low 33 bits
    counting consecutively from 0, so the within-partition position is a
    bitmask away. Per-partition row counts (a tiny map-side-combined agg)
    become cumulative offsets broadcast back onto each row. Total cost:
    one lightweight counting pass + a broadcast hash join — every
    partition numbers itself in parallel, vs the global
    ``row_number().over(Window.orderBy(...))`` that funnels the whole
    frame through one task (the round-1 scale defect on the ingest path).

    Numbering order == (partition order, row order within partition) ==
    exactly what ``Window.orderBy(monotonically_increasing_id())``
    produced, so results are bit-identical to the old global window.

    The input is persisted (MEMORY_AND_DISK) before the counting pass so
    the numbering pass sees the SAME partition layout and row order even
    when the upstream lineage is nondeterministic (samples, AQE-coalesced
    shuffles) — without this, the two jobs could disagree and row numbers
    would silently duplicate or skip. The last few pinned inputs are kept
    (bounded ring, evicting beyond ``_ZIP_CACHE_MAX``) because callers
    materialize the numbered frame lazily.
    """
    part = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = sorted(
        (r[0], r[1]) for r in part.groupBy("_pid").count().collect()
    )
    _ZIP_CACHE.append(part)
    while len(_ZIP_CACHE) > _ZIP_CACHE_MAX:
        _ZIP_CACHE.pop(0).unpersist(False)
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((int(pid), acc))
        acc += int(cnt)
    off = F.broadcast(
        local_frame(df.sparkSession, offsets or [(0, 0)], "_pid int, _off long")
    )
    within = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    return (
        part.join(off, "_pid", "left")
        .withColumn(out_col, (F.col("_off") + within).cast("long"))
        .drop("_pid", "_mid", "_off")
    )


def global_order_index(df: DataFrame, order_cols: list, out_col: str) -> DataFrame:
    """Global 0-based rank by ``order_cols`` (assumed unique) without a
    single-partition window: range-repartition on the keys — global order
    ACROSS partitions — sort within each (parallel), then zip_index. One
    range shuffle replaces the Exchange SinglePartition that
    ``row_number().over(Window.orderBy(keys))`` would force.
    """
    ranged = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    return zip_index(ranged, out_col)


def with_row_numbers(df: DataFrame, out_col: str = "doc_no") -> DataFrame:
    """Assign 0-based doc numbers in current row order (doc_no == pandas
    row index parity, SURVEY §7.3) — zipWithIndex-style, scale-safe."""
    return zip_index(df, out_col)


def parse_doc_id(col: Column | str) -> tuple[Column, Column]:
    """P5 — regex ``^#?(\\d+)#(\\d+)$`` -> (doc, chunk) ints, null when
    non-matching (/root/reference/app/api/answerless_search.py:39-45)."""
    c = F.col(col) if isinstance(col, str) else col
    pat = r"^#?(\d+)#(\d+)$"
    doc = F.when(c.rlike(pat), F.regexp_extract(c, pat, 1).cast("int"))
    chunk = F.when(c.rlike(pat), F.regexp_extract(c, pat, 2).cast("int"))
    return doc, chunk


def tokenize_query(col: Column | str) -> Column:
    """P6 — ``re.split(r'\\W+', q)`` dropping empties
    (/root/reference/app/api/answerless_search.py:141-142)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(c, r"\W+"), "")


def preview(col: Column | str, max_len: int = 220) -> Column:
    """P8 — first ``max_len`` chars + ellipsis when longer
    (/root/reference/app/api/answerless_search.py:161-162)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) > max_len,
        F.concat(F.substring(c, 1, max_len), F.lit("…")),
    ).otherwise(c)


def pretty_source_name(col: Column | str) -> Column:
    """P9 — strip leading ``<uuid>_`` from stored filename
    (/root/reference/app/ingest/pipeline.py:19-22)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        c,
        r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}_",
        "",
    )


# ---------------------------------------------------------------- highlight
_MAX_SPANS = 8  # answerless_search.py:150


def _highlight_spans(text: str | None, terms: list[str] | None):
    """P7 — per term, case-insensitive ``\\b<term>\\b`` match offsets,
    <= 8 spans per term (/root/reference/app/api/answerless_search.py:144-159)."""
    out: list[tuple[str, list[list[int]]]] = []
    if not text or not terms:
        return out
    for term in terms:
        if not term:
            continue
        try:
            pat = re.compile(rf"\b{re.escape(term)}\b", re.IGNORECASE)
        except re.error:  # defensive; escape makes this unreachable
            continue
        spans = [[m.start(), m.end()] for m in pat.finditer(text)][:_MAX_SPANS]
        if spans:
            out.append((term, spans))
    return out


highlight_udf = F.udf(
    _highlight_spans,
    T.ArrayType(
        T.StructType(
            [
                T.StructField("term", T.StringType()),
                T.StructField("spans", T.ArrayType(T.ArrayType(T.IntegerType()))),
            ]
        )
    ),
)
