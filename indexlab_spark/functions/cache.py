"""Bounded persist ring shared by operators whose RETURNED frames
consume persisted intermediates lazily (shingle/signature frames, BM25
term stats, sketch outputs). The operator cannot unpersist before
returning — the caller hasn't materialized yet — so without a bound a
long-lived session running many such operators (the bench/correctness
flow) accumulates one cached frame per call until executor storage
evicts under pressure. Ring eviction keeps the most recent
``RING_MAX`` pins live; evicted frames simply recompute if someone
still holds them (persist is a hint, not a correctness dependency).

Rings are keyed PER SparkSession, and multiple rings may be live at
once: a process legitimately holds several live sessions (newSession()
for temp-view isolation shares one healthy JVM), so "different session"
must NOT be treated as "stale" — dropping another live session's ring
without unpersist would leak its cached plans in the shared JVM
CacheManager, exactly the growth RING_MAX exists to bound. Instead the
NUMBER of rings is bounded too: past ``MAX_RINGS`` the oldest other
ring is evicted frame-by-frame with best-effort unpersist — a live
session's frames are actually released, a stopped session's Py4J call
raises and is swallowed (its JVM cache died with it). Eviction is
best-effort by the same reasoning everywhere: it must never fail the
operator that happens to be calling pin().

Same pattern as functions.text's _ZIP_CACHE, centralized so new
operators stop growing private copies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from indexlab_spark.session import env_int

_RINGS: dict[int, list] = {}
# r16: ring size is deployment-tunable. On a single shared JVM
# (local-mode bench/correctness flows) live pins compete with
# execution memory — spark.memory.storageFraction protects cached
# blocks from eviction, so too many live pins squeeze the very joins
# they serve; measured suite-level regressions on UNRELATED queries
# once the r16 LRU fix stopped the ring from (accidentally)
# self-thrashing. On a real cluster with per-executor storage the
# bound can be raised freely.
import os as _os

RING_MAX = env_int("SPARK_GRAFT_PIN_RING", 8, minimum=0)
MAX_RINGS = 4


def pin(df: DataFrame, deser: bool = False) -> DataFrame:
    """persist() with bounded-ring eviction of the oldest pins.

    Re-pinning a semantically identical plan REFRESHES the existing
    ring slot instead of appending a duplicate (r16): Spark's
    CacheManager dedupes persists by canonicalized plan, so two ring
    entries could share ONE cache entry — evicting the older entry
    then unpersisted the data the newer one was actively reusing
    (measured: a repeated registry query re-ran its whole pinned
    subtree because its own second call had evicted its first call's
    cache through exactly this aliasing).

    ``deser=True`` requests deserialized storage (MEMORY_AND_DISK_DESER)
    for frames whose consumers are JVM-side joins/aggregates: those pay
    a row-deserialization decode on EVERY re-scan of a serialized block
    (the r17 b4_bm25 triage measured the bm25 posting-frame pins 25-30%
    slower serialized). Frames re-read through Arrow-bound operators
    keep the serialized default — 3-5x less heap, and r16 measured 8
    live deserialized string-heavy caches GC-throttling unrelated
    queries in the shared local-mode JVM.
    """
    from pyspark import StorageLevel

    # env override for A/B experiments and deployments with storage
    # headroom; default keeps the per-call choice above
    forced = _os.environ.get("SPARK_GRAFT_PIN_STORAGE")
    if forced:
        level = getattr(StorageLevel, forced, StorageLevel.MEMORY_AND_DISK)
    else:
        level = (
            StorageLevel.MEMORY_AND_DISK_DESER
            if deser
            else StorageLevel.MEMORY_AND_DISK
        )
    key = id(df.sparkSession)
    ring = _RINGS.setdefault(key, [])
    # r17: scan the ring BEFORE persisting — a same-semantics hit means
    # the data is already cached (CacheManager matches by canonicalized
    # plan, so the caller's new frame reuses it without its own persist
    # call); persisting first cost a Py4J roundtrip and logged a
    # "Asked to cache already cached data" warning per warm re-pin.
    for i, cached in enumerate(ring):
        try:
            if cached is df or cached.sameSemantics(df):
                ring.append(ring.pop(i))  # LRU refresh, no duplicate
                return df
        except Exception:
            # r17 (ADVICE): skip only the broken entry (likely a stopped
            # session's frame) — aborting the whole scan silently
            # reintroduced the ring-aliasing eviction bug for every
            # entry after the broken one
            continue
    df = df.persist(level)
    ring.append(df)
    while len(ring) > RING_MAX:
        try:
            ring.pop(0).unpersist(False)
        except Exception:
            pass  # best-effort: eviction must never fail the caller
    while len(_RINGS) > MAX_RINGS:
        stale_key = next(k for k in _RINGS if k != key)
        for frame in _RINGS.pop(stale_key, []):
            try:
                frame.unpersist(False)
            except Exception:
                pass  # stopped session: its JVM cache died with it
    return df


def reset_pins(spark=None) -> int:
    """Unpersist every live pinned frame — all rings, or only the given
    session's — and empty the ring(s). Returns the number unpersisted.

    Bench-fidelity hook (r16 VERDICT item 2): min-of-N bench timing
    calls this BETWEEN repeats so a repeat cannot silently reuse the
    previous run's pinned data through CacheManager's same-semantics
    persist dedupe — the reported minimum is then the best of N
    equally-cold runs, not a warm-cache artifact. Blocking unpersist so
    the blocks are really gone before the next repeat starts."""
    n = 0
    keys = [id(spark)] if spark is not None else list(_RINGS)
    for k in keys:
        for frame in _RINGS.pop(k, []):
            try:
                frame.unpersist(True)
                n += 1
            except Exception:
                pass  # stopped session: its cache died with it
    return n
