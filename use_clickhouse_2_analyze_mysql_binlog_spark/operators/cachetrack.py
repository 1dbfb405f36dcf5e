"""Session-scoped registry of family-shared persisted DataFrames.

Operators ``track()`` each shared persisted DataFrame (shingle posting,
per-doc hash sets, band buckets, flagged corpus, centroid assignments)
under a small site tag, so a caller can drop them: ``release(tag)`` for
one family, ``release_all()`` for every family. The benchmarks release
everything before each timed query, so every query builds the caches it
needs inside its own timed region.

Releasing is always safe for correctness: ``unpersist`` only drops cached
data, a later consumer recomputes from the parquet inputs. Nothing here
persists across sessions or runs — the registry is plain module state
keyed by nothing, cleared as it is released.

``register_release_hook`` lets a module attach memo-dict cleanup to a tag
so a released cache cannot be served stale from a memo.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

_TRACKED: dict[str, list[DataFrame]] = {}
_RELEASE_HOOKS: dict[str, list[Callable[[], None]]] = {}


def track(df: DataFrame, tag: str) -> DataFrame:
    """Register a freshly persisted family-shared DataFrame under ``tag``
    and return it (call sites wrap their ``persist()``)."""
    _TRACKED.setdefault(tag, []).append(df)
    return df


def register_release_hook(tag: str, hook: Callable[[], None]) -> None:
    _RELEASE_HOOKS.setdefault(tag, []).append(hook)


def release(tag: str) -> int:
    """Unpersist every DataFrame tracked under ``tag`` (and run the
    tag's memo-cleanup hooks); returns the number unpersisted. Unknown
    tags are a no-op. Never raises — a release failure must not break a
    bench or a pipeline."""
    n = 0
    for hook in _RELEASE_HOOKS.get(tag, ()):
        try:
            hook()
        except Exception:
            pass
    for df in _TRACKED.pop(tag, []):
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def release_all() -> int:
    return sum(release(tag) for tag in list(_TRACKED))


#: Past this backing-input size, family caches store DISK_ONLY
#: (guide §5, VERDICT r14 next #5): at the third decade (sf100, ~720 MB
#: corpus parquet -> multi-GB deserialized posting/flagged caches) the
#: on-heap build OOMed the 8 g default heap; DISK_ONLY streams the build
#: through the block manager instead of accumulating columnar batches on
#: the heap. The gate sits above every driver SF and the sf10 scale dir
#: (~72 MB corpus), so their storage level — and their numbers — are
#: unchanged.
CACHE_DISK_ONLY_BYTES = 256 << 20


def cache_level_for(df: DataFrame):
    """MEMORY_AND_DISK below the size gate (the historical level at every
    driver SF), DISK_ONLY past it. Fail-soft: a non-file-backed input
    (or any metadata error) keeps the historical level."""
    import os

    from pyspark import StorageLevel

    size = 0
    try:
        for uri in df.inputFiles():
            p = uri[len("file:"):] if uri.startswith("file:") else uri
            size += os.stat(p).st_size
    except Exception:
        size = 0
    if size > CACHE_DISK_ONLY_BYTES:
        return StorageLevel.DISK_ONLY
    return StorageLevel.MEMORY_AND_DISK


#: Cached-batch row count for at-scale family caches. Spark's columnar
#: cache serializer builds each batch ON-HEAP before writing it — even
#: at DISK_ONLY — sized by spark.sql.inMemoryColumnarStorage.batchSize
#: (default 10000 rows). For wide complex rows (the per-doc hash-set
#: arrays: ~hundreds of longs per row; the flagged corpus: full document
#: text) that is tens of MB of ColumnBuilder buffer PER CONCURRENT TASK,
#: which is exactly where the r15 sf100 probe OOMed the 8 g default heap
#: (stack: DefaultCachedBatchSerializer -> ComplexColumnBuilder.build).
#: 1000-row batches bound the transient build memory ~10x at a small
#: compression-ratio cost; applied only past the DISK_ONLY gate, so
#: driver-SF cache layouts are untouched.
SCALED_CACHE_BATCH_ROWS = 1000


def persist_tracked(df: DataFrame, size_src: DataFrame, tag: str) -> DataFrame:
    """Persist a family-shared cache with the scale-adaptive policy and
    register it under ``tag``: MEMORY_AND_DISK below the size gate
    (bit-identical to the historical behavior), DISK_ONLY with
    bounded-size cached batches past it."""
    from pyspark import StorageLevel

    level = cache_level_for(size_src)
    if level != StorageLevel.DISK_ONLY:
        return track(df.persist(level), tag)
    spark = df.sparkSession
    key = "spark.sql.inMemoryColumnarStorage.batchSize"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    # InMemoryRelation captures the batch size at persist() time, so a
    # set/restore window scopes it to this one cache
    spark.conf.set(key, str(SCALED_CACHE_BATCH_ROWS))
    try:
        out = df.persist(level)
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)
    return track(out, tag)
