"""Fact-table physical layout (SURVEY.md §1.4).

Reproduces the reference's MergeTree layout semantics on parquet:

- ``PARTITION BY toDate(execute_time)``  (README.md:115) -> ``partitionBy("day")``
  => partition pruning for every time-range predicate.
- ``ORDER BY (execute_time, gtid, table, schema)`` sparse index
  (README.md:116-118) -> ``sortWithinPartitions`` => parquet row-group
  min/max stats give the data-skipping effect.
- ``TTL execute_time + toIntervalMonth(30)`` (README.md:117) -> a retention
  sweep dropping whole day-partitions (cheap metadata-only deletes — never
  row-level at 100 TB).
- ``Distributed(..., rand())`` sharding (README.md:137) -> ``repartition(n)``
  before write to balance file sizes.

At 100 TB: one day ~ hundreds of GB -> files_per_day sized so single files
land near 512 MB-1 GB; day partitions keep both pruning and retention O(1)
per day.
"""

from __future__ import annotations

import datetime as dt
import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SORT_KEY = ("execute_time", "gtid", "table", "schema")


def bloom_filter_options(
    bloom_filters: dict[str, float | None],
    ndv: dict[str, int] | None = None,
) -> dict[str, str]:
    """Parquet writer options for per-column bloom filters.

    The Spark-side equivalent of ClickHouse's ``INDEX ... TYPE
    bloom_filter(fpp)`` skip index: parquet stores a bloom filter per
    row group and the reader's predicate pushdown skips row groups whose
    bloom rejects an equality literal — exactly the point-lookup
    data-skipping the CH index provides for high-cardinality columns
    (like ``gtid``) where min/max stats don't discriminate.

    ``bloom_filters`` maps column -> false-positive rate (``None`` =
    parquet's default 0.01). ``ndv`` optionally sizes the filter by
    expected distinct values per row group; without it parquet caps the
    filter at ``parquet.bloom.filter.max.bytes`` (1 MiB). Note
    parquet-mr drops the bloom for chunks that stay fully
    dictionary-encoded — the dictionary is already an exact filter
    there, so tiny test writes won't show the bloom bytes.
    """
    opts: dict[str, str] = {}
    for col, fpp in bloom_filters.items():
        opts[f"parquet.bloom.filter.enabled#{col}"] = "true"
        if fpp is not None:
            opts[f"parquet.bloom.filter.fpp#{col}"] = repr(float(fpp))
        if ndv and col in ndv:
            opts[f"parquet.bloom.filter.expected.ndv#{col}"] = str(ndv[col])
    return opts


def write_fact_table(
    binlog: DataFrame,
    path: str,
    files_per_day: int = 4,
    mode: str = "append",
    shuffle_partitions: int | None = None,
    bloom_filters: dict[str, float | None] | None = None,
    bloom_ndv: dict[str, int] | None = None,
) -> None:
    """Write binlog events day-partitioned + clustered by the sort key.

    Shuffles on ``(day, salt)`` where salt = pmod(xxhash64(sort key),
    files_per_day): every day splits into up to ``files_per_day`` writer
    groups, so each day partition gets ~``files_per_day`` similar-sized
    files and the write parallelism scales with days x files_per_day.
    (A bare ``repartition(files_per_day, "day")`` would instead hash each
    day wholly into one of ``files_per_day`` TOTAL partitions — exactly one
    file per day and a parallelism ceiling of ``files_per_day`` tasks,
    regardless of data volume.)

    ``shuffle_partitions=None`` leaves the partition count to
    ``spark.sql.shuffle.partitions`` + AQE, which coalesces toward the
    advisory partition size — good default file sizing at scale, but on
    tiny inputs it merges a day's salt groups back into one writer. Pass an
    explicit count (e.g. expected_days x files_per_day) when the layout
    must be deterministic (AQE never overrides a user-specified count).
    """
    salt = F.pmod(F.xxhash64(*SORT_KEY), F.lit(files_per_day))
    df = binlog.withColumn("day", F.to_date("execute_time"))
    # rand()-sharding analogue with bounded per-day file counts
    if shuffle_partitions is not None:
        df = df.repartition(shuffle_partitions, F.col("day"), salt)
    else:
        df = df.repartition(F.col("day"), salt)
    writer = df.sortWithinPartitions(*SORT_KEY).write.mode(mode)
    if bloom_filters:
        writer = writer.options(
            **bloom_filter_options(bloom_filters, bloom_ndv)
        )
    writer.partitionBy("day").parquet(path)


def read_fact_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def retention_cutoff(today: dt.date, months: int = 30) -> dt.date:
    """``TTL execute_time + toIntervalMonth(months)`` cutoff date."""
    total = today.year * 12 + (today.month - 1) - months
    year, month = divmod(total, 12)
    day = min(
        today.day,
        [31, 29 if year % 4 == 0 and (year % 100 != 0 or year % 400 == 0) else 28,
         31, 30, 31, 30, 31, 31, 30, 31, 30, 31][month],
    )
    return dt.date(year, month + 1, day)


def retention_sweep(
    path: str,
    today: dt.date | None = None,
    months: int = 30,
    days: int = 0,
) -> list[str]:
    """Drop expired ``day=`` partition directories; returns dropped names.

    Metadata-only partition drops — the Spark-side analogue of ClickHouse's
    TTL partition deletes; never rewrites surviving data.

    Filesystem note: this and :func:`compact_day_partitions` walk a local/
    mounted path (``pathlib``); on HDFS/S3 swap the directory operations
    for the Hadoop FileSystem API (``spark._jvm.org.apache.hadoop.fs``) or
    a table format's (Delta/Iceberg) retention commands — the partition
    semantics are identical.
    """
    cutoff = retention_cutoff(today or dt.date.today(), months)
    if days:
        cutoff = cutoff - dt.timedelta(days=days)
    dropped: list[str] = []
    for part in sorted(Path(path).glob("day=*")):
        day = dt.date.fromisoformat(part.name.split("=", 1)[1])
        if day < cutoff:
            shutil.rmtree(part)
            dropped.append(part.name)
    return dropped


def _swap_rewrite(
    part: Path, staging_root: Path, kept: DataFrame
) -> None:
    """Rewrite one partition directory atomically: write to a
    dot-prefixed staging dir (invisible to Spark readers), remove the
    old dir, rename the staged one in. File count is preserved so the
    layout's size targets survive mutations."""
    n_files = max(1, len(list(part.glob("*.parquet"))))
    staged = staging_root / part.name
    kept.coalesce(n_files).write.mode("overwrite").parquet(str(staged))
    shutil.rmtree(part)
    staged.rename(part)


def drop_partition(path: str, day: str | dt.date) -> bool:
    """``ALTER TABLE ... DROP PARTITION 'day'``: a metadata-only
    directory delete, exactly CH's cheap partition drop. Returns whether
    the partition existed."""
    part = Path(path) / f"day={day}"
    if not part.is_dir():
        return False
    shutil.rmtree(part)
    return True


def detach_partition(path: str, day: str | dt.date) -> bool:
    """``ALTER TABLE ... DETACH PARTITION 'day'``: move the partition
    aside, NOT delete it — CH keeps detached parts on disk for a later
    ATTACH, and so does this (``.detached/`` is dot-prefixed, invisible
    to Spark readers). Returns whether the partition existed."""
    part = Path(path) / f"day={day}"
    if not part.is_dir():
        return False
    dest = Path(path) / ".detached" / f"day={day}"
    dest.parent.mkdir(exist_ok=True)
    if dest.exists():
        # CH accumulates detached parts and never overwrites them —
        # silently replacing the older copy would destroy data an
        # ATTACH could still recover
        raise ValueError(
            f"a detached copy of day={day} already exists; ATTACH or "
            "remove it before detaching again"
        )
    part.rename(dest)
    return True


def attach_partition(path: str, day: str | dt.date) -> bool:
    """``ALTER TABLE ... ATTACH PARTITION 'day'``: move a previously
    detached partition back into the table. Refuses to clobber a live
    partition of the same day. Returns whether a detached copy existed."""
    src = Path(path) / ".detached" / f"day={day}"
    if not src.is_dir():
        return False
    dest = Path(path) / f"day={day}"
    if dest.exists():
        raise ValueError(
            f"partition day={day} already exists in the table; drop or "
            "detach it before attaching the detached copy"
        )
    src.rename(dest)
    return True


def mutate_rows(
    spark: SparkSession,
    path: str,
    where: str,
    set_exprs: tuple[tuple[str, str], ...] = (),
    partition_col: str = "day",
    files_per_day: int = 1,
) -> dict:
    """ClickHouse mutations: ``ALTER TABLE ... DELETE WHERE cond``
    (empty ``set_exprs``) and ``ALTER TABLE ... UPDATE c = e WHERE
    cond`` — as bounded partition rewrites.

    Scale shape: pass 1 finds the day partitions actually CONTAINING
    matching rows (one pruned, pushed-down skipping scan — a predicate
    on ``day`` never touches other partitions' files); pass 2 rewrites
    all of them in ONE job via dynamic partition overwrite (only the
    affected partitions are replaced; a per-partition driver loop was
    measured 6x slower at 30 partitions from per-job fixed cost).
    Partitions whose rows are ALL deleted end empty in the output and
    are dropped explicitly — dynamic overwrite alone would leave their
    old files. CH mutations rewrite whole parts the same way — the
    cost model carries over. NULL predicate = row untouched (CH
    mutates only on true). Updating the partition column is refused
    (it would MOVE rows across partitions — run an explicit
    repartition job for that).

    Crash semantics: Spark's commit protocol stages files and renames
    at job commit; a crash mid-commit can leave a subset of affected
    partitions rewritten (each partition individually consistent) —
    rerunning the same mutation is idempotent for DELETE and for
    idempotent UPDATE expressions.

    Returns ``{"partitions": [...], "rows_matched": n, "rows_after": n}``.
    """
    if any(c == partition_col for c, _ in set_exprs):
        raise ValueError(
            f"UPDATE of the partition column {partition_col!r} would "
            "move rows across partitions; rewrite the table instead"
        )
    # cast("boolean") everywhere a true-match is selected: filter() and
    # when() already treat NULL as false; the cast is simplified away
    # for boolean predicates so Catalyst still decomposes the raw
    # conjunction into PartitionFilters (plan-pinned in
    # tests/test_plan_properties.py — a coalesce(...) wrapper would
    # evaluate post-scan and defeat pruning), while CH-idiomatic
    # integer-truthiness predicates (WHERE flag) still execute. The
    # coalesce form is needed ONLY on the negated keep side, where
    # ~NULL = NULL would silently drop unmatched rows.
    cond = F.expr(where).cast("boolean")
    table = spark.read.parquet(path)
    affected = sorted(
        str(r[0])
        for r in table.filter(cond)
        .select(partition_col)
        .distinct()
        .collect()
    )
    out = {
        "partitions": [f"{partition_col}={d}" for d in affected],
        "rows_matched": 0,
        "rows_after": 0,
    }
    if not affected:
        return out
    scoped = table.filter(F.col(partition_col).isin(affected))
    out["rows_matched"] = scoped.filter(cond).count()
    if not set_exprs:
        kept = scoped.filter(~F.coalesce(cond, F.lit(False)))
    else:
        sets = dict(set_exprs)
        kept = scoped.select(*[
            (
                F.when(cond, F.expr(sets[c])).otherwise(F.col(c)).alias(c)
                if c in sets
                else F.col(c)
            )
            for c in scoped.columns
        ])
    out["rows_after"] = kept.count()
    # days whose every row is deleted write NOTHING under dynamic
    # overwrite (their old files would silently survive) — find them
    # BEFORE the write so they can be dropped explicitly after
    kept_days = (
        {
            str(r[0])
            for r in kept.select(partition_col).distinct().collect()
        }
        if not set_exprs
        else set(affected)
    )
    salt = (F.rand() * files_per_day).cast("int")
    prev = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            kept.repartition(
                max(1, files_per_day * len(affected)),
                F.col(partition_col), salt,
            )
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(path)
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev
        )
    # fully-emptied partitions wrote nothing — drop their old files
    for d in affected:
        if d not in kept_days:
            shutil.rmtree(
                Path(path) / f"{partition_col}={d}", ignore_errors=True
            )
    return out


def optimize_deduplicate(
    spark: SparkSession,
    path: str,
    by: tuple[str, ...] = (),
    partition: str | None = None,
) -> dict:
    """``OPTIMIZE TABLE ... DEDUPLICATE [BY cols]``: exact-duplicate
    removal, one partition at a time — fully-identical rows (or one
    arbitrary row per ``by`` key, CH's BY contract) collapse to one.

    Scale shape: pass 1 finds the partitions that actually CONTAIN
    duplicates with ONE aggregation over the (pruned) scan — the
    common nothing-duplicated case costs one scan and zero rewrite
    jobs; pass 2 rewrites only those partitions. Dedup is
    per-partition like CH's per-part dedup; cross-partition duplicates
    survive by design (two rows in different days are different
    events). Pass ``partition`` to bound the scan to one day.

    Returns ``{"partitions": [...], "rows_removed": n}``.
    """
    root = Path(path)
    if partition is not None and not (root / f"day={partition}").is_dir():
        return {"partitions": [], "rows_removed": 0}
    table = spark.read.parquet(path)
    if partition is not None:
        table = table.filter(F.col("day") == partition)
    cols = list(by) if by else [c for c in table.columns if c != "day"]
    # shuffle (day, 64-bit hash) instead of every column — a collision
    # at worst flags a clean day, and the rewrite loop skips days where
    # dedup removes nothing, so correctness is unaffected
    keys = [F.col("day"), F.xxhash64(*[F.col(c) for c in cols])]
    dup_days = sorted(
        str(r[0])
        for r in table.groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .select("day")
        .distinct()
        .collect()
    )
    staging_root = root / ".optimize_staging"
    out = {"partitions": [], "rows_removed": 0}
    for day in dup_days:
        part = root / f"day={day}"
        df = spark.read.parquet(str(part))
        before = df.count()
        kept = df.dropDuplicates(list(by)) if by else df.dropDuplicates()
        after = kept.count()
        if after == before:
            continue  # hash-collision false positive: nothing to do
        _swap_rewrite(part, staging_root, kept)
        out["partitions"].append(part.name)
        out["rows_removed"] += before - after
    if staging_root.exists():
        shutil.rmtree(staging_root, ignore_errors=True)
    return out


def truncate_table(path: str) -> int:
    """``TRUNCATE TABLE``: drop every day partition (metadata-only
    directory deletes, the empty table keeps its root). Returns the
    number of partitions dropped."""
    n = 0
    for part in sorted(Path(path).glob("day=*")):
        shutil.rmtree(part)
        n += 1
    return n


def ttl_row_sweep(
    spark: SparkSession,
    path: str,
    today: dt.date | None = None,
    months: int = 0,
    days: int = 0,
    where: str | None = None,
    group_by: tuple[str, ...] = (),
    set_exprs: tuple[tuple[str, str], ...] = (),
) -> dict:
    """Row-level TTL actions: ClickHouse ``TTL base + INTERVAL n
    (DELETE WHERE cond | GROUP BY keys SET col = agg(col), ...)``.

    Whole-partition expiry stays :func:`retention_sweep` (metadata-only
    drops). This sweep covers the two ROW-LEVEL actions, and touches
    ONLY the day partitions older than the cutoff — at 100 TB the
    rewrite cost is bounded by the expired window, never the table:

    - ``where``: expired rows matching the predicate are deleted.
      Delegates to :func:`mutate_rows` with the age bound ANDed in —
      one pruned skipping scan finds the partitions actually
      containing victims (a strict subset of the expired window when
      most expired days have no matches), then ONE dynamic-overwrite
      job rewrites exactly those.
    - ``group_by``/``set_exprs``: expired rows collapse to one row per
      (day, keys) group — ``set_exprs`` columns take their aggregate,
      every other non-key column ``any_value`` (CH's documented
      pick-any for non-SET columns). Pass 1 finds the days where some
      group still has >1 row (a re-run over an already-collapsed
      window is one aggregation, zero rewrites); pass 2 is one groupBy
      over those days + one dynamic-overwrite write. CH requires the
      keys be a sort-key prefix so its expired groups are contiguous —
      here the shuffle is bounded by the expired window's rows.

    Same crash semantics as :func:`mutate_rows` (Spark's commit
    protocol; rerunning is idempotent — both actions are).

    Returns ``{"rewritten": [...], "rows_before": n, "rows_after": n}``.
    """
    if (where is None) == (not group_by):
        raise ValueError(
            "ttl_row_sweep does exactly one row-level action: pass "
            "where= (DELETE WHERE) or group_by=/set_exprs= (GROUP BY "
            "SET); whole-partition deletes are retention_sweep's job"
        )
    if group_by and not set_exprs:
        raise ValueError("TTL GROUP BY needs at least one SET column")
    cutoff = retention_cutoff(today or dt.date.today(), months)
    if days:
        cutoff = cutoff - dt.timedelta(days=days)
    if where is not None:
        m = mutate_rows(
            spark, path, f"({where}) AND day < DATE'{cutoff}'"
        )
        return {
            "rewritten": m["partitions"],
            "rows_before": m["rows_after"] + m["rows_matched"],
            "rows_after": m["rows_after"],
        }
    expired = sorted(
        part.name.split("=", 1)[1]
        for part in Path(path).glob("day=*")
        if dt.date.fromisoformat(part.name.split("=", 1)[1]) < cutoff
    )
    out = {"rewritten": [], "rows_before": 0, "rows_after": 0}
    if not expired:
        return out
    # pass 1: only days where some (day, keys) group still has >1 row
    # need collapsing — a re-run over an already-collapsed window is
    # one aggregation and ZERO rewrites. This skip is only sound when
    # every SET aggregate is an IDENTITY on a single row (sum/min/max/
    # any of the target column itself — e.g. ``n = sum(n)``); a
    # non-identity SET (``c = count()``, computed expressions) must
    # touch singleton groups too, exactly as CH does, so the skip is
    # disabled and every expired day rewrites.
    identity_sets = all(
        re.fullmatch(
            rf"(?is)(sum|min|max|any|any_value|anylast|first|last)"
            rf"\s*\(\s*`?{re.escape(c)}`?\s*\)",
            e.strip(),
        )
        for c, e in set_exprs
    )
    table = spark.read.parquet(path)
    if identity_sets:
        need = sorted(
            str(r[0])
            for r in table.filter(F.col("day").isin(expired))
            .groupBy(F.col("day"), *[F.col(k) for k in group_by])
            .count()
            .filter(F.col("count") > 1)
            .select("day")
            .distinct()
            .collect()
        )
    else:
        need = expired
    if not need:
        return out
    scoped = table.filter(F.col("day").isin(need))
    out["rows_before"] = scoped.count()
    cols = [c for c in scoped.columns if c != "day"]
    aggs = [F.expr(e).alias(c) for c, e in set_exprs]
    set_cols = {c for c, _ in set_exprs}
    aggs += [
        F.any_value(F.col(c)).alias(c)
        for c in cols
        if c not in group_by and c not in set_cols
    ]
    kept = (
        scoped.groupBy(F.col("day"), *[F.col(k) for k in group_by])
        .agg(*aggs)
        .select("day", *cols)
    )
    out["rows_after"] = kept.count()
    prev = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            kept.repartition(max(1, len(need)), F.col("day"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(path)
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev
        )
    out["rewritten"] = [f"day={d}" for d in need]
    return out


def compact_day_partitions(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 512 * 1024 * 1024,
    min_files: int = 2,
    partition: str | None = None,
) -> list[str]:
    """Rewrite fragmented ``day=`` partitions into ~``target_file_bytes``
    files (ClickHouse's background merges, done as an explicit maintenance
    job). Streaming ingest appends a file per epoch per day — thousands of
    small files per day partition within hours; compaction restores scan
    efficiency (fewer tasks, bigger row groups, better min/max skipping).

    Each day rewrites independently (atomically via temp-dir swap), so the
    sweep parallelizes across days and a failure mid-sweep leaves every
    partition either compacted or untouched — never half-written.
    """
    compacted: list[str] = []
    parts = (
        [Path(path) / f"day={partition}"]
        if partition is not None
        else sorted(Path(path).glob("day=*"))
    )
    for part in parts:
        if not part.is_dir():
            continue
        files = [f for f in part.glob("*.parquet") if f.stat().st_size > 0]
        if len(files) < min_files:
            continue
        total = sum(f.stat().st_size for f in files)
        n_out = max(1, -(-total // target_file_bytes))
        df = spark.read.parquet(str(part))
        # leading dot hides the temp dir from Spark's partition discovery
        # (and from this sweep's own day=* glob) if a crash leaves it behind
        tmp = part.with_name("." + part.name + ".compacting")
        (
            df.repartition(int(n_out))
            .sortWithinPartitions(*[c for c in SORT_KEY if c in df.columns])
            .write.mode("overwrite")
            .parquet(str(tmp))
        )
        shutil.rmtree(part)
        tmp.rename(part)
        compacted.append(part.name)
    return compacted

