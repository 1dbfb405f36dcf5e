"""Streaming materialized-view rollup (W5, SURVEY.md §3-E3).

ClickHouse fires the MV per inserted block, appending *partial* aggregates
to a SummingMergeTree that merges lazily; correct reads must re-sum. Here
the streaming aggregation itself maintains the merged state, and each epoch
publishes a *fully merged* rollup — a strictly stronger contract with the
same answers.

Implementation: each micro-batch's rows, lifted to a count of 1 each,
are MERGEd with the rollup store in one re-summing aggregation (via
foreachBatch). Its partial aggregate counts the batch map-side, so an
epoch shuffles once, not once to count and again to merge. The rollup key
space (day x event_type [x table]) is tiny, so the state and the store
stay small at any fact volume — this is what makes the pattern safe at
100 TB/day ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from use_clickhouse_2_analyze_mysql_binlog_spark import schemas
from use_clickhouse_2_analyze_mysql_binlog_spark.operators.rollups import (
    DAY_FMT,
    agg_state_merge,
    finalize_agg_states,
    summing_merge,
)
from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import epochs


def make_merge_batch(
    spark: SparkSession,
    rollup_path: str,
    keys: tuple[str, ...],
    run_id: str = "local",
):
    """The per-epoch MERGE body (module-level so replay behavior is unit-
    testable): merge this epoch's rows, as counts of 1, into the previous
    manifest snapshot, write a new versioned snapshot, flip the manifest.

    The replay guard compares epoch ids only WITHIN the same ``run_id``
    (derived from the checkpoint location): restarting with a fresh
    checkpoint restarts the epoch counter at 0, and without the namespace
    every micro-batch would be silently discarded until the new counter
    passed the old high-water mark. Snapshot directories carry the run id
    for the same reason (a new run's epoch=0 must not overwrite a retained
    old-run snapshot generation)."""

    def partials(batch: DataFrame) -> DataFrame:
        return batch.select(
            F.date_format("execute_time", DAY_FMT).alias("day"),
            *[c for c in keys if c != "day"],
            F.lit(1).cast("long").alias("event_count"),
        )

    return make_mv_merge_batch(
        spark, rollup_path, partials, keys, ("event_count",), run_id=run_id
    )


def make_mv_merge_batch(
    spark: SparkSession,
    rollup_path: str,
    partials_fn,
    keys: tuple[str, ...],
    metrics: tuple[str, ...],
    run_id: str = "local",
    state_fns: dict[str, str] | None = None,
):
    """Generalized MergeTree-MV merge body: ``partials_fn(batch)``
    produces this epoch's partial rows (in ClickHouse terms, the MV select
    over the inserted block, or the block's rows as one-row partials), and
    ONE merge aggregation combines them over ``keys`` with the published
    snapshot — on the first epoch too, so every snapshot is fully merged.

    Default (``state_fns=None``) is the SummingMergeTree contract:
    ``metrics`` re-sum (``summing_merge`` keeps them integral like CH's
    UInt64 metric columns). With ``state_fns`` (round 8, VERDICT r07 #4)
    it is the AggregatingMergeTree contract: each state column merges per
    its ``AggregateFunction`` type (sum/count/max/min/avg/uniq —
    ``operators.rollups.agg_state_merge``), and the snapshot stores the
    STATES, exactly like CH's Aggregating store; readers finalize
    (:func:`read_agg_rollup`). Same epoch/replay guard either way."""

    def merge_batch(batch: DataFrame, epoch: int) -> None:
        latest = epochs.read_manifest(rollup_path)
        if (
            latest is not None
            and latest.get("run_id") == run_id
            and epoch <= latest["epoch"]
        ):
            return  # replay of an already-published epoch of THIS run
        partial = partials_fn(batch)
        if latest is not None:
            existing = schemas.read_parquet(spark, latest["dir"])
            partial = existing.unionByName(partial)
        if state_fns:
            merged = agg_state_merge(partial, keys=keys, state_fns=state_fns)
        else:
            merged = summing_merge(partial, keys=keys, metrics=metrics)
        snapshot_dir = f"{rollup_path}/snapshots/{run_id}-{epoch}"
        # coalesce(1) is deliberate and SAFE here, unlike the upsert job's
        # row-state snapshot (which is partitioned, upsert_job.py): this
        # state is the rollup itself, bounded by the key space
        # |days| x |event_type| (x |table|) — a few thousand rows forever,
        # regardless of fact volume — and one file keeps the per-epoch
        # read path a single-footer open.
        merged.coalesce(1).write.mode("overwrite").parquet(snapshot_dir)
        epochs.publish_snapshot(rollup_path, epoch, snapshot_dir, run_id=run_id)

    return merge_batch


def run_daily_rollup_stream(
    binlog_stream: DataFrame,
    rollup_path: str,
    checkpoint_path: str,
    keys: tuple[str, ...] = ("day", "event_type"),
    available_now: bool = False,
) -> StreamingQuery:
    """Maintain the daily rollup incrementally from a binlog event stream.

    Each micro-batch contributes its rows as counts of 1; the foreachBatch
    MERGE re-sums them with the published rollup in one aggregation (its
    partial aggregate combines the batch map-side) — the SummingMergeTree
    merge, done eagerly.

    Replay-safe and atomic: each epoch merges the partials into the
    *previous manifest snapshot* and writes a NEW versioned snapshot dir,
    then flips the manifest (atomic rename). A replayed epoch is either
    skipped (manifest already advanced past it — it was fully published) or
    recomputed from the untouched previous snapshot (crash mid-write), so
    partial counts are never double-summed and readers never observe a
    missing or half-written rollup.
    """
    merge_batch = make_merge_batch(
        binlog_stream.sparkSession,
        rollup_path,
        keys,
        run_id=epochs.run_id_for(checkpoint_path),
    )
    writer = (
        binlog_stream.writeStream.queryName("rollup_mv").outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(merge_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_mv_rollup_stream(
    binlog_stream: DataFrame,
    select_sql: str,
    rollup_path: str,
    checkpoint_path: str,
    keys: tuple[str, ...],
    metrics: tuple[str, ...],
    source_view: str = "__mv_source__",
    available_now: bool = False,
    state_fns: dict[str, str] | None = None,
) -> StreamingQuery:
    """A migrated ClickHouse MATERIALIZED VIEW, running as a stream.

    ClickHouse fires the MV select per inserted block and appends the
    *partial* aggregates to a SummingMergeTree that merges lazily
    (reference README.md:168-184). Here each micro-batch registers as
    ``source_view`` and the (translated) MV select runs over it — the
    per-block partials — then the merge publishes the fully-merged
    rollup per epoch: the strictly-stronger contract with the same
    answers. ``select_sql`` must reference ``source_view`` (migrate-ddl
    maps the MV's source table name) and produce the target store's
    ``keys`` + ``metrics`` columns; metrics must be count/sum
    aggregates, the Summing contract — unless ``state_fns`` is given
    (an AggregatingMergeTree TO-target), in which case the select's
    ``-State`` combinators translate to plain-column state producers
    (ch_compat) and each column merges per its function; the snapshot
    then stores STATES, read via :func:`read_agg_rollup`.

    Same crash/replay guarantees as :func:`run_daily_rollup_stream`
    (epoch guard + versioned snapshot + atomic manifest flip).
    """
    spark = binlog_stream.sparkSession

    def partials(batch: DataFrame) -> DataFrame:
        # the temp view registers on the MICRO-BATCH's session (a clone
        # of the main one) — the select must run there too, or the view
        # is invisible
        batch.createOrReplaceTempView(source_view)
        return batch.sparkSession.sql(select_sql)

    merge_batch = make_mv_merge_batch(
        spark,
        rollup_path,
        partials,
        keys,
        metrics,
        run_id=epochs.run_id_for(checkpoint_path),
        state_fns=state_fns,
    )
    writer = (
        binlog_stream.writeStream.queryName("mv_rollup")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(merge_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Read the latest published rollup snapshot — already fully merged (no
    read-side re-aggregation needed, unlike the reference's
    SummingMergeTree). The manifest indirection means a concurrent publish
    never affects a reader: it keeps the snapshot dir it resolved. The
    schema comes from the snapshot file's footer, so opening the rollup
    launches no Spark job."""
    latest = epochs.read_manifest(rollup_path)
    if latest is None:
        raise FileNotFoundError(f"no published rollup under {rollup_path}")
    return schemas.read_parquet(spark, latest["dir"])


def read_agg_rollup(
    spark: SparkSession, rollup_path: str, state_fns: dict[str, str]
) -> DataFrame:
    """Read an AggregatingMergeTree-migrated store and FINALIZE its state
    columns (avg struct → quotient, uniq HLL sketch → estimate; the
    value-typed states pass through) — ClickHouse's ``-Merge``-combinator
    read, done row-locally because the snapshot is already fully merged."""
    return finalize_agg_states(read_rollup(spark, rollup_path), state_fns)
