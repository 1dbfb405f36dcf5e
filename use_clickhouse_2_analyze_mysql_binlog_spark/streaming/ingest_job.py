"""Streaming ingest: canal entries -> checkpointed fact-table append (E1).

The reference's consume->decode->buffer->insert loop
(``/root/reference/mon_mysql_dml.py:215-335``) becomes a Structured
Streaming pipeline. Its at-most-once gap (offsets auto-commit independently
of the flush, so a crash loses up to ``sync`` buffered events — SURVEY.md
§3-E1) disappears: offsets live in the checkpoint and commit atomically
with each sink epoch.

Source-agnostic by design: production wires the Kafka reader + protobuf
decode (sources/kafka.py, sources/canal.py); tests feed a file-source
stream of pre-decoded entries. Everything downstream is identical.

The sink appends day-partitioned parquet in the layout of
plans/storage.py; the 5000-row flush batching (W4) maps to
``maxOffsetsPerTrigger``/trigger cadence, not sink logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from use_clickhouse_2_analyze_mysql_binlog_spark.sources.transform import (
    canal_entries_to_binlog,
)
from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import epochs


def make_append_batch(
    sink_path: str,
    txn: bool = False,
    run_id: str = "local",
):
    """The per-epoch append body (module-level so replay behavior is
    unit-testable). foreachBatch (vs direct file sink) so the write can
    cluster and sort within partitions like the batch layout writer:
    ``repartition(1, "day")`` gives the epoch one writer task, so each day
    gets one file per epoch.

    Two replay-protection modes:

    - default (marker): append to the shared day-partitioned layout, then
      write a committed-epoch marker. A replayed committed epoch is a
      no-op, but a crash BETWEEN the append and the marker re-appends on
      replay — the documented at-least-once window.
    - ``txn=True``: each epoch overwrites its own
      ``fact/epoch=<run_id>-<id>`` directory (still day-partitioned
      inside) and commits via one atomic manifest update — exactly-once
      even for a crash between write and commit, because the staged data
      is invisible until committed and the replay overwrites it. Read the
      sink with :func:`read_fact`. This is the file-based realization of
      the Delta/Iceberg transactional-sink recommendation.
    """
    sink = epochs.TxnSink(sink_path, ("fact",), run_id)

    def append_batch(batch: DataFrame, epoch: int) -> None:
        if txn:
            if sink.epoch_committed(epoch):
                return
            (
                batch.repartition(1, "day")
                .sortWithinPartitions("execute_time", "gtid", "table", "schema")
                .write.mode("overwrite")
                .partitionBy("day")
                .parquet(sink.epoch_dir("fact", epoch))
            )
            sink.commit(epoch)
            return
        if epochs.epoch_committed(sink_path, epoch):
            return
        (
            batch.repartition(1, "day")
            .sortWithinPartitions("execute_time", "gtid", "table", "schema")
            .write.mode("append")
            .partitionBy("day")
            .parquet(sink_path)
        )
        epochs.mark_epoch_committed(sink_path, epoch)

    return append_batch


def make_constraint_gate(
    constraints: list[tuple[str, str]],
    quarantine_path: str | None,
    run_id: str,
    on_violation: str = "quarantine",
):
    """The streaming realization of ClickHouse ``CONSTRAINT ... CHECK``
    (``functions/ddl_compat.py`` maps the DDL; reference deployments
    gate inserts with these, reference ``README.md:99-320`` table shape).

    CH rejects the whole INSERT block when a constraint fails.
    ``on_violation="fail"`` mirrors that exactly: the epoch raises and
    the query stops — no partial progress, operator intervenes. The
    default ``"quarantine"`` is the operationally-sane stream variant:
    violating rows divert to a per-epoch overwrite directory (same
    idempotent-replay contract as the decode DLQ) with a
    ``_violations`` column naming the failed constraints, and only
    passing rows continue to the sink. A NULL check result counts as a
    violation (CH requires the expression be true).

    Returns ``gate(rows, epoch) -> passing_rows``.
    """
    if on_violation not in ("quarantine", "fail"):
        raise ValueError(
            f"on_violation must be 'quarantine' or 'fail', "
            f"got {on_violation!r}"
        )
    if on_violation == "quarantine" and quarantine_path is None:
        raise ValueError(
            "constraint quarantine needs a quarantine_path "
            "(or use on_violation='fail')"
        )
    if not constraints:
        raise ValueError("make_constraint_gate needs at least 1 constraint")
    checks = [
        (name, F.coalesce(F.expr(expr).cast("boolean"), F.lit(False)))
        for name, expr in constraints
    ]
    viol_any = ~checks[0][1]
    for _, ok in checks[1:]:
        viol_any = viol_any | ~ok

    def gate(rows: DataFrame, epoch: int) -> DataFrame:
        bad = rows.filter(viol_any)
        if on_violation == "fail":
            n = bad.count()
            if n:
                raise ValueError(
                    f"epoch {epoch}: {n} rows violate constraints "
                    f"{[name for name, _ in constraints]} — insert "
                    "rejected (ClickHouse CONSTRAINT semantics)"
                )
            return rows
        if not bad.isEmpty():
            # per-epoch overwrite: replay rewrites, never duplicates.
            # coalesce(1) is bounded by VIOLATING-row volume (normally
            # zero), never stream volume — not a data-sized rail.
            (
                bad.withColumn(
                    "_violations",
                    F.concat_ws(
                        ",",
                        *[
                            F.when(~ok, F.lit(name))
                            for name, ok in checks
                        ],
                    ),
                )
                .withColumn(
                    "_quarantined_at", F.current_timestamp()
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{quarantine_path}/epoch={run_id}-{epoch}")
            )
        return rows.filter(~viol_any)

    return gate


def replay_dead_letters(
    spark,
    dead_letter_path: str,
    sink_path: str,
    requeue_path: str | None = None,
) -> tuple[int, int]:
    """Re-decode dead-lettered packets (e.g. after a decoder fix) and
    append the recovered rows to the fact table; returns
    ``(rows_appended, packets_still_bad)``.

    The DLQ keeps the verbatim packet bytes exactly for this: a decoder
    bug is fixed, the operator replays, the data loss window closes.
    Still-undecodable packets are reported (and optionally written to
    ``requeue_path`` in the same DLQ schema) — the source DLQ directory
    is never mutated here; archive it after a satisfactory replay so a
    second replay cannot double-append.
    """
    from pyspark.sql import functions as F

    from use_clickhouse_2_analyze_mysql_binlog_spark.sources import canal

    raw = spark.read.parquet(dead_letter_path).select(
        F.col("_raw").alias("value")
    )
    decoded = canal.decode_packets(raw, on_error="route").cache()
    try:
        still_bad = decoded.filter(F.col("_decode_error").isNotNull())
        n_bad = still_bad.count()
        if requeue_path is not None and n_bad:
            still_bad.select(
                F.current_timestamp().alias("dead_lettered_at"),
                "_decode_error",
                "_raw",
            ).coalesce(1).write.mode("append").parquet(requeue_path)
        good = decoded.filter(F.col("_decode_error").isNull()).drop(
            "_decode_error", "_raw"
        )
        rows = canal_entries_to_binlog(good).withColumn(
            "day", F.to_date("execute_time")
        )
        n_ok = rows.count()
        if n_ok:
            (
                rows.repartition(1, "day")
                .sortWithinPartitions(
                    "execute_time", "gtid", "table", "schema"
                )
                .write.mode("append")
                .partitionBy("day")
                .parquet(sink_path)
            )
        return n_ok, n_bad
    finally:
        decoded.unpersist()


def read_fact(spark, sink_path: str) -> DataFrame:
    """Read a ``txn=True`` ingest sink: committed epochs only (uncommitted
    staging directories are invisible). Day partition discovery still
    applies within each epoch directory."""
    return epochs.TxnSink(sink_path, ("fact",)).read(spark, "fact")


def run_ingest_stream(
    entries_stream: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    available_now: bool = False,
    txn: bool = False,
    dead_letter_path: str | None = None,
    constraints: list[tuple[str, str]] | None = None,
    quarantine_path: str | None = None,
    on_violation: str = "quarantine",
) -> StreamingQuery:
    """Start the ingest stream: entries -> binlog rows -> partitioned append.

    ``available_now=True`` drains the current source content and stops
    (used by tests and backfills); otherwise the stream runs continuously.
    ``txn=True`` selects the exactly-once transactional sink mode (see
    :func:`make_append_batch`).

    ``dead_letter_path`` enables the poison-message route: pair with
    ``decode_packets(raw, on_error="route")`` so undecodable packets
    arrive as ``_decode_error``/``_raw`` rows (sources/canal.py). Each
    epoch's dead letters are written to their own
    ``epoch=<run_id>-<id>`` directory with overwrite — a replayed epoch
    overwrites the same directory, so the DLQ is idempotent under
    crash/replay like the main sink. Good rows then flow through the
    identical transform + append as the plain path. Without routed
    columns in the stream the flag is a no-op.

    ``constraints`` (``[(name, spark_boolean_expr)]`` — e.g. from
    ``ddl_compat.ddl_constraints`` over a migrated CREATE TABLE script)
    gates the transformed rows per epoch: violations quarantine to
    ``quarantine_path`` (idempotent per-epoch overwrite, a
    ``_violations`` column names the failed checks) or, with
    ``on_violation="fail"``, reject the epoch exactly like a CH
    CONSTRAINT rejects the INSERT block.
    """
    run_id = epochs.run_id_for(checkpoint_path)
    append_batch = make_append_batch(sink_path, txn=txn, run_id=run_id)
    gate = (
        make_constraint_gate(
            constraints, quarantine_path, run_id, on_violation
        )
        if constraints
        else (lambda rows, epoch: rows)
    )
    if "_decode_error" in entries_stream.columns and dead_letter_path is None:
        # Loud-or-routed contract (ADVICE r07 #1): a routed stream
        # (decode_packets on_error='route') whose all-NULL poison rows
        # reach canal_entries_to_binlog would be silently discarded by
        # the entryType filter — data loss AND a swallowed error record.
        # The CLI couples the flags; the library API must too.
        raise ValueError(
            "entries stream carries routed decode errors ('_decode_error' "
            "column) but dead_letter_path is None — pass dead_letter_path "
            "or decode with on_error='fail'"
        )
    # after the guard above, routed-columns-present implies a DLQ path
    routed = "_decode_error" in entries_stream.columns
    if not routed:
        binlog = canal_entries_to_binlog(entries_stream).withColumn(
            "day", F.to_date("execute_time")
        )

        def gated_batch(batch: DataFrame, epoch: int) -> None:
            append_batch(gate(batch, epoch), epoch)

        writer = (
            binlog.writeStream.queryName("ingest").outputMode("append")
            .option("checkpointLocation", checkpoint_path)
            .foreachBatch(gated_batch)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def routed_batch(batch: DataFrame, epoch: int) -> None:
        bad = batch.filter(F.col("_decode_error").isNotNull()).select(
            F.current_timestamp().alias("dead_lettered_at"),
            "_decode_error",
            "_raw",
        )
        if not bad.isEmpty():
            # per-epoch overwrite directory: replay rewrites, never dups.
            # coalesce(1) is bounded by MALFORMED-message volume (normally
            # zero rows), never by stream volume — not a data-sized rail.
            bad.coalesce(1).write.mode("overwrite").parquet(
                f"{dead_letter_path}/epoch={run_id}-{epoch}"
            )
        good = batch.filter(F.col("_decode_error").isNull()).drop(
            "_decode_error", "_raw"
        )
        rows = canal_entries_to_binlog(good).withColumn(
            "day", F.to_date("execute_time")
        )
        append_batch(gate(rows, epoch), epoch)

    writer = (
        entries_stream.writeStream.queryName("ingest").outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(routed_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
