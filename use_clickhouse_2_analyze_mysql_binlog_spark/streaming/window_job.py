"""Watermarked 5-minute window job: streaming transaction analytics (W1-W3).

Replaces the reference's driver clock loop (``compute_transaction_info.py:
153-179``: sleep until ``end < now()``, run three GROUP BY queries, guard
with a count() existence check) with event-time streaming:

- W1 tumbling window  -> ``window(execute_time, "5 minutes")``
- W2 completeness gate -> ``withWatermark`` (a window emits once the
  watermark passes its end — the reference's wall-clock wait, but driven
  by event time and safe under backfill/catch-up)
- W3 late data        -> events later than the allowed lateness are
  dropped *by policy* (the reference silently loses them; here the bound
  is explicit and configurable)
- S11 idempotence     -> exactly-once per window from the checkpoint; the
  count-guard disappears.

The aggregation emits in ``append`` mode (only finalized windows), and
foreachBatch ranks top-1 per window per metric (T2) before appending to
the three result tables. The ranking input is small (one row per
transaction of the windows that closed), but an epoch still pays a fixed
Spark cost, and the epoch that closes windows is usually a no-data batch
that the next file's data batch waits behind. So the publish runs the
stateful plan once: one action ranks all three metrics over one exchange
and collects the winners (at most three rows per window) through Arrow,
and the driver stages the three result directories with pyarrow instead
of three Spark writes.
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from use_clickhouse_2_analyze_mysql_binlog_spark.operators.transactions import (
    METRICS,
    TS_FMT,
    rank_column,
    result_columns,
    top_transactions_all,
)
from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import epochs


def windowed_stats_stream(
    binlog_stream: DataFrame,
    window_duration: str = "5 minutes",
    allowed_lateness: str = "5 minutes",
) -> DataFrame:
    """Watermarked per-(window, gtid) transaction stats (streaming A1-A4)."""
    return (
        binlog_stream.withWatermark("execute_time", allowed_lateness)
        .groupBy(
            F.window("execute_time", window_duration).alias("win"),
            F.col("gtid"),
        )
        .agg(
            (
                F.unix_millis(F.max("execute_time"))
                - F.unix_millis(F.min("execute_time"))
            ).alias("transaction_spend_ms"),
            (
                F.max("binlog_pos")
                - F.min("binlog_pos")
                + F.max_by("single_statement_size", "binlog_pos")
            ).alias("transaction_size"),
            F.sum("single_statement_affected_rows").alias(
                "transaction_affected_rows"
            ),
            F.count(F.lit(1)).alias("statement_count"),
        )
        .select(
            F.date_format("win.start", TS_FMT).alias("window_start"),
            F.date_format("win.end", TS_FMT).alias("end_time"),
            "gtid",
            F.floor(F.col("transaction_spend_ms") / 1000)
            .cast("long")
            .alias("transaction_spend_time"),
            "transaction_size",
            "transaction_affected_rows",
            "statement_count",
        )
    )


def make_publish_batch(
    results_path: str, interval_seconds: int = 300, run_id: str = "local"
):
    """The per-epoch publish body (module-level so replay behavior is
    unit-testable). Exactly-once across ALL THREE result tables: each
    epoch stages its ``<stem>/epoch=<run_id>-<id>`` directories
    (overwrite => a replayed crash rewrites them) and ONE atomic manifest
    update commits the epoch — there is no state where one metric's table
    has the epoch's windows and another's doesn't. The run id namespaces a
    fresh checkpoint's restarted epoch counter away from an old run's
    directories."""

    sink = epochs.TxnSink(results_path, tuple(METRICS.values()), run_id)

    def publish_batch(batch: DataFrame, epoch: int) -> None:
        if sink.epoch_committed(epoch):
            return
        ranks = [rank_column(m) for m in METRICS]
        rows = result_columns(
            top_transactions_all(batch), interval_seconds, keep=ranks
        ).toArrow()
        if rows.num_rows == 0:
            return
        for metric, stem in METRICS.items():
            top = rows.filter(pc.equal(rows[rank_column(metric)], 1))
            sink.stage(stem, epoch, top.drop_columns(ranks))
        sink.commit(epoch)

    return publish_batch


def run_window_job(
    binlog_stream: DataFrame,
    results_path: str,
    checkpoint_path: str,
    window_duration: str = "5 minutes",
    allowed_lateness: str = "5 minutes",
    interval_seconds: int = 300,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the streaming window job; one result dir per metric
    (``{results_path}/{result_table_stem}`` — README.md:268-345 tables)."""
    stats = windowed_stats_stream(binlog_stream, window_duration, allowed_lateness)
    publish_batch = make_publish_batch(
        results_path,
        interval_seconds,
        run_id=epochs.run_id_for(checkpoint_path),
    )
    writer = (
        stats.writeStream.queryName("window_top1").outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(publish_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_results(spark, results_path: str, stem: str) -> DataFrame:
    """Read one result table: committed epochs only (staged-but-uncommitted
    epoch directories are invisible, an implementation detail of the
    exactly-once publish)."""
    return epochs.TxnSink(results_path, tuple(METRICS.values())).read(spark, stem)
