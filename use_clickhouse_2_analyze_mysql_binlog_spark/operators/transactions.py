"""Windowed transaction analytics — the reference's core query layer.

Re-expresses ``compute_transaction_info.py:53-116`` (three per-5-minute-window
``GROUP BY gtid`` queries differing only in their ORDER BY metric) as one
Spark aggregation + rank-1 selection:

- A1 hash agg on gtid                (``compute_transaction_info.py:63``)
- A2 ``max(execute_time)-min(execute_time)`` spend time  (``:58``)
- A3 ``(max(pos)-min(pos)) + argMax(size, pos)`` transaction size (``:59``;
  rationale worked example ``mon_mysql_dml.py:264-310``)
- A4 ``sum(single_statement_affected_rows)``             (``:60``)
- T2 top-1 per window per metric     (``:64-65, 89-90, 114-115``)
- W1 5-minute tumbling windows       (``:154, 177-178``)
- P8 constant projections ``end_time`` / ``invertal`` [sic] result columns
  (``:55-56``; DDL ``README.md:268-281``)

Scale notes (100 TB): the groupBy shuffles on (window, gtid) — high
cardinality, well distributed (gtids are uuid:seq), so partial aggregation
does almost all the work map-side per day-partition. The top-1 selection uses
``row_number`` over a window partitioned by the *time window* — per-window
group counts are bounded by gtid cardinality per 5 minutes, and Catalyst
plans sort+limit variants as TakeOrderedAndProject. The time-range filter is
on the partition column's source (``execute_time``) so day-partition pruning
applies (SURVEY.md §1.4, §4).

The reference's three query shapes contain a call-site bug (results for
most-time-consuming / most-affected-rows swapped at
``compute_transaction_info.py:169-172``); per SURVEY.md §7 we implement the
*intended* routing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TS_FMT = "yyyy-MM-dd HH:mm:ss"

#: result metric -> result-table name stem (README.md:268-345)
METRICS = {
    "transaction_size": "largest_transaction",
    "transaction_spend_time": "most_time_consuming_transaction",
    "transaction_affected_rows": "most_affected_rows_transaction",
}


def transaction_stats(
    binlog: DataFrame,
    window_duration: str = "5 minutes",
    time_col: str = "execute_time",
) -> DataFrame:
    """Per-(tumbling window, gtid) transaction statistics.

    One output row per MySQL transaction per window, carrying the three
    metrics the reference ranks by. Window bounds are emitted as formatted
    strings (stable across engines/timezones for the oracle compare).
    """
    win = F.window(F.col(time_col), window_duration)
    return (
        binlog.groupBy(win.alias("win"), F.col("gtid"))
        .agg(
            (
                F.unix_millis(F.max(time_col)) - F.unix_millis(F.min(time_col))
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


def _rank_window(metric: str):
    """Per time window, ``metric`` DESC (NULLs last) then gtid ASC."""
    return Window.partitionBy("window_start").orderBy(
        F.col(metric).desc(), F.col("gtid").asc()
    )


def top_transactions(stats: DataFrame, metric: str) -> DataFrame:
    """Top-1 transaction per window by ``metric`` (T2).

    ``row_number`` (not rank) with a gtid tie-break keeps the result
    deterministic — the reference's ``ORDER BY metric DESC LIMIT 1`` is
    nondeterministic under ties (SURVEY.md §5.4).
    """
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(METRICS)}")
    return (
        stats.withColumn("rn", F.row_number().over(_rank_window(metric)))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def rank_column(metric: str) -> str:
    """Name of ``metric``'s rank column in :func:`top_transactions_all`."""
    return f"rn_{metric}"


def top_transactions_all(stats: DataFrame) -> DataFrame:
    """Top-1 transaction per window for every metric at once.

    The same ranking as :func:`top_transactions` per metric, but the three
    ``row_number`` windows share their partitioning, so the plan has ONE
    ``Exchange hashpartitioning(window_start)`` and three sorts (not three
    exchanges). Keeps the rows that win at least one metric — at most
    three per window — with a :func:`rank_column` per metric; a metric's
    winners are the rows whose rank is 1.
    """
    ranked = stats
    for metric in METRICS:
        ranked = ranked.withColumn(
            rank_column(metric), F.row_number().over(_rank_window(metric))
        )
    return ranked.filter(F.least(*[rank_column(m) for m in METRICS]) == 1)


def result_columns(
    top: DataFrame, interval_seconds: int = 300, keep: Sequence[str] = ()
) -> DataFrame:
    """Shape top-1 rows like the reference result tables, followed by the
    ``keep`` columns.

    Columns per ``README.md:268-281``: ``end_time`` (window high watermark,
    P8 constant projection ``compute_transaction_info.py:55``), ``invertal``
    [sic — reference's column name, ``README.md:271``] = window length in
    seconds as a string, gtid + the three metrics.
    """
    return top.select(
        "end_time",
        F.lit(str(interval_seconds)).alias("invertal"),
        "gtid",
        "transaction_spend_time",
        "transaction_size",
        F.col("transaction_affected_rows").alias("single_statement_affected_rows"),
        *keep,
    )


def transaction_result_table(
    stats: DataFrame, metric: str, interval_seconds: int = 300
) -> DataFrame:
    """The reference result table of one metric: its top-1 rows per window
    in :func:`result_columns` shape."""
    return result_columns(top_transactions(stats, metric), interval_seconds)
