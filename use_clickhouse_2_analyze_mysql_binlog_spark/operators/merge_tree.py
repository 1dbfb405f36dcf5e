"""Read-side semantics for the rest of the MergeTree engine family.

The reference keeps its binlog stream in MergeTree tables and leans on
SummingMergeTree materialized views (``/root/reference/README.md:143-257``
— implemented in :mod:`.rollups`).  The two other engines ClickHouse
deployments canonically use for exactly this MySQL-CDC workload are

- **ReplacingMergeTree** — the newest row version per sort key wins; the
  standard target when replicating canal/Debezium upsert streams into
  ClickHouse (``SELECT ... FINAL`` semantics), and
- **CollapsingMergeTree** — rows carry a ``sign`` (+1 state / -1 cancel)
  and pairs collapse away; keys whose signs net to zero disappear.

Both engines' *fully merged* (FINAL) reads are single aggregations in
Spark — no background-merge machinery needed, and unlike ClickHouse
``FINAL`` there is no unmerged-parts penalty. Each engine has ONE merge
aggregation over per-key states: a batch FINAL lifts every DML row to a
one-row state (one version, or one signed row) and merges those, and the
streaming upsert job's epoch merges the lifted micro-batch rows together
with the previous snapshot in the same single aggregation.

Scale notes (100 TB): one ``Exchange hashpartitioning`` on the sort key
with partial+final HashAggregate — every per-key reduction (``max_by``,
``sum``) is map-side combinable, so the shuffle moves one row per
(table, row_pk) per input task, not the event stream; lifting the rows
first costs no extra exchange.  The sort key includes the
high-cardinality ``row_pk``, so there is no skew axis; no repartition,
no window, no join.

The CDC fixture has no real row images, so the row identity is a
documented synthetic: ``row_pk = binlog_pos % pk_mod`` (mirrored verbatim
in the DuckDB oracles in queries_registry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Event types that represent row-image DML in the canal enum
#: (schemas.EVENT_TYPE_NAMES 1..3; mon_mysql_dml.py:175-190 lists the
#: full domain the reference ingests).
DML_EVENT_TYPES = ("INSERT", "UPDATE", "DELETE")

DEFAULT_PK_MOD = 997


def dml_rows(binlog: DataFrame, pk_mod: int = DEFAULT_PK_MOD) -> DataFrame:
    """Restrict a binlog fact stream to row-image DML and attach the
    synthetic row identity ``row_pk``."""
    return binlog.filter(F.col("event_type").isin(*DML_EVENT_TYPES)).withColumn(
        "row_pk", F.col("binlog_pos") % pk_mod
    )


KEY = ("schema", "table", "row_pk")


def _union(states: tuple[DataFrame, ...], *cols: str) -> DataFrame:
    """The key and ``cols`` of every state, stacked (snapshots carry
    read-time columns such as ``is_deleted`` that states don't merge)."""
    out = states[0].select(*KEY, *cols)
    for other in states[1:]:
        out = out.unionByName(other.select(*KEY, *cols))
    return out


def replacing_versions(dml: DataFrame) -> DataFrame:
    """Each DML row as a one-version ReplacingMergeTree state — the input
    :func:`merge_final_states` merges, whatever else it merges with."""
    return dml.select(
        *KEY,
        F.col("event_type").alias("last_event_type"),
        F.col("binlog_pos").alias("last_pos"),
        F.col("single_statement_size").alias("last_size"),
        F.lit(1).cast("long").alias("n_versions"),
    )


def merge_final_states(*states: DataFrame) -> DataFrame:
    """Merge ReplacingMergeTree states — FINAL snapshots, one-version rows
    (:func:`replacing_versions`) or both: the background-merge step
    ClickHouse performs between parts, and the per-epoch MERGE of the
    streaming upsert job (streaming/upsert_job.py).

    Associative and commutative by construction (argmax by a strictly
    increasing version + summed version counts), so any merge tree over
    any partitioning of the input stream yields the same snapshot as one
    batch :func:`replacing_merge_final` over the union — the property the
    streaming test asserts.
    """
    u = _union(states, "last_event_type", "last_pos", "last_size", "n_versions")
    return (
        u.groupBy(*KEY)
        .agg(
            F.max_by("last_event_type", "last_pos").alias("last_event_type"),
            F.max("last_pos").alias("last_pos"),
            F.max_by("last_size", "last_pos").alias("last_size"),
            F.sum("n_versions").cast("long").alias("n_versions"),
        )
        .withColumn(
            "is_deleted",
            (F.col("last_event_type") == "DELETE").cast("int"),
        )
    )


def replacing_merge_final(dml: DataFrame) -> DataFrame:
    """ReplacingMergeTree(ver) ``FINAL``: per sort key (schema, table,
    row_pk), the row with the greatest version — here ``binlog_pos``,
    strictly increasing and unique, so ``max_by`` is deterministic.

    A DELETE as the last version is surfaced (``is_deleted`` flag) rather
    than dropped, matching ReplacingMergeTree's ``is_deleted`` column
    convention where the reader decides.
    """
    return merge_final_states(replacing_versions(dml))


def collapsing_rows(dml: DataFrame) -> DataFrame:
    """Each DML row as a one-row collapsing state: DELETE rows carry sign
    -1, everything else +1 — the input :func:`merge_collapsing_states`
    merges."""
    sign = F.when(F.col("event_type") == "DELETE", F.lit(-1)).otherwise(F.lit(1))
    return dml.select(
        *KEY,
        sign.cast("long").alias("net_rows"),
        F.lit(1).cast("long").alias("n_events"),
        F.col("event_type").alias("last_event_type"),
        F.col("binlog_pos").alias("last_pos"),
    )


def merge_collapsing_states(*states: DataFrame) -> DataFrame:
    """Merge collapsing partial states (snapshots, :func:`collapsing_rows`
    or both) — associative and commutative (summed signs/counts + argmax
    by the strictly increasing position), the collapsing analogue of
    :func:`merge_final_states`."""
    u = _union(states, "net_rows", "n_events", "last_event_type", "last_pos")
    return u.groupBy(*KEY).agg(
        F.sum("net_rows").cast("long").alias("net_rows"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.max_by("last_event_type", "last_pos").alias("last_event_type"),
        F.max("last_pos").alias("last_pos"),
    )


def collapsing_partial_states(dml: DataFrame) -> DataFrame:
    """Per-key UNFILTERED collapsing state: the incrementally maintainable
    form. Keys netting to <= 0 must stay in the state (a later +1 row can
    revive them), so the ``FINAL`` filter belongs at read time only —
    exactly why ClickHouse collapses lazily at merge/read."""
    return merge_collapsing_states(collapsing_rows(dml))


def collapsing_merge_state(dml: DataFrame) -> DataFrame:
    """CollapsingMergeTree ``FINAL``: per sort key the signs are summed and
    keys netting to <= 0 collapse away entirely.  Survivors report their
    net row count and the latest surviving state.
    """
    return collapsing_partial_states(dml).filter(F.col("net_rows") > 0)
