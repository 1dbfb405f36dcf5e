"""Footer-derived parquet schemas (``schemas.parquet_schema``).

Opening a parquet table with ``spark.read.parquet`` runs a Spark job only to
read one footer. ``schemas.load_table`` and the streaming snapshot stores
read the schema on the driver instead. These tests pin that the footer
schema is exactly the one Spark infers, on the driver testdata, a pyarrow
TIMESTAMP(NANOS) file and INT96 timestamps, and that the reads launch no
job.
"""

from __future__ import annotations

import contextlib
import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from use_clickhouse_2_analyze_mysql_binlog_spark import schemas
from use_clickhouse_2_analyze_mysql_binlog_spark.sources.transform import (
    canal_entries_to_binlog,
)
from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import (
    epochs,
    rollup_job,
    upsert_job,
)

_groups = itertools.count()


@contextlib.contextmanager
def _job_group(spark):
    """Run the body in a fresh job group; yields a list that holds the ids
    of the jobs the body launched once the body is done."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    group = f"footer-schema-{next(_groups)}"
    sc.setJobGroup(group, group)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        jobs += sc.statusTracker().getJobIdsForGroup(group)
        sc.setLocalProperty("spark.jobGroup.id", prev)


def _inferred(spark, path):
    return spark.read.parquet(path).schema


@pytest.mark.parametrize("name", schemas.TESTDATA_TABLES)
def test_load_table_schema_equals_inferred(spark, name):
    df = schemas.load_table(spark, SF_DIR, name)
    path = f"{SF_DIR}/{name}.parquet"
    assert schemas.parquet_schema(spark, path) is not None
    want = _inferred(spark, path)
    if name in schemas._NANOS_TS_COLS and df.schema != want:
        pytest.skip("nanos testdata: load_table converts ts after the read")
    assert df.schema == want


def test_load_table_launches_no_job(spark):
    schemas.load_table(spark, SF_DIR, "events")  # session confs in place
    with _job_group(spark) as jobs:
        for name in schemas.TESTDATA_TABLES:
            schemas.load_table(spark, SF_DIR, name)
    assert jobs == []
    with _job_group(spark) as inferred:
        _inferred(spark, f"{SF_DIR}/events.parquet")
    assert inferred, "Spark's inference no longer runs a job: drop this check"


def test_pyarrow_nanos_column_reads_as_bigint(spark, tmp_path):
    """pyarrow shows TIMESTAMP(NANOS) as timestamp[ns], like INT96; the
    parquet physical type says INT64, so ``nanosAsLong`` makes it bigint."""
    table = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_000_000_123, 2_000_000_456], pa.timestamp("ns")),
            "naive_us": pa.array([1, 2], pa.timestamp("us")),
            "utc_ms": pa.array([1, 2], pa.timestamp("ms", tz="UTC")),
            "small": pa.array([1, 2], pa.uint8()),
            "raw": pa.array([b"x", b"y"]),
            "day": pa.array([1, 2], pa.date32()),
            "price": pa.array([1, 2], pa.decimal128(10, 2)),
            "tags": pa.array([["a"], []], pa.list_(pa.string())),
            "attrs": pa.array([[("k", 1)], []], pa.map_(pa.string(), pa.int32())),
        }
    )
    pq.write_table(table, str(tmp_path / "nanos_t.parquet"))
    df = schemas.load_table(spark, str(tmp_path), "nanos_t")
    assert dict(df.dtypes)["ts"] == "bigint"
    assert df.schema == _inferred(spark, str(tmp_path / "nanos_t.parquet"))
    assert df.orderBy("id").first()["ts"] == 1_000_000_123


def test_int96_timestamps_read_as_timestamp(spark, tmp_path):
    """INT96 is a timestamp whether Spark wrote it (row metadata) or
    pyarrow did (physical type only)."""
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        spark.sql(
            "SELECT id, timestamp_seconds(id * 60) AS ts, array(id) AS xs "
            "FROM range(8)"
        ).repartition(2).write.parquet(str(tmp_path / "spark_t.parquet"))
    finally:
        spark.conf.set(key, prev)
    pq.write_table(
        pa.table({"ts": pa.array([60_000_000_000], pa.timestamp("ns"))}),
        str(tmp_path / "arrow_t.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    for name in ("spark_t", "arrow_t"):
        path = str(tmp_path / f"{name}.parquet")
        df = schemas.load_table(spark, str(tmp_path), name)
        assert dict(df.dtypes)["ts"] == "timestamp", name
        assert df.schema == _inferred(spark, path), name
        assert df.orderBy("ts").first()["ts"] == spark.read.parquet(path).orderBy(
            "ts"
        ).first()["ts"]


def test_unmapped_footer_type_falls_back_to_inference(spark, tmp_path):
    path = str(tmp_path / "time_t.parquet")
    pq.write_table(pa.table({"t": pa.array([1], pa.time32("ms"))}), path)
    assert schemas.parquet_schema(spark, path) is None
    assert schemas.parquet_schema(spark, str(tmp_path / "missing")) is None


def _binlog(spark):
    return canal_entries_to_binlog(
        schemas.canal_entries_view(schemas.load_table(spark, SF_DIR, "events")),
        ctime=F.to_timestamp(F.lit("2024-02-01 00:00:00")),
    )


def _snapshot_read_jobs(spark, monkeypatch, body, batches):
    """Run ``body`` over the epochs and return the job ids each snapshot
    read launched, per epoch."""
    real = schemas.read_parquet
    per_epoch: dict[int, list[int]] = {}
    epoch = 0

    def counted(*args, **kwargs):
        with _job_group(spark) as jobs:
            out = real(*args, **kwargs)
        per_epoch.setdefault(epoch, []).extend(jobs)
        return out

    monkeypatch.setattr(schemas, "read_parquet", counted)
    for epoch, batch in enumerate(batches):
        body(batch, epoch)
    monkeypatch.undo()
    return per_epoch


def test_upsert_snapshot_read_launches_no_job(spark, tmp_path, monkeypatch):
    binlog = _binlog(spark)
    state = str(tmp_path / "state")
    body = upsert_job.make_upsert_batch(spark, state)
    batches = [binlog.filter(F.col("binlog_pos") % 3 == k) for k in range(3)]
    per_epoch = _snapshot_read_jobs(spark, monkeypatch, body, batches)
    assert sorted(per_epoch) == [1, 2]  # epoch 0 has no snapshot to read
    assert all(jobs == [] for jobs in per_epoch.values()), per_epoch
    with _job_group(spark) as jobs:
        upsert_job.read_state(spark, state, table="t_1")
    assert jobs == []
    assert epochs.read_manifest(state)["epoch"] == 2


def test_rollup_snapshot_read_launches_no_job(spark, tmp_path, monkeypatch):
    binlog = _binlog(spark)
    path = str(tmp_path / "rollup")
    body = rollup_job.make_merge_batch(spark, path, ("day", "event_type"))
    batches = [binlog.filter(F.col("binlog_pos") % 3 == k) for k in range(3)]
    per_epoch = _snapshot_read_jobs(spark, monkeypatch, body, batches)
    assert sorted(per_epoch) == [1, 2]
    assert all(jobs == [] for jobs in per_epoch.values()), per_epoch
    with _job_group(spark) as jobs:
        got = rollup_job.read_rollup(spark, path)
    assert jobs == []
    assert got.agg(F.sum("event_count")).first()[0] == binlog.count()
