"""Physical layout tests: day partitioning, pruning, clustering, TTL sweep
(SURVEY.md §1.4)."""

import datetime as dt

from pyspark.sql import functions as F

from use_clickhouse_2_analyze_mysql_binlog_spark.plans import storage
from use_clickhouse_2_analyze_mysql_binlog_spark.schemas import binlog_view, load_table
from tests.conftest import SF_DIR


def test_write_layout_and_pruning(spark, tmp_path):
    path = str(tmp_path / "fact")
    binlog = binlog_view(load_table(spark, SF_DIR, "events"))
    storage.write_fact_table(
        binlog, path, files_per_day=2, mode="overwrite", shuffle_partitions=16
    )

    parts = sorted(p.name for p in (tmp_path / "fact").glob("day=*"))
    assert len(parts) >= 25 and parts[0].startswith("day=2024-01-")

    # files_per_day=2 must actually split days into (up to) 2 files — the
    # salt keeps write parallelism at days x files_per_day tasks, not a
    # single file per day (ADVICE r01: the old repartition put each day
    # wholly in one of files_per_day TOTAL partitions). Explicit partition
    # count so AQE cannot coalesce the tiny test shuffle into one writer.
    files = {
        p.name: len(list(p.glob("*.parquet")))
        for p in (tmp_path / "fact").glob("day=*")
    }
    assert max(files.values()) == 2
    assert sum(1 for v in files.values() if v == 2) > len(files) // 2

    back = storage.read_fact_table(spark, path)
    assert back.count() == binlog.count()

    # partition pruning: a day predicate must reach the scan as a
    # partition filter, not a post-scan filter
    plan = back.filter("day = DATE'2024-01-05'")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-01-05" in plan


def test_retention_cutoff_and_sweep(spark, tmp_path):
    assert storage.retention_cutoff(dt.date(2024, 3, 31), months=1) == dt.date(
        2024, 2, 29
    )
    assert storage.retention_cutoff(dt.date(2026, 8, 13), months=30) == dt.date(
        2024, 2, 13
    )

    path = str(tmp_path / "fact")
    binlog = binlog_view(load_table(spark, SF_DIR, "events"))
    storage.write_fact_table(binlog, path, files_per_day=1, mode="overwrite")
    before = len(list((tmp_path / "fact").glob("day=*")))
    # cutoff lands mid-January 2024 -> early-January partitions drop
    dropped = storage.retention_sweep(path, today=dt.date(2026, 7, 10), months=30)
    after = len(list((tmp_path / "fact").glob("day=*")))
    assert dropped and after == before - len(dropped)
    assert all(d < "day=2024-01-10" for d in dropped)
    surviving = storage.read_fact_table(spark, path)
    assert surviving.filter("day < DATE'2024-01-10'").count() == 0


def test_ttl_row_sweep_delete_where(spark, tmp_path):
    """Row-level TTL DELETE WHERE: expired partitions are rewritten
    without matching rows; unexpired partitions are untouched files."""
    path = str(tmp_path / "fact")
    binlog = binlog_view(load_table(spark, SF_DIR, "events"))
    storage.write_fact_table(binlog, path, files_per_day=1, mode="overwrite")
    all_days = sorted(
        p.name for p in (tmp_path / "fact").glob("day=*")
    )
    cutoff = storage.retention_cutoff(dt.date(2026, 7, 10), 30)
    expired = [d for d in all_days if d < f"day={cutoff}"]
    assert expired and len(expired) < len(all_days)
    before = storage.read_fact_table(spark, path)
    n_total = before.count()
    n_victims = before.filter(
        f"day < DATE'{cutoff}' AND event_type = 'ERROR'"
    ).count()
    assert n_victims > 0
    fresh_files = {
        str(f)
        for d in all_days
        if d not in expired
        for f in (tmp_path / "fact" / d).glob("*.parquet")
    }

    out = storage.ttl_row_sweep(
        spark, path, today=dt.date(2026, 7, 10), months=30,
        where="event_type = 'ERROR'",
    )
    assert out["rows_before"] - out["rows_after"] == n_victims
    got = storage.read_fact_table(spark, path)
    assert got.count() == n_total - n_victims
    assert got.filter(
        f"day < DATE'{cutoff}' AND event_type = 'ERROR'"
    ).count() == 0
    # unexpired rows (incl. their ERRORs) fully intact, files untouched
    assert got.filter(f"day >= DATE'{cutoff}'").count() == before.filter(
        f"day >= DATE'{cutoff}'"
    ).count()
    assert {
        str(f)
        for d in all_days
        if d not in expired
        for f in (tmp_path / "fact" / d).glob("*.parquet")
    } == fresh_files
    assert not (tmp_path / "fact" / ".ttl_staging").exists()


def test_ttl_row_sweep_group_by_set(spark, tmp_path):
    """Rollup-on-expiry: expired partitions collapse to one row per key
    with the SET aggregates; equals a direct groupBy of the same rows."""
    path = str(tmp_path / "fact")
    binlog = binlog_view(load_table(spark, SF_DIR, "events"))
    storage.write_fact_table(binlog, path, files_per_day=1, mode="overwrite")
    cutoff = storage.retention_cutoff(dt.date(2026, 7, 10), 30)
    before = storage.read_fact_table(spark, path)
    want = {
        (str(r.day), r.event_type): (r.n, r.sz)
        for r in before.filter(f"day < DATE'{cutoff}'")
        .groupBy("day", "event_type")
        .agg(
            F.sum("single_statement_size").alias("n"),
            F.max("single_statement_size").alias("sz"),
        )
        .collect()
    }
    n_fresh = before.filter(f"day >= DATE'{cutoff}'").count()

    first = storage.ttl_row_sweep(
        spark, path, today=dt.date(2026, 7, 10), months=30,
        group_by=("event_type",),
        set_exprs=(("single_statement_size", "sum(single_statement_size)"),),
    )
    assert first["rewritten"]
    # idempotent: a second run finds every group already collapsed and
    # rewrites NOTHING (one aggregation, zero write jobs)
    second = storage.ttl_row_sweep(
        spark, path, today=dt.date(2026, 7, 10), months=30,
        group_by=("event_type",),
        set_exprs=(("single_statement_size", "sum(single_statement_size)"),),
    )
    assert second["rewritten"] == [] and second["rows_before"] == 0
    got = storage.read_fact_table(spark, path)
    expired_rows = got.filter(f"day < DATE'{cutoff}'")
    # one row per (day, event_type): day is the partition, event_type
    # the group key within it
    assert expired_rows.count() == len(want)
    for r in expired_rows.collect():
        assert r.single_statement_size == want[(str(r.day), r.event_type)][0]
    assert got.filter(f"day >= DATE'{cutoff}'").count() == n_fresh

    import pytest

    with pytest.raises(ValueError, match="exactly one row-level action"):
        storage.ttl_row_sweep(spark, path, months=30)
    with pytest.raises(ValueError, match="SET column"):
        storage.ttl_row_sweep(
            spark, path, months=30, group_by=("event_type",)
        )


def test_mutate_rows_delete_and_update(spark, tmp_path):
    """ALTER mutations as bounded partition rewrites: only partitions
    containing matching rows are touched; DELETE drops matches, UPDATE
    rewrites them in place; the partition column is protected."""
    import pytest

    path = str(tmp_path / "fact")
    binlog = binlog_view(load_table(spark, SF_DIR, "events"))
    storage.write_fact_table(binlog, path, files_per_day=1, mode="overwrite")
    before = storage.read_fact_table(spark, path)
    n_total = before.count()

    # DELETE WHERE bounded to two days: other partitions' files untouched
    where = (
        "event_type = 'ERROR' AND "
        "day BETWEEN DATE'2024-01-03' AND DATE'2024-01-04'"
    )
    n_victims = before.filter(where).count()
    assert n_victims > 0
    untouched_files = {
        str(f)
        for p in (tmp_path / "fact").glob("day=*")
        if p.name not in ("day=2024-01-03", "day=2024-01-04")
        for f in p.glob("*.parquet")
    }
    out = storage.mutate_rows(spark, path, where)
    assert sorted(out["partitions"]) == [
        "day=2024-01-03", "day=2024-01-04",
    ]
    assert out["rows_matched"] == n_victims
    got = storage.read_fact_table(spark, path)
    assert got.count() == n_total - n_victims
    assert got.filter(where).count() == 0
    assert {
        str(f)
        for p in (tmp_path / "fact").glob("day=*")
        if p.name not in ("day=2024-01-03", "day=2024-01-04")
        for f in p.glob("*.parquet")
    } == untouched_files

    # UPDATE: matched rows change, row count stays
    n_clicks = got.filter("event_type = 'CLICK'").count()
    out2 = storage.mutate_rows(
        spark, path, "event_type = 'CLICK'",
        set_exprs=(("event_type", "'TAP'"),),
    )
    assert out2["rows_matched"] == n_clicks
    got2 = storage.read_fact_table(spark, path)
    assert got2.count() == n_total - n_victims
    assert got2.filter("event_type = 'CLICK'").count() == 0
    assert got2.filter("event_type = 'TAP'").count() == n_clicks

    with pytest.raises(ValueError, match="partition column"):
        storage.mutate_rows(
            spark, path, "1=1", set_exprs=(("day", "DATE'2020-01-01'"),)
        )

    # a partition whose EVERY row matches must vanish from disk
    # (dynamic overwrite alone would leave its old files)
    n_day2 = got2.filter("day = DATE'2024-01-02'").count()
    out3 = storage.mutate_rows(spark, path, "day = DATE'2024-01-02'")
    assert out3["rows_matched"] == n_day2 and out3["rows_after"] == 0
    assert not (tmp_path / "fact" / "day=2024-01-02").exists()
    n_total -= n_day2

    # DROP PARTITION: metadata-only
    n_dropped_day = got2.filter("day = DATE'2024-01-07'").count()
    assert storage.drop_partition(path, "2024-01-07") is True
    assert storage.drop_partition(path, "2024-01-07") is False
    assert (
        storage.read_fact_table(spark, path).count()
        == n_total - n_victims - n_dropped_day
    )

    # DETACH moves aside (recoverable), ATTACH brings it back intact
    n_day8 = got2.filter("day = DATE'2024-01-08'").count()
    assert storage.detach_partition(path, "2024-01-08") is True
    assert not (tmp_path / "fact" / "day=2024-01-08").exists()
    assert (tmp_path / "fact" / ".detached" / "day=2024-01-08").is_dir()
    assert (
        storage.read_fact_table(spark, path)
        .filter("day = DATE'2024-01-08'").count() == 0
    )
    assert storage.attach_partition(path, "2024-01-08") is True
    assert (
        storage.read_fact_table(spark, path)
        .filter("day = DATE'2024-01-08'").count() == n_day8
    )
    assert storage.attach_partition(path, "2024-01-08") is False
    # re-detach with an older detached copy present refuses (CH never
    # overwrites detached parts)
    assert storage.detach_partition(path, "2024-01-08") is True
    (tmp_path / "fact" / "day=2024-01-08").mkdir()  # new live data
    with pytest.raises(ValueError, match="detached copy"):
        storage.detach_partition(path, "2024-01-08")
    # attach refuses to clobber the live partition
    with pytest.raises(ValueError, match="already exists"):
        storage.attach_partition(path, "2024-01-08")


def test_ttl_group_by_non_identity_set_touches_singletons(spark, tmp_path):
    """A non-identity SET (count(*)) must be applied to SINGLETON
    groups too — CH applies TTL GROUP BY to every expired row, so the
    rewrite-skip optimization only holds for identity aggregates."""
    path = str(tmp_path / "fact")
    df = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", "g1", "A", "db", 5),
            ("2024-01-01 11:00:00", "g2", "B", "db", 2),
            ("2024-01-01 12:00:00", "g3", "B", "db", 3),
        ],
        "execute_time_s string, gtid string, table string, "
        "schema string, single_statement_size long",
    ).selectExpr(
        "timestamp(execute_time_s) AS execute_time", "gtid", "table",
        "schema", "single_statement_size",
    )
    storage.write_fact_table(df, path, files_per_day=1, mode="overwrite")
    out = storage.ttl_row_sweep(
        spark, path, today=dt.date(2026, 7, 10), months=1,
        group_by=("table",),
        set_exprs=(("single_statement_size", "count(*)"),),
    )
    assert out["rewritten"] == ["day=2024-01-01"]
    got = {
        r.table: r.single_statement_size
        for r in storage.read_fact_table(spark, path).collect()
    }
    # the singleton group A got SET to its count (1), B collapsed to 2
    assert got == {"A": 1, "B": 2}


def test_optimize_deduplicate_and_truncate(spark, tmp_path):
    """OPTIMIZE DEDUPLICATE removes exact duplicates per partition and
    rewrites ONLY partitions that changed; TRUNCATE drops everything."""
    path = str(tmp_path / "fact")
    binlog = binlog_view(load_table(spark, SF_DIR, "events"))
    storage.write_fact_table(binlog, path, files_per_day=1, mode="overwrite")
    n_total = storage.read_fact_table(spark, path).count()

    # plant exact duplicates in one day by appending its own rows
    day = "2024-01-05"
    part = spark.read.parquet(f"{path}/day={day}")
    n_day = part.count()
    assert n_day > 0
    part.write.mode("append").parquet(f"{path}/day={day}")
    clean_files = {
        str(f)
        for p in (tmp_path / "fact").glob("day=*")
        if p.name != f"day={day}"
        for f in p.glob("*.parquet")
    }

    out = storage.optimize_deduplicate(spark, path)
    assert out["partitions"] == [f"day={day}"]
    assert out["rows_removed"] == n_day
    assert storage.read_fact_table(spark, path).count() == n_total
    # untouched partitions kept their exact files
    assert {
        str(f)
        for p in (tmp_path / "fact").glob("day=*")
        if p.name != f"day={day}"
        for f in p.glob("*.parquet")
    } == clean_files

    # BY variant bounded to one partition: one row per event_type
    n_types = (
        spark.read.parquet(f"{path}/day={day}")
        .select("event_type").distinct().count()
    )
    out2 = storage.optimize_deduplicate(
        spark, path, by=("event_type",), partition=day
    )
    assert out2["partitions"] == [f"day={day}"]
    assert (
        spark.read.parquet(f"{path}/day={day}").count() == n_types
    )

    n_parts = len(list((tmp_path / "fact").glob("day=*")))
    assert storage.truncate_table(path) == n_parts
    assert list((tmp_path / "fact").glob("day=*")) == []


def test_compact_day_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from use_clickhouse_2_analyze_mysql_binlog_spark import schemas
    from use_clickhouse_2_analyze_mysql_binlog_spark.plans import storage
    from tests.conftest import SF_DIR

    binlog = schemas.binlog_view(schemas.load_table(spark, SF_DIR, "events"))
    path = str(tmp_path / "fact")
    # fragment: many small appends, as streaming ingest would produce
    for i in range(4):
        storage.write_fact_table(binlog.filter(F.col("binlog_pos") % 4 == i), path)

    import pathlib

    before = spark.read.parquet(path)
    n_rows, n_days = before.count(), before.select("day").distinct().count()
    cols = sorted(before.columns)
    before_rows = sorted(map(str, before.select(cols).collect()))
    frag = max(
        len(list(p.glob("*.parquet"))) for p in pathlib.Path(path).glob("day=*")
    )
    assert frag >= 4

    compacted = storage.compact_day_partitions(spark, path, target_file_bytes=1 << 30)
    assert len(compacted) == n_days
    after = spark.read.parquet(path)
    assert after.count() == n_rows
    assert max(
        len(list(p.glob("*.parquet"))) for p in pathlib.Path(path).glob("day=*")
    ) == 1
    # identical content, not just counts
    assert sorted(map(str, after.select(cols).collect())) == before_rows


def test_analytics_over_partitioned_layout(spark, tmp_path):
    """End-to-end on the production layout: write day-partitioned sorted
    parquet, query through it with a day filter, and match the same
    computation on the in-memory view — with partition pruning active."""
    from pyspark.sql import functions as F

    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import transactions
    from use_clickhouse_2_analyze_mysql_binlog_spark.schemas import (
        binlog_view,
        load_table,
    )

    binlog = binlog_view(load_table(spark, SF_DIR, "events"))
    path = str(tmp_path / "fact")
    storage.write_fact_table(binlog, path, files_per_day=2, mode="overwrite")

    stored = storage.read_fact_table(spark, path).filter(
        "day BETWEEN DATE'2024-01-05' AND DATE'2024-01-09'"
    )
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan, plan

    got = transactions.transaction_stats(stored.drop("day"))
    want = transactions.transaction_stats(
        binlog.filter(
            (F.to_date("execute_time") >= "2024-01-05")
            & (F.to_date("execute_time") <= "2024-01-09")
        )
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_ivf_index_partition_pruned_read(spark, tmp_path):
    """The materialized IVF index must answer a query from ONE bucket
    directory (partition pruning at file-listing level) and agree with the
    in-memory IVF path."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(emb, path, num_centroids=16)

    got = similarity.ivf_topk_from_index(spark, path, query_vec_id=0, k=5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the centroid filter must reach the scan as a partition filter
    assert "PartitionFilters: [isnotnull(centroid_id" in plan, plan
    rows = [(r.vec_id, r.cos_sim) for r in got.collect()]
    want = [
        (r.vec_id, r.cos_sim)
        for r in similarity.ivf_topk(emb, query_vec_id=0, k=5).collect()
    ]
    assert rows == want

    # nprobe=2 agrees with the in-memory path and still prunes partitions
    got2 = similarity.ivf_topk_from_index(spark, path, query_vec_id=0, k=5, nprobe=2)
    plan2 = got2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan2 and "centroid_id" in plan2, plan2
    rows2 = [(r.vec_id, r.cos_sim) for r in got2.collect()]
    want2 = [
        (r.vec_id, r.cos_sim)
        for r in similarity.ivf_topk(emb, query_vec_id=0, k=5, nprobe=2).collect()
    ]
    assert rows2 == want2


def test_staged_posting_no_documents_rescan(spark, tmp_path):
    """Pair queries over a staged shingle posting must never scan the
    documents table (raw text is shingled exactly once, at staging time)
    and must return exactly the unstaged results."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    path = str(tmp_path / "posting")
    dedup.write_shingle_posting(docs, path)

    staged = dedup.minhash_lsh_pairs(docs, threshold=0.5, posting_path=path)
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, plan
    assert "posting" in plan

    want = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    )
    got = sorted((r.doc_a, r.doc_b, r.jaccard) for r in staged.collect())
    assert got == want

    # same guarantee for the other two posting consumers
    for fn in (dedup.ngram_jaccard_pairs, dedup.incremental_dedup_pairs):
        q = fn(docs, threshold=0.5, posting_path=path)
        p = q._jdf.queryExecution().executedPlan().toString()
        assert "documents.parquet" not in p, fn.__name__
        unstaged = fn(docs, threshold=0.5)
        assert sorted(map(tuple, q.collect())) == sorted(
            map(tuple, unstaged.collect())
        ), fn.__name__
