"""Structured Streaming job tests (SURVEY.md §5.3): ingest exactly-once,
incremental rollup equivalence, watermarked window job + late data.

Sources are file streams of pre-decoded canal entries / binlog rows
(no Kafka in this environment); the jobs are source-agnostic.
"""

import os

import pytest

from pyspark.sql import functions as F

from use_clickhouse_2_analyze_mysql_binlog_spark import schemas
from use_clickhouse_2_analyze_mysql_binlog_spark.operators import rollups, transactions
from use_clickhouse_2_analyze_mysql_binlog_spark.sources.transform import (
    canal_entries_to_binlog,
)
from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import (
    epochs,
    ingest_job,
    rollup_job,
    window_job,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def entries_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("canal") / "entries")
    schemas.canal_entries_view(
        schemas.load_table(spark, SF_DIR, "events")
    ).write.parquet(d)
    return d


@pytest.fixture(scope="module")
def binlog_df(spark):
    return schemas.binlog_view(schemas.load_table(spark, SF_DIR, "events"))


def _stream_entries(spark, entries_dir):
    return (
        spark.readStream.schema(schemas.CANAL_ENTRY_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(entries_dir)
    )


def test_ingest_stream_exactly_once(spark, entries_dir, tmp_path):
    sink = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")
    q = ingest_job.run_ingest_stream(
        _stream_entries(spark, entries_dir), sink, ckpt, available_now=True
    )
    q.awaitTermination(120)

    expected = canal_entries_to_binlog(spark.read.parquet(entries_dir)).count()
    got = spark.read.parquet(sink)
    assert got.count() == expected
    assert "day" in got.columns

    # restart from checkpoint with no new data -> no duplicates (the
    # reference's at-most-once gap, fixed)
    q2 = ingest_job.run_ingest_stream(
        _stream_entries(spark, entries_dir), sink, ckpt, available_now=True
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == expected


def test_ingest_constraint_gate_quarantine(spark, entries_dir, tmp_path):
    """r07: CONSTRAINT gate (the live realization of CH's insert-time
    CHECK) — violating rows divert to idempotent per-epoch quarantine
    dirs with _violations naming the failed checks; only passing rows
    reach the fact table; checkpoint replay adds nothing."""
    sink = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")
    quar = str(tmp_path / "quarantine")
    constraints = [
        ("c_insert_only", "event_type = 'INSERT'"),
        ("c_nonneg_size", "single_statement_size >= 0"),
    ]
    q = ingest_job.run_ingest_stream(
        _stream_entries(spark, entries_dir), sink, ckpt,
        available_now=True, constraints=constraints,
        quarantine_path=quar,
    )
    q.awaitTermination(120)

    all_rows = canal_entries_to_binlog(spark.read.parquet(entries_dir))
    n_pass = all_rows.where("event_type = 'INSERT'").count()
    n_viol = all_rows.count() - n_pass
    assert n_pass > 0 and n_viol > 0  # the gate actually splits
    got = spark.read.parquet(sink)
    assert got.count() == n_pass
    assert got.where("event_type <> 'INSERT'").count() == 0
    qrows = spark.read.parquet(quar)
    assert qrows.count() == n_viol
    # only the violated check is named (size is never negative here)
    assert set(
        r._violations for r in qrows.select("_violations").distinct()
        .collect()
    ) == {"c_insert_only"}

    # replay from checkpoint: no new data -> sink and quarantine stable
    q2 = ingest_job.run_ingest_stream(
        _stream_entries(spark, entries_dir), sink, ckpt,
        available_now=True, constraints=constraints,
        quarantine_path=quar,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == n_pass
    assert spark.read.parquet(quar).count() == n_viol


def test_ingest_constraint_gate_fail_mode(spark, entries_dir, tmp_path):
    """on_violation='fail' mirrors CH exactly: the epoch (INSERT block)
    is rejected and the stream errors out — no partial progress."""
    q = ingest_job.run_ingest_stream(
        _stream_entries(spark, entries_dir),
        str(tmp_path / "fact"), str(tmp_path / "ckpt"),
        available_now=True,
        constraints=[("c_insert_only", "event_type = 'INSERT'")],
        on_violation="fail",
    )
    with pytest.raises(Exception, match="insert rejected|c_insert_only"):
        q.awaitTermination(120)

    # config errors are loud at construction time
    with pytest.raises(ValueError, match="quarantine_path"):
        ingest_job.make_constraint_gate(
            [("c", "1 = 1")], None, "rid", "quarantine"
        )
    with pytest.raises(ValueError, match="on_violation"):
        ingest_job.make_constraint_gate(
            [("c", "1 = 1")], "/tmp/x", "rid", "explode"
        )


def test_rollup_stream_matches_batch(spark, tmp_path, binlog_df):
    src = str(tmp_path / "binlog_src")
    binlog_df.write.parquet(src)
    stream = (
        spark.readStream.schema(binlog_df.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    rollup_path = str(tmp_path / "rollup")
    q = rollup_job.run_daily_rollup_stream(
        stream, rollup_path, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(180)

    got = rollup_job.read_rollup(spark, rollup_path)
    want = rollups.daily_event_counts(binlog_df)
    assert got.count() == want.count()
    assert (
        got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    ), "incremental streaming rollup must equal the batch rollup"


def test_window_job_matches_batch_and_drops_late(spark, tmp_path, binlog_df):
    src = str(tmp_path / "binlog_src")
    binlog_df.write.parquet(src)

    def run():
        stream = spark.readStream.schema(binlog_df.schema).parquet(src)
        q = window_job.run_window_job(
            stream, results, str(tmp_path / "ckpt"), available_now=True
        )
        q.awaitTermination(180)

    results = str(tmp_path / "results")
    run()  # pass 1: full data -> finalized windows emitted, watermark saved

    # pass 2: stale duplicates of the earliest window arrive after the
    # watermark (restored from checkpoint) has long passed -> dropped; the
    # reference would silently double-insert these (SURVEY.md §2.8 W3)
    binlog_df.orderBy("execute_time").limit(5).write.mode("append").parquet(src)
    run()

    # windows not yet passed by the final watermark (max event time - 5 min)
    # stay in state and are not emitted — exclude them from the expectation
    import datetime as dt

    max_ts = binlog_df.agg(F.max("execute_time")).collect()[0][0]
    cutoff = (max_ts - dt.timedelta(minutes=5)).strftime("%Y-%m-%d %H:%M:%S")

    batch_stats = transactions.transaction_stats(binlog_df)
    for metric, stem in transactions.METRICS.items():
        got = window_job.read_results(spark, results, stem)
        want = transactions.transaction_result_table(batch_stats, metric).filter(
            F.col("end_time") <= F.lit(cutoff)
        )
        # every finalized window emitted exactly once, values match the
        # batch result (late duplicates contributed nothing)
        assert got.count() == want.count(), stem
        w = want.select(*got.columns)
        assert got.exceptAll(w).count() == 0 and w.exceptAll(got).count() == 0, stem


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def test_top_transactions_all_matches_per_metric_ranking(spark, binlog_df):
    """The one-exchange three-metric ranking the window publish uses must
    pick, per window and metric, the row ``top_transactions`` picks: ties
    on the metric go to the smallest gtid, NULL metrics rank last."""
    cols = [
        "window_start", "end_time", "gtid", "transaction_spend_time",
        "transaction_size", "transaction_affected_rows", "statement_count",
    ]
    edge = spark.createDataFrame(
        [
            # w1: size tie (g2, g1 -> g1), spend NULL on the top-size row
            ("w1", "e1", "g2", None, 10, 1, 1),
            ("w1", "e1", "g1", 5, 10, 2, 1),
            ("w1", "e1", "g3", 7, 3, None, 1),
            # w2: one metric all NULL -> smallest gtid among NULLs
            ("w2", "e2", "g9", 1, None, 4, 1),
            ("w2", "e2", "g8", 1, None, 4, 1),
            # w3: a single transaction wins every metric
            ("w3", "e3", "g5", None, None, None, 1),
        ],
        "window_start string, end_time string, gtid string, "
        "transaction_spend_time long, transaction_size long, "
        "transaction_affected_rows long, statement_count long",
    )
    winners = {
        "transaction_size": {"w1": "g1", "w2": "g8", "w3": "g5"},
        "transaction_spend_time": {"w1": "g3", "w2": "g8", "w3": "g5"},
        "transaction_affected_rows": {"w1": "g1", "w2": "g8", "w3": "g5"},
    }
    real = transactions.transaction_stats(binlog_df)
    for stats in (edge, real):
        ranked = transactions.top_transactions_all(stats).cache()
        for metric in transactions.METRICS:
            one = transactions.top_transactions(stats, metric)
            all_ = ranked.filter(
                F.col(transactions.rank_column(metric)) == 1
            ).select(*cols)
            assert _rows(all_) == _rows(one.select(*cols)), metric
            if stats is edge:
                got = {r.window_start: r.gtid for r in all_.collect()}
                assert got == winners[metric], metric
        ranked.unpersist()
    plan = transactions.top_transactions_all(edge)._jdf.queryExecution()
    assert plan.executedPlan().toString().count("Exchange hashpartitioning") == 1


def test_window_publish_stages_results_from_driver(spark, tmp_path, binlog_df):
    """The publish of a non-empty batch: a pinned number of Spark jobs (the
    two shuffle stages and the Arrow collect, no writes), result tables
    that read back with the names and types of Spark-written ones, and a
    replay that replaces what a crashed attempt staged."""
    import shutil

    sc = spark.sparkContext
    stats = transactions.transaction_stats(binlog_df)
    results = str(tmp_path / "results")
    publish = window_job.make_publish_batch(results)

    prev_group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup("window-publish", "window-publish")
    try:
        publish(stats, 0)
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("window-publish")
        sc.setLocalProperty("spark.jobGroup.id", prev_group)
    assert len(jobs) == 3, jobs

    spark_written = epochs.TxnSink(str(tmp_path / "spark"), ())
    for metric, stem in transactions.METRICS.items():
        spark_written.write(
            stem, 0, transactions.transaction_result_table(stats, metric)
        )
    spark_written.commit(0)
    for stem in transactions.METRICS.values():
        got = window_job.read_results(spark, results, stem)
        want = spark_written.read(spark, stem)
        assert got.dtypes == want.dtypes, stem
        assert _rows(got) == _rows(want), stem

    # a crashed attempt of epoch 1 staged its dirs plus a stray file ...
    stem = next(iter(transactions.METRICS.values()))
    crashing = window_job.make_publish_batch(results)

    def crash_commit(self, epoch_id):
        raise RuntimeError("injected crash before commit")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(epochs.TxnSink, "commit", crash_commit)
        with pytest.raises(RuntimeError):
            crashing(stats, 1)
    staged = epochs.TxnSink(results, ()).epoch_dir(stem, 1)
    shutil.copy(
        os.path.join(staged, "part-00000.parquet"),
        os.path.join(staged, "part-99999.parquet"),
    )
    n = window_job.read_results(spark, results, stem).count()
    # ... the replay replaces it whole, then commits
    publish(stats, 1)
    assert os.listdir(staged) == ["part-00000.parquet"]
    assert window_job.read_results(spark, results, stem).count() == 2 * n


def test_foreachbatch_bodies_are_replay_idempotent(spark, tmp_path, binlog_df):
    """A crash between sink write and checkpoint commit replays the epoch
    with the same id; every foreachBatch body must make that a no-op
    (ADVICE r01: the bodies used to double-append / double-sum)."""
    small = binlog_df.limit(200)

    # ingest: marker-guarded append
    sink = str(tmp_path / "fact")
    append = ingest_job.make_append_batch(sink)
    batch = small.withColumn("day", F.to_date("execute_time"))
    append(batch, 0)
    n = spark.read.parquet(sink).count()
    append(batch, 0)  # replayed epoch -> skipped
    assert spark.read.parquet(sink).count() == n == 200

    # rollup: manifest-guarded snapshot merge
    roll = str(tmp_path / "rollup")
    merge = rollup_job.make_merge_batch(spark, roll, ("day", "event_type"))
    merge(small, 0)
    want = {tuple(r) for r in rollup_job.read_rollup(spark, roll).collect()}
    merge(small, 0)  # replay -> skipped, not double-summed
    assert {tuple(r) for r in rollup_job.read_rollup(spark, roll).collect()} == want
    merge(small, 1)  # genuinely new epoch still merges
    got2 = {r["event_count"] for r in rollup_job.read_rollup(spark, roll).collect()}
    assert got2 == {2 * r["event_count"] for r in
                    rollups.daily_event_counts(small).collect()}

    # window results: epoch-dir overwrite
    results = str(tmp_path / "results")
    publish = window_job.make_publish_batch(results)
    stats = transactions.transaction_stats(small)
    publish(stats, 0)
    stem = next(iter(transactions.METRICS.values()))
    n = window_job.read_results(spark, results, stem).count()
    publish(stats, 0)  # replay -> same epoch dir overwritten
    assert window_job.read_results(spark, results, stem).count() == n


def test_ingest_txn_mode_exactly_once_across_crash(spark, tmp_path, binlog_df):
    """txn=True ingest: a crash AFTER the epoch's data write but BEFORE the
    commit leaves nothing visible, and the replay yields exactly-once — the
    window the default marker mode documents as at-least-once."""
    sink = str(tmp_path / "fact_txn")
    batch = binlog_df.limit(200).withColumn("day", F.to_date("execute_time"))
    append = ingest_job.make_append_batch(sink, txn=True)
    append(batch, 0)
    assert ingest_job.read_fact(spark, sink).count() == 200

    # crash injection: epoch 1 writes its staging dir but dies pre-commit
    crashing = ingest_job.make_append_batch(sink, txn=True)
    orig_commit = epochs.TxnSink.commit

    def crash_commit(self, epoch_id):
        raise RuntimeError("injected crash before commit")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(epochs.TxnSink, "commit", crash_commit)
        with pytest.raises(RuntimeError):
            crashing(batch, 1)
    # staged-but-uncommitted epoch is invisible
    assert ingest_job.read_fact(spark, sink).count() == 200

    append(batch, 1)  # replay overwrites the orphan staging and commits
    fact = ingest_job.read_fact(spark, sink)
    assert fact.count() == 400
    assert "day" in fact.columns  # day partition discovery intact
    append(batch, 1)  # committed replay -> no-op
    assert ingest_job.read_fact(spark, sink).count() == 400
    assert epochs.TxnSink.commit is orig_commit


def test_rollup_publish_keeps_generations(spark, tmp_path, binlog_df):
    """The manifest flip is atomic and the newest DEFAULT_KEEP_GENERATIONS
    snapshots survive each publish — a reader that resolved the manifest up
    to keep-1 publishes ago still has a valid directory under fast
    micro-batch cadence (the r02 single-generation read-window hazard)."""
    import os

    keep = epochs.DEFAULT_KEEP_GENERATIONS
    roll = str(tmp_path / "rollup")
    merge = rollup_job.make_merge_batch(spark, roll, ("day", "event_type"))
    for e in range(keep):
        merge(binlog_df.limit(100), e)
    snaps = sorted(os.listdir(os.path.join(roll, "snapshots")))
    assert snaps == [f"local-{e}" for e in range(keep)]
    merge(binlog_df.limit(100), keep)  # oldest GC'd, newest `keep` kept
    snaps = sorted(os.listdir(os.path.join(roll, "snapshots")))
    assert snaps == [f"local-{e}" for e in range(1, keep + 1)]


def test_rollup_fresh_checkpoint_run_not_mistaken_for_replay(
    spark, tmp_path, binlog_df
):
    """Restarting with a FRESH checkpoint restarts the epoch counter at 0;
    the run-id namespace must keep those micro-batches from being discarded
    as replays of the old run (the r02 cross-run collision hazard)."""
    roll = str(tmp_path / "rollup")
    merge_a = rollup_job.make_merge_batch(
        spark, roll, ("day", "event_type"), run_id="runA"
    )
    merge_a(binlog_df.limit(100), 0)
    merge_a(binlog_df.limit(100), 7)  # runA high-water mark = 7
    before = rollup_job.read_rollup(spark, roll)
    total_before = before.agg(F.sum("event_count")).collect()[0][0]

    merge_b = rollup_job.make_merge_batch(
        spark, roll, ("day", "event_type"), run_id="runB"
    )
    merge_b(binlog_df.limit(100), 0)  # 0 < 7 but a DIFFERENT run: must merge
    after = rollup_job.read_rollup(spark, roll)
    total_after = after.agg(F.sum("event_count")).collect()[0][0]
    assert total_after == total_before + 100
    merge_b(binlog_df.limit(100), 0)  # same-run replay: still a no-op
    assert (
        rollup_job.read_rollup(spark, roll)
        .agg(F.sum("event_count"))
        .collect()[0][0]
        == total_after
    )


def test_stateful_sessionizer_matches_batch(spark, tmp_path, binlog_df):
    """applyInPandasWithState sessionizer: emitted sessions must equal the
    batch gaps-and-islands computation for every session the watermark had
    finalized (end + gap <= final watermark)."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import stateful_job

    gap_s, delay_ms = 1800, 300_000
    src = str(tmp_path / "src")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    binlog_df.repartition(4).write.parquet(src)

    def run():
        stream = (
            spark.readStream.schema(binlog_df.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = stateful_job.run_sessionizer_job(
            stream, out, ckpt, gap_seconds=gap_s, available_now=True
        )
        q.awaitTermination(180)

    run()  # pass 1: real data; watermark ends at gmax - 5 min

    # pass 2: one future "flush" row per gtid invokes every key once more
    # with the fully-advanced watermark, finalizing all eligible sessions
    gmax = binlog_df.agg(F.max("execute_time")).collect()[0][0]
    flush = binlog_df.select("gtid").distinct().select(
        F.lit("appdb").alias("schema"),
        F.lit("t_0").alias("table"),
        F.lit("INSERT").alias("event_type"),
        F.lit(0).alias("is_ddl"),
        F.lit("mysql-bin.0").alias("binlog_file"),
        F.lit(0).cast("long").alias("binlog_pos"),
        F.lit("utf8mb4").alias("characterset"),
        (F.lit(gmax) + F.expr("INTERVAL 2 DAYS")).alias("execute_time"),
        "gtid",
        F.lit(0).cast("long").alias("single_statement_affected_rows"),
        F.lit(0).cast("long").alias("single_statement_size"),
        (F.lit(gmax) + F.expr("INTERVAL 2 DAYS")).alias("ctime"),
    )
    flush.select(*binlog_df.columns).coalesce(1).write.mode("append").parquet(src)
    run()  # pass 2: flush batch, watermark = gmax - delay

    got = {
        tuple(r)
        for r in spark.read.parquet(out)
        .select(
            "gtid",
            "session_start",
            "session_end",
            "statement_count",
            "transaction_size",
            "affected_rows",
        )
        .collect()
    }

    # batch expectation (pure python gaps-and-islands, same ms math)
    import pandas as pd

    pdf = binlog_df.select(
        "gtid", "execute_time", "binlog_pos",
        "single_statement_size", "single_statement_affected_rows",
    ).toPandas()
    pdf["ms"] = pdf["execute_time"].astype("int64") // 1_000_000
    wm_ms = int(pd.Timestamp(gmax).value // 1_000_000) - delay_ms
    gap_ms = gap_s * 1000
    want = set()
    for gtid, g in pdf.groupby("gtid"):
        rows = sorted(
            zip(g["ms"], g["binlog_pos"], g["single_statement_size"],
                g["single_statement_affected_rows"])
        )
        sessions, cur = [], [rows[0]]
        for r in rows[1:]:
            if r[0] - cur[-1][0] < gap_ms:
                cur.append(r)
            else:
                sessions.append(cur)
                cur = [r]
        sessions.append(cur)
        for s in sessions:
            if s[-1][0] + gap_ms > wm_ms:
                continue
            mx = max(s, key=lambda r: r[1])
            want.add(
                (
                    gtid,
                    pd.Timestamp(s[0][0], unit="ms").strftime("%Y-%m-%d %H:%M:%S"),
                    pd.Timestamp(s[-1][0], unit="ms").strftime("%Y-%m-%d %H:%M:%S"),
                    len(s),
                    int(mx[1]) - min(r[1] for r in s) + int(mx[2]),
                    int(sum(r[3] for r in s)),
                )
            )
    assert got == want
    assert len(got) > 0


def test_sessionizer_event_time_timeout_path(spark, tmp_path, binlog_df):
    """Keys receiving no new data must still emit once the watermark passes
    their open session + gap — the hasTimedOut branch, exercised by
    advancing the watermark through a single other key."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import stateful_job

    src = str(tmp_path / "src")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    small = binlog_df.filter(F.col("gtid").isin([r.gtid for r in
        binlog_df.select("gtid").distinct().limit(6).collect()]))
    small.write.parquet(src)
    gtids = [r.gtid for r in small.select("gtid").distinct().collect()]

    def run():
        stream = spark.readStream.schema(binlog_df.schema).parquet(src)
        q = stateful_job.run_sessionizer_job(
            stream, out, ckpt, gap_seconds=1800, available_now=True
        )
        q.awaitTermination(180)

    def row_at(gtid, ts_expr):
        return small.limit(1).select(
            F.lit("appdb").alias("schema"), F.lit("t_0").alias("table"),
            F.lit("INSERT").alias("event_type"), F.lit(0).alias("is_ddl"),
            F.lit("f").alias("binlog_file"), F.lit(0).cast("long").alias("binlog_pos"),
            F.lit("utf8mb4").alias("characterset"),
            F.expr(ts_expr).alias("execute_time"), F.lit(gtid).alias("gtid"),
            F.lit(0).cast("long").alias("single_statement_affected_rows"),
            F.lit(0).cast("long").alias("single_statement_size"),
            F.expr(ts_expr).alias("ctime"),
        ).select(*small.columns)

    gmax = small.agg(F.max("execute_time")).collect()[0][0]
    run()  # pass 1: real data
    n1 = spark.read.parquet(out).count()

    # pass 2: +2d row for EVERY key -> all real sessions finalize eagerly;
    # each key keeps one open singleton session (the +2d row)
    import functools
    flush = functools.reduce(
        lambda a, b: a.unionByName(b),
        [row_at(g, f"timestamp'{gmax}' + INTERVAL 2 DAYS") for g in gtids],
    )
    flush.coalesce(1).write.mode("append").parquet(src)
    run()

    # pass 3: +6d row for ONE key -> watermark jumps past every other
    # key's (+2d session + gap) timeout; those keys see NO data this pass,
    # so only the hasTimedOut branch can emit their singleton sessions
    row_at(gtids[0], f"timestamp'{gmax}' + INTERVAL 6 DAYS").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()

    sessions = spark.read.parquet(out)
    fmt = "%Y-%m-%d %H:%M:%S"
    import datetime as dt

    flush_start = (gmax + dt.timedelta(days=2)).strftime(fmt)
    late = sessions.filter(F.col("session_start") == flush_start)
    # the five quiet keys' +2d singletons emitted purely via the
    # hasTimedOut branch (they saw no data in pass 3). gtids[0] received
    # the +6d row, and its eager check ran against the start-of-batch
    # watermark (+2d - lateness), which had not yet passed its session's
    # end+gap — so it correctly stays in state until a later epoch.
    assert sorted(r.gtid for r in late.collect()) == sorted(gtids[1:])
    assert late.filter(F.col("statement_count") != 1).count() == 0


def test_incremental_dedup_stream_batches(spark, tmp_path):
    """Epoch 0 seeds the corpus; epoch 1's near-dup of a corpus doc is
    dropped while its novel doc survives; replaying epoch 1 is a no-op."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import (
        incremental_dedup_job,
    )

    root = str(tmp_path / "inc")
    body = incremental_dedup_job.make_dedup_batch(root, threshold=0.5)
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the window and the birds sing in the morning light over the hills"
    )
    schema = "doc_id long, text string"
    batch0 = spark.createDataFrame(
        [
            (1, base),
            (2, "completely unrelated corpus document about database engines"),
            (3, base),  # exact intra-batch dup of 1 -> collapsed
        ],
        schema,
    )
    body(batch0, 0)
    corpus = incremental_dedup_job.read_corpus(spark, root)
    assert corpus.count() == 2  # intra-batch exact dup dropped

    batch1 = spark.createDataFrame(
        [
            (10, base.replace("morning light", "evening glow")),  # near-dup of 1
            (11, "entirely novel streaming document about deep sea biology"),
        ],
        schema,
    )
    body(batch1, 1)
    sink = epochs.TxnSink(root, incremental_dedup_job.TABLES)
    ids = {r.doc_id for r in sink.read(spark, "corpus").collect()}
    assert 11 in ids and 10 not in ids  # near-dup dropped vs corpus
    # bands/sh_sets staged only for survivors
    assert 10 not in {r.doc_id for r in sink.read(spark, "bands").collect()}

    body(batch1, 1)  # replay: committed epoch in the txn log -> no-op
    assert incremental_dedup_job.read_corpus(spark, root).count() == 3


def test_incremental_dedup_partial_crash_replay(spark, tmp_path):
    """The r02 hazard: a crash AFTER some tables' staging writes but BEFORE
    the commit must leave no visible state — the replayed epoch re-runs the
    full body, the corpus never double-ingests, and every corpus doc has
    its bands/sh_sets rows (dedup stays effective for future epochs)."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import (
        incremental_dedup_job,
    )

    root = str(tmp_path / "inc")
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the window and the birds sing in the morning light over the hills"
    )
    schema = "doc_id long, text string"
    body = incremental_dedup_job.make_dedup_batch(root, threshold=0.5)
    body(spark.createDataFrame([(1, base)], schema), 0)

    # crash injection: epoch 1 dies after the corpus staging write, before
    # bands/sh_sets are staged and before the commit
    crashing = incremental_dedup_job.make_dedup_batch(root, threshold=0.5)
    orig_write = epochs.TxnSink.write

    def write_then_crash(self, table, epoch_id, df):
        orig_write(self, table, epoch_id, df)
        if table == "corpus":
            raise RuntimeError("injected crash between staging writes")

    batch1 = spark.createDataFrame(
        [(10, "a wholly new document about volcanic islands and seabirds")],
        schema,
    )
    import pytest as _pytest

    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(epochs.TxnSink, "write", write_then_crash)
        with _pytest.raises(RuntimeError):
            crashing(batch1, 1)

    # nothing of epoch 1 is visible (the staging dir exists but is
    # uncommitted), so the corpus still has exactly the seed doc
    assert incremental_dedup_job.read_corpus(spark, root).count() == 1

    # replay of epoch 1 (what the restarted stream does) completes it fully
    body(batch1, 1)
    sink = epochs.TxnSink(root, incremental_dedup_job.TABLES)
    corpus_ids = sorted(
        r.doc_id for r in sink.read(spark, "corpus").collect()
    )
    assert corpus_ids == [1, 10]  # no loss, no duplication
    # every corpus doc is dedup-visible: bands + sh_sets present
    assert sorted(
        {r.doc_id for r in sink.read(spark, "bands").collect()}
    ) == [1, 10]
    assert sorted(
        r.doc_id for r in sink.read(spark, "sh_sets").collect()
    ) == [1, 10]

    # and a near-dup of the ONCE-CRASHED doc is now caught (the r02 bug
    # left such docs permanently invisible to future dedup)
    body(
        spark.createDataFrame(
            [(20, "a wholly new document about volcanic islands and gulls")],
            schema,
        ),
        2,
    )
    assert 20 not in {
        r.doc_id for r in incremental_dedup_job.read_corpus(spark, root).collect()
    }


def test_upsert_stream_matches_batch_replacing(spark, tmp_path):
    """The incrementally maintained CDC row-state snapshot must equal one
    batch replacing_merge_final over the whole DML stream, including after
    a duplicate-replay restart (exactly-once MERGE)."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import merge_tree
    from use_clickhouse_2_analyze_mysql_binlog_spark.sources.transform import (
        canal_entries_to_binlog,
    )
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import upsert_job

    binlog = canal_entries_to_binlog(
        schemas.canal_entries_view(schemas.load_table(spark, SF_DIR, "events")),
        ctime=F.to_timestamp(F.lit("2024-02-01 00:00:00")),
    )
    src = str(tmp_path / "binlog_src")
    binlog.repartition(4).write.parquet(src)  # several files -> several epochs

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = upsert_job.run_upsert_stream(stream, state, ckpt, available_now=True)
        q.awaitTermination(180)

    run()
    want = merge_tree.replacing_merge_final(merge_tree.dml_rows(binlog))
    got = upsert_job.read_state(spark, state)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # restart from checkpoint with no new data -> snapshot unchanged
    run()
    got2 = upsert_job.read_state(spark, state)
    assert got2.exceptAll(want).count() == 0 and want.exceptAll(got2).count() == 0


def test_upsert_batch_body_replay_idempotent(spark, tmp_path, binlog_df):
    """Same replay hazard as the rollup job: a replayed epoch id must be
    a no-op, a new epoch must merge."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import merge_tree
    from use_clickhouse_2_analyze_mysql_binlog_spark.sources.transform import (
        canal_entries_to_binlog,
    )
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import upsert_job

    binlog = canal_entries_to_binlog(
        schemas.canal_entries_view(schemas.load_table(spark, SF_DIR, "events")),
        ctime=F.to_timestamp(F.lit("2024-02-01 00:00:00")),
    ).limit(400).cache()
    state = str(tmp_path / "state")
    body = upsert_job.make_upsert_batch(spark, state)
    body(binlog, 0)
    want = {tuple(r) for r in upsert_job.read_state(spark, state).collect()}
    body(binlog, 0)  # replay -> skipped, snapshot unchanged
    assert {tuple(r) for r in upsert_job.read_state(spark, state).collect()} == want
    body(binlog, 1)  # same data as a NEW epoch -> merges: same keys,
    got = upsert_job.read_state(spark, state)  # n_versions doubles
    batch = merge_tree.replacing_merge_final(merge_tree.dml_rows(binlog))
    assert got.count() == batch.count()
    doubled = {
        (r.row_pk, r.n_versions) for r in got.collect()
    }
    assert doubled == {
        (r.row_pk, 2 * r.n_versions) for r in batch.collect()
    }


def test_collapsing_upsert_stream_matches_batch(spark, tmp_path):
    """Collapsing mode: the maintained signed state, FINAL-filtered at
    read, must equal the batch collapsing_merge_state — including keys
    that net to zero mid-stream and are revived by a later epoch (why
    the state stays unfiltered on disk)."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import merge_tree
    from use_clickhouse_2_analyze_mysql_binlog_spark.sources.transform import (
        canal_entries_to_binlog,
    )
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import upsert_job

    binlog = canal_entries_to_binlog(
        schemas.canal_entries_view(schemas.load_table(spark, SF_DIR, "events")),
        ctime=F.to_timestamp(F.lit("2024-02-01 00:00:00")),
    )
    src = str(tmp_path / "binlog_src")
    binlog.repartition(3).write.parquet(src)
    state = str(tmp_path / "state")

    def run():
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = upsert_job.run_upsert_stream(
            stream, state, str(tmp_path / "ckpt"), available_now=True,
            mode="collapsing",
        )
        q.awaitTermination(180)

    run()
    got = upsert_job.read_collapsed_state(spark, state)
    want = merge_tree.collapsing_merge_state(merge_tree.dml_rows(binlog))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # the raw state retains the collapsed (net <= 0) keys for mergeability
    raw = upsert_job.read_state(spark, state)
    assert raw.count() > got.count()

    # replay restart: the sum-based collapsing merge is exactly where a
    # replayed epoch slipping the manifest guard would double net_rows —
    # the snapshot must be unchanged after a no-new-data restart
    run()
    got2 = upsert_job.read_collapsed_state(spark, state)
    assert got2.exceptAll(want).count() == 0
    assert want.exceptAll(got2).count() == 0


def _written_plans(body, batches) -> list[str]:
    """Run an epoch body over ``batches`` (epochs 0, 1, ...) and return the
    physical plan of every DataFrame it hands to a parquet write."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans = []
    real = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return real(self, path, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", spy)
        for epoch, batch in enumerate(batches):
            body(batch, epoch)
    return plans


def test_upsert_snapshot_write_is_partitioned(spark, tmp_path, binlog_df):
    """VERDICT r05 what's-wrong #2: the row-state snapshot is the live-key
    working set of the source fleet, so it must NOT funnel through one
    writer task per epoch. Pins (a) the on-disk layout is directory-
    partitioned by (schema, table), (b) the DataFrame the epoch body
    writes has exactly one hash exchange — the merge's sort-key exchange,
    the batch rows merging with the previous snapshot in one aggregation —
    and no Coalesce/SinglePartition rail, and (c) the restored read schema
    round-trips (canonical column order, string partition columns)."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import upsert_job

    binlog = canal_entries_to_binlog(
        schemas.canal_entries_view(schemas.load_table(spark, SF_DIR, "events")),
        ctime=F.to_timestamp(F.lit("2024-02-01 00:00:00")),
    ).filter(F.col("binlog_pos") % 7 == 0)  # thin WITHOUT a GlobalLimit:
    # .limit() would plant an Exchange SinglePartition of its own in the
    # plan this test asserts clean
    state = str(tmp_path / "state")
    body = upsert_job.make_upsert_batch(spark, state)
    # epoch 1 exercises the prev-MERGE write path
    plans = _written_plans(body, [binlog, binlog])

    # (a) partitioned layout on disk
    import pathlib

    latest = epochs.read_manifest(state)
    snap = pathlib.Path(latest["dir"])
    part_dirs = sorted(p.name for p in snap.glob("schema=*/table=*"))
    assert part_dirs, f"no (schema, table) partition dirs under {snap}"

    # (b) one hash exchange per epoch, no single-task rail
    assert len(plans) == 2, plans
    for plan in plans:
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Exchange SinglePartition" not in plan, plan
        assert "Coalesce 1" not in plan, plan

    # (c) restored read schema: canonical order, string partition cols
    got = upsert_job.read_state(spark, state)
    assert got.columns[:3] == ["schema", "table", "row_pk"]
    assert dict(got.dtypes)["schema"] == "string"
    assert dict(got.dtypes)["table"] == "string"


def test_rollup_merge_write_has_one_exchange(spark, tmp_path, binlog_df):
    """The rollup epoch re-sums the batch rows (as counts of 1) with the
    previous snapshot in one aggregation: one hash exchange per epoch,
    the first epoch (no snapshot yet) included."""
    body = rollup_job.make_merge_batch(
        spark, str(tmp_path / "rollup"), ("day", "event_type")
    )
    batches = [binlog_df.filter(F.col("binlog_pos") % 2 == k) for k in range(2)]
    plans = _written_plans(body, batches)
    assert len(plans) == 2, plans
    for plan in plans:
        assert plan.count("Exchange hashpartitioning") == 1, plan
    got = rollup_job.read_rollup(spark, str(tmp_path / "rollup"))
    want = rollups.daily_event_counts(binlog_df)
    assert got.exceptAll(want.select(*got.columns)).count() == 0
    assert got.count() == want.count()


def test_upsert_snapshot_numeric_table_names_roundtrip(spark, tmp_path):
    """ADVICE r06 #3: partition values that LOOK numeric or date-like
    must round-trip verbatim — with type inference on, a table named
    '0123' reads back as int 123 ('123' after the string cast),
    corrupting the upsert key and read_state filters."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import upsert_job

    snap = str(tmp_path / "snap")
    spark.createDataFrame(
        [
            ("001", "0123", 1, "a"),
            ("001", "2024-01-01", 2, "b"),
            ("shop", "t_1", 3, "c"),
        ],
        "schema string, table string, row_pk int, v string",
    ).write.partitionBy("schema", "table").parquet(snap)

    got = upsert_job._read_snapshot(spark, snap)
    assert got.columns[:2] == ["schema", "table"]
    assert dict(got.dtypes)["schema"] == "string"
    vals = {(r["schema"], r["table"]) for r in got.collect()}
    assert vals == {("001", "0123"), ("001", "2024-01-01"), ("shop", "t_1")}
    # the read leaves the session conf alone
    assert (
        spark.conf.get(
            "spark.sql.sources.partitionColumnTypeInference.enabled"
        )
        == "true"
    )


def test_upsert_snapshot_read_sets_no_session_conf(spark, tmp_path, monkeypatch):
    """Every running stream shares the session's conf: a snapshot read that
    flipped a conf and restored it could interleave with another stream's
    read and leave the conf flipped for good. The read sets nothing."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import upsert_job

    snap = str(tmp_path / "snap")
    spark.createDataFrame(
        [("001", "0123", 1, "a"), ("shop", "t_1", 3, "c")],
        "schema string, table string, row_pk int, v string",
    ).write.partitionBy("schema", "table").parquet(snap)

    def refuse(*args, **kwargs):
        raise AssertionError(f"snapshot read set a session conf: {args}")

    monkeypatch.setattr(spark.conf, "set", refuse)
    got = upsert_job._read_snapshot(spark, snap)
    assert {(r["schema"], r["table"]) for r in got.collect()} == {
        ("001", "0123"),
        ("shop", "t_1"),
    }


def test_upsert_empty_first_epoch_publishes_nothing(spark, tmp_path):
    """An all-DDL (zero-DML) FIRST micro-batch must not publish an empty
    partitioned snapshot (no data files -> unreadable schema); the
    manifest stays unset and a later DML epoch bootstraps the state."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import merge_tree
    from use_clickhouse_2_analyze_mysql_binlog_spark.sources.transform import (
        canal_entries_to_binlog,
    )
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import (
        epochs,
        upsert_job,
    )

    binlog = canal_entries_to_binlog(
        schemas.canal_entries_view(schemas.load_table(spark, SF_DIR, "events")),
        ctime=F.to_timestamp(F.lit("2024-02-01 00:00:00")),
    )
    ddl_only = binlog.filter(
        ~F.col("event_type").isin(*merge_tree.DML_EVENT_TYPES)
    )
    dml = binlog.filter(
        F.col("event_type").isin(*merge_tree.DML_EVENT_TYPES)
    ).limit(200)
    state = str(tmp_path / "state")
    body = upsert_job.make_upsert_batch(spark, state)
    body(ddl_only, 0)
    assert epochs.read_manifest(state) is None  # nothing published
    body(dml, 1)
    got = upsert_job.read_state(spark, state)
    want = merge_tree.replacing_merge_final(merge_tree.dml_rows(dml))
    assert got.count() == want.count() > 0


def test_incremental_dedup_gopher_pre_gate(spark, tmp_path):
    """gopher=True: the streaming twin of pipeline --gopher — docs failing
    the hard rules never enter the corpus, its bands, or its hash sets."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import text as T
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import (
        incremental_dedup_job,
    )

    root = str(tmp_path / "incg")
    body = incremental_dedup_job.make_dedup_batch(
        root, threshold=0.5, gopher=True
    )
    good = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the window and the birds sing in the morning light over the "
        "hills beyond the river where children play and dogs bark at noon"
    )
    batch = spark.createDataFrame(
        [
            (1, good),
            (2, "tooshort"),  # fails the word-count rule
            (3, "zz " * 200),  # no stopwords, low diversity
        ],
        "doc_id long, text string",
    )
    # sanity: the gate itself keeps exactly doc 1
    kept = {r.doc_id for r in T.gopher_gate(batch).select("doc_id").collect()}
    assert kept == {1}
    body(batch, 0)
    sink = epochs.TxnSink(root, incremental_dedup_job.TABLES)
    assert {r.doc_id for r in sink.read(spark, "corpus").collect()} == {1}
    assert {r.doc_id for r in sink.read(spark, "bands").collect()} == {1}
    assert {r.doc_id for r in sink.read(spark, "sh_sets").collect()} == {1}


def test_upsert_read_state_per_table_partition_pruning(spark, tmp_path, binlog_df):
    """Per-table reads of the partitioned snapshot must prune to that
    table's partition directories (PartitionFilters on schema/table),
    and return exactly the batch-computed per-table state."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import merge_tree
    from use_clickhouse_2_analyze_mysql_binlog_spark.sources.transform import (
        canal_entries_to_binlog,
    )
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import upsert_job

    binlog = canal_entries_to_binlog(
        schemas.canal_entries_view(schemas.load_table(spark, SF_DIR, "events")),
        ctime=F.to_timestamp(F.lit("2024-02-01 00:00:00")),
    ).filter(F.col("binlog_pos") % 5 == 0)
    state = str(tmp_path / "state")
    upsert_job.make_upsert_batch(spark, state)(binlog, 0)

    got = upsert_job.read_state(spark, state, schema="appdb", table="t_1")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "t_1" in plan, plan

    want = merge_tree.replacing_merge_final(
        merge_tree.dml_rows(binlog)
    ).filter(F.col("table") == "t_1")
    assert got.count() == want.count() > 0
    assert {r.row_pk for r in got.collect()} == {
        r.row_pk for r in want.collect()
    }


def test_cdc_chain_end_to_end_with_midstream_crashes(spark, tmp_path):
    """VERDICT r06 next-round #5: the reference runs ingest, row-state
    upsert, daily rollup MV, and the windowed top-1 job as ONE system over
    one binlog stream (reference README.md:13-31); previously each job was
    replay-tested in isolation. This drives the full chain from one canal
    entries source with TWO injected mid-chain crashes — ingest dies
    before its 2nd epoch commit, the upsert dies before its 2nd snapshot
    publish — and asserts every final state equals the batch-computed
    truth over the same ingested fact."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import merge_tree
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import upsert_job

    # multi-file source so the ingest drains over SEVERAL epochs (the
    # shared entries_dir fixture is one file = one epoch = nothing to
    # crash "in the middle" of)
    entries_dir = str(tmp_path / "entries")
    schemas.canal_entries_view(
        schemas.load_table(spark, SF_DIR, "events")
    ).repartition(4).write.parquet(entries_dir)

    # --- stage 1: INGEST (txn sink), crash injected before commit #2 ----
    sink, ickpt = str(tmp_path / "fact"), str(tmp_path / "ickpt")

    def ingest():
        q = ingest_job.run_ingest_stream(
            _stream_entries(spark, entries_dir), sink, ickpt,
            available_now=True, txn=True,
        )
        q.awaitTermination(180)

    orig_commit = epochs.TxnSink.commit
    commits = {"n": 0}

    def crash_second_commit(self, epoch_id):
        commits["n"] += 1
        if commits["n"] == 2:
            raise RuntimeError("injected ingest crash before commit")
        return orig_commit(self, epoch_id)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(epochs.TxnSink, "commit", crash_second_commit)
        with pytest.raises(Exception, match="injected ingest crash"):
            ingest()
    ingest()  # restart from the checkpoint drains the rest exactly-once

    want_fact = canal_entries_to_binlog(spark.read.parquet(entries_dir))
    fact = ingest_job.read_fact(spark, sink)
    cols = [c for c in want_fact.columns if c != "ctime"]  # ctime = now()
    got_rows, want_rows = fact.select(*cols), want_fact.select(*cols)
    assert fact.count() == want_fact.count()
    assert got_rows.exceptAll(want_rows).count() == 0
    assert want_rows.exceptAll(got_rows).count() == 0

    # --- the ingested fact IS the downstream source (MV semantics) ------
    # range-partitioned by event time: a binlog stream arrives in time
    # order, and the watermarked window job correctly DROPS older-than-
    # watermark arrivals — a randomly shuffled file order would simulate
    # a source the reference's pipeline never produces
    binlog_src = str(tmp_path / "binlog_src")
    (
        fact.select(*want_fact.columns)
        .repartitionByRange(6, "execute_time")
        .sortWithinPartitions("execute_time")
        .write.parquet(binlog_src)
    )
    binlog_batch = spark.read.parquet(binlog_src)

    def stream_binlog():
        return (
            spark.readStream.schema(binlog_batch.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(binlog_src)
        )

    # --- stage 2: CDC row-state upsert, crash before snapshot publish #2 -
    state, uckpt = str(tmp_path / "state"), str(tmp_path / "uckpt")

    def run_upsert():
        q = upsert_job.run_upsert_stream(
            stream_binlog(), state, uckpt, available_now=True
        )
        q.awaitTermination(180)

    orig_publish = epochs.publish_snapshot
    pubs = {"n": 0}

    def crash_second_publish(*a, **k):
        pubs["n"] += 1
        if pubs["n"] == 2:
            raise RuntimeError("injected upsert crash before publish")
        return orig_publish(*a, **k)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(epochs, "publish_snapshot", crash_second_publish)
        with pytest.raises(Exception, match="injected upsert crash"):
            run_upsert()
    run_upsert()  # replayed epoch re-merges from the last PUBLISHED state

    want_state = merge_tree.replacing_merge_final(
        merge_tree.dml_rows(binlog_batch)
    )
    got_state = upsert_job.read_state(spark, state)
    assert got_state.count() == want_state.count()
    assert got_state.exceptAll(want_state).count() == 0
    assert want_state.exceptAll(got_state).count() == 0

    # --- stage 3: daily rollup MV off the same stream --------------------
    rollup_path = str(tmp_path / "rollup")
    q = rollup_job.run_daily_rollup_stream(
        stream_binlog(), rollup_path, str(tmp_path / "rckpt"),
        available_now=True,
    )
    q.awaitTermination(180)
    got_rollup = rollup_job.read_rollup(spark, rollup_path)
    want_rollup = rollups.daily_event_counts(binlog_batch)
    assert got_rollup.exceptAll(want_rollup).count() == 0
    assert want_rollup.exceptAll(got_rollup).count() == 0

    # --- stage 4: windowed top-1 result tables off the same stream -------
    results = str(tmp_path / "results")
    q = window_job.run_window_job(
        stream_binlog(), results, str(tmp_path / "wckpt"), available_now=True
    )
    q.awaitTermination(180)

    import datetime as dt

    max_ts = binlog_batch.agg(F.max("execute_time")).collect()[0][0]
    cutoff = (max_ts - dt.timedelta(minutes=5)).strftime("%Y-%m-%d %H:%M:%S")
    batch_stats = transactions.transaction_stats(binlog_batch)
    for metric, stem in transactions.METRICS.items():
        got = window_job.read_results(spark, results, stem)
        want = transactions.transaction_result_table(
            batch_stats, metric
        ).filter(F.col("end_time") <= F.lit(cutoff))
        assert got.count() == want.count(), stem
        w = want.select(*got.columns)
        assert got.exceptAll(w).count() == 0 and w.exceptAll(got).count() == 0, stem


def test_epoch_metrics_listener(spark, entries_dir, tmp_path):
    """The observability feed: one JSONL line per micro-batch, named by
    queryName, with rows/durations/state fields — chartable without the
    Spark UI."""
    import json
    import time

    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import metrics

    mdir = str(tmp_path / "metrics")
    listener = metrics.attach_metrics(spark, mdir)
    try:
        q = ingest_job.run_ingest_stream(
            _stream_entries(spark, entries_dir),
            str(tmp_path / "fact"),
            str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
        # listener callbacks are async on a driver thread — poll briefly
        path = os.path.join(mdir, "ingest.jsonl")
        for _ in range(50):
            if os.path.exists(path):
                break
            time.sleep(0.2)
        assert os.path.exists(path)
        lines = [
            json.loads(ln)
            for ln in open(path, encoding="utf-8")
            if ln.strip()
        ]
        assert lines, "no metrics lines written"
        total_rows = sum(ln["num_input_rows"] for ln in lines)
        assert total_rows > 0
        assert all("batch_id" in ln and "trigger_ms" in ln for ln in lines)
    finally:
        metrics.detach_metrics(spark, listener)
