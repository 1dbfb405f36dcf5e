"""CLI for the long-running streaming services (SURVEY.md §2.10).

The reference runs two systemd services driven by a docopt CLI
(``/root/reference/mon_mysql_dml.py:6-35``: topic, bootstrap servers, target
table, sync batch size, offset mode, partition, group, SASL user; and the
periodic ``compute_transaction_info.py`` loop). Here one parameterized
entrypoint covers both, plus the rollup MV job:

    python -m use_clickhouse_2_analyze_mysql_binlog_spark.cli ingest \\
        --bootstrap-servers h1:9092 --topic binlog --partition 0 \\
        --from-end --sync 5000 --sink /data/fact --checkpoint /ckpt/ingest

    python -m use_clickhouse_2_analyze_mysql_binlog_spark.cli window \\
        --source /data/fact --results /data/results --checkpoint /ckpt/win \\
        --interval 300

    python -m use_clickhouse_2_analyze_mysql_binlog_spark.cli rollup \\
        --source /data/fact --rollup /data/rollup --checkpoint /ckpt/rollup

    python -m use_clickhouse_2_analyze_mysql_binlog_spark.cli sessions \\
        --source /data/fact --output /data/sessions --checkpoint /ckpt/sess

    python -m use_clickhouse_2_analyze_mysql_binlog_spark.cli maintain \\
        --path /data/fact --retention-months 30

    python -m use_clickhouse_2_analyze_mysql_binlog_spark.cli sql \\
        --data-dir /root/testdata/sf0.01 \\
        "SELECT event_type, count(*) FROM binlog GROUP BY event_type"
"""

from __future__ import annotations

import argparse
import os
import re
import sys

from use_clickhouse_2_analyze_mysql_binlog_spark.session import get_spark


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--checkpoint", required=True, help="checkpoint location")
    p.add_argument(
        "--available-now",
        action="store_true",
        help="drain available input and stop (backfill mode)",
    )
    p.add_argument(
        "--metrics",
        default=None,
        help="append per-epoch query metrics (rows, durations, watermark, "
        "state size) as JSONL under this directory — the dashboard feed",
    )


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="use_clickhouse_2_analyze_mysql_binlog_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="Kafka canal stream -> fact table")
    ing.add_argument("--bootstrap-servers", required=True)
    ing.add_argument("--topic", required=True)
    ing.add_argument("--partition", type=int, default=None)
    ing.add_argument("--group", default="binlog_spark")
    # reference offset flags (mon_mysql_dml.py:65-68)
    mode = ing.add_mutually_exclusive_group()
    mode.add_argument("--from-beginning", dest="offset", action="store_const",
                      const="beginning")
    mode.add_argument("--from-end", dest="offset", action="store_const",
                      const="end")
    mode.add_argument("--from-stored", dest="offset", action="store_const",
                      const="stored")
    ing.set_defaults(offset="end")
    ing.add_argument("--sasl-username")
    ing.add_argument("--sasl-password")
    ing.add_argument("--sync", type=int, default=5000,
                     help="max events per micro-batch (reference --sync)")
    ing.add_argument("--sink", required=True, help="fact-table parquet path")
    ing.add_argument(
        "--dead-letter",
        default=None,
        help="poison-message DLQ dir: undecodable packets are routed "
        "here (error + raw bytes, idempotent per-epoch) instead of "
        "failing the stream",
    )
    ing.add_argument(
        "--ddl-constraints",
        default=None,
        metavar="SCRIPT",
        help="CH DDL script whose CONSTRAINT ... CHECK defs gate the "
        "stream (the live realization of CH's insert-time rejection)",
    )
    ing.add_argument(
        "--quarantine",
        default=None,
        help="with --ddl-constraints: divert violating rows here "
        "(idempotent per-epoch, _violations names the failed checks)",
    )
    ing.add_argument(
        "--constraints-table",
        default=None,
        help="with --ddl-constraints: which table's CONSTRAINTs gate "
        "the stream (required when several tables define them — other "
        "tables' checks reference columns the stream doesn't have)",
    )
    ing.add_argument(
        "--on-violation",
        choices=("quarantine", "fail"),
        default="quarantine",
        help="'fail' rejects the whole epoch like CH rejects the "
        "INSERT block; 'quarantine' (default) diverts and continues",
    )
    _add_common(ing)

    rep = sub.add_parser(
        "dlq-replay",
        help="re-decode dead-lettered packets (after a decoder fix) and "
        "append the recovered rows to the fact table",
    )
    rep.add_argument("--dead-letter", required=True, help="DLQ directory")
    rep.add_argument("--sink", required=True, help="fact-table parquet path")
    rep.add_argument(
        "--requeue",
        default=None,
        help="write still-undecodable packets here (same DLQ schema); "
        "default: report the count and leave the source DLQ untouched",
    )

    win = sub.add_parser("window", help="watermarked 5-min window job")
    win.add_argument("--source", required=True, help="fact-table parquet path")
    win.add_argument("--results", required=True)
    win.add_argument("--interval", type=int, default=300)
    win.add_argument("--lateness", default="5 minutes")
    _add_common(win)

    rol = sub.add_parser("rollup", help="incremental daily rollup MV")
    rol.add_argument("--source", required=True)
    rol.add_argument("--rollup", required=True)
    rol.add_argument("--by-table", action="store_true",
                     help="4-key rollup (day, schema, table, event_type)")
    _add_common(rol)

    ups = sub.add_parser(
        "upsert",
        help="maintained ReplacingMergeTree row-state snapshot from the "
        "binlog stream (streaming/upsert_job.py)",
    )
    ups.add_argument("--source", required=True, help="fact-table parquet path")
    ups.add_argument("--state", required=True, help="snapshot/manifest dir")
    ups.add_argument("--pk-mod", type=int, default=997,
                     help="synthetic row-identity modulus (fixture only)")
    ups.add_argument("--mode", choices=("replacing", "collapsing"),
                     default="replacing",
                     help="engine semantics: replacing = latest version "
                     "wins; collapsing = signed net state, FINAL filter "
                     "at read")
    _add_common(ups)

    dds = sub.add_parser(
        "dedup-stream",
        help="streaming incremental near-dup dedup: each micro-batch of "
        "documents is LSH-matched against the accumulated corpus before "
        "appending (streaming/incremental_dedup_job.py)",
    )
    dds.add_argument("--source", required=True,
                     help="documents parquet path (doc_id, text, ... stream)")
    dds.add_argument("--corpus", required=True,
                     help="transactional corpus root (corpus/bands/sh_sets)")
    dds.add_argument("--threshold", type=float, default=0.5,
                     help="Jaccard near-dup threshold")
    dds.add_argument("--gopher", action="store_true",
                     help="apply the Gopher hard-rule pre-gate per batch "
                     "(streaming twin of `pipeline --gopher`)")
    _add_common(dds)

    chn = sub.add_parser(
        "chain",
        help="the reference's full pipeline in ONE process (reference "
        "README.md:13-31): canal entries -> ingest -> fact table, plus "
        "the CDC row-state upsert, incremental daily-rollup MV, and "
        "watermarked windowed top-1 job all consuming the ingested fact",
    )
    chn.add_argument("--entries", required=True,
                     help="canal entries source dir (file stream; "
                     "production wires the Kafka reader via `ingest`)")
    chn.add_argument("--fact", required=True, help="fact-table parquet path")
    chn.add_argument("--state", required=True,
                     help="upsert snapshot/manifest dir")
    chn.add_argument("--rollup", required=True, help="rollup MV dir")
    chn.add_argument("--results", required=True,
                     help="windowed result-tables dir")
    chn.add_argument("--interval", type=int, default=300)
    chn.add_argument("--by-table", action="store_true",
                     help="4-key rollup (day, schema, table, event_type)")
    _add_common(chn)

    ses = sub.add_parser(
        "sessions", help="stateful per-gtid gap-delimited transaction sessionizer"
    )
    ses.add_argument("--source", required=True, help="fact-table parquet path")
    ses.add_argument("--output", required=True)
    ses.add_argument("--gap", type=int, default=1800,
                     help="session gap seconds")
    ses.add_argument("--lateness", default="5 minutes")
    _add_common(ses)

    mnt = sub.add_parser(
        "maintain", help="batch maintenance: TTL retention sweep + compaction"
    )
    mnt.add_argument("--path", required=True, help="fact-table parquet path")
    mnt.add_argument("--retention-months", type=int, default=30)
    mnt.add_argument("--target-file-mb", type=int, default=512)
    mnt.add_argument("--skip-compaction", action="store_true")
    mnt.add_argument(
        "--ddl",
        default=None,
        metavar="SCRIPT",
        help="drive retention from the table's own CH DDL: its TTL "
        "clause (incl. row-level DELETE WHERE / GROUP BY ... SET) "
        "runs instead of --retention-months",
    )
    mnt.add_argument(
        "--table",
        default=None,
        help="with --ddl: which table's TTL to run (default: the "
        "single TTL-bearing table in the script)",
    )

    mut = sub.add_parser(
        "mutate",
        help="run one ClickHouse ALTER TABLE mutation against a "
        "fact-table parquet path (DELETE WHERE / UPDATE ... WHERE / "
        "DROP PARTITION; ADD/DROP COLUMN print the schema-evolution "
        "plan)",
    )
    mut.add_argument(
        "statement",
        help="the ALTER TABLE statement, verbatim CH syntax (the "
        "statement's table name is informational; --path is "
        "authoritative)",
    )
    mut.add_argument("--path", required=True, help="fact-table parquet path")

    cur = sub.add_parser(
        "curate",
        help="batch corpus curation: quality gate + exact dedup + PII scrub",
    )
    cur.add_argument("--source", required=True, help="documents parquet path")
    cur.add_argument("--output", required=True,
                     help="curated corpus output (lang-partitioned parquet)")
    cur.add_argument("--min-quality", type=float, default=0.55)
    cur.add_argument("--min-tokens", type=int, default=8)
    cur.add_argument("--no-scrub", action="store_true",
                     help="keep PII unredacted")

    pl = sub.add_parser(
        "pipeline",
        help="full corpus pipeline: curate -> near-dup dedup -> "
        "train/val/test split -> partitioned write",
    )
    pl.add_argument("--source", required=True, help="documents parquet path")
    pl.add_argument("--output", required=True,
                    help="output root (split/lang-partitioned parquet)")
    pl.add_argument("--min-quality", type=float, default=0.55)
    pl.add_argument("--min-tokens", type=int, default=8)
    pl.add_argument("--threshold", type=float, default=0.5,
                    help="near-dup Jaccard threshold")
    pl.add_argument("--gopher", action="store_true",
                    help="pre-gate on the Gopher hard rules "
                    "(word count / mean word length / stopwords / "
                    "uniqueness) before the blended quality gate")
    pl.add_argument("--line-dedup-df", type=int, default=0, metavar="N",
                    help="remove lines shared by >= N distinct documents "
                    "(cross-doc boilerplate filter) between curation and "
                    "near-dup dedup; 0 = off")
    pl.add_argument("--val-pct", type=float, default=2.5)
    pl.add_argument("--test-pct", type=float, default=2.5)
    pl.add_argument("--no-scrub", action="store_true")
    pl.add_argument(
        "--staging",
        default=None,
        help="staging dir for the materialized shingle posting "
        "(default: <output>.staging)",
    )

    sq = sub.add_parser(
        "sql",
        help="ad-hoc Spark SQL over the testdata tables (the reference "
        "user's clickhouse-client surface)",
    )
    sq.add_argument("--data-dir", required=True,
                    help="directory of <table>.parquet files")
    sq.add_argument("--output", default=None,
                    help="write result parquet here instead of printing")
    sq.add_argument("--limit", type=int, default=20,
                    help="max rows to print (ignored with --output)")
    sq.add_argument("--dialect", choices=("spark", "clickhouse"),
                    default="spark",
                    help="'clickhouse' translates CH SQL (toUInt32, argMax, "
                    "countIf, quantile(p)(x), FINAL/SETTINGS, ...) before "
                    "running — the reference user's queries run verbatim")
    sq.add_argument("--show-sql", action="store_true",
                    help="print the (translated) Spark SQL before running "
                    "— see what your ClickHouse query became")
    sq.add_argument("--explain", action="store_true",
                    help="print the optimized physical plan instead of "
                    "executing (scan pushdown / join strategy / shuffle "
                    "inspection)")
    sq.add_argument("query", help="SQL text; tables are registered as views")

    md = sub.add_parser(
        "migrate-ddl",
        help="translate a ClickHouse DDL script (CREATE TABLE / CREATE "
        "MATERIALIZED VIEW, the reference deployment's bootstrap surface) "
        "into this engine's storage + streaming plan",
    )
    md.add_argument("script", help="path to a .sql DDL script, or '-' "
                    "for stdin")
    md.add_argument("--show-sql", action="store_true",
                    help="also print each materialized view's translated "
                    "Spark SQL batch twin in full")
    md.add_argument("--execute", action="store_true",
                    help="run each materialized view's batch twin over "
                    "--data-dir and write its store under --output-dir "
                    "(the POPULATE backfill, done Spark-side)")
    md.add_argument("--data-dir", default=None,
                    help="with --execute: directory of <table>.parquet "
                    "files; tables register as views and the binlog view "
                    "is available")
    md.add_argument("--output-dir", default=None,
                    help="with --execute: each MV writes parquet to "
                    "<output-dir>/<view-name>")
    md.add_argument("--table-map", action="append", default=[],
                    metavar="CH_NAME=VIEW",
                    help="with --execute: map a DDL source table name to "
                    "a registered view (repeatable), e.g. "
                    "mysql_monitor.broker_binlog_local=binlog")
    md.add_argument("--stream", default=None, metavar="MV_OR_PROJECTION",
                    help="run ONE materialized view — or one aggregate "
                    "PROJECTION (table.name), the in-table MV form — as "
                    "a streaming job (CH fires it per inserted block; "
                    "here the translated select runs per micro-batch and "
                    "each epoch publishes the fully-merged Summing "
                    "store); needs --source, --checkpoint, --output-dir")
    md.add_argument("--source", default=None,
                    help="with --stream: binlog fact-table parquet dir "
                    "to stream from")
    md.add_argument("--checkpoint", default=None,
                    help="with --stream: checkpoint location")
    md.add_argument("--available-now", action="store_true",
                    help="with --stream: drain available input then stop")
    md.add_argument("--metrics", default=None,
                    help="with --stream: append per-epoch query metrics "
                    "JSONL here (same dashboard feed as the other "
                    "streaming commands)")

    an = sub.add_parser(
        "analyze",
        help="run a named registry query (any operator in queries_registry) "
        "over a testdata-layout directory",
    )
    an.add_argument("--data-dir", required=True,
                    help="directory of <table>.parquet files")
    an.add_argument("--output", default=None,
                    help="write result parquet here instead of printing")
    an.add_argument("--limit", type=int, default=20,
                    help="max rows to print (ignored with --output)")
    an.add_argument("--list", action="store_true", dest="list_queries",
                    help="list available query names and exit")
    an.add_argument("--check", action="store_true",
                    help="also run the query's DuckDB oracle twin over the "
                    "same parquet files and report row/schema/value match "
                    "(exit 1 on mismatch) — the driver-style differential "
                    "check as a user-facing tool")
    an.add_argument("--all", action="store_true", dest="check_all",
                    help="with --check: sweep EVERY registry query against "
                    "its oracle (the full driver-style differential run as "
                    "one command; exit 1 if any mismatches)")
    an.add_argument("--only", default=None,
                    help="with --check --all: restrict the sweep to query "
                    "names containing this substring")
    an.add_argument("--explain", action="store_true",
                    help="print the operator's optimized physical plan "
                    "instead of executing")
    an.add_argument("name", nargs="?", default=None,
                    help="registry query name (see --list)")
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.cmd == "migrate-ddl":
        # parsing/planning needs no SparkSession; --execute creates one
        from use_clickhouse_2_analyze_mysql_binlog_spark.functions import (
            ddl_compat,
        )

        text = (
            sys.stdin.read()
            if args.script == "-"
            else open(args.script, encoding="utf-8").read()
        )
        objects, actions = ddl_compat.migrate_script(text)
        print(f"parsed {len(objects)} DDL objects -> {len(actions)} actions")
        for a in actions:
            print(f"\n[{a.kind}] {a.target}")
            print(f"  api:    {a.api}")
            print(f"  detail: {a.detail}")
            if a.sql:
                if args.show_sql:
                    print("  batch twin SQL:")
                    for line in a.sql.splitlines():
                        print(f"    {line}")
                else:
                    first = " ".join(a.sql.split())[:100]
                    print(f"  batch twin SQL: {first}...")
        if args.stream:
            if not (args.source and args.checkpoint and args.output_dir):
                print("migrate-ddl --stream needs --source, --checkpoint "
                      "and --output-dir")
                return 2
            from use_clickhouse_2_analyze_mysql_binlog_spark.schemas import (
                BINLOG_EVENT_SCHEMA,
            )
            from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import (
                rollup_job,
            )

            # an MV name or an aggregate PROJECTION name — projections
            # are the in-table MV form and stream identically
            spec = ddl_compat.stream_spec(objects, args.stream)
            spark = get_spark(app_name="binlog-migrate-ddl")
            if args.metrics:
                from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import (
                    metrics,
                )

                metrics.attach_metrics(spark, args.metrics)
            # the source schema comes from the script's own fact-table
            # DDL when it defines the MV's anchor (columns outside the
            # default binlog schema would otherwise read as all-NULL
            # silently); the engine's binlog schema is only a fallback
            schema = spec["source_schema_ddl"] or BINLOG_EVENT_SCHEMA
            stream = spark.readStream.schema(schema).parquet(args.source)
            store = f"{args.output_dir}/{spec['store_name']}"
            print(
                f"streaming {args.stream} -> {store} "
                f"keys={list(spec['keys'])} metrics={list(spec['metrics'])}"
            )
            q = rollup_job.run_mv_rollup_stream(
                stream,
                spec["select_sql"],
                store,
                args.checkpoint,
                keys=spec["keys"],
                metrics=spec["metrics"],
                state_fns=spec.get("state_fns"),
                source_view=spec["source_view"],
                available_now=args.available_now,
            )
            q.awaitTermination()
            return 0
        if not args.execute:
            return 0
        if not (args.data_dir and args.output_dir):
            print("migrate-ddl --execute needs --data-dir and --output-dir")
            return 2
        from use_clickhouse_2_analyze_mysql_binlog_spark import schemas
        from use_clickhouse_2_analyze_mysql_binlog_spark.functions import (
            ch_compat,
        )

        spark = get_spark(app_name="binlog-migrate-ddl")
        for name in schemas.TESTDATA_TABLES:
            if os.path.exists(f"{args.data_dir}/{name}.parquet"):
                schemas.load_table(
                    spark, args.data_dir, name
                ).createOrReplaceTempView(name)
        if os.path.exists(f"{args.data_dir}/events.parquet"):
            schemas.binlog_view(
                schemas.load_table(spark, args.data_dir, "events")
            ).createOrReplaceTempView("binlog")
        bad = [p for p in args.table_map if "=" not in p]
        if bad:
            print(f"--table-map entries need CH_NAME=VIEW form: {bad}")
            return 2
        table_map = dict(
            pair.split("=", 1) for pair in args.table_map
        )
        # plain views register first (bare name) so the MV twins and
        # constraint checks can select from them
        for o in objects:
            if isinstance(o, ddl_compat.ViewDdl):
                spark.sql(
                    ch_compat.translate(o.select_ch, table_map=table_map)
                ).createOrReplaceTempView(o.name)
                print(f"registered view {o.full_name} as {o.name}")
        # CTAS tables materialize next (and register under their bare
        # name so later MV twins can select from them)
        for o in objects:
            if not (
                isinstance(o, ddl_compat.TableDdl) and o.as_select_ch
            ):
                continue
            dest = f"{args.output_dir}/{o.name}"
            spark.sql(
                ch_compat.translate(o.as_select_ch, table_map=table_map)
            ).write.mode("overwrite").parquet(dest)
            df = spark.read.parquet(dest)
            df.createOrReplaceTempView(o.name)
            print(
                f"created {o.full_name} AS SELECT: rows={df.count()} "
                f"-> {dest}"
            )
        # the POPULATE backfill: each MV's batch twin runs once and
        # writes its store (a Summing store's state is exactly the
        # twin's full-history aggregate — merged, not partial)
        for o in objects:
            if not isinstance(o, ddl_compat.MatViewDdl):
                continue
            dest = f"{args.output_dir}/{o.name}"
            result = spark.sql(
                ch_compat.translate(o.select_ch, table_map=table_map)
            )
            result.write.mode("overwrite").parquet(dest)
            print(
                f"executed {o.full_name}: "
                f"rows={spark.read.parquet(dest).count()} -> {dest}"
            )
        # CONSTRAINT ... CHECK defs run as data-quality checks over the
        # same mapped views (0 violations = the CH invariant holds)
        for o in objects:
            if not isinstance(o, ddl_compat.TableDdl):
                continue
            for cname, cexpr in o.constraints:
                src = (o.full_name if o.full_name in table_map
                       else o.name)
                if not (src in table_map
                        or spark.catalog.tableExists(o.name)):
                    print(f"constraint {o.full_name}.{cname}: skipped "
                          f"(no view for {o.name}; add --table-map)")
                    continue
                n = spark.sql(
                    ch_compat.translate(
                        f"SELECT count(*) AS violations FROM {src} "
                        f"WHERE NOT ({cexpr})",
                        table_map=table_map,
                    )
                ).collect()[0].violations
                print(f"constraint {o.full_name}.{cname}: violations={n}")
        # aggregate PROJECTIONs are in-table MVs: materialize each one's
        # batch twin the same way (sort/column projections are layout
        # advice only — nothing to execute)
        for o in objects:
            if not isinstance(o, ddl_compat.TableDdl):
                continue
            for pr in o.projections:
                if pr.group_by is None:
                    continue
                src = (o.full_name if o.full_name in table_map
                       else o.name)
                if not (src in table_map
                        or spark.catalog.tableExists(o.name)):
                    print(f"projection {o.full_name}.{pr.name}: skipped "
                          f"(no view for {o.name}; add --table-map)")
                    continue
                dest = f"{args.output_dir}/{o.name}__{pr.name}"
                result = spark.sql(
                    ch_compat.translate(
                        pr.batch_twin_ch(src), table_map=table_map
                    )
                )
                # unaliased computed items yield names parquet rejects
                # (parens/spaces); sanitize like CH's own part columns
                result = result.toDF(*[
                    re.sub(r"[ ,;{}()\n\t=]", "_", c)
                    for c in result.columns
                ])
                result.write.mode("overwrite").parquet(dest)
                print(
                    f"materialized projection {o.full_name}.{pr.name}: "
                    f"rows={spark.read.parquet(dest).count()} -> {dest}"
                )
        return 0

    spark = get_spark(app_name=f"binlog-{args.cmd}")

    if getattr(args, "metrics", None):
        from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import metrics

        # session-wide: one listener covers every query the command
        # starts (chain starts four)
        metrics.attach_metrics(spark, args.metrics)

    if args.cmd == "ingest":
        from use_clickhouse_2_analyze_mysql_binlog_spark.sources import canal, kafka
        from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import ingest_job

        constraints = None
        if args.ddl_constraints:
            from use_clickhouse_2_analyze_mysql_binlog_spark.functions import (
                ddl_compat,
            )

            objects = [
                ddl_compat.parse_statement(s)
                for s in ddl_compat.split_statements(
                    open(args.ddl_constraints, encoding="utf-8").read()
                )
            ]
            tables_with = sorted(
                o.full_name
                for o in objects
                if isinstance(o, ddl_compat.TableDdl) and o.constraints
            )
            if len(tables_with) > 1 and args.constraints_table is None:
                # another table's checks reference columns the stream
                # doesn't carry — applying them would crash epoch 1
                print(
                    f"several tables define CONSTRAINTs "
                    f"({tables_with}); pick the stream's table with "
                    "--constraints-table"
                )
                return 2
            constraints = ddl_compat.ddl_constraints(
                objects, table=args.constraints_table
            )
            if not constraints:
                print(f"no CONSTRAINT defs in {args.ddl_constraints}"
                      + (f" for table {args.constraints_table}"
                         if args.constraints_table else ""))
                return 2
            print(
                "constraint gate: "
                + ", ".join(name for name, _ in constraints)
                + f" (on_violation={args.on_violation})"
            )
        cfg = kafka.KafkaSourceConfig(
            bootstrap_servers=args.bootstrap_servers,
            topic=args.topic,
            partition=args.partition,
            offset_mode=args.offset,
            group_id=args.group,
            sasl_username=args.sasl_username,
            sasl_password=args.sasl_password,
            max_offsets_per_trigger=args.sync,
        )
        raw = kafka.read_stream(spark, cfg)
        # canal wire codec; --dead-letter switches the
        # poison-message contract from fail-loud to route-and-drain
        entries = canal.decode_packets(
            raw, on_error="route" if args.dead_letter else "fail"
        )
        q = ingest_job.run_ingest_stream(
            entries,
            args.sink,
            args.checkpoint,
            available_now=args.available_now,
            dead_letter_path=args.dead_letter,
            constraints=constraints,
            quarantine_path=args.quarantine,
            on_violation=args.on_violation,
        )
    elif args.cmd == "dlq-replay":
        from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import ingest_job

        n_ok, n_bad = ingest_job.replay_dead_letters(
            spark, args.dead_letter, args.sink, requeue_path=args.requeue
        )
        print(f"replayed_rows={n_ok} still_bad_packets={n_bad}")
        if n_bad == 0:
            print(
                "all packets decoded — archive the DLQ directory so a "
                "second replay cannot double-append"
            )
        return 0
    elif args.cmd == "window":
        from use_clickhouse_2_analyze_mysql_binlog_spark.schemas import (
            BINLOG_EVENT_SCHEMA,
        )
        from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import window_job

        stream = spark.readStream.schema(BINLOG_EVENT_SCHEMA).parquet(args.source)
        q = window_job.run_window_job(
            stream,
            args.results,
            args.checkpoint,
            window_duration=f"{args.interval} seconds",
            allowed_lateness=args.lateness,
            interval_seconds=args.interval,
            available_now=args.available_now,
        )
    elif args.cmd == "upsert":
        from use_clickhouse_2_analyze_mysql_binlog_spark.schemas import (
            BINLOG_EVENT_SCHEMA,
        )
        from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import upsert_job

        stream = spark.readStream.schema(BINLOG_EVENT_SCHEMA).parquet(args.source)
        q = upsert_job.run_upsert_stream(
            stream,
            args.state,
            args.checkpoint,
            pk_mod=args.pk_mod,
            available_now=args.available_now,
            mode=args.mode,
        )
    elif args.cmd == "dedup-stream":
        from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import (
            incremental_dedup_job,
        )

        doc_schema = spark.read.parquet(args.source).schema
        stream = spark.readStream.schema(doc_schema).parquet(args.source)
        q = incremental_dedup_job.run_incremental_dedup_stream(
            stream,
            args.corpus,
            args.checkpoint,
            threshold=args.threshold,
            available_now=args.available_now,
            gopher=args.gopher,
        )
    elif args.cmd == "chain":
        import os as _os

        from use_clickhouse_2_analyze_mysql_binlog_spark.schemas import (
            BINLOG_EVENT_SCHEMA,
            CANAL_ENTRY_SCHEMA,
        )
        from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import (
            ingest_job,
            rollup_job,
            upsert_job,
            window_job,
        )

        ckpt = args.checkpoint.rstrip("/")
        entries = spark.readStream.schema(CANAL_ENTRY_SCHEMA).parquet(
            args.entries
        )
        iq = ingest_job.run_ingest_stream(
            entries, args.fact, f"{ckpt}/ingest",
            available_now=args.available_now,
        )
        # the fact dir must exist before the downstream file sources start
        # (continuous mode can reach them before ingest's first commit)
        _os.makedirs(args.fact, exist_ok=True)

        def _fact_stream():
            # the day PARTITION column is named explicitly: when the
            # stream starts before ingest's first commit (continuous
            # mode) the dir is empty, so discovery can't append it and a
            # 12-column pinned schema would reject the first real batch
            from pyspark.sql.types import DateType, StructField, StructType

            schema = StructType(  # copy: StructType.add mutates in place
                BINLOG_EVENT_SCHEMA.fields + [StructField("day", DateType())]
            )
            return spark.readStream.schema(schema).parquet(args.fact)

        def _start_downstream():
            keys = (
                ("day", "schema", "table", "event_type")
                if args.by_table
                else ("day", "event_type")
            )
            return [
                upsert_job.run_upsert_stream(
                    _fact_stream(), args.state, f"{ckpt}/upsert",
                    available_now=args.available_now,
                ),
                rollup_job.run_daily_rollup_stream(
                    _fact_stream(), args.rollup, f"{ckpt}/rollup",
                    keys=keys, available_now=args.available_now,
                ),
                window_job.run_window_job(
                    _fact_stream(), args.results, f"{ckpt}/window",
                    window_duration=f"{args.interval} seconds",
                    interval_seconds=args.interval,
                    available_now=args.available_now,
                ),
            ]

        if args.available_now:
            # backfill: drain ingest FIRST so the downstream availableNow
            # snapshots see every committed fact file, then drain the
            # three downstream jobs
            iq.awaitTermination()
            for q in _start_downstream():
                q.awaitTermination()
            return 0
        # continuous: all four queries share the session; downstream
        # discovers new fact files as ingest commits epochs
        _start_downstream()
        spark.streams.awaitAnyTermination()
        return 0
    elif args.cmd == "sessions":
        from use_clickhouse_2_analyze_mysql_binlog_spark.schemas import (
            BINLOG_EVENT_SCHEMA,
        )
        from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import stateful_job

        stream = spark.readStream.schema(BINLOG_EVENT_SCHEMA).parquet(args.source)
        q = stateful_job.run_sessionizer_job(
            stream,
            args.output,
            args.checkpoint,
            gap_seconds=args.gap,
            allowed_lateness=args.lateness,
            available_now=args.available_now,
        )
    elif args.cmd == "maintain":
        from use_clickhouse_2_analyze_mysql_binlog_spark.plans import storage

        if args.ddl:
            from use_clickhouse_2_analyze_mysql_binlog_spark.functions import (
                ddl_compat,
            )

            objects = [
                ddl_compat.parse_statement(s)
                for s in ddl_compat.split_statements(
                    open(args.ddl, encoding="utf-8").read()
                )
            ]
            with_ttl = [
                o
                for o in objects
                if isinstance(o, ddl_compat.TableDdl)
                and (o.ttl_months is not None or o.ttl_days is not None)
                and (
                    args.table is None
                    or args.table in (o.name, o.full_name)
                )
            ]
            if len(with_ttl) != 1:
                print(
                    f"--ddl needs exactly one TTL-bearing table "
                    f"(found {[o.full_name for o in with_ttl]}; "
                    "narrow with --table)"
                )
                return 2
            (o,) = with_ttl
            months, days = o.ttl_months or 0, o.ttl_days or 0
            if o.ttl_to is not None:
                print(f"TTL ... TO {o.ttl_to}: storage tiering — map "
                      "to a lifecycle policy; nothing swept here")
                dropped = []
            elif o.ttl_where is not None:
                out = storage.ttl_row_sweep(
                    spark, args.path, months=months, days=days,
                    where=ddl_compat.constraint_condition_spark(
                        o.ttl_where
                    ),
                )
                print(f"ttl delete-where: rewritten="
                      f"{len(out['rewritten'])} removed="
                      f"{out['rows_before'] - out['rows_after']}")
                dropped = out["rewritten"]
            elif o.ttl_group_by:
                out = storage.ttl_row_sweep(
                    spark, args.path, months=months, days=days,
                    group_by=o.ttl_group_by,
                    set_exprs=tuple(
                        (c, ddl_compat.constraint_condition_spark(e))
                        for c, e in o.ttl_set
                    ),
                )
                print(f"ttl rollup-on-expiry: rewritten="
                      f"{len(out['rewritten'])} collapsed="
                      f"{out['rows_before'] - out['rows_after']}")
                dropped = out["rewritten"]
            else:
                dropped = storage.retention_sweep(
                    args.path, months=months, days=days
                )
        else:
            dropped = storage.retention_sweep(
                args.path, months=args.retention_months
            )
        compacted = (
            []
            if args.skip_compaction
            else storage.compact_day_partitions(
                spark, args.path, target_file_bytes=args.target_file_mb << 20
            )
        )
        print(f"dropped={len(dropped)} compacted={len(compacted)}")
        return 0
    elif args.cmd == "mutate":
        from use_clickhouse_2_analyze_mysql_binlog_spark.functions import (
            ddl_compat,
        )
        from use_clickhouse_2_analyze_mysql_binlog_spark.plans import storage

        obj = ddl_compat.parse_statement(args.statement)
        if isinstance(obj, ddl_compat.MaintenanceDdl):
            if obj.op == "truncate":
                n = storage.truncate_table(args.path)
                print(f"truncated: partitions={n}")
            elif obj.deduplicate:
                out = storage.optimize_deduplicate(
                    spark, args.path, by=obj.dedup_by,
                    partition=obj.partition,
                )
                print(
                    f"optimize deduplicate: partitions="
                    f"{len(out['partitions'])} "
                    f"removed={out['rows_removed']}"
                )
            else:
                compacted = storage.compact_day_partitions(
                    spark, args.path, partition=obj.partition
                )
                print(f"optimize: compacted={len(compacted)}")
            if getattr(obj, "final", False):
                print("FINAL: reads already apply the engine's merge "
                      "semantics; nothing further to rewrite")
            return 0
        if not isinstance(obj, ddl_compat.AlterDdl):
            print("mutate needs an ALTER/OPTIMIZE/TRUNCATE TABLE "
                  "statement")
            return 2
        if obj.action in ("delete", "update"):
            out = storage.mutate_rows(
                spark,
                args.path,
                ddl_compat.constraint_condition_spark(obj.where),
                set_exprs=tuple(
                    (c, ddl_compat.constraint_condition_spark(e))
                    for c, e in obj.set_exprs
                ),
            )
            print(
                f"mutated {obj.action}: partitions="
                f"{len(out['partitions'])} matched={out['rows_matched']}"
            )
        elif obj.action in (
            "drop_partition", "detach_partition", "attach_partition"
        ):
            verb = obj.action.split("_")[0]
            fn = getattr(storage, f"{verb}_partition")
            try:
                ok = fn(args.path, obj.partition)
            except ValueError as e:
                print(str(e))
                return 2
            done = {
                "drop": "dropped", "detach": "detached",
                "attach": "attached",
            }[verb]
            print(
                f"{verb} partition {obj.partition!r}: "
                + (done if ok else "not found")
            )
        else:  # add_column / drop_column: schema evolution, no rewrite
            (act,) = ddl_compat.plan_actions([obj])
            print(f"[{act.kind}] {act.target}\n  api:    {act.api}\n"
                  f"  detail: {act.detail}")
        return 0
    elif args.cmd == "pipeline":
        from pyspark.sql import functions as F  # local: keep CLI import light

        from use_clickhouse_2_analyze_mysql_binlog_spark.operators import (
            curation,
            dedup,
        )

        docs = spark.read.parquet(args.source)
        if args.gopher:
            # 0. hard-rule pre-gate (row-local — folds into the same scan
            #    stage as the quality columns, zero extra shuffles)
            from use_clickhouse_2_analyze_mysql_binlog_spark.operators import (
                text as text_ops,
            )

            docs = text_ops.gopher_gate(docs)
        # 1. quality gate + exact dedup + scrub (2 shuffles)
        curated = curation.curated_documents(
            docs,
            min_quality=args.min_quality,
            min_tokens=args.min_tokens,
            scrub=not args.no_scrub,
        )
        if args.line_dedup_df > 0:
            # 1b. cross-doc boilerplate-line removal: rebuild text minus
            #     lines shared by >= N docs, then re-attach the curated
            #     metadata columns (one doc_id equi-join; the rebuilt
            #     corpus is what shingles into the posting below, so
            #     boilerplate never reaches the near-dup candidates).
            #     Docs whose every line was boilerplate are dropped.
            from use_clickhouse_2_analyze_mysql_binlog_spark.operators import (
                text as text_ops,
            )

            rebuilt = dedup.line_dedup(
                curated, min_df=args.line_dedup_df, keep_empty_docs=False
            ).select("doc_id", "text")
            # n_tokens is recomputed on the REBUILT text (ADVICE r06 #4)
            # so the split report and downstream per-language stats count
            # the shipped corpus, not the pre-dedup one. quality_score
            # intentionally stays the GATE-time score: it records why the
            # document passed curation, and re-scoring post-removal would
            # let boilerplate-heavy docs dodge the quality floor.
            curated = (
                curated.drop("text", "n_tokens")
                .join(rebuilt, "doc_id")
                .withColumn("n_tokens", F.size(text_ops.tokens("text")))
            )
        # 2. near-dup removal over the survivors. The shingle posting is
        #    materialized once to staging first: the LSH pair query then
        #    reads only the pre-hashed posting parquet, so the curated
        #    pipeline (window + scrub) is not recomputed per plan branch
        #    and the raw text is scanned exactly once for shingling.
        staging = args.staging or args.output.rstrip("/") + ".staging"
        posting_path = staging + "/posting"
        dedup.write_shingle_posting(curated, posting_path)
        pairs = dedup.minhash_lsh_pairs(
            curated, threshold=args.threshold, posting_path=posting_path
        )
        clean = dedup.apply_dedup(curated, pairs)
        # 3. deterministic split as a partition column: downstream training
        #    readers prune to their split without scanning the rest
        out = clean.withColumn(
            "split",
            curation.split_assignment(args.val_pct, args.test_pct),
        )
        out.write.mode("overwrite").partitionBy("split", "lang").parquet(
            args.output
        )
        report = (
            spark.read.parquet(args.output)
            .groupBy("split")
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_tokens").cast("long").alias("tokens"),
            )
            .orderBy("split")
            .collect()
        )
        for r in report:
            print(f"{r.split}: docs={r.docs} tokens={r.tokens}")
        return 0
    elif args.cmd == "sql":
        from use_clickhouse_2_analyze_mysql_binlog_spark import schemas

        # register every present table (plus the binlog view over events) so
        # the user's ANSI SQL runs unchanged — the clickhouse-client
        # replacement surface
        for name in schemas.TESTDATA_TABLES:
            if os.path.exists(f"{args.data_dir}/{name}.parquet"):
                schemas.load_table(spark, args.data_dir, name).createOrReplaceTempView(
                    name
                )
        if os.path.exists(f"{args.data_dir}/events.parquet"):
            schemas.binlog_view(
                schemas.load_table(spark, args.data_dir, "events")
            ).createOrReplaceTempView("binlog")
        if args.dialect == "clickhouse":
            from use_clickhouse_2_analyze_mysql_binlog_spark.functions import (
                ch_compat,
            )

            # the reference's qualified names resolve to the binlog view
            table_map = {
                "mysql_monitor.broker_binlog_all": "binlog",
                "mysql_monitor.broker_binlog_local": "binlog",
            }
            translated = ch_compat.translate(args.query, table_map=table_map)
            if args.show_sql:
                print(translated)
            result = spark.sql(translated)
        else:
            if args.show_sql:
                print(args.query)
            result = spark.sql(args.query)
        if args.explain:
            # plan only, no execution: the .explain-and-iterate loop the
            # engine's own operators go through, as a user surface
            result.explain(mode="formatted")
            return 0
        if args.output:
            result.write.mode("overwrite").parquet(args.output)
            print(f"rows={spark.read.parquet(args.output).count()}")
        else:
            result.show(args.limit, truncate=False)
        return 0
    elif args.cmd == "analyze":
        from use_clickhouse_2_analyze_mysql_binlog_spark import queries_registry

        if args.check and args.check_all:
            # full differential sweep — every registry query vs its
            # DuckDB oracle on the same parquet (rows-only queries are
            # executed and row-counted); the driver-style correctness
            # pass as ONE user-facing command
            import duckdb

            from use_clickhouse_2_analyze_mysql_binlog_spark import (
                oracle_compare,
                schemas,
            )

            con = duckdb.connect()
            for t in schemas.TESTDATA_TABLES:
                path = f"{args.data_dir}/{t}.parquet"
                if os.path.exists(path):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            names = [
                n for n in queries_registry.QUERIES
                if args.only is None or args.only in n
            ]
            mismatches: list[str] = []
            for n in names:
                try:
                    pdf = queries_registry.QUERIES[n](
                        spark, args.data_dir
                    ).toPandas()
                    if n not in queries_registry.ORACLES:
                        print(f"{n}: rows-only rows={len(pdf)}")
                        continue
                    v = oracle_compare.compare(
                        pdf, con.sql(queries_registry.ORACLES[n]).fetchdf()
                    )
                    ok = v["values_ok"] and v["schema_ok"]
                    print(f"{n}: rows={v['rows'][0]}/{v['rows'][1]} "
                          f"{'ok' if ok else 'MISMATCH'}")
                    if not ok:
                        mismatches.append(n)
                except Exception as ex:  # keep sweeping; report at the end
                    print(f"{n}: ERROR {str(ex)[:160]}")
                    mismatches.append(n)
            print(f"checked {len(names)} queries; "
                  f"mismatches: {mismatches or 'none'}")
            return 1 if mismatches else 0

        if args.list_queries or args.name is None:
            for name in sorted(queries_registry.QUERIES):
                oracle = "oracle" if name in queries_registry.ORACLES else "rows-only"
                print(f"{name}  [{oracle}]")
            return 0
        if args.name not in queries_registry.QUERIES:
            print(f"unknown query: {args.name} (try --list)")
            return 2
        result = queries_registry.QUERIES[args.name](spark, args.data_dir)
        if args.check:
            if args.name not in queries_registry.ORACLES:
                # rows-only queries still honor --output (ADVICE r05 #4:
                # the early return used to silently skip the write)
                if args.output:
                    result.write.mode("overwrite").parquet(args.output)
                print(f"{args.name}: rows-only (no oracle twin); "
                      f"rows={result.count()}")
                return 0
            import duckdb

            from use_clickhouse_2_analyze_mysql_binlog_spark import (
                oracle_compare,
                schemas,
            )

            con = duckdb.connect()
            for t in schemas.TESTDATA_TABLES:
                path = f"{args.data_dir}/{t}.parquet"
                if os.path.exists(path):
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM '{path}'"
                    )
            # the SAME normalization the test suite's assert_parity uses
            # (None vs NaN, float repr/-0.0; dates must be stringified by
            # the query, as every registry oracle does) — the CLI verdict
            # matches the tested driver contract exactly
            v = oracle_compare.compare(
                result.toPandas(),
                con.sql(queries_registry.ORACLES[args.name]).fetchdf(),
            )
            print(f"{args.name}: rows={v['rows'][0]}/{v['rows'][1]} "
                  f"schema={'ok' if v['schema_ok'] else 'MISMATCH'} "
                  f"values={'ok' if v['values_ok'] else 'MISMATCH'}")
            if args.output:
                result.write.mode("overwrite").parquet(args.output)
            return 0 if v["values_ok"] else 1
        if args.explain:
            result.explain(mode="formatted")
            return 0
        if args.output:
            result.write.mode("overwrite").parquet(args.output)
            print(f"rows={spark.read.parquet(args.output).count()}")
        else:
            result.show(args.limit, truncate=False)
        return 0
    elif args.cmd == "curate":
        from use_clickhouse_2_analyze_mysql_binlog_spark.operators import curation

        docs = spark.read.parquet(args.source)
        curated = curation.curated_documents(
            docs,
            min_quality=args.min_quality,
            min_tokens=args.min_tokens,
            scrub=not args.no_scrub,
        )
        # lang partitioning gives per-language pruning for downstream
        # sampling/training reads; survivors of one lang shard by dedup's
        # content-hash shuffle, so files stay balanced
        curated.write.mode("overwrite").partitionBy("lang").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"curated={n}")
        return 0
    else:
        from use_clickhouse_2_analyze_mysql_binlog_spark.schemas import (
            BINLOG_EVENT_SCHEMA,
        )
        from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import rollup_job

        stream = spark.readStream.schema(BINLOG_EVENT_SCHEMA).parquet(args.source)
        keys = (
            ("day", "schema", "table", "event_type")
            if args.by_table
            else ("day", "event_type")
        )
        q = rollup_job.run_daily_rollup_stream(
            stream,
            args.rollup,
            args.checkpoint,
            keys=keys,
            available_now=args.available_now,
        )

    q.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
