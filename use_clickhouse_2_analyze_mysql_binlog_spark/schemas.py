"""Schemas and table loaders.

The reference declares all schemas as explicit ClickHouse DDL
(``/root/reference/README.md:99-138``); the ingest side produces row dicts
whose keys are hard-coded (``/root/reference/mon_mysql_dml.py:318-330``).
Here both are fixed Spark ``StructType``s (SURVEY.md §1.2-1.3): string-typed
numerics of the reference (``binlog_pos``, ``single_statement_size`` —
``README.md:106,111``) are stored natively as LongType, so the reference's
query-time ``toUInt32`` casts (``compute_transaction_info.py:59``) become
no-ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Binlog fact table — mysql_monitor.broker_binlog_local (README.md:99-118)
# ---------------------------------------------------------------------------

BINLOG_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("schema", T.StringType(), False),
        T.StructField("table", T.StringType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("is_ddl", T.IntegerType(), False),
        T.StructField("binlog_file", T.StringType(), False),
        T.StructField("binlog_pos", T.LongType(), False),
        T.StructField("characterset", T.StringType(), False),
        T.StructField("execute_time", T.TimestampType(), False),
        T.StructField("gtid", T.StringType(), False),
        T.StructField("single_statement_affected_rows", T.LongType(), False),
        T.StructField("single_statement_size", T.LongType(), False),
        T.StructField("ctime", T.TimestampType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Canal wire shape, pre-decode (mon_mysql_dml.py:244-330; FIXTURES.md §2)
# ---------------------------------------------------------------------------

CANAL_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("schemaName", T.StringType(), True),
        T.StructField("tableName", T.StringType(), True),
        T.StructField("logfileName", T.StringType(), True),
        T.StructField("logfileOffset", T.LongType(), True),
        T.StructField("serverenCode", T.StringType(), True),
        T.StructField("executeTime", T.LongType(), True),  # epoch millis
        T.StructField("eventLength", T.LongType(), True),
        T.StructField("gtid", T.StringType(), True),
        T.StructField("eventType", T.IntegerType(), True),  # canal enum
    ]
)

CANAL_ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("entryType", T.StringType(), True),
        T.StructField("header", CANAL_HEADER_SCHEMA, True),
        T.StructField("isDdl", T.BooleanType(), True),
        T.StructField(
            "rowDatas",
            T.ArrayType(T.StructType([T.StructField("dummy", T.IntegerType(), True)])),
            True,
        ),
    ]
)

# Canal protocol EventType enum (public alibaba/canal EntryProtocol.proto);
# the reference maps number -> name via EventType.Name
# (mon_mysql_dml.py:313-314), with the domain listed at
# mon_mysql_dml.py:175-190.
EVENT_TYPE_NAMES: dict[int, str] = {
    1: "INSERT",
    2: "UPDATE",
    3: "DELETE",
    4: "CREATE",
    5: "ALTER",
    6: "ERASE",
    7: "QUERY",
    8: "TRUNCATE",
    9: "RENAME",
    10: "CINDEX",
    11: "DINDEX",
    12: "GTID",
    13: "XACOMMIT",
    14: "XAROLLBACK",
    15: "MHEARTBEAT",
}

# Event types with is_ddl semantics (row_change.isDdl true on the wire —
# mon_mysql_dml.py:322); used by fixtures and the dim table.
DDL_EVENT_TYPES = frozenset(
    {"CREATE", "ALTER", "ERASE", "TRUNCATE", "RENAME", "CINDEX", "DINDEX", "QUERY"}
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns stored as TIMESTAMP(NANOS) in older driver parquet; with
# spark.sql.legacy.parquet.nanosAsLong they arrive as epoch-nanos longs and
# are truncated to microseconds here — exactly what DuckDB does natively, so
# both engines see identical microsecond timestamps.
_NANOS_TS_COLS = {"events": ("ts",)}

#: Footer key under which Spark stores the schema of every parquet file it
#: writes (JSON of a ``StructType``).
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md).

    Works on ANY SparkSession, not just the session.get_spark factory — the
    needed confs are runtime-settable and applied here on the caller's
    session (idempotent) rather than relying on factory-time configuration.
    Two generations of driver testdata are handled:

    - TIMESTAMP(NANOS) files (round <=2), which vanilla Spark rejects with
      PARQUET_TYPE_ILLEGAL: read as epoch-nanos longs (legacy conf) and
      truncated to microsecond timestamps below.
    - naive TIMESTAMP(MICROS) files (isAdjustedToUTC=false, round 3+), which
      Spark 4 reads as TIMESTAMP_NTZ by default: ``unix_millis``/``window``
      arithmetic rejects NTZ, so ``inferTimestampNTZ=false`` reads them as
      plain TIMESTAMP instead. A conf (not a per-column cast) keeps
      min/max/filter pushdown on the timestamp columns intact. Session tz is
      pinned UTC so the naive wall-clock values map to the same instants
      DuckDB's naive semantics produce, on any host.

    The schema comes from the file footer (:func:`parquet_schema`), not from
    Spark's inference, which runs a whole Spark job to read that one footer;
    opening a table therefore launches no job. The footer schema equals the
    inferred one under the confs set here (tests/test_footer_schema.py)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for col in _NANOS_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


def read_parquet(
    spark: SparkSession, path: str, string_partitions: tuple[str, ...] = ()
) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema :func:`parquet_schema`
    reads from the footer, so opening the table launches no Spark job.

    ``string_partitions`` names directory partition columns
    (``.../col=value/...``) to read as strings, verbatim: Spark's partition
    type inference would turn a table named ``0123`` into the int ``123``.
    They come last, as in Spark's own read. When the footer cannot be
    mapped, Spark infers the schema (one job), and the partition columns
    are still declared as strings."""
    schema = parquet_schema(spark, path)
    if schema is None:
        if not string_partitions:
            return spark.read.parquet(path)
        schema = spark.read.parquet(path).schema
    if string_partitions:
        schema = T.StructType(
            [f for f in schema.fields if f.name not in string_partitions]
            + [T.StructField(c, T.StringType()) for c in string_partitions]
        )
    return spark.read.schema(schema).parquet(path)


def parquet_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, read on the driver
    from the footer of the table's first data file — zero Spark jobs.
    Every call reads the footer again; nothing is cached.

    - A file Spark wrote carries its schema as row metadata, which Spark's
      inference returns as is; so does this. Spark makes a file source's
      schema nullable (nested types included) whether it inferred the
      schema or was given it, so the metadata's nullability is kept.
    - Any other file maps its parquet types as Spark's converter does,
      under the session's confs. pyarrow shows both Spark's INT96
      timestamps and real TIMESTAMP(NANOS) columns as ``timestamp[ns]``,
      so timestamps are decided by the parquet physical type: INT96 is a
      timestamp, INT64 nanos a bigint (``nanosAsLong``), naive micros or
      millis TIMESTAMP_NTZ only while ``inferTimestampNTZ`` is on.

    Returns None — the caller lets Spark infer — for a missing, empty or
    unreadable table and for a type outside the mapped set (time,
    duration, nested timestamps, ...). Handles a single file and a
    directory of files, partition subdirectories included; partition
    columns are not part of a file's footer."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    first = next(_parquet_files(path), None)
    if first is None:
        return None
    try:
        with pq.ParquetFile(first) as pf:
            row_metadata = (pf.metadata.metadata or {}).get(_SPARK_ROW_METADATA)
            leaves = [pf.schema.column(i) for i in range(len(pf.schema))]
            arrow_schema = pf.schema_arrow
    except (OSError, pa.lib.ArrowException):
        return None
    if row_metadata is not None:
        try:
            return T.StructType.fromJson(json.loads(row_metadata))
        except ValueError:  # a type this PySpark cannot parse
            return None

    def flag(key: str, default: str) -> bool:
        return spark.conf.get(key, default).lower() == "true"

    confs = {
        "nanos_as_long": flag("spark.sql.legacy.parquet.nanosAsLong", "false"),
        "infer_ntz": flag("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
        "binary_as_string": flag("spark.sql.parquet.binaryAsString", "false"),
        "int96_as_ts": flag("spark.sql.parquet.int96AsTimestamp", "true"),
    }
    top_level = {c.path: c for c in leaves}
    fields = []
    for f in arrow_schema:
        dt = _spark_type(f.type, top_level.get(f.name), confs)
        if dt is None:
            return None
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields)


def _spark_type(t, leaf, confs: dict[str, bool]) -> T.DataType | None:
    """Spark's type for the pyarrow type ``t`` of a non-Spark parquet
    column; ``leaf`` is the parquet column of a top-level primitive (None
    inside nested types). None when the type is not mapped."""
    import json

    import pyarrow as pa

    if pa.types.is_dictionary(t):
        t = t.value_type
    if pa.types.is_timestamp(t):
        if leaf is None:
            return None
        if leaf.physical_type == "INT96":
            return T.TimestampType() if confs["int96_as_ts"] else T.BinaryType()
        logical = json.loads(leaf.logical_type.to_json())
        if logical.get("Type") != "Timestamp":
            return None
        if logical["timeUnit"] == "nanoseconds":
            return T.LongType() if confs["nanos_as_long"] else None
        if not logical["isAdjustedToUTC"] and confs["infer_ntz"]:
            return T.TimestampNTZType()
        return T.TimestampType()
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return T.StringType() if confs["binary_as_string"] else T.BinaryType()
    if pa.types.is_fixed_size_binary(t):
        return T.BinaryType()
    if pa.types.is_decimal128(t):
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        elem = _spark_type(t.value_type, None, confs)
        return None if elem is None else T.ArrayType(elem, True)
    if pa.types.is_map(t):
        key = _spark_type(t.key_type, None, confs)
        value = _spark_type(t.item_type, None, confs)
        if key is None or value is None:
            return None
        return T.MapType(key, value, True)
    if pa.types.is_struct(t):
        fields = [t.field(i) for i in range(t.num_fields)]
        types = [_spark_type(f.type, None, confs) for f in fields]
        if any(x is None for x in types):
            return None
        return T.StructType(
            [T.StructField(f.name, x, True) for f, x in zip(fields, types)]
        )
    return {
        pa.bool_(): T.BooleanType(),
        pa.int8(): T.ByteType(),
        pa.int16(): T.ShortType(),
        pa.int32(): T.IntegerType(),
        pa.int64(): T.LongType(),
        # Spark widens unsigned types: UINT_8 -> short ... UINT_64 -> decimal
        pa.uint8(): T.ShortType(),
        pa.uint16(): T.IntegerType(),
        pa.uint32(): T.LongType(),
        pa.uint64(): T.DecimalType(20, 0),
        pa.float32(): T.FloatType(),
        pa.float64(): T.DoubleType(),
        pa.string(): T.StringType(),
        pa.large_string(): T.StringType(),
        pa.date32(): T.DateType(),
        pa.date64(): T.DateType(),
    }.get(t)


def _parquet_files(path: str):
    """The data files of a parquet table: ``path`` itself, or every
    ``*.parquet`` file under the directory in sorted order, partition
    subdirectories included and ``_``/``.`` names skipped, as Spark does."""
    import os

    if not os.path.isdir(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(root, f)


def parquet_row_count(sf_dir: str, name: str) -> int | None:
    """Exact row count from parquet FOOTER metadata — zero Spark jobs.

    ``num_rows`` is part of the parquet contract (== ``count(*)``), so
    callers that only need a corpus size for a derivation (e.g. the
    scaled IVF centroid count) can skip the driver-side ``count()`` job
    the r11 bench gate flagged at sf0.1. Handles both the single-file
    driver testdata layout and bench_replicate.py's directory layout;
    returns None for anything unreadable (callers fall back to
    ``df.count()``)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in _parquet_files(os.path.join(sf_dir, f"{name}.parquet"))
        )
    except (OSError, pa.lib.ArrowException):
        # ADVICE r13 low: catch exactly the unreadable-input classes —
        # pyarrow raises ArrowInvalid (an ArrowException, NOT an OSError)
        # on a corrupt/truncated footer, and missing/permission paths
        # raise OSError. Programming errors still propagate instead of
        # silently degrading every caller to the df.count() fallback.
        return None


def binlog_view(events: DataFrame) -> DataFrame:
    """Map the driver's generic ``events`` table onto the binlog fact schema.

    The driver testdata has no binlog-shaped table, so correctness queries run
    the reference's analytics over a deterministic column mapping (documented
    here, mirrored exactly in the DuckDB oracle SQL):

    ====================  =========================================
    binlog column          derivation from ``events``
    ====================  =========================================
    gtid                   ``concat('txn-', user_id)``
    execute_time           ``ts``
    binlog_pos             ``event_id`` (strictly increasing)
    single_statement_size  ``cast(floor(value * 100) as long)``
    affected_rows          ``cast(floor(value) as long) + 1``
    event_type             ``upper(event_type)``
    schema / table         constant 'appdb' / ``concat('t_', user_id % 4)``
    binlog_file            ``concat('mysql-bin.', user_id % 3)``
    ====================  =========================================

    ``floor`` is explicit because Spark truncates double→long while DuckDB
    rounds; both engines floor identically (IEEE doubles).
    """
    return events.select(
        F.lit("appdb").alias("schema"),
        F.concat(F.lit("t_"), (F.col("user_id") % 4).cast("string")).alias("table"),
        F.upper("event_type").alias("event_type"),
        F.lit(0).alias("is_ddl"),
        F.concat(F.lit("mysql-bin."), (F.col("user_id") % 3).cast("string")).alias(
            "binlog_file"
        ),
        F.col("event_id").alias("binlog_pos"),
        F.lit("utf8mb4").alias("characterset"),
        F.col("ts").alias("execute_time"),
        F.concat(F.lit("txn-"), F.col("user_id").cast("string")).alias("gtid"),
        (F.floor(F.col("value")) + F.lit(1)).cast("long").alias(
            "single_statement_affected_rows"
        ),
        F.floor(F.col("value") * 100).cast("long").alias("single_statement_size"),
        F.col("ts").alias("ctime"),
    )


def canal_entries_view(events: DataFrame) -> DataFrame:
    """Deterministic CANAL_ENTRY_SCHEMA rows derived from ``events``.

    Stands in for decoded canal protobuf (FIXTURES.md §2) so the ingest
    transform (sources/transform.py) can be oracle-checked on driver
    testdata. Every derivation is plain arithmetic on event columns and is
    mirrored in SQL by the oracle (queries_registry).

    ~2% of rows become TRANSACTIONBEGIN entries (dropped by the transform,
    P1); eventType cycles through the full canal enum domain 1..15.
    """
    event_type_id = (F.col("event_id") % 15 + 1).cast("int")
    ddl_ids = [i for i, n in EVENT_TYPE_NAMES.items() if n in DDL_EVENT_TYPES]
    return events.select(
        F.when(F.col("event_id") % 50 == 0, "TRANSACTIONBEGIN")
        .otherwise("ROWDATA")
        .alias("entryType"),
        F.struct(
            F.lit("appdb").alias("schemaName"),
            F.concat(F.lit("t_"), (F.col("user_id") % 4).cast("string")).alias(
                "tableName"
            ),
            F.concat(F.lit("mysql-bin."), (F.col("user_id") % 3).cast("string")).alias(
                "logfileName"
            ),
            F.col("event_id").alias("logfileOffset"),
            F.lit("UTF-8").alias("serverenCode"),
            F.unix_millis(F.col("ts")).alias("executeTime"),
            F.floor(F.col("value") * 100).cast("long").alias("eventLength"),
            F.concat(F.lit("txn-"), F.col("user_id").cast("string")).alias("gtid"),
            event_type_id.alias("eventType"),
        ).alias("header"),
        event_type_id.isin(ddl_ids).alias("isDdl"),
        F.array_repeat(
            F.struct(F.lit(0).alias("dummy")), (F.col("event_id") % 5 + 1).cast("int")
        ).alias("rowDatas"),
    )


# The same mapping as ANSI SQL, for composing DuckDB oracle queries.
BINLOG_VIEW_SQL = """
SELECT
  'appdb'                                         AS "schema",
  concat('t_', CAST(user_id % 4 AS VARCHAR))      AS "table",
  upper(event_type)                               AS event_type,
  0                                               AS is_ddl,
  concat('mysql-bin.', CAST(user_id % 3 AS VARCHAR)) AS binlog_file,
  event_id                                        AS binlog_pos,
  'utf8mb4'                                       AS characterset,
  ts                                              AS execute_time,
  concat('txn-', CAST(user_id AS VARCHAR))        AS gtid,
  CAST(floor(value) AS BIGINT) + 1                AS single_statement_affected_rows,
  CAST(floor(value * 100) AS BIGINT)              AS single_statement_size,
  ts                                              AS ctime
FROM events
"""
