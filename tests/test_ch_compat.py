"""ClickHouse dialect translation: the reference user's OWN SQL strings
must run on Spark and produce the same answers an independent computation
gives. The query texts mirror the reference's f-string SQL
(compute_transaction_info.py:53-66 shape, README.md:174-184 MV select) —
that SQL is the migration surface, so running it verbatim IS the test."""

import duckdb
import pytest

from pyspark.sql import functions as F

from use_clickhouse_2_analyze_mysql_binlog_spark import schemas
from use_clickhouse_2_analyze_mysql_binlog_spark.functions import ch_compat
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def binlog_view(spark):
    b = schemas.binlog_view(schemas.load_table(spark, SF_DIR, "events"))
    b.createOrReplaceTempView("binlog")
    return b


def test_translate_function_table():
    t = ch_compat.translate
    assert t("toUInt32(binlog_pos)") == "bigint(binlog_pos)"
    assert t("argMax(size, pos)") == "max_by(size, pos)"
    assert t("count()") == "count(*)"
    assert t("countIf(x > 1)") == "count_if(x > 1)"
    assert t("sumIf(x, y > 1)") == "sum(if(y > 1, x, 0))"
    assert t("quantile(0.5)(x)") == "percentile(x, 0.5)"
    assert t("uniqExact(gtid)") == "count(DISTINCT gtid)"
    assert t("uniq(gtid)") == "approx_count_distinct(gtid)"
    assert t("intDiv(a, b)") == "(a div b)"
    assert t("SELECT 1 FROM t FINAL SETTINGS max_threads = 4").strip() == (
        "SELECT 1 FROM t"
    )
    assert t(
        "max(execute_time) - min(execute_time)"
    ) == "(unix_timestamp(max(execute_time)) - unix_timestamp(min(execute_time)))"
    assert t(
        "toStartOfInterval(ts, INTERVAL 5 MINUTE)",
    ) == "window(ts, '5 minute').start"
    assert (
        t("FROM mysql_monitor.broker_binlog_all",
          table_map={"mysql_monitor.broker_binlog_all": "binlog"})
        == "FROM binlog"
    )


# the reference's per-window transaction query, verbatim shape
# (compute_transaction_info.py:53-66) with the window bounds inlined
REFERENCE_TXN_SQL = """
        SELECT
            toDateTime('{end}') AS end_time,
            '{interval}' AS invertal,
            gtid,
            max(execute_time) - min(execute_time) AS transaction_spend_time,
            (max(toUInt32(binlog_pos)) - min(toUInt32(binlog_pos))) + argMax(toUInt32(single_statement_size), toUInt32(binlog_pos)) AS transaction_size,
            sum(single_statement_affected_rows) AS transaction_affected_rows
        FROM mysql_monitor.broker_binlog_all
        WHERE (execute_time >= '{start}') AND (execute_time < '{end}')
        GROUP BY gtid
        ORDER BY transaction_size DESC
        LIMIT 1
"""


def test_reference_transaction_query_runs_translated(spark, binlog_view):
    start, end = "2024-01-01 00:00:00", "2024-01-16 00:00:00"
    got = ch_compat.run_clickhouse_sql(
        spark,
        REFERENCE_TXN_SQL.format(start=start, end=end, interval=300),
        table_map={"mysql_monitor.broker_binlog_all": "binlog"},
    ).collect()
    assert len(got) == 1
    r = got[0]

    # independent expectation: DuckDB over the identical view rows
    pdf = binlog_view.select(
        "gtid", "execute_time", "binlog_pos",
        "single_statement_size", "single_statement_affected_rows",
    ).toPandas()
    con = duckdb.connect()
    con.register("b", pdf)
    stats = con.sql(f"""
        SELECT gtid,
               CAST(floor(epoch(max(execute_time))) -
                    floor(epoch(min(execute_time))) AS BIGINT) AS spend,
               (max(binlog_pos) - min(binlog_pos))
                 + max_by(single_statement_size, binlog_pos) AS size,
               CAST(sum(single_statement_affected_rows) AS BIGINT) AS aff
        FROM b WHERE execute_time >= TIMESTAMP '{start}'
                 AND execute_time < TIMESTAMP '{end}'
        GROUP BY gtid
    """).fetchall()
    by_gtid = {g: (sp, sz, af) for g, sp, sz, af in stats}
    # the translated LIMIT 1 row is the global max-size transaction...
    assert r.transaction_size == max(sz for _, sz, _ in by_gtid.values())
    # ...and its own stats are exactly the independent computation's
    sp, sz, af = by_gtid[r.gtid]
    assert (r.transaction_spend_time, r.transaction_size,
            r.transaction_affected_rows) == (sp, sz, af)
    assert str(r.end_time) == end
    assert r.invertal == "300"


# the reference's daily-count MV select, verbatim (README.md:174-184)
REFERENCE_MV_SQL = """
SELECT
    toDate(execute_time) AS day,
    event_type,
    count(*) AS event_count
FROM mysql_monitor.broker_binlog_local
GROUP BY
    day,
    event_type
ORDER BY
    day ASC,
    event_type ASC
"""


def test_reference_mv_select_matches_rollup(spark, binlog_view):
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import rollups

    got = ch_compat.run_clickhouse_sql(
        spark,
        REFERENCE_MV_SQL,
        table_map={"mysql_monitor.broker_binlog_local": "binlog"},
    )
    want = rollups.daily_event_counts(binlog_view)
    g = {(str(r.day), r.event_type): r.event_count for r in got.collect()}
    w = {(r.day, r.event_type): r.event_count for r in want.collect()}
    assert g == w


def test_translate_extended_functions():
    t = ch_compat.translate
    assert t("multiIf(a > 1, 'x', b > 2, 'y', 'z')") == (
        "(CASE WHEN a > 1 THEN 'x' WHEN b > 2 THEN 'y' ELSE 'z' END)"
    )
    assert t("has(tags, 'ddl')") == "array_contains(tags, 'ddl')"
    assert t("indexOf(tags, 'ddl')") == "array_position(tags, 'ddl')"
    assert t("toYYYYMM(execute_time)") == (
        "int(date_format(execute_time, 'yyyyMM'))"
    )
    assert t("empty(gtid)") == "(length(gtid) = 0)"
    assert t("notEmpty(gtid)") == "(length(gtid) > 0)"
    assert t("modulo(a, 4)") == "(a % 4)"


def test_translated_extended_sql_executes(spark, binlog_view):
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT toYYYYMM(execute_time) AS ym, "
        "countIf(notEmpty(gtid)) AS nonempty, "
        "multiIf(count() > 100, 'big', 'small') AS bucket "
        "FROM binlog GROUP BY ym ORDER BY ym",
    ).collect()
    assert got and got[0].ym == 202401 and got[0].nonempty > 0


def test_string_literals_survive_translation():
    t = ch_compat.translate
    # quoted text that LOOKS like CH functions must pass through verbatim
    assert t("SELECT 'argMax(x)' AS note") == "SELECT 'argMax(x)' AS note"
    assert t("WHERE msg = 'use toUInt32() here'") == (
        "WHERE msg = 'use toUInt32() here'"
    )
    # while the same tokens outside quotes still translate
    assert t("SELECT argMax(a, b), 'argMax(a, b)'") == (
        "SELECT max_by(a, b), 'argMax(a, b)'"
    )
    # doubled-quote escapes stay intact
    assert t("SELECT 'it''s count()'") == "SELECT 'it''s count()'"
    # backslash escapes too (ADVICE r03): the escaped quote must not end
    # the literal early and expose its contents to the rename pass
    assert t(r"SELECT 'don\'t use argMax(x)'") == r"SELECT 'don\'t use argMax(x)'"
    assert t(r"SELECT argMax(a, b), 'a \\' , 'b', toUInt32(c)") == (
        r"SELECT max_by(a, b), 'a \\' , 'b', bigint(c)"
    )


def test_translate_idempotent_over_generated_expressions():
    """Property: translation is idempotent (a translated query re-entering
    the translator — e.g. via a saved-views round trip — must not change
    again), and no CH-only tokens survive a pass."""
    from hypothesis import given, settings, strategies as st

    cols = st.sampled_from(["gtid", "binlog_pos", "execute_time", "x"])
    lits = st.sampled_from(["'a b'", "'argMax(q)'", "42", "0.5"])
    atoms = st.one_of(cols, lits)

    def wrap(inner):
        return st.one_of(
            st.tuples(st.sampled_from(
                ["toUInt32", "toDate", "argMax2", "countIf", "uniqExact",
                 "empty", "toYYYYMM"]), inner).map(
                lambda t: f"{t[0].rstrip('2')}({t[1]}"
                + (f", {t[1]})" if t[0].endswith("2") else ")")
            ),
            st.tuples(inner, inner).map(lambda t: f"multiIf({t[0]} > 1, {t[1]}, {t[1]})"),
            # round-6 operator-function aliases (incl. the infix-keyword
            # collision class: 2-arg and/or are calls, 1-arg is SQL's
            # infix keyword + parenthesized operand and must survive)
            st.tuples(st.sampled_from(
                ["plus", "minus", "equals", "less", "and", "or"]),
                inner, inner).map(lambda t: f"{t[0]}({t[1]}, {t[2]})"),
            inner.map(lambda x: f"negate({x})"),
            inner.map(lambda x: f"x BETWEEN 1 and ({x})"),
        )

    exprs = st.recursive(atoms, wrap, max_leaves=6)

    @settings(max_examples=80, deadline=None)
    @given(exprs)
    def check(e):
        sql = f"SELECT {e} FROM t"
        once = ch_compat.translate(sql)
        assert ch_compat.translate(once) == once
        body = re.sub(r"'(?:[^']|'')*'", "", once)  # ignore literals
        for tok in ("toUInt32(", "argMax(", "countIf(", "uniqExact(",
                    "multiIf(", "toYYYYMM(", "plus(", "minus(", "equals(",
                    "negate("):
            assert tok not in body, (sql, once)
        # the infix keyword form survives verbatim
        if "BETWEEN 1 and (" in sql:
            assert "BETWEEN 1 and (" in once, (sql, once)

    check()


def test_round7_everyday_batch(spark):
    """r07 final batch: array folds, tokenizers, finiteness, tuple
    access, readable sizes — value-asserted end-to-end on Spark."""
    d = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT arrayCompact([1,1,2,2,1]) AS ac, arraySum([1,2,3]) AS s, "
        "arrayAvg([1,2,3]) AS av, arrayProduct([2,3]) AS pr, "
        "arrayReverseSort([3,1,2]) AS rs, arrayEnumerate([9,9]) AS en, "
        "countEqual([1,2,1], 1) AS ce, arrayResize([1,2], 4, 0) AS rz, "
        "splitByWhitespace(' a  b ') AS sw, tokens('a-b_c') AS tk, "
        "ngrams('abcd', 2) AS ng, ngrams('ab', 5) AS ngs, "
        "multiSearchAny('hello', ['xx','ell']) AS ms, "
        "positionCaseInsensitive('Hello', 'he') AS pc, "
        "countSubstrings('ababab', 'ab') AS cs, "
        "formatReadableSize(1536) AS fr, formatReadableSize(0) AS fr0, "
        "formatReadableSize(1073741824) AS frg, "
        "bitTest(5, 0) AS bt, bitTest(5, 1) AS bt1, "
        "toRelativeDayNum(toDate('1970-01-03')) AS rd, "
        "isFinite(1.0) AS fi, isFinite(exp2(10000)) AS fi0, "
        "isInfinite(exp2(10000)) AS ii, ifNotFinite(exp2(10000), 42.0) AS nf, "
        "exp2(3) AS e2, tupleElement(tuple(1, 'x'), 2) AS te, "
        "emptyArrayString() AS ea, xxHash64('a') AS xh, reverseUTF8('ab') AS rv",
    ).collect()[0].asDict()
    expect = dict(
        ac=[1, 2, 1], s=6.0, av=2.0, pr=6.0, rs=[3, 2, 1], en=[1, 2],
        ce=2, rz=[1, 2, 0, 0], sw=["a", "b"], tk=["a", "b", "c"],
        ng=["ab", "bc", "cd"], ngs=[], ms=True, pc=1, cs=3,
        fr="1.50 KiB", fr0="0.00 B", frg="1.00 GiB", bt=1, bt1=0, rd=2,
        fi=True, fi0=False, ii=True, nf=42.0, e2=8.0, te="x", ea=[],
        rv="ba",
    )
    for k, v in expect.items():
        got = d[k]
        got = list(got) if isinstance(got, (list, tuple)) else got
        assert got == v, (k, got, v)
    assert isinstance(d["xh"], int)

    # loud residue
    import pytest

    t = ch_compat.translate
    with pytest.raises(ValueError, match="explicit filler"):
        t("SELECT arrayResize(a, 4)")
    with pytest.raises(ValueError, match="comparator lambda"):
        t("SELECT arrayReverseSort(x -> -x, a)")
    with pytest.raises(ValueError, match="literal index or name"):
        t("SELECT tupleElement(tp, n)")

    # tupleElement by NAME reaches through a named struct
    r = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT tupleElement(named_struct('a', 7, 'b', 8), 'b') AS v",
    ).collect()[0]
    assert r.v == 8


def test_translate_idempotent_over_join_rewrites():
    """The r07 join rewrites are idempotent too: their output (LATERAL
    VIEW / zip_with / neighbor-window subqueries) re-entering the
    translator must pass through unchanged."""
    for q in (
        "SELECT l.a, r.b FROM l ASOF LEFT JOIN r ON l.k = r.k "
        "AND l.t >= r.t",
        "SELECT l.a, r.b FROM l ASOF JOIN r ON l.k = r.k AND r.t <= l.t",
        "SELECT k, lv, rv FROM anyl ANY LEFT JOIN anyr USING (k)",
        "SELECT id, x, y FROM t ARRAY JOIN arr AS x, brr AS y",
        "SELECT id, arr FROM t ARRAY JOIN arr",
        "SELECT id, x FROM t LEFT ARRAY JOIN arr AS x",
    ):
        once = ch_compat.translate(q)
        assert ch_compat.translate(once) == once, q


import re  # noqa: E402  (used by the property test above)


def test_array_function_mappings(spark, binlog_view):
    t = ch_compat.translate
    assert t("arrayJoin(tags)") == "explode(tags)"
    assert t("groupArray(x)") == "collect_list(x)"
    assert t("groupUniqArray(x)") == "collect_set(x)"
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT gtid, arraySort(groupUniqArray(event_type)) AS types "
        "FROM binlog GROUP BY gtid ORDER BY gtid LIMIT 1",
    ).collect()
    assert got and isinstance(got[0].types, list) and got[0].types == sorted(got[0].types)


def test_translate_dashboard_time_bucketing():
    """The Grafana time-bucketing idioms (VERDICT r03 #6)."""
    t = ch_compat.translate
    assert t("toStartOfHour(ts)") == "date_trunc('HOUR', ts)"
    assert t("toStartOfMinute(ts)") == "date_trunc('MINUTE', ts)"
    assert t("toStartOfFiveMinutes(ts)") == "window(ts, '5 minutes').start"
    assert t("toYYYYMMDD(ts)") == "int(date_format(ts, 'yyyyMMdd'))"
    # CH DateTime - integer is seconds arithmetic; the bare subtraction
    # fails Spark analysis (DATATYPE_MISMATCH), so it must become
    # timestampadd (ADVICE r04)
    assert t("WHERE ts >= now() - 3600") == (
        "WHERE ts >= timestampadd(SECOND, -3600, current_timestamp())"
    )
    assert t("WHERE d = today()") == "WHERE d = current_date()"
    assert t("WHERE d = yesterday()") == "WHERE d = date_sub(current_date(), 1)"
    # nested inside other calls and aliases
    assert t("SELECT toString(toStartOfHour(ts)) AS h") == (
        "SELECT string(date_trunc('HOUR', ts)) AS h"
    )


def test_dashboard_rollup_query_matches_independent_computation(spark):
    """The registry's ch_dashboard_rollup — CH SQL through the translator —
    must agree with a hand-written DataFrame computation."""
    from use_clickhouse_2_analyze_mysql_binlog_spark import queries_registry as R

    got = {
        (r.hour_start, r.ymd, r.event_type): (r.cnt, r.unique_users, r.max_value)
        for r in R.QUERIES["ch_dashboard_rollup"](spark, SF_DIR).collect()
    }
    events = schemas.load_table(spark, SF_DIR, "events")
    want = {
        (r.hour_start, r.ymd, r.event_type): (r.cnt, r.unique_users, r.max_value)
        for r in events.filter(F.col("event_type") != "error")
        .groupBy(
            F.date_trunc("HOUR", "ts").cast("string").alias("hour_start"),
            F.date_format("ts", "yyyyMMdd").cast("int").alias("ymd"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("user_id").alias("unique_users"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_translate_limit_by_shape():
    """CH LIMIT n BY -> row_number window subquery (reference's own
    top-1-per-group family, compute_transaction_info.py:64-65)."""
    t = ch_compat.translate(
        "SELECT dt, gtid, size FROM binlog "
        "ORDER BY size DESC, gtid LIMIT 1 BY dt"
    )
    assert t == (
        "SELECT * EXCEPT (__rn) FROM ("
        "SELECT *, row_number() OVER "
        "(PARTITION BY dt ORDER BY size DESC, gtid) AS __rn "
        "FROM (SELECT dt, gtid, size FROM binlog)"
        ") WHERE __rn <= 1 ORDER BY size DESC, gtid"
    )
    # trailing overall LIMIT is preserved after the window filter
    t2 = ch_compat.translate(
        "SELECT a, b FROM t ORDER BY b LIMIT 2 BY a LIMIT 10"
    )
    assert t2.endswith("WHERE __rn <= 2 ORDER BY b LIMIT 10")
    # no ORDER BY: any-n-per-group contract, deterministic on group exprs
    t3 = ch_compat.translate("SELECT a, b FROM t LIMIT 1 BY a")
    assert "PARTITION BY a ORDER BY a" in t3 and not t3.endswith("ORDER BY a")


def test_limit_by_executes_and_matches_window(spark):
    """Translated LIMIT 1 BY against events must equal an independent
    DataFrame row_number computation."""
    schemas.load_table(spark, SF_DIR, "events").createOrReplaceTempView(
        "events_v"
    )
    got = sorted(
        (r.event_type, r.event_id, r.value)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT event_type, event_id, value FROM events_v "
            "ORDER BY value DESC, event_id LIMIT 1 BY event_type",
        ).collect()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), "event_id"
    )
    want = sorted(
        (r.event_type, r.event_id, r.value)
        for r in schemas.load_table(spark, SF_DIR, "events")
        .select("event_type", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
        .collect()
    )
    assert got == want and len(got) > 0


def test_translate_relative_time_and_week_and_format():
    t = ch_compat.translate
    # column ± integer (CH seconds arithmetic) for known ts columns
    assert t("WHERE execute_time > ctime + 60") == (
        "WHERE timestampadd(SECOND, 60, execute_time) > "
        "timestampadd(SECOND, 60, ctime)"
    ) or t("WHERE ctime + 60 < now()") == (
        "WHERE timestampadd(SECOND, 60, ctime) < current_timestamp()"
    )
    assert t("toStartOfWeek(ts)") == (
        "date_sub(to_date(ts), dayofweek(ts) - 1)"
    )
    assert t("toStartOfWeek(ts, 1)") == "to_date(date_trunc('WEEK', ts))"
    assert t("formatDateTime(ts, '%Y-%m-%d %H:%i:%S')") == (
        "date_format(ts, 'yyyy-MM-dd HH:mm:ss')"
    )
    # literal letters get quoted for the Java formatter AND the quotes
    # are escaped for the enclosing SQL literal (runnability pinned in
    # test_format_datetime_literal_letters_execute)
    assert t("formatDateTime(ts, '%YT%m')") == (
        "date_format(ts, 'yyyy\\'T\\'MM')"
    )


def test_relative_time_runs_on_spark(spark):
    """The ADVICE r04 point: the translated relative-time filter must
    actually analyze and execute on a live session."""
    schemas.load_table(spark, SF_DIR, "events").createOrReplaceTempView(
        "events_v"
    )
    df = ch_compat.run_clickhouse_sql(
        spark, "SELECT count() AS n FROM events_v WHERE ts >= now() - 3600"
    )
    assert df.collect()[0]["n"] == 0  # testdata is historical


def test_format_datetime_executes(spark, binlog_view):
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT formatDateTime(max(execute_time), '%Y%m%d') AS d FROM binlog",
    ).collect()[0]["d"]
    want = binlog_view.agg(
        F.date_format(F.max("execute_time"), "yyyyMMdd").alias("d")
    ).collect()[0]["d"]
    assert got == want


def test_translate_prewhere_folds_into_where():
    """CH PREWHERE is the hand-rolled scan predicate; on Spark the same
    work is predicate pushdown, so it folds into WHERE (both kept when
    the query has each)."""
    t = ch_compat.translate
    assert t("SELECT a FROM t PREWHERE x > 1") == (
        "SELECT a FROM t WHERE x > 1"
    )
    got = t(
        "SELECT a FROM t PREWHERE x > 1 WHERE y = 2 GROUP BY a"
    )
    assert got == "SELECT a FROM t WHERE (x > 1) AND (y = 2) GROUP BY a"


def test_prewhere_and_any_execute(spark, binlog_view):
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT gtid, any(binlog_file) AS f, anyLast(characterset) AS cs, "
        "count() AS n FROM binlog PREWHERE binlog_pos > 100 "
        "WHERE event_type != 'X' GROUP BY gtid",
    )
    want = (
        binlog_view.filter((F.col("binlog_pos") > 100) & (F.col("event_type") != "X"))
        .groupBy("gtid")
        .agg(
            F.any_value("binlog_file").alias("f"),
            F.any_value("characterset").alias("cs"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    g = {r.gtid: r.n for r in got.collect()}
    w = {r.gtid: r.n for r in want.collect()}
    assert g == w and len(g) > 0


def test_translate_batch3_shapes():
    t = ch_compat.translate
    assert t("SELECT toYear(ts), toDayOfWeek(ts) FROM t") == (
        "SELECT year(ts), (weekday(ts) + 1) FROM t"
    )
    # the emitted literal is '\\Q' in SQL text; Spark's parser unescapes
    # it to the regex \Q (verified runnable in test_batch3_executes)
    assert t("SELECT splitByChar('|', s) FROM t") == (
        "SELECT split(s, concat('\\\\Q', '|', '\\\\E')) FROM t"
    )
    assert t("WHERE match(s, '^a.*b$')") == "WHERE (s RLIKE '^a.*b$')"
    assert t("SELECT position(s, 'x') FROM t") == "SELECT instr(s, 'x') FROM t"
    # SQL-standard position(needle IN haystack) passes through untouched
    assert t("SELECT position('x' IN s) FROM t") == (
        "SELECT position('x' IN s) FROM t"
    )
    assert t("SELECT ifNull(a, 0), nullIf(a, b), assumeNotNull(a)") == (
        "SELECT coalesce(a, 0), nullif(a, b), a"
    )
    assert t("SELECT toStartOfQuarter(ts)") == (
        "SELECT to_date(date_trunc('QUARTER', ts))"
    )


def test_batch3_executes_and_matches(spark, binlog_view):
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT toYear(execute_time) AS y, toDayOfWeek(execute_time) AS dow, "
        "position(gtid, 'txn') AS p, "
        "splitByChar('-', gtid)[2] AS uid, "  # CH subscripts are 1-based
        "count() AS n "
        "FROM binlog GROUP BY y, dow, p, uid",
    )
    want = (
        binlog_view.groupBy(
            F.year("execute_time").alias("y"),
            (F.weekday("execute_time") + 1).alias("dow"),
            F.instr("gtid", "txn").alias("p"),
            F.split("gtid", "-").getItem(1).alias("uid"),  # 0-based getItem
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0
    # CH dow contract: Monday=1..Sunday=7
    dows = {r.dow for r in got.collect()}
    assert dows <= set(range(1, 8))


def test_review_fixes_round5():
    """Regression pins for the round-5 self-review findings."""
    t = ch_compat.translate
    # formatDateTime with literal letters: the emitted SQL literal must
    # escape the formatter quotes or the query cannot parse
    assert t("SELECT formatDateTime(ts, '%YT%m')") == (
        "SELECT date_format(ts, 'yyyy\\'T\\'MM')"
    )
    # nested-paren ORDER BY must survive into the LIMIT BY window
    got = t("SELECT g, v FROM t ORDER BY abs(least(v, 0)) DESC LIMIT 1 BY g")
    assert "ORDER BY abs(least(v, 0)) DESC) AS __rn" in got, got
    # CH 1-based subscripts shift down; masked string keys untouched
    assert t("SELECT arr[1], m['k1'] FROM t") == (
        "SELECT arr[0], m['k1'] FROM t"
    )
    # 3-arg position translates to locate with the first two roles
    # swapped (r07; previously loud — passing through would hit Spark's
    # position(substr, str, pos) with silently-swapped roles)
    assert t("SELECT position(s, 'x', 3) FROM t") == (
        "SELECT locate('x', s, 3) FROM t"
    )


def test_format_datetime_literal_letters_execute(spark, binlog_view):
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT formatDateTime(max(execute_time), '%YT%H') AS d FROM binlog",
    ).collect()[0]["d"]
    want = binlog_view.agg(
        F.date_format(F.max("execute_time"), "yyyy'T'HH").alias("d")
    ).collect()[0]["d"]
    assert got == want and "T" in got


def test_limit_by_nested_paren_order_executes(spark, binlog_view):
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT gtid, binlog_pos, single_statement_size FROM binlog "
        "ORDER BY abs(least(single_statement_size, 0)) DESC, binlog_pos "
        "LIMIT 1 BY gtid",
    )
    from pyspark.sql import Window as W

    want = (
        binlog_view.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("gtid").orderBy(
                    F.abs(F.least("single_statement_size", F.lit(0))).desc(),
                    "binlog_pos",
                )
            ),
        )
        .filter("rn = 1")
        .select("gtid", "binlog_pos", "single_statement_size")
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0


def test_quantiles_plural_executes(spark, binlog_view):
    t = ch_compat.translate("quantiles(0.5, 0.9)(single_statement_size)")
    assert t == "percentile(single_statement_size, array(0.5, 0.9))"
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT quantiles(0.5, 0.9)(single_statement_size) AS qs FROM binlog",
    ).collect()[0]["qs"]
    want = binlog_view.agg(
        F.percentile("single_statement_size", F.array(F.lit(0.5), F.lit(0.9)))
        .alias("qs")
    ).collect()[0]["qs"]
    assert list(got) == list(want) and len(got) == 2


def test_subscript_shift_postfix_only():
    """Second-review pins: array LITERALS keep their values; only postfix
    subscripts shift; CH's arr[0] default-read fails loudly."""
    t = ch_compat.translate
    assert t("SELECT has([5], x) FROM t") == (
        "SELECT array_contains(array(5), x) FROM t"
    )
    assert t("SELECT [1, 2][2] FROM t") == "SELECT array(1, 2)[1] FROM t"
    assert t("SELECT [[1], [2, 3]] FROM t") == (
        "SELECT array(array(1), array(2, 3)) FROM t"
    )
    assert t("SELECT f(arr)[3], arr[1] FROM t") == (
        "SELECT f(arr)[2], arr[0] FROM t"
    )
    import pytest

    with pytest.raises(ValueError, match="type default"):
        t("SELECT arr[0] FROM t")


def test_date_arithmetic_family():
    t = ch_compat.translate
    assert t("addDays(ts, 3)") == "timestampadd(DAY, 3, ts)"
    assert t("subtractHours(ts, 2)") == "timestampadd(HOUR, -(2), ts)"
    assert t("toIntervalMonth(30)") == "make_interval(0, 30)"
    assert t("toIntervalSecond(90)") == "make_interval(0, 0, 0, 0, 0, 0, 90)"
    # CH dateDiff counts unit-BOUNDARY crossings, so both sides truncate
    assert t("dateDiff('second', a, b)") == (
        "timestampdiff(SECOND, date_trunc('SECOND', a), "
        "date_trunc('SECOND', b))"
    )


def test_date_arithmetic_executes(spark, binlog_view):
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT count() AS n FROM binlog "
        "WHERE execute_time < addDays(toDateTime('2024-01-01 00:00:00'), 400) "
        "AND dateDiff('second', execute_time, "
        "addMinutes(execute_time, 5)) = 300 "
        "AND execute_time + toIntervalMonth(1) > execute_time",
    ).collect()[0]["n"]
    assert got == binlog_view.count() > 0


def test_array_hof_lambda_order():
    t = ch_compat.translate
    assert t("arrayMap(x -> x + 1, arr)") == "transform(arr, x -> x + 1)"
    assert t("arrayFilter(x -> x > 2, arr)") == "filter(arr, x -> x > 2)"
    assert t("arrayExists(x -> x = 0, arr)") == "exists(arr, x -> x = 0)"
    assert t("arrayAll((x) -> x > 0, arr)") == "forall(arr, (x) -> x > 0)"
    assert t("arrayCount(x -> x > 1, arr)") == "size(filter(arr, x -> x > 1))"
    import pytest

    # two-array arrayMap -> zip_with (VERDICT r05 #5); 3+ arrays stay loud
    assert t("arrayMap((x, y) -> x + y, a, b)") == (
        "zip_with(a, b, (x, y) -> x + y)"
    )
    # 3+-array form now translates (r07, test_array_map_three_plus_arrays)
    assert t("arrayMap((x, y, z) -> x + y + z, a, b, c)") == (
        "transform(arrays_zip(a, b, c), "
        "__ch_z -> (__ch_z.a + __ch_z.b + __ch_z.c))"
    )
    with pytest.raises(ValueError, match="single-array"):
        t("arrayFilter((x, y) -> x > y, a, b)")
    # GLOBAL is a distribution hint only; strictness keywords survive
    assert t("SELECT 1 FROM a GLOBAL JOIN b USING (k)") == (
        "SELECT 1 FROM a JOIN b USING (k)"
    )
    assert t("WHERE x GLOBAL IN (SELECT k FROM b)") == (
        "WHERE x IN (SELECT k FROM b)"
    )
    # ANY strictness now TRANSLATES (r07): deduped right side
    got = t("SELECT 1 FROM a ANY LEFT JOIN b USING (k)")
    assert "ANY LEFT JOIN" not in got and "row_number() OVER" in got


def test_array_hof_executes(spark):
    # CH [..] array literals convert to array(..) and run
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT arrayFilter(x -> x > 2, [1, 2, 3, 4]) AS f, "
        "arrayMap(x -> x * 10, [1, 2]) AS m, "
        "arrayCount(x -> x = 1, [1, 1, 2]) AS c",
    ).collect()[0]
    assert list(got.f) == [3, 4] and list(got.m) == [10, 20] and got.c == 2


def test_scalar_with_aliases_and_sample():
    t = ch_compat.translate
    # constants parenthesize so a bare integer landing in GROUP BY /
    # ORDER BY cannot be reinterpreted as a positional ordinal
    assert t("WITH 300 AS iv SELECT iv, iv * 2 FROM t") == (
        "SELECT (300), (300) * 2 FROM t"
    )
    assert t("WITH '5m' AS label, 60 AS secs SELECT label, secs FROM t") == (
        "SELECT ('5m'), (60) FROM t"
    )
    assert t("WITH 2 AS n SELECT a, count() FROM t GROUP BY a, n") == (
        "SELECT a, count(*) FROM t GROUP BY a, (2)"
    )
    # CTE WITH passes through untouched
    cte = "WITH x AS (SELECT 1 AS a) SELECT a FROM x"
    assert t(cte) == cte
    assert t("SELECT count() FROM t SAMPLE 0.1") == (
        "SELECT count(*) FROM t TABLESAMPLE (10 PERCENT)"
    )


def test_scalar_with_and_sample_execute(spark, binlog_view):
    got = ch_compat.run_clickhouse_sql(
        spark,
        "WITH 100 AS floor_pos SELECT count() AS n FROM binlog "
        "WHERE binlog_pos > floor_pos",
    ).collect()[0]["n"]
    want = binlog_view.filter(F.col("binlog_pos") > 100).count()
    assert got == want > 0
    n_total = binlog_view.count()
    n_sample = ch_compat.run_clickhouse_sql(
        spark, "SELECT count() AS n FROM binlog SAMPLE 0.2"
    ).collect()[0]["n"]
    # Bernoulli 20% sampling: only n <= total is guaranteed — strict
    # 0 < n < total was flaky on small regenerated-per-round testdata
    # (ADVICE r05 #5); the translation shape itself is pinned elsewhere
    assert 0 <= n_sample <= n_total


def test_third_review_fixes():
    """Pins for the third review pass."""
    t = ch_compat.translate
    # a WITH alias that collides with mask-token shape must not corrupt
    # masked string literals
    assert t("WITH 5 AS L0 SELECT L0, 'hello' FROM t") == (
        "SELECT (5), 'hello' FROM t"
    )
    # qualified columns and output aliases keep their names (any amount
    # of whitespace after AS)
    assert t("WITH 300 AS iv SELECT t.iv, x AS iv, iv FROM t") == (
        "SELECT t.iv, x AS iv, (300) FROM t"
    )
    assert t("WITH 300 AS iv SELECT x AS\n  iv, iv FROM t") == (
        "SELECT x AS\n  iv, (300) FROM t"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="tuple forms"):
        t("uniqExactIf(a, b, cond)")
    # scalar WITH composes with LIMIT BY (inline runs first)
    got = t("WITH 2 AS topn SELECT k, v FROM t ORDER BY v DESC LIMIT 1 BY k")
    assert "WITH" not in got and "__rn" in got
    # 1-arg truthy forms; wrong arity fails with an accurate message
    assert t("arrayCount(arr)") == "size(filter(arr, x -> x != 0))"
    assert t("arrayExists(arr)") == "exists(arr, x -> x != 0)"
    import pytest

    with pytest.raises(ValueError, match="1 argument"):
        t("arrayMap(arr)")
    with pytest.raises(ValueError, match="3 argument"):
        t("arrayCount((x, y) -> x = y, a, b)")


def test_datediff_boundary_crossing_executes(spark):
    """dateDiff('month', Jan-31, Feb-01) must be 1 (CH boundary-crossing
    semantics), not 0 (Spark elapsed-unit semantics)."""
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT dateDiff('month', toDate('2024-01-31'), "
        "toDate('2024-02-01')) AS m, "
        "dateDiff('day', toDateTime('2024-01-01 23:00:00'), "
        "toDateTime('2024-01-02 01:00:00')) AS d",
    ).collect()[0]
    assert got.m == 1 and got.d == 1


@pytest.mark.parametrize(
    "metric,order_col,sum_alias",
    [
        # compute_transaction_info.py:78-91: ORDER BY affected rows
        ("transaction_affected_rows", "transaction_affected_rows",
         "transaction_affected_rows"),
        # compute_transaction_info.py:103-116: ORDER BY spend time; note
        # the reference aliases the sum as single_statement_affected_rows
        # [sic] in this variant — preserved verbatim
        ("transaction_spend_time", "transaction_spend_time",
         "single_statement_affected_rows"),
    ],
)
def test_reference_other_top1_queries_run_translated(
    spark, binlog_view, metric, order_col, sum_alias
):
    """The reference's OTHER two per-window top-1 queries, verbatim shape
    (only the ORDER BY metric and one alias differ from the size variant
    already covered)."""
    start, end = "2024-01-01 00:00:00", "2024-01-16 00:00:00"
    sql = f"""
        SELECT
            toDateTime('{end}'),
            '300',
            gtid,
            max(execute_time) - min(execute_time) AS transaction_spend_time,
            (max(toUInt32(binlog_pos)) - min(toUInt32(binlog_pos))) + argMax(toUInt32(single_statement_size), toUInt32(binlog_pos)) AS transaction_size,
            sum(single_statement_affected_rows) AS {sum_alias}
        FROM mysql_monitor.broker_binlog
        WHERE (execute_time >= '{start}') AND (execute_time < '{end}')
        GROUP BY gtid
        ORDER BY {order_col} DESC
        LIMIT 1
    """
    got = ch_compat.run_clickhouse_sql(
        spark, sql, table_map={"mysql_monitor.broker_binlog": "binlog"}
    ).collect()
    assert len(got) == 1
    r = got[0]

    window = binlog_view.filter(
        (F.col("execute_time") >= start) & (F.col("execute_time") < end)
    )
    stats = window.groupBy("gtid").agg(
        (
            F.unix_timestamp(F.max("execute_time"))
            - F.unix_timestamp(F.min("execute_time"))
        ).alias("transaction_spend_time"),
        (
            F.max("binlog_pos") - F.min("binlog_pos")
            + F.max_by("single_statement_size", "binlog_pos")
        ).alias("transaction_size"),
        F.sum("single_statement_affected_rows").alias(
            "transaction_affected_rows"
        ),
    )
    want_max = stats.agg(
        F.max(
            "transaction_affected_rows"
            if metric == "transaction_affected_rows"
            else "transaction_spend_time"
        )
    ).collect()[0][0]
    got_val = (
        r[sum_alias]
        if metric == "transaction_affected_rows"
        else r["transaction_spend_time"]
    )
    assert got_val == want_max


# the reference's per-table daily-count MV select, verbatim
# (README.md:229-245 — the 4-key rollup; note bare `schema`/`table`
# column names, which Spark's parser accepts unquoted)
REFERENCE_MV4_SQL = """
SELECT
    toDate(execute_time) AS day,
    schema,
    table,
    event_type,
    count(*) AS event_count
FROM mysql_monitor.broker_binlog_local
GROUP BY
    day,
    schema,
    table,
    event_type
ORDER BY
    day ASC,
    schema ASC,
    table ASC,
    event_type DESC
"""


def test_reference_mv4_select_matches_rollup(spark, binlog_view):
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import rollups

    got = ch_compat.run_clickhouse_sql(
        spark,
        REFERENCE_MV4_SQL,
        table_map={"mysql_monitor.broker_binlog_local": "binlog"},
    )
    want = rollups.daily_event_counts_by_table(binlog_view)
    g = {(str(r.day), r.schema, r.table, r.event_type): r.event_count
         for r in got.collect()}
    w = {(r.day, r.schema, r.table, r.event_type): r.event_count
         for r in want.collect()}
    assert g == w and len(g) > 0


def test_remaining_if_combinators(spark, binlog_view):
    t = ch_compat.translate
    assert t("maxIf(x, y > 1)") == "max(if(y > 1, x, NULL))"
    assert t("uniqExactIf(g, d > 0)") == "count(DISTINCT if(d > 0, g, NULL))"
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT maxIf(single_statement_size, event_type = 'INSERT') AS mx, "
        "minIf(binlog_pos, event_type = 'INSERT') AS mn, "
        "uniqExactIf(gtid, event_type = 'INSERT') AS ug FROM binlog",
    ).collect()[0]
    ins = binlog_view.filter(F.col("event_type") == "INSERT")
    assert got.mx == ins.agg(F.max("single_statement_size")).collect()[0][0]
    assert got.mn == ins.agg(F.min("binlog_pos")).collect()[0][0]
    assert got.ug == ins.select("gtid").distinct().count()


def test_json_extract_family(spark):
    t = ch_compat.translate
    assert t("JSONExtractString(props, 'k')") == (
        "get_json_object(props, '$.k')"
    )
    assert t("JSONExtractInt(props, 'k')") == (
        "CAST(get_json_object(props, '$.k') AS BIGINT)"
    )
    assert t("JSONHas(props, 'k')") == (
        "(get_json_object(props, '$.k') IS NOT NULL)"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="JSONPath"):
        t("JSONExtractString(props, 'a.b')")

    # runnable: events.props is a JSON object with key "k"
    from use_clickhouse_2_analyze_mysql_binlog_spark import schemas

    schemas.load_table(spark, SF_DIR, "events").createOrReplaceTempView(
        "events_j"
    )
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT sum(JSONExtractInt(props, 'k')) AS s, "
        "countIf(JSONHas(props, 'missing')) AS m FROM events_j",
    ).collect()[0]
    want = (
        schemas.load_table(spark, SF_DIR, "events")
        .agg(F.sum(F.get_json_object("props", "$.k").cast("bigint")))
        .collect()[0][0]
    )
    assert got.s == want > 0 and got.m == 0


def test_limit_offset_form(spark, binlog_view):
    t = ch_compat.translate
    assert t("SELECT x FROM t LIMIT 10, 5") == (
        "SELECT x FROM t LIMIT 5 OFFSET 10"
    )
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT binlog_pos FROM binlog ORDER BY binlog_pos LIMIT 3, 2",
    ).collect()
    want = [
        r.binlog_pos
        for r in binlog_view.orderBy("binlog_pos").limit(5).collect()
    ][3:5]
    assert [r.binlog_pos for r in got] == want


def test_json_compound_paths(spark):
    """VERDICT r05 #5: CH's variadic path elements — string keys chain
    into $.a.b, 1-based integer indices become JSONPath's 0-based [i]."""
    t = ch_compat.translate
    assert t("JSONExtractString(j, 'a', 'b')") == (
        "get_json_object(j, '$.a.b')"
    )
    assert t("JSONExtractInt(j, 'a', 2, 'b')") == (
        "CAST(get_json_object(j, '$.a[1].b') AS BIGINT)"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="from-the-end"):
        t("JSONExtractString(j, 'a', 0)")
    with _pytest.raises(ValueError, match="dynamic"):
        t("JSONExtractString(j, col)")

    # runnable: nested object + array indexing
    row = ch_compat.run_clickhouse_sql(
        spark,
        """SELECT JSONExtractString(j, 'a', 'b') AS ab,
                  JSONExtractInt(j, 'xs', 2) AS x2
           FROM (SELECT '{"a": {"b": "deep"}, "xs": [10, 20, 30]}' AS j)""",
    ).collect()[0]
    assert row.ab == "deep" and row.x2 == 20


def test_json_extract_raw_keeps_quotes(spark):
    """ADVICE r05 #3: Raw returns the raw JSON token — string scalars
    KEEP their quotes (get_json_object would strip them), objects come
    back verbatim, missing keys give CH's ''."""
    rows = ch_compat.run_clickhouse_sql(
        spark,
        """SELECT JSONExtractRaw(j, 's') AS raw_str,
                  JSONExtractRaw(j, 'n') AS raw_num,
                  JSONExtractRaw(j, 'o') AS raw_obj,
                  JSONExtractRaw(j, 'missing') AS raw_missing
           FROM (SELECT '{"s": "x", "n": 87, "o": {"a": 1}}' AS j)""",
    ).collect()[0]
    assert rows.raw_str == '"x"'
    assert rows.raw_num == "87"
    assert rows.raw_obj == '{"a":1}'
    assert rows.raw_missing == ""


def test_to_day_of_week_modes(spark):
    """ADVICE r05 #2: the mode argument was silently dropped (every mode
    computed as mode 0). All four CH modes now map; timezone arg and
    non-literal modes raise."""
    t = ch_compat.translate
    assert t("toDayOfWeek(d)") == "(weekday(d) + 1)"
    assert t("toDayOfWeek(d, 0)") == "(weekday(d) + 1)"
    assert t("toDayOfWeek(d, 1)") == "(weekday(d))"
    assert t("toDayOfWeek(d, 2)") == "(dayofweek(d))"
    assert t("toDayOfWeek(d, 3)") == "(dayofweek(d) - 1)"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mode"):
        t("toDayOfWeek(d, 9)")
    with _pytest.raises(ValueError, match="timezone"):
        t("toDayOfWeek(d, 1, 'UTC')")

    # runnable: 2024-02-05 is a Monday
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT toDayOfWeek(d) AS m0, toDayOfWeek(d, 1) AS m1, "
        "toDayOfWeek(d, 2) AS m2, toDayOfWeek(d, 3) AS m3 "
        "FROM (SELECT to_date('2024-02-05') AS d)",
    ).collect()[0]
    assert (row.m0, row.m1, row.m2, row.m3) == (1, 0, 2, 1)


def test_case_insensitive_standard_names(spark):
    """ADVICE r05 #1: CH resolves standard-SQL function names
    case-insensitively; POSITION/Any uppercase spellings previously
    BYPASSED the rewrites — POSITION hit Spark's swapped-role position()
    and ANY hit bool_or, both silently wrong."""
    t = ch_compat.translate
    assert t("POSITION(haystack, needle)") == "instr(haystack, needle)"
    assert t("Position(haystack, needle)") == "instr(haystack, needle)"
    assert t("ANY(x)") == "any_value(x)"
    assert t("Any(x)") == "any_value(x)"
    # the ANY JOIN strictness keyword is not a call site: the any->
    # any_value normalization must not touch it (the join rewriter does)
    got = t("SELECT 1 FROM a ANY LEFT JOIN b USING (k)")
    assert "any_value" not in got and "row_number() OVER" in got
    # inside string literals nothing changes
    assert t("SELECT 'Any(x) POSITION(a,b)' AS s") == (
        "SELECT 'Any(x) POSITION(a,b)' AS s"
    )

    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT POSITION('hello world', 'world') AS p, ANY(v) AS a "
        "FROM (SELECT 42 AS v)",
    ).collect()[0]
    assert row.p == 7 and row.a == 42


def test_round6_array_surface():
    t = ch_compat.translate
    assert t("arrayFirst(x -> x > 2, arr)") == (
        "try_element_at(filter(arr, x -> x > 2), 1)"
    )
    assert t("arrayLast(x -> x > 2, arr)") == (
        "try_element_at(filter(arr, x -> x > 2), -1)"
    )
    assert t("arrayFirstIndex(x -> x > 2, arr)") == (
        "array_position(transform(arr, x -> x > 2), true)"
    )
    assert t("arraySlice(arr, 2, 3)") == "slice(arr, 2, 3)"
    assert t("arraySlice(arr, 2)") == "slice(arr, 2, size(arr))"
    assert t("arrayUniq(arr)") == "size(array_distinct(arr))"
    assert t("arrayWithConstant(3, 'x')") == "array_repeat('x', 3)"
    assert t("arrayPushBack(arr, 9)") == "concat(arr, array(9))"
    assert t("arrayPushFront(arr, 9)") == "concat(array(9), arr)"
    assert t("arrayPopBack(arr)") == (
        "slice(arr, 1, greatest(size(arr) - 1, 0))"
    )
    assert t("arrayPopFront(arr)") == (
        "slice(arr, 2, greatest(size(arr) - 1, 0))"
    )
    assert t("hasAll(a, b)") == "(size(array_except(b, a)) = 0)"
    assert t("hasAny(a, b)") == "arrays_overlap(a, b)"
    assert t("arrayFlatten(a)") == "flatten(a)"
    assert t("arrayMin(a)") == "array_min(a)"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="arrayUniq"):
        t("arrayUniq(a, b)")


def test_round6_string_regexp_surface():
    t = ch_compat.translate
    # capture group in the literal pattern -> group 1; plain -> whole match
    assert t(r"extract(s, 'ab(\d+)')") == r"regexp_extract(s, 'ab(\d+)', 1)"
    assert t("extract(s, 'abc')") == "regexp_extract(s, 'abc', 0)"
    assert t("extractAll(s, '(\\d+)')") == (
        "regexp_extract_all(s, '(\\d+)', 1)"
    )
    # ANSI extract passes through
    assert t("extract(YEAR FROM ts)") == "extract(YEAR FROM ts)"
    assert t("replaceAll(s, 'a', 'b')") == "replace(s, 'a', 'b')"
    # CH \1 backreference becomes Spark's $1
    assert t(r"replaceRegexpAll(s, '(\d+)', '<\1>')") == (
        r"regexp_replace(s, '(\d+)', '<$1>')"
    )
    assert t("splitByString('::', s)") == (
        "split(s, concat('\\\\Q', '::', '\\\\E'))"
    )
    assert t("alphaTokens(s)") == (
        "filter(split(s, '[^a-zA-Z]+'), __tok -> __tok != '')"
    )
    assert t("notLike(s, '%x%')") == "(s NOT LIKE '%x%')"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="literal pattern"):
        t("extract(s, p)")


def test_round6_hash_bits_agg_surface():
    t = ch_compat.translate
    assert t("MD5(s)") == "unhex(md5(s))"
    assert t("SHA256(s)") == "unhex(sha2(s, 256))"
    assert t("base64Encode(s)") == "base64(s)"
    assert t("base64Decode(s)") == "CAST(unbase64(s) AS STRING)"
    assert t("bitAnd(a, b)") == "(a & b)"
    assert t("bitXor(a, b)") == "(a ^ b)"
    assert t("bitShiftLeft(a, 2)") == "shiftleft(a, 2)"
    assert t("sipHash64(s)") == "xxhash64(s)"
    assert t("toMonday(d)") == "to_date(date_trunc('week', d))"
    assert t("median(x)") == "percentile(x, 0.5)"
    assert t("medianExact(x)") == "percentile(x, 0.5)"
    # round 10: NULL-pair skipping (CH drops rows where EITHER arg is
    # NULL; the old sum(x*w)/sum(w) counted NULL-x rows' weights) and
    # NULL on zero total weight
    assert t("avgWeighted(x, w)") == (
        "(sum(IF((x) IS NULL OR (w) IS NULL, CAST(NULL AS DOUBLE), "
        "CAST(x AS DOUBLE) * (w))) / nullif(sum(IF((x) IS NULL OR (w) "
        "IS NULL, CAST(NULL AS DOUBLE), CAST(w AS DOUBLE))), 0.0))"
    )
    assert t("stddevPop(x)") == "stddev_pop(x)"
    assert t("skewPop(x)") == "skewness(x)"
    assert t("lagInFrame(x, 1, 0)") == "lag(x, 1, 0)"
    assert t("JSONExtractKeys(j)") == "json_object_keys(j)"
    assert t("JSONExtractKeys(j, 'a')") == (
        "json_object_keys(get_json_object(j, '$.a'))"
    )


def test_round6_batch_executes(spark):
    """Runnable cross-check of the round-6 surface in one query."""
    row = ch_compat.run_clickhouse_sql(
        spark,
        r"""SELECT arrayFirst(x -> x > 1, [1, 2, 3]) AS first_gt1,
                  arrayFirstIndex(x -> x > 1, [1, 2, 3]) AS idx_gt1,
                  arraySlice([1, 2, 3, 4], 2, 2) AS mid,
                  arrayUniq([1, 1, 2]) AS nuniq,
                  arrayPopBack(arrayPushBack([1, 2], 9)) AS roundtrip,
                  hasAll([1, 2, 3], [1, 3]) AS has_all,
                  hasAny([1, 2], [2, 9]) AS has_any,
                  extract('ab12cd', '(\\d+)') AS digits,
                  replaceRegexpAll('a1b2', '(\\d)', '<\\1>') AS tagged,
                  alphaTokens('ab12cd') AS alpha,
                  hex(MD5('abc')) AS md5_hex,
                  bitXor(5, 3) AS bx,
                  toMonday(toDate('2024-02-08')) AS mon,
                  median(v) AS med
           FROM (SELECT explode(array(1.0, 2.0, 3.0)) AS v)""",
    ).collect()[0]
    assert row.first_gt1 == 2 and row.idx_gt1 == 2
    assert row.mid == [2, 3] and row.nuniq == 2
    assert row.roundtrip == [1, 2]
    assert row.has_all and row.has_any
    assert row.digits == "12" and row.tagged == "a<1>b<2>"
    assert row.alpha == ["ab", "cd"]
    # CH: SELECT hex(MD5('abc')) = '900150983CD24FB0D6963F7D28E17F72'
    assert row.md5_hex == "900150983CD24FB0D6963F7D28E17F72"
    assert row.bx == 6
    assert str(row.mon) == "2024-02-05" and row.med == 2.0


def test_round6_batch2(spark):
    t = ch_compat.translate
    assert t("countDistinct(x)") == "count(DISTINCT x)"
    assert t("notILike(s, '%X%')") == "(s NOT ILIKE '%X%')"
    assert t("uniqHLL12(x)") == "approx_count_distinct(x)"
    assert t("uniqCombined64(x)") == "approx_count_distinct(x)"

    rows = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT arrayDifference([1, 3, 7]) AS d, "
        "arrayDifference(arraySlice([1], 1, 0)) AS empty, "
        "countDistinct(v) AS cd, notILike('abc', '%B%') AS nl "
        "FROM (SELECT explode(array(1, 1, 2)) AS v)",
    ).collect()[0]
    assert rows.d == [0, 2, 4]
    assert rows.empty == []
    assert rows.cd == 2 and rows.nl is False


def test_json_path_property():
    """Property: any chain of simple string keys and positive integer
    indices builds the expected JSONPath, and translation stays
    idempotent over it."""
    from hypothesis import given, settings, strategies as st

    elem = st.one_of(
        st.from_regex(r"[a-z][a-z0-9_]{0,6}", fullmatch=True).map(
            lambda k: (f"'{k}'", f".{k}")
        ),
        st.integers(min_value=1, max_value=9).map(
            lambda i: (str(i), f"[{i - 1}]")
        ),
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(elem, min_size=1, max_size=4))
    def prop(elems):
        args = ", ".join(e[0] for e in elems)
        path = "".join(e[1] for e in elems)
        got = ch_compat.translate(f"JSONExtractString(j, {args})")
        assert got == f"get_json_object(j, '${path}')", (args, got)
        assert ch_compat.translate(got) == got

    prop()


def test_round6_batch3_datetime(spark):
    t = ch_compat.translate
    # age = ELAPSED complete units (Spark's native timestampdiff
    # contract), unlike dateDiff's boundary crossings
    assert t("age('month', a, b)") == "timestampdiff(MONTH, a, b)"
    assert t("dateDiff('month', a, b)") == (
        "timestampdiff(MONTH, date_trunc('MONTH', a), date_trunc('MONTH', b))"
    )
    assert t("timeSlot(ts)") == "window(ts, '30 minutes').start"
    assert t("toStartOfTenMinutes(ts)") == "window(ts, '10 minutes').start"
    assert t("toStartOfFifteenMinutes(ts)") == (
        "window(ts, '15 minutes').start"
    )
    assert t("monthName(d)") == "date_format(d, 'MMMM')"
    assert t("toISOWeek(d)") == "weekofyear(d)"

    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT age('month', toDateTime('2024-01-31 00:00:00'), "
        "toDateTime('2024-02-01 00:00:00')) AS a, "
        "dateDiff('month', toDateTime('2024-01-31 00:00:00'), "
        "toDateTime('2024-02-01 00:00:00')) AS dd, "
        "timeSlot(toDateTime('2024-02-01 10:47:00')) AS slot, "
        "monthName(toDate('2024-02-01')) AS mn, "
        "toISOWeek(toDate('2024-01-04')) AS w",
    ).collect()[0]
    assert row.a == 0 and row.dd == 1  # the CH-documented divergence pair
    assert str(row.slot) == "2024-02-01 10:30:00"
    assert row.mn == "February" and row.w == 1


def test_with_totals(spark, binlog_view):
    t = ch_compat.translate
    assert t("SELECT a, count() FROM t GROUP BY a WITH TOTALS") == (
        "SELECT a, count(*) FROM t GROUP BY GROUPING SETS ((a), ())"
    )
    # multi-key + trailing ORDER BY survives
    assert t(
        "SELECT a, b, count() FROM t GROUP BY a, b WITH TOTALS ORDER BY a"
    ) == (
        "SELECT a, b, count(*) FROM t "
        "GROUP BY GROUPING SETS ((a, b), ()) ORDER BY a"
    )
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT event_type, count() AS n FROM binlog "
        "GROUP BY event_type WITH TOTALS",
    ).collect()
    per_type = {r.event_type: r.n for r in got if r.event_type is not None}
    totals = [r.n for r in got if r.event_type is None]
    assert totals == [sum(per_type.values())]
    assert per_type and len(got) == len(per_type) + 1


def test_arith_function_aliases(spark):
    t = ch_compat.translate
    assert t("plus(a, 1)") == "(a + 1)"
    assert t("minus(a, b)") == "(a - b)"
    assert t("multiply(a, b)") == "(a * b)"
    assert t("divide(a, b)") == "(a / b)"
    assert t("negate(a)") == "(-(a))"
    assert t("intDivOrZero(a, b)") == "if((b) = 0, 0, (a div b))"
    assert t("moduloOrZero(a, b)") == "if((b) = 0, 0, (a % b))"
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT plus(2, multiply(3, 4)) AS x, intDivOrZero(7, 0) AS z, "
        "moduloOrZero(7, 3) AS m, negate(5) AS n",
    ).collect()[0]
    assert (row.x, row.z, row.m, row.n) == (14, 0, 1, -5)


def test_comparison_logical_aliases(spark):
    t = ch_compat.translate
    assert t("equals(a, b)") == "((a) = (b))"
    assert t("notEquals(a, b)") == "((a) <> (b))"
    assert t("less(a, b)") == "((a) < (b))"
    assert t("greaterOrEquals(a, b)") == "((a) >= (b))"
    assert t("and(a, b, c)") == "((a) AND (b) AND (c))"
    assert t("or(equals(a, 1), less(b, 2))") == (
        "((((a) = (1))) OR (((b) < (2))))"
    )
    assert t("not(equals(a, 1))") == "(NOT (((a) = (1))))"
    # the ONE-argument parse is SQL's infix keyword + parenthesized
    # operand, not the function form — must pass through untouched
    assert t("x BETWEEN 1 and (y + 1)") == "x BETWEEN 1 and (y + 1)"
    assert t("a or (b = 1)") == "a or (b = 1)"
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT and(equals(1, 1), not(greater(2, 3))) AS t, "
        "or(less(5, 1), notEquals(1, 2)) AS u",
    ).collect()[0]
    assert row.t is True and row.u is True


def test_infix_keyword_before_tuple_passthrough(spark):
    """ADVICE r06 #1: infix and/or and prefix not followed by a
    parenthesized TUPLE must pass through — the arity-only guard used to
    consume the keyword (`x = 1 ((a) AND (b)) IN ...`, unparseable) or
    silently drop tuple elements (`not (a, b) IN ...` became `a IN`)."""
    t = ch_compat.translate
    q = "SELECT * FROM t WHERE x = 1 and (a, b) IN (SELECT a, b FROM u)"
    assert t(q) == q
    q = "SELECT * FROM t WHERE not (a, b) IN (SELECT a, b FROM u)"
    assert t(q) == q
    q = "SELECT * FROM t WHERE y or (a, b) IN ((1, 2), (3, 4))"
    assert t(q) == q
    # expression-ending tokens other than identifiers: ')', literal mask
    q = "SELECT * FROM t WHERE f(x) and (a, b) IN ((1, 2))"
    assert t(q) == q
    q = "SELECT * FROM t WHERE s = 'v' and (a, b) IN ((1, 2))"
    assert t(q) == q
    # function form still rewrites in every expression-opening context
    assert t("SELECT and(a, b) FROM t") == "SELECT ((a) AND (b)) FROM t"
    assert (
        t("SELECT 1 WHERE and(a, b)") == "SELECT 1 WHERE ((a) AND (b))"
    )
    assert t("SELECT x, or(a, b) FROM t") == (
        "SELECT x, ((a) OR (b)) FROM t"
    )
    # end-to-end: tuple-IN with infix and actually runs on Spark
    rows = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT c FROM (SELECT 1 AS c, 2 AS d) "
        "WHERE c = 1 and (c, d) IN ((1, 2))",
    ).collect()
    assert [r.c for r in rows] == [1]
    rows = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT c FROM (SELECT 1 AS c, 2 AS d) "
        "WHERE not (c, d) IN ((5, 6))",
    ).collect()
    assert [r.c for r in rows] == [1]


def test_any_join_strictness_translates(spark):
    """VERDICT r06 next-round #4: CH ANY LEFT/INNER JOIN = at most ONE
    right-side match per left row. Translated to a row_number()=1-deduped
    right side; verified against a hand-built expected table where plain
    LEFT JOIN would fan out (key 1 has TWO right rows)."""
    t = ch_compat.translate
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, lv string"
    ).createOrReplaceTempView("anyl")
    spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20)], "k int, rv int"
    ).createOrReplaceTempView("anyr")

    # USING form, both keyword orders
    for q in (
        "SELECT k, lv, rv FROM anyl ANY LEFT JOIN anyr USING (k) ORDER BY k",
        "SELECT k, lv, rv FROM anyl LEFT ANY JOIN anyr USING (k) ORDER BY k",
    ):
        rows = [tuple(r) for r in ch_compat.run_clickhouse_sql(spark, q).collect()]
        # one row per LEFT row (no fan-out on k=1), unmatched k=3 keeps NULL
        assert [r[0] for r in rows] == [1, 2, 3]
        assert rows[0][2] in (10, 11) and rows[1][2] == 20 and rows[2][2] is None

    # ON form with alias + multi-key equi-condition
    rows = [
        tuple(r)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT l.k, r.rv FROM anyl AS l ANY INNER JOIN anyr AS r "
            "ON l.k = r.k ORDER BY l.k",
        ).collect()
    ]
    assert [r[0] for r in rows] == [1, 2]  # inner: k=3 dropped, k=1 NOT doubled
    assert rows[0][1] in (10, 11) and rows[1][1] == 20

    # subquery right side
    rows = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT anyl.k, r.rv FROM anyl ANY LEFT JOIN "
        "(SELECT k, rv FROM anyr WHERE rv < 100) AS r ON anyl.k = r.k "
        "ORDER BY anyl.k",
    ).collect()
    assert len(rows) == 3

    # contrast: withOUT ANY the same join fans out to 4 rows
    plain = ch_compat.run_clickhouse_sql(
        spark, "SELECT k FROM anyl LEFT JOIN anyr USING (k)"
    ).collect()
    assert len(plain) == 4

    # loud-fail matrix: constructs whose multiplicity a local rewrite
    # cannot express
    import pytest

    with pytest.raises(ValueError, match="ANY RIGHT JOIN"):
        t("SELECT 1 FROM a ANY RIGHT JOIN b USING (k)")
    with pytest.raises(ValueError, match="ANY FULL JOIN"):
        t("SELECT 1 FROM a FULL ANY JOIN b USING (k)")
    with pytest.raises(ValueError, match="simple qualified equality"):
        t("SELECT 1 FROM a ANY LEFT JOIN b ON a.k > b.k")
    with pytest.raises(ValueError, match="exactly one side"):
        t("SELECT 1 FROM a ANY LEFT JOIN b ON a.k = a.j")
    with pytest.raises(ValueError, match="needs an alias"):
        t("SELECT 1 FROM a ANY LEFT JOIN (SELECT k FROM b) ON a.k = k")

    # scale shape: the deduped right side plans with a PARTIAL
    # WindowGroupLimit below its exchange (map-side top-1 per key — the
    # right side never ships more than one row per key per task), and
    # the row_number window's hash exchange on the join key is the only
    # repartitioning of the right side (reused by the join)
    plan = (
        spark.sql(t("SELECT k, lv, rv FROM anyl ANY LEFT JOIN anyr USING (k)"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan


def test_array_join_clause_translates(spark):
    """CH's ARRAY JOIN clause (r07): aliased single-array form maps to
    LATERAL VIEW explode with exact multiplicity; LEFT keeps empty-array
    rows with a NULL element; in-place (no AS) and lockstep multi-array
    forms fail loudly."""
    t = ch_compat.translate
    spark.createDataFrame(
        [(1, [10, 20]), (2, [])], "id int, arr array<int>"
    ).createOrReplaceTempView("aj_t")

    rows = sorted(
        tuple(r)
        for r in ch_compat.run_clickhouse_sql(
            spark, "SELECT id, x FROM aj_t ARRAY JOIN arr AS x"
        ).collect()
    )
    assert rows == [(1, 10), (1, 20)]
    rows = sorted(
        (r.id, r.x)
        for r in ch_compat.run_clickhouse_sql(
            spark, "SELECT id, x FROM aj_t LEFT ARRAY JOIN arr AS x"
        ).collect()
    )
    assert rows == [(1, 10), (1, 20), (2, None)]
    # expression arrays compose with the HOF rewrites
    rows = sorted(
        tuple(r)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT id, v FROM aj_t ARRAY JOIN "
            "arrayMap(e -> e * 2, arr) AS v",
        ).collect()
    )
    assert rows == [(1, 20), (1, 40)]
    # 3-arg position end-to-end (locate role swap)
    row = ch_compat.run_clickhouse_sql(
        spark, "SELECT position('abcabc', 'b', 3) AS p"
    ).collect()[0]
    assert row.p == 5

    import pytest

    with pytest.raises(ValueError, match="followed by another JOIN"):
        t("SELECT 1 FROM t ARRAY JOIN a AS x JOIN u ON t.k = u.k")


def test_array_join_inplace_and_lockstep(spark):
    """r07 second batch: the in-place (no AS) form keeps the array
    column's NAME with the element value per row (bare references
    qualified through the lateral alias), and the lockstep multi-array
    form zips via right-folded zip_with into an exploded struct whose
    field accesses restore the user's aliases as output names."""
    t = ch_compat.translate
    spark.createDataFrame(
        [(1, [10, 20], ["a", "b"]), (2, [], [])],
        "id int, arr array<int>, brr array<string>",
    ).createOrReplaceTempView("aj_m")

    # in-place: column name survives, value is the element
    df = ch_compat.run_clickhouse_sql(
        spark, "SELECT id, arr FROM aj_m ARRAY JOIN arr ORDER BY id, arr"
    )
    assert df.columns == ["id", "arr"]
    assert [tuple(r) for r in df.collect()] == [(1, 10), (1, 20)]

    # in-place in GROUP BY (the canonical CH counting pattern)
    rows = sorted(
        tuple(r)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT arr, count() AS c FROM aj_m ARRAY JOIN arr GROUP BY arr",
        ).collect()
    )
    assert rows == [(10, 1), (20, 1)]

    # lockstep two arrays: exact pairing, output names = aliases
    df = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT id, x, y FROM aj_m ARRAY JOIN arr AS x, brr AS y "
        "ORDER BY id, x",
    )
    assert df.columns == ["id", "x", "y"]
    assert [tuple(r) for r in df.collect()] == [
        (1, 10, "a"),
        (1, 20, "b"),
    ]

    # LEFT lockstep keeps the empty-array row with NULL elements
    rows = sorted(
        (r.id, r.x, r.y)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT id, x, y FROM aj_m LEFT ARRAY JOIN arr AS x, brr AS y",
        ).collect()
    )
    assert rows == [(1, 10, "a"), (1, 20, "b"), (2, None, None)]

    # three arrays via the nested zip_with fold; WHERE sees the aliases
    rows = sorted(
        tuple(r)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT x, y, z FROM aj_m ARRAY JOIN arr AS x, brr AS y, "
            "arr AS z WHERE x > 5",
        ).collect()
    )
    assert rows == [(10, "a", 10), (20, "b", 20)]

    # mixed in-place + aliased lockstep
    df = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT arr, y FROM aj_m ARRAY JOIN arr, brr AS y ORDER BY arr",
    )
    assert df.columns == ["arr", "y"]
    assert [tuple(r) for r in df.collect()] == [(10, "a"), (20, "b")]

    # loud residue: constructs whose meaning the reference rewrite could
    # silently change
    import pytest

    with pytest.raises(ValueError, match="bare '\\*'"):
        t("SELECT * FROM t ARRAY JOIN arr")
    with pytest.raises(ValueError, match="bare '\\*'"):
        t("SELECT * FROM t ARRAY JOIN a AS x, b AS y")
    with pytest.raises(ValueError, match="qualified"):
        t("SELECT id FROM t ARRAY JOIN arr WHERE length(t.arr) = 1")
    with pytest.raises(ValueError, match="computed expression"):
        t("SELECT 1 FROM t ARRAY JOIN arrayMap(e -> e, arr)")
    with pytest.raises(ValueError, match="collide"):
        t("SELECT x FROM t ARRAY JOIN a AS x, b AS x")

    # substitution is scoped to the owning SELECT block: an outer x is
    # untouched
    out = t(
        "SELECT x FROM (SELECT id AS x FROM u) WHERE x IN "
        "(SELECT x FROM t ARRAY JOIN a AS x, b AS y)"
    )
    assert out.startswith("SELECT x FROM (SELECT id AS x FROM u)")
    assert "__ch_ajz.x" in out


def test_array_join_substitution_hazards(spark):
    """Review-pass regressions (r07): the reference-substitution rewrite
    must not descend into nested subquery scopes, corrupt masked string
    literals, rewrite shadowing lambda parameters, or silently pad
    unequal lockstep arrays."""
    t = ch_compat.translate
    import pytest

    # a bare alias reference inside a NESTED subquery of the same block
    # resolves to the inner relation in CH — loud, not hijacked
    with pytest.raises(ValueError, match="nested subquery"):
        t(
            "SELECT x FROM t ARRAY JOIN a AS x, b AS y "
            "WHERE id IN (SELECT x FROM u)"
        )
    # ...including the CTE and parenthesized set-op subquery spellings
    with pytest.raises(ValueError, match="nested subquery"):
        t("SELECT x FROM t ARRAY JOIN a AS x, b AS y "
          "WHERE id IN (WITH q AS (SELECT 1) SELECT x FROM u)")
    with pytest.raises(ValueError, match="nested subquery"):
        t("SELECT x FROM t ARRAY JOIN a AS x, b AS y "
          "WHERE id IN ((SELECT x FROM u) UNION ALL SELECT 1)")
    # ...but a nested subquery NOT using the alias still translates
    out = t(
        "SELECT x FROM t ARRAY JOIN a AS x, b AS y "
        "WHERE id IN (SELECT q FROM u)"
    )
    assert "__ch_ajz.x" in out and "(SELECT q FROM u)" in out
    # ...and a parenthesized arithmetic group is NOT a scope
    out = t("SELECT x FROM t ARRAY JOIN a AS x, b AS y "
            "WHERE ((x + 1) * 2) > 3")
    assert "((__ch_ajz.x + 1) * 2) > 3" in out

    # an element alias shaped like a mask token (L0) must not corrupt
    # masked string literals
    out = t("SELECT x, 'hello' AS s FROM t ARRAY JOIN a AS x, b AS L0 "
            "WHERE L0 > 1")
    assert "'hello'" in out and "\x00" not in out
    assert "__ch_ajz.L0 > 1" in out

    # a lambda parameter shadowing the alias is ambiguous for a text
    # rewrite — loud; a non-shadowing lambda still substitutes its body
    with pytest.raises(ValueError, match="shadowed by a lambda"):
        t("SELECT y, arrayMap(x -> x + 1, o) AS m FROM t "
          "ARRAY JOIN a AS x, b AS y")
    out = t("SELECT y, arrayMap(p -> p + x, o) AS m FROM t "
            "ARRAY JOIN a AS x, b AS y")
    assert "p + __ch_ajz.x" in out

    # trailing occurrence at end-of-string (the '' -in- str sentinel
    # bug) is substituted
    out = t("SELECT arr, count() AS c FROM m ARRAY JOIN arr GROUP BY arr")
    assert out.endswith("GROUP BY __ch_aj.arr")

    # CH errors on unequal lockstep sizes; zip_with would pad — the
    # translation reproduces the error, row-local
    spark.createDataFrame(
        [(1, [10, 20, 30], ["a", "b"])],
        "id int, arr array<int>, brr array<string>",
    ).createOrReplaceTempView("aj_uneq")
    with pytest.raises(Exception, match="different sizes"):
        ch_compat.run_clickhouse_sql(
            spark, "SELECT id, x, y FROM aj_uneq ARRAY JOIN arr AS x, brr AS y"
        ).collect()
    # NULL arrays stay the silent no-op they were (no error)
    spark.createDataFrame(
        [(1, None, ["z"]), (2, [5], ["w"])],
        "id int, arr array<int>, brr array<string>",
    ).createOrReplaceTempView("aj_null")
    rows = ch_compat.run_clickhouse_sql(
        spark, "SELECT id, x, y FROM aj_null ARRAY JOIN arr AS x, brr AS y"
    ).collect()
    assert [tuple(r) for r in rows] == [(2, 5, "w")]


def test_asof_join_hazards():
    """Review-pass regressions (r07): RIGHT/FULL ASOF (invalid CH) fails
    loudly instead of silently running a RIGHT/FULL join, and columns
    NAMED like clause keywords (asof, window, order) parse as ON-term
    fields, not clause terminators."""
    t = ch_compat.translate
    import pytest

    for q in (
        "SELECT l.a, r.b FROM l RIGHT ASOF JOIN r ON l.k = r.k AND l.t >= r.t",
        "SELECT l.a, r.b FROM l ASOF FULL JOIN r ON l.k = r.k AND l.t >= r.t",
    ):
        with pytest.raises(ValueError, match="ASOF (RIGHT|FULL) JOIN"):
            t(q)

    out = t("SELECT l.a, r.b FROM l ASOF JOIN r "
            "ON l.k = r.k AND l.asof >= r.asof")
    assert "lead(asof) OVER (PARTITION BY k ORDER BY asof)" in out
    out = t("SELECT l.a, r.b FROM l ASOF JOIN r "
            "ON l.k = r.k AND r.window <= l.window")
    assert "lead(window)" in out


def test_array_map_three_plus_arrays(spark):
    """r07: 3+-array arrayMap -> transform over arrays_zip with lambda-
    parameter substitution (the last r05 loud-fail residue); ambiguous or
    non-column arrays and nested lambdas stay loud."""
    t = ch_compat.translate
    assert t("SELECT arrayMap((x, y, z) -> x + y * z, a, b, c) FROM t") == (
        "SELECT transform(arrays_zip(a, b, c), "
        "__ch_z -> (__ch_z.a + __ch_z.b * __ch_z.c)) FROM t"
    )
    spark.createDataFrame(
        [([1, 2], [10, 20], [100, 200])],
        "a array<int>, b array<int>, c array<int>",
    ).createOrReplaceTempView("amap_t")
    r = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT arrayMap((x, y, z) -> x + y + z, a, b, c) AS s FROM amap_t",
    ).collect()[0]
    assert list(r.s) == [111, 222]

    import pytest

    with pytest.raises(ValueError, match="colliding column names"):
        t("SELECT arrayMap((x, y, z) -> x, a, b, a) FROM t")
    with pytest.raises(ValueError, match="plain column references"):
        t("SELECT arrayMap((x, y, z) -> x, a, b, c || d) FROM t")
    with pytest.raises(ValueError, match="NESTED lambda"):
        t("SELECT arrayMap((x, y, z) -> arrayMap(q -> q + x, x), a, b, c) "
          "FROM t")


def test_any_join_randomized_semantics(spark):
    """Seeded randomized check: for random (left, right) tables, the
    translated ANY LEFT JOIN emits exactly one row per left row, with rv
    drawn from the right rows of that key (or NULL when unmatched) —
    CH's at-most-one-match contract, independent of which row the
    any-pick chose."""
    import random

    rng = random.Random(7)
    for trial in range(4):
        left = [(rng.randint(0, 8), f"l{i}") for i in range(rng.randint(1, 30))]
        right = [(rng.randint(0, 8), rng.randint(0, 99))
                 for _ in range(rng.randint(0, 40))]
        spark.createDataFrame(left, "k int, lv string") \
            .createOrReplaceTempView("rl")
        rdf = spark.createDataFrame(right, "k int, rv int") \
            if right else spark.createDataFrame([], "k int, rv int")
        rdf.createOrReplaceTempView("rr")
        rows = ch_compat.run_clickhouse_sql(
            spark, "SELECT k, lv, rv FROM rl ANY LEFT JOIN rr USING (k)"
        ).collect()
        assert sorted((r.k, r.lv) for r in rows) == sorted(left), trial
        by_key: dict[int, set] = {}
        for k, rv in right:
            by_key.setdefault(k, set()).add(rv)
        for r in rows:
            if r.k in by_key:
                assert r.rv in by_key[r.k], (trial, r)
            else:
                assert r.rv is None, (trial, r)


def test_asof_join_translates(spark):
    """r07: CH ASOF [LEFT] JOIN -> right side augmented with a per-key
    lead/lag neighbor of the asof column + equi+range join (at most one
    match per left row). Verified against a hand-built expected table
    covering matched/unmatched/exact-tie rows, both directions and both
    keyword orders."""
    t = ch_compat.translate
    spark.createDataFrame(
        [("a", 10, 1.0), ("a", 25, 2.0), ("b", 5, 3.0), ("c", 7, 4.0)],
        "sym string, ts int, px double",
    ).createOrReplaceTempView("asof_l")
    spark.createDataFrame(
        [("a", 8, 100), ("a", 10, 101), ("a", 20, 102), ("b", 6, 200)],
        "sym string, ts int, bid int",
    ).createOrReplaceTempView("asof_r")

    # >= : latest right ts <= left ts (exact tie at a/10 MATCHES 101)
    for q in (
        "SELECT l.sym, l.ts, r.bid FROM asof_l AS l ASOF LEFT JOIN "
        "asof_r AS r ON l.sym = r.sym AND l.ts >= r.ts",
        "SELECT l.sym, l.ts, r.bid FROM asof_l AS l LEFT ASOF JOIN "
        "asof_r AS r ON l.sym = r.sym AND l.ts >= r.ts",
        # flipped spelling of the same predicate
        "SELECT l.sym, l.ts, r.bid FROM asof_l AS l ASOF LEFT JOIN "
        "asof_r AS r ON l.sym = r.sym AND r.ts <= l.ts",
    ):
        rows = sorted(
            tuple(r)
            for r in ch_compat.run_clickhouse_sql(spark, q).collect()
        )
        assert rows == [
            ("a", 10, 101),  # exact tie picks ts=10, not 8
            ("a", 25, 102),
            ("b", 5, None),  # b has only ts=6 > 5 -> unmatched, kept
            ("c", 7, None),  # no right key -> kept
        ], q

    # inner drops the unmatched rows
    rows = sorted(
        tuple(r)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT l.sym, l.ts, r.bid FROM asof_l AS l ASOF JOIN "
            "asof_r AS r ON l.sym = r.sym AND l.ts >= r.ts",
        ).collect()
    )
    assert rows == [("a", 10, 101), ("a", 25, 102)]

    # strict > : exact tie must NOT match ts=10, falls back to ts=8
    rows = sorted(
        tuple(r)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT l.sym, l.ts, r.bid FROM asof_l AS l ASOF LEFT JOIN "
            "asof_r AS r ON l.sym = r.sym AND l.ts > r.ts",
        ).collect()
    )
    assert rows == [
        ("a", 10, 100),
        ("a", 25, 102),
        ("b", 5, None),
        ("c", 7, None),
    ]

    # <= : earliest right ts >= left ts
    rows = sorted(
        tuple(r)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT l.sym, l.ts, r.bid FROM asof_l AS l ASOF LEFT JOIN "
            "asof_r AS r ON l.sym = r.sym AND l.ts <= r.ts",
        ).collect()
    )
    assert rows == [
        ("a", 10, 101),  # tie matches ts=10
        ("a", 25, None),  # nothing at/after 25
        ("b", 5, 200),
        ("c", 7, None),
    ]

    # loud-fail matrix (forms whose semantics the rewrite can't keep)
    import pytest

    for bad, msg in [
        ("SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t",
         "bare '[*]'"),
        ("SELECT b.* FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t",
         "bare '[*]'"),
        ("SELECT 1 FROM a ASOF JOIN b ON a.t >= b.t", "equality term"),
        ("SELECT 1 FROM a ASOF JOIN b ON a.k = b.k", "needs an inequality"),
        ("SELECT 1 FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t "
         "AND a.u < b.u", "exactly ONE inequality"),
        ("SELECT 1 FROM a ASOF JOIN b ON a.k = b.k AND toDate(a.t) >= b.t",
         "not a simple"),
    ]:
        with pytest.raises(ValueError, match=msg):
            t(bad)

    # the LEFT table's qualified star is fine (helper col lives on the
    # right side only)
    assert "l.*" in t(
        "SELECT l.* FROM asof_l AS l ASOF JOIN asof_r AS r "
        "ON l.sym = r.sym AND l.ts >= r.ts"
    )

    # scale shape: ONE exchange of the right side on the equality key,
    # shared by the neighbor window and the sort-merge join (no second
    # repartitioning of the right side)
    plan = (
        spark.sql(
            t(
                "SELECT l.sym, l.ts, r.bid FROM asof_l AS l ASOF LEFT "
                "JOIN asof_r AS r ON l.sym = r.sym AND l.ts >= r.ts"
            )
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2, plan  # 1/side


def _py_asof_reference(left, right, op):
    """Pure-Python ASOF LEFT JOIN reference: per left row, the closest
    right ts among rows with the same key satisfying l.ts OP r.ts."""
    import operator as _op

    cmp = {">=": _op.ge, ">": _op.gt, "<=": _op.le, "<": _op.lt}[op]
    out = []
    for k, lts in left:
        cands = [rts for rk, rts, _ in right if rk == k and cmp(lts, rts)]
        if not cands:
            out.append((k, lts, None))
            continue
        pick = max(cands) if op in (">=", ">") else min(cands)
        vals = sorted(v for rk, rts, v in right if rk == k and rts == pick)
        out.append((k, lts, vals))  # any of the tied rows is a valid pick
    return out


def test_asof_join_randomized_semantics(spark):
    """Seeded randomized cross-check of all four inequality directions
    against a pure-Python closest-match reference, including duplicate
    asof values on the right (any tied row is a valid pick — CH's own
    contract)."""
    import random

    rng = random.Random(11)
    for trial in range(3):
        left = [
            (rng.randint(0, 4), rng.randint(0, 30))
            for _ in range(rng.randint(1, 25))
        ]
        right = [
            (rng.randint(0, 4), rng.randint(0, 30), i)
            for i in range(rng.randint(0, 35))
        ]
        spark.createDataFrame(
            [(k, ts, i) for i, (k, ts) in enumerate(left)],
            "k int, ts int, lid int",
        ).createOrReplaceTempView("ral")
        rdf = (
            spark.createDataFrame(right, "k int, ts int, rv int")
            if right
            else spark.createDataFrame([], "k int, ts int, rv int")
        )
        rdf.createOrReplaceTempView("rar")
        for op in (">=", ">", "<=", "<"):
            rows = ch_compat.run_clickhouse_sql(
                spark,
                f"SELECT l.k, l.ts, l.lid, r.rv FROM ral AS l ASOF LEFT "
                f"JOIN rar AS r ON l.k = r.k AND l.ts {op} r.ts",
            ).collect()
            assert len(rows) == len(left), (trial, op)  # no fan-out ever
            expect = _py_asof_reference(left, right, op)
            for r in rows:
                k, lts, valid = expect[r.lid]
                assert (r.k, r.ts) == (k, lts), (trial, op, r)
                if valid is None:
                    assert r.rv is None, (trial, op, r)
                else:
                    assert r.rv in valid, (trial, op, r, valid)


def test_asof_join_vs_duckdb_oracle(spark):
    """The translated >= ASOF LEFT JOIN agrees row-for-row with DuckDB's
    native ASOF LEFT JOIN on the same seeded data (DuckDB implements the
    same latest-at-or-before semantics)."""
    import random

    import duckdb

    rng = random.Random(23)
    left = [(rng.randint(0, 5), rng.randint(0, 50)) for _ in range(40)]
    # distinct (k, ts) on the right so the pick is unique and the
    # comparison can be exact row-for-row
    seen = set()
    right = []
    for _ in range(60):
        k, ts = rng.randint(0, 5), rng.randint(0, 50)
        if (k, ts) not in seen:
            seen.add((k, ts))
            right.append((k, ts, len(right)))
    spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)],
        "k int, ts int, lid int",
    ).createOrReplaceTempView("dal")
    spark.createDataFrame(right, "k int, ts int, rv int") \
        .createOrReplaceTempView("dar")
    got = sorted(
        tuple(r)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT l.lid, r.rv FROM dal AS l ASOF LEFT JOIN dar AS r "
            "ON l.k = r.k AND l.ts >= r.ts",
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE l (k INT, ts INT, lid INT)")
    con.execute("CREATE TABLE r (k INT, ts INT, rv INT)")
    con.executemany(
        "INSERT INTO l VALUES (?, ?, ?)",
        [(k, ts, i) for i, (k, ts) in enumerate(left)],
    )
    con.executemany("INSERT INTO r VALUES (?, ?, ?)", right)
    want = sorted(
        tuple(r)
        for r in con.execute(
            "SELECT l.lid, r.rv FROM l ASOF LEFT JOIN r "
            "ON l.k = r.k AND l.ts >= r.ts"
        ).fetchall()
    )
    assert got == want


def test_extract_groups_translates(spark):
    """r07: extractGroups(haystack, 'pattern') -> per-capture-group
    regexp_extract array, EMPTY array on no match (the CH contract);
    non-literal patterns and group-less patterns stay loud."""
    t = ch_compat.translate
    out = t("SELECT extractGroups(s, '(\\\\w+)=(\\\\w+)') AS g FROM t")
    assert "regexp_extract(s, '(\\\\w+)=(\\\\w+)', 2)" in out
    assert "array())" in out  # the no-match branch
    spark.sql(
        "SELECT * FROM VALUES ('key=val x=1'), ('nothing here') AS t(s)"
    ).createOrReplaceTempView("eg_t")
    rows = {
        r.s: list(r.g)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT s, extractGroups(s, '(\\\\w+)=(\\\\w+)') AS g "
            "FROM eg_t",
        ).collect()
    }
    # first match's groups only; unmatched row -> []
    assert rows == {"key=val x=1": ["key", "val"], "nothing here": []}
    with pytest.raises(ValueError, match="string literal"):
        t("SELECT extractGroups(s, p) FROM t")
    with pytest.raises(ValueError, match="no capture groups"):
        t("SELECT extractGroups(s, 'abc') FROM t")
    with pytest.raises(ValueError, match="2 arguments"):
        t("SELECT extractGroups(s) FROM t")
    # dictGet is structural (a join), not a scalar — translate-time
    # error with the migration path, not a bare unresolved-function
    with pytest.raises(ValueError, match="broadcast-join"):
        t("SELECT dictGet('db.names', 'name', event_type_id) FROM t")
    with pytest.raises(ValueError, match="dictHas"):
        t("SELECT 1 FROM t WHERE dictHas('d', k)")


def test_probe_batch_fifth_session(spark):
    """r07 fifth-session probe batch: hasToken (CH token semantics —
    alnum-bounded match, separator needles loud like CH), DateTime64
    epoch families, JSONLength, toValidUTF8 identity."""
    t = ch_compat.translate
    spark.sql(
        "SELECT 'hello world_x' AS s, "
        "timestamp'2024-01-02 03:04:05' AS ts"
    ).createOrReplaceTempView("pb_t")
    r = ch_compat.run_clickhouse_sql(spark, """
        SELECT hasToken(s, 'world') AS h1, hasToken(s, 'worl') AS h2,
               hasToken(s, 'x') AS h3,
               hasTokenCaseInsensitive(s, 'WORLD') AS h4,
               toUnixTimestamp64Milli(ts) AS ms,
               toUnixTimestamp64Nano(ts) AS ns,
               fromUnixTimestamp64Milli(1704164645000) AS back,
               JSONLength('[1,2,3]') AS jl,
               JSONLength('{"a":1,"b":2}') AS jo,
               toValidUTF8(s) AS v
        FROM pb_t""").collect()[0]
    # 'world' and 'x' are whole tokens ('_' separates in CH);
    # 'worl' is a prefix, not a token
    assert r.h1 is True and r.h2 is False and r.h3 is True
    assert r.h4 is True
    assert r.ms == 1704164645000 and r.ns == 1704164645000 * 1_000_000
    assert str(r.back).startswith("2024-01-02 03:04:05")
    assert r.jl == 3 and r.jo == 2 and r.v == "hello world_x"
    # CH throws on separator needles; so does the translation
    with pytest.raises(ValueError, match="single token"):
        t("SELECT hasToken(s, 'a.b') FROM t")
    # JSONLength with a path arg stays loud (passes through)
    assert "JSONLength" in t("SELECT JSONLength(j, 'a') FROM t")
    # second probe batch: bitNot, toTime, toWeek mode 3, to*OrDefault
    r2 = ch_compat.run_clickhouse_sql(spark, """
        SELECT bitNot(5) AS bn, toTime(ts) AS tt, toWeek(ts, 3) AS w,
               toInt64OrDefault('x', 7) AS d1,
               toInt64OrDefault('42', 7) AS d2,
               toInt64OrDefault('x') AS d3,
               JSONLength('123') AS js,
               JSONLength(CAST(NULL AS STRING)) AS jn
        FROM pb_t""").collect()[0]
    assert r2.bn == -6 and str(r2.tt) == "1970-01-02 03:04:05"
    assert r2.w == 1 and r2.d1 == 7 and r2.d2 == 42
    # 1-arg OrDefault = the TYPE default (CH contract), never NULL
    assert r2.d3 == 0
    # scalar/invalid JSON -> 0 like CH; NULL input stays NULL
    assert r2.js == 0 and r2.jn is None
    # table functions: numbers -> range (column renamed), file/s3 ->
    # direct-path queries for self-describing formats; remote/CSV loud
    r3 = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT sum(number) AS s, max(number) AS m FROM numbers(5, 10)",
    ).collect()[0]
    assert r3.s == sum(range(5, 15)) and r3.m == 14
    assert t("SELECT * FROM file('/d/x', 'Parquet')") == (
        "SELECT * FROM parquet.`/d/x`"
    )
    with pytest.raises(ValueError, match="remote"):
        t("SELECT 1 FROM remote('h', db.t)")
    with pytest.raises(ValueError, match="CSV column names"):
        t("SELECT 1 FROM file('/x.csv', 'CSV')")
    with pytest.raises(
        ValueError, match=r"explicit schema \(spark\.read\.schema"
    ):
        t("SELECT 1 FROM file('/x.csv', 'CSV', 'a Int32')")
    # combinator close-out: quantile -If twins, countDistinctIf,
    # medianIf, countArray, integer exponent helpers
    r4 = ch_compat.run_clickhouse_sql(spark, """
        SELECT countDistinctIf(x, x > 1) AS cd,
               medianIf(x, x > 1) AS md,
               quantileTimingIf(0.5)(x, x > 1) AS q,
               countArray(a) AS ca, intExp2(10) AS e2,
               intExp10(3) AS e10
        FROM (SELECT stack(3, 1, array(1,2), 2, array(3),
                           3, array(4,5,6)) AS (x, a))
    """).collect()[0]
    assert (r4.cd, r4.md, r4.q) == (2, 2.5, 2.5)
    assert (r4.ca, r4.e2, r4.e10) == (6, 1024, 1000)
    # CH 'JSON' is a meta/data wrapper document, NOT line-delimited —
    # mapping it to Spark's NDJSON reader would be silently wrong
    with pytest.raises(ValueError, match="wrapper document"):
        t("SELECT 1 FROM file('/x.json', 'JSON')")
    assert t("SELECT 1 FROM file('/x.json', 'JSONEachRow')") == (
        "SELECT 1 FROM json.`/x.json`"
    )
    with pytest.raises(ValueError, match="mode 3"):
        t("SELECT toWeek(ts) FROM t")
    # SETTINGS strip freely — except result-changing ones, which are
    # loud instead of silently ignored
    assert "SETTINGS" not in t(
        "SELECT 1 FROM t SETTINGS max_threads = 8, join_use_nulls = 1"
    )
    with pytest.raises(ValueError, match="join_use_nulls=0"):
        t("SELECT 1 FROM t SETTINGS join_use_nulls = 0")
    with pytest.raises(ValueError, match="changes query RESULTS"):
        t("SELECT 1 FROM t SETTINGS "
          "aggregate_functions_null_for_empty = 1")


def test_asof_join_using_translates(spark):
    """r07: ASOF JOIN ... USING (keys..., t) translates — the right
    side's USING columns are renamed inside the augmented subquery, so
    unqualified outer refs resolve to the left side (CH's coalesced
    output for LEFT/INNER); implicit >= on the last column."""
    spark.createDataFrame(
        [(1, "A", 5), (2, "A", 1), (3, "B", 3)],
        "id int, sym string, ts int",
    ).createOrReplaceTempView("u_trades")
    spark.createDataFrame(
        [("A", 0, 1.0), ("A", 4, 2.0), ("A", 5, 5.0), ("B", 10, 9.0)],
        "sym string, ts int, bid double",
    ).createOrReplaceTempView("u_quotes")
    rows = {
        (r.id, r.sym, r.ts, r.bid)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT t.id, sym, ts, q.bid FROM u_trades t "
            "ASOF LEFT JOIN u_quotes q USING (sym, ts)",
        ).collect()
    }
    # exact-tie matches (ts=5 -> quote at 5), closest-below, unmatched
    # NULL; sym/ts are the LEFT side's values (the coalesced columns)
    assert rows == {
        (1, "A", 5, 5.0), (2, "A", 1, 1.0), (3, "B", 3, None),
    }
    inner = {
        (r.id, r.bid)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT t.id, q.bid FROM u_trades t "
            "ASOF INNER JOIN u_quotes q USING (sym, ts)",
        ).collect()
    }
    assert inner == {(1, 5.0), (2, 1.0)}

    t = ch_compat.translate
    with pytest.raises(ValueError, match="at least 2 columns"):
        t("SELECT 1 FROM l ASOF JOIN r USING (ts)")
    with pytest.raises(ValueError, match="plain identifiers"):
        t("SELECT 1 FROM l ASOF JOIN r USING (k, toDate(ts))")
    with pytest.raises(ValueError, match="bare '\\*'"):
        t("SELECT * FROM l ASOF JOIN r USING (k, ts)")
    # a right-QUALIFIED ref to a USING column no longer exists after
    # the rename — loud in the analyzer, never silently wrong
    with pytest.raises(Exception, match="__ch_asof|cannot be resolved|q"):
        ch_compat.run_clickhouse_sql(
            spark,
            "SELECT t.id, q.ts FROM u_trades t "
            "ASOF LEFT JOIN u_quotes q USING (sym, ts)",
        ).collect()


def test_asof_join_using_vs_duckdb_oracle(spark):
    """The translated ASOF LEFT JOIN USING agrees row-for-row with
    DuckDB's native ASOF LEFT JOIN USING on seeded data (same implicit
    >= on the last USING column, same coalesced output)."""
    import random

    import duckdb

    rng = random.Random(41)
    left = [(rng.randint(0, 5), rng.randint(0, 50), i) for i in range(40)]
    seen = set()
    right = []
    for _ in range(60):
        k, ts = rng.randint(0, 5), rng.randint(0, 50)
        if (k, ts) not in seen:
            seen.add((k, ts))
            right.append((k, ts, len(right)))
    spark.createDataFrame(left, "k int, ts int, lid int") \
        .createOrReplaceTempView("dul")
    spark.createDataFrame(right, "k int, ts int, rv int") \
        .createOrReplaceTempView("dur")
    got = sorted(
        tuple(r)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT lid, k, ts, r.rv FROM dul AS l "
            "ASOF LEFT JOIN dur AS r USING (k, ts)",
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE l (k INT, ts INT, lid INT)")
    con.execute("CREATE TABLE r (k INT, ts INT, rv INT)")
    con.executemany("INSERT INTO l VALUES (?, ?, ?)", left)
    con.executemany("INSERT INTO r VALUES (?, ?, ?)", right)
    want = sorted(
        tuple(r)
        for r in con.execute(
            "SELECT lid, l.k, l.ts, r.rv FROM l ASOF LEFT JOIN r "
            "ON l.k = r.k AND l.ts >= r.ts"
        ).fetchall()
    )
    assert got == want


def test_asof_translation_agrees_with_asof_operator(spark):
    """Two independent implementations cross-check: the translated CH
    ``ASOF JOIN`` (interval rewrite, inner, >=) and the native
    ``operators.asof.asof_join`` (union-bucket merge shape, backward
    inclusive, inner) must return identical rows on the same seeded data
    with unique (key, ts) right rows."""
    import random

    from use_clickhouse_2_analyze_mysql_binlog_spark.operators.asof import (
        asof_join,
    )

    rng = random.Random(41)
    left = [(rng.randint(0, 5), rng.randint(0, 60), i) for i in range(50)]
    seen, right = set(), []
    for _ in range(80):
        k, ts = rng.randint(0, 5), rng.randint(0, 60)
        if (k, ts) not in seen:
            seen.add((k, ts))
            right.append((k, ts, len(right)))
    ldf = spark.createDataFrame(left, "k int, ts int, lid int")
    rdf = spark.createDataFrame(right, "k int, ts int, rv int")
    ldf.createOrReplaceTempView("xal")
    rdf.createOrReplaceTempView("xar")

    via_operator = sorted(
        (r.lid, r.rv)
        for r in asof_join(
            ldf, rdf, on="k", left_time="ts", right_time="ts",
            right_payload=["rv"],
        ).collect()
    )
    via_translation = sorted(
        tuple(r)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT l.lid, r.rv FROM xal AS l ASOF JOIN xar AS r "
            "ON l.k = r.k AND l.ts >= r.ts",
        ).collect()
    )
    assert via_operator == via_translation

    # LEFT direction too: translated ASOF LEFT JOIN vs the operator's
    # how='left'
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators.asof import (
        asof_join_interval,
    )

    left_op = sorted(
        (r.lid, r.rv)
        for r in asof_join_interval(
            ldf, rdf, on="k", left_time="ts", right_time="ts",
            right_payload=["rv"], how="left",
        ).collect()
    )
    left_tr = sorted(
        tuple(r)
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT l.lid, r.rv FROM xal AS l ASOF LEFT JOIN xar AS r "
            "ON l.k = r.k AND l.ts >= r.ts",
        ).collect()
    )
    assert left_op == left_tr
    assert len(left_tr) == ldf.count()  # every left row survives


def test_round7_batch2_translation_text():
    t = ch_compat.translate
    # to<T>OrNull / OrZero: exactly try_cast / coalesce(try_cast, default)
    assert t("toUInt32OrNull(s)") == "try_cast(s AS bigint)"
    assert t("toInt64OrZero(s)") == "coalesce(try_cast(s AS bigint), 0)"
    assert t("toFloat64OrNull(s)") == "try_cast(s AS double)"
    assert t("toDateOrZero(s)") == (
        "coalesce(try_cast(s AS date), DATE '1970-01-01')"
    )
    assert t("toDateTimeOrNull(s)") == "try_cast(s AS timestamp)"
    assert t("toDecimal64(x, 2)") == "CAST(x AS decimal(18, 2))"
    # URL family
    assert t("domain(u)") == "try_parse_url(u, 'HOST')"
    assert t("protocol(u)") == "try_parse_url(u, 'PROTOCOL')"
    assert t("pathFull(u)") == "try_parse_url(u, 'FILE')"
    assert t("queryString(u)") == "try_parse_url(u, 'QUERY')"
    assert t("fragment(u)") == "try_parse_url(u, 'REF')"
    assert t("extractURLParameter(u, 'y')") == "try_parse_url(u, 'QUERY', 'y')"
    assert t("decodeURLComponent(s)") == "url_decode(s)"
    # date_add function forms: bare and quoted unit, INTERVAL form,
    # Spark's own 2-arg days form untouched
    assert t("date_add(DAY, 3, ts)") == "timestampadd(DAY, 3, ts)"
    assert t("dateSub('day', 1, ts)") == "timestampadd(DAY, -(1), ts)"
    assert t("date_add(d, INTERVAL 1 MONTH)") == "(d + INTERVAL 1 MONTH)"
    assert t("date_add(d, 3)") == "date_add(d, 3)"
    # renames
    assert t("toLastDayOfMonth(d)") == "last_day(d)"
    assert t("roundBankers(x, 1)") == "bround(x, 1)"
    assert t("arrayElement(a, 2)") == "element_at(a, 2)"
    assert t("mapKeys(m)") == "map_keys(m)"
    assert t("groupBitAnd(x)") == "bit_and(x)"
    assert t("countMatches(s, 'aa')") == "regexp_count(s, 'aa')"
    assert t("dayName(d)") == "date_format(d, 'EEEE')"
    assert t("positionUTF8(h, n)") == "instr(h, n)"
    assert t("positionCaseInsensitiveUTF8(h, n)") == (
        "locate(lower(n), lower(h))"
    )
    assert t("parseDateTimeBestEffortOrNull(s)") == "try_to_timestamp(s)"
    assert t("intHash64(x)") == "xxhash64(x)"
    # camelCase 2-arg without unit/INTERVAL has no CH meaning -> loud
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t("dateAdd(d, 3)")


def test_round7_batch2_executes(spark):
    """Runnable cross-check of the round-7 second batch in one query."""
    url = "'https://www.example.com/a/b?x=1&y=2#frag'"
    row = ch_compat.run_clickhouse_sql(
        spark,
        f"""SELECT toUInt32OrNull('12x') AS bad_n,
                  toUInt32OrNull('42') AS ok_n,
                  toUInt32OrZero('12x') AS zero_n,
                  toDateOrZero('nope') AS zero_d,
                  toDecimal64('3.5', 2) AS dec_v,
                  protocol({url}) AS proto,
                  domain({url}) AS host,
                  domainWithoutWWW({url}) AS host_nw,
                  path({url}) AS pth,
                  pathFull({url}) AS pthq,
                  queryString({url}) AS qs,
                  fragment({url}) AS frag,
                  extractURLParameter({url}, 'y') AS yval,
                  decodeURLComponent('a%20b') AS dec_url,
                  date_add(DAY, 3, toDate('2024-01-01')) AS plus3,
                  dateSub('day', 1, toDateTime('2024-01-02 00:00:00'))
                      AS minus1,
                  dayName(toDate('2024-02-05')) AS dn,
                  arrayElement([10, 20], 2) AS ae,
                  arrayElement([10, 20], -1) AS ae_neg,
                  mapKeys(map('a', 1)) AS mk,
                  toLastDayOfMonth(toDate('2024-02-10')) AS eom,
                  roundBankers(2.5) AS rb,
                  countMatches('aaa', 'aa') AS cm,
                  positionUTF8('hello', 'll') AS pos8,
                  parseDateTimeBestEffortOrNull('nope') AS bad_ts,
                  parseDateTimeBestEffort('2024-01-02 03:04:05') AS ok_ts,
                  bit_and_agg AS gba
           FROM (SELECT groupBitAnd(v) AS bit_and_agg
                 FROM (SELECT explode(array(6, 7)) AS v))""",
    ).collect()[0]
    assert row.bad_n is None and row.ok_n == 42 and row.zero_n == 0
    assert str(row.zero_d) == "1970-01-01"
    assert float(row.dec_v) == 3.5
    assert row.proto == "https" and row.host == "www.example.com"
    assert row.host_nw == "example.com"
    assert row.pth == "/a/b" and row.pthq == "/a/b?x=1&y=2"
    assert row.qs == "x=1&y=2" and row.frag == "frag"
    assert row.yval == "2" and row.dec_url == "a b"
    assert str(row.plus3) == "2024-01-04 00:00:00"
    assert str(row.minus1) == "2024-01-01 00:00:00"
    assert row.dn == "Monday"
    assert row.ae == 20 and row.ae_neg == 20
    assert row.mk == ["a"]
    assert str(row.eom) == "2024-02-29"
    assert row.rb == 2.0  # banker's: 2.5 -> 2
    assert row.cm == 1
    assert row.pos8 == 3
    assert row.bad_ts is None
    assert str(row.ok_ts) == "2024-01-02 03:04:05"
    assert row.gba == 6


def test_behavioral_parametric_translation_text():
    t = ch_compat.translate
    assert t("uniqUpTo(3)(x)") == "least(count(DISTINCT x), 4)"
    assert t("retention(a = 1, b = 2)") == (
        "array(int(bool_or(a = 1)), int(bool_or(a = 1) AND bool_or(b = 2)))"
    )
    got = t("windowFunnel(3600)(ts, e = 'a', e = 'b')")
    assert got.startswith("aggregate(sort_array(collect_list(")
    assert got.endswith(".level") and "3600000000" in got
    # mode flags change chain semantics -> loud
    with pytest.raises(ValueError):
        t("windowFunnel(3600, 'strict_order')(ts, e = 'a', e = 'b')")
    with pytest.raises(ValueError):
        t("windowFunnel(3600)(ts, e = 'a')")  # < 2 conditions
    with pytest.raises(ValueError):
        t("uniqUpTo(n)(x)")  # non-literal N


def test_window_funnel_translated_matches_operator(spark):
    """The CH-SQL windowFunnel a migrating user brings must agree with
    the native window_funnel operator on the same data (both implement
    the documented anchored-greedy automaton)."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import funnels

    events = schemas.load_table(spark, SF_DIR, "events")
    events.createOrReplaceTempView("events")
    per_user = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT user_id, windowFunnel(3600)(ts, "
        "event_type = 'view', event_type = 'click', "
        "event_type = 'purchase') AS level "
        "FROM events GROUP BY user_id",
    )
    translated = {
        k: sum(1 for lv in levels if lv >= k)
        for levels in [[r.level for r in per_user.collect()]]
        for k in (1, 2, 3)
    }
    native = {
        r.step: r.users_reached
        for r in funnels.window_funnel(
            events, ("view", "click", "purchase"), window_seconds=3600
        ).collect()
    }
    assert translated == native and native[1] > 0


def test_retention_uniq_up_to_execute(spark):
    # 3 users: u1 does a then b; u2 does a only; u3 does b only (no
    # anchor, so r = [0, 0] for them and they don't dilute r[1])
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT retention(e = 'a', e = 'b') AS r, "
        "uniqUpTo(1)(u) AS capped, uniqUpTo(5)(u) AS exact_n "
        "FROM (SELECT stack(4, 1, 'a', 1, 'b', 2, 'a', 3, 'b') AS (u, e))",
    ).collect()[0]
    assert row.r == [1, 1]  # some user hit the anchor; some hit a AND b
    assert row.capped == 2  # 3 distinct users, N=1 -> N+1 = 2
    assert row.exact_n == 3  # under the cap: exact
    # per-user retention matrix
    rows = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT u, retention(e = 'a', e = 'b') AS r "
        "FROM (SELECT stack(4, 1, 'a', 1, 'b', 2, 'a', 3, 'b') AS (u, e)) "
        "GROUP BY u ORDER BY u",
    ).collect()
    assert [r.r for r in rows] == [[1, 1], [1, 0], [0, 0]]


def test_round_is_bankers(spark):
    """CH round() is banker's rounding on floats (round(2.5) = 2); the
    half-up passthrough would silently diverge on every half."""
    assert ch_compat.translate("round(x, 2)") == "bround(x, 2)"
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT round(2.5) AS a, round(3.5) AS b, round(2.567, 2) AS c, "
        "roundBankers(2.5) AS d",
    ).collect()[0]
    assert float(row.a) == 2.0 and float(row.b) == 4.0
    assert abs(float(row.c) - 2.57) < 1e-9 and float(row.d) == 2.0


def test_transform_mapping_and_array_folds(spark):
    t = ch_compat.translate
    # CH transform = the enum-decode idiom; Spark's 2-arg HOF untouched
    assert t("transform(x, [1, 2], ['a', 'b'], '?')") == (
        "(CASE x WHEN 1 THEN 'a' WHEN 2 THEN 'b' ELSE '?' END)"
    )
    assert t("transform(x, [1], [9])") == "(CASE x WHEN 1 THEN 9 ELSE x END)"
    assert t("transform(a, v -> v + 1)") == "transform(a, v -> v + 1)"
    with pytest.raises(ValueError):
        t("transform(x, from_col, to_col, 0)")  # non-literal arrays
    assert t("arrayFold((acc, x) -> acc + x, arr, 0)") == (
        "aggregate(arr, 0, (acc, x) -> acc + x)"
    )
    assert t("arrayReduce('max', arr)") == "array_max(arr)"
    assert t("substringIndex('a.b.c', '.', 2)") == (
        "substring_index('a.b.c', '.', 2)"
    )
    with pytest.raises(ValueError):
        t("arrayReduce('median', arr)")

    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT transform(2, [1, 2, 3], ['a', 'b', 'c'], '?') AS hit, "
        "transform(9, [1, 2], ['a', 'b'], '?') AS miss, "
        "transform(9, [1, 2], [10, 20]) AS keep, "
        "arrayFold((acc, x) -> acc + x, [1, 2, 3], 100) AS folded, "
        "arrayReduce('sum', [1.5, 2.5]) AS rsum, "
        "arrayReduce('count', [1, 2]) AS rcount, "
        "arrayReduce('uniqExact', [1, 1, 2]) AS runiq, "
        "arrayCumSum([1, 2, 3]) AS cs, "
        "substringIndex('a.b.c', '.', 2) AS si",
    ).collect()[0]
    assert row.hit == "b" and row.miss == "?" and row.keep == 9
    assert row.folded == 106
    assert row.rsum == 4.0 and row.rcount == 2 and row.runiq == 2
    assert row.cs == [1.0, 3.0, 6.0]
    assert row.si == "a.b"


def test_parametric_parser_property():
    """Property: windowFunnel conditions containing commas, parens and
    string literals (with commas/parens INSIDE the literals) survive the
    depth-aware parametric parse — every condition appears verbatim in
    the emitted CASE chain — and translation is idempotent over it."""
    from hypothesis import given, settings, strategies as st

    ident = st.from_regex(r"zz[a-z0-9_]{0,5}", fullmatch=True)
    lit = st.sampled_from(["a,b", "x(y", "p)q", "s", "a'' ,)b"])
    cond = st.tuples(ident, ident, st.integers(0, 9), lit).map(
        lambda t: f"{t[0]}({t[1]}, {t[2]}) = '{t[3]}'"
    )

    @settings(max_examples=40, deadline=None)
    @given(st.lists(cond, min_size=2, max_size=4), st.integers(1, 9999))
    def prop(conds, w):
        sql = f"windowFunnel({w})(ts, {', '.join(conds)})"
        got = ch_compat.translate(sql)
        for c in conds:
            assert f"WHEN ({c})" in got, (sql, got)
        assert got.endswith(".level") and str(w * 1_000_000) in got
        assert ch_compat.translate(got) == got

    prop()


def test_cast_function_form_and_ch_type_names(spark):
    t = ch_compat.translate
    assert t("CAST(x, 'UInt64')") == "CAST(x AS bigint)"
    assert t("cast(x, 'Nullable(String)')") == "CAST(x AS string)"
    assert t("CAST(x, 'DateTime64(3)')") == "CAST(x AS timestamp)"
    assert t("CAST(x, 'Decimal64(2)')") == "CAST(x AS decimal(18, 2))"
    assert t("CAST(x, 'Array(UInt8)')") == "CAST(x AS array<int>)"
    # AS form with CH type names; Spark-native names untouched
    assert t("CAST(x AS UInt32)") == "CAST(x AS bigint)"
    assert t("CAST(x AS LowCardinality(String))") == "CAST(x AS string)"
    assert t("CAST(x AS BIGINT)") == "CAST(x AS BIGINT)"
    assert t("CAST(CAST(x AS int) AS UInt64)") == (
        "CAST(CAST(x AS int) AS bigint)"
    )
    assert t("accurateCast(x, 'UInt64')") == "CAST(x AS bigint)"
    assert t("accurateCastOrNull(x, 'UInt64')") == "try_cast(x AS bigint)"
    with pytest.raises(ValueError):
        t("CAST(x, 'AggregateFunction(sum, UInt64)')")
    with pytest.raises(ValueError):
        t("CAST(x, col)")  # non-literal type

    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT CAST('42', 'UInt64') AS n, "
        "CAST('2024-01-02 03:04:05', 'DateTime') AS ts, "
        "accurateCastOrNull('12x', 'UInt64') AS bad, "
        "CAST('3.5' AS Float64) AS f",
    ).collect()[0]
    assert row.n == 42
    assert str(row.ts) == "2024-01-02 03:04:05"
    assert row.bad is None
    assert row.f == 3.5


def test_quantile_variant_aliases():
    t = ch_compat.translate
    assert t("quantileTiming(0.95)(ms)") == "percentile(ms, 0.95)"
    assert t("quantileBFloat16(0.5)(x)") == "percentile(x, 0.5)"
    assert t("quantilesTiming(0.5, 0.9)(ms)") == (
        "percentile(ms, array(0.5, 0.9))"
    )
    assert t("uniqTheta(x)") == "approx_count_distinct(x)"
    # r07: *Weighted forms -> percentile's 3-arg frequency signature
    # (exact weighted percentile — the stronger-contract rule)
    assert t("quantileExactWeighted(0.5)(x, w)") == (
        "percentile(x, 0.5, w)"
    )
    assert t("quantileTimingWeighted(0.95)(ms, n)") == (
        "percentile(ms, 0.95, n)"
    )
    assert t("quantilesTDigestWeighted(0.5, 0.9)(x, w)") == (
        "percentile(x, array(0.5, 0.9), w)"
    )
    # Deterministic (extra determinator arg) stays loud
    assert "quantileDeterministic" in t("quantileDeterministic(0.5)(x, d)")


def test_quantile_weighted_execute(spark):
    """Weighted quantile equals the exact percentile over the
    weight-expanded multiset (cross-checked by literal expansion)."""
    spark.sql(
        "SELECT * FROM VALUES (1, 1L), (2, 3L), (10, 1L) AS t(x, w)"
    ).createOrReplaceTempView("qw_t")
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT quantileExactWeighted(0.5)(x, w) AS p FROM qw_t",
    ).collect()[0].p
    want = spark.sql(
        "SELECT percentile(x, 0.5) AS p FROM "
        "(SELECT stack(5, 1, 2, 2, 2, 10) AS (x))"
    ).collect()[0].p
    assert got == want == 2.0


def test_topk_any_heavy_execute(spark):
    """topK(N) translates to the EXACT top-N-by-frequency array
    (deterministic value-asc tie-break); anyHeavy -> mode."""
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT topK(2)(x) AS tk, anyHeavy(x) AS ah "
        "FROM (SELECT stack(6, 1, 1, 1, 2, 2, 3) AS (x))",
    ).collect()[0]
    assert row.tk == [1, 2] and row.ah == 1
    # tie on frequency: value ascending wins deterministically
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT topK(1)(x) AS tk "
        "FROM (SELECT stack(4, 9, 9, 4, 4) AS (x))",
    ).collect()[0]
    assert row.tk == [4]
    with pytest.raises(ValueError, match="topK"):
        ch_compat.translate("SELECT topK(n)(x) FROM t")  # non-literal N


def test_sum_map_families_execute(spark):
    """sumMap/minMap/maxMap aggregate per-row parallel arrays per key;
    CH's ([keys], [values]) tuple becomes struct(keys, values), keys
    sorted ascending."""
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT sumMap(k, v) AS s, minMap(k, v) AS mn, maxMap(k, v) AS mx "
        "FROM (SELECT stack(2, array(1, 2), array(10.0D, 10.0D), "
        "array(2, 3), array(5.0D, 5.0D)) AS (k, v))",
    ).collect()[0]
    assert row.s.keys == [1, 2, 3] and row.s.values == [10.0, 15.0, 5.0]
    assert row.mn.values == [10.0, 5.0, 5.0]
    assert row.mx.values == [10.0, 10.0, 5.0]
    with pytest.raises(ValueError, match="sumMap"):
        ch_compat.translate("SELECT sumMap(k) FROM t")


def test_sequence_match_count_execute(spark):
    """sequenceMatch: greedy subsequence existence over time-ordered
    events — exact for '.*'-separated (?i) references, any order, an
    event satisfying several conditions can serve any of them.
    sequenceCount counts non-overlapping completions."""
    data = (
        "FROM (SELECT stack(4, TIMESTAMP'2024-01-01 00:00:01', 1, "
        "TIMESTAMP'2024-01-01 00:00:02', 2, "
        "TIMESTAMP'2024-01-01 00:00:03', 1, "
        "TIMESTAMP'2024-01-01 00:00:04', 2) AS (ts, a))"
    )
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT sequenceMatch('(?1).*(?2)')(ts, a = 1, a = 2) AS fwd, "
        "sequenceMatch('(?2).*(?1)')(ts, a = 1, a = 2) AS rev, "
        "sequenceMatch('(?1).*(?2)')(ts, a = 1, a = 9) AS miss, "
        "sequenceCount('(?1).*(?2)')(ts, a = 1, a = 2) AS n " + data,
    ).collect()[0]
    assert (row.fwd, row.rev, row.miss, row.n) == (1, 1, 0, 2)
    # an event matching BOTH conditions serves either step (bitmap, not
    # windowFunnel's CASE priority)
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT sequenceMatch('(?1).*(?2)')(ts, a >= 1, a = 1) AS m "
        "FROM (SELECT stack(2, TIMESTAMP'2024-01-01 00:00:01', 1, "
        "TIMESTAMP'2024-01-01 00:00:02', 1) AS (ts, a))",
    ).collect()[0]
    assert row.m == 1
    # loud: time constraints, out-of-range reference (strict adjacency
    # TRANSLATES since round 8 — test below)
    for bad in (
        "sequenceMatch('(?1)(?t<10)(?2)')(ts, a, b)",
        "sequenceMatch('(?1).*(?3)')(ts, a, b)",
    ):
        with pytest.raises(ValueError, match="sequence"):
            ch_compat.translate(f"SELECT {bad} FROM t")


def test_sequence_match_strict_adjacency_execute(spark):
    """Strict adjacency '(?1)(?2)' (round 8): adjacency is over the
    TRACKED sequence — CH's documented contract: an event matching no
    condition is invisible, one matching any condition breaks the
    chain. The regex-over-encoded-cells path supplies exact
    backtracking a one-pass fold can't."""
    # the ClickHouse docs example: events 1, 3, 2 — with 3 untracked
    # the chain 1->2 is adjacent; tracking number=3 breaks it; .* still
    # matches across the tracked 3
    data3 = (
        "FROM (SELECT stack(3, TIMESTAMP'2024-01-01 00:00:01', 1, "
        "TIMESTAMP'2024-01-01 00:00:02', 3, "
        "TIMESTAMP'2024-01-01 00:00:03', 2) AS (ts, a))"
    )
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT sequenceMatch('(?1)(?2)')(ts, a = 1, a = 2) AS adj, "
        "sequenceMatch('(?1)(?2)')(ts, a = 1, a = 2, a = 3) AS broken, "
        "sequenceMatch('(?1).*(?2)')(ts, a = 1, a = 2, a = 3) AS loose "
        + data3,
    ).collect()[0]
    assert (row.adj, row.broken, row.loose) == (1, 0, 1)
    # the backtracking trap a greedy fold fails: '(?1)(?1)(?2)' over
    # events 1,1,1,2 must match at the SECOND event (java regex
    # backtracks; a naive restart-at-failure automaton misses it)
    data4 = (
        "FROM (SELECT stack(4, TIMESTAMP'2024-01-01 00:00:01', 1, "
        "TIMESTAMP'2024-01-01 00:00:02', 1, "
        "TIMESTAMP'2024-01-01 00:00:03', 1, "
        "TIMESTAMP'2024-01-01 00:00:04', 2) AS (ts, a))"
    )
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT sequenceMatch('(?1)(?1)(?2)')(ts, a = 1, a = 2) AS m "
        + data4,
    ).collect()[0]
    assert row.m == 1
    # sequenceCount with adjacency: non-overlapping earliest-completion
    # scan (lazy gaps) — a=1,2,1,2 pairs twice; mixed strict+loose runs
    data5 = (
        "FROM (SELECT stack(4, TIMESTAMP'2024-01-01 00:00:01', 1, "
        "TIMESTAMP'2024-01-01 00:00:02', 2, "
        "TIMESTAMP'2024-01-01 00:00:03', 1, "
        "TIMESTAMP'2024-01-01 00:00:04', 2) AS (ts, a))"
    )
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT sequenceCount('(?1)(?2)')(ts, a = 1, a = 2) AS n, "
        "sequenceCount('(?1).*(?2)(?2)')(ts, a = 1, a = 2) AS z "
        + data5,
    ).collect()[0]
    assert (row.n, row.z) == (2, 0)


def test_topk_weighted_execute(spark):
    """topKWeighted: exact top-N by TOTAL WEIGHT, value-asc ties."""
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT topKWeighted(2)(v, w) AS t, topK(2)(v) AS f "
        "FROM (SELECT stack(4, 'a', 1, 'b', 10, 'a', 2, 'c', 5) "
        "AS (v, w))",
    ).collect()[0]
    # by weight: b=10, c=5, a=3 -> [b, c]; by frequency: a twice -> [a, ...]
    assert row.t == ["b", "c"]
    assert row.f[0] == "a"
    with pytest.raises(ValueError, match="topKWeighted"):
        ch_compat.translate("SELECT topKWeighted(2)(v) FROM t")


def test_arg_and_any_if_combinators_execute(spark):
    """argMaxIf/argMinIf drop non-matching rows by NULLing the ordering
    key (max_by skips NULL keys); anyIf ignores NULLed non-matches;
    boundingRatio is the min/max-x slope."""
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT argMaxIf(a, b, c > 0) AS amx, "
        "argMinIf(a, b, c > 0) AS amn, anyIf(a, b = 2) AS ai, "
        "boundingRatio(b, c) AS br "
        "FROM (SELECT stack(3, 'x', 9, 0, 'y', 2, 1, 'z', 1, 2) "
        "AS (a, b, c))",
    ).collect()[0]
    # row 'x' has c = 0 -> excluded despite the max b
    assert (row.amx, row.amn, row.ai) == ("y", "z", "y")
    # slope over b: c at max b (9 -> 0) minus c at min b (1 -> 2) over 8
    assert row.br == pytest.approx((0 - 2) / (9 - 1))
    with pytest.raises(ValueError, match="argMaxIf"):
        ch_compat.translate("SELECT argMaxIf(a, b) FROM t")
    with pytest.raises(ValueError, match="anyIf"):
        ch_compat.translate("SELECT anyIf(a) FROM t")


def test_geo_datename_uuid_misc_batch(spark):
    """Round-7 close-out scalar batch: greatCircleDistance (6371 km
    sphere haversine — Paris-London ~343.5 km), dateName parts,
    formatReadableDecimalSize (1000-base), toRelativeHour/Minute/
    SecondNum, toUUIDOrNull validation, simpleJSON* aliases,
    randUniform/randNormal parameter contracts."""
    def run(sel):
        return spark.sql(ch_compat.translate(f"SELECT {sel}")).collect()[0][0]

    km = run("greatCircleDistance(2.3522, 48.8566, -0.1276, 51.5072)") / 1000
    assert abs(km - 343.5) < 1.0
    assert run("formatReadableDecimalSize(1234567)") == "1.23 MB"
    assert run("toRelativeHourNum(TIMESTAMP'1970-01-02 01:00:00')") == 25
    assert run("toRelativeMinuteNum(TIMESTAMP'1970-01-01 00:02:30')") == 2
    assert run("dateName('month', DATE'2024-03-05')") == "March"
    assert run("dateName('weekday', DATE'2024-03-05')") == "Tuesday"
    assert run("dateName('day', DATE'2024-03-05')") == "5"
    assert run(
        "toUUIDOrNull('61f0c404-5CB3-11E7-907B-A6006AD3DBA0')"
    ) == "61f0c404-5cb3-11e7-907b-a6006ad3dba0"
    assert run("toUUIDOrNull('nope')") is None
    assert run(
        'simpleJSONExtractString(\'{"k": "v"}\', \'k\')'
    ) == "v"
    u = run("randUniform(5, 6)")
    assert 5 <= u < 6
    assert abs(run("randNormal(100, 0.001)") - 100) < 1
    # loud paths
    with pytest.raises(ValueError, match="dateName"):
        ch_compat.translate("SELECT dateName('era', d) FROM t")
    with pytest.raises(ValueError, match="greatCircleDistance"):
        ch_compat.translate("SELECT greatCircleDistance(a, b) FROM t")
    # geoDistance's ellipsoid variant stays untouched (loud in Spark)
    assert "geoDistance" in ch_compat.translate("SELECT geoDistance(a,b,c,d)")


def test_array_combinators_execute(spark):
    """-Array combinators apply the aggregate to ALL elements of the
    group's arrays; sumDistinct and sumCount round out the family."""
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT sumArray(a) AS s, minArray(a) AS mn, maxArray(a) AS mx, "
        "avgArray(a) AS av, uniqArray(a) AS u, "
        "groupArrayArray(a) AS ga, groupUniqArrayArray(a) AS gu, "
        "sumDistinct(x) AS sd, sumCount(x) AS sc "
        "FROM (SELECT stack(2, array(1, 2), 5, array(2, 4), 5) AS (a, x))",
    ).collect()[0]
    assert (row.s, row.mn, row.mx, row.av) == (9.0, 1, 4, 2.25)
    assert row.u == 3  # {1, 2, 4}
    assert sorted(row.ga) == [1, 2, 2, 4]
    assert sorted(row.gu) == [1, 2, 4]
    assert row.sd == 5  # 5 appears twice, summed once
    assert (row.sc.sum, row.sc["count"]) == (10, 2)


def test_state_merge_combinators_translate(spark):
    """-State/-Merge combinators (AggregatingMergeTree migration): states
    are plain Spark-typed columns — sum/max/min/count ARE the value,
    avg a struct<sum,cnt>, uniq a Datasketches HLL sketch."""
    t = ch_compat.translate
    assert t("sumState(x)") == "sum(x)"
    assert t("countState()") == "count(*)"
    assert t("countState(x)") == "count(x)"
    assert t("maxState(x)") == "max(x)"
    assert t("minState(x)") == "min(x)"
    assert t("avgState(x)") == "named_struct('sum', sum(x), 'cnt', count(x))"
    assert t("uniqState(x)") == "hll_sketch_agg(x)"
    assert t("sumMerge(c)") == "sum(c)"
    assert t("countMerge(c)") == "sum(c)"
    assert t("maxMerge(c)") == "max(c)"
    assert t("minMerge(c)") == "min(c)"
    assert t("avgMerge(c)") == "(sum((c).sum) / sum((c).cnt))"
    assert t("uniqMerge(c)") == "hll_sketch_estimate(hll_union_agg(c))"
    with pytest.raises(ValueError, match="exactly one argument"):
        t("sumState(x, y)")
    # end-to-end: states written per block, merged exactly on read
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT sumMerge(s) AS s, countMerge(n) AS n, maxMerge(mx) AS mx, "
        "avgMerge(av) AS av, uniqMerge(u) AS u FROM ("
        "SELECT b, sumState(x) AS s, countState() AS n, maxState(x) AS mx, "
        "avgState(x) AS av, uniqState(x) AS u "
        "FROM (SELECT id % 3 AS b, id % 7 AS x FROM range(21)) GROUP BY b)",
    ).collect()[0]
    assert (row.s, row.n, row.mx, row.av, row.u) == (63, 21, 6, 3.0, 7)


def test_round8_advice_fixes(spark):
    t = ch_compat.translate
    # ADVICE r07 #3: UInt64 family keeps the full unsigned range
    # (exact strings gained a truncation detour in r09 — see
    # test_round9_advice_fixes; here pin the load-bearing parts)
    assert "try_cast(s AS decimal(38,18))" in t("toUInt64OrNull(s)")
    assert "decimal(20,0)" in t("toUInt64OrNull(s)")
    assert t("toUInt64OrZero(s)").startswith("coalesce(")
    [r] = spark.sql(
        t("SELECT toUInt64OrNull('9223372036854775809') AS v, "
          "toUInt64OrZero('nope') AS z")
    ).collect()
    assert int(r.v) == 9223372036854775809  # > 2^63: bigint would NULL it
    assert int(r.z) == 0
    # ADVICE r07 #5: intExp2 loud outside 0..62 (Spark masks shifts mod 64)
    assert t("intExp2(10)") == "shiftleft(CAST(1 AS BIGINT), 10)"
    assert spark.sql(t("SELECT intExp2(62) AS v")).collect()[0].v == 2**62
    with pytest.raises(ValueError, match="intExp2"):
        t("intExp2(64)")
    guarded = t("intExp2(n)")
    assert "assert_true" in guarded
    import py4j.protocol

    with pytest.raises(Exception, match="exponent must be in 0..62"):
        spark.sql(f"SELECT {guarded.replace('(n)', '(64)')} AS v").collect()


def test_agg_states_two_level_read_vs_duckdb(spark, duck):
    """The AggregatingMergeTree two-level read in CH SQL — inner select
    materializes per-(event_type, day) STATES with -State combinators
    (what a CH MV writes per block), outer -Merge re-aggregates to the
    coarser grain — against a direct one-level DuckDB aggregate: merging
    partial states must lose nothing. Exact family only (sum/count/max/
    avg); the uniq/HLL member is covered by the streaming test's
    tolerance check (test_ddl_compat). The same read is registry row
    `ch_agg_states_rollup`."""
    from tests.conftest import SF_DIR, assert_parity
    from use_clickhouse_2_analyze_mysql_binlog_spark import schemas

    schemas.load_table(spark, SF_DIR, "events").createOrReplaceTempView(
        "events"
    )
    got = ch_compat.run_clickhouse_sql(
        spark,
        """
SELECT event_type,
       sumMerge(s) AS sum_value_cents,
       countMerge(n) AS n_events,
       maxMerge(mx) AS max_value_cents,
       avgMerge(av) AS avg_value_cents
FROM (
    SELECT event_type, toDate(ts) AS day,
           sumState(toInt64(floor(value * 100))) AS s,
           countState() AS n,
           maxState(toInt64(floor(value * 100))) AS mx,
           avgState(toInt64(floor(value * 100))) AS av
    FROM dashboard.events_all
    GROUP BY event_type, day
)
GROUP BY event_type
""",
        table_map={"dashboard.events_all": "events"},
    )
    assert_parity(
        got,
        duck,
        """
SELECT event_type,
       CAST(sum(v) AS BIGINT) AS sum_value_cents,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(v) AS BIGINT) AS max_value_cents,
       CAST(sum(v) AS BIGINT) / CAST(count(*) AS BIGINT) AS avg_value_cents
FROM (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v FROM events)
GROUP BY event_type
""",
        "agg_states_two_level",
    )


def test_summap_states_two_level_read_vs_duckdb(spark, duck):
    """sumMap/minMap/maxMap two-level state read: the inner select builds
    per-(event_type, day) key→value map states (-State over parallel
    arrays), the outer -Merge folds them key-wise and finalizes to CH's
    ([sorted keys], [values]) shape — against a direct per-key DuckDB
    aggregate: merging partial map states must lose nothing."""
    from tests.conftest import SF_DIR
    from use_clickhouse_2_analyze_mysql_binlog_spark import schemas

    schemas.load_table(spark, SF_DIR, "events").createOrReplaceTempView(
        "events"
    )
    [row] = ch_compat.run_clickhouse_sql(
        spark,
        """
SELECT sumMapMerge(sm) AS sm, minMapMerge(mn) AS mn, maxMapMerge(mx) AS mx
FROM (
    SELECT event_type, toDate(ts) AS day,
           sumMapState(array(modulo(length(event_type), 3)),
                       array(toInt64(floor(value * 100)))) AS sm,
           minMapState(array(modulo(length(event_type), 3)),
                       array(toInt64(floor(value * 100)))) AS mn,
           maxMapState(array(modulo(length(event_type), 3)),
                       array(toInt64(floor(value * 100)))) AS mx
    FROM dashboard.events_all
    GROUP BY event_type, day
)
""",
        table_map={"dashboard.events_all": "events"},
    ).collect()
    want = {
        int(k): (int(s), int(lo), int(hi))
        for k, s, lo, hi in duck.sql(
            "SELECT length(event_type) % 3 AS k, CAST(sum(v) AS BIGINT), "
            "CAST(min(v) AS BIGINT), CAST(max(v) AS BIGINT) FROM "
            "(SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v "
            " FROM events) GROUP BY k"
        ).fetchall()
    }
    # the three merges see the same key set, sorted
    assert list(row.sm[0]) == sorted(row.sm[0])
    assert list(row.mn[0]) == list(row.sm[0]) == list(row.mx[0])
    got = {
        int(k): (int(s), int(lo), int(hi))
        for k, s, lo, hi in zip(row.sm[0], row.sm[1], row.mn[1], row.mx[1])
    }
    assert got == want and len(got) > 0


def test_state_two_level_rewrite_fires_and_preserves_values(spark):
    """r15 (VERDICT r14 next #1): safe-shaped GROUP BY blocks holding
    map-/histogram-State calls restructure to a two-level GROUP BY (the
    exchange carries partial per-key aggregates, not collected row
    lists). Pins (a) WHEN the structural pass fires vs falls back and
    (b) that the fired path is value-identical to the expression-level
    expansion on every edge the old fold defined: empty/NULL arrays
    still emit an EMPTY map for the group, a NULL value poisons the
    key's sum (acc + NULL), min/max skip NULLs, per-row duplicate keys
    accumulate, NULL histogram values are skipped."""
    spark.sql(
        "SELECT * FROM VALUES"
        " (1, array(1L, 2L), array(10L, 20L)),"
        " (1, array(2L), array(5L)),"
        " (2, array(), array()),"
        " (3, CAST(NULL AS ARRAY<BIGINT>), CAST(NULL AS ARRAY<BIGINT>)),"
        " (5, array(1L, 1L), array(3L, 4L)),"
        " (6, array(9L), array(CAST(NULL AS BIGINT))),"
        " (6, array(9L), array(2L))"
        " AS t(g, ks, vs)"
    ).createOrReplaceTempView("tl_edge_t")
    new_sql = (
        "SELECT g, sumMapState(ks, vs) AS sm, minMapState(ks, vs) AS mn,"
        " maxMapState(ks, vs) AS mx FROM tl_edge_t GROUP BY g"
    )
    # the alias-less first item makes the shape unsafe -> fallback
    old_sql = new_sql.replace(" AS sm", " sm")
    t_new, t_old = ch_compat.translate(new_sql), ch_compat.translate(old_sql)
    assert "__msents" in t_new and "LATERAL VIEW OUTER" in t_new, t_new
    assert "__msents" not in t_old, t_old

    def snap(t, cols=("sm", "mn", "mx")):
        return {
            r.g: tuple(
                None if r[c] is None else tuple(sorted(dict(r[c]).items()))
                for c in cols
            )
            for r in spark.sql(t).collect()
        }

    got = snap(t_new)
    assert got == snap(t_old)
    assert got[2] == ((), (), ())  # empty arrays -> empty map, group kept
    assert got[3] == ((), (), ())  # NULL arrays -> same
    assert got[6] == (((9, None),), ((9, 2),), ((9, 2),))  # NULL poisons sum

    # histogram family: the fired path matches the fold on NULL-skipping
    # and empty groups
    spark.sql(
        "SELECT * FROM VALUES (1, 10L), (1, 10L), (1, 20L),"
        " (2, CAST(NULL AS BIGINT)) AS t(g, x)"
    ).createOrReplaceTempView("tl_hist_t")
    for fn in ("quantileState", "quantileTDigestState"):
        nq = f"SELECT g, {fn}(x) AS qh FROM tl_hist_t GROUP BY g"
        oq = nq.replace(" AS qh", " qh")
        tn, to = ch_compat.translate(nq), ch_compat.translate(oq)
        assert "__msq" in tn and "__msq" not in to, fn
        assert snap(tn, cols=("qh",)) == snap(to, cols=("qh",)), fn

    # singleton-array fast path: array(expr) keys/values group on the
    # expression directly — no explode Generate in the translated text —
    # with the same value semantics (measured 0.90 -> 0.55 s on the
    # sf10 state build's inner aggregate)
    spark.sql(
        "SELECT * FROM VALUES (1, 1L, 10L), (1, 2L, 20L), (1, 2L, 5L),"
        " (3, 4L, CAST(NULL AS BIGINT)), (3, 4L, 2L) AS t(g, k, v)"
    ).createOrReplaceTempView("tl_sg_t")
    sg_new = (
        "SELECT g, sumMapState(array(k), array(v)) AS sm,"
        " minMapState(array(k), array(v)) AS mn FROM tl_sg_t GROUP BY g"
    )
    sg_old = sg_new.replace(" AS sm", " sm")
    t_sg = ch_compat.translate(sg_new)
    assert "__msk0" in t_sg and "explode" not in t_sg, t_sg
    assert snap(t_sg, cols=("sm", "mn")) == snap(
        ch_compat.translate(sg_old), cols=("sm", "mn")
    )
    # documented narrowing (error path only): a NULL map key raised
    # NULL_MAP_KEY in the old expansion; the two-level form drops the
    # entry and keeps the group
    spark.sql(
        "SELECT * FROM VALUES (2, CAST(NULL AS BIGINT), 7L) AS t(g, k, v)"
    ).createOrReplaceTempView("tl_nk_t")
    [nk] = spark.sql(
        ch_compat.translate(sg_new.replace("tl_sg_t", "tl_nk_t"))
    ).collect()
    assert (nk.g, dict(nk.sm), dict(nk.mn)) == (2, {}, {})

    # fall-back pins: mixed aggregate kinds, IF-wrapped calls, HAVING,
    # and non-grouped shapes must NOT restructure
    for bad in (
        # mixed with a non-rewritable aggregate
        "SELECT g, sumMapState(ks, vs) AS sm, count(*) AS n "
        "FROM tl_edge_t GROUP BY g",
        # call not a bare top-level item
        "SELECT g, IF(g = 2, NULL, sumMapState(ks, vs)) AS sm "
        "FROM tl_edge_t GROUP BY g",
        # trailing clause after GROUP BY
        "SELECT g, sumMapState(ks, vs) AS sm FROM tl_edge_t "
        "GROUP BY g HAVING g > 1",
        # mixed histogram keys (raw vs quantized)
        "SELECT g, quantileState(x) AS a, quantileTDigestState(x) AS b "
        "FROM tl_hist_t GROUP BY g",
        # global aggregate (no GROUP BY)
        "SELECT sumMapState(ks, vs) AS sm FROM tl_edge_t",
    ):
        tb = ch_compat.translate(bad)
        assert "__msents" not in tb and "__msq" not in tb, bad


def test_state_two_level_alias_shadowing_a_column_falls_back(spark):
    """ADVICE r15 medium: ``substr(g, 1, 2) AS g ... GROUP BY g`` groups by
    the input column g in Spark, not by the alias. The two-level rewrite
    used to accept the bare alias as a GROUP BY match and grouped by the
    alias expression: one row where the fallback returns two. A computed
    key now matches only by its expression, so the two paths agree."""
    spark.sql(
        "SELECT * FROM VALUES ('abc', array(1L), array(10L)),"
        " ('abd', array(1L), array(5L)) AS t(g, ks, vs)"
    ).createOrReplaceTempView("tl_alias_t")

    def rows(sql):
        return sorted(
            (r.g, tuple(sorted(dict(r.sm).items())))
            for r in spark.sql(ch_compat.translate(sql)).collect()
        )

    shadowed = (
        "SELECT substr(g, 1, 2) AS g, sumMapState(ks, vs) AS sm "
        "FROM tl_alias_t GROUP BY g"
    )
    assert "__msents" not in ch_compat.translate(shadowed)
    # the alias-less state item forces the expression-level fallback
    fallback = rows(shadowed.replace(" AS sm", " sm"))
    assert fallback == [("ab", ((1, 5),)), ("ab", ((1, 10),))]
    assert rows(shadowed) == fallback

    # grouping by the key expression itself still takes the two-level path
    by_expr = (
        "SELECT substr(g, 1, 2) AS g, sumMapState(ks, vs) AS sm "
        "FROM tl_alias_t GROUP BY substr(g, 1, 2)"
    )
    assert "__msents" in ch_compat.translate(by_expr)
    assert rows(by_expr) == rows(by_expr.replace(" AS sm", " sm"))
    assert rows(by_expr) == [("ab", ((1, 15),))]


def test_round10_advice_fixes_empty_state_merges(spark):
    """ADVICE r09 regressions: a -Merge over a group whose states are all
    NULL (e.g. every source value NULL -> quantileState produced an empty
    histogram / sumMapState produced NULL) collects an EMPTY list; under
    ANSI mode the old element_at(...) seed raised
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT. CH answers nan/NULL there, never
    an error — the try_element_at seeds restore NULL. bar(NULL, ...)
    likewise propagates NULL instead of collapsing to '' (greatest/least
    silently skip NULLs)."""
    spark.sql(
        "SELECT * FROM VALUES (1, CAST(NULL AS BIGINT)), (1, NULL), "
        "(2, 10), (2, 20) AS t(g, x)"
    ).createOrReplaceTempView("advice_t")
    rows = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT g, quantileMerge(0.5)(qs) AS med, sumMapMerge(ms) AS sm, "
        "minMapMerge(mns) AS mn FROM ("
        "  SELECT g,"
        "         quantileState(x) AS qs,"
        "         IF(x IS NULL, NULL,"
        "            sumMapState(array(x % 2), array(x))) AS ms,"
        "         IF(x IS NULL, NULL,"
        "            minMapState(array(x % 2), array(x))) AS mns"
        "  FROM advice_t GROUP BY g, x"
        ") GROUP BY g ORDER BY g",
    ).collect()
    g1, g2 = rows
    # the all-NULL group yields NULL everywhere — no ANSI error
    assert (g1.med, g1.sm, g1.mn) == (None, None, None)
    # the real group is unaffected: floor(0.5*2)+1 = rank 2 -> 20
    assert g2.med == 20
    assert (list(g2.sm[0]), list(g2.sm[1])) == ([0], [30])
    assert (list(g2.mn[0]), list(g2.mn[1])) == ([0], [10])
    # bar: NULL propagates; non-NULL bands unchanged
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT bar(CAST(NULL AS DOUBLE), 0, 10, 10) AS bn, "
        "bar(3, 0, 8, 8) AS b3",
    ).collect()[0]
    assert row.bn is None and row.b3 == "█" * 3


def test_groupbitmap_two_level_read_vs_duckdb(spark, duck):
    """groupBitmap state (round 10, VERDICT r09 next #3): -State is the
    exact deduped integer set (the roaring bitmap's information content
    — set-union merge IS the bitmap OR), -Merge finalizes to the
    CARDINALITY like CH's UInt64 groupBitmapMerge. The two-level read
    (per-(event_type, day) states, merged to event_type grain) must
    equal DuckDB's direct count(DISTINCT) — and the query-side
    groupBitmap translation (count DISTINCT) must agree with the merged
    state path."""
    from tests.conftest import SF_DIR
    from use_clickhouse_2_analyze_mysql_binlog_spark import schemas

    schemas.load_table(spark, SF_DIR, "events").createOrReplaceTempView(
        "events"
    )
    got = {
        r.event_type: (int(r.card), int(r.direct))
        for r in ch_compat.run_clickhouse_sql(
            spark,
            """
SELECT event_type, groupBitmapMerge(bs) AS card, groupBitmap(au) AS direct
FROM (
    SELECT event_type, toDate(ts) AS day,
           groupBitmapState(user_id) AS bs,
           anyLast(user_id) AS au
    FROM dashboard.events_all
    GROUP BY event_type, day
)
GROUP BY event_type
""",
            table_map={"dashboard.events_all": "events"},
        ).collect()
    }
    want = {
        et: int(c)
        for et, c in duck.sql(
            "SELECT event_type, count(DISTINCT user_id) FROM events "
            "GROUP BY event_type"
        ).fetchall()
    }
    assert {et: c for et, (c, _) in got.items()} == want and len(got) > 0
    # inner groupBitmap-over-anyLast counts distinct day-representatives
    # — a smaller set by construction; just pin it runs and bounds hold
    assert all(d <= c for c, d in got.values())


def test_round8_review_fixes(spark):
    """Self-review round-8 batch: plain toUInt64 full-unsigned-range,
    topKWeighted NULL skipping, intExp2 NULL propagation."""
    t = ch_compat.translate
    # plain toUInt64 matches its Or-family (decimal(20,0), not bigint)
    assert "decimal(20, 0)" in t("toUInt64(s)")
    [r] = spark.sql(
        t("SELECT toUInt64('9223372036854775809') AS v")
    ).collect()
    assert int(r.v) == 9223372036854775809
    # the Or-family twins share the trunc-then-narrow shape (try_cast)
    assert "try_cast" in t("toUInt64OrNull(s)")
    # topKWeighted skips NULL values and NULL weights like CH aggregates
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT topKWeighted(2)(v, w) AS t FROM (SELECT stack(4, "
        "'a', 1, CAST(NULL AS STRING), 100, 'b', 5, 'a', CAST(NULL AS INT)"
        ") AS (v, w))",
    ).collect()[0]
    # NULL value row ignored; a's NULL weight ignored (a keeps weight 1)
    assert row.t == ["b", "a"]
    # intExp2(NULL) propagates NULL (CH contract) instead of raising
    [r] = spark.sql(
        t("SELECT intExp2(x) AS v FROM (SELECT CAST(NULL AS INT) AS x)")
    ).collect()
    assert r.v is None


def test_round8_everyday_batch_execute(spark):
    """Round-8 everyday surface: isNaN (NULL-propagating), translateUTF8,
    toUUID (validated + lowercased like its OrNull twin),
    mapFilter/mapUpdate (single-bound m2 precedence without map_concat's
    duplicate-key error), IPv4 conversions (malformed loud),
    regexpQuoteMeta, arrayCumSumNonNegative (clamp-at-zero affects later
    elements; NULL propagates like the sibling), now64,
    lagInFrame/leadInFrame, simpleLinearRegression as a
    .1/.2-accessible tuple, rand* forms."""
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT isNaN(CAST('NaN' AS Float64)) AS nan1, isNaN(1.0) AS nan0, "
        "isNaN(CAST(NULL AS Float64)) AS nann, "
        "translateUTF8('abcd', 'ac', 'xz') AS tr, "
        "toUUID('123E4567-E89B-12D3-A456-426614174000') AS uu, "
        "mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)) AS mf, "
        "mapUpdate(map('a', 1, 'b', 2), map('b', 9, 'c', 3)) AS mu, "
        "IPv4NumToString(3232235777) AS ip, "
        "IPv4StringToNum('192.168.1.1') AS ipn, "
        "regexpQuoteMeta('a.b[c]-d') AS rq, "
        "arrayCumSumNonNegative([1, 1, -4, 1]) AS cs, "
        "arrayCumSumNonNegative([1, NULL, 2]) AS csn, "
        "now64() IS NOT NULL AS n64, "
        "randUniform(2, 3) AS ru, randNormal(0, 1) IS NOT NULL AS rn",
    ).collect()[0]
    assert (row.nan1, row.nan0, row.nann) == (True, False, None)
    assert row.tr == "xbzd"
    # toUUID normalizes case exactly like toUUIDOrNull (same join keys)
    assert row.uu == "123e4567-e89b-12d3-a456-426614174000"
    assert dict(row.mf) == {"b": 2}
    assert dict(row.mu) == {"a": 1, "b": 9, "c": 3}
    assert row.ip == "192.168.1.1" and row.ipn == 3232235777
    assert row.rq == "a\\.b\\[c\\]\\-d"
    assert row.cs == [1.0, 2.0, 0.0, 1.0]
    assert row.csn == [1.0, None, None]  # NULL is not a silent reset
    assert row.n64 and 2 <= row.ru < 3 and row.rn
    # malformed input is loud where CH throws (octet range included)
    for bad in ("toUUID('0e72-11')", "IPv4StringToNum('1.2.3')",
                "IPv4StringToNum('300.1.1.1')"):
        with pytest.raises(Exception, match="malformed"):
            ch_compat.run_clickhouse_sql(
                spark, f"SELECT {bad} AS v"
            ).collect()
    tup = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT simpleLinearRegression(x, y) AS t FROM "
        "(SELECT stack(3, 1.0, 3.0, 2.0, 5.0, 3.0, 7.0) AS (x, y))",
    ).collect()[0].t
    assert (tup.col1, tup.col2) == (2.0, 1.0)  # y = 2x + 1
    frames = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT x, lagInFrame(x) OVER (ORDER BY x) AS lg, "
        "leadInFrame(x) OVER (ORDER BY x) AS ld "
        "FROM (SELECT stack(3, 1, 2, 3) AS (x))",
    ).collect()
    assert [(r.x, r.lg, r.ld) for r in frames] == [
        (1, None, 2), (2, 1, 3), (3, 2, None),
    ]


def test_entropy_execute(spark):
    """entropy(x): Shannon entropy in bits of the group's value
    distribution — uniform-over-2 = 1 bit, constant = 0, uniform-over-4
    = 2 bits; NULLs are skipped like every CH aggregate."""
    rows = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT b, entropy(x) AS e FROM (SELECT id % 2 AS b, "
        "IF(id % 2 = 0, id % 4, 0) AS x FROM range(8)) "
        "GROUP BY b ORDER BY b",
    ).collect()
    assert [(r.b, r.e) for r in rows] == [(0, 1.0), (1, 0.0)]
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT entropy(x) AS e, entropy(n) AS en FROM (SELECT id % 4 "
        "AS x, CAST(NULL AS INT) AS n FROM range(16))",
    ).collect()[0]
    assert row.e == 2.0 and row.en == 0.0


def test_round9_advice_fixes(spark):
    """ADVICE r09 batch: toUInt64 family truncates toward zero before the
    decimal(20,0) narrow (CH integer conversion truncates; a bare decimal
    cast rounds HALF_UP), translateUTF8 keeps CH's equal-length contract
    loud, IPv4NumToString range-guards its UInt32-typed argument."""
    t = ch_compat.translate
    row = spark.sql(
        t(
            "SELECT toUInt64(2.5) AS a, toUInt64(2.4) AS b, "
            "toUInt64OrNull('2.5') AS c, toUInt64OrZero('nope') AS z, "
            "toUInt64('9223372036854775809') AS big, "
            "toUInt64OrNull('18446744073709551615') AS mx"
        )
    ).collect()[0]
    assert (int(row.a), int(row.b)) == (2, 2)  # HALF_UP would give 3 / 2
    # documented narrowing: fractional STRINGS truncate where CH NULLs
    assert int(row.c) == 2
    assert int(row.z) == 0
    assert int(row.big) == 9223372036854775809  # [2^63, 2^64) intact
    assert int(row.mx) == 18446744073709551615  # full-range max intact
    # translateUTF8: literal mismatch fails at translate time
    with pytest.raises(ValueError, match="translateUTF8"):
        t("translateUTF8(x, 'abc', 'xz')")
    # equal-length literals pass through to a plain translate
    assert t("translateUTF8(x, 'ac', 'xz')") == "translate(x, 'ac', 'xz')"
    # non-literal args fail at RUN time on mismatch, pass when equal
    [r] = spark.sql(
        t("SELECT translateUTF8('abcd', f, tt) AS v FROM "
          "(SELECT 'ac' AS f, 'xz' AS tt)")
    ).collect()
    assert r.v == "xbzd"
    with pytest.raises(Exception, match="length mismatch"):
        spark.sql(
            t("SELECT translateUTF8('abcd', f, tt) AS v FROM "
              "(SELECT 'abc' AS f, 'xz' AS tt)")
        ).collect()
    # IPv4NumToString: out-of-UInt32-range is loud, NULL propagates
    assert spark.sql(
        t("SELECT IPv4NumToString(3232235777) AS v")
    ).collect()[0].v == "192.168.1.1"
    [r] = spark.sql(
        t("SELECT IPv4NumToString(CAST(NULL AS BIGINT)) AS v")
    ).collect()
    assert r.v is None
    for bad in ("4294967296", "-1"):
        with pytest.raises(Exception, match="UInt32 range"):
            spark.sql(
                t(f"SELECT IPv4NumToString({bad}) AS v")
            ).collect()


def test_r9_state_family_two_level_read_vs_duckdb(spark, duck):
    """Round-9 -State/-Merge extension: groupArray and quantile-family
    states written per (event_type, day) block, -Merge re-aggregated to
    event_type grain, against a direct one-level DuckDB aggregate.
    groupArray compares as a sorted multiset (element order across
    merged parts is arbitrary in CH too); the quantile histogram read is
    exact, with quantileExact's floor(level*n) indexing."""
    from tests.conftest import SF_DIR, assert_parity
    from use_clickhouse_2_analyze_mysql_binlog_spark import schemas

    schemas.load_table(spark, SF_DIR, "events").createOrReplaceTempView(
        "events"
    )
    got = ch_compat.run_clickhouse_sql(
        spark,
        """
SELECT event_type,
       quantileMerge(med) AS med_cents,
       quantileMerge(0.9)(p90) AS p90_cents,
       arraySort(groupArrayMerge(vals)) AS all_cents
FROM (
    SELECT event_type, toDate(ts) AS day,
           quantileState(toInt64(floor(value * 100))) AS med,
           quantileState(0.9)(toInt64(floor(value * 100))) AS p90,
           groupArrayState(toInt64(floor(value * 100))) AS vals
    FROM dashboard.events_all
    GROUP BY event_type, day
)
GROUP BY event_type
""",
        table_map={"dashboard.events_all": "events"},
    )
    assert_parity(
        got,
        duck,
        """
WITH v AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
           FROM events)
SELECT event_type,
       (array_agg(c ORDER BY c))
         [least(CAST(floor(0.5 * count(*)) AS BIGINT) + 1, count(*))]
         AS med_cents,
       (array_agg(c ORDER BY c))
         [least(CAST(floor(0.9 * count(*)) AS BIGINT) + 1, count(*))]
         AS p90_cents,
       array_agg(c ORDER BY c) AS all_cents
FROM v
GROUP BY event_type
""",
        "r9_state_family_two_level",
    )


def test_round9_everyday_batch_execute(spark):
    """Round-9 probe-sweep batch: isIPv4String (the validation half of
    the IPv4StringToNum guard), netloc (parse_url AUTHORITY is exactly
    CH's slice), cutQueryString/cutFragment/cutQueryStringAndFragment,
    arrayPartialSort (full sort is a valid instance of 'first n sorted,
    tail unspecified'), arrayRotateLeft/Right (negative n flips
    direction; array and shift bound once), formatReadableQuantity,
    quantileGK -> approx_percentile (GK IS Spark's sketch,
    approximate-for-approximate with the same accuracy knob), bar with
    CH's eighth-block precision, JSONArrayLength/currentDatabase/
    arrayShuffle renames, and sleep/sleepEachRow staying loud."""
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT isIPv4String('192.168.1.1') AS ok, "
        "isIPv4String('300.1.1.1') AS bad, "
        "isIPv4String(CAST(NULL AS STRING)) AS nullv, "
        "netloc('http://paul:pw@www.example.com:80/p?a=1#f') AS nl, "
        "cutQueryString('http://x/p?a=1#frag') AS cq, "
        "cutFragment('http://x/p?a=1#frag') AS cf, "
        "cutQueryStringAndFragment('http://x/p?a=1#frag') AS cqf, "
        "arrayPartialSort(2, [3,1,2]) AS ps, "
        "arrayRotateLeft([1,2,3,4], 1) AS rl, "
        "arrayRotateLeft([1,2,3,4], -1) AS rln, "
        "arrayRotateLeft(emptyArrayString(), 3) AS rle, "
        "arrayRotateRight([1,2,3,4], 1) AS rr, "
        "formatReadableQuantity(1234567) AS frq, "
        "formatReadableQuantity(123) AS frq0, "
        "bar(3, 0, 8, 8) AS b3, bar(5.5, 0, 8, 8) AS b55, "
        "bar(99, 0, 8, 8) AS bclip, "
        "JSONArrayLength('[1,2,3]') AS jl, "
        "JSONArrayLength('{}') AS jnot, "
        "currentDatabase() AS db, "
        "size(arrayShuffle([1,2,3])) AS shuf",
    ).collect()[0]
    assert (row.ok, row.bad, row.nullv) == (1, 0, None)
    assert row.nl == "paul:pw@www.example.com:80"
    assert row.cq == "http://x/p#frag"
    assert row.cf == "http://x/p?a=1"
    assert row.cqf == "http://x/p"
    assert row.ps == [1, 2, 3]
    assert row.rl == [2, 3, 4, 1] and row.rln == [4, 1, 2, 3]
    assert row.rle == [] and row.rr == [4, 1, 2, 3]
    assert row.frq == "1.23 million" and row.frq0 == "123.00"
    assert row.b3 == "█" * 3
    assert row.b55 == "█" * 5 + "▌"
    assert row.bclip == "█" * 8
    assert row.jl == 3 and row.jnot is None
    assert row.db == "default" and row.shuf == 3
    # quantileGK: two-param, default-median, and plural forms; values
    # exact here (approx_percentile is exact at this accuracy/size)
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT quantileGK(100, 0.5)(x) AS gk, quantileGK(100)(x) AS g1, "
        "quantilesGK(100, 0.25, 0.75)(x) AS gs "
        "FROM (SELECT id AS x FROM range(1, 11))",
    ).collect()
    assert r.gk in (5, 6) and r.g1 in (5, 6) and len(r.gs) == 2
    for bad in ("sleep(1)", "sleepEachRow(0.1)"):
        with pytest.raises(ValueError, match="wall-clock side effect"):
            ch_compat.translate(bad)


def test_round9b_everyday_batch_execute(spark):
    """Round-9 second probe-sweep batch: numeric trunc/truncate (Spark's
    trunc is date-only), exp10, roundDuration/roundAge breakpoint
    rounders, makeDate (both arities)/makeDateTime, ISO-year pair,
    toYYYYMMDDhhmmss, toRelativeYear/MonthNum, parseDateTime %-token
    parser (+OrNull, +JodaSyntax), snowflake id conversions (roundtrip
    exact), editDistance/levenshteinDistance -> levenshtein, UTF8
    pad/initcap renames, appendTrailingCharIfAbsent, replaceOne
    (first-occurrence only), toDecimalString, multiSearch* trio, URL
    getters (topLevelDomain/extractURLParameters/Names/
    queryStringAndFragment), mapAdd/mapSubtract/mapContainsKeyLike/
    mapPopulateSeries, arrayElementOrNull, bitTestAll/Any + bitmask
    trio, ignore/toTypeName/isZeroOrNull."""
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT trunc(-2.7) AS tn, truncate(123.456, 2) AS t2, "
        "exp10(2) AS e10, "
        "roundDuration(95) AS rd, roundAge(30) AS ra, "
        "makeDate(2024, 2, 29) AS md, makeDate(2024, 60) AS md2, "
        "makeDateTime(2024, 2, 29, 10, 30, 15) AS mdt, "
        "toISOYear(toDate('2021-01-01')) AS iy, "
        "toStartOfISOYear(toDate('2021-01-01')) AS siy, "
        "toYYYYMMDDhhmmss(toDateTime('2024-02-29 10:30:15')) AS ymd, "
        "toRelativeYearNum(toDate('2002-05-05')) AS ry, "
        "toRelativeMonthNum(toDate('1970-01-01')) AS rm, "
        "parseDateTime('2024-02-29 10:30:15', '%Y-%m-%d %H:%i:%S') AS pd, "
        "parseDateTimeOrNull('garbage', '%Y-%m-%d') AS pdn, "
        "parseDateTimeInJodaSyntax('2024-02-29', 'yyyy-MM-dd') AS pj, "
        "snowflakeToDateTime(dateTimeToSnowflake("
        "toDateTime('2021-08-15 18:57:56'))) AS snow, "
        "editDistance('clickhouse', 'mouse') AS ed, "
        "levenshteinDistance('abc', 'abd') AS lv, "
        "initcapUTF8('hello world') AS ic, "
        "leftPadUTF8('abc', 5, '*') AS lp, rightPadUTF8('abc', 5) AS rp, "
        "appendTrailingCharIfAbsent('object', '/') AS ap1, "
        "appendTrailingCharIfAbsent('object/', '/') AS ap2, "
        "replaceOne('aaa', 'a', 'bb') AS ro, "
        "replaceOne('xyz', 'q', 'bb') AS ro0, "
        "toDecimalString(3.14159, 2) AS ds, "
        "multiSearchAllPositions('hello world', ['l', 'xx', 'wor']) AS ma, "
        "multiSearchFirstPosition('hello', ['xx', 'ell', 'llo']) AS mp, "
        "multiSearchFirstIndex('hello', ['xx', 'llo', 'ell']) AS mi, "
        "multiSearchFirstIndex('hello', ['xx']) AS mi0, "
        "topLevelDomain('https://a.b.example.com/x?y=1') AS tld, "
        "topLevelDomain('http://1.2.3.4/x') AS tld4, "
        "extractURLParameters('http://x.com/a?p=1&q=2#f') AS up, "
        "extractURLParameters('http://x.com/a') AS up0, "
        "extractURLParameterNames('http://x.com/a?p=1&q=2') AS un, "
        "queryStringAndFragment('http://x.com/a?p=1#frag') AS qf, "
        "queryStringAndFragment('http://x.com/a') AS qf0, "
        "mapAdd(map('a', 1), map('a', 2, 'b', 1)) AS mad, "
        "mapSubtract(map('a', 3), map('a', 1, 'b', 2)) AS msu, "
        "mapContainsKeyLike(map('abc', 1), 'a%') AS mcl, "
        "mapPopulateSeries(map(1, 10, 4, 40)) AS mps, "
        "mapPopulateSeries(map(1, 10, 3, 30), 5) AS mps5, "
        "arrayElementOrNull([1,2,3], 9) AS ae9, "
        "arrayElementOrNull([1,2,3], 0) AS ae0, "
        "arrayElementOrNull([1,2,3], -1) AS aem, "
        "bitTestAll(5, 0, 2) AS bta, bitTestAll(5, 0, 1) AS bta0, "
        "bitTestAny(5, 1, 3) AS bty0, bitTestAny(5, 1, 2) AS bty, "
        "bitmaskToArray(50) AS bma, bitmaskToList(50) AS bml, "
        "bitPositionsToArray(50) AS bpa, "
        "ignore(1, 'x') AS ig, toTypeName('x') AS tt, "
        "isZeroOrNull(0) AS z0, isZeroOrNull(5) AS z5, "
        "isZeroOrNull(CAST(NULL AS INT)) AS zn",
    ).collect()[0]
    assert (row.tn, row.t2, row.e10) == (-2.0, 123.45, 100.0)
    assert (row.rd, row.ra) == (60, 25)
    # NULL propagates through the breakpoint rounders (the CASE chains
    # would otherwise fall into the ELSE arm and answer the top bucket)
    [rn] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT roundDuration(CAST(NULL AS INT)) AS rd, "
        "roundAge(CAST(NULL AS INT)) AS ra, "
        "trunc(CAST(NULL AS DOUBLE)) AS tn",
    ).collect()
    assert (rn.rd, rn.ra, rn.tn) == (None, None, None)
    assert str(row.md) == "2024-02-29" and str(row.md2) == "2024-02-29"
    assert str(row.mdt) == "2024-02-29 10:30:15"
    assert row.iy == 2020 and str(row.siy) == "2019-12-30"
    assert row.ymd == 20240229103015
    assert (row.ry, row.rm) == (2002, 23641)
    assert str(row.pd) == "2024-02-29 10:30:15" and row.pdn is None
    assert str(row.pj) == "2024-02-29 00:00:00"
    assert str(row.snow) == "2021-08-15 18:57:56"
    assert (row.ed, row.lv) == (6, 1)
    assert row.ic == "Hello World"
    assert (row.lp, row.rp) == ("**abc", "abc  ")
    assert (row.ap1, row.ap2) == ("object/", "object/")
    assert (row.ro, row.ro0) == ("bbaa", "xyz")
    assert row.ds == "3.14"
    assert row.ma == [3, 0, 7] and row.mp == 2
    assert (row.mi, row.mi0) == (2, 0)
    assert (row.tld, row.tld4) == ("com", "")
    assert row.up == ["p=1", "q=2"] and row.up0 == []
    assert row.un == ["p", "q"]
    assert (row.qf, row.qf0) == ("p=1#frag", "")
    assert row.mad == {"a": 3, "b": 1}
    assert row.msu == {"a": 2, "b": -2}
    assert bool(row.mcl) is True
    assert row.mps == {1: 10, 2: 0, 3: 0, 4: 40}
    assert row.mps5 == {1: 10, 2: 0, 3: 30, 4: 0, 5: 0}
    assert (row.ae9, row.ae0, row.aem) == (None, None, 3)
    assert (row.bta, row.bta0, row.bty0, row.bty) == (1, 0, 0, 1)
    assert row.bma == [2, 16, 32] and row.bml == "2,16,32"
    assert row.bpa == [1, 4, 5]
    assert (row.ig, row.tt) == (0, "string")
    assert (row.z0, row.z5, row.zn) == (1, 0, 1)
    # the block/insertion-order-dependent family stays loud with a
    # window-rewrite hint (the deltaSum convention)
    for bad in (
        "SELECT neighbor(x, 1) FROM t",
        "SELECT runningDifference(x) FROM t",
        "SELECT groupArrayMovingSum(x) FROM t",
        "SELECT exponentialMovingAverage(5)(x, t) FROM t",
        "SELECT groupArraySample(3)(x) FROM t",
    ):
        with pytest.raises(ValueError, match="block/insertion order"):
            ch_compat.translate(bad)
    # format-literal guards stay loud
    with pytest.raises(ValueError, match="string literal"):
        ch_compat.translate("SELECT parseDateTime(s, fmt_col) FROM t")
    with pytest.raises(ValueError, match="timezone"):
        ch_compat.translate(
            "SELECT makeDateTime(2024, 1, 1, 0, 0, 0, 'UTC') FROM t"
        )
    # map lambda trio + array enumerators + contiguous containment
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT mapExists((k, v) -> v > 1, map('a', 1, 'b', 2)) AS me, "
        "mapExists((k, v) -> v > 9, map('a', 1)) AS me0, "
        "mapAll((k, v) -> v > 0, map('a', 1, 'b', 2)) AS ml, "
        "mapAll((k, v) -> v > 1, map('a', 1, 'b', 2)) AS ml0, "
        "mapApply((k, v) -> (k, v * 2), map('a', 1, 'b', 3)) AS mp2, "
        "mapApply((k, v) -> (concat(k, '!'), v + 1), map('x', 5)) AS mpc, "
        "arrayEnumerateUniq([10, 20, 10, 10, 20]) AS eu, "
        "arrayEnumerateUniq(emptyArrayUInt8()) AS eu0, "
        "arrayEnumerateDense([20, 10, 20, 30]) AS edn, "
        "hasSubstr([1, 2, 3, 4], [2, 3]) AS hs, "
        "hasSubstr([1, 2, 3, 4], [2, 4]) AS hs0, "
        "hasSubstr([1, 2], []) AS hse, "
        "hasSubstr([1], [1, 2]) AS hss",
    ).collect()[0]
    assert (row.me, row.me0, row.ml, row.ml0) == (1, 0, 1, 0)
    assert row.mp2 == {"a": 2, "b": 6} and row.mpc == {"x!": 6}
    assert row.eu == [1, 1, 2, 3, 2] and row.eu0 == []
    assert row.edn == [1, 2, 1, 3]
    assert (bool(row.hs), bool(row.hs0)) == (True, False)
    assert (bool(row.hse), bool(row.hss)) == (True, False)
    # non-literal mapApply lambdas and multi-array enumerators stay loud
    with pytest.raises(ValueError, match="mapApply"):
        ch_compat.translate("SELECT mapApply(f, m) FROM t")
    with pytest.raises(ValueError, match="single-array"):
        ch_compat.translate("SELECT arrayEnumerateUniq(a, b) FROM t")
    # firstSignificantSubdomain pair (effective-TLD shortlist,
    # COVERAGE.md narrowing) and the URL family's restored
    # NULL-on-invalid contract (Spark 4 ANSI parse_url THROWS on
    # malformed input; try_parse_url keeps the documented behavior)
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT "
        "firstSignificantSubdomain('https://news.clickhouse.com.tr/') "
        " AS f1, "
        "firstSignificantSubdomain('http://a.b.example.com') AS f2, "
        "firstSignificantSubdomain('http://localhost/x') AS f3, "
        "cutToFirstSignificantSubdomain("
        "'https://news.clickhouse.com.tr/') AS c1, "
        "cutToFirstSignificantSubdomain("
        "'http://www.tr.example.com/a?b=1') AS c2, "
        "domain('not a url') AS d0, "
        "topLevelDomain('not a url') AS t0, "
        "extractURLParameters('not a url') AS u0",
    ).collect()[0]
    assert (row.f1, row.f2, row.f3) == ("clickhouse", "example", "")
    assert (row.c1, row.c2) == ("clickhouse.com.tr", "example.com")
    assert row.d0 is None and row.t0 == "" and row.u0 == []
    # hierarchies, lenient base64, regexp splitter
    row = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT URLPathHierarchy('https://example.com/a/b/c?q=1') AS ph, "
        "URLPathHierarchy('https://example.com/') AS ph0, "
        "URLHierarchy('https://example.com/browse/x?q=1') AS uh, "
        "URLHierarchy('garbage') AS uh0, "
        "tryBase64Decode('aGk=') AS b1, tryBase64Decode('!!!') AS b0, "
        "tryBase64Decode(CAST(NULL AS STRING)) AS bn, "
        "splitByRegexp('[0-9]+', 'abc1def22g') AS sr, "
        "splitByRegexp('[0-9]', '1a1') AS sre",
    ).collect()[0]
    assert row.ph == ["/a/", "/a/b/", "/a/b/c?q=1"] and row.ph0 == []
    assert row.uh == [
        "https://example.com/",
        "https://example.com/browse/",
        "https://example.com/browse/x?q=1",
    ]
    assert row.uh0 == []
    assert (row.b1, row.b0, row.bn) == ("hi", "", None)
    assert row.sr == ["abc", "def", "g"] and row.sre == ["", "a", ""]
    # stringJaccardIndex: CH's own doc example + disjoint + empty
    [rj] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT stringJaccardIndex('clickhouse', 'mouse') AS j1, "
        "stringJaccardIndex('abc', 'xyz') AS j0, "
        "stringJaccardIndex('', '') AS je",
    ).collect()
    assert (rj.j1, rj.j0, rj.je) == (0.4, 0.0, 0.0)


def test_moment_aggregates_vs_clickhouse_contract(spark):
    """kurtPop is CH's RAW m4/sigma^4 (Spark's kurtosis is EXCESS — the
    old rename mapping silently answered 3 too low, round-9b review);
    kurtSamp/skewSamp divide by sample variance: pop * ((n-1)/n)^(k/2).
    Hand-computed on [1..5]: m2=2, m4=6.8 -> kurtPop=1.7,
    kurtSamp=1.7*(4/5)^2=1.088; symmetric -> both skews 0."""
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT kurtPop(x) AS kp, kurtSamp(x) AS ks, "
        "skewPop(x) AS sp, skewSamp(x) AS ss, groupBitmap(y) AS gb "
        "FROM VALUES (1.0, 1), (2.0, 2), (3.0, 2), (4.0, 3), (5.0, 3) "
        "t(x, y)",
    ).collect()
    assert abs(r.kp - 1.7) < 1e-12
    assert abs(r.ks - 1.088) < 1e-12
    assert abs(r.sp) < 1e-12 and abs(r.ss) < 1e-12
    assert r.gb == 3
    # asymmetric sample [1, 2, 6]: m2=14/3, m3=6 -> skewPop=.59517...,
    # skewSamp=skewPop*(2/3)^1.5; kurtPop=m4/m2^2 with m4=662/27... use
    # exact fractions: mean=3, devs (-2,-1,3): m2=14/3, m3=18/3=6,
    # m4=(16+1+81)/3=98/3 -> kurtPop=(98/3)/(196/9)=1.5
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT kurtPop(x) AS kp, kurtSamp(x) AS ks, skewSamp(x) AS ss "
        "FROM VALUES (1.0), (2.0), (6.0) t(x)",
    ).collect()
    assert abs(r.kp - 1.5) < 1e-12
    assert abs(r.ks - 1.5 * (2 / 3) ** 2) < 1e-12
    import math

    skew_pop = 6 / (14 / 3) ** 1.5
    assert abs(r.ss - skew_pop * (2 / 3) ** 1.5) < 1e-12
    assert math.isfinite(r.ss)


def test_tdigest_sketch_states(spark):
    """quantileTDigest/quantileBFloat16 -State/-Merge: the quantile
    histogram over log-quantized values (sign * exp(bround(ln|x|*128)/
    128)). Bounds verified: the state stays ~128 buckets/decade where
    the exact histogram grows with distinct count, and the merged
    answer sits within the half-step (~0.4%) of the exact quantile —
    approximate-for-approximate vs CH's ~1%-rank t-digest."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW td_v AS "
        "SELECT id % 7 AS g, exp(CAST(id % 1000 AS DOUBLE) / 100.0) "
        " * (1 + id % 13) AS x FROM range(0, 10000)"
    )
    got = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT quantileTDigestMerge(0.9)(s) AS p90, "
        "quantileTDigestMerge(s) AS p50 FROM "
        "(SELECT g, quantileTDigestState(x) AS s FROM td_v GROUP BY g)",
    ).collect()[0]
    ex = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT quantileExact(0.9)(x) AS p90, "
        "quantileExact(0.5)(x) AS p50 FROM td_v",
    ).collect()[0]
    assert abs(got.p90 - ex.p90) / ex.p90 < 0.005
    assert abs(got.p50 - ex.p50) / ex.p50 < 0.005
    # bounded state: 10k distinct values over ~5.6 decades -> ~1.6k
    # buckets (the exact histogram would hold all 10k)
    card = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT size(quantileTDigestState(x)) AS b, "
        "count(DISTINCT x) AS d FROM td_v",
    ).collect()[0]
    assert card.b < 2000 < card.d
    # signs and zero are their own buckets; median of a symmetric set
    # is exact
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT quantileTDigestMerge(0.5)(s) AS med FROM ("
        "SELECT quantileBFloat16State(x) AS s FROM "
        "VALUES (-100.0), (-1.0), (0.0), (1.0), (100.0) t(x))",
    ).collect()
    assert r.med == 0.0
    # plain (non-state) tdigest forms already ride the exact percentile
    # family
    assert "percentile(" in ch_compat.translate(
        "SELECT quantileTDigest(0.9)(x) FROM t"
    )


def test_delta_sum_timestamp(spark):
    """deltaSumTimestamp(value, ts): sum of positive deltas between
    consecutive values in TIMESTAMP order — the deterministic member of
    CH's delta family. Bare deltaSum depends on CH's internal data-part
    order and stays loud with a pointer to the ts form."""
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT deltaSumTimestamp(v, t) AS ds FROM ("
        "SELECT stack(5, 1, CAST(10 AS DOUBLE), 2, CAST(7 AS DOUBLE), "
        "3, CAST(12 AS DOUBLE), 4, CAST(12 AS DOUBLE), "
        "5, CAST(20 AS DOUBLE)) AS (t, v))",
    ).collect()
    assert r.ds == 13.0  # +5 (7->12) and +8 (12->20); drops ignored
    # NULL rows are skipped; an all-NULL group sums to 0 like CH's empty
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT deltaSumTimestamp(v, t) AS ds FROM "
        "(SELECT CAST(NULL AS INT) AS t, CAST(NULL AS DOUBLE) AS v)",
    ).collect()
    assert r.ds == 0.0
    with pytest.raises(ValueError, match="deltaSumTimestamp"):
        ch_compat.translate("deltaSum(x)")


# ------------------------------------------------- statistical tests (r10)


def _betainc_ref(a, b, x):
    """Independent regularized-incomplete-beta reference: the u =
    (t/x)^a substitution removes the t=0 endpoint singularity, so plain
    trapezoid integration converges (validated against the a=b=1/2
    arcsine closed form below). Deliberately NOT the production
    algorithm (that is a Lentz continued fraction in functions/stats.py)
    so the check is non-circular."""
    import math

    import numpy as np

    u = np.linspace(0.0, 1.0, 2_000_001)
    f = (1.0 - x * u ** (1.0 / a)) ** (b - 1.0)
    return float(
        np.trapz(f, u)
        * x**a
        / a
        * math.exp(
            math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        )
    )


def _t_p_ref(t, df):
    return _betainc_ref(df / 2.0, 0.5, df / (df + t * t))


def test_statistical_ttests_vs_references(spark):
    """studentTTest/welchTTest (round 10 — the statistical-test family):
    t statistics against numpy moment arithmetic, p-values against BOTH
    an independent integration reference and the exact df=1/2/3 closed
    forms (arctan / algebraic) — the production incomplete-beta fold
    (functions/stats.py) shares no code with either."""
    import math

    import numpy as np

    # closed-form sanity for the reference integrator itself
    assert abs(
        _betainc_ref(0.5, 0.5, 0.3)
        - 2 / math.pi * math.asin(math.sqrt(0.3))
    ) < 1e-9

    rng = np.random.RandomState(7)
    a = rng.normal(10.0, 2.0, 40).round(3)
    b = rng.normal(11.0, 3.0, 35).round(3)
    rows = [(float(v), 0) for v in a] + [(float(v), 1) for v in b]
    spark.createDataFrame(rows, "x double, idx int").createOrReplaceTempView(
        "tt_src"
    )
    [row] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT studentTTest(x, idx) AS s, welchTTest(x, idx) AS w "
        "FROM tt_src",
    ).collect()

    n0, n1 = len(a), len(b)
    m0, m1 = a.mean(), b.mean()
    v0, v1 = a.var(ddof=1), b.var(ddof=1)
    sp2 = ((n0 - 1) * v0 + (n1 - 1) * v1) / (n0 + n1 - 2)
    t_s = (m0 - m1) / math.sqrt(sp2 * (1 / n0 + 1 / n1))
    se2 = v0 / n0 + v1 / n1
    t_w = (m0 - m1) / math.sqrt(se2)
    df_w = se2**2 / (
        (v0 / n0) ** 2 / (n0 - 1) + (v1 / n1) ** 2 / (n1 - 1)
    )
    assert abs(row.s.col1 - t_s) < 1e-10
    assert abs(row.s.col2 - _t_p_ref(t_s, n0 + n1 - 2)) < 1e-7
    assert abs(row.w.col1 - t_w) < 1e-10
    assert abs(row.w.col2 - _t_p_ref(t_w, df_w)) < 1e-7

    # exact closed forms at low df (t CDF has algebraic/arctan forms):
    # df=1: p = 1 - (2/pi) atan|t|;  df=2: p = 1 - |t|/sqrt(2+t^2);
    # df=3: p = 1 - (2/pi)(atan(u) + u/(1+u^2)), u = t/sqrt(3)
    for df, t, closed in (
        (1.0, 1.5, 1 - 2 / math.pi * math.atan(1.5)),
        (2.0, 1.5, 1 - 1.5 / math.sqrt(2 + 1.5 * 1.5)),
        (
            3.0,
            1.5,
            2
            * (
                0.5
                - (
                    math.atan(1.5 / math.sqrt(3))
                    + (1.5 / math.sqrt(3)) / (1 + 1.5 * 1.5 / 3)
                )
                / math.pi
            ),
        ),
    ):
        from use_clickhouse_2_analyze_mysql_binlog_spark.functions import stats

        [r] = spark.sql(
            "SELECT "
            + stats.t_two_sided_p_sql(str(t), str(df))
            + " AS p"
        ).collect()
        assert abs(r.p - closed) < 1e-8, (df, t, r.p, closed)

    # degenerate groups answer NULL (documented narrowing vs CH nan):
    # one sample has < 2 rows
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT studentTTest(x, idx) AS s FROM (SELECT 1.0 AS x, 0 AS idx "
        "UNION ALL SELECT 2.0, 0 UNION ALL SELECT 3.0, 1)",
    ).collect()
    assert r.s is None
    # the CI-parametric form stays loud
    with pytest.raises(ValueError, match="confidence-interval"):
        ch_compat.translate("SELECT studentTTest(0.95)(x, idx) FROM t")


def test_zero_variance_cancellation_answers_null_not_nan(spark):
    """ADVICE r10 #3: on all-equal samples whose sum-of-squares residual
    cancels to a TINY NEGATIVE in floating point (0.1 x3: q - s*s/n =
    -3.5e-18), sqrt would NaN and break the documented NULL convention;
    the greatest(..., 0.0) clamp floors it so nullif answers NULL. Same
    for the corr discriminant on a constant column and the Mann-Whitney
    sigma on all-tied samples."""
    import math

    # 0.1 x3 / 0.2 x3 both cancel negative (verified in plain Python)
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT studentTTest(x, idx) AS s, welchTTest(x, idx) AS w, "
        "mannWhitneyUTest(x, idx) AS m FROM ("
        "SELECT 0.1 AS x, 0 AS idx UNION ALL SELECT 0.1, 0 "
        "UNION ALL SELECT 0.1, 0 UNION ALL SELECT 0.2, 1 "
        "UNION ALL SELECT 0.2, 1 UNION ALL SELECT 0.2, 1)",
    ).collect()
    # zero variance -> the t/p FIELDS are NULL (pre-fix: NaN from
    # sqrt of the tiny-negative residual); the n>=2 struct itself
    # survives the outer guard
    assert r.s.col1 is None and r.s.col2 is None
    assert r.w.col1 is None and r.w.col2 is None
    # MW: samples differ, rank variance is fine — must be a real number
    assert r.m is not None and not math.isnan(r.m.col2)

    # corrMerge on a constant-x state: the discriminant factor
    # n*sxx - sx*sx cancels negative (0.1 x3) -> must answer NULL, not
    # NaN (the state-read path runs corr_from_moments_sql, not Spark's
    # builtin corr)
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT corrMerge(cs) AS c FROM ("
        "SELECT corrState(x, y) AS cs FROM ("
        "SELECT 0.1 AS x, 1.0 AS y UNION ALL SELECT 0.1, 2.0 "
        "UNION ALL SELECT 0.1, 3.0) GROUP BY x)",
    ).collect()
    assert r.c is None

    # all-tied MW: zero rank variance -> NULL (not NaN)
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT mannWhitneyUTest(x, idx) AS m FROM ("
        "SELECT 0.1 AS x, 0 AS idx UNION ALL SELECT 0.1, 1 "
        "UNION ALL SELECT 0.1, 0 UNION ALL SELECT 0.1, 1)",
    ).collect()
    assert r.m is None


def test_mannwhitney_vs_manual_ranks(spark):
    """mannWhitneyUTest: U statistic against a manual midrank
    computation (ties included by construction), p against math.erfc
    with CH's tie-corrected normal approximation; one-sided alternatives
    and the continuity flag; non-literal alternatives stay loud."""
    import math

    import numpy as np

    rng = np.random.RandomState(11)
    # integer values force heavy ties — the midrank + tie-correction path
    a = rng.randint(0, 12, 45).astype(float)
    b = (rng.randint(0, 12, 38) + 1.0).astype(float)
    rows = [(float(v), 0) for v in a] + [(float(v), 1) for v in b]
    spark.createDataFrame(rows, "x double, idx int").createOrReplaceTempView(
        "mw_src"
    )

    n0, n1 = len(a), len(b)
    comb = np.concatenate([a, b])
    order = np.argsort(comb, kind="stable")
    ranks = np.empty(len(comb))
    sv = comb[order]
    i = 0
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0
        i = j
    r0 = ranks[:n0].sum()
    u0 = r0 - n0 * (n0 + 1) / 2.0
    _, counts = np.unique(comb, return_counts=True)
    tie = float((counts.astype(float) ** 3 - counts).sum())
    n = n0 + n1
    sigma = math.sqrt(
        n0 * n1 / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    )

    [row] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT mannWhitneyUTest(x, idx) AS m, "
        "mannWhitneyUTest('greater')(x, idx) AS g, "
        "mannWhitneyUTest('less', 0)(x, idx) AS l FROM mw_src",
    ).collect()

    z2 = max(abs(u0 - n0 * n1 / 2.0) - 0.5, 0.0) / sigma
    # CH returns the FIRST sample's U for every alternative (ADVICE r10
    # #1 — AggregateFunctionMannWhitney::getResult ends `return {u2, p}`
    # where u2 is sample 0's U); the z still runs off the max side.
    assert abs(row.m.col1 - u0) < 1e-9
    assert abs(row.m.col2 - math.erfc(z2 / math.sqrt(2))) < 1e-6
    zg = (u0 - n0 * n1 / 2.0 - 0.5) / sigma
    assert abs(row.g.col1 - u0) < 1e-9
    assert (
        abs(row.g.col2 - min(1.0, 0.5 * math.erfc(zg / math.sqrt(2))))
        < 1e-6
    )
    zl = (n0 * n1 / 2.0 - u0) / sigma  # continuity OFF in the 'less' call
    assert abs(row.l.col1 - u0) < 1e-9
    assert (
        abs(row.l.col2 - min(1.0, 0.5 * math.erfc(zl / math.sqrt(2))))
        < 1e-6
    )

    # all values tied -> zero rank variance -> NULL (documented vs nan)
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT mannWhitneyUTest(x, idx) AS m FROM (SELECT 5.0 AS x, "
        "0 AS idx UNION ALL SELECT 5.0, 1 UNION ALL SELECT 5.0, 0)",
    ).collect()
    assert r.m is None
    with pytest.raises(ValueError, match="alternative"):
        ch_compat.translate(
            "SELECT mannWhitneyUTest(alt_col)(x, idx) FROM t"
        )


def test_stat_test_state_merge_equals_direct(spark):
    """-State/-Merge two-level reads for the statistical tests: per-block
    states re-merged equal the direct aggregate EXACTLY (the moment /
    histogram states are lossless), and an all-NULL group reads back
    NULL (the empty-state policy)."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = [
        (d, float(v), int(i % 2), int(i % 4))
        for d in ("2025-01-01", "2025-01-02")
        for i, v in enumerate(rng.normal(5, 2, 30).round(2))
    ]
    spark.createDataFrame(
        rows, "day string, x double, idx int, blk int"
    ).createOrReplaceTempView("st_src")
    ch_compat.run_clickhouse_sql(
        spark,
        "SELECT day, blk, studentTTestState(x, idx) AS ss, "
        "welchTTestState(x, idx) AS ws, "
        "mannWhitneyUTestState(x, idx) AS ms "
        "FROM st_src GROUP BY day, blk",
    ).createOrReplaceTempView("st_states")
    got = {
        r.day: r
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT day, studentTTestMerge(ss) AS s, "
            "welchTTestMerge(ws) AS w, mannWhitneyUTestMerge(ms) AS m "
            "FROM st_states GROUP BY day",
        ).collect()
    }
    want = {
        r.day: r
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT day, studentTTest(x, idx) AS s, "
            "welchTTest(x, idx) AS w, mannWhitneyUTest(x, idx) AS m "
            "FROM st_src GROUP BY day",
        ).collect()
    }
    assert set(got) == set(want) and len(got) == 2
    for d in got:
        for c in ("s", "w", "m"):
            assert abs(got[d][c].col1 - want[d][c].col1) < 1e-12
            assert abs(got[d][c].col2 - want[d][c].col2) < 1e-12
    # empty-state merge: a group whose states are all NULL answers NULL
    spark.createDataFrame(
        [(None,)],
        "s struct<n0: bigint, s0: double, q0: double, n1: bigint, "
        "s1: double, q1: double>",
    ).createOrReplaceTempView("st_nullstate")
    [r] = ch_compat.run_clickhouse_sql(
        spark, "SELECT studentTTestMerge(s) AS v FROM st_nullstate"
    ).collect()
    assert r.v is None


def test_vector_distance_family(spark):
    """Round-10 vector distance/norm batch (the embedding-similarity
    surface an ANN migration brings along): every function against a
    numpy reference; NULL and length-mismatched inputs answer NULL
    (documented narrowing vs CH's SIZES_OF_ARRAYS_DONT_MATCH throw —
    zip_with would otherwise NULL-pad a silently-wrong partial
    distance); zero norms answer NULL where CH prints nan."""
    import math

    import numpy as np

    x = np.array([1.5, -2.0, 0.5, 3.25])
    y = np.array([0.5, 1.0, -1.5, 2.0])
    spark.createDataFrame(
        [(x.tolist(), y.tolist())], "a array<double>, b array<double>"
    ).createOrReplaceTempView("vec_src")
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT dotProduct(a, b) AS dot, arrayDotProduct(a, b) AS dot2, "
        "L2Distance(a, b) AS l2, L2SquaredDistance(a, b) AS l2sq, "
        "L1Distance(a, b) AS l1, LinfDistance(a, b) AS linf, "
        "cosineDistance(a, b) AS cos, L1Norm(a) AS n1, L2Norm(a) AS n2, "
        "L2SquaredNorm(a) AS n2sq, LinfNorm(a) AS ninf, "
        "normalizeL2(a) AS unit FROM vec_src",
    ).collect()
    assert abs(r.dot - float(x @ y)) < 1e-12 and r.dot2 == r.dot
    assert abs(r.l2 - float(np.linalg.norm(x - y))) < 1e-12
    assert abs(r.l2sq - float(((x - y) ** 2).sum())) < 1e-12
    assert abs(r.l1 - float(np.abs(x - y).sum())) < 1e-12
    assert abs(r.linf - float(np.abs(x - y).max())) < 1e-12
    assert (
        abs(
            r.cos
            - (
                1
                - float(x @ y)
                / (np.linalg.norm(x) * np.linalg.norm(y))
            )
        )
        < 1e-12
    )
    assert abs(r.n1 - float(np.abs(x).sum())) < 1e-12
    assert abs(r.n2 - float(np.linalg.norm(x))) < 1e-12
    assert abs(r.n2sq - float((x**2).sum())) < 1e-12
    assert abs(r.ninf - float(np.abs(x).max())) < 1e-12
    got_unit = np.array(r.unit)
    assert np.allclose(got_unit, x / np.linalg.norm(x), atol=1e-12)
    assert abs(np.linalg.norm(got_unit) - 1.0) < 1e-12

    # NULL / length-mismatch / zero-norm policies
    spark.createDataFrame(
        [
            ([1.0, 2.0], None),
            ([1.0, 2.0], [1.0]),
            ([0.0, 0.0], [1.0, 2.0]),
        ],
        "a array<double>, b array<double>",
    ).createOrReplaceTempView("vec_edge")
    rows = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT L2Distance(a, b) AS l2, cosineDistance(a, b) AS cos "
        "FROM vec_edge",
    ).collect()
    assert rows[0].l2 is None and rows[0].cos is None  # NULL side
    assert rows[1].l2 is None and rows[1].cos is None  # length mismatch
    assert rows[2].l2 is not None and rows[2].cos is None  # zero norm


def test_array_auc_vs_manual(spark):
    """arrayAUC against the probabilistic definition (P(score_pos >
    score_neg) + 0.5 P(tie)) computed by brute force in numpy — ties
    included; a single-class input answers NULL (CH prints nan)."""
    import numpy as np

    rng = np.random.RandomState(5)
    scores = rng.randint(0, 8, 25).astype(float)  # heavy ties
    labels = rng.randint(0, 2, 25)
    if labels.sum() in (0, len(labels)):  # keep both classes present
        labels[0], labels[1] = 0, 1
    pos = scores[labels > 0]
    neg = scores[labels == 0]
    want = float(
        (
            (pos[:, None] > neg[None, :]).sum()
            + 0.5 * (pos[:, None] == neg[None, :]).sum()
        )
        / (len(pos) * len(neg))
    )
    spark.createDataFrame(
        [(scores.tolist(), labels.tolist())],
        "s array<double>, l array<int>",
    ).createOrReplaceTempView("auc_src")
    [r] = ch_compat.run_clickhouse_sql(
        spark, "SELECT arrayAUC(s, l) AS auc FROM auc_src"
    ).collect()
    assert abs(r.auc - want) < 1e-12
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT arrayAUC(array(1.0, 2.0), array(1, 1)) AS auc",
    ).collect()
    assert r.auc is None


def test_round10_everyday_batch(spark):
    """Round-10 everyday translator batch: arrayJaccardIndex,
    Modified-Julian-Day conversions, char() byte concatenation, unhex's
    bytes-as-string cast, isValidUTF8/randCanonical/sumKahan renames."""
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT arrayJaccardIndex(array(1, 2, 3), array(2, 3, 4)) AS j, "
        "arrayJaccardIndex(array(1), array(2)) AS j0, "
        "toModifiedJulianDay('2020-01-01') AS mjd, "
        "fromModifiedJulianDay(58849) AS d, "
        "char(72, 105) AS hi, "
        "unhex('4D7953514C') AS u, "
        "isValidUTF8('binlog') AS v, "
        "sumKahan(x) AS sk "
        "FROM (SELECT 1.5 AS x UNION ALL SELECT 2.5)",
    ).collect()
    assert abs(r.j - 2.0 / 4.0) < 1e-15
    assert r.j0 == 0.0
    assert r.mjd == 58849  # the MJD epoch identity both ways
    assert r.d == "2020-01-01"
    assert r.hi == "Hi"
    assert r.u == "MySQL"  # CH doc example; unhex must read as STRING
    assert r.v is True
    assert r.sk == 4.0
    # both-empty arrayJaccardIndex: NULL here (CH nan) — documented
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT arrayJaccardIndex(array(), array()) AS j",
    ).collect()
    assert r.j is None
    # randCanonical: uniform [0, 1)
    [r] = ch_compat.run_clickhouse_sql(
        spark, "SELECT randCanonical() AS x"
    ).collect()
    assert 0.0 <= r.x < 1.0


def test_round10_everyday_batch_two(spark):
    """Second round-10 everyday batch: dateTrunc, toUUIDOrZero,
    emptyArray* typed literals, erf/erfc (A&S — documented ~1.5e-7
    narrowing), lgamma (Lanczos + reflection; non-positive integers
    answer NULL where CH prints inf), gcd/lcm (bounded Euclid fold)."""
    import math

    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT dateTrunc('month', CAST('2024-05-17 10:30:00' AS "
        "TIMESTAMP)) AS dt, "
        "toUUIDOrZero('not-a-uuid') AS z, "
        "toUUIDOrZero('61F0C404-5CB3-11E7-907B-A6006AD3DBA0') AS u, "
        "emptyArrayUInt64() AS e, "
        "erf(0.5) AS erf_h, erfc(1.25) AS erfc_v, "
        "lgamma(4.5) AS lg, lgamma(-0.5) AS lgr, lgamma(-2) AS lgz, "
        "gcd(12, 18) AS g, gcd(0, 0) AS g0, gcd(-12, 18) AS gn, "
        "lcm(4, 6) AS l, lcm(0, 5) AS l0, "
        "gcd(7540113804746346429, 4660046610375530309) AS gfib",
    ).collect()
    assert str(r.dt).startswith("2024-05-01")
    assert r.z == "00000000-0000-0000-0000-000000000000"
    assert r.u == "61f0c404-5cb3-11e7-907b-a6006ad3dba0"
    assert r.e == []
    assert abs(r.erf_h - math.erf(0.5)) < 2e-7
    assert abs(r.erfc_v - math.erfc(1.25)) < 2e-7
    assert abs(r.lg - math.lgamma(4.5)) < 1e-12
    assert abs(r.lgr - math.lgamma(-0.5)) < 1e-12  # reflection branch
    assert r.lgz is None  # pole: NULL where CH prints inf
    assert r.g == 6 and r.g0 == 0 and r.gn == 6
    assert r.l == 12 and r.l0 == 0
    # consecutive 64-bit Fibonacci numbers: the Euclid worst case —
    # the 92-step fold bound must still converge (gcd = 1)
    assert r.gfib == 1


def test_corr_covar_avgweighted_states(spark):
    """Bivariate moment states (round 10): corrState/covarPopState/
    covarSampState/avgWeightedState two-level reads equal the direct
    aggregates EXACTLY (field-sum merges are lossless); NULL-pair
    skipping matches the direct forms; degenerate groups answer NULL."""
    import numpy as np

    rng = np.random.RandomState(9)
    xs = rng.normal(3, 1.5, 50)
    ys = 0.7 * xs + rng.normal(0, 1, 50)
    ws = rng.randint(1, 5, 50)
    rows = [
        (float(x), float(y), int(w), int(i % 4))
        for i, (x, y, w) in enumerate(zip(xs, ys, ws))
    ]
    rows.append((None, 5.0, 2, 0))  # NULL-pair skipping
    rows.append((5.0, None, 2, 1))
    spark.createDataFrame(
        rows, "x double, y double, w int, blk int"
    ).createOrReplaceTempView("cv_src")
    ch_compat.run_clickhouse_sql(
        spark,
        "SELECT blk, corrState(x, y) AS cs, covarPopState(x, y) AS cps, "
        "covarSampState(x, y) AS css, avgWeightedState(x, w) AS aws "
        "FROM cv_src GROUP BY blk",
    ).createOrReplaceTempView("cv_states")
    [m] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT corrMerge(cs) AS c, covarPopMerge(cps) AS cp, "
        "covarSampMerge(css) AS cv, avgWeightedMerge(aws) AS aw "
        "FROM cv_states",
    ).collect()
    [w] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT corr(x, y) AS c, covarPop(x, y) AS cp, "
        "covarSamp(x, y) AS cv, avgWeighted(x, w) AS aw FROM cv_src",
    ).collect()
    for c in ("c", "cp", "cv", "aw"):
        assert abs(m[c] - w[c]) < 1e-10, (c, m[c], w[c])
    # numpy cross-check (pairs with any NULL are skipped)
    assert abs(m.c - float(np.corrcoef(xs, ys)[0, 1])) < 1e-10
    assert abs(m.cp - float(np.cov(xs, ys, bias=True)[0, 1])) < 1e-10
    assert abs(m.cv - float(np.cov(xs, ys, bias=False)[0, 1])) < 1e-10
    # the (x=5, y=NULL, w=2) row participates in avgWeighted (its pair
    # is x/w, both non-NULL) though not in the corr family
    assert (
        abs(m.aw - float(((xs * ws).sum() + 5.0 * 2) / (ws.sum() + 2)))
        < 1e-10
    )
    # degenerate: single pair -> covarSamp NULL; constant x -> corr NULL
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT corrMerge(s) AS c FROM (SELECT corrState(x, y) AS s "
        "FROM (SELECT 1.0 AS x, 2.0 AS y UNION ALL SELECT 1.0, 3.0))",
    ).collect()
    assert r.c is None


def test_corr_covar_ddl_states(spark):
    """AggregateFunction(corr|covarPop|covarSamp|avgWeighted, X, Y)
    columns migrate to moment-struct states; merge + finalize through
    operators/rollups equal the direct aggregates."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.functions import ddl_compat
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import rollups

    objects, _ = ddl_compat.migrate_script(
        "CREATE TABLE db.cv_store (k UInt64, "
        "c AggregateFunction(corr, Float64, Float64), "
        "aw AggregateFunction(avgWeighted, Float64, UInt32)) "
        "ENGINE = AggregatingMergeTree() ORDER BY (k)"
    )
    store = objects[0]
    assert store.agg_state_columns() == {"c": "corr", "aw": "avgweighted"}
    assert [c.spark_type for c in store.columns][1:] == [
        "struct<n:bigint,sx:double,sy:double,"
        "sxx:double,syy:double,sxy:double>",
        "struct<ws:double,w:double>",
    ]
    # merge + finalize roundtrip on synthetic partial states
    spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1)], "v int, blk int"
    ).createOrReplaceTempView("cvd_src")
    partials = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT blk, corrState(v, v * 2 + 1) AS c, "
        "avgWeightedState(v, 2) AS aw FROM cvd_src GROUP BY blk",
    ).withColumn("k", F.lit(1))
    fns = {"c": "corr", "aw": "avgweighted"}
    merged = rollups.agg_state_merge(partials, ["k"], fns)
    [r] = rollups.finalize_agg_states(merged, fns).collect()
    assert abs(r.c - 1.0) < 1e-12  # perfectly linear -> corr 1
    assert abs(r.aw - 2.5) < 1e-12


def test_quantiles_plural_state_merge(spark):
    """Plural quantiles*State/Merge (round 10): the histogram state is
    level-free, so the plural -State is the same map and -Merge
    finalizes every level into one array — equal to the corresponding
    singular quantile*Merge reads and to direct percentiles."""
    rows = [(float(v), v % 3) for v in range(1, 41)]
    spark.createDataFrame(rows, "x double, blk int").createOrReplaceTempView(
        "qp_src"
    )
    ch_compat.run_clickhouse_sql(
        spark,
        "SELECT blk, quantilesState(x) AS qs, "
        "quantilesExactState(0.5, 0.9)(x) AS qes FROM qp_src GROUP BY blk",
    ).createOrReplaceTempView("qp_states")
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT quantilesMerge(0.25, 0.5, 0.9)(qs) AS q, "
        "quantilesExactMerge(0.5, 0.9)(qes) AS qe, "
        "quantileMerge(0.5)(qs) AS m FROM qp_states",
    ).collect()
    assert len(r.q) == 3 and len(r.qe) == 2
    assert r.q[1] == r.qe[0] == r.m  # same state, same median
    # quantileExact indexing: rank = floor(p*40) + 1 over 1..40
    assert r.q == [11.0, 21.0, 37.0]
    assert r.qe == [21.0, 37.0]
    # level list is required on the plural merge
    with pytest.raises(ValueError, match="level"):
        ch_compat.translate("SELECT quantilesMerge(qs) FROM t")


def test_quantiles_sketch_plural_state_merge(spark):
    """Plural sketch forms quantilesTDigest/BFloat16 State+Merge: the
    log-quantized histogram with the plural array finalize; answers
    within the sketch's documented half-step of the exact plural."""
    rows = [(float(v) * 1.37 + 1.0, v % 3) for v in range(1, 61)]
    spark.createDataFrame(rows, "x double, blk int").createOrReplaceTempView(
        "qsp_src"
    )
    ch_compat.run_clickhouse_sql(
        spark,
        "SELECT blk, quantilesTDigestState(x) AS ts, "
        "quantilesExactState(x) AS es FROM qsp_src GROUP BY blk",
    ).createOrReplaceTempView("qsp_states")
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT quantilesTDigestMerge(0.5, 0.9)(ts) AS t, "
        "quantilesExactMerge(0.5, 0.9)(es) AS e FROM qsp_states",
    ).collect()
    assert len(r.t) == 2
    for approx, exact in zip(r.t, r.e):
        assert abs(approx - exact) / exact < 0.005  # ~0.4% half-step


def test_z_tests_and_probit(spark):
    """meanZTest / proportionsZTest (round 10): z, two-sided p (A&S
    erfc), and confidence bounds via the Acklam probit — all against
    math/closed-form references; the probit itself against known
    normal quantiles."""
    import math

    from use_clickhouse_2_analyze_mysql_binlog_spark.functions import stats

    # probit sanity: known quantiles (both tails + center)
    for p, want in (
        (0.975, 1.959963984540054),
        (0.5, 0.0),
        (0.025, -1.959963984540054),
        (0.995, 2.5758293035489004),
        (0.0001, -3.719016485455709),
    ):
        [r] = spark.sql(
            "SELECT " + stats.probit_sql(str(p)) + " AS v"
        ).collect()
        assert abs(r.v - want) < 1e-8, (p, r.v, want)

    # meanZTest: known variances 4 and 9
    xs = [10.0, 12.0, 11.0, 13.0, 9.0]
    ys = [14.0, 15.0, 13.0]
    rows = [(v, 0) for v in xs] + [(v, 1) for v in ys]
    spark.createDataFrame(rows, "x double, idx int").createOrReplaceTempView(
        "mz_src"
    )
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT meanZTest(4.0, 9.0, 0.95)(x, idx) AS z FROM mz_src",
    ).collect()
    d = sum(xs) / len(xs) - sum(ys) / len(ys)
    se = math.sqrt(4.0 / len(xs) + 9.0 / len(ys))
    zc = 1.959963984540054
    assert abs(r.z.col1 - d / se) < 1e-12
    assert abs(r.z.col2 - math.erfc(abs(d / se) / math.sqrt(2))) < 1e-6
    assert abs(r.z.col3 - (d - zc * se)) < 1e-8
    assert abs(r.z.col4 - (d + zc * se)) < 1e-8

    # proportionsZTest: CH doc-shaped inputs, REAL 6-arg signature with
    # the required 'pooled'/'unpooled' usevar literal (ADVICE r10 #2);
    # the CI stays unpooled for both
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT proportionsZTest(10, 11, 100, 101, 0.95, 'pooled') AS p, "
        "proportionsZTest(10, 11, 100, 101, 0.95, 'unpooled') AS u",
    ).collect()
    p1, p2 = 10 / 100, 11 / 101
    pp = (10 + 11) / (100 + 101)
    sep = math.sqrt(pp * (1 - pp) * (1 / 100 + 1 / 101))
    seu = math.sqrt(p1 * (1 - p1) / 100 + p2 * (1 - p2) / 101)
    z = (p1 - p2) / sep
    assert abs(r.p.col1 - z) < 1e-12
    assert abs(r.p.col2 - math.erfc(abs(z) / math.sqrt(2))) < 1e-6
    assert abs(r.p.col3 - ((p1 - p2) - zc * seu)) < 1e-8
    assert abs(r.p.col4 - ((p1 - p2) + zc * seu)) < 1e-8
    zu = (p1 - p2) / seu
    assert abs(r.u.col1 - zu) < 1e-12
    assert abs(r.u.col2 - math.erfc(abs(zu) / math.sqrt(2))) < 1e-6
    assert abs(r.u.col3 - ((p1 - p2) - zc * seu)) < 1e-8
    assert abs(r.u.col4 - ((p1 - p2) + zc * seu)) < 1e-8

    # the old 5-arg form (no usevar) and a non-literal usevar stay loud
    with pytest.raises(ValueError, match="usevar"):
        ch_compat.translate(
            "SELECT proportionsZTest(10, 11, 100, 101, 0.95) FROM t"
        )
    with pytest.raises(ValueError, match="usevar"):
        ch_compat.translate(
            "SELECT proportionsZTest(10, 11, 100, 101, 0.95, uv) FROM t"
        )
    # a bare COLUMN named 'pooled' is not the required string literal
    # (post-review hardening: it used to be silently read as the
    # constant)
    with pytest.raises(ValueError, match="non-literal"):
        ch_compat.translate(
            "SELECT proportionsZTest(10, 11, 100, 101, 0.95, pooled) "
            "FROM t"
        )


def test_round10_everyday_batch_three(spark):
    """base64URL trio, toStartOfSecond, roundToExp2,
    byteHammingDistance (character-form narrowing like
    stringJaccardIndex)."""
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT base64URLEncode('https://clickhouse.com/?a=1') AS e, "
        "tryBase64URLDecode(base64URLEncode('Hi? /+ there')) AS d, "
        "tryBase64URLDecode('#garbage#') AS g, "
        "base64URLDecode(base64URLEncode('roundtrip')) AS rt, "
        "toStartOfSecond(CAST('2024-05-17 10:30:45.789' AS TIMESTAMP)) "
        "AS ts, "
        "roundToExp2(100) AS r100, roundToExp2(0.5) AS rhalf, "
        "roundToExp2(64) AS r64, "
        "byteHammingDistance('karolin', 'kathrin') AS h, "
        "byteHammingDistance('abc', 'abcdef') AS hlen",
    ).collect()
    import base64

    assert r.e == base64.urlsafe_b64encode(
        b"https://clickhouse.com/?a=1"
    ).decode().rstrip("=")
    assert r.d == "Hi? /+ there"
    assert r.g == ""
    assert r.rt == "roundtrip"
    assert str(r.ts).endswith("10:30:45")
    assert r.r100 == 64.0 and r.rhalf == 0.0 and r.r64 == 64.0
    assert r.h == 3  # classic Hamming example
    assert r.hlen == 3  # 0 differing + 3 length delta


def test_categorical_association(spark):
    """cramersV / cramersVBiasCorrected / contingency against a manual
    chi-squared computation (pandas crosstab); degenerate inputs answer
    NULL; theilsU stays loud (unpinned directionality)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(13)
    a = rng.choice(["x", "y", "z"], 60)
    # correlated second column with noise
    m = {"x": "p", "y": "q", "z": "r"}
    b = np.where(rng.rand(60) < 0.7, [m[v] for v in a],
                 rng.choice(["p", "q", "r"], 60))
    spark.createDataFrame(
        list(zip(a.tolist(), b.tolist())), "a string, b string"
    ).createOrReplaceTempView("cv_assoc")
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT cramersV(a, b) AS v, cramersVBiasCorrected(a, b) AS vb, "
        "contingency(a, b) AS c FROM cv_assoc",
    ).collect()

    ct = pd.crosstab(pd.Series(a), pd.Series(b)).to_numpy().astype(float)
    n = ct.sum()
    exp = np.outer(ct.sum(1), ct.sum(0)) / n
    chi2 = ((ct - exp) ** 2 / exp).sum()
    k1, k2 = ct.shape
    v = float(np.sqrt((chi2 / n) / min(k1 - 1, k2 - 1)))
    phi2c = max(0.0, chi2 / n - (k1 - 1) * (k2 - 1) / (n - 1))
    k1c = k1 - (k1 - 1) ** 2 / (n - 1)
    k2c = k2 - (k2 - 1) ** 2 / (n - 1)
    vb = float(np.sqrt(phi2c / min(k1c - 1, k2c - 1)))
    cc = float(np.sqrt(chi2 / (chi2 + n)))
    assert abs(r.v - v) < 1e-10
    assert abs(r.vb - vb) < 1e-10
    assert abs(r.c - cc) < 1e-10
    # single-valued side -> NULL (CH nan)
    [r] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT cramersV(a, b) AS v FROM (SELECT 'k' AS a, 'p' AS b "
        "UNION ALL SELECT 'k', 'q')",
    ).collect()
    assert r.v is None
    with pytest.raises(ValueError, match="theilsU"):
        ch_compat.translate("SELECT theilsU(a, b) FROM t")


def test_kolmogorov_smirnov(spark):
    """kolmogorovSmirnovTest (round 10 — the last two-sample test):
    D against a manual ECDF sweep, p against the Kolmogorov series
    computed independently in Python; two-level State/Merge equality;
    ties included; one-sided and 'exact' stay loud (tested above in
    the translate layer, re-asserted here)."""
    import math

    import numpy as np

    rng = np.random.RandomState(21)
    a = np.round(rng.normal(10, 2, 45), 1)  # rounding forces ties
    b = np.round(rng.normal(11, 2.5, 35), 1)
    rows = [(float(v), 0) for v in a] + [(float(v), 1) for v in b]
    spark.createDataFrame(rows, "x double, idx int").createOrReplaceTempView(
        "ks_src"
    )
    [r] = ch_compat.run_clickhouse_sql(
        spark, "SELECT kolmogorovSmirnovTest(x, idx) AS k FROM ks_src"
    ).collect()

    allv = np.sort(np.unique(np.concatenate([a, b])))
    f0 = np.searchsorted(np.sort(a), allv, side="right") / len(a)
    f1 = np.searchsorted(np.sort(b), allv, side="right") / len(b)
    d = float(np.abs(f0 - f1).max())
    ne = len(a) * len(b) / (len(a) + len(b))
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    p = 2.0 * sum(
        (-1) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        for k in range(1, 101)
    )
    p = min(1.0, max(0.0, p))
    assert abs(r.k.col1 - d) < 1e-12
    assert abs(r.k.col2 - p) < 1e-10

    # two-level: per-block states re-merged == direct
    spark.createDataFrame(
        [(float(v), 0, i % 3) for i, v in enumerate(a)]
        + [(float(v), 1, i % 3) for i, v in enumerate(b)],
        "x double, idx int, blk int",
    ).createOrReplaceTempView("ks_blk")
    ch_compat.run_clickhouse_sql(
        spark,
        "SELECT blk, kolmogorovSmirnovTestState(x, idx) AS s "
        "FROM ks_blk GROUP BY blk",
    ).createOrReplaceTempView("ks_states")
    [m] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT kolmogorovSmirnovTestMerge(s) AS k FROM ks_states",
    ).collect()
    assert abs(m.k.col1 - r.k.col1) < 1e-12
    assert abs(m.k.col2 - r.k.col2) < 1e-12
    with pytest.raises(ValueError, match="two-sided"):
        ch_compat.translate(
            "SELECT kolmogorovSmirnovTest('less')(x, idx) FROM t"
        )
