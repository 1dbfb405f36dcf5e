"""Differential test: the two-level ``-State`` rewrite returns the same rows
as the expression-level fallback it replaces.

``ch_compat.translate`` restructures a safe-shaped GROUP BY holding
``sumMap/minMap/maxMapState`` or quantile ``-State`` calls into a two-level
pre-aggregation; any other shape keeps the expression-level expansion. An
alias-less state item (``sumMapState(..) sm``) is not a safe shape, so the
same query with ``" AS sm"`` -> ``" sm"`` runs the fallback with no switch.
Each example batches several groups into one small view; map states are
compared with their keys sorted. NULL map keys are excluded: that
narrowing is documented and pinned in ``test_ch_compat.py``.

Both paths declare the DDL's sumMap value type, and both refuse decimal
scales above 6 (Spark's default decimal arithmetic would round them);
those scales run the min/max and quantile states only.
"""

import functools

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from use_clickhouse_2_analyze_mysql_binlog_spark.functions import (
    ch_compat,
    ddl_compat,
)

_TYPES = {
    "bigint": st.integers(-50, 50),
    "decimal(9,2)": st.decimals(-99, 99, places=2, allow_nan=False),
    "decimal(18,6)": st.decimals(-99, 99, places=6, allow_nan=False),
    "decimal(9,8)": st.decimals(-9, 9, places=8, allow_nan=False),
    "decimal(18,8)": st.decimals(-99, 99, places=8, allow_nan=False),
}
_SUM_REFUSED = {"decimal(9,8)", "decimal(18,8)"}  # scale above 6
_keys = st.integers(0, 4)  # small range: duplicate keys within a row

# (query, marker of the two-level path in the translated text)
_SHAPES = {
    "map_zip": (
        "SELECT g, sumMapState(ks, vs) AS sm, minMapState(ks, vs) AS mn,"
        " maxMapState(ks, vs) AS mx FROM sd_t GROUP BY g",
        "__msents",
    ),
    "map_singleton": (
        "SELECT g, sumMapState(array(k), array(v)) AS sm,"
        " minMapState(array(k), array(v)) AS mn,"
        " maxMapState(array(k), array(v)) AS mx FROM sd_t GROUP BY g",
        "__msk0",
    ),
    "quantile": (
        "SELECT g, quantileState(v) AS sm FROM sd_t GROUP BY g",
        "__msq",
    ),
    "tdigest": (
        "SELECT g, quantileTDigestState(v) AS sm FROM sd_t GROUP BY g",
        "__msq",
    ),
}


@st.composite
def _view(draw):
    vtype = draw(st.sampled_from(sorted(_TYPES)))
    vals = st.none() | _TYPES[vtype]
    pairs = st.lists(st.tuples(_keys, vals), max_size=4)
    row = st.tuples(
        st.integers(0, 5),  # group
        st.none() | pairs,  # NULL, empty or filled key/value arrays
        _keys,
        vals,
    )
    return vtype, draw(st.lists(row, min_size=1, max_size=24))


def _rows(rows):
    """Rows by group, each map state as its (key, value) pairs sorted by
    key."""
    return sorted(
        tuple(
            tuple(sorted(c.items())) if isinstance(c, dict) else c for c in r
        )
        for r in rows
    )


@functools.cache
def _translated(shape, with_sum=True):
    sql, marker = _SHAPES[shape]
    if not with_sum:
        sql = sql.replace("sumMapState", "minMapState")
    two_level = ch_compat.translate(sql)
    fallback = ch_compat.translate(sql.replace(" AS sm", " sm"))
    assert marker in two_level and marker not in fallback, two_level
    return two_level, fallback


def _lit(x, vtype):
    return "NULL" if x is None else f"CAST({x} AS {vtype})"


def _arr(xs, vtype):
    if xs is None:
        return f"CAST(NULL AS ARRAY<{vtype}>)"
    elems = ", ".join(_lit(x, vtype) for x in xs)
    return f"CAST(array({elems}) AS ARRAY<{vtype}>)"


@given(shape=st.sampled_from(sorted(_SHAPES)), view=_view())
@settings(max_examples=200, deadline=None)
def test_state_two_level_matches_fallback(spark, shape, view):
    vtype, rows = view
    # an inline VALUES view is a local relation: no Python worker per scan
    values = ", ".join(
        f"({g}, "
        f"{_arr(None if pairs is None else [k for k, _ in pairs], 'bigint')}, "
        f"{_arr(None if pairs is None else [x for _, x in pairs], vtype)}, "
        f"{k}, {_lit(v, vtype)})"
        for g, pairs, k, v in rows
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW sd_t AS SELECT * FROM VALUES "
        f"{values} AS t(g, ks, vs, k, v)"
    )
    two_level, fallback = _translated(shape, vtype not in _SUM_REFUSED)
    # one job for both paths
    both = spark.sql(
        f"SELECT true AS __two, * FROM ({two_level}) "
        f"UNION ALL SELECT false AS __two, * FROM ({fallback})"
    ).collect()
    assert _rows(r[1:] for r in both if r[0]) == _rows(
        r[1:] for r in both if not r[0]
    )


def _summap_view(spark, vtype):
    """One row; key 1 sums to 4 for ints, 1.75 otherwise."""
    vals = [1, 2, 3] if vtype in ("int", "bigint") else [1.5, 2, 0.25]
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW sd_t AS SELECT * FROM VALUES "
        f"(1, {_arr([1, 2, 1], 'bigint')}, {_arr(vals, vtype)},"
        f" 1, {_lit(vals[0], vtype)}) AS t(g, ks, vs, k, v)"
    )
    return vals


@pytest.mark.parametrize(
    "vtype, ch_type",
    [
        ("int", "Int32"),
        ("bigint", "Int64"),
        ("double", "Float64"),
        ("decimal(5,2)", "Decimal(5, 2)"),
        ("decimal(18,6)", "Decimal(18, 6)"),
        ("decimal(38,6)", "Decimal(38, 6)"),
    ],
)
@pytest.mark.parametrize("shape", ["map_zip", "map_singleton"])
def test_summap_state_declares_ddl_value_type(spark, shape, vtype, ch_type):
    """Both paths build the map value type ``ddl_compat`` declares for the
    state column, and sum exactly."""
    vals = _summap_view(spark, vtype)
    _, want = ddl_compat._agg_state(
        f"AggregateFunction(sumMap, Array(Int64), Array({ch_type}))"
    )
    want_value = want.replace(" ", "").split(",", 1)[1][:-1]
    for sql in _translated(shape):
        df = spark.sql(sql)
        got = df.schema["sm"].dataType.valueType.simpleString()
        assert got == want_value, (sql, got)
        want_sum = vals[0] if shape == "map_singleton" else vals[0] + vals[2]
        assert df.collect()[0]["sm"][1] == want_sum, sql


@pytest.mark.parametrize("vtype", sorted(_SUM_REFUSED))
@pytest.mark.parametrize("shape", ["map_zip", "map_singleton"])
def test_summap_state_refuses_decimal_scale_above_6(spark, shape, vtype):
    """A sum at precision 38 keeps 6 fractional digits under Spark's
    default decimal rules, so both paths raise instead of rounding."""
    _summap_view(spark, vtype)
    for sql in _translated(shape):
        with pytest.raises(Exception, match="scale above 6"):
            spark.sql(sql).collect()
