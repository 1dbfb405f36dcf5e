"""benchfmt codec: lossless name round-trip + hard tail-budget guarantee.

The round driver records only the last 2000 chars of bench.py stdout and
json-parses the final line; rounds 2-3 lost ~25 per-query numbers to
truncation (VERDICT r03 "What's missing" #1). These tests pin that the
compact line ALWAYS fits and decodes back to every registry query.
"""

import json

from hypothesis import given, strategies as st

from use_clickhouse_2_analyze_mysql_binlog_spark import benchfmt
from use_clickhouse_2_analyze_mysql_binlog_spark import queries_registry as R

NAMES = sorted(R.QUERIES)


def test_roundtrip_registry_names_ms():
    timings = {n: 0.001 * (i + 1) for i, n in enumerate(NAMES)}
    enc = benchfmt.encode_queries(timings, "ms")
    dec = benchfmt.decode_queries(enc, "ms")
    assert dec == {n: round(v, 3) for n, v in timings.items()}


def test_compact_line_fits_budget_with_realistic_values():
    timings = {n: 0.523 for n in NAMES}
    line = benchfmt.compact_line(timings, 2.815, 72.06, 0.1)
    assert len(line) <= benchfmt.TAIL_BUDGET
    doc = json.loads(line)
    assert doc["metric"] == "headline_query_wall_seconds"
    assert doc["unit"] == "sec"
    assert doc["qunit"] == "ms"  # positional values fit at full ms
    flat = benchfmt.decode_queries_positional(
        doc["queries"], doc["qunit"], NAMES, doc["qsig"]
    )
    assert flat == {n: 0.523 for n in NAMES}


def test_compact_line_warmup_total_field():
    """r15 (VERDICT r14 next #3): the untimed shared-cache warm-up total
    rides the line as `wu` beside `total`; omitted when not supplied
    (old callers unchanged) and still under the tail budget with it."""
    timings = {n: 9.999 for n in NAMES}
    line = benchfmt.compact_line(
        timings, 49.99, 799.9, 0.1, warmup_total_sec=378.123
    )
    assert len(line) <= benchfmt.TAIL_BUDGET
    doc = json.loads(line)
    assert doc["wu"] == 378.12
    assert doc["total"] == 799.9  # unchanged meaning
    assert "wu" not in json.loads(
        benchfmt.compact_line(timings, 49.99, 799.9, 0.1)
    )


def test_compact_line_fits_budget_worst_case_four_digit_ms():
    """Every query at 9.999 s (4-digit ms) — must stay under budget with
    headroom for a much larger registry (the round-4 nested-name codec
    overflowed at 86 names; the positional shape fits ~300)."""
    timings = {n: 9.999 for n in NAMES}
    line = benchfmt.compact_line(timings, 49.99, 799.9, 0.1)
    assert len(line) <= benchfmt.TAIL_BUDGET
    doc = json.loads(line)
    flat = benchfmt.decode_queries_positional(
        doc["queries"], doc["qunit"], NAMES, doc["qsig"]
    )
    assert set(flat) == set(NAMES)
    # precision no worse than the declared unit
    assert all(abs(v - 9.999) <= 0.1 for v in flat.values())
    # and there is real headroom: 3x the registry still fits
    big = {f"{n}_v{i}": 9.999 for n in NAMES for i in range(3)}
    assert len(benchfmt.compact_line(big, 49.99, 799.9, 0.1)) <= (
        benchfmt.TAIL_BUDGET
    )


def test_positional_decode_rejects_wrong_registry():
    """qsig pins the name list: decoding against a changed registry must
    fail loudly, never silently mispair values."""
    import pytest

    timings = {n: 0.5 for n in NAMES}
    line = benchfmt.compact_line(timings, 1.0, 10.0, 0.1)
    doc = json.loads(line)
    with pytest.raises(ValueError, match="qsig mismatch"):
        benchfmt.decode_queries_positional(
            doc["queries"], doc["qunit"], NAMES + ["extra_query"], doc["qsig"]
        )
    with pytest.raises(ValueError, match="values for"):
        benchfmt.decode_queries_positional(
            doc["queries"][:-1], doc["qunit"], NAMES
        )


@given(
    st.dictionaries(
        st.from_regex(r"[a-z]{1,8}(_[a-z]{1,8}){0,4}", fullmatch=True),
        st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
        min_size=1,
        max_size=60,
    )
)
def test_roundtrip_property(timings):
    enc = benchfmt.encode_queries(timings, "ms")
    dec = benchfmt.decode_queries(enc, "ms")
    assert set(dec) == set(timings)
    for name, sec in timings.items():
        assert abs(dec[name] - sec) <= 0.0005 + 1e-9


def test_bench_compare_loads_driver_wrapper_with_parsed():
    """bench_compare._load must decode the new compact shape from the
    driver wrapper's 'parsed' field."""
    import bench_compare

    timings = {n: 0.25 for n in NAMES}
    line = benchfmt.compact_line(timings, 1.25, 20.0, 0.1)
    wrapper = {"n": 4, "rc": 0, "tail": line + "\n", "parsed": json.loads(line)}
    import tempfile, os

    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fh:
        json.dump(wrapper, fh)
        path = fh.name
    try:
        doc = bench_compare._load(path)
    finally:
        os.unlink(path)
    assert doc["queries"] == {n: 0.25 for n in NAMES}
    assert doc["total_all_queries"] == 20.0


def test_encode_rejects_collision_prone_names():
    """ADVICE r04: names with leading/trailing/doubled underscores collide
    in the _-token nesting ('foo' and 'foo_' both land on the '' key) —
    encode_queries must reject them instead of silently dropping one."""
    import pytest

    for bad in ("foo_", "_foo", "a__b"):
        with pytest.raises(ValueError, match="not representable"):
            benchfmt.encode_queries({bad: 1.0, "foo": 2.0}, "ms")
    # registry names are all representable
    benchfmt.encode_queries({n: 1.0 for n in NAMES}, "ms")


def _gate(monkeypatch, capsys, base_q, new_q, base_val=None, new_val=None):
    """Run bench_compare.main on two synthetic snapshots; return (rc, out)."""
    import sys
    import tempfile

    import bench_compare

    paths = []
    for q, v in ((base_q, base_val), (new_q, new_val)):
        doc = {"queries": q, "value": v, "total_all_queries": sum(q.values())}
        fh = tempfile.NamedTemporaryFile(
            "w", suffix=".json", delete=False
        )
        json.dump(doc, fh)
        fh.close()
        paths.append(fh.name)
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", *paths])
    rc = bench_compare.main()
    return rc, capsys.readouterr().out


def test_gate_box_noise_on_untouched_queries_passes(monkeypatch, capsys):
    """VERDICT r10 next #2 (three rounds of false FAILs): 1.2-1.3x
    per-query jitter on UNTOUCHED headline/watched queries must not gate
    — only the headline trio total (within 1.1x here), the all-query
    total and the raw hard cap do."""
    from bench import BENCH_QUERIES, WATCHED_QUERIES

    base = {n: 0.5 for n in NAMES}
    new = dict(base)
    # the exact r10 pattern: two headline + two watched read ~1.2-1.3x
    new[BENCH_QUERIES[0]] = 0.62
    new[BENCH_QUERIES[1]] = 0.64
    new[WATCHED_QUERIES[0]] = 0.65
    new[WATCHED_QUERIES[1]] = 0.63
    rc, out = _gate(
        monkeypatch, capsys, base, new,
        base_val=2.5, new_val=2.68,
    )
    assert rc == 0, out
    assert "PASS" in out and "trio-total gates" in out


def test_gate_headline_trio_total_regression_fails(monkeypatch, capsys):
    base = {n: 0.5 for n in NAMES}
    rc, out = _gate(
        monkeypatch, capsys, base, dict(base),
        base_val=2.5, new_val=3.0,
    )
    assert rc == 1
    assert "headline trio total" in out and "FAIL" in out


def test_gate_registry_wide_slowdown_hits_hard_cap(monkeypatch, capsys):
    """Drift normalization is blind to a uniform 2x slowdown; the raw
    hard cap on headline/WATCHED queries still catches it."""
    base = {n: 0.5 for n in NAMES}
    new = {n: 1.0 for n in NAMES}
    rc, out = _gate(
        monkeypatch, capsys, base, new,
        base_val=2.5, new_val=5.0,
    )
    assert rc == 1
    assert "REGRESSED (hard cap)" in out
