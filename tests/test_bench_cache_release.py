"""Pin bench.py's family-cache release points against reality.

r15 (VERDICT r14 next #4): bench.py unpersists a family's shared cache
right after the cache tag's LAST consumer in the full run sequence (main
sweep + headline/watched extra passes). A release point placed
BEFORE a later consumer would silently make that consumer rebuild the
cache inside its timed region — a methodology change that reads as a
phantom regression. This test re-derives every tag's consumer set from
the LIVE registry by constructing each query in bench order (operator
``persist``/memo sites register with :mod:`operators.cachetrack` at
construction time) and asserts each configured release point is at or
after the tag's last consumer.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench as B  # noqa: E402
from use_clickhouse_2_analyze_mysql_binlog_spark import (  # noqa: E402
    queries_registry as R,
)
from use_clickhouse_2_analyze_mysql_binlog_spark.operators import (  # noqa: E402
    cachetrack,
)


def _full_sequence() -> list[str]:
    """The bench run's exact query order: sorted sweep (headline last),
    then the min-of-N extra passes in bench.py's dict order."""
    names = [n for n in sorted(R.QUERIES) if n not in B.BENCH_QUERIES]
    names += [n for n in B.BENCH_QUERIES if n in R.QUERIES]
    extra = {n: 2 for n in B.BENCH_QUERIES}
    extra.update({n: 1 for n in B.WATCHED_QUERIES})
    return names + [n for n in extra if n in R.QUERIES]


def test_bench_query_lists_are_registered():
    """bench.py silently skips names missing from the registry, so a typo
    in the headline or WATCHED list would drop that query unnoticed."""
    missing = [
        n for n in B.BENCH_QUERIES + B.WATCHED_QUERIES if n not in R.QUERIES
    ]
    assert not missing, f"bench lists name unregistered queries: {missing}"


def test_release_points_at_or_after_last_consumer(spark):
    from tests.conftest import SF_DIR as sf_dir

    seq = _full_sequence()
    last: dict[str, int] = {}
    cachetrack.release_all()
    cachetrack.drain_touched()
    for i, name in enumerate(seq):
        # releasing between constructions makes every consumer re-create
        # (and therefore re-register) the caches it uses, so touch
        # tracking equals use tracking even for memoized builders
        cachetrack.release_all()
        R.QUERIES[name](spark, sf_dir)
        for tag in cachetrack.drain_touched():
            last[tag] = i
    cachetrack.release_all()

    # bench.py releases a tag right after the query's FIRST run (the main
    # sweep), so the release position is the first occurrence
    pos: dict[str, int] = {}
    for i, n in enumerate(seq):
        pos.setdefault(n, i)
    for release_name, tags in B.CACHE_RELEASE_AFTER.items():
        assert release_name in pos, release_name
        for tag in tags:
            assert tag in last, (
                f"release point for unknown cache tag {tag!r} (no "
                f"registry query constructs it at driver SFs)"
            )
            assert pos[release_name] >= last[tag], (
                f"cache tag {tag!r} is released after "
                f"{release_name!r} (pos {pos[release_name]}) but its "
                f"last consumer is {seq[last[tag]]!r} (pos {last[tag]})"
                " — a later timed pass would rebuild it"
            )


def test_release_unpersists_and_clears_memos(spark):
    from tests.conftest import SF_DIR as sf_dir

    from use_clickhouse_2_analyze_mysql_binlog_spark import schemas
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import (
        curation,
    )

    docs = schemas.load_table(spark, sf_dir, "documents")
    flagged = curation.flagged_documents(docs)
    flagged.count()
    assert flagged.storageLevel.useMemory or flagged.storageLevel.useDisk
    assert curation._FLAGGED_MEMO  # memoized
    n = cachetrack.release("flagged")
    assert n >= 1
    assert not curation._FLAGGED_MEMO  # hook cleared the memo
    assert not flagged.storageLevel.useMemory
    assert not flagged.storageLevel.useDisk
    # releasing again is a harmless no-op
    assert cachetrack.release("flagged") == 0
