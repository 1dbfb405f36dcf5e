"""``cachetrack.release`` unpersists a family's shared cache and clears
its memo.

Both benchmarks rely on this contract: ``perfbench.workloads.drop_caches``
releases every tracked cache before each timed query, so a stale memo
would hand the next query an unpersisted DataFrame and hide its cache
build from the timer.
"""

from use_clickhouse_2_analyze_mysql_binlog_spark.operators import cachetrack


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
