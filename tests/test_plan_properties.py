"""Physical-plan regression tests: the scale properties PLANS.md documents
must hold structurally, not just anecdotally — a change that reintroduces
a shuffle or loses a broadcast should fail here, at any data size."""

from use_clickhouse_2_analyze_mysql_binlog_spark import queries_registry as R
from use_clickhouse_2_analyze_mysql_binlog_spark import schemas
from use_clickhouse_2_analyze_mysql_binlog_spark.operators import (
    curation,
    dedup,
    rollups,
)
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = R.QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_transaction_stats_single_shuffle(spark):
    plan = _plan(spark, "transaction_stats")
    # partial + final HashAggregate around exactly one shuffle exchange
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("HashAggregate") == 2, plan


def test_top1_uses_window_group_limit(spark):
    plan = _plan(spark, "top_transaction_by_size")
    # rank<=1 pushed as WindowGroupLimit on both shuffle sides — the
    # distributed top-k; a full sort of all stats would lose this node
    assert "WindowGroupLimit" in plan, plan


def test_dim_join_broadcasts(spark):
    plan = _plan(spark, "event_type_decode_dim_join")
    assert "BroadcastHashJoin" in plan, plan
    # the only hash shuffle is the post-join aggregate — the fact side
    # reaches the join straight off the scan; the dim is a LocalTableScan
    # (VALUES literal) under a BroadcastExchange
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "LocalTableScan" in plan and "BroadcastExchange" in plan, plan


def test_antijoin_broadcasts(spark):
    plan = _plan(spark, "idempotent_window_antijoin")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_asof_join_interval_shape(spark):
    plan = _plan(spark, "asof_trade_quote")
    # interval form (round 8 default): quote side gets a lead-neighbor
    # window, then an equi+range sort-merge join on gtid — at most one
    # match per trade, so no post-join dedup node. Exchanges: quote
    # pre-agg (gtid, quote_time), the lead window on gtid (which IS the
    # join's right-side partitioning), and the trade side on gtid — the
    # window's exchange is reused by the join, never doubled.
    # an EQUI join strategy (broadcast at toy scale, sort-merge at
    # scale) — never a nested-loop/cartesian fallback, which is what a
    # naive theta-only as-of would produce
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert plan.count("Window") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_gtid_set_operations_single_pass(spark):
    plan = _plan(spark, "gtid_set_operations")
    # cohort membership computed in ONE pass: a single gtid hash shuffle
    # (partial+final max-flag aggregate), then a single-partition count —
    # not the naive 6-scan intersect/except plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "gtid" in plan.split("Exchange hashpartitioning")[1][:80], plan
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_sampling_and_scrub_are_shuffle_free(spark):
    # hash-threshold sampling and PII scrubbing are pure row-local work:
    # any Exchange here means the operator stopped scaling with the scan.
    docs = schemas.load_table(spark, SF_DIR, "documents")
    for df in (curation.stratified_sample(docs), curation.pii_scrub(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_top_bigrams_uses_takeordered(spark):
    plan = _plan(spark, "corpus_top_bigrams")
    # global top-k without a global sort: each partition forwards only k
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_map_state_rollup_three_exchanges_no_joins(spark):
    # r15 (VERDICT r14 next #1): the map-State build is a two-level
    # GROUP BY — partial+final HashAggregate at the (event_type, day,
    # map key) grain, entry collect at the (event_type, day) state grain
    # (bounded by key cardinality), one more pair at the event_type merge
    # grain. Three exchanges, but the first (the only one that sees raw
    # rows) carries PARTIAL PER-KEY SUMS instead of collected row lists —
    # no collect_list touches an unbounded row set anymore. Map fold
    # stays JVM-side (no Python eval), flatten row-local (no join back).
    plan = _plan(spark, "ch_agg_states_map_rollup")
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan
    # the raw-row aggregation is a partial+final pair of plain
    # HashAggregates with a sum — the collect_list aggregates run only
    # ABOVE it (per-key entries, then state maps)
    assert "partial_sum" in plan, plan
    first_agg = plan.split("Exchange hashpartitioning")[-1]
    assert "collect_list" not in first_agg, plan


def test_corpus_curate_two_shuffles_no_joins(spark):
    df = curation.curate_corpus(schemas.load_table(spark, SF_DIR, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # quality gate fuses into the scan; keep-first dedup is a window on
    # content_hash; stats groupBy — nothing joins back to the fact table
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Join" not in plan, plan


def test_scans_are_pruned(spark):
    # column pruning must reach the parquet scan of the fact table; ts reads
    # as bigint (round<=2 nanos testdata) or timestamp (round 3+ micros).
    plan = _plan(spark, "daily_event_counts_by_table")
    # the binlog view derives schema/table from user_id, so the pruned
    # scan is exactly (ts, user_id, event_type)
    assert (
        "ReadSchema: struct<ts:bigint,user_id:bigint,"
        "event_type:string>" in plan
        or "ReadSchema: struct<ts:timestamp,user_id:bigint,"
        "event_type:string>" in plan
    ), plan


def test_train_test_split_single_shuffle(spark):
    plan = _plan(spark, "corpus_train_test_split")
    # assignment is row-local (pure hash of doc_id): one scan, one
    # partial+final aggregate around the single 3-key shuffle
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_benchmark_contamination_broadcasts_bench_side(spark):
    plan = _plan(spark, "benchmark_contamination")
    # the benchmark posting (tiny) is broadcast — the corpus-sized train
    # posting reaches the join without a hash exchange of its own
    assert "BroadcastHashJoin" in plan, plan


def test_scaled_near_dup_arrow_single_shuffle(spark):
    plan = _plan(spark, "dedup_embedding_cosine")
    # round 12: the whole scaled near-dup is scan -> Arrow router
    # (MapInPandas) -> ONE centroid shuffle -> per-bucket pair matmul
    # (FlatMapGroupsInPandas). A second scan or exchange means the
    # one-pass assignment regressed to the join/aggregate form; any
    # nested-loop join would be an all-pairs fan-out.
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_search_cached_assignment_broadcast_probes(spark):
    plan = _plan(spark, "similarity_ivf_topk_nprobe")
    # the persisted scaled assignment serves both the corpus branch and
    # the probe ranking (InMemoryRelation), the nprobe probe table
    # broadcasts, and the rank-k runs as TakeOrderedAndProject — no
    # global sort, no corpus-side shuffle for the join
    assert "InMemoryRelation" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_lsh_topk_broadcast_candidates(spark):
    plan = _plan(spark, "similarity_lsh_topk")
    # the Arrow bits table carries NO embedding column; the candidate id
    # set broadcasts back onto the corpus scan (BroadcastHashJoin) and
    # the rank-k is TakeOrderedAndProject. The only hash exchange is the
    # tiny candidate-dedup aggregate.
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_batch_topk_broadcast_and_group_limit(spark):
    plan = _plan(spark, "similarity_batch_topk")
    # query set broadcasts (corpus side never shuffles for the join) and
    # per-query top-k runs as WindowGroupLimit — the shuffle carries at
    # most k rows per query per map task
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_source_cap_group_limit_single_shuffle(spark):
    plan = _plan(spark, "corpus_source_cap")
    # the rank<=N filter runs as WindowGroupLimit: each map task forwards
    # at most per_source rows per source into the one source-keyed
    # exchange — a mega-source can't pile its full row count onto a single
    # reducer, and the shuffle carries O(sources x cap x partitions) rows
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_multimodal_metadata_prunes_scan(spark):
    plan = _plan(spark, "multimodal_metadata")
    # metadata pass must not drag any column beyond (doc_id, text) off the
    # scan (with a real media table: payload stays unread for metadata-only
    # queries because parquet's vectorized reader skips unprojected columns)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "Exchange" not in plan, plan  # pure per-row pass


def test_gapfill_spine_joins_broadcast(spark):
    plan = _plan(spark, "daily_counts_gapfilled")
    # the date spine and the daily rollup are both tiny: the gap-fill join
    # must broadcast, never shuffle the rollup
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_correlated_subqueries_decorrelate(spark):
    plan = _plan(spark, "nation_top_customer")
    # Catalyst rewrites each correlated scalar subquery into an aggregate
    # joined to the outer side: customer is scanned once per subquery as a
    # grouped aggregate — never rescanned per outer row
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert plan.count("Scan parquet") == 3, plan  # nation + 2x customer aggs


def test_doc_chunks_zero_shuffle(spark):
    plan = _plan(spark, "doc_chunks")
    # row-local fan-out: sequence+explode+substring, no exchange of any kind
    assert "Exchange" not in plan, plan
    assert "Generate explode" in plan, plan


def test_window_funnel_single_data_shuffle(spark):
    plan = _plan(spark, "window_funnel")
    # one user_id hash shuffle for the per-user fold; the global reduce
    # moves one row per partition (SinglePartition exchange is fine)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_large_order_customers_single_fact_shuffle(spark):
    plan = _plan(spark, "large_order_customers")
    # the HAVING subquery is ONE partial+final aggregate over lineitem —
    # the only hash exchange in the plan; the result caps via TakeOrdered
    # (no global sort) and the customer dim broadcasts
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan, plan


def test_sequence_pack_two_level_no_whole_source_rail(spark):
    """VERDICT r03 #4: at scale the running token sum must NOT sort each
    whole source on a single task. Forced span pins the two-level shape
    (auto-sizing picks it above DEFAULT_SMALL_INPUT_ROWS): the document
    stream shuffles on (source, bucket) — same-source rows spread across
    partitions — and the tiny per-bucket offset table broadcasts back."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import packing

    df = packing.sequence_pack_report(
        schemas.load_table(spark, SF_DIR, "documents"),
        budget_tokens=512,
        bucket_span=64,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # data-side exchange keyed by BOTH source and bucket
    assert re.search(
        r"Exchange hashpartitioning\(source#\d+, bucket#\d+", plan
    ), plan
    # bucket offsets come back via broadcast, not a shuffled join
    assert "BroadcastHashJoin" in plan, plan
    # two windows: within-(source,bucket) running sum + per-source prefix
    # sum over the aggregated bucket table
    assert plan.count("Window") >= 2, plan


def test_sequence_pack_auto_small_input_takes_flat_plan(spark):
    """VERDICT r04 #3: the registry query (auto span) on a driver-scale
    input must skip the two-level machinery — no join, no bucket column,
    a single running-sum window partitioned by source alone."""
    plan = _plan(spark, "sequence_pack")
    assert "Join" not in plan, plan
    assert "bucket" not in plan, plan
    # one window (the per-source running sum) + the fill rollup aggregate
    assert plan.count("Window") == 1, plan


def test_merge_tree_finals_single_shuffle_no_joins(spark):
    """Replacing/Collapsing FINAL reads: one partial+final aggregate on
    the sort key — one hash exchange, no window, no join (the 100 TB
    shape; see PLANS.md round-5 section)."""
    for name in ("replacing_merge_final", "collapsing_merge_state"):
        plan = _plan(spark, name)
        assert plan.count("Exchange hashpartitioning") == 1, (name, plan)
        assert "Join" not in plan and "Window" not in plan, (name, plan)


def test_aggregating_merge_two_level_partial_final(spark):
    """-State/-Merge: per-block state build + state merge = exactly two
    hash exchanges, each wrapped partial+final; no joins."""
    plan = _plan(spark, "aggregating_rollup_merge")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("HashAggregate") == 4, plan
    assert "Join" not in plan, plan


def test_gopher_flags_row_local(spark):
    """The rule filter must stay zero-shuffle (scan -> project)."""
    plan = _plan(spark, "quality_gopher_flags")
    assert "Exchange" not in plan, plan


def test_crossdoc_span_aggregate_shape_no_sort(spark):
    """Round 11 (VERDICT r10 next #4): the window-over-sh formulation
    sorted the full posting and went superlinear at the second decade;
    the reformulation is three partial+final hash aggregates off the
    SHARED distinct posting subtree (cache-/staging-reusable by the
    whole dedup family) joined at the doc grain — no Sort node anywhere,
    no Window, and the only join is the O(docs) broadcast."""
    plan = _plan(spark, "dedup_span_crossdoc")
    assert "Window" not in plan, plan
    assert "Sort " not in plan and "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # partial+final pairs: doc totals, sh-grain df, unique-per-doc — at
    # least those six when the posting subtree is inlined; the exact
    # count varies with the shared-session posting cache (an
    # InMemoryTableScan replaces the build + distinct pairs when a
    # prior dedup test persisted it) and with whether Catalyst collapses
    # the distinct into the sh-grain aggregate, so only the sort-free
    # aggregate SHAPE is pinned, not the node count
    assert plan.count("HashAggregate") >= 4, plan


def test_ch_prewhere_pushes_scan_filter(spark):
    """The translated PREWHERE predicate must reach the parquet scan as
    a pushed filter (binlog_pos is event_id under the view mapping) —
    on Spark, pushdown IS the PREWHERE."""
    plan = _plan(spark, "ch_prewhere_profile")
    assert "PushedFilters: [IsNotNull(event_id), GreaterThan(event_id,1000)" in plan or \
           "GreaterThan(event_id,1000)" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_corpus_curate_gopher_keeps_two_shuffle_shape(spark):
    """The --gopher pre-gate is row-local: it must fuse into the scan and
    add ZERO exchanges to curate_corpus's pinned 2-shuffle plan (window on
    content_hash + stats groupBy), and still no joins."""
    plan = _plan(spark, "corpus_curate_gopher")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Join" not in plan, plan


def test_ch_if_combinators_single_aggregate(spark):
    """Translated -If/JSONExtract query: one partial+final aggregate on
    event_type; the JSON extraction stays row-local (no extra exchange,
    no Expand — the count(DISTINCT if(...)) plans as a two-phase
    aggregate, not a multi-distinct Expand)."""
    plan = _plan(spark, "ch_if_combinators_json")
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Join" not in plan, plan


def test_ngram_jaccard_staged_never_scans_documents(spark):
    """The staged ngram-jaccard read path must consume ONLY the posting
    parquet — the documents table never appears in the pair query's scan
    set (the 100 TB contract of the staged front door)."""
    df = R.QUERIES["dedup_ngram_jaccard_staged"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, plan
    assert "spark_graft_posting_" in plan, plan


def test_line_dedup_staged_never_scans_documents(spark):
    """The staged line-dedup read path must consume ONLY the posting
    parquet: BOTH plan branches (df-count aggregate and join-back) read
    the pre-hashed posting, and the documents table never appears in the
    scan set — the raw corpus is split exactly once, at staging time
    (VERDICT r08 what's-wrong #1)."""
    df = R.QUERIES["line_dedup_staged"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, plan
    assert "spark_graft_line_posting_" in plan, plan


def test_dedup_family_reuses_cached_pair_plan(spark):
    """The family caches (PLANS.md 'Shared family caches'): after one
    consumer materializes the MinHash pair set, the OTHER consumers'
    physical plans read the InMemoryRelation instead of rebuilding the
    LSH pipeline (CacheManager canonicalized-plan reuse)."""
    dedup.minhash_lsh_pairs(
        schemas.load_table(spark, SF_DIR, "documents"), threshold=0.5
    ).count()
    plan = _plan(spark, "dedup_apply_minhash")
    assert "InMemoryTableScan" in plan, plan
    # (dedup_connected_components consumes the same cached pairs too, but
    # its final plan is a driver-built label DataFrame — the union-find
    # fast path — so the reuse is not visible in its plan text.)


def test_translated_fold_aggregates_single_shuffle(spark):
    """The r07 behavioral aggregate translations (sequenceMatch/Count,
    topK, sumMap) are inline aggregate folds — one hash shuffle on the
    group key, no joins/windows snuck in by the rewrite."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.functions import ch_compat

    schemas.load_table(spark, SF_DIR, "events").createOrReplaceTempView(
        "events"
    )
    df = spark.sql(ch_compat.translate(
        "SELECT user_id, "
        "sequenceCount('(?1).*(?2)')(ts, event_type = 'view', "
        "event_type = 'click') AS n, "
        "topK(2)(event_type) AS tk "
        "FROM events GROUP BY user_id"
    ))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_mutation_scans_prune_partitions(spark, tmp_path):
    """The mutation primitives' scale claims rest on partition pruning:
    pass 1's predicate (day-bounded) and pass 2's isin(affected) must
    both reach the scan as PartitionFilters, never post-scan filters."""
    from pyspark.sql import functions as F

    from use_clickhouse_2_analyze_mysql_binlog_spark.plans import storage

    path = str(tmp_path / "fact")
    binlog = schemas.binlog_view(schemas.load_table(spark, SF_DIR, "events"))
    storage.write_fact_table(binlog, path, files_per_day=1, mode="overwrite")
    table = spark.read.parquet(path)

    # pass 1 shape: the RAW where with a day bound (a coalesce wrapper
    # here would evaluate post-scan and lose the PartitionFilters —
    # the regression this test exists to catch)
    cond = F.expr(
        "event_type = 'ERROR' AND "
        "day BETWEEN DATE'2024-01-03' AND DATE'2024-01-04'"
    )
    plan = (
        table.filter(cond).select("day").distinct()
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan, plan
    assert "2024-01-03" in plan.split("PartitionFilters")[1][:400], plan

    # pass 2 shape: isin over the affected-day list
    plan2 = (
        table.filter(F.col("day").isin(["2024-01-03", "2024-01-04"]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    seg = plan2.split("PartitionFilters")[1][:400]
    assert "2024-01-03" in seg and "2024-01-04" in seg, plan2


def test_map_state_merge_single_shuffle(spark):
    """agg_state_merge over the round-9 map states (sumMap key→sum map,
    quantileTDigest log-quantized histogram): ONE shuffle with partial +
    final ObjectHashAggregate — the same single-exchange scale shape as
    the Summing merge, even though the merge exprs are collect_list
    folds (collect_list is a TypedImperativeAggregate, so the partial
    side still combines map-side)."""
    from pyspark.sql import functions as F

    partials = spark.range(0, 1000).select(
        (F.col("id") % 5).alias("k"),
        F.create_map(
            (F.col("id") % 3).cast("int"), F.col("id")
        ).alias("m"),
        F.create_map(
            F.col("id").cast("double"), F.lit(1).cast("bigint")
        ).alias("q"),
    )
    merged = rollups.agg_state_merge(
        partials, ["k"], {"m": "summap", "q": "quantiletdigest@0.9"}
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("ObjectHashAggregate") == 2, plan
    assert "partial_collect_list" in plan, plan
    # and the fold is right: per k, sum of id per (id % 3) bucket
    want: dict = {}
    for i in range(1000):
        want.setdefault(i % 5, {}).setdefault(i % 3, 0)
        want[i % 5][i % 3] += i
    got = {r.k: dict(r.m) for r in merged.collect()}
    assert got == want
