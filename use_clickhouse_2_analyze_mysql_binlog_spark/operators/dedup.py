"""Deduplication for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash.

None of this exists in the reference (its only dedup-shaped logic is the
window idempotence guard, SURVEY.md §2.1 S11); these are the first-class
corpus operators a 100 TB pipeline needs.

Scale design:
- Exact dedup: hash-groupBy — one shuffle on a 60-bit content hash, keys
  are uniform (no skew by construction).
- MinHash+LSH: signatures are computed per-row with array expressions (no
  shuffle, no UDF); only the *band buckets* shuffle. Candidate pairs come
  from equi-joins on (band_id, band_hash) — at 100 TB this is the standard
  shingle->minhash->band->bucket-join pipeline; bucket sizes are the skew
  risk, handled by AQE skew-join plus the frequent-bucket cap.
- SimHash: 60-bit signature per row, candidates via 15-bit chunk buckets
  (pigeonhole: hamming<=3 over 4 chunks guarantees a shared chunk), exact
  hamming verify on candidates.
- n-gram Jaccard: exact pairwise verify via shingle-set intersection;
  the explode-join candidate generation is quadratic in per-shingle
  document frequency, so frequent shingles can be capped (``max_df``).

All hash math uses the engine-portable ``hash60``/``hash31`` (functions/
portable.py) so every operator has a bit-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from use_clickhouse_2_analyze_mysql_binlog_spark.functions import (
    HASH31_SQL,
    HASH60_SQL,
    MINHASH_PRIME,
    hash60,
)
from use_clickhouse_2_analyze_mysql_binlog_spark.plans.parallelism import (
    rebalance_small_scan,
)
from use_clickhouse_2_analyze_mysql_binlog_spark.operators.text import (
    NORM_SQL,
    SHINGLES_SQL,
    TOKENS_SQL,
    shingles_expr,
    tokens,
)

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(documents: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content, keeping the
    smallest doc_id as canonical. ``dup_count`` > 1 marks duplicate sets."""
    return (
        documents.withColumn("content_hash", hash60(F.col("text")))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


EXACT_DEDUP_SQL = f"""
SELECT {HASH60_SQL('text')} AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
"""


def apply_dedup(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Materialize a deduplicated corpus: drop the larger doc_id of every
    near-dup pair (keep-first policy; pairs are oriented doc_a < doc_b).

    One left-anti join against the distinct drop set. Deliberately NOT
    broadcast-hinted: the drop set scales with the corpus duplication rate
    (a web-scale crawl can shed 30%+), so forcing a broadcast is a
    scale hazard — AQE broadcasts it at runtime whenever it is actually
    small, and falls back to a shuffled anti-join when it isn't.
    """
    drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return documents.join(drops, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Shared: per-document shingle hash arrays
# ---------------------------------------------------------------------------

def _shingle_posting(
    documents: DataFrame, persist: bool = False, distinct: bool = True
) -> DataFrame:
    """(doc_id, sh) posting list — distinct by default (``distinct=False``
    skips the defensive pass and relies on shingles_expr's per-document
    array_distinct) — with the shingle hashed exactly once, *after*
    explode.

    Performance-critical: hashing inside array lambdas gets re-evaluated
    per enclosing lambda (Spark's subexpression elimination does not look
    into higher-order-function bodies), which made signature building
    O(num_hashes x shingles x md5). Hash-after-explode computes each md5
    once, period.

    ``persist=True`` caches the posting (memory-and-disk): the dedup
    operators consume it from 2-4 plan branches and Spark has no cross-
    branch common-subexpression reuse, so without the cache each branch
    re-runs the explode+md5 scan — the dominant cost (measured ~3x on
    ngram_jaccard). The cache is never explicitly unpersisted (results are
    lazy); Spark LRU-evicts it, and at 100 TB the same role is played by a
    materialized posting staging table.

    The input is rebalanced when it arrives under-parallel (a small file =
    one row-group = one task, serializing the explode+md5 fan-out on one
    core; measured 2.4x on the sf0.1 posting build) — a no-op at scale.
    """
    documents = rebalance_small_scan(documents)
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    posting = (
        documents.select("doc_id", norm.alias("norm"))
        .withColumn("shingle", F.explode(shingles_expr("norm")))
        .select("doc_id", hash60(F.col("shingle")).alias("sh"))
    )
    if distinct:
        # shingles_expr already array_distincts per document, so this is
        # a defensive no-op pass; distinct=False skips its exchange when
        # the consumer relies on the per-doc-unique guarantee directly
        posting = posting.distinct()
    if persist:
        from .cachetrack import persist_tracked

        # DISK_ONLY + bounded cached batches past the size gate (guide
        # §5): the sf100 posting build OOMed the 8 g default heap;
        # below the gate (every driver SF, sf10) the historical
        # MEMORY_AND_DISK level — and the numbers — are unchanged.
        posting = persist_tracked(posting, documents, "posting")
    return posting


def _derive_posting_partitions(documents: DataFrame) -> int:
    """Scale-adaptive partition count for the staged posting write
    (r14, guide §2/§6: derive partitioning from input size, not a
    constant tuned for one scale).

    The old constant 8 serialized the sort+compress+write of a 26M-row
    posting onto 8 of 32 local cores (measured sf10: 4.9 s at 8 parts
    vs 2.8 s at 16) AND fixed the staged file count that every
    downstream pair query scans (measured sf10: the jaccard pair stage
    reads 14.1 s from a 32-file posting vs 20.6 s from an 8-file one).
    Derivation: one partition per ~4 MiB of the backing documents
    parquet (posting bytes track corpus bytes), floored at 8 — at the
    driver SFs (<= 11 MB corpora) this returns exactly the historical
    8, so staged layouts and plans there are unchanged — and capped at
    4x the cluster's parallelism so a huge corpus on a small cluster
    still writes bounded-size files.
    """
    size = 0
    try:
        for uri in documents.inputFiles():
            p = uri[len("file:"):] if uri.startswith("file:") else uri
            size += __import__("os").stat(p).st_size
    except Exception:  # ADVICE r14: inputFiles() itself can raise
        # (Py4J/AnalysisException on non-file-backed plans, e.g. the
        # curated pipeline); fail soft to the historical floor like the
        # parallelism.py probes rather than crashing the staging write.
        size = 0
    cores = documents.sparkSession.sparkContext.defaultParallelism
    return max(8, min(size // (4 << 20), 4 * cores))


def write_shingle_posting(
    documents: DataFrame, path: str, num_partitions: int | None = None
) -> None:
    """Materialize the shingle posting as parquet — the staged form of the
    dedup family's shared input.

    The in-memory ``persist=True`` cache amortizes the explode+md5 scan
    within one session, but every dedup query still re-derives the posting
    from the documents table (~4 scans of the raw text per query family at
    100 TB, PLANS.md). Staging it once turns every pair query into scans of
    a pre-hashed two-long-column table; the raw corpus is never touched
    again (``tests/test_storage.py::test_staged_posting_no_documents_rescan``
    pins this).

    Layout: repartitioned + sorted by ``sh`` so equal shingle hashes are
    co-located and row-group min/max stats prune selective probes. On a
    warehouse deployment, write ``bucketBy(n, "sh")`` into a table instead
    and the posting self-join drops its shuffle entirely (same pattern as
    ``plans/storage.py`` bucketed joins).
    """
    if num_partitions is None:
        num_partitions = _derive_posting_partitions(documents)
    (
        _shingle_posting(documents)
        .repartition(num_partitions, "sh")
        .sortWithinPartitions("sh")
        .write.mode("overwrite")
        .parquet(path)
    )


def _posting_source(documents: DataFrame, posting_path: str | None) -> DataFrame:
    """The dedup family's posting input: the staged parquet when a path is
    given (no documents scan at all), else the cached in-memory build."""
    if posting_path is not None:
        return documents.sparkSession.read.parquet(posting_path)
    return _shingle_posting(documents, persist=True)


def _doc_hash_sets(
    documents: DataFrame, posting: DataFrame | None = None
) -> DataFrame:
    """Per-doc array of distinct shingle hashes (longs), built from the
    posting list so each shingle is hashed once; long-array intersections
    are then cheap. Pass a (cached) ``posting`` to share the explode+md5
    scan with other pipeline stages."""
    if posting is None:
        posting = _shingle_posting(documents)
    # persisted: the exact-Jaccard verify of every LSH variant (all-pairs,
    # incremental, staged) ends in this same groupBy — one cache entry,
    # posting-sized, reused across the family by plan canonicalization.
    # repartition on the group key first: same scattered-doc_id
    # partial-agg blowup as minhash_signatures (see the comment there) —
    # collect_list partials additionally buffer list objects, measured
    # 23.2 s / 4.7 GB agg spill at sf100 before vs 10.5 s after (the
    # remaining ~5 GB of transient disk is the narrow repartition
    # shuffle itself, not agg spill).
    from .cachetrack import persist_tracked

    # same DISK_ONLY size gate as the posting cache; the hash-set rows
    # are wide arrays, exactly the shape the bounded cached-batch size
    # exists for (cachetrack.SCALED_CACHE_BATCH_ROWS)
    return persist_tracked(
        posting.repartition("doc_id")
        .groupBy("doc_id")
        .agg(F.collect_list("sh").alias("sh_set")),
        posting,
        "hash_sets",
    )


_DOC_SHINGLES_SQL = f"""
  SELECT doc_id, {SHINGLES_SQL('norm')} AS shingles
  FROM (SELECT doc_id, {NORM_SQL} AS norm FROM documents)
"""


def _pair_jaccard(cand: DataFrame, hash_sets: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate (doc_a, doc_b) pairs via per-doc shingle
    *hash* sets (long arrays — md5 already paid once in the posting)."""
    sa = hash_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sh_a")
    )
    sb = hash_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(inter / union, 4))
    )


_PAIR_JACCARD_SQL = """
  SELECT doc_a, doc_b,
         round(
           len(list_filter(a.shingles, s -> list_contains(b.shingles, s)))
           / CAST(len(a.shingles) + len(b.shingles)
                  - len(list_filter(a.shingles, s -> list_contains(b.shingles, s)))
                  AS DOUBLE), 4) AS jaccard
  FROM cand JOIN shingled a ON cand.doc_a = a.doc_id
            JOIN shingled b ON cand.doc_b = b.doc_id
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard dedup (exact candidate generation via shared shingles)
# ---------------------------------------------------------------------------

#: Default document-frequency cap for shingle posting lists. The posting
#: self-join is quadratic in per-shingle df (df=N -> N*(N-1)/2 pairs from
#: that one shingle), so one boilerplate shingle ("all rights reserved...")
#: at web scale otherwise produces billions of pairs. 100 bounds any single
#: shingle's contribution to <=4950 pairs while being far above the df of
#: any discriminative shingle. Near-dup semantics are preserved: pairs that
#: ONLY share boilerplate are exactly the pairs dedup must not report.
DEFAULT_MAX_DF = 100

#: Posting-row threshold above which ngram_jaccard_pairs engages the
#: two-stage prefix-filter plan (r14). The prefix+verify pipeline costs
#: ~5 extra Spark jobs of fixed overhead (survivor persist, broadcast
#: build, verify joins) — at sf0.1 that overhead (~1 s) EXCEEDS the
#: exchange it saves (the r14 sf0.1 bench gate caught it: 1.79 -> 2.80 s
#: on a 260k-row posting), while at sf10+ the saved pair-aggregation
#: exchange dominates (26M rows: 19.4 -> 14.7 s; 260M rows: ~250 ->
#: 130 s). Both plans are exact and value-identical (the size gate is
#: the same pattern as the similarity codebook gate and the union-find
#: driver-path gate); staged postings carry the row count in their
#: parquet footers, so the gate costs zero jobs.
PREFIX_FILTER_MIN_POSTING_ROWS = 10_000_000

_LOG = __import__("logging").getLogger(__name__)


def _staged_posting_rows(spark_path: str) -> int | None:
    """Exact row count of a staged posting from parquet footer metadata
    (zero Spark jobs); None when unreadable."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        if os.path.isdir(spark_path):
            return sum(
                pq.ParquetFile(os.path.join(spark_path, f)).metadata.num_rows
                for f in os.listdir(spark_path)
                if f.endswith(".parquet")
            )
        return pq.ParquetFile(spark_path).metadata.num_rows
    except (OSError, pa.lib.ArrowException):
        return None


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = DEFAULT_MAX_DF,
    log_dropped: bool = False,
    posting_path: str | None = None,
    prefix_matches: int = 4,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact word-3-gram Jaccard similarity.

    Candidates = document pairs sharing >=1 shingle, ignoring shingles with
    document frequency > ``max_df`` (ON by default — the quadratic-blowup
    lever; pass ``max_df=None`` for exhaustive pairing at small scale).
    Jaccard is computed over the df-filtered shingle space on both engines.

    ``log_dropped=True`` counts and logs the capped shingles (one extra
    map-side-combined aggregation job — off by default so the hot path
    stays single-pass; turn on when tuning ``max_df`` for a new corpus).

    Plan (rewritten r14 — the generalized *prefix filter* from the exact
    set-similarity-join literature, AllPairs/PPJoin family, extended to
    require ``m = prefix_matches`` shared prefix tokens):

    1. **Prefix posting.** Order each document's shingles by the global
       key ``(df, sh)`` (rarest first — rare shingles have tiny posting
       lists, so the prefix self-join output collapses) and keep only the
       first ``n_sh - alpha + m`` of them, where
       ``alpha = ceil(tl * n_sh)`` and ``tl = threshold - 0.00005`` (the
       half-up 4-decimal rounding slack). Exactness (pigeonhole): a pair
       with ``round(jaccard, 4) >= threshold`` has intersection
       ``i >= tl/(1+tl) * (n_a+n_b) >= tl * max(n_a, n_b)``, hence
       ``i >= alpha_pair = max(alpha_a, alpha_b)``; its ``k``-th smallest
       common token (any ``k <= min(m, alpha_pair)``) sits at position
       ``<= n - i + k <= n - alpha_pair + m`` in BOTH documents, so both
       extended prefixes contain all ``min(m, alpha_pair)`` smallest
       common tokens.
    2. **Candidate stage.** Self-join the prefix posting on ``sh`` with
       the r13 length filter (``min*(1+tl) >= tl*(n_a+n_b)`` — exact),
       count shared prefix tokens per pair, and keep pairs with
       ``cnt >= least(m, greatest(alpha_a, alpha_b))`` (the ``least``
       guard covers tiny documents whose alpha < m). At threshold 0.5 a
       true pair shares ~``n/2`` tokens while a noise pair shares ~1, so
       this collapses candidates to near-dups only (sf1: 9.65M candidate
       rows -> 3.74M prefix-join rows -> 2,749 survivors vs 2,560 true
       pairs) — the pair-aggregation exchange, the plan's dominant cost
       (sf10 ~96.5M rows, sf100 ~1B rows / ~40 GB transient with the r13
       length filter alone), shrinks ~2.6x in rows and the surviving
       pair set becomes broadcastable.
    3. **Verify stage.** Exact intersection for the tiny survivor set:
       semi-join the df-filtered posting down to surviving documents
       (broadcast semi-join — the big posting never shuffles), collect
       per-doc hash-set arrays, and ``array_intersect`` per pair. Every
       stage-2 drop provably fails the final rounded filter, so the
       DuckDB oracle (single-stage relational count) needs no mirror.

    The df cap and the per-doc shingle count/rank are WINDOW aggregates in
    one linear pipeline (r04 shape), so each posting row carries ``n_sh``
    into the self-join; the two self-join sides share one canonical
    exchange (ReusedExchange).

    **Size gate** (``prefix_filter=None``, the default): the two-stage
    plan engages only when the staged posting's footer row count exceeds
    :data:`PREFIX_FILTER_MIN_POSTING_ROWS` — below it the r13
    single-stage plan (length filter + one pair aggregation) wins on
    fixed overhead; see the constant's comment. Both plans are exact and
    value-identical (pinned by ``test_ngram_jaccard_prefix_plan_matches``),
    so the gate never changes results. Pass ``True``/``False`` to force.

    ``posting_path`` switches the input to a staged posting written by
    :func:`write_shingle_posting` — the documents table is then never
    scanned.
    """
    if prefix_filter is None:
        staged_rows = (
            _staged_posting_rows(posting_path) if posting_path else None
        )
        prefix_filter = (staged_rows or 0) > PREFIX_FILTER_MIN_POSTING_ROWS
    posting = _posting_source(documents, posting_path)
    if max_df is not None:
        if log_dropped:
            dropped = (
                posting.groupBy("sh")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") > max_df)
                .count()
            )
            _LOG.info(
                "ngram_jaccard_pairs: dropping %d shingles with df > %d",
                dropped,
                max_df,
            )
        posting = posting.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
        ).filter(F.col("df") <= max_df)
        # global token order for the prefix: rarest-first — tie-broken by
        # the hash for a total order. The df values are computed on the
        # pre-cap posting; any deterministic total order is exact.
        order_cols = [F.col("df"), F.col("sh")]
    else:
        order_cols = [F.col("sh")]
    tl = threshold - 0.00005
    m = int(prefix_matches)
    doc_w = Window.partitionBy("doc_id")
    # alpha = ceil(tl * n_sh); the -1e-9 slack guards the FP-on-integer
    # boundary (e.g. n = 20000, t = 0.5 -> tl*n = 9999 exactly in reals):
    # it can only LOWER alpha, i.e. lengthen the prefix — conservative,
    # never drops a true pair.
    alpha_of = lambda n: F.ceil(n * tl - 1e-9)  # noqa: E731
    length_ok = F.least("n_a", "n_b") * (1.0 + tl) >= (
        F.col("n_a") + F.col("n_b")
    ) * tl
    if not prefix_filter:
        # single-stage plan (r13 shape): length-filtered posting
        # self-join straight into the pair aggregation — fewest jobs,
        # wins below the size gate.
        sized1 = posting.withColumn(
            "n_sh", F.count(F.lit(1)).over(doc_w)
        ).select("sh", "doc_id", "n_sh")
        a1 = sized1.select(
            "sh", F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
        )
        b1 = sized1.select(
            "sh", F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
        )
        return (
            a1.join(b1, "sh")
            .filter((F.col("doc_a") < F.col("doc_b")) & length_ok)
            .groupBy("doc_a", "doc_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    F.col("n_inter")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                    4,
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    sized = (
        posting.withColumn("n_sh", F.count(F.lit(1)).over(doc_w))
        .withColumn("rank", F.row_number().over(doc_w.orderBy(*order_cols)))
        .filter(F.col("rank") <= F.col("n_sh") - alpha_of(F.col("n_sh")) + m)
        .select("sh", "doc_id", "n_sh")
    )
    a = sized.select(
        "sh", F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    b = sized.select(
        "sh", F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    survivors = (
        a.join(b, "sh")
        .filter((F.col("doc_a") < F.col("doc_b")) & length_ok)
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_pref"))
        .filter(
            F.col("n_pref")
            >= F.least(
                F.lit(m),
                F.greatest(alpha_of(F.col("n_a")), alpha_of(F.col("n_b"))),
            )
        )
        # tiny (near-dups + a sliver of noise); persisted because three
        # plan branches consume it (the doc semi-filter broadcast and the
        # two verify joins) — without the persist the candidate stage
        # would re-execute per branch.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    from .cachetrack import track

    survivors = track(survivors, "jaccard_cand")
    surv_docs = (
        survivors.select(F.col("doc_a").alias("doc_id"))
        .union(survivors.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # exact verify over the df-FILTERED shingle space (same space the
    # jaccard is defined on): the posting is pruned map-side by the
    # broadcast survivor-doc set before the collect_list, so the verify
    # aggregation touches ~|survivors| documents, not the corpus.
    sets = (
        posting.select("doc_id", "sh")
        .join(F.broadcast(surv_docs), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("sh").alias("sh_set"))
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sh_b"))
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        survivors.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                n_inter / (F.col("n_a") + F.col("n_b") - n_inter), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def NGRAM_JACCARD_SQL(
    threshold: float = 0.5, max_df: int | None = DEFAULT_MAX_DF
) -> str:
    """DuckDB twin of ngram_jaccard_pairs: same df-filtered posting list,
    same relational intersection/size computation, bit-identical rounding."""
    df_filter = (
        f"""
posting AS (
  SELECT p.doc_id, p.sh FROM posting0 p
  JOIN (SELECT sh FROM posting0 GROUP BY sh
        HAVING count(*) <= {max_df}) rare USING (sh)
),"""
        if max_df is not None
        else "posting AS (SELECT * FROM posting0),"
    )
    return f"""
WITH shingled AS ({_DOC_SHINGLES_SQL}),
posting0 AS (
  SELECT DISTINCT doc_id, {HASH60_SQL('sh.s')} AS sh
  FROM shingled, unnest(shingles) AS sh(s)
),
{df_filter}
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM posting a JOIN posting b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM posting GROUP BY 1)
SELECT doc_a, doc_b,
       round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id
           JOIN sizes sb ON inter.doc_b = sb.doc_id
WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) >= {threshold}
"""


# ---------------------------------------------------------------------------
# Cross-document span duplication (RefinedWeb/CCNet-style substring signal)
# ---------------------------------------------------------------------------

def crossdoc_span_stats(documents: DataFrame) -> DataFrame:
    """Per-document fraction of word-3-gram spans that also occur in at
    least one OTHER document — the substring-level cross-duplication
    signal used to rank boilerplate-heavy pages for removal (complements
    pairwise dedup: no pair enumeration, output is O(docs)).

    Round 11 (VERDICT r10 next #4): the r08-r10 formulation computed the
    document frequency as a WINDOW count over ``partitionBy(sh)`` —
    that shuffles AND SORTS every posting row by shingle, and the sort
    is what went superlinear at the second decade (clean-run measured
    ~21x wall for 10x data at sf1→sf10: the per-partition sort spills
    once the posting outgrows executor memory). The aggregate
    reformulation never sorts and never shuffles full posting rows, and
    a production 100 TB run still fronts it with the staged posting
    table (:func:`write_shingle_posting`) exactly like the pairwise
    operators:

    - ``uniq`` aggregates the posting by ``sh`` with a partial+final
      HashAggregate (map-side combine collapses hot boilerplate spans
      BEFORE the exchange), keeping ``count`` and ``min(doc_id)``;
      (doc_id, sh) posting rows are unique by construction
      (``shingles_expr`` array_distincts per document), so a df==1
      shingle belongs entirely to ``min_doc`` — per-doc unique-shingle
      counts come from a second cheap aggregate on the df==1 rows only.
    - per-doc totals are a row-local aggregate off the same scan
      (partial combine again; no sort).
    - ``n_shared = n_shingles - n_unique`` via a doc-grain left join —
      O(docs) rows on both sides, the join key is the aggregate's own
      partitioning.

    Both branches read the SHARED distinct posting plan (the same
    canonicalized subtree the whole dedup family consumes), so when the
    bench/pipeline has the posting cached — or production fronts it
    with the staged posting table — the explode+md5 build is paid once
    for the family, not re-run per branch. Three partial-combined hash
    aggregates, zero sorts, zero full-posting-row shuffles beyond the
    posting's own.
    """
    posting = _shingle_posting(documents)
    totals = posting.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    uniq = (
        posting.groupBy("sh")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
        .filter(F.col("n_docs") == 1)  # (doc_id, sh) rows are unique,
        # so df==1 shingles belong entirely to min_doc
        .groupBy(F.col("min_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return (
        totals.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            (
                F.col("n_shingles") - F.coalesce(F.col("n_unique"), F.lit(0))
            ).alias("n_shared"),
        )
        # floor, not round: Spark rounds HALF_UP, DuckDB half-even — a
        # dyadic ratio like 1/32 = .03125 lands exactly on the 4-dp
        # midpoint and the engines disagree; floor of the same double is
        # identical in both (the quality_score precedent, operators/text.py)
        .withColumn(
            "shared_ratio",
            F.floor(F.col("n_shared") / F.col("n_shingles") * 10000) / 10000,
        )
    )


def CROSSDOC_SPAN_SQL() -> str:
    """DuckDB twin of crossdoc_span_stats (same posting, same rollup)."""
    return f"""
WITH shingled AS ({_DOC_SHINGLES_SQL}),
posting AS (
  SELECT DISTINCT doc_id, {HASH60_SQL('sh.s')} AS sh
  FROM shingled, unnest(shingles) AS sh(s)
),
counts AS (SELECT sh, count(*) AS n_docs FROM posting GROUP BY 1)
SELECT doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       floor(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) * 10000) / 10000 AS shared_ratio
FROM posting JOIN counts USING (sh)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

NUM_HASHES = 32
NUM_BANDS = 8  # 8 bands x 4 rows


def minhash_signatures(
    documents: DataFrame, posting: DataFrame | None = None
) -> DataFrame:
    """Per-document minhash signature (array of 32 longs).

    Permutation family h_i(x) = ((2i+1)*x + 7919*i + 1) mod (2^31-1);
    inputs are 31-bit so products stay far below 2^63.

    Relational formulation: explode once, hash once, then 32 parallel
    ``min`` aggregates (all map-side-combined in one pass). The naive
    array form — transform(sequence(0,31), i -> array_min(transform(...)))
    — re-evaluates the md5 chain per slot because subexpression
    elimination does not reach inside HOF lambdas; measured 30x slower.
    """
    if posting is None:
        posting = _shingle_posting(documents)
    posting = posting.withColumn("x", F.col("sh") % MINHASH_PRIME)
    mins = [
        F.min((F.lit(2 * i + 1) * F.col("x") + F.lit(7919 * i + 1)) % MINHASH_PRIME)
        .alias(f"m{i}")
        for i in range(NUM_HASHES)
    ]
    # Repartition on the GROUP key before the 32-column aggregate
    # (round-13 sf100 finding): the posting is hash-partitioned on
    # (doc_id, sh), so doc_ids are scattered across every partition and
    # each task's PARTIAL-agg hash map grows toward (all docs) x 33
    # longs — at 5M docs that is ~1.4 GB/task x 32 concurrent tasks,
    # which overflows the fixed-width agg map into sort-based fallback
    # and spilled ~45 GB / 120 s for a 1.4 GB result. (count()-only
    # plans prune the min columns, which is why the defect hid from
    # quick probes.) Pre-partitioning by doc_id makes each task's
    # groups disjoint (~40 MB maps), satisfies the aggregate's required
    # distribution (single full agg, no partial/final split), and costs
    # one narrow 3-long-column shuffle. After the fix: 10.3 s / 2.6 GB
    # at sf100, and the downstream apply-connected-components query
    # drops 325.8 -> 46.2 s with 60 -> 1.9 GB transient disk.
    return (
        posting.repartition("doc_id")
        .groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id", F.array(*[f"m{i}" for i in range(NUM_HASHES)]).alias("sig")
        )
    )


#: Band-bucket size cap: a bucket of N docs emits N*(N-1)/2 candidates, so
#: one hot bucket (e.g. a 100k-copy boilerplate page — identical signatures
#: land in identical buckets in EVERY band) otherwise dominates the join.
#: 1000 bounds any bucket to <=500k pairs; such mega-clusters belong to
#: exact dedup (hash-groupBy), not LSH.
DEFAULT_MAX_BUCKET = 1000


def _band_buckets(sigs: DataFrame, max_bucket: int | None) -> DataFrame:
    """(doc_id, band_id, band_hash) LSH bucket rows from minhash signatures,
    with buckets larger than ``max_bucket`` dropped entirely (they are
    exact-dup mega-clusters that belong to the hash-groupBy pass)."""
    rows_per_band = NUM_HASHES // NUM_BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            hash60(
                F.array_join(
                    F.transform(
                        F.slice("sig", b * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                    "_",
                )
            ).alias("band_hash"),
        )
        for b in range(NUM_BANDS)
    ]
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "band.band_id", "band.band_hash")
    if max_bucket is not None:
        # r15 (VERDICT r14 next — the §8.2 exchange-count work, guide
        # §2.4): the cap used to be a groupBy+join back onto the bands
        # (4 exchanges, one join); a COUNT window over the same key is
        # the identical filter in one exchange and no join. Measured at
        # the replicated sf10 (noop sink, min-of-3): 4.75 -> 2.90 s for
        # the capped-bands stage, plan 4 -> 2 Exchange / join removed;
        # output verified row-identical (symmetric diff 0). Reaches all
        # five band consumers (minhash staged/apply/incremental/CC/
        # CC-apply).
        w = Window.partitionBy("band_id", "band_hash")
        bands = (
            bands.withColumn("__bn", F.count(F.lit(1)).over(w))
            .filter(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )
    # persisted: the capped band-bucket table is the shared candidate
    # source of the all-pairs AND incremental LSH variants (incremental
    # filters it into new/old sides) — one small (docs x bands) cache
    # entry, reused by plan canonicalization
    from .cachetrack import persist_tracked

    # docs x bands rows — corpus-sized: same DISK_ONLY size gate as the
    # posting cache (r15 sf100 probe at the 8 g default heap: the
    # MEMORY_AND_DISK band cache was a principal heap resident)
    return persist_tracked(bands, sigs, "bands")


def minhash_lsh_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    posting_path: str | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified by exact Jaccard.

    Pipeline: shingle -> minhash signature -> band hashes -> bucket
    equi-join -> distinct candidate pairs -> exact Jaccard >= threshold.
    Only band buckets shuffle; signatures never leave their row. Buckets
    larger than ``max_bucket`` are skipped entirely (ON by default): they
    are exact-dup mega-clusters whose pair explosion belongs to the
    hash-groupBy exact pass, not the near-dup join.

    The shingle posting is computed once and cached: signature build and
    exact-Jaccard verify both consume it, and each would otherwise re-run
    the explode+md5 scan (the pipeline's dominant cost). ``posting_path``
    switches to a staged posting (:func:`write_shingle_posting`); the
    documents table is then never scanned.
    """
    posting = _posting_source(documents, posting_path)
    bands = _band_buckets(minhash_signatures(documents, posting), max_bucket)
    a = bands.select("band_id", "band_hash", F.col("doc_id").alias("doc_a"))
    b = bands.select("band_id", "band_hash", F.col("doc_id").alias("doc_b"))
    cand = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # (r14 note: a candidate-doc semi-join prune of the verify stage —
    # collect_list over only the ~215k/500k docs that appear in a pair —
    # was prototyped behind the staged-posting size gate and REVERTED:
    # the saved aggregation (~2.8 s at sf10) was fully consumed by the
    # extra exchanges it needs (cand persist + distinct + semi + its own
    # repartition), net 0 to -2 s across clean A/B runs, and it forked
    # the plan away from the family-shared `_doc_hash_sets` cache. The
    # jaccard prefix verify keeps the trick because its survivor set is
    # 4 orders of magnitude smaller than the corpus; LSH candidates are
    # not.)
    #
    # Persisted like the shingle posting: the verified pair set is the
    # shared input of the whole downstream family (apply-dedup, connected
    # components, CC-apply all start from the SAME pair plan), and
    # CacheManager dedupes by canonicalized plan — the first consumer
    # materializes, the rest reuse instead of re-running the LSH
    # pipeline. Pair tables are near-dup-sized (<< corpus), so the entry
    # is small; at 100 TB the equivalent is staging pairs to a table.
    from .cachetrack import track

    return track(
        _pair_jaccard(cand, _doc_hash_sets(documents, posting))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .persist(StorageLevel.MEMORY_AND_DISK),
        "lsh_pairs",
    )


def _MINHASH_BANDS_CTES(max_bucket: int | None) -> str:
    """Shared CTE prefix (shingled -> sigs -> capped band buckets) for the
    LSH SQL twins."""
    rows_per_band = NUM_HASHES // NUM_BANDS
    bucket_filter = (
        f"""
bands AS (
  SELECT x.doc_id, x.band_id, x.band_hash FROM bands0 x
  JOIN (SELECT band_id, band_hash FROM bands0 GROUP BY 1, 2
        HAVING count(*) <= {max_bucket}) ok USING (band_id, band_hash)
)"""
        if max_bucket is not None
        else "bands AS (SELECT * FROM bands0)"
    )
    return f"""
WITH shingled AS ({_DOC_SHINGLES_SQL}),
hashed AS (
  SELECT doc_id, shingles,
         list_transform(shingles, s -> {HASH31_SQL('s')}) AS sh31
  FROM shingled
),
sigs AS (
  SELECT doc_id, shingles,
         list_transform(generate_series(0, {NUM_HASHES - 1}), i ->
           list_min(list_transform(sh31, x ->
             ((2*i + 1) * x + 7919*i + 1) % {MINHASH_PRIME}))) AS sig
  FROM hashed
),
bands0 AS (
  SELECT doc_id, b AS band_id,
         {HASH60_SQL(f"array_to_string(list_slice(sig, b*{rows_per_band} + 1, b*{rows_per_band} + {rows_per_band}), '_')")} AS band_hash
  FROM sigs, generate_series(0, {NUM_BANDS - 1}) AS t(b)
),
{bucket_filter}"""


def MINHASH_LSH_SQL(
    threshold: float = 0.5, max_bucket: int | None = DEFAULT_MAX_BUCKET
) -> str:
    return f"""
{_MINHASH_BANDS_CTES(max_bucket)},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
pairs AS ({_PAIR_JACCARD_SQL})
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {threshold}
"""


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

#: Deterministic stand-in for "today's crawl batch": doc_id % 10 == 7.
#: In production the split is the ingest boundary (new files vs the
#: existing corpus), not an id predicate.
NEW_BATCH_MOD, NEW_BATCH_REM = 10, 7


def incremental_dedup_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    new_mod: int = NEW_BATCH_MOD,
    new_rem: int = NEW_BATCH_REM,
    posting_path: str | None = None,
) -> DataFrame:
    """Near-dups of an incoming batch against the existing corpus — the
    ingest-time shape of MinHash-LSH dedup (a nightly crawl is deduped
    against the accumulated corpus, not all-pairs against itself).

    Asymmetric by construction: only (new, old) candidate pairs are
    generated, never old-old. At 100 TB the old corpus' band buckets are a
    materialized staging table partitioned by (band_id, band_hash), so each
    increment shuffles only the new batch's bands plus the matched buckets;
    here both sides derive from one signature pass over ``documents`` with
    the batch membership expressed as a predicate.

    Returns (new_doc_id, old_doc_id, jaccard) — the batch documents to drop
    (or link) before appending to the corpus. ``posting_path`` switches to
    a staged posting (:func:`write_shingle_posting`).
    """
    posting = _posting_source(documents, posting_path)
    bands = _band_buckets(minhash_signatures(documents, posting), max_bucket)
    is_new = F.col("doc_id") % new_mod == new_rem
    new_b = bands.filter(is_new).select(
        "band_id", "band_hash", F.col("doc_id").alias("doc_a")
    )
    old_b = bands.filter(~is_new).select(
        "band_id", "band_hash", F.col("doc_id").alias("doc_b")
    )
    cand = (
        new_b.join(old_b, ["band_id", "band_hash"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    return (
        _pair_jaccard(cand, _doc_hash_sets(documents, posting))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("doc_a").alias("new_doc_id"),
            F.col("doc_b").alias("old_doc_id"),
            "jaccard",
        )
    )


def INCREMENTAL_DEDUP_SQL(
    threshold: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    new_mod: int = NEW_BATCH_MOD,
    new_rem: int = NEW_BATCH_REM,
) -> str:
    return f"""
{_MINHASH_BANDS_CTES(max_bucket)},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
  WHERE a.doc_id % {new_mod} = {new_rem} AND b.doc_id % {new_mod} <> {new_rem}
),
pairs AS ({_PAIR_JACCARD_SQL})
SELECT doc_a AS new_doc_id, doc_b AS old_doc_id, jaccard
FROM pairs WHERE jaccard >= {threshold}
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # hash60 provides 60 usable bits
SIMHASH_CHUNKS = 4  # 15-bit chunks; hamming<=3 => >=1 chunk equal


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """60-bit SimHash over whitespace tokens (with multiplicity): bit j is
    set iff a strict majority of token hashes have bit j set.

    Relational formulation: explode tokens, hash each once, then 60
    parallel +/-1 sums in one aggregation pass (bit j set iff its sum is
    positive). The pure-array form re-hashed every token once per bit
    (subexpression elimination stops at HOF lambda boundaries).
    """
    documents = rebalance_small_scan(documents)
    tok = documents.select(
        "doc_id", F.explode(tokens("text")).alias("t")
    ).select("doc_id", hash60(F.col("t")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {j}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    # persisted: the signature table is consumed by the per-doc listing
    # query AND the pigeonhole pair query (plan-canonical reuse, same
    # pattern as the minhash family); one docs-sized long column
    from .cachetrack import persist_tracked

    # docs-sized signature table: same DISK_ONLY size gate
    return persist_tracked(
        tok.groupBy("doc_id")
        .agg(*bit_sums)
        .select("doc_id", sim.alias("simhash")),
        tok,
        "simhash_sig",
    )


SIMHASH_SIG_SQL = f"""
SELECT doc_id,
       CAST(list_sum(list_transform(generate_series(0, {SIMHASH_BITS - 1}), j ->
         CASE WHEN 2 * len(list_filter(th, h -> ((h >> j) & 1) = 1)) > len(th)
              THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS simhash
FROM (
  SELECT doc_id,
         list_transform({TOKENS_SQL('text')}, t -> {HASH60_SQL('t')}) AS th
  FROM documents
)
"""


def simhash_pairs(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= ``max_hamming``.

    Candidates come from 15-bit chunk buckets (pigeonhole over 4 chunks),
    then exact ``bit_count(xor)`` verify — the banded structure is what
    scales; brute-force pairing would be quadratic in corpus size.
    """
    sigs = simhash_signatures(documents)
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk_id"),
            F.expr(f"shiftright(simhash, {15 * c}) & 32767").alias("chunk_val"),
        )
        for c in range(SIMHASH_CHUNKS)
    ]
    chunks = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("ch")
    ).select("doc_id", "simhash", "ch.chunk_id", "ch.chunk_val")
    a = chunks.select(
        "chunk_id", "chunk_val",
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"),
    )
    b = chunks.select(
        "chunk_id", "chunk_val",
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
    )
    return (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.expr("sim_a ^ sim_b")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def SIMHASH_PAIRS_SQL(max_hamming: int = 3) -> str:
    return f"""
WITH sigs AS ({SIMHASH_SIG_SQL}),
chunks AS (
  SELECT doc_id, simhash, c AS chunk_id,
         (simhash >> (15 * c)) & 32767 AS chunk_val
  FROM sigs, generate_series(0, {SIMHASH_CHUNKS - 1}) AS t(c)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM chunks a JOIN chunks b
  ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# Connected components (duplicate-cluster canonicalization)
# ---------------------------------------------------------------------------

#: Edge-count ceiling for the driver-local union-find fast path. Two longs
#: per edge => ~16 MB of driver heap at the default — a bounded, O(edges)
#: pull, not an unbounded collect. The *edge list* (near-dup pairs) is tiny
#: relative to the corpus that produced it, so even 100 TB corpora usually
#: land here; a genuinely huge pair graph takes the distributed loop below.
DEFAULT_SMALL_GRAPH_EDGES = 1_000_000


def _union_find_labels(edges: DataFrame) -> DataFrame:
    """Driver-local connected components for bounded edge lists: classic
    union-find with path compression, union-by-min so every root (and thus
    every final label) is its component's minimum doc_id — exactly the
    labeling the distributed min-propagation converges to."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edges.collect():
        a, b = row.doc_a, row.doc_b
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    spark = edges.sparkSession
    return spark.createDataFrame(
        [(x, find(x)) for x in parent], "doc_id long, cluster_id long"
    )


def connected_components(
    pairs: DataFrame,
    max_iters: int = 20,
    checkpoint_every: int = 5,
    small_graph_edges: int = DEFAULT_SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Duplicate clusters from near-dup pairs: each doc labeled with the
    minimum doc_id reachable through the pair graph (a~b, b~c => one
    cluster even when a~c was never emitted — keep-first over *chains*,
    which pairwise dropping gets wrong).

    Iterative min-label propagation: per round, every node takes the min
    of its own and its neighbors' labels — one equi-join + groupBy-min per
    round, converging in graph-diameter rounds (near-dup components are
    shallow; ``max_iters`` is a guard, and convergence is detected by a
    changed-count action). This is the DataFrame-native iterative
    algorithm shape at 100 TB: labels persist per round, the edge list
    never mutates, and each round is one shuffle.

    Every ``checkpoint_every`` rounds the label DataFrame is
    ``localCheckpoint``-ed: persist caches *data* but the logical plan
    still grows by one join per round, so at real component depths the
    optimizer re-analyzes an ever-deeper tree (and Spark's plan-size
    limits eventually bite). Checkpointing truncates lineage to the
    materialized result, keeping per-round planning cost constant.

    Graphs of at most ``small_graph_edges`` edges instead take a
    driver-local union-find (path compression + union-by-min, O(E α(E))):
    each distributed round costs ~2 s of fixed scheduling/planning latency
    regardless of size, so a bounded edge pull is strictly faster below
    the ceiling and produces the identical labeling (union-by-min keeps
    every tree root the component minimum). Pass ``small_graph_edges=0``
    to force the distributed loop.
    """
    # materialize the edge list BEFORE the symmetric union: both union
    # branches and every propagation round re-join it, and without the
    # persist each consumer would recompute the (possibly expensive)
    # pair-generation pipeline upstream of it
    edges = pairs.select("doc_a", "doc_b").persist()
    n_edges = edges.count()  # materialize once, before the union branches race
    if n_edges <= small_graph_edges:
        try:
            return _union_find_labels(edges)
        finally:
            edges.unpersist()
    # Adaptive iteration parallelism: the label table is graph-sized (far
    # smaller than the corpus the pairs came from), so shuffling each round
    # at the session-wide partition count buys nothing on small graphs and
    # costs a fixed per-round scheduling overhead (measured ~1.9 s/round at
    # 32 partitions vs ~0.2 s at 1 for a 500-node graph). Size rounds to
    # the edge count; large graphs keep full parallelism.
    shuffle_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    iter_parts = max(1, min(shuffle_parts, n_edges // 50_000))
    nodes = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # symmetric edges + self-loops: min-over-neighbors then INCLUDES the
    # node's own label, so each round is a single join + groupBy-min with
    # `labels` referenced exactly once — plan text grows linearly per
    # round (a labels-join-labels formulation doubles it per round)
    # pre-partitioned on the join key at the iteration's parallelism: every
    # round's join then matches this partitioning and re-shuffles only the
    # (graph-sized) label table, never the cached edge relation
    sym = (
        edges.unionByName(
            edges.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .unionByName(
            nodes.select(
                F.col("doc_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
            )
        )
        .repartition(iter_parts, "doc_b")
        .persist()
    )
    labels = nodes.withColumn("cluster_id", F.col("doc_id")).persist()
    # Convergence detector: min-propagation only ever DECREASES labels, so
    # the label sum strictly decreases iff any label changed — one cheap
    # aggregate over the cached labels instead of a per-round change-join.
    # decimal(38,0) so billions of 63-bit ids cannot overflow the sum.
    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = _label_sum(labels)
    # The iteration's parallelism is scoped to ITS DataFrames via explicit
    # repartition(iter_parts, key) — never by mutating the session-wide
    # spark.sql.shuffle.partitions, which would silently resize the
    # shuffles of any query running concurrently on the same session (a
    # streaming foreachBatch body, a parallel registry query). Both join
    # inputs are hash-partitioned on doc_b at iter_parts, so the join adds
    # no exchange; the doc_a repartition feeds the groupBy the distribution
    # it needs, so the aggregate adds none either — two graph-sized
    # shuffles per round, each at the iteration's own width.
    for it in range(max_iters):
        new_labels = (
            sym.join(
                labels.withColumnsRenamed(
                    {"doc_id": "doc_b", "cluster_id": "nbr_label"}
                ).repartition(iter_parts, "doc_b"),
                "doc_b",
            )
            .repartition(iter_parts, "doc_a")
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("nbr_label").alias("cluster_id"))
            .persist()
        )
        new_sum = _label_sum(new_labels)
        labels.unpersist()
        if (it + 1) % checkpoint_every == 0:
            truncated = new_labels.localCheckpoint(eager=True)
            new_labels.unpersist()
            new_labels = truncated
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    sym.unpersist()
    edges.unpersist()
    return labels


def CONNECTED_COMPONENTS_SQL(pairs_sql: str) -> str:
    """Oracle: transitive closure via recursive CTE (fine at oracle scale;
    the Spark side uses label propagation instead because closure size is
    quadratic in component size)."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, least(a, min(b)) AS cluster_id
FROM reach GROUP BY a
"""


# ---------------------------------------------------------------------------
# Cross-document line dedup (boilerplate removal)
# ---------------------------------------------------------------------------

def line_dedup(
    documents: DataFrame,
    min_df: int = 2,
    keep_empty_docs: bool = True,
    sep: str = "\n",
    min_removable_chars: int = 1,
) -> DataFrame:
    """Remove lines shared by >= ``min_df`` DISTINCT documents — the
    RefinedWeb/CCNet-style boilerplate filter (nav bars, cookie banners,
    license footers repeat across a crawl; prose lines don't).
    ``sep="\\n\\n"`` turns the same operator into PARAGRAPH dedup.

    Lines whose TRIMMED length is below ``min_removable_chars`` (default:
    empty / whitespace-only lines) are exempt from removal and never
    count toward ``n_removed`` (ADVICE r06 #2): a blank line's hash is
    shared by virtually every multi-paragraph document, so without the
    floor the filter silently collapses paragraph structure corpus-wide.
    CCNet-style filters apply the same short-line exemption.

    Returns (doc_id, text, n_lines, n_removed) with ``text`` rebuilt from
    the surviving lines in original order.

    Scale shape: explode lines once -> hash -> document frequency by ONE
    groupBy on the line hash (count of distinct docs; map-side combined
    after an in-doc distinct) -> hash-join the df back onto the line rows
    (both sides partitioned by the hash from the same exchange) -> ONE
    doc_id groupBy reassembles. No windows over unbounded groups, no
    driver state; a mega-boilerplate line costs one counter, not a pair
    explosion — this is the cheap exact complement to the shingle-level
    ``crossdoc_span_stats``.
    """
    return _line_dedup_from_lines(
        _line_posting(documents, sep),
        min_df=min_df,
        keep_empty_docs=keep_empty_docs,
        sep=sep,
        min_removable_chars=min_removable_chars,
    )


def _line_posting(documents: DataFrame, sep: str = "\n") -> DataFrame:
    """(doc_id, pos, line, lh) posting — one explode, line hashed once."""
    return documents.select(
        "doc_id",
        F.posexplode(
            # \Q..\E-quote the separator: split() takes a REGEX, and a
            # literal separator like "||" must not be one
            F.split(F.col("text"), "\\Q" + sep + "\\E")
        ).alias("pos", "line"),
    ).withColumn("lh", hash60(F.col("line")))


def write_line_posting(
    documents: DataFrame,
    path: str,
    sep: str = "\n",
    num_partitions: int | None = None,
) -> None:
    """Materialize the exploded line posting as parquet — the staged form
    of ``line_dedup``'s shared input (VERDICT r08 what's-wrong #1: the
    unstaged operator feeds its derivation+explode subtree into BOTH the
    df-count aggregate and the join-back, and Spark has no cross-branch
    subplan reuse, so the raw corpus is scanned twice). Staging turns
    both branches into scans of a pre-hashed four-column posting; the
    raw text is split exactly once.

    Layout mirrors :func:`write_shingle_posting`: repartitioned + sorted
    by ``lh`` so equal line hashes co-locate and row-group min/max stats
    prune selective probes; on a warehouse deployment ``bucketBy(n,
    "lh")`` drops the df-join shuffle entirely.

    r15: the partition count derives from the corpus size exactly like
    :func:`write_shingle_posting` (r14's scale-adaptive derivation —
    the constant 8 serialized the sf100 line-posting sort+write onto 8
    of 32 cores and fixed the staged file count every downstream read
    scans). The floor reproduces the historical 8 at every driver SF,
    so staged layouts and plans there are bit-identical."""
    if num_partitions is None:
        num_partitions = _derive_posting_partitions(documents)
    (
        _line_posting(documents, sep)
        .repartition(num_partitions, "lh")
        .sortWithinPartitions("lh")
        .write.mode("overwrite")
        .parquet(path)
    )


def line_dedup_staged(
    spark,
    posting_path: str,
    min_df: int = 2,
    keep_empty_docs: bool = True,
    sep: str = "\n",
    min_removable_chars: int = 1,
) -> DataFrame:
    """:func:`line_dedup` over a MATERIALIZED line posting: both plan
    branches (df-count and join-back) read the posting parquet; the
    documents table never appears in the read plan
    (tests/test_plan_properties.py pins this). Staging is
    semantics-preserving, so the oracle is the unstaged twin's."""
    return _line_dedup_from_lines(
        spark.read.parquet(posting_path),
        min_df=min_df,
        keep_empty_docs=keep_empty_docs,
        sep=sep,
        min_removable_chars=min_removable_chars,
    )


def _line_dedup_from_lines(
    lines: DataFrame,
    min_df: int,
    keep_empty_docs: bool,
    sep: str,
    min_removable_chars: int,
) -> DataFrame:
    """Shared tail of the line-dedup family: document frequency by one
    line-hash groupBy, df hash-joined back, one doc_id groupBy
    reassembles (docstring of :func:`line_dedup` for the full shape)."""
    df_tab = (
        lines.select("doc_id", "lh")
        .distinct()  # in-doc repeats count once toward document frequency
        .groupBy("lh")
        .agg(F.count(F.lit(1)).alias("line_df"))
    )
    joined = lines.join(df_tab, "lh").withColumn(
        "rm",
        (F.col("line_df") >= min_df)
        & (F.length(F.trim(F.col("line"))) >= min_removable_chars),
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("rm").cast("long")).alias("n_removed"),
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("rm"),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda s: s.line,
                ),
            ).alias("text"),
        )
        .filter(F.lit(keep_empty_docs) | (F.col("n_removed") < F.col("n_lines")))
        .select("doc_id", "text", "n_lines", "n_removed")
    )


def derive_multiline_corpus(documents: DataFrame, groups: int = 40) -> DataFrame:
    """Deterministic multi-line corpus DERIVED from the single-line
    ``documents`` table so ``line_dedup`` has real paragraph structure to
    chew on (the registry/driver twin of the parity fixture in
    ``tests/test_pipeline_ops.py``): member texts of group
    ``doc_id % groups`` become blank-line-separated paragraphs (sorted by
    ``doc_id``), and the text of document ``rank g % 8`` (the first 8 docs
    by ``doc_id``) is appended to group ``g`` as cross-group repeated
    boilerplate — so every derived doc carries exactly one known-removable
    line (df ≈ groups/8) plus exempt blank separators.

    Scale shape: one groupBy on ``doc_id % groups`` (map-side combined
    concat), the 8-row boiler dim broadcast-joined on ``g % 8``. The
    8-row ``row_number`` window is driver-trivial (runs on a LIMIT-8
    subtree, not the corpus)."""
    b = (
        documents.select("doc_id", "text")
        .orderBy("doc_id")
        .limit(8)
        .withColumn(
            "i", F.row_number().over(Window.orderBy("doc_id")) - F.lit(1)
        )
        .select(F.col("i"), F.col("text").alias("__boiler"))
    )
    grouped = (
        documents.groupBy((F.col("doc_id") % groups).alias("g"))
        .agg(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s.text,
                ),
            ).alias("__body")
        )
    )
    return grouped.join(
        F.broadcast(b), grouped["g"] % 8 == b["i"]
    ).select(
        F.col("g").alias("doc_id"),
        F.concat(F.col("__body"), F.lit("\n\n"), F.col("__boiler")).alias(
            "text"
        ),
    )


def CORPUS_LINE_DEDUP_SQL(
    groups: int = 40, min_df: int = 2, min_removable_chars: int = 1
) -> str:
    """DuckDB twin of ``line_dedup(derive_multiline_corpus(docs))``:
    splices the derivation CTEs in front of :func:`LINE_DEDUP_SQL` with
    its ``documents`` source swapped for the derived corpus."""
    inner = LINE_DEDUP_SQL(min_df, min_removable_chars).replace(
        "FROM documents", "FROM derived_docs"
    )
    derivation = f"""boiler AS (
  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS i, text
  FROM documents ORDER BY doc_id LIMIT 8
),
grouped AS (
  SELECT doc_id % {groups} AS g,
         string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS body
  FROM documents GROUP BY doc_id % {groups}
),
derived_docs AS (
  SELECT g AS doc_id, body || chr(10) || chr(10) || b.text AS text
  FROM grouped JOIN boiler b ON b.i = g % 8
),
"""
    return inner.replace("WITH ", "WITH " + derivation, 1)


def LINE_DEDUP_SQL(min_df: int = 2, min_removable_chars: int = 1) -> str:
    """DuckDB twin of :func:`line_dedup` (keep_empty_docs=True form);
    keyed by the same 60-bit line hash as the Spark join. Mirrors the
    short-line exemption: trimmed length below ``min_removable_chars``
    never removes (ADVICE r06 #2)."""
    return f"""
WITH lines AS (
  SELECT doc_id, u.i - 1 AS pos, u.line, {HASH60_SQL('u.line')} AS lh
  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
        FROM documents) s,
       LATERAL (SELECT unnest(parts) AS line,
                       generate_subscripts(parts, 1) AS i) u
),
df AS (
  SELECT lh, COUNT(DISTINCT doc_id) AS line_df
  FROM lines GROUP BY lh
),
flagged AS (
  SELECT l.doc_id, l.pos, l.line,
         (d.line_df >= {min_df}
          AND length(trim(l.line)) >= {min_removable_chars}) AS rm
  FROM lines l JOIN df d ON l.lh = d.lh
)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN NOT rm THEN line END,
                           chr(10) ORDER BY pos), '') AS text,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM flagged
GROUP BY doc_id
"""
