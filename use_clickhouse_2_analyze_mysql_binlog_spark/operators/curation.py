"""Corpus curation for training-data pipelines: deterministic stratified
sampling, PII scrubbing, n-gram heavy hitters, and an end-to-end curation
pipeline (quality gate + exact dedup + per-language stats).

Extends the reference's surface (it has none of this — like operators/text.py
these are the operators a 100 TB text-corpus pipeline needs). Scale shapes:

- Sampling is a pure hash-threshold FILTER — zero shuffle, exactly
  reproducible across runs/engines (no RNG state), and the sampling
  decision for a document never changes when the corpus around it does.
- PII scrubbing is per-row regexp work inside whole-stage codegen.
- Heavy hitters is explode -> partial+final count -> global top-k
  (TakeOrderedAndProject: only k rows per partition reach the driver-side
  merge, never the full n-gram distribution).
- The curation pipeline composes the text operators with one hash-groupBy
  (exact dedup) and one stats groupBy — two shuffles end to end.

Each operator has a ``*_SQL`` DuckDB twin; regexes stick to the syntax
subset Java regex and RE2 share (character classes, bounded repeats, ``\\b``;
no lookaround).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from use_clickhouse_2_analyze_mysql_binlog_spark.functions import (
    HASH60_SQL,
    hash60,
)
from use_clickhouse_2_analyze_mysql_binlog_spark.operators.text import (
    GOPHER_FLAGS_SQL,
    QUALITY_SCORE_SQL,
    STOPWORDS,
    TOKENS_SQL,
    _gopher_rules,
    _in_list_sql,
    tokens,
    with_quality,
)

# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

#: per-language keep rates (parts per million) — e.g. downsample dominant
#: languages, keep all of the rare ones
DEFAULT_RATES_PPM: dict[str, int] = {"en": 500_000, "zh": 500_000}
DEFAULT_RATE_PPM = 1_000_000  # languages not listed: keep everything


def stratified_sample(
    documents: DataFrame,
    rates_ppm: dict[str, int] | None = None,
    default_ppm: int = DEFAULT_RATE_PPM,
    salt: str = "s0",
) -> DataFrame:
    """Per-language deterministic sample: keep a document iff
    ``hash(salt, doc_id) mod 1e6 < rate_ppm(lang)``.

    Hash-threshold sampling beats ``df.sample()`` at pipeline scale: the
    decision is a pure function of (salt, doc_id), so re-runs, engines and
    incremental batches agree row-for-row, and changing one stratum's rate
    monotonically grows/shrinks that stratum (nested samples for rate
    ladders). Zero shuffle — it is a filter on the scan.
    """
    rates = DEFAULT_RATES_PPM if rates_ppm is None else rates_ppm
    bucket = F.pmod(
        hash60(F.concat(F.lit(f"sample-{salt}:"), F.col("doc_id").cast("string"))),
        F.lit(1_000_000),
    )
    rate = F.lit(default_ppm)
    for lang, ppm in sorted(rates.items()):
        rate = F.when(F.col("lang") == lang, F.lit(ppm)).otherwise(rate)
    return documents.filter(bucket < rate).select(
        "doc_id", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

#: (pattern, replacement) applied in order; Java-regex/RE2-shared syntax
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    (r"\+[0-9]{7,15}\b", "<PHONE>"),
)


def pii_scrub(documents: DataFrame) -> DataFrame:
    """Redact emails / IPv4s / international phone numbers, with per-kind
    match counts. Pure per-row regexp work (codegen'd, zero shuffle); the
    counts make redaction auditable (sum them for a corpus PII report)."""
    scrubbed = F.col("text")
    counts = []
    for (pat, repl), name in zip(PII_PATTERNS, ("emails", "ips", "phones")):
        counts.append(F.regexp_count("text", F.lit(pat)).alias(f"n_{name}"))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return documents.select("doc_id", *counts, scrubbed.alias("scrubbed_text"))


def _pii_scrub_sql_expr() -> str:
    expr = "text"
    for pat, repl in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return expr


PII_SCRUB_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{PII_PATTERNS[0][0]}')) AS n_emails,
       len(regexp_extract_all(text, '{PII_PATTERNS[1][0]}')) AS n_ips,
       len(regexp_extract_all(text, '{PII_PATTERNS[2][0]}')) AS n_phones,
       {_pii_scrub_sql_expr()} AS scrubbed_text
FROM documents
"""


# ---------------------------------------------------------------------------
# N-gram heavy hitters
# ---------------------------------------------------------------------------

def top_ngrams(documents: DataFrame, k: int = 25) -> DataFrame:
    """Global top-k word bigrams by occurrence (with multiplicity).

    explode -> count (partial+final around one shuffle) -> top-k via
    sort+limit, which Spark executes as TakeOrderedAndProject: each
    partition forwards only its local k, so the driver merge sees
    k x partitions rows however large the bigram vocabulary is.
    Deterministic tie-break: count desc, then bigram asc.
    """
    toks = tokens("text")
    # Round 13: bigram materialization moved OFF the interpreted-HOF
    # path. The old form (transform(sequence(0, n-2), i -> concat_ws))
    # evaluated an interpreted lambda + string concat per bigram — at
    # sf10 that was 26.5M interpreted concats and ~70% of the query's
    # wall (the shuffle is tiny: 93k distinct bigrams). arrays_zip over
    # two slices stays inside codegen, the groupBy keys are the token
    # PAIR (bijective with the joined string — tokens are split on \s+
    # so they contain no separator), and concat_ws is paid once per
    # DISTINCT bigram after the aggregate, not once per occurrence.
    # Ordering/output semantics identical; measured 42.8/41.9 ->
    # 26.2/36.5 s at sf10 in fresh-session A/B passes.
    zipped = F.expr(
        "arrays_zip(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1))"
    )
    return (
        documents.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(F.explode(zipped).alias("bg"))
        .groupBy(F.col("bg.0").alias("t1"), F.col("bg.1").alias("t2"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.concat_ws(" ", "t1", "t2").alias("bigram"), "n")
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(k)
    )


def TOP_NGRAMS_SQL(k: int = 25) -> str:
    return f"""
WITH toks AS (SELECT {TOKENS_SQL('text')} AS toks FROM documents),
grams AS (
  SELECT unnest(CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(1, len(toks) - 1),
             i -> concat_ws(' ', toks[i], toks[i+1]))
         ELSE [] END) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS n
FROM grams GROUP BY bigram
ORDER BY n DESC, bigram LIMIT {k}
"""


# ---------------------------------------------------------------------------
# End-to-end curation pipeline
# ---------------------------------------------------------------------------

#: Session-scoped memo for the flagged corpus (r14, VERDICT r13 next #6):
#: `corpus_curate_gopher` and `corpus_curate_materialize` — the two most
#: expensive sf10 rows — recomputed the same row-local tokenize/score
#: scan. Keyed by app id + plan + file fingerprint (the similarity
#: family's memo-identity pattern); the DataFrame OBJECT is memoized, not
#: the plan, so CacheManager reuse survives closure-identity drift.
_FLAGGED_MEMO: dict[tuple, DataFrame] = {}

# a released flagged cache must not be served stale from the memo
# (cachetrack.release("flagged") clears both)
from .cachetrack import register_release_hook as _register_release_hook

_register_release_hook("flagged", _FLAGGED_MEMO.clear)


def flagged_documents(documents: DataFrame, persist: bool = True) -> DataFrame:
    """``documents`` + quality columns + the Gopher ``gopher_keep`` flag,
    computed in one row-local pass over the corpus and persisted+memoized.

    This is the curation family's shared front door: every downstream
    curation query is a cheap tail (filter + window dedup + aggregate /
    scrub) over this one scan, so a sweep that runs several curation
    queries pays the tokenize/score regexp work once — the same
    amortization the dedup family gets from its persisted shingle
    posting. Values are unchanged vs computing each query from the raw
    corpus: quality scoring and the Gopher rules are row-local, so they
    commute with any downstream filter (the DuckDB oracles need no
    mirror).
    """
    from .memo import df_memo_key

    key = df_memo_key(documents, "flagged") if persist else None
    if key is not None and key in _FLAGGED_MEMO:
        return _FLAGGED_MEMO[key]
    d = with_quality(documents).withColumn("toks", tokens("text"))
    _, f_words, f_avg, f_stop, f_uniq = _gopher_rules()
    out = d.withColumn(
        "gopher_keep", f_words & f_avg & f_stop & f_uniq
    ).drop("toks")
    if persist:
        from .cachetrack import persist_tracked

        # DISK_ONLY + bounded cached batches past the size gate (guide
        # §5): the sf100 flagged corpus is corpus-sized document text;
        # holding 10k-row columnar build buffers on-heap competed with
        # execution memory. Level unchanged below the gate (every
        # driver SF, sf10).
        out = persist_tracked(out, documents, "flagged")
    if key is not None:
        _FLAGGED_MEMO[key] = out
    return out


def curate_corpus(
    documents: DataFrame,
    min_quality: float = 0.55,
    min_tokens: int = 8,
) -> DataFrame:
    """Quality gate + exact dedup (keep-first) + per-language corpus stats.

    The composition a real curation job runs nightly: drop low-quality and
    too-short documents, collapse exact duplicates to their smallest
    doc_id, then report per-language survivor counts / token volume /
    average quality. Two shuffles total, pinned by a plan test: quality
    scoring is row-local and fuses into the scan, keep-first dedup is a
    row_number window on content_hash (one shuffle, no join-back), and the
    stats groupBy is the second.
    """
    from pyspark.sql.window import Window

    gated = with_quality(documents).filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    survivors = (
        gated.withColumn("content_hash", hash60(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
    )


def curate_corpus_gopher(
    documents: DataFrame,
    min_quality: float = 0.55,
    min_tokens: int = 8,
) -> DataFrame:
    """The corpus pipeline's ``--gopher`` path end-to-end (cli.py
    ``pipeline --gopher``): Gopher rule pre-gate, then the standard
    quality gate + exact dedup (keep-first) + per-language stats.

    The pre-gate must run BEFORE the keep-first dedup — it changes the
    survivor set per content_hash group, so gating after the window would
    keep different representatives. Row-local, so it fuses into the scan:
    the plan stays curate_corpus's exact 2-shuffle shape (window on
    content_hash + stats groupBy; pinned in tests/test_plan_properties.py).

    r14: rides the memoized :func:`flagged_documents` scan — the Gopher
    rules and quality scores are row-local, so gating the pre-flagged
    corpus is value-identical to flagging the pre-gated corpus, and a
    sweep that also runs `corpus_curate_materialize` pays the tokenize/
    score pass once.
    """
    flagged = flagged_documents(documents)
    gated = flagged.filter("gopher_keep").filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    survivors = (
        gated.withColumn("content_hash", hash60(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
    )


def CURATE_CORPUS_GOPHER_SQL(
    min_quality: float = 0.55, min_tokens: int = 8
) -> str:
    """DuckDB twin of curate_corpus_gopher. The Gopher keep-set joins in
    as an extra doc_id restriction on the ``gated`` stage — equivalent to
    pre-filtering the input, since every rule is row-local — so the
    keep-first dedup groups over exactly the pre-gated survivor set."""
    return f"""
WITH q AS ({QUALITY_SCORE_SQL}),
gf AS (SELECT doc_id FROM ({GOPHER_FLAGS_SQL}) WHERE keep = 1),
gated AS (
  SELECT d.doc_id, d.lang, d.text, q.quality_score, q.n_tokens
  FROM documents d
  JOIN q ON d.doc_id = q.doc_id
  JOIN gf ON d.doc_id = gf.doc_id
  WHERE q.quality_score >= {min_quality} AND q.n_tokens >= {min_tokens}
),
keep AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, {HASH60_SQL('text')} AS content_hash FROM gated)
  GROUP BY content_hash
),
survivors AS (
  SELECT g.lang, g.quality_score, g.n_tokens
  FROM keep JOIN gated g ON keep.doc_id = g.doc_id
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(quality_score), 4) AS avg_quality
FROM survivors GROUP BY lang
"""


def curated_documents(
    documents: DataFrame,
    min_quality: float = 0.55,
    min_tokens: int = 8,
    scrub: bool = True,
) -> DataFrame:
    """The materialized counterpart of :func:`curate_corpus`: the surviving
    documents themselves (PII-scrubbed by default), ready to write out
    lang-partitioned. Same 2-shuffle shape — the scrub adds row-local
    regexp work only. r14: rides the memoized :func:`flagged_documents`
    scan shared with `corpus_curate_gopher` (the flag columns are simply
    unused here; computing them row-local alongside the quality pass is
    cheaper than a second tokenize of the corpus in any sweep that runs
    both queries)."""
    from pyspark.sql.window import Window

    gated = flagged_documents(documents).filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    survivors = (
        gated.withColumn("content_hash", hash60(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    text_col = F.col("text")
    if scrub:
        for pat, repl in PII_PATTERNS:
            text_col = F.regexp_replace(text_col, pat, repl)
    return survivors.select(
        "doc_id",
        "lang",
        "source",
        text_col.alias("text"),
        "n_tokens",
        "quality_score",
    )


def CURATED_DOCUMENTS_SQL(
    min_quality: float = 0.55, min_tokens: int = 8, scrub: bool = True
) -> str:
    text_expr = _pii_scrub_sql_expr() if scrub else "text"
    return f"""
WITH q AS ({QUALITY_SCORE_SQL}),
gated AS (
  SELECT d.doc_id, d.lang, d.source, d.text, q.quality_score, q.n_tokens
  FROM documents d JOIN q ON d.doc_id = q.doc_id
  WHERE q.quality_score >= {min_quality} AND q.n_tokens >= {min_tokens}
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY {HASH60_SQL('text')} ORDER BY doc_id) AS rn
  FROM gated
)
SELECT doc_id, lang, source, {text_expr} AS text, n_tokens, quality_score
FROM ranked WHERE rn = 1
"""


def source_cap(
    documents: DataFrame, per_source: int = 10
) -> DataFrame:
    """Per-source corpus balancing: keep at most ``per_source`` documents
    from each source, preferring the highest quality score (doc_id breaks
    ties, so the keep-set is deterministic).

    The standard counter to source/domain skew in web-scale training data
    — without a cap, one crawler-friendly domain can dominate the mixture.
    Plan shape: quality is row-local (codegen), then ONE shuffle on
    ``source`` feeds a ``row_number`` window whose ``rank <= N`` filter
    Spark executes as WindowGroupLimit — each map partition forwards at
    most ``per_source`` rows per source into the exchange, so the shuffle
    carries O(sources x cap x partitions) rows, not the corpus. Skew-safe:
    a mega-source's rows collapse map-side before they can pile onto one
    reducer.
    """
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    return (
        with_quality(documents)
        .select("doc_id", "source", "quality_score")
        .withColumn("source_rank", F.row_number().over(w))
        .filter(F.col("source_rank") <= per_source)
    )


def SOURCE_CAP_SQL(per_source: int = 10) -> str:
    return f"""
WITH t AS (SELECT *, {TOKENS_SQL('text')} AS toks FROM documents),
m AS (
  SELECT doc_id, source,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         len(list_filter(toks, t -> t IN ({_in_list_sql(STOPWORDS)}))) AS stop_hits,
         list_sum(list_transform(toks, t -> length(t))) AS sum_len
  FROM t
),
q AS (
  SELECT doc_id, source,
         floor((0.5 * (n_distinct / CAST(n_tokens AS DOUBLE))
             + 0.3 * (1 - stop_hits / CAST(n_tokens AS DOUBLE))
             + 0.2 * least(1.0, (sum_len / CAST(n_tokens AS DOUBLE)) / 8)) * 10000)
           / 10000 AS quality_score
  FROM m
)
SELECT doc_id, source, quality_score, source_rank FROM (
  SELECT doc_id, source, quality_score,
         row_number() OVER (
           PARTITION BY source
           ORDER BY quality_score DESC, doc_id
         ) AS source_rank
  FROM q
) WHERE source_rank <= {per_source}
"""


def split_assignment(
    val_pct: float = 2.5, test_pct: float = 2.5, salt: str = "split0"
) -> F.Column:
    """'train' / 'val' / 'test' as a pure row-local function of
    (salt, doc_id) — usable directly as a partition column."""
    bucket = F.pmod(
        hash60(F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string"))),
        F.lit(10_000),
    )
    train_hi = 10_000 - int((val_pct + test_pct) * 100)
    val_hi = 10_000 - int(test_pct * 100)
    return (
        F.when(bucket < train_hi, "train")
        .when(bucket < val_hi, "val")
        .otherwise("test")
    )


def train_test_split(
    documents: DataFrame,
    val_pct: float = 2.5,
    test_pct: float = 2.5,
    salt: str = "split0",
) -> DataFrame:
    """Deterministic train/val/test assignment + per-split corpus report.

    Assignment is ``hash(salt, doc_id) mod 10000`` against cumulative
    per-mille thresholds — the same hash-threshold idiom as
    :func:`stratified_sample`, with the same scale properties: the split is
    a pure row-local function of (salt, doc_id), so it never shuffles, any
    engine reproduces it bit-for-bit, and a document's split NEVER changes
    as the corpus grows (critical: a doc migrating from test to train
    between pipeline runs is silent eval contamination).

    Returns the per-split report (n_docs, total_tokens, total_chars): one
    map-side-combined aggregation over 3 keys.
    """
    split = split_assignment(val_pct, test_pct, salt)
    return (
        documents.select(
            split.alias("split"),
            F.size(tokens("text")).alias("n_toks"),
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def TRAIN_TEST_SPLIT_SQL(
    val_pct: float = 2.5, test_pct: float = 2.5, salt: str = "split0"
) -> str:
    bucket = HASH60_SQL(f"concat('{salt}:', CAST(doc_id AS VARCHAR))")
    train_hi = 10_000 - int((val_pct + test_pct) * 100)
    val_hi = 10_000 - int(test_pct * 100)
    return f"""
SELECT CASE WHEN {bucket} % 10000 < {train_hi} THEN 'train'
            WHEN {bucket} % 10000 < {val_hi} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(len({TOKENS_SQL('text')})) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Benchmark contamination
# ---------------------------------------------------------------------------

#: Deterministic stand-in for an eval/benchmark set: every 23rd document.
#: In production this is a real benchmark table (thousands of rows — tiny
#: next to the training corpus), which is why the join below broadcasts it.
BENCH_MOD = 23


def benchmark_contamination(
    documents: DataFrame, bench_mod: int = BENCH_MOD
) -> DataFrame:
    """Per-benchmark-document contamination report: how many training
    documents share at least one word-3-gram with it, and how many of its
    distinct shingles leak into the training set.

    The canonical pre-training hygiene check (n-gram overlap between the
    training corpus and held-out benchmarks). Shape at 100 TB:

    - Both sides filter the SAME cached full-corpus shingle posting that
      the whole dedup family shares (at scale: the materialized posting
      staging table) — Spark's cache manager matches the canonicalized
      plan, so whichever dedup/contamination query runs first pays the
      explode+md5 scan once for all of them.
    - The benchmark posting (a few thousand docs in production) is
      broadcast — the corpus-sized train posting never shuffles for the
      join.
    - The two distinct-counts aggregate separately and join on the tiny
      benchmark-id result, instead of one multi-countDistinct aggregate:
      two countDistincts in one groupBy plan as an Expand that doubles the
      joined relation before shuffling it (measured ~7x slower here).
    """
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators.dedup import (
        _shingle_posting,
    )

    posting = _shingle_posting(documents, persist=True)
    is_bench = F.col("doc_id") % bench_mod == 0
    bench = posting.filter(is_bench).withColumnsRenamed(
        {"doc_id": "bench_doc_id"}
    )
    train = posting.filter(~is_bench).withColumnsRenamed(
        {"doc_id": "train_doc_id"}
    )
    # persist the JOINED relation (only matched shingle rows — tiny next to
    # the corpus posting): both count branches consume it, and without the
    # persist each branch would re-run the train-side shingle scan
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators.cachetrack import (
        persist_tracked,
    )

    # matched-shingle rows scale with the corpus: same DISK_ONLY gate
    joined = persist_tracked(
        train.join(F.broadcast(bench), "sh"), train, "contamination_join"
    )
    n_docs = (
        joined.select("bench_doc_id", "train_doc_id")
        .distinct()
        .groupBy("bench_doc_id")
        .agg(F.count(F.lit(1)).alias("n_train_docs"))
    )
    n_shingles = (
        joined.select("bench_doc_id", "sh")
        .distinct()
        .groupBy("bench_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )
    return n_docs.join(n_shingles, "bench_doc_id")


def BENCHMARK_CONTAMINATION_SQL(bench_mod: int = BENCH_MOD) -> str:
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators.dedup import (
        _DOC_SHINGLES_SQL,
    )

    return f"""
WITH shingled AS ({_DOC_SHINGLES_SQL}),
posting AS (
  SELECT DISTINCT doc_id, {HASH60_SQL('sh.s')} AS sh
  FROM shingled, unnest(shingles) AS sh(s)
)
SELECT b.doc_id AS bench_doc_id,
       count(DISTINCT t.doc_id) AS n_train_docs,
       count(DISTINCT b.sh) AS n_shared_shingles
FROM posting b JOIN posting t ON b.sh = t.sh
WHERE b.doc_id % {bench_mod} = 0 AND t.doc_id % {bench_mod} <> 0
GROUP BY 1
"""
