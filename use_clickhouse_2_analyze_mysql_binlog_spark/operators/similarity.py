"""Similarity search over an embedding column (``array<float>``).

Training-data-pipeline extension (not in the reference): approximate-
nearest-neighbor building blocks —

- brute-force cosine top-k: the exactness baseline. One pass over the
  corpus with a broadcast query vector; Catalyst plans the rank-k as
  TakeOrderedAndProject (no global sort).
- IVF (inverted-file) variant: vectors are bucketed by nearest coarse
  centroid; search only touches the query's probed buckets. This is the
  100 TB path — the scaled centroid derivation keeps BUCKET SIZE
  constant as the corpus grows (probe cost per query is O(1), not
  O(N/K)), and the bucket can be a partition key on disk for true
  partition pruning (:func:`write_ivf_index`).
- embedding near-dup pairs: cosine >= threshold within IVF buckets (the
  embedding-space analogue of MinHash dedup).

Round-12 execution model: the DENSE-LINEAR-ALGEBRA stages — centroid
routing (a dense X @ C^T argmax), LSH sign bits (X @ P^T), the near-dup
pair stage (per-bucket E @ E^T), k-means sufficient statistics — run as
Arrow-batched mapInPandas/applyInPandas BLAS matmuls: higher-order-
function folds evaluate the same arithmetic one interpreted lambda
element at a time (HOFs sit outside whole-stage codegen — measured
~2.9 us per 64-dim cosine at sf10; the full-family sweep cost 3990.6 s
before the r11 pair-stage swap, and the r11 pinned-16 search family
another ~122 s). This is the repo's documented Arrow-exception case:
per-element JVM expressions stay for SPARSE work (candidate scoring
after bucket pruning — single rounded dot folds over pre-normalized
vectors). All engines round cosines with the same explicit half-away
``sign*floor(abs*1e6+0.5)/1e6`` formula before ranking/filtering so
Spark, numpy and the DuckDB oracle (whose accumulation order may differ
in the last bits) agree; ranking ties break by vec_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COS_DECIMALS = 6


def _dot(a: str, b: str) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: str) -> F.Column:
    return F.sqrt(
        F.aggregate(F.col(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )


def with_double_embedding(embeddings: DataFrame) -> DataFrame:
    """Cast array<float> -> array<double> once (both engines then do all
    arithmetic in double; float32 accumulation differs between engines)."""
    return embeddings.withColumn(
        "emb", F.transform("embedding", lambda x: x.cast("double"))
    )


_EMB_SQL = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


def _cosine(a: str, b: str) -> F.Column:
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), COS_DECIMALS)


def COSINE_SQL(a: str, b: str) -> str:
    dot = f"list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"
    na = f"sqrt(list_sum(list_transform({a}, x -> x * x)))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> x * x)))"
    return f"round({dot} / ({na} * {nb}), {COS_DECIMALS})"


def brute_force_topk(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """Exact cosine top-k against the vector with ``query_vec_id``.

    Round 12: the query vector normalizes ONCE (broadcast row), so the
    per-candidate cosine is dot / norm — TWO folds instead of three.
    Two optimizer traps shape the form (both measured): materializing
    normalized corpus arrays lets CollapseProject inline the norm fold
    into the transform lambda and re-fold it per ELEMENT (2x the whole
    query at sf0.1); and a ``norm > 0`` FILTER on a projected norm gets
    pushed down by substitution, re-evaluating the fold a second time
    per row (1.27x at sf10). So zero-norm vectors (no defined cosine;
    under ANSI a plain 0/0 double division ERRORS the query) go through
    ``try_divide`` -> NULL and drop last under the explicit
    ``desc_nulls_last`` sort; the oracle mirrors with CASE + NULLS
    LAST. Catalyst plans the rank-k as TakeOrderedAndProject."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.plans.parallelism import (
        rebalance_small_scan,
    )

    emb = with_double_embedding(rebalance_small_scan(embeddings))
    q = _with_normalized_embedding(embeddings).filter(
        F.col("vec_id") == query_vec_id
    ).select(F.col("emb").alias("q_emb"))
    cos = _round6_away(F.try_divide(_dot("emb", "q_emb"), _norm("emb")))
    return (
        emb.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cos.alias("cos_sim"))
        .orderBy(
            F.col("cos_sim").desc_nulls_last(), F.col("vec_id").asc()
        )
        .limit(k)
    )


def BRUTE_FORCE_TOPK_SQL(query_vec_id: int = 0, k: int = 10) -> str:
    dot = (
        "list_sum(list_transform(generate_series(1, len(emb)), "
        "__di -> emb[__di] * q_emb[__di]))"
    )
    nrm = "sqrt(list_sum(list_transform(emb, __y -> __y * __y)))"
    cos = f"({dot}) / ({nrm})"
    scale = 10 ** COS_DECIMALS
    return f"""
WITH e0 AS (SELECT vec_id, label, {_EMB_SQL} AS emb FROM embeddings),
qe AS (
  SELECT list_transform(emb, __x -> __x /
           sqrt(list_sum(list_transform(emb, __y -> __y * __y)))) AS q_emb
  FROM e0
  WHERE vec_id = {query_vec_id}
    AND sqrt(list_sum(list_transform(emb, __y -> __y * __y))) > 0
)
SELECT vec_id, label,
       CASE WHEN {nrm} > 0
            THEN (sign({cos}) * floor(abs({cos}) * {scale} + 0.5)
                  / {scale})
            ELSE NULL END AS cos_sim
FROM e0, qe
WHERE vec_id <> {query_vec_id}
ORDER BY cos_sim DESC NULLS LAST, vec_id ASC
LIMIT {k}
"""


def assign_ivf_buckets(embeddings: DataFrame, num_centroids: int = 16) -> DataFrame:
    """Assign each vector to its nearest coarse centroid (by cosine).

    Deterministic coarse codebook: the embeddings with
    ``vec_id < num_centroids`` act as centroids (a real pipeline would
    k-means these; the IVF *structure* is identical). Assignment is a
    broadcast join + ``max_by`` argmax aggregation: unlike a
    ``row_number`` window (which shuffles AND sorts all num_centroids × N
    scored rows), the groupBy gets map-side partial aggregation — each
    scan partition reduces its num_centroids candidates per vector to one
    before anything shuffles. Ties break toward the lower centroid_id via
    the (cos, -id) ordering struct; label/emb are constant per vec_id so
    ``first`` is deterministic in value.
    """
    emb = with_double_embedding(embeddings)
    cents = (
        emb.filter(F.col("vec_id") < num_centroids)
        .select(F.col("vec_id").alias("centroid_id"), F.col("emb").alias("c_emb"))
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "emb",
        "centroid_id",
        _cosine("emb", "c_emb").alias("c_cos"),
    )
    from pyspark import StorageLevel

    # persisted: the bucket assignment is the shared front of the whole
    # IVF family (single/multi-probe search, embedding near-dup pairs,
    # the index write) — plan-canonical CacheManager reuse, one
    # embeddings-sized entry (same pattern as the dedup family caches)
    from .cachetrack import track

    return track(
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(F.col("c_cos"), (-F.col("centroid_id")).alias("nc")),
            ).alias("centroid_id"),
            F.first("label").alias("label"),
            F.first("emb").alias("emb"),
        )
        .select("vec_id", "label", "emb", "centroid_id")
        .persist(StorageLevel.MEMORY_AND_DISK),
        "assign",
    )


def _ASSIGN_SQL(num_centroids: int | str) -> str:
    return f"""
e AS (SELECT vec_id, label, {_EMB_SQL} AS emb FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, emb AS c_emb FROM e
          WHERE vec_id < {num_centroids}),
scored AS (
  SELECT e.vec_id, e.label, e.emb, cents.centroid_id,
         {COSINE_SQL('emb', 'c_emb')} AS c_cos
  FROM e, cents
),
assigned AS (
  SELECT vec_id, label, emb, centroid_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY c_cos DESC, centroid_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
"""


def _resolve_num_centroids(
    embeddings: DataFrame, num_centroids: int | None, corpus_count: int | None
) -> int:
    """``None`` -> the constant-bucket scale derivation (K from the RAW
    corpus count — parquet-footer metadata when the caller passes it)."""
    if num_centroids is not None:
        return num_centroids
    n = corpus_count if corpus_count is not None else embeddings.count()
    return scaled_num_centroids(n)


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    num_centroids: int | None = 16,
    nprobe: int = 1,
    corpus_count: int | None = None,
) -> DataFrame:
    """IVF top-k: rank only vectors in the query's ``nprobe`` nearest
    fine buckets (raising nprobe trades scan fraction for recall; every
    corpus vector lives in exactly one bucket, so probed buckets never
    overlap, and nprobe = K degenerates to exact brute force).

    Round 12 re-plumb (VERDICT r11 next #1): the corpus assignment is
    :func:`assign_ivf_buckets_two_level` — Arrow/BLAS routing over
    L2-normalized vectors with ``num_centroids=None`` deriving K from
    the corpus size (constant ~:data:`NEAR_DUP_BUCKET_TARGET`-vector
    buckets, so per-query probe cost stays CONSTANT as the corpus grows
    instead of the pinned-16 N/16). The probe ranking runs over ALL K
    fine centroids (flat, exactness-preserving at nprobe=K; K x dim is
    broadcast fuel), and every candidate cosine is a single rounded dot
    fold over the pre-normalized vectors. The assignment persists — it
    is the shared front of the whole search family (single/batch/probe
    plans reuse it via CacheManager plan-canonical lookup).

    r14 (VERDICT r13 next #4): past the codebook gate
    (``num_centroids > _CODEBOOK_MAX_CELLS // EMB_DIM``, ~150M vectors
    at the constant-bucket derivation) this dispatches to
    :func:`ivf_topk_two_level` — the flat tier's N x K routing dots are
    quadratic there, while the two-level tier costs ~2 x N x sqrt(K)
    and its probe descent is pure DataFrame ops (no driver codebook
    pull; pinned by ``test_search_gate_dispatch``). Below the gate the
    plan is byte-identical to r12/r13 (hash-stable for the registered
    driver-SF queries)."""
    num_centroids = _resolve_num_centroids(
        embeddings, num_centroids, corpus_count
    )
    if num_centroids > _CODEBOOK_MAX_CELLS // EMB_DIM:
        return ivf_topk_two_level(
            embeddings,
            query_vec_id=query_vec_id,
            k=k,
            num_centroids=num_centroids,
            nprobe=nprobe,
            coarse_probe=_GATE_COARSE_PROBE,
        )
    assigned = assign_ivf_buckets_scaled(
        embeddings, num_centroids, persist=True
    )
    fine = assigned.filter(F.col("vec_id") < num_centroids).select(
        F.col("vec_id").alias("f_id"), F.col("emb").alias("f_emb")
    )
    q = assigned.filter(F.col("vec_id") == query_vec_id).select(
        F.col("emb").alias("q_emb")
    )
    q_buckets = (
        fine.crossJoin(F.broadcast(q))
        .select(
            F.col("f_id").alias("centroid_id"),
            "q_emb",
            _dot6("f_emb", "q_emb").alias("c_cos"),
        )
        .orderBy(F.col("c_cos").desc(), F.col("centroid_id").asc())
        .limit(nprobe)
        .select("centroid_id", "q_emb")
    )
    return (
        assigned.join(F.broadcast(q_buckets), "centroid_id")
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", _dot6("emb", "q_emb").alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def IVF_TOPK_SQL(
    query_vec_id: int = 0,
    k: int = 10,
    num_centroids: int | None = 16,
    nprobe: int = 1,
) -> str:
    """Oracle twin of the re-plumbed :func:`ivf_topk`: the shared
    two-level ``assigned`` CTE chain, flat top-nprobe probe ranking over
    the fine centroids, single rounded-dot candidate scoring."""
    return f"""
WITH {_ASSIGN_FLAT_SQL(num_centroids)},
q AS (SELECT emb AS q_emb FROM assigned WHERE vec_id = {query_vec_id}),
qb AS (
  SELECT f_id AS centroid_id, q_emb FROM (
    SELECT f.f_id, q.q_emb,
           row_number() OVER (
             ORDER BY {DOT6_SQL('f_emb', 'q_emb')} DESC, f.f_id ASC
           ) AS rn
    FROM fine f, q
  ) WHERE rn <= {nprobe}
)
SELECT vec_id, label, {DOT6_SQL('emb', 'q_emb')} AS cos_sim
FROM assigned JOIN qb USING (centroid_id)
WHERE vec_id <> {query_vec_id}
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


def ivf_topk_two_level(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    num_centroids: int | None = None,
    nprobe: int = 1,
    coarse_probe: int = 1,
    corpus_count: int | None = None,
) -> DataFrame:
    """IVF top-k over the TWO-LEVEL router — the search family's
    past-the-codebook-gate tier (VERDICT r12 next #4 / missing #2).

    The flat search path (:func:`ivf_topk`) ranks the probe against ALL
    K fine centroids; with the constant-bucket derivation K grows with
    the corpus, so flat routing costs N x K dots — quadratic past the
    ~150M-vector codebook gate. This tier routes corpus AND probe
    through the coarse-then-fine hierarchy: N x sqrt(K) + N x K/sqrt(K)
    routing dots, and the probe ranking scans only the fine centroids
    of the query's ``coarse_probe`` nearest live coarse cells.

    The round-12 recall lesson (routing the corpus two-level while
    ranking probes FLAT dropped recall@4 0.86 -> 0.60) is honored by
    construction: the probe descends the same hierarchy with the same
    rounded-dot + lower-id tie rules as
    :func:`assign_ivf_buckets_two_level`, so with ``nprobe >= 1`` and
    ``coarse_probe == 1`` the first probed bucket IS the query's own
    assigned bucket. Raising either parameter widens the scan
    monotonically toward the exhaustive limit: ``coarse_probe`` >= the
    live-cell count and ``nprobe >= K`` reproduces brute force exactly
    (pinned in tests, like the flat path's ``nprobe = K`` contract).

    Probe ranking runs as DataFrame ops over the tiny centroid tables
    (K x sqrt(K) rows at most), NOT a driver-side codebook pull, so the
    same plan works past the gate where the JVM two-level assignment
    engages. Recall contract vs flat routing is pinned by
    ``test_two_level_search_recall_contract``."""
    num_centroids = _resolve_num_centroids(
        embeddings, num_centroids, corpus_count
    )
    assigned = assign_ivf_buckets_two_level(
        embeddings, num_centroids, persist=True
    )
    emb = _with_normalized_embedding(embeddings)
    n_coarse = coarse_num_centroids(num_centroids)
    fine = emb.filter(F.col("vec_id") < num_centroids).select(
        F.col("vec_id").alias("f_id"), F.col("emb").alias("f_emb")
    )
    coarse = emb.filter(F.col("vec_id") < n_coarse).select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb")
    )
    # fine centroid -> its coarse cell; live cells own >= 1 fine
    # centroid (identical rules to _assign_two_level_jvm / the Arrow
    # router — rounded dot, lower c_id on ties)
    f2c = (
        fine.crossJoin(F.broadcast(coarse))
        .groupBy("f_id")
        .agg(
            F.max_by(
                "c_id",
                F.struct(
                    _dot6("f_emb", "c_emb").alias("cs"),
                    (-F.col("c_id")).alias("nc"),
                ),
            ).alias("c_id"),
            F.first("f_emb").alias("f_emb"),
        )
    )
    live_coarse = coarse.join(f2c.select("c_id").distinct(), "c_id")
    q = assigned.filter(F.col("vec_id") == query_vec_id).select(
        F.col("emb").alias("q_emb")
    )
    # level 1: top-coarse_probe live cells for the query
    q_cells = (
        live_coarse.crossJoin(F.broadcast(q))
        .select("c_id", "q_emb", _dot6("c_emb", "q_emb").alias("c_cos"))
        .orderBy(F.col("c_cos").desc(), F.col("c_id").asc())
        .limit(coarse_probe)
        .select("c_id", "q_emb")
    )
    # level 2: top-nprobe fine buckets among those cells' members
    q_buckets = (
        f2c.join(F.broadcast(q_cells), "c_id")
        .select(
            F.col("f_id").alias("centroid_id"),
            "q_emb",
            _dot6("f_emb", "q_emb").alias("f_cos"),
        )
        .orderBy(F.col("f_cos").desc(), F.col("centroid_id").asc())
        .limit(nprobe)
        .select("centroid_id", "q_emb")
    )
    return (
        assigned.join(F.broadcast(q_buckets), "centroid_id")
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", _dot6("emb", "q_emb").alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def IVF_TOPK_TWO_LEVEL_SQL(
    query_vec_id: int = 0,
    k: int = 10,
    num_centroids: int | None = None,
    nprobe: int = 1,
    coarse_probe: int = 1,
) -> str:
    """Oracle twin of :func:`ivf_topk_two_level`: the shared two-level
    ``assigned`` CTE chain (``_ASSIGN2_SQL`` — identical to the near-dup
    operator's), then the probe descends the SAME hierarchy: top
    ``coarse_probe`` live coarse cells, top ``nprobe`` fine buckets
    among those cells' members, single rounded-dot candidate scoring."""
    return f"""
WITH {_ASSIGN2_SQL(num_centroids)},
q AS (SELECT emb AS q_emb FROM assigned WHERE vec_id = {query_vec_id}),
qc AS (
  SELECT c_id, q_emb FROM (
    SELECT lc.c_id, q.q_emb,
           row_number() OVER (
             ORDER BY {DOT6_SQL('c_emb', 'q_emb')} DESC, lc.c_id ASC
           ) AS rn
    FROM live_coarse lc, q
  ) WHERE rn <= {coarse_probe}
),
qb AS (
  SELECT f_id AS centroid_id, q_emb FROM (
    SELECT m.f_id, qc.q_emb,
           row_number() OVER (
             ORDER BY {DOT6_SQL('f_emb', 'q_emb')} DESC, m.f_id ASC
           ) AS rn
    FROM f2c m JOIN qc ON m.c_id = qc.c_id
  ) WHERE rn <= {nprobe}
)
SELECT vec_id, label, {DOT6_SQL('emb', 'q_emb')} AS cos_sim
FROM assigned JOIN qb USING (centroid_id)
WHERE vec_id <> {query_vec_id}
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


#: Fixed-batch cap for the batch-kNN query set: production batch kNN has
#: a FIXED query batch joined against a growing corpus (its cost curve is
#: linear in corpus size), whereas deriving queries as a corpus FRACTION
#: makes the curve quadratic by construction (VERDICT r09 missing #4).
#: Base testdata vec_ids sit far below this cap at every driver SF, so
#: results there are bit-identical; bench_replicate.py offsets replica
#: r>0 ids by r*10_000_000, so on replicated scale-up directories the
#: query batch pins to the replica-0 (original) vectors.
QUERY_ID_CAP = 10_000_000


def ivf_batch_topk(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    num_centroids: int | None = 16,
    nprobe: int = 1,
    corpus_count: int | None = None,
) -> DataFrame:
    """Batch k-NN: top-k neighbors for EVERY query vector at once (queries
    = ``vec_id % query_mod == 0 AND vec_id < QUERY_ID_CAP``, standing in
    for a fixed query table — see :data:`QUERY_ID_CAP`).

    The retrieval building block at corpus scale — one query at a time
    (``ivf_topk``) is a debugging shape; production kNN is a join. Round
    12 re-plumb (VERDICT r11 next #1): the corpus assignment is the
    shared Arrow/BLAS two-level pass over L2-normalized vectors
    (``num_centroids=None`` derives K from the corpus size — constant
    bucket size, so each (query, bucket) probe scores a CONSTANT number
    of candidates as the corpus grows, where the pinned-16 form scored
    N/16 — brute force divided by a constant). Scoring is a single
    rounded dot fold per candidate (inputs pre-normalized). The shapes
    that made the old plan scale-right are kept:

    - the probe table (small) broadcasts against the bucketed corpus, so
      the corpus never shuffles for the join;
    - the per-query probe ranking runs over queries x K rows WITHOUT the
      embedding column (the query vectors re-attach by a broadcast join
      after the rank filter), so the window shuffle carries ~24-byte
      rows;
    - per-query ranking is a ``row_number`` window that Spark executes
      with ``WindowGroupLimit`` on BOTH sides of the exchange: each map
      task forwards at most k rows per query.

    r14 (VERDICT r13 next #4): past the codebook gate this dispatches
    to :func:`_ivf_batch_topk_two_level` — same hierarchy, tie rules
    and coarse_probe as the proven single-query two-level tier, probe
    descent per query as windowed DataFrame ops (no driver codebook
    pull). Below the gate the plan is byte-identical to r12/r13.
    """
    from pyspark.sql.window import Window

    num_centroids = _resolve_num_centroids(
        embeddings, num_centroids, corpus_count
    )
    if num_centroids > _CODEBOOK_MAX_CELLS // EMB_DIM:
        return _ivf_batch_topk_two_level(
            embeddings,
            query_mod=query_mod,
            k=k,
            num_centroids=num_centroids,
            nprobe=nprobe,
            coarse_probe=_GATE_COARSE_PROBE,
        )
    assigned = assign_ivf_buckets_scaled(
        embeddings, num_centroids, persist=True
    )
    fine = assigned.filter(F.col("vec_id") < num_centroids).select(
        F.col("vec_id").alias("f_id"), F.col("emb").alias("f_emb")
    )
    q = assigned.filter(
        (F.col("vec_id") % query_mod == 0)
        & (F.col("vec_id") < QUERY_ID_CAP)
    ).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("emb").alias("q_emb"),
    )
    wq = Window.partitionBy("q_vec_id").orderBy(
        F.col("c_cos").desc(), F.col("f_id").asc()
    )
    q_buckets = (
        q.crossJoin(F.broadcast(fine))
        .select(
            "q_vec_id",
            "f_id",
            _dot6("q_emb", "f_emb").alias("c_cos"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("q_vec_id", F.col("f_id").alias("q_centroid"))
        .join(F.broadcast(q), "q_vec_id")
    )
    scored = (
        assigned.join(
            F.broadcast(q_buckets),
            (F.col("centroid_id") == F.col("q_centroid"))
            & (F.col("vec_id") != F.col("q_vec_id")),
        )
        .select(
            "q_vec_id", "vec_id", "label", _dot6("emb", "q_emb").alias("cos_sim")
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_vec_id", "vec_id", "label", "cos_sim", "rank")
    )


def IVF_BATCH_TOPK_SQL(
    query_mod: int = 50,
    k: int = 5,
    num_centroids: int | None = 16,
    nprobe: int = 1,
) -> str:
    """Oracle twin of the re-plumbed :func:`ivf_batch_topk` (flat scaled
    assignment, flat per-query probe ranking, single-dot rounded
    scoring)."""
    return f"""
WITH {_ASSIGN_FLAT_SQL(num_centroids)},
q AS (SELECT vec_id AS q_vec_id, emb AS q_emb FROM assigned
      WHERE vec_id % {query_mod} = 0 AND vec_id < {QUERY_ID_CAP}),
qb AS (
  SELECT q_vec_id, q_emb, f_id AS q_centroid FROM (
    SELECT q.q_vec_id, q.q_emb, f.f_id,
           row_number() OVER (
             PARTITION BY q.q_vec_id
             ORDER BY {DOT6_SQL('q_emb', 'f_emb')} DESC, f.f_id ASC
           ) AS rn
    FROM q, fine f
  ) WHERE rn <= {nprobe}
),
knn_scored AS (
  SELECT qb.q_vec_id, a.vec_id, a.label,
         {DOT6_SQL('a.emb', 'qb.q_emb')} AS cos_sim
  FROM assigned a JOIN qb
    ON a.centroid_id = qb.q_centroid AND a.vec_id <> qb.q_vec_id
)
SELECT q_vec_id, vec_id, label, cos_sim, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY q_vec_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM knn_scored
) WHERE rank <= {k}
"""


def _ivf_batch_topk_two_level(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    num_centroids: int | None = None,
    nprobe: int = 1,
    coarse_probe: int = 2,
) -> DataFrame:
    """Batch k-NN over the TWO-LEVEL router — :func:`ivf_batch_topk`'s
    past-the-codebook-gate tier (r14, VERDICT r13 next #4).

    Deliberately mirrors :func:`ivf_topk_two_level`'s hierarchy tables
    and tie rules line for line (rounded dot, lower-id ties; the f2c
    construction is duplicated rather than factored so the PROVEN
    single-query tier's plan stays untouched), and the flat batch tail's
    scale shapes: probe descent per query runs as windowed DataFrame ops
    over skinny rows (queries x sqrt(K) then queries x coarse_probe x
    K/sqrt(K), embeddings re-attached by broadcast join after each rank
    filter), the corpus side never shuffles, and there is no driver
    codebook pull anywhere — the same plan works at any K.
    """
    from pyspark.sql.window import Window

    assigned = assign_ivf_buckets_two_level(
        embeddings, num_centroids, persist=True
    )
    emb = _with_normalized_embedding(embeddings)
    n_coarse = coarse_num_centroids(num_centroids)
    fine = emb.filter(F.col("vec_id") < num_centroids).select(
        F.col("vec_id").alias("f_id"), F.col("emb").alias("f_emb")
    )
    coarse = emb.filter(F.col("vec_id") < n_coarse).select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb")
    )
    f2c = (
        fine.crossJoin(F.broadcast(coarse))
        .groupBy("f_id")
        .agg(
            F.max_by(
                "c_id",
                F.struct(
                    _dot6("f_emb", "c_emb").alias("cs"),
                    (-F.col("c_id")).alias("nc"),
                ),
            ).alias("c_id"),
            F.first("f_emb").alias("f_emb"),
        )
    )
    live_coarse = coarse.join(f2c.select("c_id").distinct(), "c_id")
    q = assigned.filter(
        (F.col("vec_id") % query_mod == 0) & (F.col("vec_id") < QUERY_ID_CAP)
    ).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("emb").alias("q_emb"),
    )
    # level 1 per query: top-coarse_probe live cells (skinny window rows)
    wc = Window.partitionBy("q_vec_id").orderBy(
        F.col("c_cos").desc(), F.col("c_id").asc()
    )
    q_cells = (
        q.crossJoin(F.broadcast(live_coarse))
        .select("q_vec_id", "c_id", _dot6("q_emb", "c_emb").alias("c_cos"))
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= coarse_probe)
        .select("q_vec_id", "c_id")
        .join(F.broadcast(q), "q_vec_id")
    )
    # level 2 per query: top-nprobe fine buckets among those cells
    wf = Window.partitionBy("q_vec_id").orderBy(
        F.col("f_cos").desc(), F.col("f_id").asc()
    )
    q_buckets = (
        q_cells.join(F.broadcast(f2c), "c_id")
        .select("q_vec_id", "f_id", _dot6("q_emb", "f_emb").alias("f_cos"))
        .withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= nprobe)
        .select("q_vec_id", F.col("f_id").alias("q_centroid"))
        .join(F.broadcast(q), "q_vec_id")
    )
    scored = assigned.join(
        F.broadcast(q_buckets),
        (F.col("centroid_id") == F.col("q_centroid"))
        & (F.col("vec_id") != F.col("q_vec_id")),
    ).select(
        "q_vec_id", "vec_id", "label", _dot6("emb", "q_emb").alias("cos_sim")
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_vec_id", "vec_id", "label", "cos_sim", "rank")
    )


def ivf_batch_topk_two_level(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    num_centroids: int | None = None,
    nprobe: int = 1,
    coarse_probe: int = 2,
    corpus_count: int | None = None,
) -> DataFrame:
    """Public entry for the two-level batch k-NN tier (resolves the
    scaled centroid derivation, then runs
    :func:`_ivf_batch_topk_two_level`) — the registered
    `similarity_batch_topk_two_level` query, with
    :func:`IVF_BATCH_TOPK_TWO_LEVEL_SQL` as its oracle."""
    num_centroids = _resolve_num_centroids(
        embeddings, num_centroids, corpus_count
    )
    return _ivf_batch_topk_two_level(
        embeddings,
        query_mod=query_mod,
        k=k,
        num_centroids=num_centroids,
        nprobe=nprobe,
        coarse_probe=coarse_probe,
    )


def IVF_BATCH_TOPK_TWO_LEVEL_SQL(
    query_mod: int = 50,
    k: int = 5,
    num_centroids: int | None = None,
    nprobe: int = 1,
    coarse_probe: int = 2,
) -> str:
    """Oracle twin of :func:`ivf_batch_topk_two_level`: the shared
    two-level ``assigned`` CTE chain (``_ASSIGN2_SQL``), then every
    query descends the hierarchy per-query — top ``coarse_probe`` live
    coarse cells, top ``nprobe`` fine buckets among those cells'
    members — with the same rounded-dot + lower-id tie rules, single-dot
    candidate scoring, per-query rank."""
    return f"""
WITH {_ASSIGN2_SQL(num_centroids)},
q AS (
  SELECT vec_id AS q_vec_id, emb AS q_emb FROM assigned
  WHERE vec_id % {query_mod} = 0 AND vec_id < {QUERY_ID_CAP}
),
qc AS (
  SELECT q_vec_id, c_id, q_emb FROM (
    SELECT q.q_vec_id, lc.c_id, q.q_emb,
           row_number() OVER (
             PARTITION BY q.q_vec_id
             ORDER BY {DOT6_SQL('c_emb', 'q_emb')} DESC, lc.c_id ASC
           ) AS rn
    FROM q, live_coarse lc
  ) WHERE rn <= {coarse_probe}
),
qb AS (
  SELECT q_vec_id, f_id AS q_centroid, q_emb FROM (
    SELECT qc.q_vec_id, m.f_id, qc.q_emb,
           row_number() OVER (
             PARTITION BY qc.q_vec_id
             ORDER BY {DOT6_SQL('f_emb', 'q_emb')} DESC, m.f_id ASC
           ) AS rn
    FROM f2c m JOIN qc ON m.c_id = qc.c_id
  ) WHERE rn <= {nprobe}
),
knn_scored AS (
  SELECT qb.q_vec_id, a.vec_id, a.label,
         {DOT6_SQL('a.emb', 'qb.q_emb')} AS cos_sim
  FROM assigned a JOIN qb
    ON a.centroid_id = qb.q_centroid AND a.vec_id <> qb.q_vec_id
)
SELECT q_vec_id, vec_id, label, cos_sim, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY q_vec_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM knn_scored
) WHERE rank <= {k}
"""


#: target IVF bucket size for the AUTO centroid derivation below —
#: chosen so the derivation reproduces the registry's historical pinned
#: value exactly at the driver scale factors (sf0.1: 20k vectors /
#: 1250 = 16 centroids; sf0.01 floors at the 16 minimum)
NEAR_DUP_BUCKET_TARGET = 1250


def scaled_num_centroids(n_vectors: int, target: int = NEAR_DUP_BUCKET_TARGET) -> int:
    """The 100-TB centroid derivation for bucketed near-dup pairs: keep
    BUCKET SIZE constant as the corpus grows, so the within-bucket
    self-join's candidate count is N x target — LINEAR in corpus size —
    where a pinned centroid count makes it N^2 / k (measured: the
    pinned-16 form went 2.1 s -> 35 s for 10x data at sf1)."""
    return max(16, n_vectors // target)


def coarse_num_centroids(num_centroids: int) -> int:
    """Coarse level size for the two-level assignment: ~sqrt of the fine
    count (the flat-IVF assignment term N*K is quadratic under the
    constant-bucket derivation; routing through sqrt(K) coarse cells
    cuts it to ~2*N*sqrt(K) while the pair term stays linear)."""
    import math

    return max(2, math.isqrt(num_centroids))


def _with_normalized_embedding(embeddings: DataFrame) -> DataFrame:
    """Double-cast and L2-normalize once, so every downstream cosine is
    a SINGLE dot-product fold instead of dot + two norm folds (the pair
    stage is the near-dup operator's dominant cost — measured 3x fewer
    fold steps per candidate)."""
    emb = with_double_embedding(embeddings).withColumn("_nrm", _norm("emb"))
    return (
        # zero-norm (all-zero) vectors have no defined cosine: the flat
        # path silently emitted no pairs for them (0/0 -> NULL filtered
        # out); the normalized path EXCLUDES them up front — NULL array
        # elements would otherwise crash the Arrow matmul stage. The
        # DuckDB oracle mirrors the same norm > 0 filter.
        emb.filter(F.col("_nrm") > 0)
        .withColumn(
            # the norm lives in its own projected column so it is
            # computed once per ROW — an inline _norm inside the lambda
            # would re-fold it per ELEMENT (64x)
            "emb",
            F.transform("emb", lambda x: x / F.col("_nrm")),
        )
        .drop("_nrm")
    )


def _round6_away(col: F.Column) -> F.Column:
    """6-decimal HALF-AWAY-FROM-ZERO rounding as an explicit float
    expression: ``sign(x) * floor(abs(x) * 1e6 + 0.5) / 1e6``.

    One formula, three engines (round 12, ADVICE r11 #2): Spark's
    ``F.round`` rounds HALF_UP on BigDecimal.valueOf's shortest-decimal
    repr, DuckDB's ``round()`` rounds half-away on its own repr, and the
    Arrow pair stage rounds half-away on the raw binary value — three
    implementations that can disagree on values near a decimal midpoint,
    flipping an argmax between engines. The explicit formula is the same
    IEEE double arithmetic everywhere (numpy's ``np.sign/np.floor`` and
    DuckDB's ``sign()/floor()`` compute the identical ops), so the only
    residual divergence is last-ulp accumulation order in the dot itself
    — the class 6-decimal rounding has absorbed since round 9."""
    scale = float(10 ** COS_DECIMALS)
    return F.signum(col) * F.floor(F.abs(col) * scale + F.lit(0.5)) / scale


def _dot6(a: str, b: str) -> F.Column:
    """Rounded dot of two pre-normalized vectors == the rounded cosine
    (same 6-decimal contract as :func:`_cosine`, half-away formula)."""
    return _round6_away(_dot(a, b))


#: driver-collect cap for the two-level codebook: K x dim doubles (8M
#: cells = one 64 MB pull; K = 125k centroids = a ~156M-vector corpus at
#: the constant-bucket derivation). Below it, assignment runs as ONE
#: Arrow/BLAS mapInPandas pass with the codebook in the task closure —
#: the round-12 path (the JVM fold form materialized an N x sqrt(K) row
#: blowup through the argmax aggregates, each row dragging the 512-byte
#: embedding: the real cost of the r11 cosine's 82 s at sf10). Above it,
#: the JVM broadcast-join form below engages unchanged.
_CODEBOOK_MAX_CELLS = 8_000_000

#: coarse_probe used when the search family auto-dispatches to the
#: two-level tier past the codebook gate (r14, VERDICT r13 next #4):
#: matches the registered-and-proven `similarity_ivf_topk_two_level`
#: configuration (coarse_probe=2 — probing 2 of ~sqrt(K) coarse cells
#: doubles the level-1 escape hatch over the query's own cell for a
#: ~2/sqrt(K) scan-fraction cost; the recall contract is pinned at this
#: setting). Callers wanting a different operating point call
#: ivf_topk_two_level directly.
_GATE_COARSE_PROBE = 2


def _np_round6(x):
    """Half-away 6-decimal rounding on raw binary doubles — the numpy
    twin of :func:`_round6_away` (identical IEEE ops)."""
    import numpy as np

    scale = 10.0 ** COS_DECIMALS
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


def _collect_normalized_prefix(embeddings: DataFrame, num_centroids: int):
    """Driver-side fine codebook from the deterministic ``vec_id < K``
    prefix: (ids asc, L2-normalized matrix) with zero-norm rows dropped —
    O(K x dim), pulled once (the same bounded-pull contract as
    :func:`ivf_topk_from_index`)."""
    import numpy as np

    rows = (
        embeddings.filter(F.col("vec_id") < num_centroids)
        .select("vec_id", "embedding")
        .collect()
    )
    # ADVICE r12 low: reshape(0, -1) raises on an empty prefix — return
    # explicit empty shapes so the callers' empty-codebook fallbacks
    # (empty-DataFrame for flat, ``None`` book for two-level) stay
    # reachable for an empty corpus.
    if not rows:
        return np.array([], dtype=np.int64), np.zeros((0, EMB_DIM))
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array(
        [[float(x) for x in r.embedding] for r in rows], dtype=np.float64
    ).reshape(len(rows), -1)
    nrm = np.sqrt((mat * mat).sum(axis=1))
    keep = nrm > 0
    ids, mat, nrm = ids[keep], mat[keep], nrm[keep]
    mat = mat / nrm[:, None]
    return ids, mat


def _two_level_codebook(embeddings: DataFrame, num_centroids: int):
    """Two-level routing tables on top of the collected prefix:
    (coarse_ids, coarse_mat, fine_ids, fine_mat, fine_cell). Rules mirror
    the JVM/SQL form exactly: fine->coarse by rounded dot with lower-id
    tie-break (argmax first occurrence over id-sorted rows), vectors
    route only to LIVE cells."""
    import numpy as np

    ids, mat = _collect_normalized_prefix(embeddings, num_centroids)
    n_coarse = coarse_num_centroids(num_centroids)
    cmask = ids < n_coarse
    coarse_ids, coarse_mat = ids[cmask], mat[cmask]
    if not len(ids) or not len(coarse_ids):
        return None
    # fine centroid -> its coarse cell (rounded dot, lower c_id on ties:
    # argmax returns the FIRST max and coarse rows are id-sorted)
    f2c = coarse_ids[np.argmax(_np_round6(mat @ coarse_mat.T), axis=1)]
    live = np.unique(f2c)
    lmask = np.isin(coarse_ids, live)
    return coarse_ids[lmask], coarse_mat[lmask], ids, mat, f2c


#: Session-lifetime memo for PERSISTED Arrow assignments, keyed by
#: (normalized input plan, input-file fingerprint, num_centroids,
#: flat/two-level). Round-12 regression fix: moving the codebook into a
#: Broadcast variable made each call's serialized Python closure unique
#: (fresh broadcast id), so CacheManager's canonicalized-plan matching —
#: which the search family relied on for cross-query assignment reuse
#: (`similarity_ivf_topk_nprobe` riding `similarity_batch_topk`'s
#: cache) — stopped matching. Returning the SAME DataFrame object
#: restores reuse robustly, independent of closure bytes (the kmeans
#: _FIT_MEMO pattern; the file fingerprint invalidates on any input
#: rewrite).
_ASSIGN_MEMO: dict[tuple, DataFrame] = {}

# a released assignments cache must not be served stale from the memo
from use_clickhouse_2_analyze_mysql_binlog_spark.operators.cachetrack import (
    register_release_hook as _register_release_hook,
)

_register_release_hook("assign", _ASSIGN_MEMO.clear)


def _assign_memo_key(embeddings: DataFrame, num_centroids: int, kind: str):
    """Memo key for a FILE-BACKED embeddings input, else ``None``.

    ADVICE r12 medium: for a non-file-backed DataFrame (createDataFrame /
    LocalRelation) the expr-id-stripped plan text plus an EMPTY file
    fingerprint is not an identity — two different in-memory corpora with
    the same schema would collide and the second ``persist=True`` call
    would silently return the first corpus's assignment. Memoization is a
    cross-query reuse optimization for the parquet-backed registry path;
    anything else simply isn't memoized (callers treat ``None`` as
    memo-off). Generic key logic factored to :mod:`.memo` in r14 (the
    curation family now memoizes its flagged corpus the same way)."""
    from .memo import df_memo_key

    return df_memo_key(embeddings, num_centroids, kind)


def _arrow_assign(embeddings: DataFrame, route, persist: bool) -> DataFrame:
    """Shared Arrow/BLAS assignment pass: cast + L2-normalize + zero-norm
    filter per batch, then ``route(X_normalized) -> centroid ids``.
    Output: (vec_id, label, emb normalized, centroid_id)."""
    import numpy as np
    import pandas as pd

    label_t = embeddings.schema["label"].dataType.simpleString()
    schema = (
        f"vec_id long, label {label_t}, emb array<double>, centroid_id long"
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            nrm = np.sqrt((X * X).sum(axis=1))
            keep = nrm > 0
            if not keep.any():
                continue
            X = X[keep] / nrm[keep][:, None]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[keep],
                    "label": pdf["label"].to_numpy()[keep],
                    "emb": list(X),
                    "centroid_id": route(X),
                }
            )

    from use_clickhouse_2_analyze_mysql_binlog_spark.plans.parallelism import (
        rebalance_small_scan,
    )

    # parallelism guard (round 12): a small parquet input is ONE
    # row-group = ONE task, and the whole BLAS router then runs on a
    # single core — measured 449.6 s for the sf100 batch query against
    # a 94%-idle box before the guard. No-op at real scale (thousands
    # of splits).
    out = rebalance_small_scan(
        embeddings.select("vec_id", "label", "embedding")
    ).mapInPandas(assign, schema)
    if persist:
        from pyspark import StorageLevel

        from .cachetrack import track

        out = track(out.persist(StorageLevel.MEMORY_AND_DISK), "assign")
    return out


def assign_ivf_buckets_scaled(
    embeddings: DataFrame, num_centroids: int, persist: bool = False
) -> DataFrame:
    """FLAT scaled IVF assignment over L2-normalized vectors: every
    vector routes to its rounded-dot argmax over ALL K fine centroids
    (lower-id tie-break), as one Arrow/BLAS ``mapInPandas`` pass with the
    driver-collected codebook in the task closure.

    This is the SEARCH family's assignment (round 12): flat routing
    keeps the probe ranking and the corpus routing the same function —
    probing the query's nprobe nearest fine centroids probes exactly
    where its neighbors were assigned (recall@4 measured 0.86 at
    sf0.001, vs 0.60 when the corpus routed two-level but probes ranked
    flat), and nprobe=K remains exactly brute force. Routing cost is
    N x K rounded dots AT BLAS SPEED — ~200 GFLOP at sf10 (K=1600),
    seconds of one sweep. Past the codebook-collect gate the JVM
    broadcast-join form engages with IDENTICAL flat semantics
    (:func:`_assign_flat_jvm` — the oracle contract must not fork on a
    size gate); at that tier (~150M+ vectors) a real deployment would
    swap in the two-level router of
    :func:`assign_ivf_buckets_two_level` (machinery proven on the
    near-dup operator) or a k-means codebook, re-mirroring the oracle
    with :func:`_ASSIGN2_SQL`."""
    if num_centroids > _CODEBOOK_MAX_CELLS // EMB_DIM:
        return _assign_flat_jvm(embeddings, num_centroids, persist)
    import numpy as np

    memo_key = None
    if persist:
        memo_key = _assign_memo_key(embeddings, num_centroids, "flat")
        if memo_key is not None and memo_key in _ASSIGN_MEMO:
            return _ASSIGN_MEMO[memo_key]

    fine_ids, fine_mat = _collect_normalized_prefix(embeddings, num_centroids)
    if not len(fine_ids):
        out = embeddings.sparkSession.createDataFrame(
            [],
            "vec_id long, label "
            + embeddings.schema["label"].dataType.simpleString()
            + ", emb array<double>, centroid_id long",
        )
        return out.persist() if persist else out
    # the codebook ships ONCE PER EXECUTOR as a broadcast variable — in
    # the task closure it would re-serialize with every task (up to
    # 64 MB near the gate x O(100k) tasks at corpus scale)
    bc = embeddings.sparkSession.sparkContext.broadcast((fine_ids, fine_mat))

    def route(X):
        ids, mat = bc.value
        # running argmax over CENTROID CHUNKS: the one-shot form
        # materializes the full batch x K rounded-dot matrix (3.2G
        # doubles x ~6 elementwise passes at sf100's K=1600 — pure
        # memory traffic); chunking keeps the scratch at batch x 512.
        # Strict '>' keeps the FIRST maximum, so ties still break to
        # the lower centroid id — identical to the global argmax and
        # the oracle's row_number ranking.
        n = len(X)
        best = np.full(n, -np.inf)
        best_i = np.zeros(n, dtype=np.int64)
        for lo in range(0, mat.shape[0], 512):
            d = _np_round6(X @ mat[lo : lo + 512].T)
            j = np.argmax(d, axis=1)
            v = d[np.arange(n), j]
            upd = v > best
            best[upd] = v[upd]
            best_i[upd] = j[upd] + lo
        return ids[best_i]

    out = _arrow_assign(embeddings, route, persist)
    if memo_key is not None:
        _ASSIGN_MEMO[memo_key] = out
    return out


def _assign_flat_jvm(
    embeddings: DataFrame, num_centroids: int, persist: bool
) -> DataFrame:
    """JVM broadcast-join form of the FLAT scaled assignment — the
    past-the-codebook-gate fallback with semantics identical to the
    Arrow router (L2-normalized, half-away rounded single dots, argmax
    with lower-id tie-break), so the :func:`_ASSIGN_FLAT_SQL` oracle
    contract holds at any K. Same ``max_by`` map-side-combine shape as
    the historical flat path; cost is N x K interpreted dot folds —
    the documented perf (not correctness) ceiling of this tier."""
    # corpus rows score in the divide-once form dot(raw, f_norm)/norm:
    # the CollapseProject lambda-re-fold trap (see brute_force_topk)
    # forbids materializing normalized corpus arrays pre-join; the
    # output normalizes once per row AFTER the argmax, where the norm
    # is a plain carried attribute (cheap per-element division).
    emb = (
        with_double_embedding(embeddings)
        .withColumn("_nrm", _norm("emb"))
        .filter(F.col("_nrm") > 0)
    )
    fine = _with_normalized_embedding(embeddings).filter(
        F.col("vec_id") < num_centroids
    ).select(F.col("vec_id").alias("f_id"), F.col("emb").alias("f_emb"))
    score = _round6_away(_dot("emb", "f_emb") / F.col("_nrm"))
    out = (
        emb.crossJoin(F.broadcast(fine))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "f_id",
                F.struct(
                    score.alias("cs"),
                    (-F.col("f_id")).alias("nf"),
                ),
            ).alias("centroid_id"),
            F.first("label").alias("label"),
            F.first("emb").alias("emb"),
            F.first("_nrm").alias("_nrm"),
        )
        .select(
            "vec_id",
            "label",
            F.transform("emb", lambda x: x / F.col("_nrm")).alias("emb"),
            "centroid_id",
        )
    )
    if persist:
        from pyspark import StorageLevel

        from .cachetrack import track

        out = track(out.persist(StorageLevel.MEMORY_AND_DISK), "assign")
    return out


def assign_ivf_buckets_two_level(
    embeddings: DataFrame, num_centroids: int, persist: bool = False
) -> DataFrame:
    """Two-level IVF assignment over L2-normalized vectors: route each
    vector to its nearest of ~sqrt(K) live coarse cells, then to the
    nearest FINE centroid among those mapped to that cell (~2*N*sqrt(K)
    scoring ops instead of the flat N*K). Round 12 executes it as ONE
    Arrow-batched ``mapInPandas`` pass — cast, normalize, zero-norm
    filter and both routing argmaxes happen per batch against the
    driver-collected codebook (O(K x dim), gate-bounded at
    ``_CODEBOOK_MAX_CELLS``; past the gate the JVM broadcast-join form
    engages unchanged). The documented Arrow exception applies: routing
    is a dense X @ C^T that HOF folds evaluate one interpreted lambda
    element at a time, AND the JVM argmax aggregates materialize an
    N x sqrt(K) row blowup carrying the embedding column. All ranking
    uses half-away rounded dots with lower-id tie-breaks, so the DuckDB
    oracle twin matches (last-ulp accumulation differences absorbed by
    the 6-decimal contract, the same class as the pair stage).

    ``persist`` (ADVICE r11 #3): OFF by default — the near-dup pair
    stage is a single consumer and the old unconditional cache pinned an
    embeddings-sized entry for the session. The IVF search family passes
    True (its assignment is shared across the batch/single-query/probe
    plans within and across queries).
    """
    import numpy as np

    if num_centroids > _CODEBOOK_MAX_CELLS // EMB_DIM:
        return _assign_two_level_jvm(embeddings, num_centroids, persist)
    memo_key = None
    if persist:
        memo_key = _assign_memo_key(embeddings, num_centroids, "two_level")
        if memo_key is not None and memo_key in _ASSIGN_MEMO:
            return _ASSIGN_MEMO[memo_key]
    book = _two_level_codebook(embeddings, num_centroids)
    if book is None:
        out = embeddings.sparkSession.createDataFrame(
            [],
            "vec_id long, label "
            + embeddings.schema["label"].dataType.simpleString()
            + ", emb array<double>, centroid_id long",
        )
        return out.persist() if persist else out
    # broadcast, not closure-captured: see assign_ivf_buckets_scaled
    bc = embeddings.sparkSession.sparkContext.broadcast(book)

    def route(X):
        coarse_ids, coarse_mat, fine_ids, fine_mat, fine_cell = bc.value
        # vector -> nearest LIVE coarse cell, then nearest fine centroid
        # among the cell's members
        cell = coarse_ids[np.argmax(_np_round6(X @ coarse_mat.T), axis=1)]
        out_cent = np.empty(len(X), dtype=np.int64)
        for c in np.unique(cell):
            vsel = cell == c
            fsel = fine_cell == c
            dots = _np_round6(X[vsel] @ fine_mat[fsel].T)
            out_cent[vsel] = fine_ids[fsel][np.argmax(dots, axis=1)]
        return out_cent

    out = _arrow_assign(embeddings, route, persist)
    if memo_key is not None:
        _ASSIGN_MEMO[memo_key] = out
    return out


def _assign_two_level_jvm(
    embeddings: DataFrame, num_centroids: int, persist: bool = True
) -> DataFrame:
    """JVM broadcast-join form of the two-level assignment — the
    past-the-codebook-gate fallback (identical rules; rounded-dot
    argmaxes as ``max_by`` aggregates).
    """
    emb = _with_normalized_embedding(embeddings)
    n_coarse = coarse_num_centroids(num_centroids)
    fine = emb.filter(F.col("vec_id") < num_centroids).select(
        F.col("vec_id").alias("f_id"), F.col("emb").alias("f_emb")
    )
    coarse = emb.filter(F.col("vec_id") < n_coarse).select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb")
    )
    # fine centroid -> its coarse cell (K x sqrt(K) rows: tiny)
    f2c = (
        fine.crossJoin(F.broadcast(coarse))
        .groupBy("f_id")
        .agg(
            F.max_by(
                "c_id",
                F.struct(
                    _dot6("f_emb", "c_emb").alias("cs"),
                    (-F.col("c_id")).alias("nc"),
                ),
            ).alias("c_id"),
            F.first("f_emb").alias("f_emb"),
        )
    )
    # vectors route only to LIVE cells — coarse cells that own at least
    # one fine centroid. A cell can end up empty when two near-identical
    # coarse-prefix centroids tie at rounded cosine 1.000000 and every
    # fine centroid (including the cell's own) tie-breaks to the lower
    # id; a vector routed to the empty cell would then silently drop out
    # of the assignment join and lose all its near-dup pairs (exactly
    # the corpus shape — duplicated centroids — this operator targets).
    live_coarse = coarse.join(
        f2c.select(F.col("c_id")).distinct(), "c_id"
    )
    # vector -> nearest live coarse cell (N x sqrt(K))
    v2c = (
        emb.crossJoin(F.broadcast(live_coarse))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "c_id",
                F.struct(
                    _dot6("emb", "c_emb").alias("cs"),
                    (-F.col("c_id")).alias("nc"),
                ),
            ).alias("c_id"),
            F.first("label").alias("label"),
            F.first("emb").alias("emb"),
        )
    )
    # vector -> nearest fine centroid within its cell (N x K/sqrt(K) avg)
    out = (
        v2c.join(F.broadcast(f2c), "c_id")
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "f_id",
                F.struct(
                    _dot6("emb", "f_emb").alias("cs"),
                    (-F.col("f_id")).alias("nf"),
                ),
            ).alias("centroid_id"),
            F.first("label").alias("label"),
            F.first("emb").alias("emb"),
        )
        .select("vec_id", "label", "emb", "centroid_id")
    )
    if persist:
        from pyspark import StorageLevel

        from .cachetrack import track

        out = track(out.persist(StorageLevel.MEMORY_AND_DISK), "assign")
    return out


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    num_centroids: int | None = 16,
    corpus_count: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within IVF buckets.

    Bucketing bounds the pair blowup to sum over buckets of |bucket|^2 —
    the embedding analogue of LSH banding. Cross-bucket near-dups are
    missed by design (recall/cost tradeoff, same as IVF search).

    ``num_centroids=None`` is the SCALE path (round 11): the centroid
    count derives from the corpus size via :func:`scaled_num_centroids`
    (constant bucket size — candidate pairs linear in N), vectors are
    L2-normalized ONCE so each candidate cosine is a single dot fold,
    and the assignment runs the two-level routing of
    :func:`assign_ivf_buckets_two_level` (~2*N*sqrt(K) instead of N*K).
    An explicit ``num_centroids`` keeps the r09-proven flat path
    byte-for-byte (the IVF search family's shared assignment).
    """
    if num_centroids is None:
        # K derives from the RAW corpus row count on BOTH engines
        # (round 12, ADVICE r11 medium): the oracle's par CTE counts
        # FROM e0 (pre-filter), so a corpus with zero-norm vectors
        # straddling a NEAR_DUP_BUCKET_TARGET multiple can't diverge.
        # ``corpus_count`` lets callers pass the count from parquet
        # footer metadata (== count(*) by parquet contract) — the r11
        # driver-side count() job was one of the r11->r12 bench-gate
        # regressions at sf0.1.
        n = corpus_count if corpus_count is not None else embeddings.count()
        k = scaled_num_centroids(n)
        assigned = assign_ivf_buckets_two_level(embeddings, k, persist=False)
        return _bucket_pairs_matmul(assigned, threshold)
    assigned = assign_ivf_buckets(embeddings, num_centroids)
    a = assigned.select(
        F.col("centroid_id"),
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
    )
    b = assigned.select(
        F.col("centroid_id"),
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
    )
    return (
        a.join(b, "centroid_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b", _cosine("emb_a", "emb_b").alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


#: row-block width for the per-bucket matmul — bounds the scratch
#: matrix at block x |bucket| doubles even on a skewed giant bucket
_PAIR_MATMUL_BLOCK = 2048


def _bucket_pairs_matmul(assigned: DataFrame, threshold: float) -> DataFrame:
    """Within-bucket pair scoring as an Arrow-batched per-bucket BLAS
    matmul (``applyInPandas`` over ``groupBy(centroid_id)``).

    This is the one place the embedding family leaves pure JVM
    expressions, and it is the documented exception case: a bucket's
    pair scores are a dense E @ E^T that SQL folds evaluate one
    interpreted lambda element at a time (higher-order functions sit
    OUTSIDE whole-stage codegen) — measured ~2.9 us/pair at sf10, vs
    BLAS doing the same 64-wide dots at memory speed. Inputs arrive
    L2-normalized, so the matmul IS the cosine; results round to the
    shared 6-decimal contract, pairs emit as (min_id, max_id) with
    cos >= threshold — exactly the join formulation's output, and the
    DuckDB oracle is unchanged. Row-blocked so a skewed bucket costs
    O(block x |bucket|) scratch, never |bucket|^2 at once.
    """
    import numpy as np
    import pandas as pd

    # 6-decimal HALF-AWAY rounding (_np_round6) — np.round is half-to-
    # EVEN, which disagrees on exact dyadic midpoints (e.g. 1/128 at
    # 6dp; the repo hit this class before — dedup.py's 1/32-at-4dp
    # floor workaround), and cos_sim VALUES are driver-hashed. Since
    # round 12 the same floor formula IS the whole family's rounding
    # (_round6_away / DOT6_SQL), so all three engines agree.
    round_half_away = _np_round6

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "cos_sim": []}
            ).astype({"vec_a": "int64", "vec_b": "int64",
                      "cos_sim": "float64"})
        emb = np.vstack(pdf["emb"].to_numpy())
        ids = pdf["vec_id"].to_numpy()
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_c: list[np.ndarray] = []
        for lo in range(0, n, _PAIR_MATMUL_BLOCK):
            hi = min(lo + _PAIR_MATMUL_BLOCK, n)
            block = round_half_away(emb[lo:hi] @ emb.T)
            # upper triangle only: pair (i, j) scored once where i < j
            # by ROW INDEX; ids order inside a bucket is arbitrary, so
            # the pair reorders to (min_id, max_id) below
            bi, bj = np.nonzero(block >= threshold)
            keep = (bi + lo) < bj
            bi, bj = bi[keep], bj[keep]
            va, vb = ids[bi + lo], ids[bj]
            out_a.append(np.minimum(va, vb))
            out_b.append(np.maximum(va, vb))
            out_c.append(block[bi, bj])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cos_sim": np.concatenate(out_c),
            }
        )

    return (
        assigned.select("centroid_id", "vec_id", "emb")
        .groupBy("centroid_id")
        .applyInPandas(pairs, "vec_a long, vec_b long, cos_sim double")
    )


def DOT6_SQL(a: str, b: str) -> str:
    """Rounded dot of pre-normalized list columns (DuckDB dialect) —
    the oracle twin of :func:`_dot6`: the same explicit half-away
    ``sign * floor(abs * 1e6 + 0.5) / 1e6`` float expression (ADVICE
    r11 #2 — one rounding implementation on every engine)."""
    dot = (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"__di -> {a}[__di] * {b}[__di]))"
    )
    scale = 10 ** COS_DECIMALS
    return (
        f"(sign({dot}) * floor(abs({dot}) * {scale} + 0.5) / {scale})"
    )


def EMBEDDING_NEAR_DUP_SQL(
    threshold: float = 0.99, num_centroids: int | None = 16
) -> str:
    """``num_centroids=None`` (the scale path) embeds the
    :func:`scaled_num_centroids` / :func:`coarse_num_centroids`
    derivations as scalar subqueries and mirrors the round-11 Spark
    shape exactly: L2-normalize once, route vectors coarse-then-fine
    (two-level assignment), single-dot rounded cosines, lower-id
    tie-breaks. An explicit ``num_centroids`` keeps the flat r09
    oracle."""
    if num_centroids is not None:
        return f"""
WITH {_ASSIGN_SQL(num_centroids)}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {COSINE_SQL('a.emb', 'b.emb')} AS cos_sim
FROM assigned a JOIN assigned b
  ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
WHERE {COSINE_SQL('a.emb', 'b.emb')} >= {threshold}
"""
    return f"""
WITH {_ASSIGN2_SQL()}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {DOT6_SQL('a.emb', 'b.emb')} AS cos_sim
FROM assigned a JOIN assigned b
  ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
WHERE {DOT6_SQL('a.emb', 'b.emb')} >= {threshold}
"""


def _ASSIGN_FLAT_SQL(num_centroids: int | None = None) -> str:
    """Shared DuckDB CTE chain for the FLAT scaled assignment — the
    oracle twin of :func:`assign_ivf_buckets_scaled` (the search
    family): L2-normalize, drop zero norms, route every vector to its
    rounded-dot argmax over ALL K fine centroids (lower f_id on ties).
    Ends in ``assigned(vec_id, label, emb, centroid_id)`` with ``fine``
    and ``par`` in scope for probe ranking."""
    par_sql = (
        f"SELECT greatest(16, CAST(floor(count(*) / {NEAR_DUP_BUCKET_TARGET})"
        " AS BIGINT)) AS k FROM e0"
        if num_centroids is None
        else f"SELECT CAST({num_centroids} AS BIGINT) AS k"
    )
    return f"""e0 AS (SELECT vec_id, label, {_EMB_SQL} AS emb FROM embeddings),
e AS (
  SELECT vec_id, label,
         list_transform(emb, __x -> __x /
           sqrt(list_sum(list_transform(emb, __y -> __y * __y)))) AS emb
  FROM e0
  WHERE sqrt(list_sum(list_transform(emb, __y -> __y * __y))) > 0
),
par AS (
  {par_sql}
),
fine AS (
  SELECT vec_id AS f_id, emb AS f_emb FROM e, par WHERE vec_id < par.k
),
assigned AS (
  SELECT vec_id, label, emb, centroid_id FROM (
    SELECT e.vec_id, e.label, e.emb, f.f_id AS centroid_id,
           row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {DOT6_SQL('e.emb', 'f.f_emb')} DESC, f.f_id ASC) AS rn
    FROM e, fine f
  ) WHERE rn = 1
)"""


def _ASSIGN2_SQL(num_centroids: int | None = None) -> str:
    """Shared DuckDB CTE chain for the TWO-LEVEL scaled assignment —
    the oracle twin of :func:`assign_ivf_buckets_two_level` (the
    near-dup pair operator), ending in ``assigned(vec_id, label, emb,
    centroid_id)`` with L2-normalized ``emb``. ``num_centroids=None``
    derives K from the RAW e0 row count (matching the Spark side's
    raw/metadata count — ADVICE r11 medium: counting after the
    zero-norm filter diverged from the engine when zero vectors
    straddle a bucket-target multiple). The SEARCH family mirrors its
    flat router with :func:`_ASSIGN_FLAT_SQL` instead."""
    par_sql = (
        f"SELECT greatest(16, CAST(floor(count(*) / {NEAR_DUP_BUCKET_TARGET})"
        " AS BIGINT)) AS k FROM e0"
        if num_centroids is None
        else f"SELECT CAST({num_centroids} AS BIGINT) AS k"
    )
    return f"""e0 AS (SELECT vec_id, label, {_EMB_SQL} AS emb FROM embeddings),
e AS (
  SELECT vec_id, label,
         list_transform(emb, __x -> __x /
           sqrt(list_sum(list_transform(emb, __y -> __y * __y)))) AS emb
  FROM e0
  WHERE sqrt(list_sum(list_transform(emb, __y -> __y * __y))) > 0
),
par AS (
  {par_sql}
),
par2 AS (
  SELECT k, greatest(2, CAST(floor(sqrt(k)) AS BIGINT)) AS c FROM par
),
fine AS (
  SELECT vec_id AS f_id, emb AS f_emb FROM e, par WHERE vec_id < par.k
),
coarse AS (
  SELECT vec_id AS c_id, emb AS c_emb FROM e, par2 WHERE vec_id < par2.c
),
f2c AS (
  SELECT f_id, f_emb, c_id FROM (
    SELECT f.f_id, f.f_emb, co.c_id, row_number() OVER (
        PARTITION BY f.f_id
        ORDER BY {DOT6_SQL('f_emb', 'c_emb')} DESC, co.c_id ASC) AS rn
    FROM fine f, coarse co
  ) WHERE rn = 1
),
live_coarse AS (
  SELECT co.c_id, co.c_emb FROM coarse co
  JOIN (SELECT DISTINCT c_id FROM f2c) lc ON co.c_id = lc.c_id
),
v2c AS (
  SELECT vec_id, label, emb, c_id FROM (
    SELECT e.vec_id, e.label, e.emb, co.c_id, row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {DOT6_SQL('emb', 'c_emb')} DESC, co.c_id ASC) AS rn
    FROM e, live_coarse co
  ) WHERE rn = 1
),
assigned AS (
  SELECT vec_id, label, emb, centroid_id FROM (
    SELECT v.vec_id, v.label, v.emb, m.f_id AS centroid_id,
           row_number() OVER (
        PARTITION BY v.vec_id
        ORDER BY {DOT6_SQL('v.emb', 'm.f_emb')} DESC, m.f_id ASC) AS rn
    FROM v2c v JOIN f2c m ON v.c_id = m.c_id
  ) WHERE rn = 1
)"""


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (the bucketed ANN alternative to IVF)
# ---------------------------------------------------------------------------

LSH_TABLES = 4
LSH_BITS = 8
EMB_DIM = 64


def _hyperplanes(
    num_tables: int = LSH_TABLES, num_bits: int = LSH_BITS, dim: int = EMB_DIM
) -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1), derived from md5
    so Spark and the oracle share the exact same literals (components are
    inlined as constants into both plans — nothing is engine-evaluated)."""
    import hashlib

    def comp(t: int, j: int, i: int) -> float:
        h = hashlib.md5(f"hp_{t}_{j}_{i}".encode()).hexdigest()
        return (int(h[:15], 16) % 2_000_001 - 1_000_000) / 1_000_000.0

    return [
        [[comp(t, j, i) for i in range(dim)] for j in range(num_bits)]
        for t in range(num_tables)
    ]


def lsh_buckets(embeddings: DataFrame) -> DataFrame:
    """(vec_id, label, table_id, bucket) — one row per LSH table.

    Scale shape: bucket computation is per-row (no shuffle); candidate
    generation is an equi-join on (table_id, bucket). Collision probability
    per table is cos-similarity^num_bits-ish; more tables raise recall,
    more bits shrink buckets.

    Round 12: the 32x64 sign-bit computation runs as an Arrow-batched
    ``mapInPandas`` matmul (X @ P^T >= 0) — the r11 single-HOF-pass form
    still evaluated 2048 interpreted lambda steps per vector (HOFs sit
    outside whole-stage codegen; 42.6 s of the sf10 sweep was this one
    projection), where BLAS does the same arithmetic at memory speed.
    The embedding column stays OUT of the output (4 rows/vector would
    quadruple the Arrow payload); candidates re-attach to their vectors
    by a broadcast join downstream. Sign parity with the DuckDB oracle's
    fold: a flip needs |dot| inside the engines' last-ulp accumulation
    difference (~1e-13 relative) — the same absorbed class as the
    rounded-cosine contract, and immaterial on continuous embeddings.
    """
    import numpy as np
    import pandas as pd

    planes = np.array(
        [hp for table in _hyperplanes() for hp in table], dtype=np.float64
    )  # (LSH_TABLES * LSH_BITS) x dim
    weights = (1 << np.arange(LSH_BITS, dtype=np.int64))
    label_t = embeddings.schema["label"].dataType.simpleString()

    def bits(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            B = (X @ planes.T >= 0).astype(np.int64)  # n x (tables*bits)
            out = []
            for t in range(LSH_TABLES):
                chunk = B[:, t * LSH_BITS : (t + 1) * LSH_BITS]
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].to_numpy(),
                            "label": pdf["label"].to_numpy(),
                            "table_id": t,
                            "bucket": chunk @ weights,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    from use_clickhouse_2_analyze_mysql_binlog_spark.plans.parallelism import (
        rebalance_small_scan,
    )

    return rebalance_small_scan(
        embeddings.select("vec_id", "label", "embedding")
    ).mapInPandas(
        bits, f"vec_id long, label {label_t}, table_id int, bucket long"
    )


def lsh_topk(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """LSH top-k: exact-cosine rank over vectors sharing >=1 LSH bucket
    with the query (vs IVF's single coarse bucket). The candidate id set
    (tiny: bucket collisions of one query) re-attaches to its embeddings
    by a broadcast join against the corpus scan — the corpus itself never
    shuffles and its payload never crosses the Arrow boundary twice."""
    b = lsh_buckets(embeddings)
    q_b = b.filter(F.col("vec_id") == query_vec_id).select(
        "table_id", "bucket"
    )
    cand_ids = (
        b.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q_b), ["table_id", "bucket"])
        .select("vec_id")
        .dropDuplicates(["vec_id"])
    )
    emb = with_double_embedding(embeddings)
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("emb").alias("q_emb")
    )
    return (
        emb.join(F.broadcast(cand_ids), "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", _cosine("emb", "q_emb").alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def _SQL_DOT_LIT(emb: str, hp: list[float]) -> str:
    lit = "[" + ", ".join(repr(v) for v in hp) + "]"
    return (
        f"list_sum(list_transform(generate_series(1, {len(hp)}), "
        f"i -> {emb}[i] * ({lit}::DOUBLE[])[i]))"
    )


def LSH_TOPK_SQL(query_vec_id: int = 0, k: int = 10) -> str:
    per_table = []
    for t, planes in enumerate(_hyperplanes()):
        bits = " + ".join(
            f"(CASE WHEN {_SQL_DOT_LIT('emb', hp)} >= 0 THEN {1 << j} ELSE 0 END)"
            for j, hp in enumerate(planes)
        )
        per_table.append(f"SELECT vec_id, label, emb, {t} AS table_id, {bits} AS bucket FROM e")
    buckets = " UNION ALL ".join(per_table)
    return f"""
WITH e AS (SELECT vec_id, label, {_EMB_SQL} AS emb FROM embeddings),
b AS ({buckets}),
q AS (SELECT table_id, bucket, emb AS q_emb FROM b WHERE vec_id = {query_vec_id}),
cand AS (
  SELECT DISTINCT ON (b.vec_id) b.vec_id, b.label, b.emb, q.q_emb
  FROM b JOIN q ON b.table_id = q.table_id AND b.bucket = q.bucket
  WHERE b.vec_id <> {query_vec_id}
)
SELECT vec_id, label, {COSINE_SQL('emb', 'q_emb')} AS cos_sim
FROM cand
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


def write_ivf_index(
    embeddings: DataFrame, path: str, num_centroids: int = 16
) -> None:
    """Materialize the IVF assignment as centroid-partitioned parquet —
    the on-disk form of the index: a top-k search for one query reads ONLY
    its bucket's directory (true partition pruning, ~1/K of the corpus
    never listed, opened, or scanned)."""
    assign_ivf_buckets(embeddings, num_centroids).drop("emb").join(
        embeddings.select("vec_id", "embedding"), "vec_id"
    ).write.mode("overwrite").partitionBy("centroid_id").parquet(path)


def ivf_topk_from_index(
    spark, path: str, query_vec_id: int, k: int = 10, nprobe: int = 1
) -> DataFrame:
    """Top-k against the materialized index: resolve the query's ``nprobe``
    nearest buckets driver-side (the centroid set is O(K x dim) — a few KB
    pulled once), then scan only those buckets' directories. The
    centroid_id IN filter prunes at the file-listing level — the plan's
    scan shows only the matching partitions."""
    from pyspark.sql import functions as F2

    index = spark.read.parquet(path)
    q = (
        index.filter(F2.col("vec_id") == query_vec_id)
        .select("centroid_id", "embedding")
        .collect()[0]
    )
    if nprobe <= 1:
        probe_ids = [q.centroid_id]
    else:
        # rank buckets by cosine(query, centroid) driver-side; the centroid
        # set is O(K x dim) — a few KB. Sequential double-precision sums
        # match the engine's fold bit-for-bit.
        import math

        num_centroids = index.select(
            F2.countDistinct("centroid_id")
        ).collect()[0][0]
        cents = (
            index.filter(F2.col("vec_id") < num_centroids)
            .select("vec_id", "embedding")
            .collect()
        )
        qv = [float(x) for x in q.embedding]
        qn = math.sqrt(sum(x * x for x in qv))

        def cos(row) -> float:
            cv = [float(x) for x in row.embedding]
            dot = sum(a * b for a, b in zip(cv, qv))
            cn = math.sqrt(sum(x * x for x in cv))
            return round(dot / (cn * qn), COS_DECIMALS)

        ranked = sorted(cents, key=lambda r: (-cos(r), r.vec_id))
        probe_ids = [r.vec_id for r in ranked[:nprobe]]
    bucket = with_double_embedding(
        index.filter(
            F2.col("centroid_id").isin([int(c) for c in probe_ids])
            & (F2.col("vec_id") != query_vec_id)
        )
    )
    q_emb = F2.array(*[F2.lit(float(x)) for x in q.embedding]).cast(
        "array<double>"
    )
    return (
        bucket.withColumn("q_emb", q_emb)
        .select("vec_id", "label", _cosine("emb", "q_emb").alias("cos_sim"))
        .orderBy(F2.col("cos_sim").desc(), F2.col("vec_id").asc())
        .limit(k)
    )


def quantization_error_report(embeddings: DataFrame) -> DataFrame:
    """Int8 scalar-quantization audit: per-label reconstruction error.

    Embedding stores cut memory 4x by quantizing float32 -> uint8 per
    dimension (code = floor((x - mn_d) / (mx_d - mn_d) * 255 + 0.5)); this
    report quantifies what that costs BEFORE committing an index rebuild.

    Two passes, like the k-means shape: (1) per-dimension min/max —
    posexplode + groupBy(pos), dim-sized output pulled to the driver
    (O(dim), never O(rows)) and re-inlined as literal arrays; (2) per-
    element reconstruction error against those literals, rolled up per
    label. The explicit ``floor(.. + 0.5)`` avoids engine-specific
    round-half behavior; error sums are rounded (5/6 dp) because double
    accumulation order differs between engines.
    """
    emb = with_double_embedding(embeddings).select("vec_id", "label", "emb")
    ex = emb.select("label", F.posexplode("emb").alias("pos", "x"))
    dims = (
        ex.groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    mn_arr = F.array(*[F.lit(float(r.mn)) for r in dims])
    rng_arr = F.array(*[F.lit(float(r.mx - r.mn)) for r in dims])
    mn = F.element_at(mn_arr, F.col("pos") + 1)
    rng = F.element_at(rng_arr, F.col("pos") + 1)
    code = F.floor((F.col("x") - mn) / rng * 255 + F.lit(0.5))
    recon = mn + code * rng / 255
    err = F.when(rng > 0, F.abs(F.col("x") - recon)).otherwise(F.lit(0.0))
    return (
        ex.select("label", err.alias("e"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vals"),
            F.round(F.avg("e"), 5).alias("avg_abs_err"),
            F.round(F.max("e"), 6).alias("max_abs_err"),
        )
    )


QUANTIZATION_ERROR_SQL = f"""
WITH e AS (SELECT vec_id, label, {_EMB_SQL} AS emb FROM embeddings),
ex AS (
  SELECT label, u.i AS pos, emb[u.i] AS x
  FROM e, unnest(generate_series(1, len(emb))) AS u(i)
),
dims AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
err AS (
  SELECT label,
         CASE WHEN mx > mn
              THEN abs(x - (mn + floor((x - mn) / (mx - mn) * 255 + 0.5)
                              * (mx - mn) / 255))
              ELSE 0.0 END AS e
  FROM ex JOIN dims USING (pos)
)
SELECT label, count(*) AS n_vals,
       round(avg(e), 5) AS avg_abs_err,
       round(max(e), 6) AS max_abs_err
FROM err GROUP BY label
"""
