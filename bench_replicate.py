#!/usr/bin/env python3
"""Build a replicated scale-up directory (default 10x of sf0.1 = "sf1")
so bench.py can measure the scaling curve on the SAME query set.

Replication scheme (committed so the r08 ad-hoc methodology is
reproducible, VERDICT r08 next #4/#8):

- ``events``: event_id and user_id get distinct per-replica offsets
  (10x the users, each with the replica's copy of the original per-user
  history — funnels/sessions/windows scale linearly in group count, the
  100 TB shape); timestamps unchanged so date-grain rollup keys keep
  their cardinality (rollup output stays fixed while input grows 10x —
  the aggregation-pressure case).
- ``documents`` has two modes (``--doc-mode``, VERDICT r09 next #5):
  * ``variants`` (the r08/r09 methodology): replicas r>0 get a short
    text suffix, so interior shingles stay shared and every doc becomes
    an r-variant near-dup cluster. Exact pair queries' OUTPUT therefore
    grows ~quadratically in the replica count — fine at 10x, but at
    100x it turns every pair query output-quadratic, which real corpora
    (whose dup-cluster size does NOT grow with corpus size) don't do.
  * ``distinct`` (dup-structure-preserving): replica r>0 suffixes EVERY
    whitespace token with ``·r{r}``. Within a replica, token-level
    3-gram shingle sets transform bijectively, so every within-replica
    near-dup pair keeps its exact Jaccard — the corpus dup RATE is
    invariant; across replicas no shingle ever matches (every token
    differs), so clusters replicate instead of growing. TRUE pair
    output scales linearly in the replica count, the production shape.
    Token counts are preserved exactly; doc lengths grow by ~3 chars
    per token (recomputed into n_chars).
  In both modes replica 0 is verbatim.
- ``embeddings``: vec_id offset; the vector mutation follows
  ``--doc-mode``:
  * ``variants``: replica r>0 adds a TINY bump (0.01 on a unit sphere)
    to dimension ``r % dim`` and re-normalizes — neighbor structure is
    preserved (jitter angle ~0.01 rad is far below inter-cluster
    distances) but every vector gains r near-identical cross-replica
    twins, so embedding PAIR queries (dedup_embedding_cosine) go
    output-quadratic in the replica count, exactly like the documents
    'variants' mode.
  * ``distinct``: replica r>0 applies a per-replica SIGNED AFFINE
    PERMUTATION of coordinates (an exact isometry — within-replica
    geometry bit-preserved, no artificial top-k twins); cross-replica
    copies are generically near-orthogonal, so embedding dup clusters
    REPLICATE instead of growing and pair output scales linearly (the
    production shape).
  Replica 0 is verbatim in both modes (ADVICE r09: the bump used to
  fire for r=0 too, bumping dimension 0 — the scaled directory no
  longer diverges from the source vectors).
- every other table copies verbatim (dims are broadcast-joined; scaling
  them would change join selectivity, not stress anything new).

Usage:
  python3 bench_replicate.py [--src /root/testdata/sf0.1] \
      [--dest /tmp/spark_graft_sf1/sf1] [--replicas 10]
  SPARK_GRAFT_SF_DIR=/tmp/spark_graft_sf1/sf1 python3 bench.py
"""

from __future__ import annotations

import argparse
import os

KEY_OFFSET = 10_000_000
USER_OFFSET = 100_000
EMBED_EPS = 0.01

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dest", default="/tmp/spark_graft_sf1/sf1")
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument(
        "--doc-mode",
        choices=("variants", "distinct"),
        default="variants",
        help="documents replication: 'variants' = near-dup clusters grow "
        "with replicas (r08/r09 methodology); 'distinct' = per-replica "
        "token suffix, dup structure preserved (pair output linear)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from use_clickhouse_2_analyze_mysql_binlog_spark import schemas
    from use_clickhouse_2_analyze_mysql_binlog_spark.session import get_spark

    spark = get_spark(app_name="bench_replicate")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.dest, exist_ok=True)

    reps = spark.range(args.replicas).select(F.col("id").alias("__r"))

    for t in TABLES:
        df = schemas.load_table(spark, args.src, t)
        out = os.path.join(args.dest, f"{t}.parquet")
        if t == "events":
            df = (
                df.crossJoin(F.broadcast(reps))
                .withColumn(
                    "event_id", F.col("event_id") + F.col("__r") * KEY_OFFSET
                )
                .withColumn(
                    "user_id", F.col("user_id") + F.col("__r") * USER_OFFSET
                )
                .drop("__r")
            )
        elif t == "documents":
            if args.doc_mode == "distinct":
                # every token gets a replica tag -> zero cross-replica
                # shingle collisions; within-replica shingle sets map
                # bijectively, so each pair's Jaccard is preserved
                mutated = F.regexp_replace(
                    F.col("text"),
                    F.lit(r"(\S+)"),
                    F.concat(F.lit("$1·r"), F.col("__r").cast("string")),
                )
            else:
                mutated = F.concat(
                    F.col("text"),
                    F.lit(" [r"),
                    F.col("__r").cast("string"),
                    F.lit("]"),
                )
            df = (
                df.crossJoin(F.broadcast(reps))
                .withColumn(
                    "doc_id", F.col("doc_id") + F.col("__r") * KEY_OFFSET
                )
                .withColumn(
                    "text",
                    F.when(F.col("__r") == 0, F.col("text")).otherwise(
                        mutated
                    ),
                )
                .withColumn("n_chars", F.length("text").cast("long"))
                .drop("__r")
            )
        elif t == "embeddings":
            dim = len(
                df.select("embedding").first()["embedding"]
            )
            if args.doc_mode == "distinct":
                # dup-structure-preserving (the embeddings analogue of
                # the token-suffix trick): replica r > 0 applies a
                # SIGNED PERMUTATION of coordinates —
                # new[i] = (-1)^((i + r) % 2) * old[(a_r*i + r) % dim],
                # a_r = 2*(r div dim) + 1 (odd, hence invertible mod the
                # power-of-two dim — the affine stride keeps transforms
                # DISTINCT past r = dim, where a plain shift would alias
                # replica r with replica r+dim as exact duplicates).
                # A signed permutation is an exact isometry, so EVERY
                # within-replica cosine/distance (near-dup pairs, top-k
                # neighbor lists, k-means cluster geometry, IVF bucket
                # shapes) is preserved BIT-LOSSLESSLY — strictly
                # stronger than the jitter, which seeded every top-k
                # list with artificial 0.99995-cosine twins. Across
                # replicas the relative transform is another signed
                # permutation, so a vector and its copy are generically
                # near-orthogonal: embedding dup CLUSTERS REPLICATE
                # instead of growing, and pair-query output scales
                # linearly in the replica count (the production shape —
                # the jitter left dedup_embedding_cosine quadratic at
                # 100x even under --doc-mode distinct).
                a_r = F.floor(F.col("__r") / dim) * 2 + 1
                shifted = F.transform(
                    "embedding",
                    lambda x, i: F.element_at(
                        "embedding",
                        ((a_r * i + F.col("__r")) % dim).cast("int") + 1,
                    )
                    * F.when(
                        ((i + F.col("__r")) % 2) == 0, F.lit(-1.0)
                    ).otherwise(F.lit(1.0)).cast("float"),
                )
                df = (
                    df.crossJoin(F.broadcast(reps))
                    .withColumn(
                        "vec_id", F.col("vec_id") + F.col("__r") * KEY_OFFSET
                    )
                    .withColumn(
                        "embedding",
                        # replica 0 keeps the ORIGINAL column verbatim
                        F.when(
                            F.col("__r") == 0, F.col("embedding")
                        ).otherwise(shifted),
                    )
                    .drop("__r")
                )
            else:
                # gate on __r > 0: replica 0 stays the verbatim source
                # vectors (ADVICE r09 — the bump used to hit dimension 0)
                bumped = F.transform(
                    "embedding",
                    lambda x, i: x
                    + F.when(
                        (F.col("__r") > 0)
                        & (i == (F.col("__r") % dim).cast("int")),
                        F.lit(EMBED_EPS),
                    ).otherwise(F.lit(0.0)),
                )
                norm = F.sqrt(
                    F.aggregate(
                        bumped,
                        F.lit(0.0),
                        lambda acc, x: acc + x.cast("double") * x,
                    )
                )
                df = (
                    df.crossJoin(F.broadcast(reps))
                    .withColumn(
                        "vec_id", F.col("vec_id") + F.col("__r") * KEY_OFFSET
                    )
                    .withColumn(
                        "embedding",
                        # replica 0 keeps the ORIGINAL column — even a no-op
                        # renormalize would flip low bits (the double norm of
                        # a float unit vector isn't exactly 1.0)
                        F.when(
                            F.col("__r") == 0, F.col("embedding")
                        ).otherwise(
                            F.transform(
                                bumped, lambda x: (x / norm).cast("float")
                            )
                        ),
                    )
                    .drop("__r")
                )
        # dims copy verbatim. Scaled tables are written SCAN-PARALLEL
        # (r14): the old ``coalesce(replicas // 2)`` could never raise the
        # partition count above the source scan's (coalesce only lowers
        # it), so every scaled table landed as ONE file with ONE row
        # group — and parquet scans parallelize at row-group granularity,
        # which made every sf1/sf10 map stage effectively single-threaded
        # (measured at sf10: documents tokenize 9.4 s on one core vs
        # 0.6 s over 32 files; the whole r13 sf10 heavy-row list was
        # scan-bound on this artifact, not on engine code). Real inputs
        # at the 100 TB scale this audit stands in for arrive as
        # thousands of files; a replicated scale dir must too — the
        # replicated tables get ``defaultParallelism`` files, verbatim
        # copies keep the source layout.
        if t in ("events", "documents", "embeddings") and args.replicas > 1:
            df = df.repartition(spark.sparkContext.defaultParallelism)
        else:
            df = df.coalesce(max(1, args.replicas // 2))
        df.write.mode("overwrite").parquet(out)
        # the footer schema load_table reads must be the one Spark infers
        inferred = spark.read.parquet(out)
        footer = schemas.load_table(spark, args.dest, t).schema
        if footer != inferred.schema:
            raise SystemExit(
                f"{t}: footer schema {footer} != inferred {inferred.schema}"
            )
        n = inferred.count()
        print(f"{t}: {n} rows -> {out}")
    spark.stop()


if __name__ == "__main__":
    main()
