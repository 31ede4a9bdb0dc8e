"""Persisted IVF index: train once, serve many ANN queries.

The serving-side complement of the in-session ANN operators
(operators/similarity.ivf_topk trains/probes inside one plan; fine for
one-shot analytics, wasteful when the same corpus answers thousands of
queries). ``build_ivf_index`` pays the k-means training ONCE and lays
the corpus out for cheap probes:

    {index_path}/centroids/   k-row codebook parquet (metadata-sized)
    {index_path}/vectors/batch=<tag>/cluster_id=<c>/   the corpus,
        laid out BY CELL on disk; batch=base from the build,
        batch=<id> siblings from streaming appends

A query then reads the codebook (driver-side metadata, like a PQ
codebook), picks its ``n_probe`` nearest cells driver-side, and scans
ONLY those ``cluster=`` directories — Spark's partition pruning turns
cell probing into skipped I/O, the property that matters at 100 TB:
a 1024-cell index probed at 8 cells reads <1% of the corpus per
query, no shuffle, one TakeOrderedAndProject.

Training reuses the deterministic Lloyd trainer the PQ/SemDeDup
family shares (semdedup.cluster_assign -> pq_train m=1: hash-seeded
centroids, integer-exact means), so rebuilding an index over the same
corpus is bit-identical — the same determinism contract as every
operator here.

Beyond-reference capability (SURVEY §2.7 similarity-search charter);
the reference's surface has no vector serving (its connectors stop at
message streams, /root/reference/pspf/connectors/).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


def build_ivf_index(
    embeddings: DataFrame,
    index_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    iters: int = 2,
) -> dict:
    """Train + lay out an IVF index at ``index_path``; returns a small
    stats dict (n_vectors, k_cells). Null vectors are excluded (they
    can't be probed). ``k=None`` sizes cells via the SemDeDup scaling
    rule (~100 vectors per expected cell). Overwrites any previous
    index at the path — rebuilds are atomic per subdir because parquet
    overwrite clears before write; serve from a new path and swap if
    readers are live (same single-writer contract as the dedup
    indexes)."""
    from python_stream_processing_framework_spark.operators.semdedup import (
        cluster_assign,
    )

    nonnull = embeddings.filter(F.col(vec_col).isNotNull())
    assign, cb = cluster_assign(
        nonnull, id_col=id_col, vec_col=vec_col, k=k, iters=iters
    )
    cb.write.mode("overwrite").parquet(f"{index_path}/centroids")
    vectors = nonnull.join(assign, id_col).withColumnRenamed(
        "cluster", "cluster_id"
    )
    # batch=base level: streaming appends (Stream.index_embeddings)
    # add sibling batch=<id> dirs with the same cluster_id layout —
    # one overwrite-idempotent dir per micro-batch, the dedup-index
    # discipline; readers discover both partition levels and still
    # prune on cluster_id alone
    (
        vectors.repartition(F.col("cluster_id"))
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(f"{index_path}/vectors/batch=base")
    )
    spark = embeddings.sparkSession
    # count from the just-written parquet (footer metadata, no job
    # re-runs the assignment join) instead of re-scanning `vectors`
    n = spark.read.parquet(f"{index_path}/vectors/batch=base").count()
    k_cells = cb.select("code").distinct().count()
    meta = {"n_vectors": n, "k_cells": k_cells, "id_col": id_col, "vec_col": vec_col}
    spark.createDataFrame([(json.dumps(meta),)], "meta string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{index_path}/meta")
    return meta


def _probe_cells(
    spark: SparkSession, index_path: str, query_vec: list[float], n_probe: int
) -> list[int]:
    """The coarse probe: read the k_cells-row centroid codebook
    (bounded metadata) and rank cells by query-to-centroid L2
    driver-side — ties to the smaller cell id, the module's
    determinism rule.

    L2, not cosine, because vectors were ASSIGNED to cells by
    nearest-centroid L2 (semdedup.cluster_assign / pq_encode): for
    unnormalized embeddings the two orderings diverge, and a
    cosine-ranked probe can skip a near neighbor's L2 home cell
    even at generous n_probe — a systematic recall loss, not the
    usual IVF approximation. With unit-normalized embeddings the
    orderings coincide, so this is a pure fix."""
    cb = spark.read.parquet(f"{index_path}/centroids").collect()

    def _l2sq(c) -> float:
        return sum((a - b) * (a - b) for a, b in zip(query_vec, c["centroid"]))

    return [
        int(c["code"])
        for c in sorted(cb, key=lambda c: (_l2sq(c), int(c["code"])))[:n_probe]
    ]


def ivf_index_topk(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    *,
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors of ``query_vec`` from a persisted IVF
    index: codebook read + driver-side probe selection (k_cells rows —
    bounded metadata, the same class as every codebook collect), then
    a partition-PRUNED scan of only the probed ``cluster=`` dirs,
    exact cosine inside, TakeOrderedAndProject k. Returns (id,
    cos_sim) ordered by (cos_sim DESC, id)."""
    import math

    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    probes = _probe_cells(spark, index_path, query_vec, n_probe)
    vectors = spark.read.parquet(f"{index_path}/vectors").filter(
        F.col("cluster_id").isin(probes)
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    vnorm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda a: a * a),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = vectors.select(
        F.col(id_col),
        F.round(dot / (vnorm * F.lit(qn)), 6).alias("cos_sim"),
    ).filter(F.col("cos_sim").isNotNull())
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def assign_to_index_cells(
    spark: SparkSession,
    index_path: str,
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign new vectors to a persisted index's EXISTING cells (the
    standard IVF streaming-add contract: cells are fixed at training
    time, arrivals slot into the nearest one). Returns the input plus
    ``cluster_id``; null vectors are dropped (they can't be probed).
    One broadcast-codebook Arrow pass, no shuffle."""
    from python_stream_processing_framework_spark.operators.pq import pq_encode

    cb = spark.read.parquet(f"{index_path}/centroids")
    nonnull = embeddings.filter(F.col(vec_col).isNotNull())
    assigned = pq_encode(nonnull, cb, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col), F.element_at("codes", 1).alias("cluster_id")
    )
    return nonnull.join(assigned, id_col)


def append_to_ivf_index(
    spark: SparkSession,
    index_path: str,
    embeddings: DataFrame,
    batch_tag: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append one batch of vectors to a persisted IVF index under
    ``vectors/batch=<tag>/cluster_id=.../`` — overwrite-idempotent
    per tag (a retried batch rewrites exactly its own directory, the
    dedup-index discipline), so exactly-once indexing comes from the
    caller keying tags on its batch ids. Returns rows appended.

    Lifecycle: each batch adds one directory level-2 tree; thousands
    of micro-batches mean thousands of dirs (listing cost on query
    scans). Rebuild the index (build_ivf_index to a fresh path, swap)
    when batch-dir count or cell drift degrades probes — the standard
    IVF re-train cadence, cheap next to the corpus it serves."""
    appended = assign_to_index_cells(
        spark, index_path, embeddings, id_col=id_col, vec_col=vec_col
    )
    (
        appended.repartition(F.col("cluster_id"))
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(f"{index_path}/vectors/batch={batch_tag}")
    )
    # parquet-footer count — counting `appended` would re-run the
    # whole assign join a second time on every streaming micro-batch.
    # An all-null batch writes no part files (schema can't be read
    # back): that is exactly zero rows appended.
    try:
        return spark.read.parquet(
            f"{index_path}/vectors/batch={batch_tag}"
        ).count()
    except AnalysisException:
        return 0
