"""SemDeDup — semantic dedup via cluster-then-prune (Abbas et al. 2023).

Beyond-reference capability (SURVEY §2.7 charter): the published
embedding-space dedup used on LAION/web-scale corpora. Whole-corpus
pairwise cosine is O(n²); SemDeDup first k-means-clusters the
embeddings, then looks for duplicate pairs ONLY inside each cluster,
and from every group of semantic duplicates keeps the example with
the LOWEST cosine similarity to its cluster centroid (the most
"marginal" member — the paper's rule; it preserves diversity better
than keeping the most central copy). The sign-LSH path
(similarity.cosine_lsh_pairs + components) is this module's sibling;
SemDeDup is the published cluster-bucketed formulation, and its
cluster structure doubles as the curation index (per-cluster
sampling, cluster-balanced mixing).

Scale shape:

- clustering reuses the PQ Lloyd trainer with m=1 (operators/pq.py):
  hash-seeded, integer-exact, each round one full-data job; the
  codebook is k x dim driver metadata.
- candidate generation is an equi-join on the cluster id —
  within-cluster all-pairs is the published algorithm's cost model
  (they size k so clusters stay tractable; at 100 TB you raise k
  with corpus size, keeping |cluster| ~ n/k bounded, and the
  quadratic term is per-cluster, embarrassingly parallel across
  clusters). A skewed giant cluster is AQE skew-split shuffle
  traffic; the pair count inside it is the price the PUBLISHED
  algorithm pays — cap it by raising k, not by changing shape.
- pair verification and centroid similarity run on 1e-6-quantized
  int64 vectors (the pq.py determinism contract): exact integer
  dots, one double division, round 6 — engine-exact, and the heavy
  lifting is numpy matmuls in Arrow-batched pandas UDFs, packed
  int32 binary on the wire (similarity.py's representation).
- duplicate groups are connected components over the eps-graph
  (graph.connected_components — iterative, counts-only driver
  traffic); the keep-rule is one window over components.

L2-NORMALIZE EMBEDDINGS UPSTREAM (functions.vectors.l2_normalize —
the paper's practice): clustering is L2 k-means, so scale variants
of one direction land in different clusters un-normalized and their
cosine-duplicate pair is never examined (bucketing recall loss, the
same class as any ANN miss). On unit vectors L2 k-means is
spherical k-means and cosine neighbors share cells.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from python_stream_processing_framework_spark.operators.graph import (
    connected_components,
)
from python_stream_processing_framework_spark.operators.pq import (
    _l2sq_q,
    _quant,
    pq_encode,
    pq_train,
)


#: Default cluster-size target for auto-k: the paper raises k with
#: corpus size to keep |cluster| ~ n/k bounded; 4096 keeps the
#: per-cluster matmul ~16M dots — comfortably one task's work.
TARGET_CLUSTER_SIZE = 4096


def auto_k(n_vectors: int, target_cluster_size: int = TARGET_CLUSTER_SIZE) -> int:
    """The SemDeDup k-scaling rule: enough clusters that the EXPECTED
    cluster holds ~target_cluster_size vectors, floored at 8 so tiny
    inputs still bucket."""
    if target_cluster_size < 1:
        raise ValueError(
            f"target_cluster_size must be >= 1, got {target_cluster_size}"
        )
    return max(8, -(-int(n_vectors) // int(target_cluster_size)))


def cluster_assign(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = 8,
    iters: int = 2,
    target_cluster_size: int = TARGET_CLUSTER_SIZE,
) -> tuple[DataFrame, DataFrame]:
    """K-means step: returns (assignments, codebook).

    Assignments are (id, cluster); the codebook is the pq_train m=1
    frame (_sub, code, centroid). Deterministic end to end (hash
    seeding, integer-exact means, ties to the smaller code).
    ``k=None`` applies the paper's scaling rule via `auto_k` — one
    bounded count() job to size the corpus."""
    if k is None:
        k = auto_k(embeddings.count(), target_cluster_size)
    cb = pq_train(embeddings, vec_col=vec_col, id_col=id_col, m=1, k=k, iters=iters)
    assign = pq_encode(embeddings, cb, vec_col=vec_col, id_col=id_col).select(
        F.col(id_col), F.element_at("codes", 1).alias("cluster")
    )
    return assign, cb


def _quantized_sigs(
    embeddings: DataFrame, assign: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, q, nq2, cluster): 1e-6-quantized int64 vectors as packed
    little-endian binary plus their exact squared norm, joined with
    cluster assignments."""

    @pandas_udf("q binary, nq2 bigint")
    def _quant(v: pd.Series) -> pd.DataFrame:
        qs, n2s = [], []
        for x in v.values:
            xq = np.floor(np.asarray(x, dtype=np.float64) * 1e6 + 0.5).astype(
                np.int64
            )
            qs.append(xq.astype("<i8").tobytes())
            n2s.append(int((xq * xq).sum()))
        return pd.DataFrame({"q": qs, "nq2": n2s})

    return (
        embeddings.select(F.col(id_col), _quant(F.col(vec_col)).alias("_s"))
        .select(id_col, F.col("_s.q").alias("q"), F.col("_s.nq2").alias("nq2"))
        .join(assign, [id_col])
    )


def _pair_frame(
    sigs: DataFrame,
    id_col: str,
    eps: float,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Within-cluster duplicate pairs at cosine >= eps.

    ONE per-cluster matmul (applyInPandas), not a self-join: a
    pair-join would shuffle |cluster|²/2 rows each carrying two full
    vectors, where the group form shuffles each vector ONCE and
    emits only near-threshold pairs. This is also the published
    algorithm's shape — per-cluster dense similarity, embarrassingly
    parallel across clusters. The UDF prefilters at eps - 1e-6
    (strictly wider than any 6dp-rounding boundary); the EXACT
    predicate — round(cos, 6) >= eps on the same double — applies
    JVM-side after, so the emitted superset never changes the
    result.

    ``max_cluster_size`` is the giant-cluster guard (the
    dedup._cap_band_buckets analog): a pathological cluster —
    k too small for the corpus, or a dense point mass — pays
    O(|cluster|²) pair work in one task. When set, only the first
    ``max_cluster_size`` members in id order participate in pairing
    (deterministic across partitionings); members beyond the cap
    keep their rows downstream but contribute no pairs — a
    documented recall trade, NOT silent truncation. The principled
    fix is raising k (auto_k); the cap bounds the damage when the
    data defeats the clustering."""
    raw_eps = float(eps) - 1e-6
    cap = int(max_cluster_size) if max_cluster_size else 0

    def _cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if cap and n > cap:
            pdf = pdf.sort_values(id_col, kind="mergesort").iloc[:cap]
            n = cap
        if n < 2:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"),
                 "id_b": pd.Series(dtype="int64"),
                 "cos_sim": pd.Series(dtype="float64")}
            )
        order = np.argsort(pdf[id_col].to_numpy())
        ids = pdf[id_col].to_numpy()[order]
        Q = np.frombuffer(
            b"".join(pdf["q"].to_numpy()[order]), dtype="<i8"
        ).reshape(n, -1)
        n2 = pdf["nq2"].to_numpy(np.float64)[order]
        # row-block the matmul so memory is O(block * n), not O(n²),
        # for the occasional giant cluster
        block = 2048
        ia, ib, cs = [], [], []
        for lo in range(0, n - 1, block):
            hi = min(lo + block, n)
            dots = (Q[lo:hi] @ Q.T).astype(np.float64)  # exact int64 dots
            # sqrt OF THE PRODUCT, not product of sqrts — the oracle's
            # sqrt(n2a * n2b) expression shape, bit-identical
            cos = dots / np.sqrt(np.outer(n2[lo:hi], n2))
            r, c = np.nonzero(cos >= raw_eps)
            upper = c > r + lo  # strict upper triangle in global index
            ia.append(lo + r[upper])
            ib.append(c[upper])
            cs.append(cos[r[upper], c[upper]])
        r = np.concatenate(ia) if ia else np.empty(0, dtype=np.int64)
        c = np.concatenate(ib) if ib else np.empty(0, dtype=np.int64)
        v = np.concatenate(cs) if cs else np.empty(0, dtype=np.float64)
        return pd.DataFrame(
            {"id_a": ids[r], "id_b": ids[c], "cos_sim": v}
        )

    return (
        sigs.select(id_col, "cluster", "q", "nq2")
        .groupBy("cluster")
        .applyInPandas(_cluster_pairs, "id_a bigint, id_b bigint, cos_sim double")
        .select(
            "id_a", "id_b", F.round(F.col("cos_sim"), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= float(eps))
    )


def semdedup(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = 8,
    iters: int = 2,
    eps: float = 0.7,
    target_cluster_size: int = TARGET_CLUSTER_SIZE,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Full SemDeDup pass.

    Returns one row per vector: (id, cluster, dup_group,
    centroid_sim, keep) where ``dup_group`` is the duplicate-group label (the minimum
    member id; singletons label themselves), ``centroid_sim`` is the
    6dp cosine to the assigned cluster centroid, and ``keep`` marks
    the group member with the LOWEST centroid similarity (ties to
    the smaller id) — the paper's keep-rule. Filter ``keep`` to
    materialize the deduplicated corpus.

    ``k=None`` sizes the clustering by the paper's scaling rule
    (`auto_k`: ~target_cluster_size vectors per expected cluster);
    ``max_cluster_size`` bounds the O(|cluster|²) pair work of a
    pathological cluster (see `_pair_frame`).
    """
    spark = embeddings.sparkSession
    assign, cb = cluster_assign(
        embeddings,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        iters=iters,
        target_cluster_size=target_cluster_size,
    )

    # centroid matrix: k x dim quantized ints — bounded driver
    # metadata (same contract as the PQ codebook collect)
    cb_rows = cb.collect()
    cent = {
        int(r["code"]): np.floor(
            np.asarray(r["centroid"], dtype=np.float64) * 1e6 + 0.5
        ).astype(np.int64)
        for r in cb_rows
    }
    cent_n2 = {c: int((v * v).sum()) for c, v in cent.items()}
    bc = spark.sparkContext.broadcast((cent, cent_n2))

    @pandas_udf("double")
    def _cent_sim(q: pd.Series, nq2: pd.Series, cluster: pd.Series) -> pd.Series:
        cent_m, n2_m = bc.value
        out = np.empty(len(q), dtype=np.float64)
        for i, (buf, n2, c) in enumerate(zip(q.values, nq2.values, cluster.values)):
            xq = np.frombuffer(buf, dtype="<i8")
            cv = cent_m[int(c)]
            out[i] = float(xq @ cv) / np.sqrt(float(n2) * float(n2_m[int(c)]))
        return pd.Series(out)

    from python_stream_processing_framework_spark.operators.common import (
        persist_lazy,
    )

    # sigs (one Arrow quantization pass + the pq_encode assign join)
    # feeds BOTH the pair mining and the centroid scoring — without a
    # persist each consumer re-runs both corpus-wide Arrow passes
    # (r15, guide §2.4). Lazy: connected_components' edge count is the
    # first action and populates the blocks; the final plan reads them.
    sigs = persist_lazy(_quantized_sigs(embeddings, assign, id_col, vec_col))
    pairs = _pair_frame(sigs, id_col, eps, max_cluster_size)
    labels = connected_components(pairs, "id_a", "id_b")

    scored = sigs.select(
        F.col(id_col),
        F.col("cluster"),
        F.round(
            _cent_sim(F.col("q"), F.col("nq2"), F.col("cluster")), 6
        ).alias("centroid_sim"),
    )
    grouped = scored.join(
        labels.withColumnRenamed("node", id_col), [id_col], "left"
    ).select(
        id_col,
        "cluster",
        "centroid_sim",
        F.coalesce(F.col("component"), F.col(id_col)).alias("dup_group"),
    )
    w = Window.partitionBy("dup_group").orderBy(
        F.col("centroid_sim").asc(), F.col(id_col).asc()
    )
    return grouped.select(
        id_col,
        "cluster",
        "dup_group",
        "centroid_sim",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def cluster_outliers(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = 8,
    iters: int = 2,
    outlier_denom: int = 20,
) -> DataFrame:
    """Embedding-space outlier detection: distance-to-centroid rank.

    The curation signal SemDeDup's clustering gives for free: vectors
    FAR from every centroid are the corpus's semantic outliers —
    OCR garbage, off-distribution boilerplate, mislabeled modalities —
    and per-cluster distance ranking is the standard way to surface
    them for audit or exclusion (the complement of dedup, which
    removes the too-close).

    Returns (id_col, cluster, dist_q, is_outlier): dist_q is the
    EXACT integer squared L2 (1e-6-quantized components) between the
    vector and its assigned centroid; is_outlier marks the top
    ``1/outlier_denom`` fraction per cluster by (dist_q desc, id) —
    a rank rule, not a z-score, so the flag is integer-exact and
    engine-reproducible (no mean/std doubles to replay).

    Scale: k-means is the shared `cluster_assign` step (one
    Arrow-matmul job per Lloyd round); the distance join broadcasts
    the k-row codebook; ranking is one window shuffle on the cluster
    id — partitions are cluster-sized, bounded by auto_k's target.
    """
    if outlier_denom < 2:
        raise ValueError(f"outlier_denom must be >= 2, got {outlier_denom}")
    assign, cb = cluster_assign(
        embeddings, id_col=id_col, vec_col=vec_col, k=k, iters=iters
    )
    cb1 = cb.filter(F.col("_sub") == 0).select(
        F.col("code").alias("cluster"), _quant(F.col("centroid")).alias("_cq")
    )
    dist = (
        embeddings.select(
            F.col(id_col), _quant(F.col(vec_col).cast("array<double>")).alias("_vq")
        )
        .join(assign, id_col)
        .join(F.broadcast(cb1), "cluster")
        .select(
            F.col(id_col),
            "cluster",
            _l2sq_q(F.col("_vq"), F.col("_cq")).alias("dist_q"),
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("dist_q").desc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy("cluster")
    return dist.select(
        F.col(id_col),
        "cluster",
        "dist_q",
        (F.row_number().over(w) * outlier_denom <= F.count(F.lit(1)).over(wc)).alias(
            "is_outlier"
        ),
    )
