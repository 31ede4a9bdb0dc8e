"""SemDeDup (operators/semdedup.py): duplicate grouping, the paper's
keep-rule, and cluster-bucketing invariants on crafted embeddings.
"""

from __future__ import annotations

import pytest

from python_stream_processing_framework_spark.operators.semdedup import (
    cluster_assign,
    semdedup,
)


def _mk(base, scale, dim=8):
    return [x * scale for x in base] + [0.0] * (dim - len(base))


@pytest.fixture(scope="module")
def crafted(spark):
    """Two tight duplicate families in opposite orthants plus two
    singletons. Cosine is scale-invariant, so scaled copies are
    exact semantic duplicates (cos = 1)."""
    a = [1.0, 0.9, 0.8, 0.7]
    b = [-1.0, 0.8, -0.6, 0.4]
    rows = [
        (0, _mk(a, 1.0)),
        (1, _mk(a, 0.5)),   # dup of 0
        (2, _mk(a, 2.0)),   # dup of 0
        (3, _mk(b, 1.0)),
        (4, _mk(b, 1.5)),   # dup of 3
        (5, _mk([0.1, -0.9, 0.9, -0.2], 1.0)),  # singleton
        (6, _mk([0.9, -0.1, -0.9, 0.3], 1.0)),  # singleton
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def test_duplicate_families_group_and_keep_one(crafted):
    out = {r["vec_id"]: r for r in semdedup(crafted, k=2, iters=2, eps=0.99).collect()}
    # families share a group labelled by the minimum member id
    assert out[0]["dup_group"] == out[1]["dup_group"] == out[2]["dup_group"] == 0
    assert out[3]["dup_group"] == out[4]["dup_group"] == 3
    # singletons label themselves and are kept
    for v in (5, 6):
        assert out[v]["dup_group"] == v and out[v]["keep"]
    # exactly one keeper per family
    assert sum(out[v]["keep"] for v in (0, 1, 2)) == 1
    assert sum(out[v]["keep"] for v in (3, 4)) == 1
    # the keeper has the LOWEST centroid similarity in its family
    # (ties to the smaller id)
    fam = [(out[v]["centroid_sim"], v) for v in (0, 1, 2)]
    assert out[min(fam)[1]]["keep"]


def test_eps_one_family_only(crafted):
    """Exact duplicates (cos = 1.0) survive even eps = 1.0; nothing
    else does."""
    out = semdedup(crafted, k=2, iters=2, eps=1.0).collect()
    groups = {}
    for r in out:
        groups.setdefault(r["dup_group"], []).append(r["vec_id"])
    dup_groups = {g: m for g, m in groups.items() if len(m) > 1}
    assert sorted(sorted(m) for m in dup_groups.values()) == [[0, 1, 2], [3, 4]]


def test_pairs_are_cluster_bucketed(crafted):
    """Duplicates can only collapse within one k-means cluster —
    members of a dup_group must share a cluster assignment."""
    out = semdedup(crafted, k=2, iters=2, eps=0.99).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["dup_group"], set()).add(r["cluster"])
    assert all(len(cs) == 1 for cs in by_group.values())


def test_cluster_assign_shapes(crafted):
    assign, cb = cluster_assign(crafted, k=2, iters=2)
    rows = assign.collect()
    assert len(rows) == 7
    assert {r["cluster"] for r in rows} <= {0, 1}
    # m=1 codebook: one row per surviving cluster, full-dim centroid
    cents = cb.collect()
    assert all(r["_sub"] == 0 and len(r["centroid"]) == 8 for r in cents)


def test_keep_filter_yields_dedup_corpus(crafted):
    out = semdedup(crafted, k=2, iters=2, eps=0.99)
    kept = sorted(r["vec_id"] for r in out.filter("keep").collect())
    # one per family + both singletons = 4 rows
    assert len(kept) == 4
    assert 5 in kept and 6 in kept


@pytest.mark.slow
def test_auto_k_formula_and_none(crafted):
    from python_stream_processing_framework_spark.operators.semdedup import auto_k

    assert auto_k(0) == 8
    assert auto_k(100) == 8          # floor
    assert auto_k(4096 * 8) == 8     # exactly at the floor boundary
    assert auto_k(4096 * 8 + 1) == 9
    assert auto_k(100_000) == 25     # ceil(100000/4096)
    assert auto_k(100, target_cluster_size=10) == 10
    with pytest.raises(ValueError, match="target_cluster_size"):
        auto_k(10, target_cluster_size=0)
    # k=None end-to-end: 7 vectors -> auto_k floors at 8; result is
    # identical to the explicit k=8 run (the rule is just a default)
    got = sorted(tuple(r) for r in semdedup(crafted, k=None, eps=0.99).collect())
    want = sorted(tuple(r) for r in semdedup(crafted, k=8, eps=0.99).collect())
    assert got == want


@pytest.mark.slow
def test_max_cluster_size_caps_pairing_deterministically(spark):
    """A planted duplicate pair BEYOND the id-ordered cap emits no
    pair under the guard (documented recall trade) but every vector
    keeps its output row; uncapped finds it; the capped result is
    identical across input partitionings."""
    from python_stream_processing_framework_spark.operators.semdedup import (
        _pair_frame,
        _quantized_sigs,
    )

    def pairs(emb, assign, eps, max_cluster_size=None):
        sigs = _quantized_sigs(emb, assign, "vec_id", "embedding")
        return _pair_frame(sigs, "vec_id", eps, max_cluster_size)

    # one cluster's worth of near-orthogonal vectors, with ids 90/91
    # an exact duplicate pair sitting past the cap boundary
    rows = [(i, _mk([1.0, float(i % 7) * 0.1, 0.3, 0.1], 1.0)) for i in range(6)]
    rows += [
        (90, _mk([0.2, 0.9, -0.4, 0.5], 1.0)),
        (91, _mk([0.2, 0.9, -0.4, 0.5], 2.0)),  # dup of 90
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    assign = emb.select("vec_id", (emb.vec_id * 0).cast("int").alias("cluster"))

    uncapped = pairs(emb, assign, eps=0.999)
    assert [(r["id_a"], r["id_b"]) for r in uncapped.collect()] == [(90, 91)]

    capped = pairs(emb, assign, eps=0.999, max_cluster_size=6)
    assert capped.count() == 0

    # cap high enough to include one dup member but not both: still
    # no pair (91 is outside), and repartitioning cannot change that
    capped7 = pairs(emb, assign, eps=0.999, max_cluster_size=7)
    capped7_rep = pairs(
        emb.repartition(5), assign, eps=0.999, max_cluster_size=7
    )
    assert capped7.count() == 0 and capped7_rep.count() == 0

    # the full semdedup pass under the cap: rows for ALL vectors
    out = semdedup(emb, k=8, eps=0.999, max_cluster_size=6)
    assert out.count() == 8
    assert out.filter("keep").count() == 8  # no pair -> everything kept


def test_cluster_outliers_flags_far_points(spark):
    """Two tight clusters + one far point each: exactly the top-1/denom
    by distance per cluster is flagged, ties broken by id."""
    import pytest as _pytest

    from python_stream_processing_framework_spark.operators.semdedup import (
        cluster_outliers,
    )

    rows = []
    # cluster around (0, 0): ids 0..19, one point far out
    for i in range(20):
        rows.append((i, [0.001 * i, 0.0]))
    rows.append((99, [5.0, 0.0]))
    # cluster around (100, 100): ids 100..119, one far point
    for i in range(20):
        rows.append((100 + i, [100.0 + 0.001 * i, 100.0]))
    rows.append((199, [100.0, 90.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cluster_outliers(emb, k=2, iters=2, outlier_denom=21).collect()
    flagged = sorted(r["vec_id"] for r in out if r["is_outlier"])
    assert flagged == [99, 199]
    assert len(out) == len(rows)
    by_id = {r["vec_id"]: r for r in out}
    # the far point's distance strictly dominates its cluster peers
    peers = [r["dist_q"] for r in out if r["cluster"] == by_id[99]["cluster"] and r["vec_id"] != 99]
    assert by_id[99]["dist_q"] > max(peers)
    with _pytest.raises(ValueError, match="outlier_denom"):
        cluster_outliers(emb, outlier_denom=1)


def test_hard_negatives_band_and_rank(spark):
    """Synthetic anchors: a near-dup (cos ~1) must be excluded by the
    hi bound, an easy negative (cos ~0) by the lo bound, and ranks
    are contiguous per anchor."""
    import math

    import pytest as _pytest

    from python_stream_processing_framework_spark.operators.similarity import (
        hard_negatives,
    )

    def unit(angle_deg, dim=64):
        a = math.radians(angle_deg)
        v = [0.0] * dim
        v[0], v[1] = math.cos(a), math.sin(a)
        return v

    emb = spark.createDataFrame(
        [
            (0, unit(0)),       # anchor
            (1, unit(1)),       # cos ~0.9998 -> near-dup, excluded
            (2, unit(45)),      # cos ~0.707 -> hard negative
            (3, unit(60)),      # cos 0.5    -> hard negative
            (4, unit(89)),      # cos ~0.017 -> easy, excluded
        ],
        "vec_id long, embedding array<double>",
    )
    out = hard_negatives(emb, lo=0.4, hi=0.95, per_anchor=3).collect()
    anchor0 = sorted(
        (r["rank"], r["negative_id"]) for r in out if r["vec_id"] == 0
    )
    assert anchor0 == [(1, 2), (2, 3)]
    by_anchor: dict[int, list[int]] = {}
    for r in out:
        by_anchor.setdefault(r["vec_id"], []).append(r["rank"])
    for ranks in by_anchor.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    with _pytest.raises(ValueError, match="lo < hi"):
        hard_negatives(emb, lo=0.9, hi=0.5)
    with _pytest.raises(ValueError, match="per_anchor"):
        hard_negatives(emb, per_anchor=0)
