"""Unit tests for operators not fully covered by the oracle harness:
as-of join, router fan-out, late split, multimodal decode plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from python_stream_processing_framework_spark.operators.joins import as_of_join
from python_stream_processing_framework_spark.operators.multimodal import (
    binarize,
    decode_images,
)
from python_stream_processing_framework_spark.operators.routing import Router
from python_stream_processing_framework_spark.operators.windows import split_late
from tests.conftest import jobs_in


def _ts(spark, rows, cols):
    df = spark.createDataFrame(rows, cols)
    for c in cols:
        if c.endswith("ts"):
            df = df.withColumn(c, F.timestamp_seconds(F.col(c)))
    return df


def test_as_of_join_backward(spark):
    trades = _ts(
        spark,
        [("A", 10.0, 1), ("A", 25.0, 2), ("B", 12.0, 3), ("A", 4.0, 4)],
        ["sym", "ts", "trade_id"],
    )
    quotes = _ts(
        spark,
        [("A", 5.0, 100.0), ("A", 20.0, 101.0), ("B", 1.0, 50.0)],
        ["sym", "ts", "px"],
    )
    out = {
        r["trade_id"]: r["r_px"]
        for r in as_of_join(trades, quotes, "sym", "ts", "ts").collect()
    }
    assert out == {1: 100.0, 2: 101.0, 3: 50.0, 4: None}


def test_as_of_join_tolerance_and_tie(spark):
    left = _ts(spark, [("A", 10.0, 1), ("A", 100.0, 2)], ["k", "ts", "i"])
    right = _ts(spark, [("A", 10.0, 7.0), ("A", 50.0, 8.0)], ["k", "ts", "v"])
    out = {
        r["i"]: r["r_v"]
        for r in as_of_join(left, right, "k", "ts", "ts", tolerance="20 seconds").collect()
    }
    # exact-time tie matches; 100-50=50s exceeds the 20s tolerance
    assert out == {1: 7.0, 2: None}


def test_router_split_first_match_wins(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c")], ["id", "cat"]
    )
    router = (
        Router()
        .add_route(F.col("id") >= 3, "big")
        .add_route(F.col("cat") == "a", "cat_a")  # id>=3 wins over cat
    )
    parts = router.split(df)
    assert sorted(parts) == ["big", "cat_a"]
    assert {r["id"] for r in parts["big"].collect()} == {3, 4}
    assert {r["id"] for r in parts["cat_a"].collect()} == {1, 2}
    # no default: id<3 and cat!=a rows are dropped
    assert df.count() - sum(p.count() for p in parts.values()) == 0


def test_router_default_route(spark):
    df = spark.createDataFrame([(1,), (9,)], ["id"])
    router = Router().add_route(F.col("id") > 5, "hot").default_route("rest")
    tags = {r["id"]: r["route"] for r in router.apply(df).collect()}
    assert tags == {1: "rest", 9: "hot"}


def test_split_late(spark):
    # max ts = 1000s; watermark = 1000 - 100 = 900s; 10s windows;
    # reference rule (pspf/stream.py:402): late iff window END < 900.
    df = _ts(
        spark,
        [(1, 50.0), (2, 889.0), (3, 891.0), (4, 990.0), (5, 1000.0)],
        ["id", "ts"],
    )
    on_time, late = split_late(df, "ts", "10 seconds", "100 seconds")
    assert {r["id"] for r in late.collect()} == {1, 2}  # ends 60, 890 < 900
    # id3's window [890,900) ends exactly AT the watermark: on time.
    assert {r["id"] for r in on_time.collect()} == {3, 4, 5}


def test_multimodal_decode_roundtrip(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "x" * 2500)], ["doc_id", "text"]
    )
    payloads = binarize(docs, "doc_id", "text")
    meta = {r["doc_id"]: r.asDict() for r in decode_images(payloads).collect()}
    assert meta[1]["n_bytes"] == 11
    assert meta[2]["n_bytes"] == 2500
    assert all(64 <= m["width"] < 1984 for m in meta.values())
    assert all(1 <= m["channels"] <= 4 for m in meta.values())
    # deterministic: same payload -> same pseudo-decode
    again = {r["doc_id"]: r.asDict() for r in decode_images(payloads).collect()}
    assert again == meta


def test_decode_stub_raise_mode(spark):
    docs = spark.createDataFrame([(1, "hi")], ["doc_id", "text"])
    payloads = binarize(docs, "doc_id", "text")
    with pytest.raises(Exception, match="NotImplementedError|real image codec"):
        decode_images(payloads, decode_stub="raise").collect()


def test_decode_stub_pil_missing_is_loud(spark):
    """Without Pillow, decode_stub='pil' must fail at PLAN time on
    the driver with an actionable message — not per-task."""
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow installed; the loud-failure path is moot")
    except ImportError:
        pass
    docs = spark.createDataFrame([(1, "hi")], ["doc_id", "text"])
    payloads = binarize(docs, "doc_id", "text")
    with pytest.raises(ImportError, match="Pillow"):
        decode_images(payloads, decode_stub="pil")


# a valid 1x1 red RGB PNG, byte-for-byte (header + IHDR + IDAT + IEND)
_PNG_1PX = bytes.fromhex(
    "89504e470d0a1a0a0000000d49484452000000010000000108020000009077"
    "53de0000000c4944415408d763f8cfc000000301010018dd8db00000000049"
    "454e44ae426082"
)


def test_decode_stub_pil_real_png(spark):
    """With Pillow present (env-gated, like the broker e2e tests),
    decode_stub='pil' reads real dimensions from a real PNG."""
    pytest.importorskip("PIL")
    payloads = spark.createDataFrame(
        [(1, bytearray(_PNG_1PX))], "doc_id bigint, payload binary"
    )
    meta = decode_images(payloads, decode_stub="pil").collect()[0]
    assert (meta["width"], meta["height"], meta["channels"]) == (1, 1, 3)
    assert meta["n_bytes"] == len(_PNG_1PX)


def test_portable_hash_helpers(spark):
    """hash60/hash28_mod are the Column-level forms of the md5-derived
    hashes the operators inline in SQL lambdas; pin their values against
    the DuckDB evaluation so external users get the same portability."""
    import duckdb

    from python_stream_processing_framework_spark.functions import (
        hash28_mod,
        hash60,
    )

    df = spark.createDataFrame([("hello",), ("world",)], ["s"])
    got = {
        r["s"]: (r["h60"], r["h28"])
        for r in df.select(
            "s", hash60("s").alias("h60"), hash28_mod("s").alias("h28")
        ).collect()
    }
    con = duckdb.connect()
    for s, (h60, h28) in got.items():
        d60, d28 = con.execute(
            "SELECT ('0x' || substr(md5(?),1,15))::BIGINT,"
            " ('0x' || substr(md5(?),1,7))::BIGINT % 1000003",
            [s, s],
        ).fetchone()
        assert (h60, h28) == (d60, d28)


def test_ivf_topk_high_dim(spark):
    """Centroid build must be dimension-agnostic (posexplode + two tiny
    shuffles), not `dim` codegen'd aggregate expressions: at dim 256
    the old shape stalled Catalyst analysis. Correctness: with cells
    that cleanly separate two clusters, IVF top-k equals brute force."""
    import math

    from python_stream_processing_framework_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    dim, n = 256, 120
    # two well-separated clusters: cluster c occupies dims [c*8, c*8+8)
    rows = []
    for i in range(n):
        c = i % 4
        v = [0.0] * dim
        for d in range(8):
            v[c * 8 + d] = 1.0 + 0.001 * ((i * 7 + d) % 13)
        rows.append((i, c, v))
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])

    approx = ivf_topk(df, query_id=0, k=5, n_probe=1)
    got = [(r["vec_id"], r["cos_sim"]) for r in approx.collect()]
    assert len(got) == 5
    # query is in cluster 0; probe_1 restricts to label 0, which holds
    # the true top-k too — so IVF must equal exact brute force here
    exact = cosine_topk(df.filter(F.col("label") == 0), query_id=0, k=5)
    want = [(r["vec_id"], r["cos_sim"]) for r in exact.collect()]
    assert got == want


def test_spread_noop_on_wide_input(spark):
    """spread() must NOT insert an Exchange when the input is already
    at least as wide as the target parallelism — at 100 TB an
    unconditional repartition is a gratuitous full shuffle."""
    from python_stream_processing_framework_spark.operators.dedup import spread

    wide = spark.range(0, 1000).repartition(64)
    assert spread(wide) is wide  # untouched: no Exchange added at all

    narrow = spark.range(0, 1000).coalesce(1)
    spread_out = spread(narrow)
    assert spread_out.rdd.getNumPartitions() >= min(
        8, spark.sparkContext.defaultParallelism
    )


@pytest.mark.parametrize("threshold", [100_000, 0])
def test_connected_components_chain_and_islands(spark, threshold):
    """A 6-node path (diameter 5, forces multiple propagation rounds),
    a triangle, and a lone pair must each collapse to their min id —
    on BOTH paths: the driver union-find (threshold default) and the
    distributed propagation (threshold 0)."""
    from python_stream_processing_framework_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        # path 10-11-12-13-14-15, triangle 20-21-22, pair 30-31
        [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15),
         (20, 21), (21, 22), (20, 22), (31, 30)],
        ["src", "dst"],
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            edges, driver_threshold_edges=threshold
        ).collect()
    }
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }


def test_connected_components_durable_checkpoint(spark, tmp_path):
    """With a checkpoint dir configured (the cluster deployment),
    lineage truncation must use fault-tolerant checkpoint() — files
    appear under the dir — and results stay identical."""
    from python_stream_processing_framework_spark.operators.graph import (
        connected_components,
    )

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckpt = tmp_path / "cc-ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        edges = spark.createDataFrame(
            [(10, 11), (11, 12), (20, 21)], ["src", "dst"]
        )
        # threshold 0: the driver fast path writes no checkpoints —
        # this test pins the DISTRIBUTED loop's durable truncation
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                edges, driver_threshold_edges=0
            ).collect()
        }
        assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
        # durable snapshots actually landed on disk
        assert any(ckpt.rglob("*")), "no checkpoint files written"
    finally:
        # unset for the rest of the suite (localCheckpoint fallback);
        # the scala setter is named `checkpointDir_$eq` (no python API)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None


def test_connected_components_string_ids_distributed_path(spark):
    """Crawl corpora key the dedup graph by STRING doc ids; the
    distributed loop must handle them (its _old null sentinel once
    hardcoded long, which coerced the label column to BIGINT and
    failed with CAST_INVALID_INPUT past the driver fast path).
    Doubling rounds included (double_from=0 exercises the shortcut
    join on strings too)."""
    from python_stream_processing_framework_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [
            ("doc-b", "doc-a"),
            ("doc-c", "doc-b"),
            ("doc-x", "doc-y"),
            ("doc-z", "doc-z"),
        ],
        ["src", "dst"],
    )
    expected = {
        "doc-a": "doc-a",
        "doc-b": "doc-a",
        "doc-c": "doc-a",
        "doc-x": "doc-x",
        "doc-y": "doc-x",
        "doc-z": "doc-z",
    }
    for kw in ({}, {"double_from": 0}):
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                edges, driver_threshold_edges=0, **kw
            ).collect()
        }
        assert got == expected
    # and the driver fast path agrees on the same string graph
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == expected


def test_connected_components_unconverged_raises(spark):
    from python_stream_processing_framework_spark.operators.graph import (
        connected_components,
    )
    import pytest

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    # driver union-find always converges; force the iterative path
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(edges, max_iter=1, driver_threshold_edges=0)


def test_hash_split_partition_invariant(spark):
    """Split membership must not depend on partitioning — the property
    randomSplit lacks and the reason this operator exists."""
    from python_stream_processing_framework_spark.operators.sampling import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", w).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(df.repartition(17), "doc_id", w).collect()
    }
    assert a == b
    counts = {s: sum(1 for v in a.values() if v == s) for s in w}
    assert sum(counts.values()) == 2000
    assert 1520 < counts["train"] < 1680  # ~80% +/- 4 sigma of uniform-hash noise


def test_stratified_sample_nested(spark):
    """At the same seed a larger fraction's sample must be a superset
    of a smaller fraction's (nested samples for ablations)."""
    from python_stream_processing_framework_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2).cast("string").alias("g")
    )
    small = {
        r["doc_id"]
        for r in stratified_sample(df, "g", {}, "doc_id", default_fraction=0.1).collect()
    }
    big = {
        r["doc_id"]
        for r in stratified_sample(df, "g", {}, "doc_id", default_fraction=0.3).collect()
    }
    assert small < big
    assert 70 <= len(small) <= 130 and 250 <= len(big) <= 350


def test_weighted_sample_matches_brute_force_reference(spark):
    """A-ES selection must equal a sequential reference: same md5 unit
    hash, same ln(u)/w key, same micro-quantization, same tie rule."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from python_stream_processing_framework_spark.operators.sampling import (
        HASH_SPACE,
        weighted_sample,
    )

    rows = [(i, float(1 + (i * 7) % 50)) for i in range(400)]
    rows += [(400, 0.0), (401, -3.0)]  # non-positive weights excluded
    df = spark.createDataFrame(rows, ["doc_id", "w"]).repartition(8)

    def ref_key(doc_id: int, w: float) -> int:
        h = int(hashlib.md5(f"{doc_id}#s9".encode()).hexdigest()[:15], 16)
        u = (h + 1) / HASH_SPACE
        return int(
            Decimal((math.log(u) / w) * 1e6).quantize(0, rounding=ROUND_HALF_UP)
        )

    expect = sorted(
        ((ref_key(i, w), i) for i, w in rows if w > 0), key=lambda t: (-t[0], t[1])
    )[:30]
    got = weighted_sample(df, "doc_id", "w", 30, seed="s9").collect()
    assert [(r["es_key_micro"], r["doc_id"]) for r in got] == expect

    plan = (
        weighted_sample(df, "doc_id", "w", 30, seed="s9")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan  # local top-n, no global sort


def test_weighted_sample_favors_heavy_rows(spark):
    """Across seeds, a row with 50x the weight of the others must be
    selected far more often — the proportional-inclusion semantics."""
    from python_stream_processing_framework_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(i, 50.0 if i == 0 else 1.0) for i in range(200)], ["doc_id", "w"]
    )
    hits = sum(
        any(r["doc_id"] == 0 for r in weighted_sample(df, "doc_id", "w", 20, seed=f"s{k}").collect())
        for k in range(12)
    )
    # P(include | w=50 vs 199 unit weights, n=20) ~ 1 - (1-20/249)^50 ~ .98
    assert hits >= 10


def test_repetition_stats_crafted(spark):
    from python_stream_processing_framework_spark.operators.text import (
        repetition_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "a a a b a"),          # run of 3 'a', dup frac 3/5
            (2, "x y x y x y"),        # top bigram 'x y' 3 of 5, max_run 1
            (3, "solo"),               # dropped: < 2 tokens
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert set(got) == {1, 2}
    assert got[1]["max_run"] == 3
    assert got[1]["dup_word_frac"] == 3 / 5
    assert got[2]["max_run"] == 1
    assert got[2]["top_bigram_frac"] == 3 / 5
    assert got[1]["top_bigram_frac"] == 2 / 4  # 'a a' twice of 4 bigrams


def test_bucket_gapfill_locf_crafted(spark):
    from python_stream_processing_framework_spark.operators.timeseries import (
        bucket_gapfill,
    )

    # key 'a': events in buckets 0 and 3 (10s buckets) -> gaps at 1, 2
    df = spark.createDataFrame(
        [("a", 5.0, 1.0), ("a", 8.0, 2.0), ("a", 35.0, 7.0), ("b", 12.0, 4.0)],
        ["k", "ts", "value"],
    ).withColumn("ts", F.timestamp_seconds(F.col("ts")))
    out = bucket_gapfill(df, "ts", "k", "value", 10, locf=True)
    rows = {(r["k"], r["bucket_start_s"]): r for r in out.collect()}
    assert set(rows) == {("a", 0), ("a", 10), ("a", 20), ("a", 30), ("b", 10)}
    assert rows[("a", 0)]["n_events"] == 2
    assert rows[("a", 0)]["sum_value"] == 3.0
    for gap in (10, 20):  # synthesized, LOCF carries 3.0 forward
        assert rows[("a", gap)]["filled"] is True
        assert rows[("a", gap)]["n_events"] == 0
        assert rows[("a", gap)]["sum_value"] == 3.0
    assert rows[("a", 30)]["sum_value"] == 7.0
    assert rows[("b", 10)]["filled"] is False

    nolocf = bucket_gapfill(df, "ts", "k", "value", 10, locf=False)
    gaps = {r["bucket_start_s"]: r["sum_value"]
            for r in nolocf.filter(F.col("filled")).collect()}
    assert gaps == {10: None, 20: None}


def test_range_join_boundaries_and_left(spark):
    from python_stream_processing_framework_spark.operators.joins import range_join

    # points at 0s, 3599s, 3600s, 7200s; intervals are half-open
    pts = _ts(
        spark,
        [(0.0, 1), (3599.0, 2), (3600.0, 3), (7200.0, 4)],
        ["ts", "pid"],
    )
    iv = _ts(
        spark,
        [(0.0, 3600.0, 10), (3600.0, 7200.0, 11), (9000.0, 9000.0, 12)],
        ["start_ts", "end_ts", "iid"],
    )
    inner = {
        (r["pid"], r["iid"])
        for r in range_join(pts, iv, "ts", "start_ts", "end_ts", bucket="30 minutes").collect()
    }
    # start inclusive, end exclusive; empty interval 12 matches nothing
    assert inner == {(1, 10), (2, 10), (3, 11)}

    left = {
        (r["pid"], r["iid"])
        for r in range_join(
            pts, iv, "ts", "start_ts", "end_ts", bucket="30 minutes", how="left"
        ).collect()
    }
    assert left == {(1, 10), (2, 10), (3, 11), (4, None)}

    with pytest.raises(ValueError, match="right/full outer"):
        range_join(pts, iv, "ts", "start_ts", "end_ts", how="full")


def test_range_join_overlapping_intervals_no_dups(spark):
    from python_stream_processing_framework_spark.operators.joins import range_join

    # one point inside two overlapping multi-bucket intervals: exactly
    # one output row per (point, interval) pair despite the explode
    pts = _ts(spark, [(5000.0, 1)], ["ts", "pid"])
    iv = _ts(
        spark,
        [(0.0, 10000.0, 20), (4000.0, 6000.0, 21)],
        ["start_ts", "end_ts", "iid"],
    )
    rows = range_join(pts, iv, "ts", "start_ts", "end_ts", bucket="10 minutes").collect()
    assert sorted((r["pid"], r["iid"]) for r in rows) == [(1, 20), (1, 21)]


def test_quantize_int8_crafted(spark):
    from pyspark.sql.types import ArrayType, FloatType

    from python_stream_processing_framework_spark.operators.similarity import (
        int8_mips_topk,
        quantize_int8,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    df = spark.createDataFrame(
        [
            (0, [1.0, -2.0, 4.0]),     # maxabs=4 -> q=[32,-64,127], scale=4/127
            (1, [0.0, 0.0, 0.0]),      # zero vector -> zeros, scale 0
            (2, [-0.5, 0.25, 0.5]),    # maxabs=0.5 -> q=[-127,64,127]
        ],
        schema,
    )
    out = {r["vec_id"]: (r["q"], r["scale"]) for r in quantize_int8(df).collect()}
    assert out[0][0] == [32, -64, 127] and abs(out[0][1] - 4 / 127) < 1e-12
    assert out[1] == ([0, 0, 0], 0.0)
    assert out[2][0] == [-127, 64, 127]
    # symmetric range: no value outside [-127, 127]
    assert all(-127 <= x <= 127 for q, _ in out.values() for x in q)

    # MIPS against vec 0: dot(q2,q0) = 32*-127 + -64*64 + 127*127
    #                                = -4064 - 4096 + 16129 = 7969
    top = int8_mips_topk(df, query_id=0, k=2).collect()
    assert [(r["vec_id"], r["dot_q"]) for r in top] == [(2, 7969), (1, 0)]


def test_pii_stats_and_redaction_crafted(spark):
    from python_stream_processing_framework_spark.operators.text import (
        pii_stats,
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "mail a.b+tag@corp.example.io or 555-123-4567 srv 10.0.0.1"),
            (2, "host a@555-123-4567.example.com stays one email"),
            (3, "clean text, no identifiers at all"),
            (4, "two mails x@y.co z@w.io and 999.999.999.999"),
            (5, "pay 4111-1111-1111-1111 not 4111 1111 1111 1112 ok"),
            (6, "addr fe80:0000:0000:0000:0202:b3ff:fe1e:8329 up"),
        ],
        ["doc_id", "text"],
    )
    stats = {r["doc_id"]: r for r in pii_stats(df, "doc_id", "text").collect()}
    assert (stats[1]["n_email"], stats[1]["n_ipv4"], stats[1]["n_phone"]) == (1, 1, 1)
    assert stats[1]["n_pii"] == 3
    # Luhn gate: the valid card counts, the checksum-failing one doesn't
    assert stats[5]["n_ccard"] == 1
    assert stats[5]["n_pii"] == 1
    assert stats[6]["n_ipv6"] == 1 and stats[6]["n_ipv4"] == 0
    # digits inside a matched email host must NOT also count... stats
    # counts are per-pattern independent (redaction order resolves the
    # overlap); the phone IS present as a span:
    assert stats[2]["n_email"] == 1
    assert stats[3]["n_pii"] == 0
    assert (stats[4]["n_email"], stats[4]["n_ipv4"]) == (2, 1)

    red = {
        r["doc_id"]: r["red"]
        for r in redact_pii(df, "text", output_col="red").collect()
    }
    assert red[1] == "mail [EMAIL] or [PHONE] srv [IPV4]"
    # email applied FIRST: the host's phone-shaped digits are already
    # inside the [EMAIL] token, so no nested [PHONE] appears
    assert red[2] == "host [EMAIL] stays one email"
    assert red[3] == df.collect()[2]["text"]
    assert "[EMAIL]" in red[4] and "[IPV4]" in red[4]
    # valid card redacted; Luhn-invalid survives verbatim
    assert red[5] == "pay [CCARD] not 4111 1111 1111 1112 ok"
    assert red[6] == "addr [IPV6] up"


def test_url_domains_and_blocklist(spark):
    from python_stream_processing_framework_spark.operators.text import (
        extract_url_domains,
        filter_url_blocklist,
    )

    df = spark.createDataFrame(
        [
            (1, "see https://Spam.Example.org/a and https://spam.example.org/b"),
            (2, "ok https://fine.example.com/x http://fine.example.com:8080/y"),
            (3, "no urls here"),
        ],
        ["doc_id", "text"],
    )
    hosts = sorted(
        (r["doc_id"], r["domain"])
        for r in extract_url_domains(df, "doc_id", "text").collect()
    )
    # lowercased, duplicates kept, port stripped from host
    assert hosts == [
        (1, "spam.example.org"),
        (1, "spam.example.org"),
        (2, "fine.example.com"),
        (2, "fine.example.com"),
    ]
    bl = spark.createDataFrame([("spam.example.org",)], ["domain"])
    kept = sorted(
        r["doc_id"]
        for r in filter_url_blocklist(df, "doc_id", "text", bl).collect()
    )
    assert kept == [2, 3]
    # blocklist side must broadcast: the corpus never shuffles
    plan = (
        filter_url_blocklist(df, "doc_id", "text", bl)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_url_userinfo_cannot_bypass_blocklist(spark):
    """https://x@spam.example.org must extract host spam.example.org
    (not 'x@spam.example.org'), else a one-character userinfo prefix
    evades the blocklist equi-join."""
    from python_stream_processing_framework_spark.operators.text import (
        extract_url_domains,
        filter_url_blocklist,
    )

    df = spark.createDataFrame(
        [(1, "link https://x@spam.example.org/payload here")],
        ["doc_id", "text"],
    )
    hosts = [r["domain"] for r in extract_url_domains(df, "doc_id", "text").collect()]
    assert hosts == ["spam.example.org"]
    bl = spark.createDataFrame([("spam.example.org",)], ["domain"])
    assert filter_url_blocklist(df, "doc_id", "text", bl).count() == 0


def test_url_authority_parsing_resists_bypass_variants(spark):
    """RFC-3986 authority semantics: host = what follows the LAST '@'
    before the first '/', '?' or '#'. Each row is a bypass attempt the
    naive patterns fell for."""
    from python_stream_processing_framework_spark.operators.text import (
        extract_url_domains,
    )

    cases = [
        (1, "https://x@spam.example.org/p", "spam.example.org"),
        (2, "https://u:p@spam.example.org/p", "spam.example.org"),
        (3, "https://a@b@spam.example.org/p", "spam.example.org"),
        (4, "https://spam.example.org?a@x", "spam.example.org"),
        (5, "https://spam.example.org#a@x", "spam.example.org"),
        (6, "https://spam.example.org:8080/p", "spam.example.org"),
        (7, "https://spam.example.org", "spam.example.org"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases], ["doc_id", "text"])
    got = {
        r["doc_id"]: r["domain"]
        for r in extract_url_domains(df, "doc_id", "text").collect()
    }
    assert got == {i: want for i, _, want in cases}


def test_l2_normalize_and_mean_pool(spark):
    from pyspark.sql import functions as F

    from python_stream_processing_framework_spark.functions.vectors import (
        dot,
        l2_normalize,
    )
    from python_stream_processing_framework_spark.operators.similarity import (
        mean_pool,
    )

    df = spark.createDataFrame(
        [("a", [3.0, 4.0]), ("z", [0.0, 0.0])], ["id", "embedding"]
    )
    rows = {
        r["id"]: r["u"]
        for r in df.select(
            "id", l2_normalize(F.col("embedding")).alias("u")
        ).collect()
    }
    assert rows["a"] == [0.6, 0.8]
    # zero vector nulls out instead of NaN-poisoning downstream aggs
    assert rows["z"] == [None, None]
    # on unit vectors cosine IS the dot product
    unit = df.filter("id = 'a'").select(
        dot(
            l2_normalize(F.col("embedding")), l2_normalize(F.col("embedding"))
        ).alias("d")
    ).collect()[0]["d"]
    assert abs(unit - 1.0) < 1e-12

    # chunk -> doc pooling: exact means on exactly-representable values
    chunks = spark.createDataFrame(
        [
            ("d1", [1.0, 2.0]),
            ("d1", [3.0, 6.0]),
            ("d2", [4.0, 0.0]),
            ("d3", None),
        ],
        ["doc", "embedding"],
    )
    pooled = {
        r["doc"]: r["embedding"]
        for r in mean_pool(chunks, ["doc"]).collect()
    }
    assert pooled == {"d1": [2.0, 4.0], "d2": [4.0, 0.0]}  # d3 dropped
    # dimension-agnostic single-shuffle shape: one exchange on
    # (group, pos) + the final per-group rebuild
    plan = (
        mean_pool(chunks, ["doc"])._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") <= 2


def test_late_cutoff_end_ms_all_specs(spark):
    """The per-row lateness boundary used by Stream.window(late_topic):
    tumbling = own window end; sliding = NEWEST containing window's
    end; session = ts + gap. Checked against hand arithmetic."""
    from pyspark.sql import functions as F

    from python_stream_processing_framework_spark.streaming.windows import (
        SessionWindow,
        SlidingWindow,
        TumblingWindow,
        late_cutoff_end_ms,
    )

    df = spark.createDataFrame([(0,), (9_999,), (10_000,), (25_500,)], ["ts_ms"])

    def cutoffs(spec):
        return [
            r["c"]
            for r in df.select(
                late_cutoff_end_ms(spec, F.col("ts_ms")).alias("c")
            ).orderBy("ts_ms").collect()
        ]

    # tumbling 10s: ends at the next boundary
    assert cutoffs(TumblingWindow(10_000)) == [10_000, 10_000, 20_000, 30_000]
    # sliding 10s every 5s: newest window containing ts starts at
    # floor(ts/5000)*5000 and ends size later
    assert cutoffs(SlidingWindow(10_000, 5_000)) == [
        10_000,  # newest window [5000?..] no: floor(0/5000)*5000+10000
        15_000,  # floor(9999/5000)=1 -> 5000+10000
        20_000,  # floor(10000/5000)=2 -> 10000+10000
        35_000,  # floor(25500/5000)=5 -> 25000+10000
    ]
    # session gap 5s: the event's own singleton-session end
    assert cutoffs(SessionWindow(5_000)) == [5_000, 14_999, 15_000, 30_500]


def test_chunk_documents_boundaries_and_overlap(spark):
    from python_stream_processing_framework_spark.operators.text import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),
            (2, "a b c"),  # shorter than a chunk: exactly one
            (3, ""),  # blank: dropped entirely
        ],
        ["doc_id", "text"],
    )
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(
            docs, "doc_id", "text", chunk_tokens=4, overlap=1
        ).collect()
    )
    # stride 3 over 10 tokens -> ceil(9/3)=3 chunks at starts 0/3/6;
    # consecutive chunks share exactly `overlap` tokens and the union
    # covers every token
    assert rows == [
        (1, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 4, "t3 t4 t5 t6"),
        (1, 2, 4, "t6 t7 t8 t9"),
        (2, 0, 3, "a b c"),
    ]


def test_chunk_documents_tail_and_validation(spark):
    import pytest as _pytest

    from python_stream_processing_framework_spark.operators.text import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(11)))], ["doc_id", "text"]
    )
    rows = sorted(
        (r["chunk_id"], r["n_chunk_tokens"])
        for r in chunk_documents(
            docs, "doc_id", "text", chunk_tokens=4, overlap=1
        ).collect()
    )
    # 11 tokens -> starts 0/3/6/9; the final PARTIAL chunk keeps the
    # tail (2 tokens), never silently truncates it
    assert rows == [(0, 4), (1, 4), (2, 4), (3, 2)]

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_gopher_quality_flags_rules(spark):
    from python_stream_processing_framework_spark.operators.text import (
        gopher_quality_flags,
    )

    good = (
        "the quick brown fox and the lazy dog have fun with words that "
        "flow along nicely today because nothing here trips any rule "
    ) * 3  # ~66 words, stopword-rich, no bullets/symbols
    docs = spark.createDataFrame(
        [
            (1, good.strip()),
            (2, "too short to pass the word count"),
            (3, "\n".join("- bullet line item here" for _ in range(10))),
            (4, ("#tag " * 60).strip()),
            (5, (("123 456 " * 30).strip())),
            (6, ("zzz qqq xxx vvv www " * 12).strip()),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_quality_flags(docs, "doc_id", "text").collect()
    }
    assert got[1]["gopher_pass"] is True
    assert got[2]["ok_word_count"] is False and got[2]["gopher_pass"] is False
    assert got[3]["ok_bullet_lines"] is False  # 100% bullet lines
    assert got[4]["ok_symbol_ratio"] is False  # one '#' per word
    assert got[5]["ok_alpha_words"] is False  # no letters at all
    assert got[6]["ok_stopwords"] is False  # no Gopher stop words
    # per-rule flags are reported, not silently folded: the schema
    # carries one boolean per published rule plus the conjunction
    assert {k for k in got[1] if k.startswith("ok_")} == {
        "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio",
        "ok_bullet_lines", "ok_ellipsis_lines", "ok_alpha_words",
        "ok_stopwords",
    }


def test_gopher_quality_flags_duckdb_replay(spark):
    """Independent DuckDB replay of the full rule battery on the real
    documents table — the same dual-engine discipline as the catalog
    oracles, kept in-test because the registry is capped at 50."""
    import duckdb

    from python_stream_processing_framework_spark.catalog import load
    from python_stream_processing_framework_spark.operators.text import (
        GOPHER_STOPWORDS,
        gopher_quality_flags,
    )
    from tests.conftest import SF_SMOKE

    (docs,) = load(spark, SF_SMOKE, "documents")
    got = sorted(
        tuple(r) for r in gopher_quality_flags(docs, "doc_id", "text")
        .select(
            "doc_id", "n_words", "ok_word_count", "ok_mean_word_len",
            "ok_symbol_ratio", "ok_bullet_lines", "ok_ellipsis_lines",
            "ok_alpha_words", "ok_stopwords", "gopher_pass",
        )
        .collect()
    )
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    expect = sorted(
        tuple(r)
        for r in con.execute(
            f"""
            WITH t AS (
              SELECT doc_id, text,
                     string_split(trim(text), ' ') AS words,
                     string_split(text, chr(10)) AS lines,
                     string_split(trim(lower(text)), ' ') AS toks
              FROM documents),
            c AS (
              SELECT doc_id,
                CAST(len(words) AS BIGINT) AS n_words,
                len(words) BETWEEN 50 AND 100000 AS ok_word_count,
                CAST(list_sum(list_transform(words, w -> length(w)))
                     AS DOUBLE) / len(words) BETWEEN 3.0 AND 10.0
                  AS ok_mean_word_len,
                CAST(length(text) - length(replace(text, '#', ''))
                     + len(regexp_extract_all(text, '\\.\\.\\.|…'))
                     AS DOUBLE) / len(words) < 0.1 AS ok_symbol_ratio,
                CAST(len(list_filter(lines,
                       l -> regexp_matches(ltrim(l), '^[-*•]')))
                     AS DOUBLE) / len(lines) < 0.9 AS ok_bullet_lines,
                CAST(len(list_filter(lines,
                       l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))
                     AS DOUBLE) / len(lines) < 0.3 AS ok_ellipsis_lines,
                CAST(len(list_filter(words,
                       w -> regexp_matches(w, '[A-Za-z]')))
                     AS DOUBLE) / len(words) >= 0.8 AS ok_alpha_words,
                len(list_intersect(list_distinct(toks), [{stops}])) >= 2
                  AS ok_stopwords
              FROM t)
            SELECT doc_id, n_words,
                   coalesce(ok_word_count, FALSE),
                   coalesce(ok_mean_word_len, FALSE),
                   coalesce(ok_symbol_ratio, FALSE),
                   coalesce(ok_bullet_lines, FALSE),
                   coalesce(ok_ellipsis_lines, FALSE),
                   coalesce(ok_alpha_words, FALSE),
                   coalesce(ok_stopwords, FALSE),
                   coalesce(ok_word_count AND ok_mean_word_len
                     AND ok_symbol_ratio AND ok_bullet_lines
                     AND ok_ellipsis_lines AND ok_alpha_words
                     AND ok_stopwords, FALSE)
            FROM c
            """
        ).fetchall()
    )
    assert got == expect


def test_normalize_text_unicode_folding(spark):
    from python_stream_processing_framework_spark.operators.text import (
        normalize_text,
    )

    docs = spark.createDataFrame(
        [
            (1, "cafe\u0301 vs caf\u00e9"),  # combining vs precomposed
            (2, "\ufb01le \uff46\uff55\uff4c\uff4c"),  # ligature + full-width
            (3, "zero\u200bwidth\u200d joined\ufeff"),
            (4, "tabs\tand\nnewlines \u0007  kept"),  # bell stripped
            (5, None),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["text"]
        for r in normalize_text(docs, "text").collect()
    }
    # NFKC: combining accent composes; ligature/full-width fold to ASCII
    assert got[1] == "caf\u00e9 vs caf\u00e9"
    assert got[2] == "file full"
    # zero-width and BOM stripped entirely
    assert got[3] == "zerowidth joined"
    # control char gone; whitespace runs collapsed to single spaces
    assert got[4] == "tabs and newlines kept"
    assert got[5] is None
    # idempotent: normalizing normalized text is a no-op
    again = {
        r["doc_id"]: r["text"]
        for r in normalize_text(normalize_text(docs, "text"), "text").collect()
    }
    assert again == got
    # dedup motivation: byte-different renderings now compare equal
    assert got[1].split(" ")[0] == got[1].split(" ")[2]


def test_compression_ratio_orders_quality(spark):
    from python_stream_processing_framework_spark.operators.text import (
        compression_ratio,
    )

    import random

    rng = random.Random(7)
    rand_txt = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
        for _ in range(200)
    )
    prose = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain stays mainly on the plain and every sentence adds "
        "a little new information to the document "
    ) * 5
    repeats = "spam ham " * 400
    docs = spark.createDataFrame(
        [(1, rand_txt), (2, prose), (3, repeats), (4, ""), (5, None)],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in compression_ratio(docs, "doc_id", "text").collect()
    }
    # the documented ordering: repeats << prose < random
    assert got[3]["compression_ratio"] < got[2]["compression_ratio"]
    assert got[2]["compression_ratio"] < got[1]["compression_ratio"]
    assert got[3]["compression_ratio"] < 0.05
    assert got[1]["compression_ratio"] > 0.5
    # raw sizes exact; empty/null degrade to null ratio, not a crash
    assert got[2]["n_bytes_raw"] == len(prose.encode())
    assert got[4]["compression_ratio"] is None
    assert got[5]["n_bytes_raw"] is None


def test_normalize_text_composition_constraint(spark):
    """Pin the documented constraint: normalize over a plain column
    composes with downstream JVM expressions (normalize-first order),
    while applying the UDF on top of a lambda-heavy expression chain
    (redact_pii's Luhn fold) fails plan generation with Spark's
    INTERNAL_ERROR — so a regression that silently reorders the
    example's stages fails loudly here instead."""
    import pytest as _pytest
    from pyspark.sql.utils import CapturedException

    from python_stream_processing_framework_spark.operators.text import (
        normalize_text,
        redact_pii,
    )

    df = spark.createDataFrame(
        [(i, f"mail a{i}@x.com data") for i in range(20)], ["doc_id", "text"]
    )
    good = redact_pii(normalize_text(df, "text"), "text")
    assert good.groupBy(F.md5("text")).count().count() >= 1

    bad = normalize_text(redact_pii(df, "text"), "text")
    with _pytest.raises(Exception, match="INTERNAL_ERROR|Cannot generate"):
        bad.groupBy(F.md5("text")).count().count()


def test_bpe_token_stats_crafted(spark):
    from python_stream_processing_framework_spark.operators.text import (
        bpe_token_stats,
    )

    docs = spark.createDataFrame(
        [
            # 4 letter-runs, 1 number-run, 1 contraction, 2 punct runs
            (1, "It's over 9000!! ok then"),
            (2, ""),
            (3, "a-b c"),  # letters a,b,c + one '-' punct run
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r for r in bpe_token_stats(docs, "doc_id", "text").collect()
    }
    r1 = rows[1]
    assert r1["n_word_tokens"] == 4  # It, over, ok, then
    assert r1["n_num_tokens"] == 1  # 9000
    assert r1["n_contraction_tokens"] == 1  # 's
    assert r1["n_punct_tokens"] == 1  # !!
    assert r1["n_bpe_tokens"] == 7
    assert r1["n_ws_tokens"] == 5
    assert r1["n_chars"] == len("It's over 9000!! ok then")
    r2 = rows[2]
    assert r2["n_bpe_tokens"] == 0 and r2["n_punct_tokens"] == 0
    r3 = rows[3]
    assert r3["n_word_tokens"] == 3
    assert r3["n_punct_tokens"] == 1
    assert r3["n_bpe_tokens"] == 4


def test_frequent_ngrams_doc_freq_and_tiebreak(spark):
    from python_stream_processing_framework_spark.operators.text import (
        frequent_ngrams,
    )

    docs = spark.createDataFrame(
        [
            # "a b c" appears in docs 1,2,3; repeated within doc 1 —
            # doc frequency must count it 3, not 4
            (1, "a b c x a b c"),
            (2, "a b c y"),
            (3, "z a b c"),
            # "b c x" in docs 1 only -> pruned by min_df=2
            (4, "p q r"),
            (5, "p q r"),
        ],
        "doc_id int, text string",
    )
    out = frequent_ngrams(
        docs, "doc_id", "text", n=3, top_k=10, min_df=2
    ).collect()
    got = [(r["ngram"], r["doc_freq"]) for r in out]
    assert got[0] == ("a b c", 3)
    # tie at df=2: lexicographic ngram order breaks it
    assert got[1:] == [("p q r", 2)]
    # short docs: n=3 over a 2-token doc contributes nothing, no error
    short = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    assert frequent_ngrams(short, "doc_id", "text", n=3, top_k=5, min_df=1).count() == 0


def test_kmeans_clusters_partition_property(spark):
    from python_stream_processing_framework_spark.queries.pq import (
        kmeans_clusters,
    )
    from tests.conftest import SF_SMOKE

    out = kmeans_clusters(spark, SF_SMOKE).collect()
    total = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    )
    # every vector assigned exactly once
    assert len(out) == total
    assert len({r["vec_id"] for r in out}) == total
    # cluster_size is consistent with the actual assignment
    from collections import Counter

    sizes = Counter(r["cluster"] for r in out)
    for r in out:
        assert r["cluster_size"] == sizes[r["cluster"]]


def test_classifier_train_weights_crafted(spark):
    from python_stream_processing_framework_spark.operators.classifier import (
        classifier_score,
        classifier_train,
    )
    import pytest as _pytest

    docs = spark.createDataFrame(
        [
            (1, "good good stuff", True),  # presence: good counted once
            (2, "good other", True),
            (3, "bad stuff", False),
            (4, "bad other", False),
        ],
        "doc_id int, text string, y boolean",
    )
    w = {
        r["token"]: r
        for r in classifier_train(docs, "doc_id", "text", "y").collect()
    }
    # 'good': 2 pos, 0 neg -> (2+1)*1e6 DIV 4 = 750000
    assert (w["good"]["n_pos"], w["good"]["n_neg"]) == (2, 0)
    assert w["good"]["w_micro"] == 750_000
    # 'bad': 0 pos, 2 neg -> 1e6 DIV 4 = 250000
    assert w["bad"]["w_micro"] == 250_000
    # 'stuff'/'other': 1 each -> exactly neutral
    assert w["stuff"]["w_micro"] == 500_000
    assert w["other"]["w_micro"] == 500_000

    scored = {
        r["doc_id"]: r
        for r in classifier_score(
            docs, classifier_train(docs, "doc_id", "text", "y"), "doc_id", "text"
        ).collect()
    }
    # doc 1: tokens good, stuff -> (750000 + 500000) DIV 2
    assert scored[1]["n_matched"] == 2
    assert scored[1]["score_micro"] == 625_000
    assert scored[3]["score_micro"] == 375_000

    with _pytest.raises(ValueError, match="smoothing"):
        classifier_train(docs, "doc_id", "text", "y", smoothing=0)


def test_classifier_separates_when_label_has_signal(spark):
    """When the weak label correlates with vocabulary, the scorer
    must separate the classes by a wide margin — the mean-posterior
    score carries real signal, not just plumbing. (The driver-catalog
    row scores the synthetic corpus, whose `lang` column does NOT
    control the words — there the oracle validates exactness; signal
    is validated here, on a corpus that has some.)"""
    import random

    from python_stream_processing_framework_spark.operators.classifier import (
        classifier_score,
        classifier_train,
    )

    rng = random.Random(7)
    pos_vocab = [f"p{i}" for i in range(30)]
    neg_vocab = [f"n{i}" for i in range(30)]
    shared = [f"s{i}" for i in range(20)]
    rows = []
    for i in range(120):
        y = i % 2 == 0
        own = pos_vocab if y else neg_vocab
        toks = rng.choices(own, k=12) + rng.choices(shared, k=8)
        rng.shuffle(toks)
        rows.append((i, " ".join(toks), y))
    docs = spark.createDataFrame(rows, "doc_id int, text string, y boolean")
    scored = classifier_score(
        docs, classifier_train(docs, "doc_id", "text", "y"), "doc_id", "text"
    ).join(docs.select("doc_id", "y"), "doc_id")
    out = scored.collect()
    pos = [r["score_micro"] for r in out if r["y"]]
    neg = [r["score_micro"] for r in out if not r["y"]]
    assert len(pos) == 60 and len(neg) == 60
    # class vocabularies are near-exclusive: every pos doc must beat
    # every neg doc, not just on average
    assert min(pos) > max(neg)
    assert sum(pos) / len(pos) > sum(neg) / len(neg) + 200_000


def test_classifier_exchange_regime_matches_broadcast_regime(spark):
    """broadcast_row_cap=0 forces the weight join into the plain
    equi-join regime; scores must be identical to the hinted path."""
    from python_stream_processing_framework_spark.operators.classifier import (
        classifier_score,
        classifier_train,
    )

    docs = spark.createDataFrame(
        [(1, "good stuff", True), (2, "bad other", False), (3, "good other", True)],
        "doc_id int, text string, y boolean",
    )
    w = classifier_train(docs, "doc_id", "text", "y")
    default = sorted(
        tuple(r) for r in classifier_score(docs, w, "doc_id", "text").collect()
    )
    forced = sorted(
        tuple(r)
        for r in classifier_score(
            docs, w, "doc_id", "text", broadcast_row_cap=0
        ).collect()
    )
    assert forced == default


def test_remove_boilerplate_mine_then_remove(spark):
    from python_stream_processing_framework_spark.operators.text import (
        frequent_ngrams,
        remove_boilerplate,
    )

    banner = "accept all cookies"
    docs = spark.createDataFrame(
        [
            (1, f"{banner} welcome to my page"),
            (2, f"real content here {banner}"),
            (3, f"{banner} and more text"),
            (4, "no banner in this one"),
        ],
        "doc_id int, text string",
    )
    mined = frequent_ngrams(docs, "doc_id", "text", n=3, top_k=5, min_df=3)
    grams = [r["ngram"] for r in mined.collect()]
    assert banner in grams
    out = {
        r["doc_id"]: r["text"]
        for r in remove_boilerplate(docs, "doc_id", "text", mined).collect()
    }
    for i in (1, 2, 3):
        assert banner not in out[i]
    # non-boilerplate content survives
    assert "welcome to my page" in out[1]
    assert "real content here" in out[2]
    assert out[4] == "no banner in this one"
    # plain-list input applies in the order given
    out2 = remove_boilerplate(
        docs, "doc_id", "text", [banner], replacement=""
    ).collect()
    assert all(banner not in r["text"] for r in out2)


def test_remove_boilerplate_python_engine_matches_expr(spark):
    """The Arrow fold ('python') and the codegen fold ('expr') are the
    same left-to-right literal replace — byte-identical outputs,
    including the overlap-sensitive case where an earlier replacement
    creates or destroys a later phrase's match site."""
    from python_stream_processing_framework_spark.operators.text import (
        remove_boilerplate,
    )

    docs = spark.createDataFrame(
        [
            (1, "aaab the aab quick ab fox"),
            (2, "click here click here to unsubscribe"),
            (3, "nothing matches"),
            (4, "abab overlap abba cases aabb"),
        ],
        "doc_id int, text string",
    )
    # order matters: removing "aa" first turns "aaab" -> " b" paths
    phrases = ["aa", "ab", "click here", "unsubscribe"]
    expected = {
        r["doc_id"]: r["text"]
        for r in remove_boilerplate(
            docs, "doc_id", "text", phrases, engine="expr"
        ).collect()
    }
    got = {
        r["doc_id"]: r["text"]
        for r in remove_boilerplate(
            docs, "doc_id", "text", phrases, engine="python"
        ).collect()
    }
    assert got == expected
    # auto switches to python above expr_limit and still agrees
    auto = {
        r["doc_id"]: r["text"]
        for r in remove_boilerplate(
            docs, "doc_id", "text", phrases, expr_limit=2
        ).collect()
    }
    assert auto == expected


def _bpe_corpus(spark):
    rows, i = [], 0
    for w, n in [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]:
        for _ in range(n):
            rows.append((i, w))
            i += 1
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_bpe_train_classic_example(spark):
    """The Sennrich et al. running example, hand-computed: low x5,
    lower x2, newest x6, widest x3."""
    from python_stream_processing_framework_spark.operators.bpe import (
        bpe_segment_counts,
        bpe_train,
    )

    merges = bpe_train(_bpe_corpus(spark), "text", n_merges=5).collect()
    got = [(r["merge_idx"], r["left"], r["right"], r["pair_count"]) for r in merges]
    # (e,s) 9 from newest+widest; (es,t) 9; then l/lo chains at 7;
    # (e,w) 6 from newest ('w e' was consumed by nothing; 'e w'
    # survives in 'n e w ...' until round 4)
    assert got == [
        (0, "e", "s", 9),
        (1, "es", "t", 9),
        (2, "l", "o", 7),
        (3, "lo", "w", 7),
        (4, "e", "w", 6),
    ]
    seg = {
        r["doc_id"]: (r["n_words"], r["n_pieces"])
        for r in bpe_segment_counts(
            _bpe_corpus(spark), "doc_id", "text",
            [(l, r) for _, l, r, _ in got],
        ).collect()
    }
    # low -> [low] (1); lower -> [low,e,r] (3); newest -> [n,ew,est]
    # (3); widest -> [w,i,d,est] (4)
    assert seg[0] == (1, 1)  # a 'low' doc
    assert seg[5] == (1, 3)  # a 'lower' doc
    assert seg[7] == (1, 3)  # a 'newest' doc
    assert seg[13] == (1, 4)  # a 'widest' doc


def test_bpe_encode_classic_example(spark):
    """bpe_encode's piece sequences on the Sennrich corpus must match
    the hand-derived segmentations bpe_segment_counts counts."""
    from python_stream_processing_framework_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    merges = bpe_train(_bpe_corpus(spark), "text", n_merges=5)
    pieces = {
        r["doc_id"]: list(r["pieces"])
        for r in bpe_encode(_bpe_corpus(spark), "doc_id", "text", merges).collect()
    }
    assert pieces[0] == ["low"]
    assert pieces[5] == ["low", "e", "r"]
    assert pieces[7] == ["n", "ew", "est"]
    assert pieces[13] == ["w", "i", "d", "est"]


def test_bpe_encode_multiword_reading_order(spark):
    from python_stream_processing_framework_spark.operators.bpe import bpe_encode

    docs = spark.createDataFrame([(1, "low lower")], "doc_id int, text string")
    got = bpe_encode(docs, "doc_id", "text", [("l", "o"), ("lo", "w")]).collect()
    assert list(got[0]["pieces"]) == ["low", "low", "e", "r"]


def test_bpe_greedy_left_and_consecutive(spark):
    from python_stream_processing_framework_spark.operators.bpe import (
        bpe_segment_counts,
    )

    docs = spark.createDataFrame(
        [(1, "aaa"), (2, "abab")], "doc_id int, text string"
    )
    seg = {
        r["doc_id"]: r["n_pieces"]
        for r in bpe_segment_counts(
            docs, "doc_id", "text", [("a", "a"), ("a", "b"), ("ab", "ab")]
        ).collect()
    }
    # 'a a a' under (a,a): greedy-left -> 'aa a' = 2 pieces
    assert seg[1] == 2
    # 'a b a b' under (a,b): BOTH occurrences merge in one pass
    # (leading-space pattern), then (ab,ab) fuses them -> 1 piece
    assert seg[2] == 1


def test_bpe_train_partition_invariant(spark):
    from python_stream_processing_framework_spark.operators.bpe import bpe_train

    docs = _bpe_corpus(spark)
    a = [tuple(r) for r in bpe_train(docs.coalesce(1), "text", n_merges=6).collect()]
    b = [
        tuple(r)
        for r in bpe_train(docs.repartition(7), "text", n_merges=6).collect()
    ]
    assert a == b


@pytest.mark.parametrize("trainer", ["bpe_char", "bpe_byte", "wordpiece"])
def test_merge_trainers_job_count_is_flat_in_merges(spark, trainer):
    """Training is one collect of the seeded word table plus a
    driver-side merge loop: the Spark job count is small and the same
    at 2 merges as at 32."""
    from python_stream_processing_framework_spark.operators.bpe import bpe_train
    from python_stream_processing_framework_spark.operators.wordpiece import (
        wordpiece_train,
    )

    docs = _bpe_corpus(spark)
    train = {
        "bpe_char": lambda n: bpe_train(docs, "text", n_merges=n),
        "bpe_byte": lambda n: bpe_train(docs, "text", n_merges=n, level="byte"),
        "wordpiece": lambda n: wordpiece_train(docs, "text", n_merges=n),
    }[trainer]
    few, many = (jobs_in(spark, lambda n=n: train(n)) for n in (2, 32))
    assert few == many
    assert many <= 3


def test_bpe_train_early_stop_degenerate(spark):
    from python_stream_processing_framework_spark.operators.bpe import (
        bpe_train,
    )
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, "ab ab"), (2, "ab")], "doc_id int, text string"
    )
    # one merge fuses the only word to a single symbol; further
    # rounds find no pairs and must stop, not error
    merges = bpe_train(docs, "text", n_merges=5).collect()
    assert [(r["left"], r["right"]) for r in merges] == [("a", "b")]
    with _pytest.raises(ValueError, match="n_merges"):
        bpe_train(docs, "text", n_merges=0)


@pytest.mark.slow
def test_connected_components_paths_agree_on_random_graph(spark):
    """Driver union-find and distributed propagation must emit
    IDENTICAL labels — pinned on a pseudo-random graph with chains,
    merged clusters, and self-contained islands."""
    from python_stream_processing_framework_spark.operators.graph import (
        connected_components,
    )

    rows = []
    for i in range(400):
        a = (i * 7919) % 300
        b = (i * 104729 + 17) % 300
        if a != b:
            rows.append((a, b))
    edges = spark.createDataFrame(rows, ["src", "dst"])
    fast = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    # the sparse modular graph has long tendrils; the propagation is
    # ~diameter-bound (near-dup graphs are near-cliques and converge
    # in a few rounds — this is the adversarial shape), so give the
    # distributed path headroom
    slow = {
        (r["node"], r["component"])
        for r in connected_components(
            edges, driver_threshold_edges=0, max_iter=60
        ).collect()
    }
    assert fast == slow and len(fast) > 0


def test_audio_meta_parses_real_wav_header(spark):
    """audio_meta is exact on a hand-built 16-bit stereo 8kHz WAV:
    250ms of silence = 8000 * 0.25 * 2ch * 2B = 8000 data bytes."""
    import struct

    from python_stream_processing_framework_spark.operators.multimodal import (
        audio_meta,
    )

    data = b"\x00" * 8000
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 2 * 2, 4, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"not audio at all"))],
        "doc_id bigint, payload binary",
    )
    out = {r["doc_id"]: r for r in audio_meta(df).collect()}
    assert out[1]["format"] == "wav"
    assert (out[1]["channels"], out[1]["sample_rate"],
            out[1]["bits_per_sample"]) == (2, 8000, 16)
    assert out[1]["duration_ms"] == 250
    assert out[2]["format"] == "unknown"
    assert out[2]["channels"] is None and out[2]["duration_ms"] is None


def test_image_meta_parses_real_png_and_jpeg_headers(spark):
    """image_meta is exact on hand-built container headers: a PNG
    IHDR (320x200, 8-bit RGB), a JPEG whose SOF0 sits behind TWO
    APPn segments and a COM segment (the marker scan must skip all
    three), and non-image / truncated payloads degrading to
    'unknown' instead of erroring."""
    import struct

    from python_stream_processing_framework_spark.operators.multimodal import (
        image_meta,
    )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 320, 200) + bytes([8, 2, 0, 0, 0])
        + b"\x00\x00\x00\x00"
    )

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    sof0 = struct.pack(">BHHB", 12, 480, 640, 3) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    jpeg = (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xE1, b"Exif\x00\x00" + b"\x00" * 10)
        + seg(0xFE, b"a comment")
        + seg(0xC0, sof0)
        + b"\xff\xd9"
    )
    # JPEG with legal 0xFF fill-byte padding before the SOF marker
    # (B.1.1.2: any number of fill bytes may precede a marker)
    jpeg_padded = (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        + b"\xff\xff\xff"  # fill bytes, then the SOF0 marker below
        + seg(0xC0, sof0)
        + b"\xff\xd9"
    )
    df = spark.createDataFrame(
        [
            (1, bytearray(png)),
            (2, bytearray(jpeg)),
            (3, bytearray(b"plain text bytes")),
            (4, bytearray(png[:10])),       # truncated PNG signature
            (5, bytearray(b"\xff\xd8\xff")),  # truncated JPEG
            (6, bytearray(png[:24])),  # cut inside IHDR, before depth byte
            (7, bytearray(png[:25])),  # cut between depth and color type
            (8, bytearray(jpeg_padded)),
        ],
        "doc_id bigint, payload binary",
    )
    out = {r["doc_id"]: r for r in image_meta(df).collect()}
    assert (out[1]["format"], out[1]["width"], out[1]["height"]) == ("png", 320, 200)
    assert (out[1]["bit_depth"], out[1]["channels"]) == (8, 3)
    assert (out[2]["format"], out[2]["width"], out[2]["height"]) == ("jpeg", 640, 480)
    assert (out[2]["bit_depth"], out[2]["channels"]) == (12, 3)
    for bad in (3, 4, 5, 6, 7):
        assert out[bad]["format"] == "unknown"
        assert out[bad]["width"] is None and out[bad]["channels"] is None
    assert (out[8]["format"], out[8]["width"], out[8]["height"]) == ("jpeg", 640, 480)
    assert out[1]["n_bytes"] == len(png) and out[2]["n_bytes"] == len(jpeg)


def test_span_dedup_keep_first_semantics(spark):
    """Keep-first exact-substring dedup: the EARLIEST (doc, start)
    occurrence of a repeated 3-gram survives, later copies mask;
    repeated_span_mask (count-threshold) deletes both."""
    from python_stream_processing_framework_spark.operators.spans import (
        mask_duplicate_spans_keep_first,
        mask_repeated_spans,
    )

    span = "alpha beta gamma"
    rows = [
        (1, f"one two {span} three four"),
        (2, f"{span} five six seven eight"),
        (3, "nine ten eleven twelve thirteen"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    kf = {r["doc_id"]: r for r in
          mask_duplicate_spans_keep_first(df, "doc_id", "text", n=3).collect()}
    # doc 1 holds the first occurrence (doc order) -> untouched
    assert kf[1]["n_removed"] == 0
    assert kf[1]["text"] == rows[0][1]
    # doc 2's copy masks
    assert kf[2]["n_removed"] == 3
    assert kf[2]["text"] == "five six seven eight"
    assert kf[3]["n_removed"] == 0

    # the count-threshold variant deletes BOTH occurrences
    rm = {r["doc_id"]: r for r in
          mask_repeated_spans(df, "doc_id", "text", n=3, min_count=2).collect()}
    assert rm[1]["n_removed"] == 3 and rm[2]["n_removed"] == 3

    # intra-doc repetition: first copy survives, second masks
    df2 = spark.createDataFrame(
        [(7, f"{span} mid {span} tail")], ["doc_id", "text"]
    )
    (r7,) = mask_duplicate_spans_keep_first(df2, "doc_id", "text", n=3).collect()
    assert r7["text"] == f"{span} mid tail"
    assert r7["n_removed"] == 3


def test_semantic_decontaminate_planted(spark):
    """Planted contamination: corpus vector 100 is an exact scaled
    copy of held-out vector 1 (cosine 1.0), corpus 101 is its
    negation (cosine -1.0), 102 is orthogonal-ish. Only the copy is
    dropped; null-vector corpus rows pass through."""
    from pyspark.sql import functions as F

    from python_stream_processing_framework_spark.operators.common import (
        release_caches,
    )
    from python_stream_processing_framework_spark.operators.similarity import (
        semantic_decontaminate,
    )

    dim = 8
    base = [float(i + 1) for i in range(dim)]
    ortho = [1.0 if i == 0 else 0.0 for i in range(dim)]
    heldout = spark.createDataFrame(
        [(1, base)], ["vec_id", "embedding"]
    )
    corpus = spark.createDataFrame(
        [
            (100, [2.0 * x for x in base]),      # cos 1.0 -> dropped
            (101, [-x for x in base]),           # cos -1.0 -> kept
            (102, ortho),                        # low cos -> kept
            (103, None),                         # null vector -> kept
        ],
        "vec_id bigint, embedding array<double>",
    )
    try:
        clean = semantic_decontaminate(
            corpus, heldout, threshold=0.9, bands=8, band_bits=4
        )
        assert sorted(r["vec_id"] for r in clean.collect()) == [101, 102, 103]
    finally:
        release_caches()


def test_ngram_novelty_first_occurrence_semantics(spark):
    """Novelty counts grams whose corpus-wide FIRST occurrence (min
    doc id) is this doc: doc 1 is all-novel, an identical later doc
    is zero-novel, a half-overlapping doc scores its unique half;
    sub-n docs yield no row."""
    from python_stream_processing_framework_spark.operators.text import (
        ngram_novelty,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d"),        # grams: abc, bcd (both novel)
            (2, "a b c d"),        # same grams, all seen in doc 1
            (3, "a b c x y z"),    # abc seen; bcx, cxy, xyz novel
            (4, "t u"),            # shorter than n: no row
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty(df, n=3).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1]["n_grams"], out[1]["n_novel"], out[1]["novelty_ppm"]) == (2, 2, 1000000)
    assert (out[2]["n_grams"], out[2]["n_novel"], out[2]["novelty_ppm"]) == (2, 0, 0)
    assert (out[3]["n_grams"], out[3]["n_novel"]) == (4, 3)
    assert out[3]["novelty_ppm"] == 750000


def test_source_overlap_containment_matrix(spark):
    """Ordered-pair containment: asymmetric when sources differ in
    gram counts; pairs sharing nothing are absent; duplicate docs
    within one source don't inflate its distinct-gram mass."""
    from python_stream_processing_framework_spark.operators.text import (
        source_overlap,
    )
    from python_stream_processing_framework_spark.operators.common import (
        release_caches,
    )

    df = spark.createDataFrame(
        [
            (1, "A", "a b c d"),     # A grams: abc, bcd
            (2, "A", "a b c d"),     # exact re-crawl: no new grams
            (3, "B", "a b c x y z"), # B grams: abc, bcx, cxy, xyz
            (4, "C", "p q r s"),     # C shares nothing
        ],
        "doc_id bigint, source string, text string",
    )
    try:
        rows = {
            (r["src_a"], r["src_b"]): r for r in source_overlap(df, n=3).collect()
        }
    finally:
        release_caches()
    assert set(rows) == {("A", "B"), ("B", "A")}
    ab = rows[("A", "B")]
    assert (ab["grams_a"], ab["shared"], ab["containment_ppm"]) == (2, 1, 500000)
    ba = rows[("B", "A")]
    assert (ba["grams_a"], ba["shared"], ba["containment_ppm"]) == (4, 1, 250000)


def test_unimax_allocation_waterfill(spark):
    """UniMax waterfill against hand-computed allocations: small caps
    saturate, the rest split the remainder by integer DIV; a budget
    below every cap goes uniform; a huge budget saturates all."""
    from python_stream_processing_framework_spark.operators.mixture import (
        unimax_allocation,
    )

    df = spark.createDataFrame(
        [("A", 10), ("B", 100), ("C", 1000)], "source string, ntok int"
    )

    def alloc(budget):
        rows = unimax_allocation(
            df, "source", "ntok", budget=budget, max_epochs=2
        ).collect()
        return {r["source"]: (r["cap"], r["alloc_tokens"], r["saturated"]) for r in rows}

    # caps: A=20, B=200, C=2000
    out = alloc(1000)
    assert out["A"] == (20, 20, True)       # 20*3 <= 1000
    assert out["B"] == (200, 200, True)     # 200*2 <= 980
    assert out["C"] == (2000, 780, False)   # (1000-220) DIV 1
    assert sum(a for _c, a, _s in out.values()) == 1000

    out = alloc(30)  # below every cap*(n-i+1): uniform 30 DIV 3
    assert all(not s for _c, a, s in out.values())
    assert [out[k][1] for k in ("A", "B", "C")] == [10, 10, 10]

    out = alloc(10_000)  # everything saturates at its cap
    assert all(s for _c, _a, s in out.values())
    assert sum(a for _c, a, _s in out.values()) == 2220


def test_token_drift_total_variation(spark):
    """TV drift against hand arithmetic: A={x:2/3,y:1/3} vs rest
    B={x:1/2,z:1/2} has TV 1/2 (and symmetrically for B); a source
    identical to the rest reads ~0; a single source reads 1e6
    (disjoint-by-definition rest)."""
    from python_stream_processing_framework_spark.operators.common import (
        release_caches,
    )
    from python_stream_processing_framework_spark.operators.text import (
        token_drift,
    )

    df = spark.createDataFrame(
        [(1, "A", "x x y"), (2, "B", "x z")],
        "doc_id bigint, source string, text string",
    )
    try:
        out = {r["src"]: r for r in token_drift(df).collect()}
    finally:
        release_caches()
    assert (out["A"]["n_tokens"], out["A"]["tv_ppm"]) == (3, 500000)
    assert (out["B"]["n_tokens"], out["B"]["tv_ppm"]) == (2, 500000)

    same = spark.createDataFrame(
        [(1, "A", "x y"), (2, "B", "x y")],
        "doc_id bigint, source string, text string",
    )
    try:
        out = {r["src"]: r["tv_ppm"] for r in token_drift(same).collect()}
    finally:
        release_caches()
    assert out == {"A": 0, "B": 0}

    solo = spark.createDataFrame(
        [(1, "A", "x y z")], "doc_id bigint, source string, text string"
    )
    try:
        (row,) = token_drift(solo).collect()
    finally:
        release_caches()
    assert row["tv_ppm"] == 1000000

    # no per-token floor loss (r12, ADVICE): identical sources whose
    # probabilities are NOT ppm-representable (1/3 each) must read
    # exactly 0 — the pre-r12 per-token ppm quantization left a
    # residue of 1 here, and saturated toward 1e6 once vocabularies
    # passed 1e6 tokens
    thirds = spark.createDataFrame(
        [(1, "A", "x y z"), (2, "B", "x y z")],
        "doc_id bigint, source string, text string",
    )
    try:
        out = {r["src"]: r["tv_ppm"] for r in token_drift(thirds).collect()}
    finally:
        release_caches()
    assert out == {"A": 0, "B": 0}


def test_bpe_byte_level_equals_char_on_ascii(spark):
    """level='byte' on pure printable-ASCII text is bit-identical to
    level='char': the GPT-2 byte table maps printable ASCII to
    itself, so seeds, merges, counts, and encodes all coincide."""
    from python_stream_processing_framework_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "hug hug hugs pug pug bug"), (2, "hugging bugs hug")],
        "doc_id bigint, text string",
    )
    char_m = [
        tuple(r)
        for r in bpe_train(docs, "text", n_merges=5).orderBy("merge_idx").collect()
    ]
    byte_m = [
        tuple(r)
        for r in bpe_train(docs, "text", n_merges=5, level="byte")
        .orderBy("merge_idx")
        .collect()
    ]
    assert byte_m == char_m
    ec = {
        r["doc_id"]: r["pieces"]
        for r in bpe_encode(
            docs, "doc_id", "text", [(m[1], m[2]) for m in char_m]
        ).collect()
    }
    eb = {
        r["doc_id"]: r["pieces"]
        for r in bpe_encode(
            docs, "doc_id", "text", [(m[1], m[2]) for m in byte_m], level="byte"
        ).collect()
    }
    assert eb == ec


def test_bpe_byte_level_multibyte_no_unk_and_reversible(spark):
    """Multi-byte UTF-8: 'é' seeds as its TWO bytes (C3 A9) rendered
    through the reversible table, every word is segmentable with
    zero merges (no UNK can exist), and mapping the piece chars back
    through the table recovers the exact original bytes."""
    from python_stream_processing_framework_spark.operators.bpe import (
        _BYTE_CHARS,
        bpe_encode,
        bpe_segment_counts,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "héé héé bé")], "doc_id bigint, text string"
    )
    # zero-knowledge vocabulary: untrained encode still segments all
    enc = bpe_encode(docs, "doc_id", "text", [], level="byte").head()
    back_to_byte = {c: b for b, c in enumerate(_BYTE_CHARS)}
    decoded = bytes(
        back_to_byte[c] for piece in enc["pieces"] for c in piece
    ).decode("utf-8")
    assert decoded == "hééhéébé"  # whitespace is the word boundary
    assert len(enc["pieces"]) == 13  # héé=5 bytes x2 + bé=3 bytes
    (c,) = bpe_segment_counts(docs, "doc_id", "text", [], level="byte").collect()
    assert (c["n_words"], c["n_pieces"]) == (3, 13)
    # training merges multi-byte symbols: top pair is the é byte pair
    m = bpe_train(docs, "text", n_merges=1, level="byte").head()
    assert (m["left"], m["right"]) == (_BYTE_CHARS[0xC3], _BYTE_CHARS[0xA9])
    assert m["pair_count"] == 5


def test_bpe_level_validated(spark):
    from python_stream_processing_framework_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="level"):
        bpe_train(docs, "text", level="word")
