"""Plan-shape regression tests: the SCALE.md contract, machine-checked.

A refactor that un-pushes a filter, drops a broadcast, or adds a
shuffle will fail here long before it shows up as a 100 TB incident.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from python_stream_processing_framework_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    count_exchanges,
    read_schema_columns,
)
from python_stream_processing_framework_spark.queries import QUERY_REGISTRY


def q(name, spark):
    return QUERY_REGISTRY[name].fn(spark, SF_SMOKE)


def test_filter_pushdown_reaches_scan(spark):
    assert_pushed_filters(
        q("pricing_summary", spark),
        "IsNotNull(l_shipdate)",
        "LessThanOrEqual(l_shipdate",
    )
    assert_pushed_filters(
        q("region_revenue", spark),
        "IsNotNull(o_orderdate)",
        "GreaterThanOrEqual(o_orderdate",
        "LessThan(o_orderdate",
    )


def test_column_pruning(spark):
    df = q("pricing_summary", spark)
    cols = read_schema_columns(df, "lineitem.parquet")
    # 11-column table, 7 needed: the scan must not read the rest.
    assert set(cols) == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }


def test_star_join_broadcasts_dims_fact_stays_streamed(spark):
    from python_stream_processing_framework_spark.plans.explain import plan_text

    df = q("region_revenue", spark)
    assert_broadcast_join(df, min_count=4)  # region/nation/customer/supplier
    assert_no_cartesian(df)
    # The FACT table must never be a broadcast build side: unhinted,
    # Catalyst broadcasts all of lineitem at test SFs (size estimate
    # under threshold) — a plan that detonates at 100 TB. The merge
    # hint pins the fact join to sort-merge (2 exchanges) + the final
    # agg exchange; AQE may still convert to broadcast AT RUNTIME when
    # the dims side is small, which is the correct adaptive behavior.
    text = plan_text(df, mode="simple")
    assert "SortMergeJoin" in text
    lines = text.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        indent = line.index("+-") if "+-" in line else 0
        for sub in lines[i + 1:]:
            depth = max(sub.find("+-"), sub.find(":-"))
            if depth >= 0 and depth <= indent:
                break  # left the BroadcastExchange subtree
            assert "lineitem.parquet" not in sub, "fact table broadcast"
    assert count_exchanges(df) <= 3
    assert_pushed_filters(df, "EqualTo(r_name,ASIA)")


def test_windowed_agg_single_exchange(spark):
    # groupBy(key, window) must be ONE shuffle (plus map-side partials)
    df = q("tumbling_window_sum", spark)
    assert count_exchanges(df) <= 2  # agg + countDistinct expand
    assert_no_cartesian(df)


def test_topk_uses_take_ordered(spark):
    from python_stream_processing_framework_spark.plans import plan_text

    df = q("bm25_topk", spark)
    assert "TakeOrderedAndProject" in plan_text(df), "top-k fell back to full sort"


def test_tfidf_broadcasts_vocab_df_and_take_ordered(spark):
    """Small regime: a vocabulary-df frame under BROADCAST_ROW_CAP
    must ride a broadcast back onto the inverted-index tf frame, and
    the top-k cut must be TakeOrdered, not a full sort."""
    from python_stream_processing_framework_spark.plans import plan_text

    df = q("tfidf_topk", spark)
    text = plan_text(df)
    assert "BroadcastHashJoin" in text, "vocab df join lost its broadcast"
    assert "TakeOrderedAndProject" in text, "top-k fell back to full sort"


def test_tfidf_exchange_regime_above_broadcast_cap(spark):
    """Large regime: when the vocabulary-df table exceeds the size
    gate (forced here with broadcast_row_cap=0), the hint must NOT be
    attached — the join falls back to an ordinary exchange join (an
    executor-OOM broadcast of a ~1e9-row vocab is the 100 TB hazard
    the gate exists for). Results must be identical in both regimes."""
    from python_stream_processing_framework_spark.operators.retrieval import (
        tfidf_topk,
    )
    from python_stream_processing_framework_spark.plans import plan_text

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = tfidf_topk(docs, "table scan", k=5, broadcast_row_cap=0)
        text = plan_text(big)
        assert "BroadcastHashJoin" not in text, "hint survived the size gate"
        assert "SortMergeJoin" in text or "ShuffledHashJoin" in text
        forced = [tuple(r) for r in big.collect()]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    default = [tuple(r) for r in tfidf_topk(docs, "table scan", k=5).collect()]
    assert forced == default


def test_maybe_broadcast_size_gate(spark):
    """The shared helper: hint at-or-under the cap, plain frame above."""
    from python_stream_processing_framework_spark.operators.common import (
        maybe_broadcast,
    )
    from python_stream_processing_framework_spark.plans import plan_text

    fact = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    side = spark.range(0, 100).select(F.col("id").alias("k"), F.lit(2).alias("w"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = fact.join(maybe_broadcast(side, max_rows=100), "k")
        assert "BroadcastHashJoin" in plan_text(hinted)
        plain = fact.join(maybe_broadcast(side, max_rows=99), "k")
        t = plan_text(plain)
        assert "BroadcastHashJoin" not in t
        assert "SortMergeJoin" in t or "ShuffledHashJoin" in t
        # known_count skips the probe but applies the same gate
        pre = fact.join(maybe_broadcast(side, max_rows=99, known_count=5), "k")
        assert "BroadcastHashJoin" in plan_text(pre)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_minhash_candidates_not_quadratic(spark):
    # LSH pairing must be an equi-join on band keys, never a cartesian.
    df = q("dedup_minhash_lsh", spark)
    assert_no_cartesian(df)


def test_cosine_topk_broadcast_query_vector(spark):
    from python_stream_processing_framework_spark.plans import plan_text

    df = q("cosine_topk", spark)
    text = plan_text(df)
    # the single query vector rides a broadcast, the corpus is never shuffled
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text
    assert "TakeOrderedAndProject" in text


def test_salted_join_matches_plain_join(spark):
    """Salting is a pure execution-layer rewrite: result sets must be
    identical to the plain join on skewed data."""
    from python_stream_processing_framework_spark.operators.joins import salted_join

    # heavy skew: 90% of left rows share key 1
    left = spark.createDataFrame(
        [(1 if i % 10 else 2, i) for i in range(1000)], ["k", "i"]
    )
    right = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "none")], ["k", "tag"])
    plain = {(r["k"], r["i"], r["tag"]) for r in left.join(right, "k").collect()}
    salted = {(r["k"], r["i"], r["tag"]) for r in salted_join(left, right, "k").collect()}
    assert salted == plain and len(plain) == 1000


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Bucketing pre-partitions both sides on the join key so the join
    plan needs NO shuffle exchange — the co-located-join strategy
    SCALE.md prescribes for repeated joins on the same key."""
    import shutil
    from pathlib import Path

    from python_stream_processing_framework_spark.plans import count_exchanges

    df1 = spark.range(0, 10_000).withColumnRenamed("id", "k")
    df2 = spark.range(0, 10_000).withColumnRenamed("id", "k")
    try:
        for name, df in [("bt_left", df1), ("bt_right", df2)]:
            df.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable(name)
        joined = spark.table("bt_left").join(spark.table("bt_right"), "k")
        assert count_exchanges(joined) == 0, "bucketed join still shuffles"
        assert joined.count() == 10_000
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_left")
        spark.sql("DROP TABLE IF EXISTS bt_right")
        wh = Path(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
        for t in ("bt_left", "bt_right"):
            shutil.rmtree(wh / t, ignore_errors=True)


def test_range_join_no_nested_loop(spark):
    """range_join must plan as an equi-join on the bucket cell, never
    BroadcastNestedLoopJoin/CartesianProduct — that's its whole point."""
    from pyspark.sql import functions as F

    from python_stream_processing_framework_spark.operators.joins import range_join

    left = spark.range(0, 10000).select(
        F.timestamp_seconds(F.col("id") * 60).alias("ts"), F.col("id").alias("pid")
    )
    right = spark.range(0, 500).select(
        F.timestamp_seconds(F.col("id") * 1200).alias("start_ts"),
        F.timestamp_seconds(F.col("id") * 1200 + 3600).alias("end_ts"),
        F.col("id").alias("iid"),
    )
    plan = range_join(
        left, right, "ts", "start_ts", "end_ts", bucket="1 hour"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lsh_signatures_served_from_cache(spark):
    """Fan-out persists must be EAGER: the signature subplan feeds
    several concurrently-scheduled branches (band-join sides, verify
    fetch sides), and a lazy persist lets each branch recompute the
    whole signature pass (the dominant cost). materialize() populates
    the cache up front, so every branch must plan as an
    InMemoryTableScan."""
    from python_stream_processing_framework_spark.plans.explain import plan_text

    for name in ("dedup_minhash_lsh", "cosine_lsh_pairs"):
        text = plan_text(q(name, spark), mode="simple")
        assert "InMemoryTableScan" in text, f"{name}: signatures not cached"
    spark.catalog.clearCache()


def test_shard_plan_pruned_single_exchange(spark):
    """shard_plan: map-only shard assignment + one small agg. The scan
    must read only (doc_id, n_chars) and the plan needs exactly one
    exchange (the 16-group aggregation)."""
    df = q("shard_plan", spark)
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "n_chars"}
    assert count_exchanges(df) == 1


def test_domain_mixture_sorts_only_cutoff_bucket(spark):
    """domain_mixture's scale contract (SCALE.md): the bulk branch is
    a broadcast-joined map-side filter; ONLY the cutoff-bucket branch
    (~1/2^bucket_bits of each stratum) pays a Sort+Window. A refactor
    that reintroduces a per-stratum full sort doubles the Window/Sort
    count or drops the broadcast."""
    from python_stream_processing_framework_spark.plans.explain import plan_text

    df = q("domain_mixture", spark)
    text = plan_text(df)
    # the tiny per-stratum plan table broadcasts to both branches
    # (") NodeName" matches the formatted detail header exactly once
    # per physical node; the tree rendering writes "NodeName (n)")
    assert text.count(") BroadcastExchange") == 2
    # exactly one Window (edge branch); the below-cutoff branch has none
    assert text.count(") Window") == 1
    assert_no_cartesian(df)


def test_pii_redaction_map_only_no_shuffle(spark):
    """The PII pass is a pure scan->project query: counts + redaction
    chain on ONE projection (pii_stats keep_cols). A refactor that
    re-joins the stats and redaction derivations on doc_id adds an
    Exchange here."""
    df = q("pii_redaction", spark)
    assert count_exchanges(df) == 0
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "source", "text"}


def test_url_domains_distinct_agg_exchanges_only(spark):
    """Host extraction is a map-side explode feeding the aggregation;
    the only shuffles are the TWO a grouped count(DISTINCT) needs
    (partial on (domain, doc_id) -> exchange -> merge -> exchange on
    domain), both fed by map-side partials. A third exchange means
    the explode started shuffling."""
    df = q("url_domains", spark)
    assert count_exchanges(df) == 2
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "lang", "source"}


def test_ngram_decontaminate_corpus_never_shuffles(spark):
    """The exact-13-gram rule's scale promise, machine-checked: the
    benchmark-sized held-out grams broadcast into the gram join AND
    the flagged-id set broadcasts into the anti-join, so the corpus
    side is never exchanged — the ONLY hash exchange in the plan is
    the DISTINCT over flagged ids (tiny). A dropped broadcast turns
    the anti-join into a sort-merge that shuffles the whole corpus."""
    from python_stream_processing_framework_spark.plans import plan_text

    df = q("ngram_decontaminate", spark)
    text = plan_text(df)
    assert text.count("BroadcastHashJoin") >= 2, text[:1500]
    assert "SortMergeJoin" not in text
    assert count_exchanges(df) <= 1


def test_pooled_retrieval_broadcast_query_take_ordered(spark):
    """Pooling shuffles on (doc, dim) then doc — the unavoidable agg
    exchanges — but retrieval itself keeps the cosine_topk shape: the
    single pooled query vector rides a broadcast and top-k compiles
    to TakeOrderedAndProject, never a full sort or corpus shuffle."""
    from python_stream_processing_framework_spark.plans import plan_text

    df = q("pooled_retrieval", spark)
    text = plan_text(df)
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text
    assert "TakeOrderedAndProject" in text


def test_doc_chunks_map_only_no_shuffle(spark):
    """Chunking is a map-side projection + explode: the fan-out
    happens where the data lives. Any Exchange here means the chunker
    started shuffling the corpus before the embedding job even ran."""
    df = q("doc_chunks", spark)
    assert count_exchanges(df) == 0
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "text"}


def test_decontaminate_anti_joins_broadcast(spark):
    """Both decontamination operators' final anti-joins must build on
    the (held-out-bounded) flagged side — a dropped broadcast hint
    regresses to a sort-merge that shuffles the whole corpus on id."""
    from python_stream_processing_framework_spark.operators.dedup import (
        decontaminate,
        ngram_decontaminate,
    )
    from python_stream_processing_framework_spark.plans import plan_text

    corpus = spark.createDataFrame(
        [(i, f"doc body text number {i} with shared words") for i in range(30)],
        ["doc_id", "text"],
    )
    heldout = spark.createDataFrame(
        [(100, "doc body text number 7 with shared words")], ["doc_id", "text"]
    )
    # Only the ANTI-join is pinned: the inner band join stays
    # AQE-driven on purpose (in incremental-dedup usage the right
    # side IS the big corpus, where a forced broadcast is the bug).
    for out in (
        decontaminate(corpus, heldout, "doc_id", "text"),
        ngram_decontaminate(corpus, heldout, "doc_id", "text", n=3),
    ):
        t = plan_text(out)
        assert "SortMergeJoin LeftAnti" not in t, t[:1200]
        assert "BroadcastHashJoin" in t


def test_token_counts_map_only_pruned(spark):
    """token_counts is a pure scan->project pass: one regex
    pre-tokenization + higher-order filters, all row-local. Any
    Exchange here means someone re-joined the class counts; the scan
    must read only (doc_id, text)."""
    df = q("token_counts", spark)
    assert count_exchanges(df) == 0
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "text"}


def test_frequent_ngrams_single_exchange_take_ordered(spark):
    """frequent_ngrams' scale contract: gram explode is map-side, the
    doc-frequency count is the plan's ONLY exchange (map-side partial
    agg bounds it by vocabulary), and the top-k is
    TakeOrderedAndProject — never a global Sort."""
    from python_stream_processing_framework_spark.plans.explain import plan_text

    df = q("frequent_ngrams", spark)
    assert count_exchanges(df) == 1
    text = plan_text(df)
    assert ") TakeOrderedAndProject" in text
    assert ") Sort" not in text
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"text"}


def test_quality_classifier_broadcast_weights(spark):
    """The scorer's scale contract: the weight table broadcasts into
    the token join — the corpus-side token stream is never exchanged
    by the join (its only shuffles are the two aggregations: the
    vocabulary count and the per-doc mean)."""
    from python_stream_processing_framework_spark.plans.explain import plan_text

    df = q("quality_classifier", spark)
    text = plan_text(df)
    assert "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text
    assert_no_cartesian(df)


def test_boilerplate_removal_map_only(spark):
    """remove_boilerplate's scale contract: the mined phrase list is
    collected at build time (bounded top-k) and the removal itself is
    a pure scan->project literal-replace fold — zero exchanges in the
    final plan."""
    df = q("boilerplate_removal", spark)
    assert count_exchanges(df) == 0
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "text"}


def test_bpe_token_counts_map_only(spark):
    """Applying learned merges is a pure scan->project pass: the
    merge chain is literals in the plan (training ran at build time
    on the vocabulary table, not in this plan). Zero exchanges."""
    df = q("bpe_token_counts", spark)
    assert count_exchanges(df) == 0
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "text"}


def test_bpe_encode_map_only(spark):
    """The encode step (given literal merges) is a single map-only
    scan — zero exchanges, no Python; at 100 TB tokenization cost is
    pure scan throughput."""
    from python_stream_processing_framework_spark.operators.bpe import bpe_encode

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = bpe_encode(docs, "doc_id", "text", [("e", "s"), ("es", "t")])
    assert count_exchanges(df) == 0


def test_lm_doc_scores_broadcast_counts_take_ordered(spark):
    """The LM scorer's scale contract: both count-table joins build
    on the (cached, vocab-bounded) count side — never a sort-merge
    that would exchange the corpus-side token stream — and the
    top-25 is TakeOrderedAndProject, not a global Sort. The scan
    reads only (doc_id, text)."""
    from python_stream_processing_framework_spark.operators.common import (
        release_caches,
    )
    from python_stream_processing_framework_spark.plans.explain import plan_text

    df = q("lm_doc_scores", spark)
    text = plan_text(df)
    assert "SortMergeJoin" not in text
    assert text.count("BroadcastHashJoin") >= 2
    assert ") TakeOrderedAndProject" in text
    assert ") Sort" not in text
    assert_no_cartesian(df)
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "text"}
    release_caches()


def test_dsir_select_broadcast_ratios_take_ordered(spark):
    """DSIR's scale contract: the score join builds on the
    n_buckets-bounded ratio table (broadcast, never a sort-merge
    exchanging the feature stream), the selection is
    TakeOrderedAndProject (no global Sort), and the scan reads only
    (doc_id, text)."""
    from python_stream_processing_framework_spark.plans.explain import plan_text

    df = q("dsir_select", spark)
    text = plan_text(df)
    assert "SortMergeJoin" not in text
    assert "BroadcastHashJoin" in text
    assert ") TakeOrderedAndProject" in text
    assert ") Sort" not in text
    assert_no_cartesian(df)
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "text"}


def test_lm_backoff_scores_broadcast_counts_take_ordered(spark):
    """Stupid-backoff scoring pays one corpus scan + per-order joins
    whose build sides are the vocab-bounded count tables: every join
    must build on the count side (no sort-merge exchanging the
    token stream), the top-25 is TakeOrderedAndProject, and the scan
    reads only (doc_id, text)."""
    from python_stream_processing_framework_spark.operators.common import (
        release_caches,
    )
    from python_stream_processing_framework_spark.plans.explain import plan_text

    df = q("lm_backoff_scores", spark)
    text = plan_text(df)
    assert "SortMergeJoin" not in text
    # trigram+bigram pair and context joins + the unigram join
    assert text.count("BroadcastHashJoin") >= 5
    assert ") TakeOrderedAndProject" in text
    assert ") Sort" not in text
    assert_no_cartesian(df)
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "text"}
    release_caches()


def test_repeated_span_mask_two_exchanges_reused_partitioning(spark):
    """Span masking's scale contract: exactly TWO exchanges — the
    gram-occurrence count (map-side partials on BIGINT hashes) and
    the island window's hash partitioning on the doc id, which the
    island-merge groupBy AND the per-doc span collection both reuse
    (id is a prefix of their grouping keys). The flag join and the
    rebuild join build on the small side; the corpus text is never
    exchanged here."""
    df = q("repeated_span_mask", spark)
    assert count_exchanges(df) == 2
    from python_stream_processing_framework_spark.plans.explain import plan_text

    text = plan_text(df)
    assert "SortMergeJoin" not in text
    assert ") TakeOrderedAndProject" in text
    assert_no_cartesian(df)
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "text"}


def test_funnel_conversion_narrow_steps_no_raw_sort(spark):
    """Funnel's scale contract: no window Sort over the raw event
    stream — each step is a filtered scan to (user, ms) rows, an
    equi-join on the shrinking per-user frame, and a partial-agg min;
    the scan reads only (user_id, ts, event_type)."""
    df = q("funnel_conversion", spark)
    assert_no_cartesian(df)
    cols = read_schema_columns(df, "events.parquet")
    # the step-1 count branch even prunes ts (its lag is literal 0 so
    # the min(ts) dies); no branch ever reads value/props/event_id
    assert set(cols) <= {"user_id", "ts", "event_type"}
    assert "user_id" in cols


def test_pagerank_hosts_narrow_iterations_take_ordered(spark):
    """PageRank's scale contract: the per-iteration frames are narrow
    (node, rank) x (src, dst) equi-joins and dst-keyed partial-agg
    sums — no cartesian anywhere — the top-k cut is
    TakeOrderedAndProject, and the scan reads only doc_id."""
    from python_stream_processing_framework_spark.plans.explain import plan_text

    df = q("pagerank_hosts", spark)
    text = plan_text(df)
    assert ") TakeOrderedAndProject" in text
    assert_no_cartesian(df)
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id"}


def test_line_corrections_map_only_no_shuffle(spark):
    """Line corrections run inside a higher-order filter where the
    text lives: zero exchanges, rules as JVM expressions."""
    df = q("line_corrections", spark)
    assert count_exchanges(df) == 0
    assert_no_cartesian(df)
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "text"}


def test_cm_heavy_hitters_broadcast_sketch_take_ordered(spark):
    """Count-min's scale contract: the sketch side of the estimate
    join is broadcast (<= depth*width rows by construction), the
    top-k cut is TakeOrderedAndProject (no global sort), and the
    corpus scan reads only the text column."""
    from python_stream_processing_framework_spark.plans.explain import plan_text

    df = q("cm_heavy_hitters", spark)
    text = plan_text(df)
    assert "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text
    assert ") TakeOrderedAndProject" in text
    assert_no_cartesian(df)
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"text"}


def test_url_dedup_single_narrow_exchange(spark):
    """URL dedup's scale contract: canonicalization is map-side; the
    only exchange is the canonical-key groupBy with map-side partial
    min/count (short strings, never page content)."""
    df = q("url_dedup", spark)
    assert count_exchanges(df) == 1
    assert_no_cartesian(df)
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id"}


def test_html_extract_map_only_no_shuffle(spark):
    """HTML extraction is a pure JVM regexp projection: zero
    exchanges, zero Python, and the scan reads only what the page
    builder needs."""
    df = q("html_extract", spark)
    assert count_exchanges(df) == 0
    assert_no_cartesian(df)
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "text", "source"}


def test_ccnet_buckets_histogram_window_broadcast_thresholds(spark):
    """CCNet bucketing's scale contract: the tercile window sorts the
    DISTINCT-quantized-score histogram, never the corpus (the only
    Window/Sort input is a post-aggregate frame), the per-language
    threshold table joins back broadcast, and the scoring scan reads
    only (doc_id, text) — lang rides a separate 2-column scan, never
    widening the text pass."""
    from python_stream_processing_framework_spark.plans.explain import plan_text

    df = q("ccnet_buckets", spark)
    text = plan_text(df)
    assert "BroadcastHashJoin" in text
    assert "CartesianProduct" not in text
    assert_no_cartesian(df)
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "text"}


def test_paragraph_dedup_narrow_shuffles_text_unexchanged(spark):
    """Paragraph dedup's scale contract: the dedup decision travels
    as (id, idx, hash60) BIGINT rows — the canonical-first groupBy
    and the per-doc removed-index groupBy are the only logical
    shuffles — while the corpus text stays map-side (the rebuild
    LEFT-joins the small removed-arrays side onto the scan; at smoke
    scale every join broadcasts, and the occurrence join's build side
    is the distinct-paragraph table that AQE may legitimately
    sort-merge at 100 TB — still narrow rows, never text)."""
    from python_stream_processing_framework_spark.plans.explain import plan_text

    df = q("paragraph_dedup", spark)
    text = plan_text(df)
    assert "SortMergeJoin" not in text
    assert ") TakeOrderedAndProject" in text
    assert_no_cartesian(df)
    cols = read_schema_columns(df, "documents.parquet")
    assert set(cols) == {"doc_id", "text", "source"}


def test_semdedup_cluster_bucketed_pairs(spark):
    """SemDeDup's scale contract. The eps-graph subtree executes
    eagerly inside connected_components (its pair frame is consumed
    at build time), so the returned plan covers the scoring half:
    pin no-cartesian, no sort-merge join, and the (vec_id, embedding)
    scan pruning there — and pin the PAIR half structurally by
    asserting the per-cluster applyInPandas stage
    (FlatMapGroupsInPandas) in the pair frame the operator builds
    internally, reconstructed through its public pieces."""
    from python_stream_processing_framework_spark.operators.common import (
        release_caches,
    )
    from python_stream_processing_framework_spark.plans.explain import plan_text

    # full plan: no cartesian, pruned scan (the id-keyed joins plan
    # as SMJ statically and AQE broadcasts the small sides at run
    # time — not pinned here)
    df = q("semdedup_prune", spark)
    assert_no_cartesian(df)
    cols = read_schema_columns(df, "embeddings.parquet")
    assert set(cols) == {"vec_id", "embedding"}

    # the pair half, via the pair builder semdedup runs
    from python_stream_processing_framework_spark.catalog import load
    from python_stream_processing_framework_spark.operators.semdedup import (
        _pair_frame,
        _quantized_sigs,
        cluster_assign,
    )

    (emb,) = load(spark, SF_SMOKE, "embeddings")
    assign, _ = cluster_assign(emb, k=4, iters=1)
    sigs = _quantized_sigs(emb, assign, "vec_id", "embedding")
    ptext = plan_text(_pair_frame(sigs, "vec_id", 0.5))
    assert "FlatMapGroupsInPandas" in ptext
    assert "CartesianProduct" not in ptext
    release_caches()


def _anti_join_lines(text: str) -> list[str]:
    return [ln for ln in text.splitlines() if "LeftAnti" in ln]


def test_decontaminate_anti_join_broadcast_gate_both_regimes(spark):
    """The contamination anti-join set is size-gated (r8 verdict #2):
    flagged mass scales with CORPUS duplication at 100 TB, not with
    the benchmark. Small regime: hint present (corpus stays map-side).
    Above-cap regime (forced with broadcast_row_cap=0): hint withheld,
    plain exchange join — and the kept set is identical."""
    from python_stream_processing_framework_spark.operators.common import (
        release_caches,
    )
    from python_stream_processing_framework_spark.operators.dedup import (
        decontaminate,
        ngram_decontaminate,
    )
    from python_stream_processing_framework_spark.plans.explain import plan_text

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "an entirely different training document about spark plans"),
            (3, "the quick brown fox jumps over the lazy dog yesterday"),
        ],
        "doc_id bigint, text string",
    )
    heldout = spark.createDataFrame(
        [(101, "the quick brown fox jumps over the lazy dog today")],
        "doc_id bigint, text string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for op, kw in (
            (decontaminate, dict(threshold=0.5, shingle_k=3)),
            (ngram_decontaminate, dict(n=5)),
        ):
            small = op(corpus, heldout, **kw)
            anti = _anti_join_lines(plan_text(small))
            assert anti and any("BroadcastHashJoin" in ln for ln in anti), (
                f"{op.__name__}: flagged-set anti-join lost its gated broadcast"
            )
            small_ids = sorted(r["doc_id"] for r in small.collect())

            big = op(corpus, heldout, broadcast_row_cap=0, **kw)
            anti = _anti_join_lines(plan_text(big))
            assert anti and not any("BroadcastHashJoin" in ln for ln in anti), (
                f"{op.__name__}: hint survived the size gate"
            )
            assert sorted(r["doc_id"] for r in big.collect()) == small_ids
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        release_caches()


def test_image_meta_is_map_only(spark):
    """The multimodal header parser must stay a single scan +
    Arrow-batched mapInPandas — zero exchanges at any corpus size."""
    import re

    from python_stream_processing_framework_spark.plans import plan_text

    df = q("image_meta", spark)
    t = plan_text(df)
    assert not re.search(r"\(\d+\) Exchange\b", t)
    assert "MapInPandas" in t or "mapInPandas" in t.lower()


def test_semantic_decontaminate_not_quadratic(spark):
    """The semantic decontamination cross-join must be an equi-join
    on band keys (plus the anti-join), never a cartesian."""
    df = q("semantic_decontaminate", spark)
    assert_no_cartesian(df)


def test_doc_novelty_no_gram_scale_join(spark):
    """ngram_novelty's 100-TB contract: the gram table is aggregated
    (twice) but never JOINED at gram scale — the only join is the
    doc-level totals-x-novel merge. A SortMergeJoin keyed on the gram
    hash would mean a corpus-sized join-back snuck in."""
    from python_stream_processing_framework_spark.plans import plan_text

    df = q("doc_novelty", spark)
    t = plan_text(df)
    assert_no_cartesian(df)
    join_lines = [
        ln for ln in t.splitlines() if "Join" in ln and "BuildSide" not in ln
    ]
    assert join_lines, "expected the doc-level merge join"
    assert not any("_g" in ln for ln in join_lines), (
        f"gram-keyed join found — the gram table must only aggregate: "
        f"{join_lines}"
    )


def test_source_overlap_dedups_before_self_join(spark):
    """source_overlap's contract: the self-join input is the DISTINCT
    (source, gram) frame — an aggregate must sit strictly below the
    gram-keyed join on both sides (corpus mass collapses to
    vocabulary mass first), and the totals join is broadcast."""
    from python_stream_processing_framework_spark.operators.common import (
        release_caches,
    )
    from python_stream_processing_framework_spark.plans import plan_text

    df = q("source_overlap", spark)
    try:
        t = plan_text(df)
        assert_no_cartesian(df)
        # the pinned distinct frame feeds both join sides as a cached
        # scan: the join reads InMemory scans, not raw exploded grams.
        # (At smoke SF the tiny side broadcasts; at scale it
        # sort-merges — either way it must be keyed on the gram hash.)
        assert "Join" in t and "_g" in t, "expected the gram-keyed self-join"
        assert "InMemoryTableScan" in t or "TableCacheQueryStage" in t, (
            "distinct (source, gram) frame must be pinned (materialize)"
        )
        assert "BroadcastHashJoin" in t, "totals join must broadcast"
        # both gram-join inputs must be aggregates of the cached
        # distinct frame, never the raw exploded gram stream: the
        # explode feeds exactly one plan node chain (inside the
        # InMemoryRelation), not a join side
        assert t.count("Generate explode") <= 1, (
            "exploded grams must exist only inside the pinned frame"
        )
    finally:
        release_caches()


def test_unimax_reduces_before_window_math(spark):
    """unimax_allocation's contract: the corpus collapses through one
    partial-aggregable per-stratum sum BEFORE any window function —
    window exchanges must sit above an aggregate, so the single-
    partition window only ever sees strata-bounded metadata."""
    from python_stream_processing_framework_spark.plans import plan_text

    df = q("unimax_allocation", spark)
    t = plan_text(df)
    lines = t.splitlines()
    win = [i for i, ln in enumerate(lines) if "Window" in ln]
    agg = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    assert win and agg
    # formatted plans print operators top-down: every Window node must
    # appear ABOVE (smaller index than) some aggregate feeding it
    assert max(agg) > min(win), (
        "expected the per-stratum aggregate below the window operators"
    )


def test_unigram_viterbi_corpus_never_rejoined(spark):
    """unigram_vocab's 100-TB contract (operators/unigram.py): after
    the one corpus pass, every EM round runs on the vocabulary-bounded
    word table — the ONLY joins are piece-keyed (span candidates x
    vocab scores), the Viterbi DP itself is a map-side fold (no
    position- or score-keyed join anywhere), and nothing goes
    cartesian."""
    from python_stream_processing_framework_spark.operators.unigram import (
        unigram_word_table,
        viterbi_segment,
    )
    from python_stream_processing_framework_spark.plans import plan_text

    docs = spark.createDataFrame(
        [(1, "abab cd cd"), (2, "ab ab cd")], "doc_id bigint, text string"
    )
    words = unigram_word_table(docs, "text", max_word_len=8)
    vocab = spark.createDataFrame(
        [("a", -5), ("b", -7), ("ab", -9), ("c", -4), ("d", -4)],
        "piece string, logp_nano bigint",
    )
    df = viterbi_segment(words, vocab, max_piece_len=2)
    assert_no_cartesian(df)
    t = plan_text(df)
    key_lines = [
        ln
        for ln in t.splitlines()
        if "Left keys" in ln or "Right keys" in ln
    ]
    assert key_lines, "expected the piece-keyed candidate join"
    assert all("piece" in ln for ln in key_lines), (
        f"non-piece-keyed join found in the EM round: {key_lines}"
    )


def test_unigram_train_rounds_lineage_truncated(spark):
    """Each EM round checkpoints its vocabulary: the returned frame
    must be a leaf — a plan that
    still chains the whole seed + EM lattice would compound per-round
    analysis cost at real merge counts."""
    from python_stream_processing_framework_spark.operators.unigram import (
        unigram_train,
    )
    from python_stream_processing_framework_spark.plans import plan_text

    docs = spark.createDataFrame([(1, "ab ab cd")], "doc_id bigint, text string")
    v = unigram_train(
        docs, "text", seed_size=2, max_piece_len=2, max_word_len=4, em_rounds=1
    )
    t = plan_text(v)
    assert "Join" not in t and "ExistingRDD" in t, (
        "unigram_train must return a checkpointed leaf, not the live "
        "training lattice"
    )


def test_unigram_encode_joins_word_table_not_dp(spark):
    """unigram_token_counts / source_fertility's 100-TB contract: the
    corpus-side join is ONE hash join keyed on `word` against the
    distinct-word piece-count table — the Viterbi DP never rides the
    corpus scan (it lives behind the word-table aggregate), and no
    join goes cartesian."""
    from python_stream_processing_framework_spark.plans import plan_text

    for name in ("unigram_token_counts", "source_fertility"):
        df = q(name, spark)
        assert_no_cartesian(df)
        t = plan_text(df)
        key_lines = [
            ln
            for ln in t.splitlines()
            if "Left keys" in ln or "Right keys" in ln
        ]
        assert key_lines, f"{name}: expected join key lines"
        assert all(
            "word" in ln or "piece" in ln for ln in key_lines
        ), f"{name}: join not keyed on word/piece: {key_lines}"


def test_drift_scores_batch_prunes_reference_by_semi_join(spark, tmp_path):
    """Stream.monitor_drift's 100-TB contract: the corpus-vocabulary
    reference table is pruned to the batch's vocabulary by a semi-join
    BEFORE the compare join — the big side must never be broadcast
    wholesale or shuffled unpruned."""
    from python_stream_processing_framework_spark.operators.common import (
        release_caches,
    )
    from python_stream_processing_framework_spark.operators.text import (
        drift_scores_batch,
        write_drift_reference,
    )
    from python_stream_processing_framework_spark.plans import plan_text

    ref_path = str(tmp_path / "ref")
    write_drift_reference(
        spark.createDataFrame([("a a b b",)], "text string"), ref_path
    )
    batch = spark.createDataFrame(
        [("s1", "a b c")], "source string, text string"
    )
    df = drift_scores_batch(batch, ref_path)
    try:
        t = plan_text(df)
        assert_no_cartesian(df)
        assert "LeftSemi" in t, "reference prune semi-join missing"
    finally:
        release_caches()


def test_probe_gradient_round_is_one_narrow_exchange(spark):
    """linear_probe_train's 100-TB contract (SCALE.md): a GD round is
    ONE corpus scan feeding ONE dim-keyed exchange (64 reduce rows,
    map-side partials) — residuals are literal expressions, the model
    never rides a row, no join anywhere in the round."""
    from python_stream_processing_framework_spark.operators.probe import (
        _dot_nano_all,
        quantize_features,
    )

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q_ = quantize_features(df, "embedding").select(
        F.col("label").cast("long").alias("_y"), "_xq"
    )
    w = {0: [1] * 64}
    resid = q_.select(
        "_xq",
        (
            _dot_nano_all(w, [0])[0]
            - F.when(F.col("_y") == 0, F.lit(10**9)).otherwise(F.lit(0))
            .cast("long")
        ).alias("_r0"),
    )
    grads = (
        resid.select(F.posexplode("_xq").alias("_dim", "_x"), "_r0")
        .groupBy("_dim")
        .agg(
            F.sum(
                F.col("_r0").cast("decimal(18,0)")
                * F.col("_x").cast("decimal(18,0)")
            ).alias("_g0")
        )
    )
    assert_no_cartesian(grads)
    assert count_exchanges(grads) == 1
    from python_stream_processing_framework_spark.plans import plan_text

    assert "Join" not in plan_text(grads)


def test_probe_predict_is_pure_map(spark):
    """Serving a trained probe is shuffle-free: argmax over literal
    dot products, no join, zero exchanges."""
    from python_stream_processing_framework_spark.operators.probe import (
        linear_probe_predict,
    )

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    w = spark.createDataFrame(
        [(c, j, (c + 1) * (j + 1)) for c in range(3) for j in range(64)],
        "label bigint, dim int, w_nano bigint",
    )
    out = linear_probe_predict(df, w, "embedding")
    assert count_exchanges(out) == 0
    from python_stream_processing_framework_spark.plans import plan_text

    assert "Join" not in plan_text(out)


def test_wordpiece_encode_joins_word_table_not_walk(spark):
    """wordpiece_segment_counts' 100-TB contract: the corpus-side
    join is ONE hash join keyed on `word` against the distinct-word
    segmentation; the greedy walk and the lattice join live behind
    the word-table aggregate (keys word/form/piece only); nothing
    goes cartesian."""
    from python_stream_processing_framework_spark.plans import plan_text

    df = q("wordpiece_token_counts", spark)
    assert_no_cartesian(df)
    t = plan_text(df)
    key_lines = [
        ln for ln in t.splitlines() if "Left keys" in ln or "Right keys" in ln
    ]
    assert key_lines, "expected join key lines"
    assert all(
        "word" in ln or "form" in ln or "piece" in ln for ln in key_lines
    ), f"join not keyed on word/form/piece: {key_lines}"


def test_paragraph_near_dedup_no_cartesian(spark):
    """dedup_paragraphs_near composes LSH banding + components + the
    shared rebuild: every join is keyed (band values, composite ids,
    doc ids) — nothing may go cartesian at any stage."""
    assert_no_cartesian(q("paragraph_dedup_near", spark))


def test_charclf_predict_broadcasts_model_single_id_shuffle(spark):
    """charclf_predict's 100-TB contract (r15): the gram stream
    broadcast-joins the label-pivoted model (bounded by observed
    buckets x labels) and pays ONE id-keyed shuffle for the per-label
    sums; priors/argmax are driver-literal map expressions. No
    cartesian anywhere; the only non-broadcast exchanges are the
    id-keyed aggregate and the bare-id zero-gram restore join."""
    from python_stream_processing_framework_spark.operators.charclf import (
        charclf_predict,
        charclf_train,
    )
    from python_stream_processing_framework_spark.plans import plan_text

    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    model = charclf_train(
        df.limit(50), "doc_id", "text", "lang", n=3, n_buckets=128
    )
    out = charclf_predict(df, model, "doc_id", "text", n=3, n_buckets=128)
    assert_no_cartesian(out)
    assert_broadcast_join(out)
    txt = plan_text(out)
    # the corpus-scale gram stream must reach its aggregate through a
    # hashpartitioning on the doc id, never a label-keyed shuffle
    assert "hashpartitioning(doc_id" in txt


def test_maximal_dup_spans_narrow_rows_no_cartesian(spark):
    """maximal_duplicate_spans' scale shape (r15): pairing is the
    per-gram struct-min (partial-aggregable groupBy), never an
    occurrence self-join — no cartesian product, and the gram rows
    that shuffle carry only (id, position, BIGINT hash)."""
    from python_stream_processing_framework_spark.operators.spans import (
        maximal_duplicate_spans,
    )

    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = maximal_duplicate_spans(df, "doc_id", "text", n=13)
    assert_no_cartesian(out)
