"""Tokenizer training on a corpus, both published lineages side by
side — BPE (Sennrich et al. 2016, the GPT lineage) and unigram-LM
(Kudo 2018, the T5/mT5/LLaMA-adjacent SentencePiece model) — then the
number a data pipeline actually budgets with: fertility (pieces per
word) under each learned vocabulary, batch and streaming.

Run: python examples/tokenizer_training.py [sf_dir]
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from python_stream_processing_framework_spark.catalog import load
from python_stream_processing_framework_spark.operators.bpe import (
    bpe_segment_counts,
    bpe_train,
)
from python_stream_processing_framework_spark.operators.common import release_caches
from python_stream_processing_framework_spark.operators.unigram import (
    unigram_segment_counts,
    unigram_train,
)
from python_stream_processing_framework_spark.session import get_spark


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    spark = get_spark("tokenizer-training")
    (docs,) = load(spark, sf_dir, "documents")

    # --- BPE: 8 merges, one collect of the word table then a
    # driver-side merge loop
    merges = bpe_train(docs, "text", n_merges=8)
    top = [(r["left"], r["right"]) for r in merges.orderBy("merge_idx").collect()]
    print(f"BPE merges learned: {top}")
    bpe_counts = bpe_segment_counts(docs, "doc_id", "text", merges)

    # --- unigram-LM: seed chars + top-24 substrings, 2 Viterbi-EM
    # rounds; corpus-flat after the one word-frequency pass
    vocab = unigram_train(
        docs, "text", seed_size=24, max_piece_len=3, max_word_len=10,
        em_rounds=2,
    )
    pieces = sorted(r["piece"] for r in vocab.collect())
    print(f"unigram vocabulary ({len(pieces)} pieces): {pieces[:16]}...")
    uni_counts = unigram_segment_counts(
        docs, "doc_id", "text", vocab, max_piece_len=3, max_word_len=10
    )

    # --- fertility: mean pieces per word, the budget planner's number
    def fertility(counts) -> float:
        row = counts.agg(
            F.sum("n_pieces").alias("p"), F.sum("n_words").alias("w")
        ).head()
        return row["p"] / row["w"]

    f_bpe, f_uni = fertility(bpe_counts), fertility(uni_counts)
    print(f"fertility: BPE {f_bpe:.2f} pieces/word, unigram {f_uni:.2f}")
    assert f_bpe >= 1.0 and f_uni >= 1.0  # a word is >= 1 piece

    # --- the same meter on a live feed: Stream.tokenize persists the
    # trained vocabulary once and meters every micro-batch
    from python_stream_processing_framework_spark.streaming import Stream

    work = tempfile.mkdtemp(prefix="tokenizer-")
    stream = Stream(spark, f"{work}/broker")
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream.tokenize(
        "docs", schema, vocab=vocab, max_piece_len=3, max_word_len=10
    )
    sample = [
        {"doc_id": int(r["doc_id"]), "text": r["text"]}
        for r in docs.limit(3).collect()
    ]
    stream.emit("docs", *sample)
    stream.run_until_idle()
    out_schema = StructType(
        [
            StructField("batch_seq", LongType()),
            StructField("doc_id", LongType()),
            StructField("n_words", LongType()),
            StructField("n_pieces", LongType()),
        ]
    )
    metered = {
        r["doc_id"]: r["n_pieces"]
        for r in stream.read_topic("docs-tokens", out_schema).collect()
    }
    batch = {
        r["doc_id"]: r["n_pieces"]
        for r in uni_counts.filter(
            F.col("doc_id").isin(list(metered))
        ).collect()
    }
    assert metered == batch  # stream meter == batch query, exactly
    print(f"streamed token meter matches batch for {len(metered)} docs")

    release_caches()
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
