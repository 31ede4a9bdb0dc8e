"""Deterministic sampling / split queries with exact DuckDB oracles.

Membership decisions are md5-hash thresholds (operators/sampling.py),
so the oracle reproduces them bit-exactly: same 60-bit hash
(`'0x'||substr(md5(..),1,15)` cast), same Python-side integer
thresholds interpolated into both plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_stream_processing_framework_spark.catalog import load
from python_stream_processing_framework_spark.operators.sampling import (
    HASH_SPACE,
    hash_split,
    split_thresholds,
    stratified_sample,
    weighted_sample,
)
from python_stream_processing_framework_spark.queries.base import query

_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_BOUNDS = split_thresholds(_WEIGHTS)  # [(train, t1), (val, t2), (test, 2^60)]
_FRACTIONS = {"en": 0.5, "de": 0.25}
_DEFAULT_FRACTION = 0.1


def _duck_hash(expr: str, seed: str) -> str:
    return (
        f"CAST('0x' || substr(md5(CAST({expr} AS VARCHAR) || '#{seed}'), 1, 15)"
        " AS BIGINT)"
    )


@query(
    "split_summary",
    f"""
    WITH h AS (
      SELECT lang, n_chars,
             {_duck_hash('doc_id', 's42')} AS hv
      FROM documents)
    SELECT CASE WHEN hv < {_BOUNDS[0][1]} THEN 'train'
                WHEN hv < {_BOUNDS[1][1]} THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total
    FROM h GROUP BY 1, 2
    """,
    doc="Deterministic 80/10/10 train/val/test split of the corpus by "
    "id-hash threshold (operators/sampling.hash_split): per split x lang "
    "doc and char counts. Map-only decision — no shuffle beyond the "
    "summary groupBy; membership stable across runs/partitionings, "
    "unlike randomSplit.",
)
def split_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load(spark, sf_dir, "documents")
    return (
        hash_split(documents, "doc_id", _WEIGHTS, seed="s42")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
        )
    )


@query(
    "stratified_sample_docs",
    f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE {_duck_hash('doc_id', 's7')} <
          CASE lang WHEN 'en' THEN {int(_FRACTIONS['en'] * HASH_SPACE)}
                    WHEN 'de' THEN {int(_FRACTIONS['de'] * HASH_SPACE)}
                    ELSE {int(_DEFAULT_FRACTION * HASH_SPACE)} END
    """,
    doc="Per-language stratified downsample (50% en, 25% de, 10% rest) "
    "by id-hash threshold — deterministic, nested (a 10% sample is a "
    "subset of the 50% sample at the same seed), zero-shuffle.",
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load(spark, sf_dir, "documents")
    return stratified_sample(
        documents,
        "lang",
        _FRACTIONS,
        "doc_id",
        default_fraction=_DEFAULT_FRACTION,
        seed="s7",
    ).select("doc_id", "lang", "n_chars")


@query(
    "weighted_sample_docs",
    f"""
    WITH h AS (
      SELECT doc_id, lang, n_chars,
             CAST(ROUND((ln(({_duck_hash('doc_id', 'w11')} + 1)
                         / {float(HASH_SPACE)!r})
                        / CAST(n_chars AS DOUBLE)) * 1000000.0)
                  AS BIGINT) AS es_key_micro
      FROM documents
      WHERE CAST(n_chars AS DOUBLE) > 0.0)
    SELECT doc_id, lang, n_chars, es_key_micro
    FROM h
    ORDER BY es_key_micro DESC, doc_id
    LIMIT 100
    """,
    doc="Length-proportional weighted sample without replacement "
    "(Efraimidis-Spirakis A-ES, operators/sampling.weighted_sample): "
    "100 documents drawn with probability proportional to n_chars via "
    "the key ln(u)/w on a deterministic md5 unit hash, quantized to "
    "integer micro-units for engine-exact replay. Map-only key inside "
    "the scan + TakeOrderedAndProject top-k — no full sort at 100 TB.",
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load(spark, sf_dir, "documents")
    return weighted_sample(documents, "doc_id", "n_chars", 100, seed="w11").select(
        "doc_id", "lang", "n_chars", "es_key_micro"
    )
